package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test run — Spark session
  * startup dominates suite time otherwise. Built by [[GraftSession]],
  * so the tests run the engine configuration Bench and Verify run. */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.local(2)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
}
