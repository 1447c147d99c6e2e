package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.matchers.should.Matchers

/** The test session is the engine's session: the settings Bench and
  * Verify run with, and the extension hook's functions and optimizer
  * rule installed at build time. */
class GraftSessionSpec extends SparkSpec with Matchers {

  test("the test session carries the engine session's settings") {
    val conf = spark.conf
    spark.sparkContext.master shouldBe "local[2]"
    conf.get("spark.sql.shuffle.partitions") shouldBe "2"
    conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") shouldBe "1000000"
    conf.get("spark.sql.session.timeZone") shouldBe "UTC"
    spark.sparkContext.getConf.get("spark.ui.enabled") shouldBe "false"
    conf.get("spark.sql.extensions") shouldBe "graft.functions.GraftExtensions"
  }

  test("graft_dot resolves in spark.sql with no register call") {
    // a new session has its own function registry, so no register
    // call made on the shared session by another spec can leak in
    val fresh = spark.newSession()
    fresh.sql("SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .head().getDouble(0) shouldBe 11.0
  }

  test("the installed optimizer rule pushes a filter on an exploded element") {
    val schema = new StructType()
      .add("doc_id", LongType).add("toks", ArrayType(StringType))
    // RDD-backed, so the optimizer cannot fold the plan into a local relation
    val docs = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, Seq("a", "b", "a")), Row(2L, Seq("x")), Row(3L, Seq("b")))), schema)
    val q = docs.select(col("doc_id"), explode(col("toks")).as("t"))
      .filter(col("t").isin("a", "b"))
    q.queryExecution.optimizedPlan.toString should include ("filter(")
    q.collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted shouldBe
      Seq((1L, "a"), (1L, "a"), (1L, "b"), (3L, "b"))
  }
}
