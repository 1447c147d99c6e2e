package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet reads with a probed schema.
  *
  * `spark.read.parquet(path)` infers the schema on every call, and the
  * inference runs as a one-task Spark job (`mergeSchemasInParallel`
  * over the footer). A table's schema only changes when its files do,
  * so the probe is held in [[graft.FittedCache]] under the path's
  * fingerprint, and every read passes it back with `.schema(probed)`,
  * which plans without a job. A rewritten table changes its
  * fingerprint and is probed again.
  *
  * The key also holds the session values of the confs that change what
  * inference returns, so a schema probed under one setting is never
  * served to a read under another. */
object ProbedParquet {

  private val inferenceConfs = Seq(
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  /** The schema `spark.read.parquet(path)` infers in `spark`'s current
    * conf with `settings`, values of the inference confs, over it,
    * probed once per fingerprint of `path`. A probe under `settings`
    * runs on a clone of `spark`
    * ([[org.apache.spark.sql.graftbridge.isolatedSession]]), so they
    * never reach the caller's conf. */
  def schema(spark: SparkSession, path: String,
      settings: Map[String, String] = Map.empty): StructType = {
    require(settings.keySet.subsetOf(inferenceConfs.toSet),
      s"ProbedParquet.schema: only inference confs can be set, got ${settings.keys.mkString(", ")}")
    graft.FittedCache.get(spark, "ProbedParquet.schema", Seq(path),
        inferenceConfs.map(k => settings.get(k).orElse(spark.conf.getOption(k)))) {
      val probe = if (settings.isEmpty) spark else {
        val clone = org.apache.spark.sql.graftbridge.isolatedSession(spark)
        settings.foreach { case (k, v) => clone.conf.set(k, v) }
        clone
      }
      probe.read.parquet(path).schema
    }
  }

  /** `spark.read.parquet(path)` without the inference job. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schema(spark, path)).parquet(path)
}
