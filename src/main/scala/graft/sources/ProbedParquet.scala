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
    * conf, probed once per fingerprint of `path`. */
  def schema(spark: SparkSession, path: String): StructType =
    graft.FittedCache.get(spark, "ProbedParquet.schema", Seq(path),
        inferenceConfs.map(spark.conf.getOption)) {
      spark.read.parquet(path).schema
    }

  /** `spark.read.parquet(path)` without the inference job. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schema(spark, path)).parquet(path)
}
