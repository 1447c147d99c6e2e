package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's one reader of a testdata table. */
object Tables {

  /** Table `name` under `dir`. Events' ts column has shipped under two
    * parquet encodings (TIMESTAMP(NANOS) and TIMESTAMP(MICROS,NTZ));
    * [[EventsLoader]] probes the footer and normalizes ts to
    * TimestampType either way. Every table reads with a schema probed
    * once per table version ([[ProbedParquet]]), not inferred by a
    * Spark job on every call. */
  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") EventsLoader.events(spark, dir)
    else ProbedParquet.read(spark, s"$dir/$name.parquet")
}
