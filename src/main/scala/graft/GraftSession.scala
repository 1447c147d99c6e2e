package graft

import org.apache.spark.sql.SparkSession

/** The one way to build the engine's session: Bench, Verify, the test
  * suite and the tools all run this configuration.
  *
  * The object-hash fallback threshold is raised because
  * TypedImperativeAggregate (TopKByScoreAgg) runs on
  * ObjectHashAggregateExec, which falls back to SORT-based aggregation
  * after 128 distinct keys per partition by default — re-introducing
  * exactly the candidate-list sort the aggregate exists to avoid
  * (measured 6x on the top-k matcher at 8x data). States are ~100-byte
  * bounded heaps, so a high threshold is safe. [[graft.functions.GraftExtensions]]
  * injects the `graft_*` SQL functions and the
  * [[graft.plans.PushFilterThroughExplode]] optimizer rule.
  *
  * `getOrCreate` semantics: when a session is already active in the
  * JVM it is returned as is, and these settings do not apply to it. */
object GraftSession {
  def local(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", classOf[graft.functions.GraftExtensions].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
