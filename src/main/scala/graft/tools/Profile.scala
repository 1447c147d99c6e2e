package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics

import graft.{GraftSession, SparkEntry}

/** Per-query profile: for each named SparkEntry query (all of them
  * when none is named), the first call in this JVM and the best of N
  * further calls, each consumed with `count()` as Bench does. The
  * first call carries JVM/JIT warmup, codegen compilation, footer
  * reads and any fitted-state build the query owns; the best-of-N is
  * Bench's steady-state estimator. `compiles` is the number of classes
  * codegen compiled during the best call (`CodegenMetrics`); above 0,
  * the query's warm calls still miss the codegen cache. `jobs` is the
  * number of Spark jobs the best call submitted ([[JobCounter]]), eager
  * actions inside the query function included.
  *
  * Reads Bench's settings: SPARK_GRAFT_SF_DIR (default sf0.1),
  * SPARK_GRAFT_CPUS (default 4) and SPARK_GRAFT_REPS (default 5).
  * Usage: runMain graft.tools.Profile [q…] */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "5").toInt.max(1)
    val unknown = args.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.local(cpus)
    /** (seconds, rows, classes compiled, jobs) of one call. */
    def time(name: String): (Double, Long, Long, Int) = {
      val ((secs, n, compiles), jobs) = JobCounter.count(spark) {
        val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val t0 = System.nanoTime()
        val n = SparkEntry.queries(name)(spark, sfDir).count()
        ((System.nanoTime() - t0) / 1e9, n,
          CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
      }
      (secs, n, compiles, jobs)
    }
    println(f"${"query"}%-32s ${"first"}%8s ${"best"}%8s ${"rows"}%10s ${"compiles"}%8s ${"jobs"}%6s")
    val rows = names.map { name =>
      val (first, n, _, _) = time(name)
      val (best, _, compiles, jobs) = (1 to reps).map(_ => time(name)).minBy(_._1)
      println(f"$name%-32s $first%8.3f $best%8.3f $n%10d $compiles%8d $jobs%6d")
      (first, best)
    }
    println(f"${"TOTAL"}%-32s ${rows.map(_._1).sum}%8.3f ${rows.map(_._2).sum}%8.3f")
    spark.stop()
  }
}
