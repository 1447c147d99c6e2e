package graft
/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR
  * and prints ONE JSON line. A query that throws is recorded in
  * "failed" (its timing is time-to-failure) — a scale-only crash must
  * be visible in the bench artifact, not swallowed. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus)
    // Untimed warmup pass: first execution pays JVM/JIT warmup, codegen
    // compilation, Hadoop FS init and parquet footer reads — none of
    // which exist in a long-running cluster. Timed pass below measures
    // steady state. Disable with SPARK_GRAFT_WARMUP=0.
    // dev-loop subset: SPARK_GRAFT_BENCH_ONLY=q01_x,q02_y times just
    // those queries (the driver never sets it — full run)
    val queries = sys.env.get("SPARK_GRAFT_BENCH_ONLY") match {
      case Some(names) =>
        val keep = names.split(",").map(_.trim).toSet
        SparkEntry.queries.filter { case (n, _) => keep(n) }
      case None => SparkEntry.queries
    }
    if (sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") != "0")
      queries.foreach { case (_, fn) =>
        try fn(spark, sfDir).count() catch { case _: Throwable => () }
      }
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    // best-of-N timed passes (default 5): single-pass numbers swing
    // ±30% on sub-second queries from GC/scheduling noise, and at
    // N=2 code-UNCHANGED queries drifted 1.3-1.4× between rounds —
    // too noisy to detect a 30% regression. The min over 5 passes is
    // the standard stable estimator of steady-state cost.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "5").toInt.max(1)
    val passes = (1 to reps).map { _ =>
      queries.map { case (name, fn) =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch {
          case e: Throwable =>
            if (!failed.contains(name)) {
              failed += name
              System.err.println(s"[bench] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
            }
        }
        name -> (System.nanoTime() - t0) / 1e9
      }
    }
    val results = passes.head.keys.map { name =>
      name -> passes.map(_(name)).min
    }.toMap
    // 3-decimal values keep the single JSON line compact: the driver
    // captures a bounded stdout tail, and full-precision doubles for
    // 80+ queries overflowed it in round 7 (22 entries lost).
    def fmt(v: Double): String = f"$v%.3f"
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"failed":$failedJson,"sf":"$sfDir"}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(2)
  }
}
