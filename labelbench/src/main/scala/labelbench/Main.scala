package labelbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** The benchmark's JVM side: one closed-loop client that sends the
  * workload's requests one at a time, each a call of a query function
  * from `graft.SparkEntry.queries` whose whole result is then consumed.
  *
  * Arguments are `key=value` pairs (see run.py, which starts this JVM):
  *  - `mode=setup`: build the session, write the time it was ready, exit;
  *  - `mode=run`: cold pass, whose results and the requests' oracle SQL
  *    are written under `out` for the oracle check, then whole steady
  *    passes that fit in `seconds`, the first a warm-up; with `trace=1`
  *    the counted passes alternate between traced and untraced, and the
  *    module stages run.
  *
  * Everything measured goes to `out/result.json`; run.py turns it into
  * the metrics and checks the results against the DuckDB oracle. */
object Main {

  val RequestProperty = "labelbench.request"

  /** The engine's benchmark session: `local[cores]`, shuffle partitions
    * = cores, object-hash fallback threshold 1e6, UI off, UTC, and the
    * engine's optimizer rule through the experimental hook. */
  def session(cores: Int, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", localDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.experimental.extraOptimizations = Seq(graft.plans.PushFilterThroughExplode)
    spark
  }

  /** Consumes the whole result of `df`: plans it, then collects every row
    * to the client, which is what a caller of the label mapper receives.
    * Column pruning cannot skip work the result needs. Returns (plan
    * seconds, exec seconds, the planned query, the rows). */
  def consume(df: DataFrame): (Double, Double, QueryExecution, Array[Row]) = {
    val qe = df.queryExecution
    val t0 = System.nanoTime()
    qe.executedPlan
    val t1 = System.nanoTime()
    val rows = df.collect() // runs the query execution planned above
    ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9, qe, rows)
  }

  /** In-memory table scans in a physical plan, through adaptive and
    * query-stage wrappers and subqueries. */
  def cacheScans(plan: SparkPlan): Int = plan match {
    case a: AdaptiveSparkPlanExec => cacheScans(a.executedPlan)
    case s: QueryStageExec => cacheScans(s.plan)
    case s: InMemoryTableScanExec => 1 + s.subqueries.map(cacheScans).sum
    case p => (p.children ++ p.subqueries).map(cacheScans).sum
  }

  /** Old-generation occupancy after the last collection. */
  def oldGenAfterGcBytes(): Long =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.getName.toLowerCase.contains("old"))
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum

  /** Old-generation bytes still live once the passes are done. A full
    * collection only finds the broadcasts, shuffles and cached blocks the
    * passes dropped; Spark's ContextCleaner releases them afterwards, and
    * until then one reading moves by tens of MB with its timing. So:
    * full collections with a pause for the cleaner between them, until
    * two readings agree within 1 MiB (at most eight). */
  def settledOldGenBytes(): Long = {
    System.gc()
    var last = oldGenAfterGcBytes()
    var rounds = 1
    var settled = false
    while (!settled && rounds < 8) {
      Thread.sleep(300)
      System.gc()
      val now = oldGenAfterGcBytes()
      settled = math.abs(now - last) < (1L << 20)
      last = now
      rounds += 1
    }
    last
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  def codegenCount(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Mean compile time of the histogram's current sample, in seconds;
    * times the count delta it estimates the compile time of a request. */
  def codegenMeanSeconds(): Double = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean / 1e3

  /** (steal, busy) CPU ticks of the machine so far, from the first line
    * of /proc/stat. Busy ticks are those a CPU was wanted: user, nice,
    * system, irq, softirq and steal. (0, 0) where /proc/stat is missing. */
  def cpuTicks(): (Long, Long) = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val t = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
    (t(7), t(0) + t(1) + t(2) + t(5) + t(6) + t(7))
  } catch { case _: Exception => (0L, 0L) }

  /** `wall` seconds net of steal: less the share of the machine's busy
    * ticks between `t0` and `t1` that the hypervisor gave to other guests.
    * On a shared host that share moves between runs by tens of percent
    * and stretches every wall time with it; run.py prints both. */
  def netOfSteal(wall: Double, t0: (Long, Long), t1: (Long, Long)): Double = {
    val busy = t1._2 - t0._2
    if (busy <= 0) wall else wall * (1 - (t1._1 - t0._1).toDouble / busy)
  }

  def main(args: Array[String]): Unit = {
    val conf = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val out = conf("out")
    Files.createDirectories(Paths.get(out))
    val cores = conf("cores").toInt
    val spark = session(cores, conf("localDir"))
    val readyNs = java.time.Instant.now()
    val readyEpochS = readyNs.getEpochSecond + readyNs.getNano / 1e9
    val readyTicks = cpuTicks()
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    def writeResult(m: Map[String, Any]): Unit =
      Files.writeString(Paths.get(out, "result.json"), mapper.writeValueAsString(m))
    if (conf("mode") == "setup") {
      writeResult(Map("ready_epoch_s" -> readyEpochS, "ready_ticks" -> readyTicks.productIterator.toSeq))
      // nothing of the session outlives the process; run.py removes its files
      Runtime.getRuntime.halt(0)
    }

    val dir = conf("data")
    val seconds = conf("seconds").toDouble
    val traced = conf("trace") == "1"
    val names = conf("requests").split(",").toSeq
    val fns = names.map(n => n -> graft.SparkEntry.queries(n)).toMap
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val sc = spark.sparkContext

    // the cold pass's results: what the oracle check compares
    val coldResults = mutable.Map.empty[String, (DataFrame, Array[Row])]

    /** One request: build, plan, exec. Failures are recorded, not thrown. */
    def request(pass: Int, name: String): Map[String, Any] = {
      val id = s"$pass/$name"
      sc.setLocalProperty(RequestProperty, id)
      tracer.foreach(_.begin(id))
      val cg0 = codegenCount()
      val gc0 = gcSeconds()
      val ticks0 = cpuTicks()
      val t0 = System.nanoTime()
      val rec = try {
        val df = fns(name)(spark, dir)
        val built = (System.nanoTime() - t0) / 1e9
        val (plan, exec, qe, rows) = consume(df)
        if (pass == 0) coldResults(name) = (df, rows)
        val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs / 1e3 }
        tracer.foreach(_.phases(id, built, plan, exec))
        Map("ok" -> true, "build_s" -> built, "plan_s" -> plan, "exec_s" -> exec,
          "phases" -> phases)
      } catch {
        case e: Throwable => Map("ok" -> false, "error" -> s"${e.getClass.getName}: ${e.getMessage}".take(500))
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val net = netOfSteal(wall, ticks0, cpuTicks())
      val cg = codegenCount() - cg0
      tracer.foreach(_.end(id))
      sc.setLocalProperty(RequestProperty, null)
      rec ++ Map("id" -> id, "name" -> name, "pass" -> pass, "wall_s" -> wall,
        "net_s" -> net, "codegen_compiles" -> cg, "codegen_compile_s" -> cg * codegenMeanSeconds(),
        "gc_s" -> (gcSeconds() - gc0))
    }

    /** One pass over every request, always in the workload's order: the
      * order decides which generated classes the engine's codegen cache
      * (100 entries, fewer than a label_map pass makes) still holds, and
      * a seeded order per pass moved a pass's compiles between 6 and 79
      * and its time by 30%. A full collection follows, untimed, so no pass
      * inherits another's garbage. */
    def runPass(pass: Int): Map[String, Any] = {
      val ticks0 = cpuTicks()
      val t0 = System.nanoTime()
      val recs = names.map(request(pass, _))
      val wall = (System.nanoTime() - t0) / 1e9
      val net = netOfSteal(wall, ticks0, cpuTicks())
      System.gc()
      Map("pass" -> pass, "wall_s" -> wall, "net_s" -> net, "requests" -> recs)
    }

    tracer.foreach(_.install())
    val cold = runPass(0)
    tracer.foreach(_.uninstall())

    // untimed: the cold pass's full results for the oracle check, with
    // the oracle SQL read after the calls, since model-in-the-loop
    // queries freeze their fitted state while they run
    val cacheScanCount = coldResults.map { case (n, (df, _)) =>
      n -> cacheScans(df.queryExecution.executedPlan) }.toMap
    coldResults.foreach { case (n, (df, rows)) =>
      spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
        .write.parquet(s"$out/results/$n")
    }
    coldResults.clear()
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => fns.contains(k) }
    Files.writeString(Paths.get(out, "oracle_sql.json"), mapper.writeValueAsString(oracle))

    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val steadyStart = System.nanoTime()
    var pass = 1
    // whole passes, each started only if it should end within `seconds` at
    // the mean pass time so far, and three at least. The first is a warm-up
    // that run.py does not count: the JIT is still compiling what the cold
    // pass ran, and that pass held most of the slowest samples. Two counted
    // passes keep the median off single samples and give the traced run one
    // traced and one untraced pass.
    def elapsed = (System.nanoTime() - steadyStart) / 1e9
    while (pass <= 3 || elapsed + elapsed / (pass - 1) <= seconds) {
      val tracedPass = tracer.isDefined && pass % 2 == 0
      if (tracedPass) tracer.get.install()
      val rec = runPass(pass)
      if (tracedPass) tracer.get.uninstall()
      passes += rec ++ Map("warmup" -> (pass == 1), "traced" -> tracedPass)
      pass += 1
    }
    val steadyWall = (System.nanoTime() - steadyStart) / 1e9
    val liveHeap = settledOldGenBytes()

    val stages = if (traced) Stages.run(spark, dir) else Map.empty[String, Any]
    tracer.foreach(_.writeSpans(s"$out/spans.jsonl"))
    writeResult(Map(
      "ready_epoch_s" -> readyEpochS,
      "ready_ticks" -> readyTicks.productIterator.toSeq,
      "cores" -> cores,
      "cold" -> cold,
      "cache_scans" -> cacheScanCount.toMap,
      "steady" -> Map("wall_s" -> steadyWall, "passes" -> passes.toSeq),
      "live_heap_bytes" -> liveHeap,
      "layers" -> tracer.map(_.perRequest()).getOrElse(Map.empty),
      "stages" -> stages))
    Runtime.getRuntime.halt(0)
  }
}
