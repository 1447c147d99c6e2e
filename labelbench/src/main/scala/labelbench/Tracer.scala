package labelbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and per-request counters of the traced run, kept in memory and
  * written out when the run ends.
  *
  * A request's id (`pass/name`) is set by the client as a Spark local
  * property before the query function is called, so every job the
  * request submits, including stream micro-batches on threads it starts,
  * carries it. Stages and tasks inherit the id from their job; streams
  * from the request that was current when they started (that event is
  * delivered synchronously); SQL executions from their jobs. */
final case class Span(trace: String, id: Long, parent: Long, name: String,
    startMs: Double, endMs: Double, attrs: Map[String, Any])

final class Tracer(spark: SparkSession) {

  final class Counters {
    var jobs, stages, tasks, scanTasks = 0L
    var taskRunMs, taskCpuNs, taskGcMs = 0L
    var inputBytes, inputRecords, shuffleWrite, shuffleRead, spill = 0L
    var sqlExecutions = 0L
    var analysisMs, optimizerMs, planningMs = 0L
    val batchMs = mutable.ArrayBuffer.empty[Long]
    var streamInputRows, commitMs = 0L
    val lastState = mutable.Map.empty[java.util.UUID, (Long, Long, Long)]
  }

  private val nextId = new AtomicLong(1)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val counters = new ConcurrentHashMap[String, Counters]()
  private val requestSpan = new ConcurrentHashMap[String, Long]()
  private val stageRequest = new ConcurrentHashMap[Int, String]()
  private val jobSpans = new ConcurrentHashMap[Int, (String, Long, Long)]()
  private val execRequest = new ConcurrentHashMap[Long, String]()
  private val runRequest = new ConcurrentHashMap[java.util.UUID, String]()
  private val runsOpen = ConcurrentHashMap.newKeySet[java.util.UUID]()
  private val clientTimes = new ConcurrentHashMap[String, (Double, Double)]()
  private val fenceJobs = ConcurrentHashMap.newKeySet[Int]()
  @volatile private var current: String = null
  @volatile private var fenceSeen = false
  @volatile private var active = false

  private def nowMs: Double = System.currentTimeMillis().toDouble
  private def count(req: String): Counters = counters.computeIfAbsent(req, _ => new Counters)
  private def span(req: String, parent: Long, name: String, start: Double, end: Double,
      attrs: Map[String, Any] = Map.empty): Long = {
    val id = nextId.getAndIncrement()
    spans.add(Span(req, id, parent, name, start, end, attrs))
    id
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val req = Option(e.properties).map(_.getProperty(Main.RequestProperty)).orNull
      if (req == "fence") fenceJobs.add(e.jobId)
      if (req == null || req == "fence") return
      val c = count(req)
      c.synchronized { c.jobs += 1 }
      e.stageInfos.foreach(s => stageRequest.put(s.stageId, req))
      Option(e.properties.getProperty("spark.sql.execution.id"))
        .foreach(x => execRequest.put(x.toLong, req))
      jobSpans.put(e.jobId, (req, e.time, nextId.getAndIncrement()))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobSpans.remove(e.jobId)) match {
        case Some((req, start, id)) =>
          spans.add(Span(req, id, requestSpan.getOrDefault(req, 0L), s"job ${e.jobId}",
            start.toDouble, e.time.toDouble, Map("result" -> e.jobResult.toString)))
        case None => if (fenceJobs.remove(e.jobId)) fenceSeen = true
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(stageRequest.get(e.stageInfo.stageId)).foreach { req =>
        val c = count(req); c.synchronized { c.stages += 1 }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val req = stageRequest.get(e.stageId)
      if (req == null || e.taskMetrics == null) return
      val m = e.taskMetrics
      val c = count(req)
      c.synchronized {
        c.tasks += 1
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.taskGcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRecords += m.inputMetrics.recordsRead
        if (m.inputMetrics.recordsRead > 0) c.scanTasks += 1
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, durationNs, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
      record(funcName, qe, 0L, ok = false)
    private def record(funcName: String, qe: QueryExecution, durationNs: Long, ok: Boolean): Unit = {
      val phases = qe.tracker.phases
      val start = phases.values.map(_.startTimeMs).minOption.getOrElse(0L).toDouble
      // executions without a job (local relations) fall back to the
      // client's request window that contains their planning start
      val req = Option(execRequest.get(qe.id)).orElse(clientTimes.asScala.collectFirst {
        case (r, (s, e)) if start >= s && start <= e => r
      }).orNull
      if (req == null) return
      val c = count(req)
      def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
      c.synchronized {
        c.sqlExecutions += 1
        c.analysisMs += ms("analysis"); c.optimizerMs += ms("optimization"); c.planningMs += ms("planning")
      }
      span(req, requestSpan.getOrDefault(req, 0L), s"sql $funcName", start,
        start + durationNs / 1e6, Map("ok" -> ok, "execution_id" -> qe.id,
          "phases_ms" -> phases.map { case (k, v) => k -> v.durationMs }))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      val req = current
      if (req != null) { runRequest.put(e.runId, req); runsOpen.add(e.runId) }
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val req = runRequest.get(p.runId)
      if (req == null) return
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val trigger = d.getOrElse("triggerExecution", 0L)
      val ops = p.stateOperators.toSeq
      val c = count(req)
      c.synchronized {
        c.batchMs += trigger
        c.streamInputRows += p.numInputRows
        c.commitMs += ops.map(_.commitTimeMs).sum
        if (ops.nonEmpty) c.lastState(p.runId) = (ops.map(_.numRowsTotal).sum,
          ops.map(_.memoryUsedBytes).sum, ops.map(_.numShufflePartitions).max)
      }
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      span(req, requestSpan.getOrDefault(req, 0L), s"batch ${p.batchId}", start, start + trigger,
        Map("input_rows" -> p.numInputRows, "duration_ms" -> d.toMap,
          "state_rows" -> ops.map(_.numRowsTotal).sum))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      runsOpen.remove(e.runId)
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    active = true
  }

  /** Waits until every event of the traced requests has been delivered,
    * then removes the listeners. A fence job is the last event on the
    * listener queue; a stream's last event is its termination. */
  def uninstall(): Unit = {
    fenceSeen = false
    val sc = spark.sparkContext
    sc.setLocalProperty(Main.RequestProperty, "fence")
    sc.parallelize(Seq(1), 1).foreach(_ => ())
    sc.setLocalProperty(Main.RequestProperty, null)
    val deadline = System.nanoTime() + 30000000000L
    while ((!fenceSeen || !runsOpen.isEmpty) && System.nanoTime() < deadline) Thread.sleep(5)
    active = false
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(queryListener)
    sc.removeSparkListener(sparkListener)
  }

  private val clientStart = mutable.Map.empty[String, Double]

  def begin(req: String): Unit = if (active) {
    current = req
    clientStart(req) = nowMs
    requestSpan.put(req, nextId.getAndIncrement())
  }

  def end(req: String): Unit = if (active) {
    current = null
    clientTimes.put(req, (clientStart(req), nowMs))
  }

  /** Client-side child spans of a request: build, plan, exec. */
  def phases(req: String, buildS: Double, planS: Double, execS: Double): Unit = if (active) {
    val parent = requestSpan.get(req)
    var t = clientStart(req)
    Seq("build" -> buildS, "plan" -> planS, "exec" -> execS).foreach { case (n, s) =>
      span(req, parent, n, t, t + s * 1e3)
      t += s * 1e3
    }
  }

  /** Per-request layer counters, keyed by request id. */
  def perRequest(): Map[String, Map[String, Any]] =
    counters.asScala.map { case (req, c) =>
      req -> Map[String, Any](
        "driver.jobs" -> c.jobs, "driver.stages" -> c.stages,
        "tasks.count" -> c.tasks, "tasks.run_s" -> c.taskRunMs / 1e3,
        "tasks.cpu_s" -> c.taskCpuNs / 1e9, "tasks.gc_s" -> c.taskGcMs / 1e3,
        "sources.input_bytes" -> c.inputBytes, "sources.input_records" -> c.inputRecords,
        "sources.scan_tasks" -> c.scanTasks,
        "shuffle.write_bytes" -> c.shuffleWrite, "shuffle.read_bytes" -> c.shuffleRead,
        "shuffle.spill_bytes" -> c.spill,
        "sql.executions" -> c.sqlExecutions,
        "sql.analysis_s" -> c.analysisMs / 1e3, "sql.optimizer_s" -> c.optimizerMs / 1e3,
        "sql.planning_s" -> c.planningMs / 1e3,
        "streaming.batch_ms" -> c.batchMs.toSeq,
        "streaming.input_rows" -> c.streamInputRows,
        "streaming.commit_s" -> c.commitMs / 1e3,
        "streaming.state_rows" -> c.lastState.values.map(_._1).sum,
        "streaming.state_mem_bytes" -> c.lastState.values.map(_._2).sum,
        "streaming.state_partitions" -> c.lastState.values.map(_._3).maxOption.getOrElse(0L))
    }.toMap

  def writeSpans(path: String): Unit = {
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    val requestSpans = clientTimes.asScala.map { case (req, (s, e)) =>
      Span(req, requestSpan.get(req), 0L, "request", s, e, Map.empty)
    }
    val lines = (requestSpans ++ spans.asScala).map { s =>
      mapper.writeValueAsString(Map("trace" -> s.trace, "span" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs, "attrs" -> s.attrs))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.toSeq.asJava)
  }
}
