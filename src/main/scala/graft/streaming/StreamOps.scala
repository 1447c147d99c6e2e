package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{FlatMapGroupsWithState, LogicalPlan}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types._

import graft.sources.Tables

/** Streaming operators over the `events` table (SURVEY.md §2.9).
  *
  * The reference has no streaming; these are the north-star
  * extensions a 100 TB training-data pipeline needs. Batch and
  * streaming share the same declarative aggregation — Structured
  * Streaming runs the identical logical plan incrementally, which is
  * exactly the property [[runHourlyRollupAvailableNow]] demonstrates
  * (its result is oracle-checked against the batch SQL).
  */
object StreamOps {

  /** A directory of single parquet files that share `schema`, replayed
    * in staging order. */
  final case class Staged(path: String, schema: StructType) {
    /** The files as a stream on `spark`, one file per micro-batch. */
    def stream(spark: SparkSession): DataFrame =
      spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$path/*.parquet")
  }

  /** Thrown when the parts given to [[stagedDir]] differ in schema. */
  final class StagedSchemaMismatch(msg: String) extends IllegalArgumentException(msg)

  /** Streaming scan of the events table with `ts` normalized to a
    * proper timestamp (schema-adaptive — see EventsLoader). */
  def eventsStream(spark: SparkSession, dir: String): DataFrame =
    graft.sources.EventsLoader.eventsStream(spark, dir)

  /** State partition floor of a replay whose per-group work is its
    * real work: a per-group fold ([[hasGroupFold]]) or a sink that runs
    * per-batch work the plan does not show.
    *
    * Every stateful operator opens one state store per shuffle
    * partition per micro-batch, and each store writes its own delta,
    * temp and checksum files when it commits; AQE cannot coalesce a
    * streaming shuffle. A replay over megabytes at the session default
    * (= core count) pays partitions × operators × batches commits for
    * state that fits in one partition, so a replay's count comes from
    * its input bytes ([[graft.sources.InputPartitions]]), and a small
    * input runs on one. A fold's per-group compute is the replay's real
    * work and one partition serializes it: at sf0.1 on local[4], q112's
    * HLL fold took 2.86 s at 4 partitions and 4.49 s at 1, while the
    * commit-bound q29 went from 1.44 to 0.94 s and q72 from 3.32 to
    * 2.41 s at 1. So such a replay keeps min(sessionN, 4). Results do
    * not depend on the count: every stateful operator on the board
    * keys its state by a column hash (StreamPartitionSpec replays at 1
    * and 7 partitions and compares the rows). */
  private[graft] val groupParallelFloor = 4

  /** True when `plan` holds a per-group fold: map- and
    * flatMapGroupsWithState both plan to `FlatMapGroupsWithState`. */
  private[graft] def hasGroupFold(plan: LogicalPlan): Boolean =
    plan.find(_.isInstanceOf[FlatMapGroupsWithState]).isDefined

  private val runCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The write option a foreachBatch body's write takes when its frame
    * was built on the caller's session, whose conf does not carry the
    * replay's [[replaySettings]]. */
  private val noSuccessMarker =
    "mapreduce.fileoutputcommitter.marksuccessfuljobs" -> "false"

  /** Settings of every replay's session, each a fixed cost the
    * replay would otherwise pay per call:
    *  - `spark.sql.streaming.checkpointFileManagerClass` =
    *    [[LocalCheckpointFileManager]]: offset, commit and state store
    *    files are written without forking a process per file; the
    *    files, `.crc` sidecars and modes are the ones Spark's default
    *    manager writes. A traced `stream_replay` pass spent 0.44 s in
    *    state commits with the default manager and 0.04 s with this.
    *  - `spark.sql.artifact.isolation.enabled` = false: with isolation
    *    every new session (the replay's clone and the clone Spark makes
    *    per run) gets its own executor class loader, and the codegen
    *    cache, keyed by loader and code, misses on every replay; q29
    *    recompiled 12 classes and q72 26 on each warm call. The engine
    *    adds no session artifacts, so isolation separates nothing.
    *  - `mapreduce.fileoutputcommitter.marksuccessfuljobs` = false:
    *    foreachBatch bodies write one output per micro-batch and nothing
    *    reads their `_SUCCESS` markers. The key reaches every write's
    *    Hadoop conf from the session, so the context's shared
    *    `hadoopConfiguration` is never written. */
  private val replaySettings = Seq(
    "spark.sql.streaming.checkpointFileManagerClass" ->
      classOf[LocalCheckpointFileManager].getName,
    "spark.sql.artifact.isolation.enabled" -> "false",
    noSuccessMarker)

  /** Run one bounded AvailableNow replay to its end and return the
    * finished query.
    *
    * The replay runs on a clone of `spark` ([[org.apache.spark.sql
    * .graftbridge.isolatedSession]]): same context, catalog, temp
    * views, functions and conf values, but its own SQLConf, so the
    * partition count and [[replaySettings]] set on it never reach the
    * caller's session or a replay running beside it. The clone also
    * gets the caller's streaming query listeners, which see its
    * queries as the caller's. `stream` builds the streaming frame on
    * that session and `sink` configures its writer. The state
    * partition count is [[graft.sources.InputPartitions.forInputs]]
    * over the bytes under `inputs`, with [[groupParallelFloor]] when
    * `groupParallel` or the frame's analyzed plan holds a fold. When
    * the replay ends its state stores are unloaded
    * ([[org.apache.spark.sql.graftbridge.unloadStateStores]]); left
    * loaded, each provider holds its state rows until Spark's next
    * maintenance pass (every 60 s), and replays run back to back pile
    * them up on the heap. Once the caller's listeners have heard the
    * termination, the streaming listener buses of the clone and of the
    * stream's own session are removed from the context
    * ([[org.apache.spark.sql.graftbridge.removeStreamListenerBuses]]);
    * left there, every replay would add two for the context's life. */
  private[graft] def replay(spark: SparkSession, inputs: Seq[String],
      groupParallel: Boolean = false)(stream: SparkSession => DataFrame)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): StreamingQuery = {
    val session = org.apache.spark.sql.graftbridge.isolatedSession(spark)
    replaySettings.foreach { case (k, v) => session.conf.set(k, v) }
    spark.streams.listListeners().foreach(session.streams.addListener)
    // added after the caller's listeners, so it hears the termination last
    val terminated = new java.util.concurrent.CountDownLatch(1)
    session.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        terminated.countDown()
    })
    val df = stream(session)
    require(df.sparkSession eq session,
      "the replay's stream must be built on the session it is given")
    val n = graft.sources.InputPartitions.forInputs(spark, inputs,
      floor = if (groupParallel || hasGroupFold(df.queryExecution.analyzed)) groupParallelFloor
        else 1)
    session.conf.set("spark.sql.shuffle.partitions", n.toString)
    val q = sink(df.writeStream).trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination()
    finally if (!q.isActive) {
      org.apache.spark.sql.graftbridge.unloadStateStores(q)
      if (terminated.await(10, java.util.concurrent.TimeUnit.SECONDS))
        org.apache.spark.sql.graftbridge.removeStreamListenerBuses(q)
    }
    q
  }

  /** [[replay]] into a memory sink: the sink's rows come back as a
    * local frame on `spark`, and the sink's view is dropped, so the
    * replay leaves nothing registered behind it. The rows are already
    * on the driver, so the frame is one partition: a caller's
    * `orderBy` over it runs as one job, with no range sample and no
    * shuffle. */
  private[graft] def drain(spark: SparkSession, inputs: Seq[String],
      mode: OutputMode = OutputMode.Append())(
      stream: SparkSession => DataFrame): DataFrame =
    drainQuery(spark, inputs, mode)(stream)._1

  /** [[drain]], also returning the finished query for its progress. */
  private def drainQuery(spark: SparkSession, inputs: Seq[String],
      mode: OutputMode)(stream: SparkSession => DataFrame)
      : (DataFrame, StreamingQuery) = {
    val name = s"graft_stream_${runCounter.incrementAndGet()}"
    val q = replay(spark, inputs)(stream)(
      _.format("memory").queryName(name).outputMode(mode))
    val session = q.sparkSession
    try {
      val sink = session.table(name)
      (spark.createDataFrame(sink.collectAsList(), sink.schema).coalesce(1), q)
    } finally session.catalog.dropTempView(name)
  }

  /** [[replay]] into a foreachBatch sink that runs `f` on every
    * micro-batch, checkpointing at `checkpoint` when given. `f`'s
    * batch jobs are work the streaming plan does not show, so the
    * replay keeps the fold floor. */
  private def replayEachBatch(spark: SparkSession, inputs: Seq[String],
      checkpoint: Option[String] = None)(stream: SparkSession => DataFrame)(
      f: (DataFrame, Long) => Unit): Unit =
    replay(spark, inputs, groupParallel = true)(stream) { w =>
      val each = w.foreachBatch(f)
      checkpoint.fold(each)(each.option("checkpointLocation", _))
    }

  /** [[replayEachBatch]] with a checkpoint under `work` that appends
    * the frame `f` builds from each micro-batch to `work/out`, then
    * reads the output back with the schema the batches wrote, so the
    * read runs no schema-inference job. */
  private def replayToParquet(spark: SparkSession, inputs: Seq[String],
      work: String)(stream: SparkSession => DataFrame)(
      f: DataFrame => DataFrame): DataFrame = {
    val outDir = s"$work/out"
    val written = new java.util.concurrent.atomic.AtomicReference[StructType]()
    replayEachBatch(spark, inputs, Some(s"$work/ckpt"))(stream) { (b, _) =>
      val out = f(b)
      written.set(out.schema)
      out.write.mode("append").options(Map(noSuccessMarker)).parquet(outDir)
    }
    Option(written.get).fold(spark.read)(spark.read.schema(_)).parquet(outDir)
  }

  /** Stream-static enrichment — the most common production streaming
    * shape: each micro-batch of the event stream hash/broadcast-joins
    * a STATIC dimension (no state store, no watermark; the dim is
    * re-resolvable per batch, which is how slowly-changing dims get
    * picked up on restart). Identical declarative form for batch and
    * stream inputs, so the batch run IS the oracle. Aggregation after
    * the join keys on (segment, event_type) — bounded cardinality, so
    * Complete output mode is the natural sink contract. */
  def streamStaticEnrich(events: DataFrame, dim: DataFrame): DataFrame =
    events
      .withColumn("__ckey", pmod(col("user_id"), lit(150L)) + 1L)
      .join(dim, col("__ckey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 1000).cast("long")).as("value_milli"))

  /** Drive [[streamStaticEnrich]] through the engine (AvailableNow →
    * memory sink, complete mode — the aggregate's cardinality is
    * |segments|×|event types|). */
  def runStreamStaticEnrichAvailableNow(spark: SparkSession, dir: String): DataFrame =
    drain(spark, Seq(s"$dir/events.parquet"), OutputMode.Complete()) { s =>
      val dim = Tables.read(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      streamStaticEnrich(eventsStream(s, dir), dim)
    }

  /** Tumbling 1-hour rollup — identical shape for batch and stream
    * inputs (same plan; streaming just executes it incrementally). */
  def hourlyRollup(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 1000).cast("long")).as("value_milli"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("hour"),
        col("event_type"), col("n_events"), col("value_milli"))

  /** The one way a replay stages its own input: `parts`, in order, as
    * single parquet files in a fresh scratch dir, replayed one file per
    * micro-batch by [[Staged.stream]].
    *
    * The staged files are a pure function of the tables under `dir`
    * and of `params`, so repeated drains (bench reps) reuse them from
    * [[graft.FittedCache]] instead of re-copying the tables every run;
    * the whole `dir` is the fingerprinted input, so a rewritten table
    * restages. `params` must hold every argument besides `dir` that the
    * parts depend on.
    *
    * All parts must share one schema (names and types; nullability
    * aside), or [[StagedSchemaMismatch]] is thrown. FileStreamSource
    * orders files by mtime with an unspecified tie-break, so the files
    * get strictly increasing mtimes in part order ([[forceMtimeOrder]]):
    * replays whose rows depend on arrival order (q143's first setter
    * wins, the quota gates' admission order) see the parts in order.
    * The schema is read back from the first file once, here, so a
    * replay plans its stream without an inference job. */
  private[graft] def stagedDir(spark: SparkSession, kind: String, dir: String,
      params: Seq[Any] = Nil)(parts: => Seq[DataFrame]): Staged =
    graft.FittedCache.get(spark, s"StreamOps.stagedDir:$kind", Seq(dir), params) {
      val frames = parts
      require(frames.nonEmpty, s"stagedDir($kind): no parts to stage")
      val schemas = frames.map(_.schema.catalogString).distinct
      if (schemas.size > 1) throw new StagedSchemaMismatch(
        s"stagedDir($kind): staged parts differ in schema: ${schemas.mkString(" vs ")}")
      val staging = s"${graft.WorkDirs.create(s"graft_${kind}_")}/staging"
      val files = frames.zipWithIndex.map { case (df, i) =>
        val file = f"$staging/$i%04d.parquet"
        stageVersionFile(df, file)
        file
      }
      forceMtimeOrder(files)
      Staged(staging, spark.read.parquet(files.head).schema)
    }

  /** Run the hourly rollup THROUGH the Structured Streaming engine
    * (AvailableNow trigger → memory sink, complete mode) and return
    * the final result table. Proves stream/batch plan parity: the
    * driver oracle-checks this output against the batch SQL. */
  def runHourlyRollupAvailableNow(spark: SparkSession, dir: String): DataFrame =
    drain(spark, Seq(s"$dir/events.parquet"), OutputMode.Complete())(
      s => hourlyRollup(eventsStream(s, dir)))

  /** Stream-stream interval join — click attribution: every purchase
    * pairs with ALL of that user's clicks in the trailing
    * `windowMinutes` (inner interval join; the one-latest-click form
    * is the batch [[graft.operators.AsofJoin]]). Both sides carry
    * watermarks, and the time-range predicate is what lets the engine
    * EXPIRE state: a buffered click is dropped once the purchase-side
    * watermark passes `click_ts + windowMinutes`, so join state is
    * bounded by (event rate × window + lateness), never by stream
    * length — the only stream-stream join shape that survives an
    * unbounded feed. State is hash-partitioned on `user_id` on both
    * sides (co-partitioned by the same key, one shuffle each).
    *
    * Identical plan runs in batch: [[clickAttribution]] on two batch
    * DataFrames is the batch interval join the oracle SQL states. */
  def clickAttribution(purchases: DataFrame, clicks: DataFrame,
                       windowMinutes: Int,
                       watermarkDelay: String = "10 minutes",
                       joinType: String = "inner"): DataFrame = {
    val p = purchases
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"), col("value").as("purchase_val"))
      .withWatermark("p_ts", watermarkDelay)
    val c = clicks
      .select(col("event_id").as("click_id"), col("user_id").as("c_user_id"),
        col("ts").as("c_ts"), col("value").as("click_val"))
      .withWatermark("c_ts", watermarkDelay)
    p.join(c,
        col("user_id") === col("c_user_id") &&
          col("c_ts") >= col("p_ts") - expr(s"INTERVAL $windowMinutes MINUTES") &&
          col("c_ts") <= col("p_ts"),
        joinType)
      .select(col("purchase_id"), col("user_id"),
        unix_micros(col("p_ts")).as("p_ts_us"), col("purchase_val"),
        col("click_id"), unix_micros(col("c_ts")).as("c_ts_us"),
        col("click_val"))
  }

  /** Run the click-attribution join THROUGH the streaming engine
    * (AvailableNow → memory sink, append mode — the only mode
    * stream-stream inner joins support). */
  def runClickAttributionAvailableNow(spark: SparkSession, dir: String,
                                      windowMinutes: Int): DataFrame =
    drain(spark, Seq(s"$dir/events.parquet")) { s =>
      val src = eventsStream(s, dir)
      clickAttribution(
        src.filter(col("event_type") === "purchase"),
        src.filter(col("event_type") === "click"),
        windowMinutes)
    }

  /** LEFT-OUTER stream-stream interval join — the hardest streaming
    * join surface: a purchase with NO click in its window may only
    * emit (with null click columns) once the WATERMARK proves no
    * matching click can still arrive; until then it sits in state.
    * To drain deterministically under AvailableNow, far-future
    * SENTINEL events are staged in the same file as the real events,
    * so both arrive in one single micro-batch: watermarks only advance
    * at batch boundaries, so after that batch the watermark jumps past
    * every real purchase, and the engine's closing no-data batch then
    * evicts all unmatched state so the null rows emit before
    * termination; inner matches never depend on the split. Sentinel
    * rows (negative ids) are filtered from the result — the output is
    * exactly the batch left-outer interval join over the real events,
    * which is what the oracle states.
    *
    * CONTRACT — the sentinels are a HARNESS-ONLY deviation, not
    * part of the operator: in production the watermark advances from
    * live traffic and unmatched state drains continuously; a bounded
    * AvailableNow replay has no "later" data, so without the sentinels
    * the purchases inside the final delay+window band would sit in
    * state forever — the closing no-data batch evicts only up to the
    * state-value watermark, which for this join's purchase side is
    * wm − window (derived from c_ts >= p_ts − window).
    * `drainSentinels = false` exposes exactly that truncated
    * behavior; StreamOpsSpec pins the difference to precisely the
    * purchases past that eviction line. SURVEY §2.9 records the
    * deviation. */
  def runClickAttributionOuterAvailableNow(spark: SparkSession, dir: String,
                                           windowMinutes: Int,
                                           drainSentinels: Boolean = true): DataFrame = {
    val staged = stagedDir(spark, "souter", dir, Seq(drainSentinels)) {
      val ev = graft.sources.EventsLoader.events(spark, dir)
      if (!drainSentinels) Seq(ev)
      else {
        val maxTsUs = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
        val far = timestamp_micros(lit(maxTsUs + 30L * 24 * 3600 * 1000000L))
        val sentinels = Seq(-1L -> "purchase", -2L -> "click").map { case (id, kind) =>
          spark.range(1).select(lit(id).as("event_id"), far.as("ts"),
            lit(-1L).as("user_id"), lit(kind).as("event_type"),
            lit(0.0).as("value"), lit("{}").as("props"))
        }
        Seq(sentinels.foldLeft(ev)(_ unionByName _))
      }
    }
    drain(spark, Seq(staged.path)) { s =>
      val src = staged.stream(s)
      clickAttribution(
        src.filter(col("event_type") === "purchase"),
        src.filter(col("event_type") === "click"),
        windowMinutes, joinType = "left_outer")
    }.filter(col("purchase_id") >= 0)
  }

  /** Run the SLIDING rollup through the Structured Streaming engine
    * (AvailableNow → memory sink, complete mode) — proves the sliding
    * form's stream/batch plan parity the same way
    * [[runHourlyRollupAvailableNow]] does for tumbling windows
    * (StreamOpsSpec compares it to the batch result). */
  def runSlidingRollupAvailableNow(spark: SparkSession, dir: String): DataFrame =
    drain(spark, Seq(s"$dir/events.parquet"), OutputMode.Complete())(
      s => slidingRollup(eventsStream(s, dir)))

  /** Sliding-window rollup (1 h window, 30 min slide): each event
    * lands in two windows. Same declarative form runs under
    * streaming; exercised in batch for the oracle. */
  def slidingRollup(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("win_start"),
        col("event_type"), col("n_events"))

  /** Gap-based sessionization, batch form: a session breaks when a
    * user is idle longer than `gapMinutes`. One shuffle (hash on
    * user_id) feeds both windows — lag and the running session
    * counter share the same partitioning and sort. */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > gapMinutes * 60000000L,
          1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        sum(round(col("value") * 1000).cast("long")).as("value_milli"))
  }

  // --- streaming sessionization with explicit state ----------------------

  case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class SessionState(start: Long, end: Long, n: Long, valueMilli: Long)
  case class SessionOut(user_id: Long, session_start_ms: Long,
                        session_end_ms: Long, n_events: Long,
                        value_milli: Long)

  /** Streaming gap-sessionization via `flatMapGroupsWithState` with
    * an EVENT-TIME timeout: per-user session state; a session closes
    * either when a later in-stream event exceeds the gap, or when the
    * watermark passes `session_end + gap` (the stateful-operator form
    * of [[sessionize]] for unbounded inputs — state is bounded by the
    * watermark, so this runs forever without growing).
    *
    * (ProcessingTimeTimeout is avoided deliberately: under Spark
    * 4.1.2 its state operator sends the per-batch analyzer into a
    * non-terminating resolution loop, reproduced with a MemoryStream
    * source feeding this operator.)
    *
    * `events` needs columns (user_id: long, ts: timestamp,
    * value: double); the watermark bounds how late events may arrive.
    */
  def sessionizeStream(events: DataFrame, gapMinutes: Int = 30,
                       watermarkDelay: String = "10 minutes"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L
    events
      .select(col("user_id"), col("ts"), col("value"))
      .withWatermark("ts", watermarkDelay)
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(s =>
              SessionOut(userId, s.start, s.end, s.n, s.valueMilli))
            state.remove()
            out.iterator
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var cur = state.getOption
            val closed = Seq.newBuilder[SessionOut]
            sorted.foreach { e =>
              val t = e.ts.getTime
              val vm = math.round(e.value * 1000)
              cur match {
                case Some(s) if t - s.end <= gapMs =>
                  cur = Some(s.copy(end = math.max(s.end, t), n = s.n + 1,
                    valueMilli = s.valueMilli + vm))
                case Some(s) =>
                  closed += SessionOut(userId, s.start, s.end, s.n, s.valueMilli)
                  cur = Some(SessionState(t, t, 1, vm))
                case None =>
                  cur = Some(SessionState(t, t, 1, vm))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // fire when the watermark passes the session's gap horizon
              // (must stay ahead of the current watermark)
              state.setTimeoutTimestamp(
                math.max(s.end + gapMs, state.getCurrentWatermarkMs() + 1))
            }
            closed.result().iterator
          }
      }
  }

  // --- streaming per-key quota ------------------------------------------

  case class QuotaRow(doc_id: Long, version: Long, source: String)

  /** Streaming per-key admission quota — "at most N documents per
    * source", enforced ACROSS micro-batches: the stateful
    * rate-limiting counterpart of the batch
    * [[graft.operators.Curation.capPerGroup]]. State per key is ONE
    * long (admitted-so-far); admission order is deterministic —
    * micro-batch arrival order, then `doc_id` inside a batch — so a
    * replay admits the identical set. A production feed would expire
    * idle keys via a timeout; the drain here is finite. */
  def perSourceQuota(stream: Dataset[QuotaRow], quota: Long): Dataset[QuotaRow] = {
    import stream.sparkSession.implicits._
    stream.groupByKey(_.source)
      .flatMapGroupsWithState[Long, QuotaRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: String, rows: Iterator[QuotaRow], state: GroupState[Long]) =>
          val admitted = state.getOption.getOrElse(0L)
          // clamp before toInt: quota > Int.MaxValue would wrap negative
          // and silently admit zero rows. The sortBy buffers the key's
          // batch slice — per-(key, micro-batch), not per-key history.
          val room = math.min((quota - admitted).max(0L), Int.MaxValue.toLong).toInt
          val take = rows.toSeq.sortBy(r => (r.version, r.doc_id)).take(room)
          state.update(admitted + take.size)
          take.iterator
      }
  }

  /** Drive [[perSourceQuota]] through the engine: documents staged as
    * two crawl waves (even doc_ids then odd), quota applied across
    * both micro-batches. */
  def runPerSourceQuotaAvailableNow(spark: SparkSession, dir: String,
                                    quota: Long): DataFrame = {
    import spark.implicits._
    val staged = stagedDir(spark, "quota", dir) {
      val d = Tables.read(spark, dir, "documents")
        .select(col("doc_id"), (col("doc_id") % 2).as("version"), col("source"))
      Seq(0, 1).map(v => d.filter(col("version") === v))
    }
    drain(spark, Seq(staged.path))(s =>
      perSourceQuota(staged.stream(s).as[QuotaRow], quota).toDF())
  }

  // --- streaming cardinality (HLL registers as state) -------------------

  case class HllTok(wave: Long, source: String, tok: String)
  case class HllRegs(regs: Map[Int, Int])
  case class HllWaveOut(source: String, wave: Long, n_used: Long, est: Double)

  /** Streaming distinct-count: [[graft.operators.Sketch.hllDistinct]]'s
    * register array carried as PER-KEY STREAMING STATE — the
    * "cardinality so far" feed a crawl monitor actually wants, for
    * O(m) state per key where exact streaming distinct would hold
    * every value ever seen. Each micro-batch folds its tokens into
    * the registers (register-wise max — order- and batch-split-
    * independent by construction, the same property that made the
    * batch sketch's partial aggregation correct) and emits one
    * (source, wave, n_used, est) snapshot per key touched. The
    * register math BIT-MATCHES the batch operator: same md5
    * coordinates, same integer max-merge, same one fixed double shape
    * for the estimate — so a batch oracle over each wave's cumulative
    * prefix hash-matches the streamed snapshots exactly. */
  def streamingHllDistinct(toks: Dataset[HllTok], p: Int,
                           salt: String): Dataset[HllWaveOut] = {
    require(p >= 4 && p <= 12, "p must be in [4, 12]")
    import toks.sparkSession.implicits._
    val m = 1 << p
    val remBits = 60 - p
    val maxM = remBits + 1
    val alphaM2 = graft.operators.Sketch.hllAlpha(m) * m * m
    val twoK = math.pow(2.0, maxM)
    toks.groupByKey(_.source)
      .flatMapGroupsWithState[HllRegs, HllWaveOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (source: String, rows: Iterator[HllTok], state: GroupState[HllRegs]) =>
          val batch = rows.toSeq
          var regs = state.getOption.map(_.regs).getOrElse(Map.empty[Int, Int])
          batch.foreach { row =>
            // identical coordinates to the SQL path:
            // conv(substring(md5(salt:tok), 1, 15), 16, 10)
            val hex = java.security.MessageDigest.getInstance("MD5")
              .digest(s"$salt:${row.tok}".getBytes("UTF-8"))
              .map("%02x".format(_)).mkString.substring(0, 15)
            val h = java.lang.Long.parseLong(hex, 16)
            val bucket = (h >>> remBits).toInt
            val r = h & ((1L << remBits) - 1)
            // length(bin(r)) = 64 - numberOfLeadingZeros(r) for r > 0
            val mb =
              if (r == 0L) maxM
              else maxM - (64 - java.lang.Long.numberOfLeadingZeros(r))
            if (regs.getOrElse(bucket, 0) < mb) regs = regs.updated(bucket, mb)
          }
          state.update(HllRegs(regs))
          val used = regs.size
          val sp = regs.valuesIterator.map(mb => 1L << (maxM - mb)).sum
          val s = sp + (m.toLong - used) * (1L << maxM)
          val raw = alphaM2 * (twoK / s.toDouble)
          val v = m - used
          // StrictMath.log, not math.log: Spark's `log` expression is
          // StrictMath-backed, and the JVM intrinsic can differ by 1
          // ulp — enough to break bit-parity with the batch sketch
          val est =
            if (raw <= 2.5 * m && v > 0)
              m.toDouble * StrictMath.log(m.toDouble / v)
            else raw
          Iterator.single(
            HllWaveOut(source, batch.map(_.wave).max, used.toLong, est))
      }
  }

  /** Two-wave token staging shared by the streaming sketch runners
    * (HLL, Count-Min): documents tokenized and split into two crawl
    * waves by `(doc_id div 20) % 2` — the round-robin doc_id layout
    * puts every source in both waves. */
  private def tokenWaves(spark: SparkSession, dir: String): Staged =
    stagedDir(spark, "tokwaves", dir) {
      val d = Tables.read(spark, dir, "documents")
        .select(expr("(doc_id div 20) % 2").as("wave"), col("source"),
          explode(split(lower(col("text")), "\\s+")).as("tok"))
        .filter(col("tok") =!= "")
      requireEveryKeyInBothWaves(d, "source")
      waves(d)
    }

  /** `d` split by its `wave` column into waves 0 and 1. */
  private def waves(d: DataFrame): Seq[DataFrame] =
    Seq(0, 1).map(w => d.filter(col("wave") === w))

  /** One part of `d` per predicate of `splits`, led by a `wave` column
    * holding the predicate's index. */
  private def wavesBy(d: DataFrame, splits: org.apache.spark.sql.Column*): Seq[DataFrame] =
    splits.zipWithIndex.map { case (p, w) =>
      d.filter(p).select(lit(w.toLong).as("wave") +: d.columns.map(col): _*)
    }

  /** `docs`' columns `cols` split into the two crawl waves
    * `(doc_id div 20) % 2`, each led by its `wave` column. */
  private def crawlWaves(docs: DataFrame, cols: String*): Seq[DataFrame] =
    waves(docs.select(expr("(doc_id div 20) % 2").as("wave") +: cols.map(col): _*))

  /** Fails unless every value of `key` in `d` occurs in both waves.
    *
    * The sketch streams snapshot only keys PRESENT in a micro-batch,
    * while their cumulative-prefix oracles emit every (key, wave) pair
    * — equal only because the round-robin id layout lands every key
    * in both waves. A testdata regeneration that breaks that layout
    * must fail loudly here, not as a silent oracle hash drift. */
  private def requireEveryKeyInBothWaves(d: DataFrame, key: String): Unit = {
    val oneWave = d.groupBy(key)
      .agg(countDistinct(col("wave")).as("nw"))
      .filter(col("nw") < 2).count()
    require(oneWave == 0L,
      s"$oneWave $key value(s) absent from a wave — the staged waves no " +
        "longer satisfy the every-key-in-both-waves contract the " +
        "cumulative-prefix oracles assume")
  }

  /** Drive [[streamingHllDistinct]] through the engine over the token
    * waves, snapshots emitted per (source, wave). */
  def runStreamingHllAvailableNow(spark: SparkSession, dir: String,
                                  p: Int, salt: String): DataFrame = {
    import spark.implicits._
    val staged = tokenWaves(spark, dir)
    drain(spark, Seq(staged.path))(s =>
      streamingHllDistinct(staged.stream(s).as[HllTok], p, salt).toDF())
  }

  case class QuantPoint(wave: Long, event_type: String, cents: Long)
  case class QuantHist(hist: Map[Long, Long])
  case class QuantOut(event_type: String, wave: Long, n: Long,
      p50: Long, p90: Long, p99: Long)

  /** Streaming QUANTILES: [[graft.operators.Sketch.logBucketQuantiles]]'
    * 2-significant-digit bucket histogram carried as PER-KEY
    * STREAMING STATE — the "p99 so far" feed a latency/size monitor
    * wants, with state bounded by ≤90 cells per decade of the value
    * DOMAIN whatever the stream length (the [[streamingHllDistinct]]
    * architecture with the sketch swapped). Each micro-batch folds
    * its values into the histogram (count addition — order- and
    * batch-split-independent) and emits one (key, wave, n, p50, p90,
    * p99) snapshot per key touched. The bucket rule is the IDENTICAL
    * decimal-string arithmetic as the batch operator, and the rank
    * rule the identical `(permille·n + 999) div 1000`, so a batch
    * oracle over each wave's cumulative prefix hash-matches the
    * streamed snapshots exactly. Values must be positive (the batch
    * operator's contract). */
  def streamingLogBucketQuantiles(points: Dataset[QuantPoint]): Dataset[QuantOut] = {
    import points.sparkSession.implicits._
    def bucketOf(x: Long): Long = {
      require(x > 0L, "streamingLogBucketQuantiles requires positive values")
      val s = x.toString
      if (s.length < 3) x
      else (s.substring(0, 2) + "0" * (s.length - 2)).toLong
    }
    points.groupByKey(_.event_type)
      .flatMapGroupsWithState[QuantHist, QuantOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[QuantPoint], state: GroupState[QuantHist]) =>
          val batch = rows.toSeq
          var hist = state.getOption.map(_.hist).getOrElse(Map.empty[Long, Long])
          batch.foreach { r =>
            val b = bucketOf(r.cents)
            hist = hist.updated(b, hist.getOrElse(b, 0L) + 1L)
          }
          state.update(QuantHist(hist))
          val n = hist.valuesIterator.sum
          val sorted = hist.toSeq.sortBy(_._1)
          def q(permille: Long): Long = {
            val t = (permille * n + 999L) / 1000L
            var cum = 0L
            var res = sorted.last._1
            val it = sorted.iterator
            var found = false
            while (it.hasNext && !found) {
              val (b, c) = it.next(); cum += c
              if (cum >= t) { res = b; found = true }
            }
            res
          }
          Iterator.single(QuantOut(key, batch.map(_.wave).max, n,
            q(500L), q(900L), q(990L)))
      }
  }

  /** Drive [[streamingLogBucketQuantiles]] through the engine: event
    * values in cents staged as two waves by `(event_id div 20) % 2`
    * (the round-robin event_id layout lands every event_type in both
    * waves — enforced, the [[tokenWaves]] contract), snapshots per
    * (event_type, wave). */
  def runStreamingQuantilesAvailableNow(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    val staged = stagedDir(spark, "quantwaves", dir) {
      val d = graft.sources.EventsLoader.events(spark, dir)
        .select(expr("(event_id div 20) % 2").as("wave"), col("event_type"),
          round(col("value") * lit(100.0)).cast("long").as("cents"))
        // the sketch's positive-domain contract: zero-cent events
        // (value < 0.005) carry no spend signal and are excluded in
        // BOTH the stream and the cumulative-prefix oracle
        .filter(col("cents") > 0L)
      requireEveryKeyInBothWaves(d, "event_type")
      waves(d)
    }
    drain(spark, Seq(staged.path))(s =>
      streamingLogBucketQuantiles(staged.stream(s).as[QuantPoint]).toDF())
  }

  // --- streaming decontamination gate -----------------------------------

  /** Streaming benchmark-decontamination gate: the eval side is
    * static (benchmarks), so its 3-gram Bloom filter is built ONCE in
    * batch and collected to a bit array; the TRAIN side arrives as a
    * stream (two staged crawl waves) and every micro-batch applies a
    * PURE PROJECTION — per-doc distinct shingles, Bloom-probed
    * in-row via [[graft.operators.Sketch.bloomProbeColumn]]. No state
    * store, no aggregation, unbounded ingest rate: this is the
    * crawl-time hygiene architecture (Bloom pre-filter at the
    * firehose; exact verification downstream in batch on the tiny
    * flagged subset — q58/q103's job). Emits (doc_id, wave, n_sh,
    * bloom_hits, flagged). */
  def runStreamingDecontaminateAvailableNow(spark: SparkSession, dir: String,
      numBits: Int, numHashes: Int, salt: String): DataFrame = {
    import graft.operators.{Dedup, Sketch}
    val docs = Tables.read(spark, dir, "documents")
    def sh(c: org.apache.spark.sql.Column) =
      array_distinct(Dedup.shingles(c, 3))
    val evalSh = docs.filter(col("doc_id") % 97 === 0)
      .select(explode(sh(col("text"))).as("shingle")).distinct()
    val bits = Array.fill(numBits)(false)
    Sketch.bloomBuild(evalSh, "shingle", numBits, numHashes, salt)
      .collect().foreach(r => bits(r.getLong(0).toInt) = true)
    val staged = stagedDir(spark, "decon", dir)(
      crawlWaves(docs.filter(col("doc_id") % 97 =!= 0), "doc_id", "text"))
    drain(spark, Seq(staged.path))(s =>
      staged.stream(s)
        .withColumn("__sh", sh(col("text")))
        .select(col("doc_id"), col("wave"),
          size(col("__sh")).cast("long").as("n_sh"),
          size(filter(col("__sh"), x =>
            Sketch.bloomProbeColumn(bits, x, numBits, numHashes, salt)))
            .cast("long").as("bloom_hits"))
        .withColumn("flagged", col("bloom_hits") >= 1L))
  }

  /** STREAMING HTML main-content extraction: raw crawl markup arrives
    * as two staged waves and every micro-batch runs
    * [[graft.operators.Extract.mainContent]] — which is ONE pure
    * projection (parser expression + an in-row `aggregate` fold), so
    * the streaming form needs no state store, no watermark, no
    * shuffle: extraction at ingest rate, the crawl-pipeline front
    * door (parse → density rules → clean text, with the cross-doc
    * frequency rule running downstream in batch like q58 vs q142's
    * split). The streamed result provably equals the batch q235
    * board — they share one oracle. Emits the [[graft.operators
    * .Extract.mainContent]] shape per doc. */
  def runStreamingHtmlExtractAvailableNow(spark: SparkSession, dir: String,
      corpus: DataFrame, minChars: Int,
      maxLinkDensityMicros: Long): DataFrame = {
    val staged = stagedDir(spark, "htmlx", dir)(crawlWaves(corpus, "doc_id", "html"))
    drain(spark, Seq(staged.path))(s =>
      graft.operators.Extract.mainContent(
        staged.stream(s), "doc_id", "html", minChars, maxLinkDensityMicros))
  }

  /** STREAMING quality gate: the q154/q155 classifier trained ONCE in
    * batch, its final weights folded into a stateless per-micro-batch
    * projection scoring two staged crawl waves at ingest rate — the
    * "train offline, gate online" production shape (q142's stateless
    * pattern with a TRAINED model instead of a Bloom literal). No
    * state store, no watermark, no shuffle inside the stream: the
    * streamed board provably equals the batch apply, and the oracle
    * retrains the model itself to say so. */
  def runStreamingQualityGateAvailableNow(spark: SparkSession, dir: String,
      lr: Double, iterations: Int): DataFrame = {
    import graft.operators.LinearModel
    // board-shared memoized model (identical training in q154/q155/
    // q159/q161/q162/q163 — the fitted weights, trained once per app)
    val weights = LinearModel.qualityCorpusTrajectory(spark, dir,
      lr, iterations).last.weights
    val staged = stagedDir(spark, "qgate", dir)(
      crawlWaves(Tables.read(spark, dir, "documents"), "doc_id", "text"))
    drain(spark, Seq(staged.path))(s =>
      LinearModel.scoreLinear(
          LinearModel.qualityTrainingFrame(staged.stream(s),
            keepCols = Seq("wave")),
          LinearModel.qualityFeatureCols, weights)
        .select(col("doc_id"), col("wave"), col("p"), col("pred"),
          col("y").cast("long").as("label")))
  }

  /** STREAMING data-quality drift monitor: per crawl wave, ONE
    * stateless micro-batch aggregate of exact integer corpus-health
    * counters (doc/char/word/alpha/stopword sums + the q154 label
    * positives) appended via foreachBatch — the at-ingest monitoring
    * row a 100 TB pipeline alerts on before any training run reads
    * the wave. No state store; per-wave output is one
    * counters-sized row, so the monitor costs one map-side-combining
    * pass per wave at crawl rate. */
  def runStreamingDriftMonitorAvailableNow(spark: SparkSession,
      dir: String): DataFrame = {
    val staged = stagedDir(spark, "drift", dir)(
      crawlWaves(Tables.read(spark, dir, "documents"), "doc_id", "text"))
    val t = col("text")
    val tok = split(lower(t), "\\s+")
    val enStop = array(
      graft.functions.TextNlp.stopwords.toSeq.sorted.map(lit): _*)
    val nChars = length(t).cast("long")
    val nWords = size(tok).cast("long")
    val nAlpha = length(regexp_replace(t, "[^a-zA-Z]", "")).cast("long")
    val nStop = size(filter(tok, w => array_contains(enStop, w)))
      .cast("long")
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.Row]
    replayEachBatch(spark, Seq(staged.path))(staged.stream) {
      (df: DataFrame, _: Long) =>
        // one wave per staged file → one counters row per micro-batch
        buf ++= df.groupBy(col("wave"))
          .agg(count(lit(1)).as("n_docs"),
            sum(nChars).as("chars_sum"), sum(nWords).as("words_sum"),
            sum(nAlpha).as("alpha_sum"), sum(nStop).as("stop_sum"),
            sum(when(nAlpha * 100 >= nChars * 82 && nWords >= 5, 1L)
              .otherwise(0L)).as("n_label_pos"))
          .collect()
        ()
    }
    val schema = StructType(Seq(
      StructField("wave", LongType), StructField("n_docs", LongType),
      StructField("chars_sum", LongType), StructField("words_sum", LongType),
      StructField("alpha_sum", LongType), StructField("stop_sum", LongType),
      StructField("n_label_pos", LongType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(buf.toSeq, 1), schema)
  }

  /** STREAMING blocklist gate: the q244 Aho-Corasick dictionary scan
    * ([[graft.operators.Blocklist.screen]]) applied at ingest — each
    * crawl wave's micro-batch is screened as a STATELESS projection
    * (the automaton ships inside the expression; no state store, no
    * join), the same train-offline/gate-online shape as the q157
    * quality gate. At crawl rate this costs one fused pass per
    * document, so policy screening adds nothing to the ingest
    * pipeline's shuffle footprint. The oracle restates the batch
    * replace arithmetic with the wave as a pure function of doc_id —
    * streamed gate ≡ batch screen, dictionary included. */
  def runStreamingBlocklistGateAvailableNow(spark: SparkSession, dir: String,
      plants: Seq[(Long, String)], patterns: Seq[String],
      maxHits: Int): DataFrame = {
    import spark.implicits._
    // the staged content depends on the plants: they are params, so two
    // callers with different plants never share a staging dir
    val staged = stagedDir(spark, "blgate", dir, Seq(plants)) {
      val docs = Tables.read(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
        .unionByName(plants.toDF("doc_id", "text"))
      crawlWaves(docs, "doc_id", "text")
    }
    drain(spark, Seq(staged.path))(s =>
      graft.operators.Blocklist.screen(
          staged.stream(s), "doc_id", "text", patterns, maxHits)
        .select(col("doc_id"), col("wave"), col("total_hits"),
          col("n_patterns_hit"), col("blocklist_keep")))
  }

  /** STREAMING language-ID gate: the q263-trained multinomial-NB
    * langid model applied per crawl-wave micro-batch as ONE stateless
    * projection ([[graft.operators.TextAnalysis.langIdScore]] — the
    * fitted weights ride inside the expression, fastText-style), each
    * doc tagged with its predicted language and the keep flag
    * (predicted ∈ `allowed`) — the FIRST gate every multilingual
    * corpus pipeline runs at ingest (CCNet/RefinedWeb lineage). Train
    * offline / gate online, the q157/q247/q258 shape: no state store,
    * no join, nothing added to the ingest shuffle footprint. The
    * oracle restates the batch scoring chain with the wave as a pure
    * function of doc_id. */
  def runStreamingLangIdGateAvailableNow(spark: SparkSession, dir: String,
      allowed: Seq[String]): DataFrame = {
    val f = graft.operators.TextAnalysis.langIdCorpusModel(spark, dir)
    val (model, langs, w, p) = (f.model, f.langs, f.weights, f.priors)
    val staged = stagedDir(spark, "langidgate", dir)(
      crawlWaves(Tables.read(spark, dir, "documents"), "doc_id", "text"))
    drain(spark, Seq(staged.path))(s =>
      staged.stream(s)
        .withColumn("__r", graft.operators.TextAnalysis.langIdScore(
          col("text"), langs, w, p, model.buckets, model.n, model.maxChars,
          model.salt))
        .filter(col("__r").getField("n_grams") > 0)
        .select(col("doc_id"), col("wave"),
          col("__r").getField("trained_lang").as("trained_lang"),
          col("__r").getField("trained_lang").isin(allowed: _*)
            .as("lang_keep")))
  }

  case class QuotaDoc(wave: Long, doc_id: Long, source: String)
  case class QuotaSt(admitted: Long)
  case class QuotaAdm(doc_id: Long, source: String, wave: Long,
      admitted: Boolean, adm_rank: Long)

  /** STREAMING mixture-QUOTA admission gate — q261's temperature
    * quotas ENFORCED at ingest: the fitted per-source quota table is
    * frozen state (the q272 posture), and each source carries one
    * Long of streaming state — its running admitted count. A doc is
    * admitted iff its source's count is still under quota;
    * `adm_rank` is its admission position (0 when rejected).
    * Arrival order is pinned (waves drain one file per trigger;
    * within a batch the group folds in (wave, doc_id) order), so the
    * oracle replays admission as one per-source rank against the
    * same quota chain. This is how a crawl actually stops
    * over-ingesting a dominant domain — the mixture is enforced
    * BEFORE storage, not fixed afterwards. State per source: one
    * counter, O(|sources|) total whatever the stream length. */
  def streamingQuotaGate(docs: Dataset[QuotaDoc],
      quotas: Map[String, Long]): Dataset[QuotaAdm] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.source)
      .flatMapGroupsWithState[QuotaSt, QuotaAdm](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (src: String, rows: Iterator[QuotaDoc], state: GroupState[QuotaSt]) =>
          var n = state.getOption.map(_.admitted).getOrElse(0L)
          val q = quotas.getOrElse(src, 0L)
          val out = rows.toSeq.sortBy(r => (r.wave, r.doc_id)).map { r =>
            if (n < q) {
              n += 1
              QuotaAdm(r.doc_id, src, r.wave, admitted = true, n)
            } else QuotaAdm(r.doc_id, src, r.wave, admitted = false, 0L)
          }
          state.update(QuotaSt(n))
          out.iterator
      }
  }

  /** Drive [[streamingQuotaGate]]: fit q261's temperature quotas
    * (quota ∝ n^α over the whole corpus — the frozen-model half),
    * then admit the two crawl waves against them. */
  def runStreamingQuotaGateAvailableNow(spark: SparkSession, dir: String,
      budget: Long, alpha: Double): DataFrame = {
    import spark.implicits._
    val docs = Tables.read(spark, dir, "documents")
    val quotas = graft.operators.Curation.temperatureQuotas(
        docs, "source", budget, alpha)
      .select(col("source"), col("quota"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val staged = stagedDir(spark, "quotagate", dir)(crawlWaves(docs, "doc_id", "source"))
    drain(spark, Seq(staged.path))(s =>
      streamingQuotaGate(staged.stream(s).as[QuotaDoc], quotas).toDF())
  }

  /** The deterministic "arriving crawl" of the incremental near-dup
    * gate — three planted classes over the corpus: near-dup EDITS
    * (every 40th doc resent with one appended token), exact RESENDS
    * (every 50th ≡ 25 resent verbatim), and NOVEL pages (synthetic
    * text keyed by every 97th id). Shared verbatim with the oracle. */
  private[graft] def neardupArrivals(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 40 === 0)
      .select((col("doc_id") + 50000000L).as("doc_id"),
        concat(col("text"), lit(" graft crawl refresh token")).as("text"))
      .unionByName(docs.filter(col("doc_id") % 50 === 25)
        .select((col("doc_id") + 70000000L).as("doc_id"), col("text")))
      .unionByName(docs.filter(col("doc_id") % 97 === 0)
        .select((col("doc_id") + 60000000L).as("doc_id"),
          concat(lit("novel crawl page "), col("doc_id").cast("string"),
            lit(" unseen content entirely fresh tokens")).as("text")))

  /** STREAMING incremental near-dup ADMISSION gate
    * ([[graft.operators.Dedup.neardupAdmission]]): the existing
    * corpus's MinHash signature index is FROZEN state built before
    * the stream opens (pinned once — the real deployment writes it
    * when the corpus ships); each arriving micro-batch computes its
    * own signatures, probes the index through the (band, bucket)
    * join, and admits only docs whose best collided partner agrees
    * on fewer than `rejectAgree` signature slots. Stateless per
    * batch — no state store, the index IS the state — so this runs
    * at crawl rate beside the q143 exact-dup Bloom gate: Bloom
    * catches verbatim resends O(bits), this catches the EDITED
    * resends Bloom provably cannot. */
  def runStreamingNeardupGateAvailableNow(spark: SparkSession,
      dir: String, rejectAgree: Int): DataFrame = {
    val docs = Tables.read(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val idxSigs = graft.operators.Dedup.minhashSignatures(
      docs, "text", "doc_id").localCheckpoint(true)
    val staged = stagedDir(spark, "neardupgate", dir)(
      crawlWaves(neardupArrivals(docs), "doc_id", "text"))
    replayToParquet(spark, Seq(staged.path),
        graft.WorkDirs.create("graft_neardupgate_run_"))(staged.stream) { b =>
      graft.operators.Dedup.neardupAdmission(idxSigs,
          graft.operators.Dedup.minhashSignatures(
            b.select(col("doc_id"), col("text")), "text", "doc_id"),
          "doc_id", rejectAgree = rejectAgree)
        .join(b.select(col("doc_id"), col("wave")), Seq("doc_id"))
        .select(col("doc_id"), col("wave"), col("n_partners"),
          col("best_match_id"), col("best_agree"), col("admitted"))
    }
  }

  /** STREAMING topic-mixture monitor: the q252 keyword tagger
    * ([[graft.operators.Blocklist.categorize]] — one Aho-Corasick
    * pass, stateless) applied per crawl-wave micro-batch, rolled up
    * to one (wave, topic, n_docs) row per topic — the at-ingest
    * mixture readout a pipeline alerts on when a wave's domain
    * balance shifts (beside the q164 corpus-health counters and the
    * q247 per-doc policy gate). foreachBatch emits one bounded
    * aggregate per wave; no state store. */
  def runStreamingTopicMonitorAvailableNow(spark: SparkSession, dir: String,
      categories: Seq[(String, Seq[String])]): DataFrame = {
    val staged = stagedDir(spark, "topicmon", dir)(
      crawlWaves(Tables.read(spark, dir, "documents"), "doc_id", "text"))
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.Row]
    replayEachBatch(spark, Seq(staged.path))(staged.stream) {
      (df: DataFrame, _: Long) =>
        buf ++= graft.operators.Blocklist.categorize(df, "doc_id", "text",
            categories)
          .groupBy(col("wave"), col("topic"))
          .agg(count(lit(1)).as("n_docs"))
          .collect()
        ()
    }
    val schema = StructType(Seq(
      StructField("wave", LongType), StructField("topic", StringType),
      StructField("n_docs", LongType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(buf.toSeq, 1), schema)
  }

  /** STREAMING DSIR gate: the importance model
    * ([[graft.operators.Curation.dsirTrain]]) is fitted OFFLINE on
    * the batch corpus (target = the mod-7 slice, raw = the rest),
    * then each crawl-wave micro-batch is scored against the FROZEN
    * bucket counts ([[graft.operators.Curation.dsirScore]]) and gated
    * at `weight ≥ thresholdMicros` — train-offline/score-online, the
    * q157 shape, for DATA SELECTION: only target-like documents pass
    * to the training corpus at ingest. Both-side add-one smoothing is
    * what makes the frozen model total on stream vocabulary. Scoring
    * aggregates per doc, so the gate runs via foreachBatch (each
    * wave file is one complete micro-batch — per-batch aggregation is
    * exact, the q164 monitor discipline). */
  def runStreamingDsirGateAvailableNow(spark: SparkSession, dir: String,
      thresholdMicros: Long): DataFrame = {
    import graft.operators.Curation
    val docs = Tables.read(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val model = Curation.dsirTrain(
      docs.filter(col("doc_id") % 7 === 0),
      docs.filter(col("doc_id") % 7 =!= 0), "text")
    val staged = stagedDir(spark, "dsirgate", dir)(crawlWaves(docs, "doc_id", "text"))
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.Row]
    replayEachBatch(spark, Seq(staged.path))(staged.stream) {
      (df: DataFrame, _: Long) =>
        buf ++= Curation.dsirScore(df, "doc_id", "text", model)
          .join(df.select(col("doc_id"), col("wave")), Seq("doc_id"))
          .select(col("doc_id"), col("wave"), col("n_tokens"),
            col("weight_micros"),
            (col("weight_micros") >= thresholdMicros).as("dsir_keep"))
          .collect()
        ()
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("wave", LongType),
      StructField("n_tokens", LongType),
      StructField("weight_micros", LongType),
      StructField("dsir_keep", org.apache.spark.sql.types.BooleanType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(buf.toSeq, 1), schema)
  }

  /** STREAMING exact-size weighted sample: the
    * [[graft.operators.Curation.weightedSampleWithoutReplacement]]
    * A-ES sample maintained over crawl waves. Because each row's
    * selection key is a pure deterministic function of (id, weight,
    * salt), a running top-k IS the batch sample of everything seen so
    * far — streaming and batch agree bit-for-bit, no approximation.
    * Per micro-batch: one distributed TakeOrdered of the batch's
    * keys, then a driver-side merge bounded at k rows — total driver
    * state is k (id, weight, key) triples whatever the stream
    * length, the reservoir-sampling memory contract.
    *
    * Output: the running sample AFTER each wave (wave, doc_id,
    * weight, key_micro) — the full trajectory, so an oracle
    * restating each wave's prefix as a batch top-k certifies every
    * intermediate sample, not just the final one. */
  def runStreamingWeightedSampleAvailableNow(spark: SparkSession,
      dir: String, k: Int = 20, salt: String = "wsr173"): DataFrame = {
    import graft.operators.Curation
    val staged = stagedDir(spark, "wsample", dir)(
      crawlWaves(Tables.read(spark, dir, "documents"), "doc_id", "n_chars"))
    // running sample: (key_micro, doc_id, weight), capped at k
    val state = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val out = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    replayEachBatch(spark, Seq(staged.path))(staged.stream) { (df: DataFrame, _: Long) =>
        val batchTop = df
          .select(col("wave"), col("doc_id"),
            col("n_chars").cast("double").as("weight"))
          .filter(col("weight") > 0.0)
          .withColumn("key_micro",
            Curation.aesKeyMicro(col("doc_id"), col("weight"), salt))
          .orderBy(col("key_micro").desc, col("doc_id").asc)
          .limit(k)
          .collect()
        if (batchTop.nonEmpty) {
          val wave = batchTop.map(_.getAs[Long]("wave")).max
          state ++= batchTop.map(r => (r.getAs[Long]("key_micro"),
            r.getAs[Long]("doc_id"), r.getAs[Double]("weight")))
          val kept = state.sortBy { case (km, id, _) => (-km, id) }.take(k)
          state.clear(); state ++= kept
          out ++= kept.map { case (km, id, w) =>
            org.apache.spark.sql.Row(wave, id, w, km) }
        }
        ()
    }
    val schema = StructType(Seq(
      StructField("wave", LongType), StructField("doc_id", LongType),
      StructField("weight", DoubleType), StructField("key_micro", LongType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(out.toSeq, 1), schema)
  }

  // --- streaming Bloom dedup (bounded-memory crawl dedup) ---------------

  case class BloomDoc(wave: Long, doc_id: Long, dig: String, shard: Long)
  case class BloomBits(bits: Array[Byte])
  case class BloomDedupOut(doc_id: Long, wave: Long, is_dup: Boolean)

  /** Bounded-memory streaming dedup: per-shard BLOOM BITS as the
    * only state. q47's exact streaming dedup carries one digest per
    * distinct document ever seen — linear state, the thing that
    * cannot run forever at crawl rate. Here state is
    * `shards × numBits` BITS, period: a document is flagged dup when
    * all its salted positions are already set (exact duplicates
    * always are — same digest, same positions; a deterministic
    * false-positive rate trades for the O(1) bound, the standard
    * crawl-frontier contract). Sharding is content-derived (md5 of
    * the digest), so identical texts always meet the same state and
    * the shard shuffle spreads uniformly. Rows are folded in
    * (wave, doc_id) order inside each group, making the decision
    * sequence — and therefore every false positive — deterministic
    * and replayable by a SQL oracle (first-setter-wins per
    * (shard, position)). */
  def streamingBloomDedup(docs: Dataset[BloomDoc], numBits: Int,
      numHashes: Int, salt: String): Dataset[BloomDedupOut] = {
    require(numBits >= 8 && numHashes >= 1, "need >=8 bits and >=1 hash")
    import docs.sparkSession.implicits._
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def bucket(dig: String, h: Int): Int =
      (java.lang.Long.parseLong(md5hex(s"$salt:$h:$dig").substring(0, 14), 16)
        % numBits).toInt
    docs.groupByKey(_.shard)
      .flatMapGroupsWithState[BloomBits, BloomDedupOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: Long, rows: Iterator[BloomDoc], state: GroupState[BloomBits]) =>
          val bits = state.getOption.map(_.bits)
            .getOrElse(new Array[Byte]((numBits + 7) / 8))
          def get(i: Int): Boolean = (bits(i >> 3) & (1 << (i & 7))) != 0
          def set(i: Int): Unit =
            bits(i >> 3) = (bits(i >> 3) | (1 << (i & 7))).toByte
          // deterministic fold order whatever the batch's row order
          val out = rows.toSeq.sortBy(r => (r.wave, r.doc_id)).map { r =>
            val ps = (0 until numHashes).map(h => bucket(r.dig, h))
            val dup = ps.forall(get)
            if (!dup) ps.foreach(set)
            BloomDedupOut(r.doc_id, r.wave, dup)
          }
          state.update(BloomBits(bits))
          out.iterator
      }
  }

  /** Drive [[streamingBloomDedup]] over a two-wave re-crawl staging:
    * wave 0 = the corpus; wave 1 = a re-crawl under new ids where
    * every third document is byte-identical (must flag dup) and the
    * rest are edits (pass, modulo the deterministic FP rate). */
  def runStreamingBloomDedupAvailableNow(spark: SparkSession, dir: String,
      numBits: Int, numHashes: Int, salt: String, shards: Int): DataFrame = {
    // this op's PER-ROW output depends on cross-file fold order
    // (first-arrival-sets-the-bits): the staged order folds wave 0 first
    val staged = stagedDir(spark, "bloomdedup", dir) {
      val docs = Tables.read(spark, dir, "documents")
      Seq(docs.select(lit(0L).as("wave"), col("doc_id"), col("text")),
        docs.select(lit(1L).as("wave"),
          (col("doc_id") + 10000000L).as("doc_id"),
          when(col("doc_id") % 3 === 0, col("text"))
            .otherwise(concat(col("text"), lit(" v1"))).as("text")))
    }
    import spark.implicits._
    drain(spark, Seq(staged.path)) { s =>
      val stream = staged.stream(s)
        .withColumn("dig", md5(col("text")))
        .withColumn("shard",
          pmod(conv(substring(md5(concat(lit("shard:"), col("dig"))), 1, 14),
            16, 10).cast("long"), lit(shards.toLong)))
        .select("wave", "doc_id", "dig", "shard")
      streamingBloomDedup(stream.as[BloomDoc], numBits, numHashes, salt).toDF()
    }
  }

  /** The query waves of the serving replays (q150, q284): every 50th
    * embedding, `vec_id % 100 = 0` as wave 0 and the rest as wave 1. */
  private def queryWaves(spark: SparkSession, dir: String): Seq[DataFrame] =
    wavesBy(Tables.read(spark, dir, "embeddings").filter(col("vec_id") % 50 === 0)
        .select(col("vec_id"), col("embedding")),
      col("vec_id") % 100 === 0, col("vec_id") % 100 =!= 0)

  /** ONLINE RETRIEVAL SERVING: a stream of query vectors answered
    * against a STATIC corpus index — the per-batch stateless form of
    * the q147 cascade. Each micro-batch runs the full certified
    * tiers (matryoshka prefix → int8 → exact, via
    * [[graft.operators.Ann.retrievalCascade]]) against the broadcast
    * static corpus and APPENDS its answers; queries are independent
    * rows, so the streamed output over any batch split is EXACTLY
    * the batch cascade over the whole query set — which is what the
    * oracle states. No state store, no watermark: serving capacity
    * is bounded by per-batch compute only, the crawl-rate contract
    * of the stateless gates (q142). At 100 TB the static side is the
    * cell-partitioned index (q149's layout); here the corpus rides a
    * broadcast like every certified cascade tier. Output:
    * (wave, q_id, rank, c_id, score, exact_rank) — wave = the
    * micro-batch the query arrived in. */
  def runStreamingRetrievalAvailableNow(spark: SparkSession, dir: String,
      prefixDim: Int, c1: Int, c2: Int, k: Int): DataFrame = {
    val staged = stagedDir(spark, "retrieval", dir)(queryWaves(spark, dir))
    val corpus = Tables.read(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    replayToParquet(spark, Seq(staged.path),
        graft.WorkDirs.create("graft_retrieval_run_"))(staged.stream) { batch =>
      val queries = batch.select(col("wave"), col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
      graft.operators.Ann.retrievalCascade(
          queries.select("vec_id", "embedding"), corpus,
          "vec_id", "vec_id", "embedding", prefixDim, c1, c2, k)
        .join(queries.select(col("vec_id").as("q_id"), col("wave")),
          Seq("q_id"))
        .select(col("wave"), col("q_id"), col("rank"), col("c_id"),
          col("score"), col("exact_rank"))
    }
  }

  // --- streaming count-min sketch ---------------------------------------

  case class CmTok(wave: Long, source: String, tok: String)
  case class CmCells(cells: Map[Int, Long])
  case class CmWaveOut(source: String, wave: Long, probe: String, est: Long)

  /** Streaming Count-Min: [[graft.operators.Sketch.countMinBuild]]'s
    * depth×width cell table carried as PER-KEY STREAMING STATE — the
    * running frequency monitor of the sketch family, beside
    * [[streamingHllDistinct]]'s cardinality. Each micro-batch folds
    * its tokens into the cells (integer adds — order- and
    * batch-split-independent, the same property that makes the batch
    * sketch's partial aggregation correct) and emits one
    * (source, wave, probe, est) row per key touched and probe token,
    * est = min over rows of the probe's cells. The cell coordinates
    * BIT-MATCH the batch operator (`cmBucket`: md5 14-hex-char
    * prefix, base-16, mod width), so a batch oracle over each wave's
    * cumulative prefix hash-matches the streamed snapshots exactly.
    * State per key is ≤ depth·width longs — O(1) in stream length. */
  def streamingCountMin(toks: Dataset[CmTok], depth: Int, width: Int,
                        salt: String, probes: Seq[String]): Dataset[CmWaveOut] = {
    require(depth >= 1 && width >= 1, "depth and width must be positive")
    require(probes.nonEmpty, "need at least one probe token")
    import toks.sparkSession.implicits._
    def bucket(item: String, h: Int): Int = {
      // identical coordinates to the SQL path:
      // pmod(conv(substring(md5(salt:h:item), 1, 14), 16, 10), width)
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$salt:$h:$item".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 14)
      (java.lang.Long.parseLong(hex, 16) % width).toInt // 56-bit, nonneg
    }
    val probeCells: Map[String, Array[Int]] =
      probes.map(p => p -> (0 until depth).map(h => h * width + bucket(p, h)).toArray).toMap
    toks.groupByKey(_.source)
      .flatMapGroupsWithState[CmCells, CmWaveOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (source: String, rows: Iterator[CmTok], state: GroupState[CmCells]) =>
          val batch = rows.toSeq
          var cells = state.getOption.map(_.cells).getOrElse(Map.empty[Int, Long])
          batch.foreach { r =>
            var h = 0
            while (h < depth) {
              val key = h * width + bucket(r.tok, h)
              cells = cells.updated(key, cells.getOrElse(key, 0L) + 1L)
              h += 1
            }
          }
          state.update(CmCells(cells))
          val wave = batch.map(_.wave).max
          probes.map { p =>
            val est = probeCells(p).map(k => cells.getOrElse(k, 0L)).min
            CmWaveOut(source, wave, p, est)
          }.iterator
      }
  }

  /** Drive [[streamingCountMin]] over the two-wave token staging. */
  def runStreamingCountMinAvailableNow(spark: SparkSession, dir: String,
                                       depth: Int, width: Int, salt: String,
                                       probes: Seq[String]): DataFrame = {
    import spark.implicits._
    val staged = tokenWaves(spark, dir)
    drain(spark, Seq(staged.path))(s =>
      streamingCountMin(staged.stream(s).as[CmTok],
        depth, width, salt, probes).toDF())
  }

  // --- streaming funnel -------------------------------------------------

  case class FunnelEvent(user_id: Long, ts_us: Long, event_type: String)
  case class FunnelProgress(stage: Int, times: Seq[Long], done: Boolean)
  case class FunnelOut(user_id: Long, t_0: Long, t_1: Long, t_2: Long)

  /** Streaming 3-stage conversion funnel — the real-time counterpart
    * of [[graft.operators.Funnel]]: per-user state machine over
    * `flatMapGroupsWithState`, advancing on the FIRST event of the
    * awaited stage strictly after the previous stage's time, emitting
    * one completion row the moment stage 3 lands. Greedy in-order
    * processing computes exactly the batch chained-min times (first
    * qualifying = minimal qualifying when events arrive time-sorted
    * per user — which time-split micro-batches guarantee). State per
    * user: one int + up to 3 longs. */
  def streamingFunnel(events: Dataset[FunnelEvent],
                      stages: Seq[String]): Dataset[FunnelOut] = {
    require(stages.size == 3, "this funnel shape is 3-stage")
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelProgress, FunnelOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[FunnelEvent], state: GroupState[FunnelProgress]) =>
          var p = state.getOption.getOrElse(FunnelProgress(0, Nil, done = false))
          val out = Seq.newBuilder[FunnelOut]
          rows.toSeq.sortBy(e => (e.ts_us, e.event_type)).foreach { e =>
            if (!p.done && p.stage < stages.size && e.event_type == stages(p.stage) &&
                (p.times.isEmpty || e.ts_us > p.times.last)) {
              p = FunnelProgress(p.stage + 1, p.times :+ e.ts_us,
                done = p.stage + 1 == stages.size)
              if (p.done)
                out += FunnelOut(uid, p.times(0), p.times(1), p.times(2))
            }
          }
          state.update(p)
          out.result().iterator
      }
  }

  // --- late-data semantics ----------------------------------------------

  /** Watermark LATE-DATA semantics, pinned end to end: a tumbling
    * hourly count in APPEND mode (only finalized windows emit) is fed
    * three micro-batches — on-time events below the 60% time mark,
    * then the rest of the on-time events (carrying the global max, so
    * the watermark lands at max − delay), then PLANTED LATE arrivals
    * (old rows, `event_id % 11 = 0`, from the first half of the
    * range). Batch 2's watermark advance EVICTS the old windows, so
    * when the late rows arrive in batch 3 their windows are already
    * finalized and the engine DROPS every one (the engine's late rule
    * is eviction-based: a late row merges fine while its window is
    * still in state — StreamOpsSpec pins the drop count). The result
    * is therefore closed-form over the batch table: counts EXCLUDING
    * the late set, for windows ending ≤ (ms-truncated max − delay).
    * Returns the rows and the number of rows the watermark dropped.
    * This is the correctness contract a 100 TB streaming ingest lives
    * by: lateness is bounded and EXPLICIT, not silently double
    * counted. */
  def runLateDataRollupAvailableNow(spark: SparkSession, dir: String,
                                    delayMinutes: Int = 10): (DataFrame, Long) = {
    val staged = stagedDir(spark, "latedata", dir) {
      val tsUs = unix_micros(col("ts"))
      val ev = graft.sources.EventsLoader.events(spark, dir)
        .select(col("event_id"), col("ts"), col("event_type"))
      val b = ev.agg(min(tsUs).as("mn"), max(tsUs).as("mx")).head()
      val (mn, mx) = (b.getLong(0), b.getLong(1))
      val isLate = col("event_id") % 11 === 0 &&
        tsUs < lit(mn + (mx - mn) / 2)
      val tsplit = mn + (mx - mn) * 3 / 5
      val onTime = ev.filter(!isLate)
      Seq(onTime.filter(tsUs < lit(tsplit)), onTime.filter(tsUs >= lit(tsplit)),
        ev.filter(isLate))
    }
    val (rows, finished) = drainQuery(spark, Seq(staged.path), OutputMode.Append())(s =>
      staged.stream(s)
        .withWatermark("ts", s"$delayMinutes minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(unix_micros(col("window.start")).as("win_start_us"),
          col("event_type"), col("n_events")))
    (rows, finished.recentProgress
      .flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum)
  }

  // --- streaming EWMA ----------------------------------------------------

  case class EwmaEvent(user_id: Long, event_id: Long, ts_us: Long, x: Double)
  case class EwmaOut(user_id: Long, event_id: Long, ts_us: Long, ewma: Double)

  /** Streaming exponentially-weighted moving average — the continuous
    * NUMERIC feature a time-series feature store maintains per key:
    * one double of state, updated s' = s·(1−α) + x·α as each event
    * arrives (first event seeds the state). Unlike the counting/
    * interval state machines (quota, funnel, SCD-2) this carries
    * float accumulation across batches, and the q101 oracle replays
    * the EXACT recursion (DuckDB recursive CTE, identical IEEE
    * expression shape s·0.75 + x·0.25), so a hash match proves the
    * engine's state path is bit-faithful, not just approximately
    * right. In-batch order is (ts, id); the staged replay is
    * time-split so arrival order respects event order. */
  def streamingEwma(stream: Dataset[EwmaEvent], alpha: Double): Dataset[EwmaOut] = {
    import stream.sparkSession.implicits._
    stream.groupByKey(_.user_id)
      .flatMapGroupsWithState[Double, EwmaOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[EwmaEvent], state: GroupState[Double]) =>
          val sorted = rows.toSeq.sortBy(r => (r.ts_us, r.event_id))
          var s = state.getOption
          val out = sorted.map { r =>
            val next = s match {
              case None => r.x
              case Some(p) => p * (1 - alpha) + r.x * alpha
            }
            s = Some(next)
            EwmaOut(uid, r.event_id, r.ts_us, next)
          }
          s.foreach(state.update)
          out.iterator
      }
  }

  /** Drive [[streamingEwma]]: signup/purchase values staged as two
    * time-split micro-batches. */
  def runStreamingEwmaAvailableNow(spark: SparkSession, dir: String,
                                   alpha: Double): DataFrame = {
    import spark.implicits._
    val staged = seriesWaves(spark, dir)
    drain(spark, Seq(staged.path))(s =>
      streamingEwma(staged.stream(s).as[EwmaEvent], alpha).toDF())
  }

  /** The signup/purchase (user_id, event_id, ts_us, x) series of the
    * EWMA and Holt replays, staged as two time-split waves. */
  private def seriesWaves(spark: SparkSession, dir: String): Staged =
    stagedDir(spark, "series", dir)(timeSplit(signupsAndPurchases(spark, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("value").as("x"))))

  private def signupsAndPurchases(spark: SparkSession, dir: String): DataFrame =
    graft.sources.EventsLoader.events(spark, dir)
      .filter(col("event_type") === "signup" || col("event_type") === "purchase")

  /** `ev` split at the midpoint of its `ts_us` range: the earlier half,
    * then the later, so arrival order respects event order. */
  private def timeSplit(ev: DataFrame): Seq[DataFrame] = {
    val mid = ev.agg(((min(col("ts_us")) + max(col("ts_us"))) / 2).cast("long"))
      .head().getLong(0)
    Seq(ev.filter(col("ts_us") < mid), ev.filter(col("ts_us") >= mid))
  }

  case class HoltEvent(user_id: Long, event_id: Long, ts_us: Long, x: Double)
  case class HoltOut(user_id: Long, event_id: Long, ts_us: Long,
                     level: Double, trend: Double)

  /** Streaming Holt double-exponential smoothing: TWO doubles of
    * per-key state (level + trend) where q101's EWMA carries one —
    * the forecasting-grade smoother (trend-aware anomaly baselines)
    * under the same bit-faithful-state discipline: every update is a
    * fixed IEEE expression pair, so a DuckDB recursive CTE replays
    * the whole per-key recursion across micro-batch boundaries
    * exactly. First observation initializes (level = x, trend = 0). */
  def streamingHolt(stream: Dataset[HoltEvent], alpha: Double,
                    beta: Double): Dataset[HoltOut] = {
    import stream.sparkSession.implicits._
    stream.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Double, Double), HoltOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[HoltEvent],
         state: GroupState[(Double, Double)]) =>
          val sorted = rows.toSeq.sortBy(r => (r.ts_us, r.event_id))
          var s = state.getOption
          val out = sorted.map { r =>
            val (l2, b2) = s match {
              case None => (r.x, 0.0)
              case Some((l, b)) =>
                // the exact expression pair the oracle replays
                val lNext = alpha * r.x + (1 - alpha) * (l + b)
                val bNext = beta * (lNext - l) + (1 - beta) * b
                (lNext, bNext)
            }
            s = Some((l2, b2))
            HoltOut(uid, r.event_id, r.ts_us, l2, b2)
          }
          s.foreach(state.update)
          out.iterator
      }
  }

  case class HwPoint(event_type: String, rn: Long, x: Double)
  case class HwOut(event_type: String, rn: Long,
                   level: Double, trend: Double, seasonal: Double)

  /** Streaming Holt-Winters ADDITIVE-SEASONAL smoothing — the
    * forecasting tier above [[streamingHolt]]: per-key state is
    * (level, trend, seasonal[period]), so the smoother tracks a
    * daily shape (period 24 over an hourly series) on top of level
    * and trend. Zero-initialized seasonals, the uniform textbook
    * update:
    * {{{
    *   l' = α(x − s_i) + (1−α)(l + b)
    *   b' = β(l' − l) + (1−β)b
    *   s_i' = γ(x − l') + (1−γ)s_i,   i = (rn−1) mod period
    * }}}
    * Every update is a fixed IEEE expression over doubles, so a
    * DuckDB recursive CTE carrying the seasonal VECTOR as a list
    * replays the whole per-key recursion across micro-batch
    * boundaries bit-exactly. State is period+2 doubles per key —
    * bounded whatever the stream length. Rows must arrive in rn
    * order across batches (the staging sorts each wave; state
    * carries between waves). */
  def streamingHoltWinters(stream: Dataset[HwPoint], period: Int,
      alpha: Double, beta: Double, gamma: Double): Dataset[HwOut] = {
    require(period >= 1, "period must be positive")
    import stream.sparkSession.implicits._
    stream.groupByKey(_.event_type)
      .flatMapGroupsWithState[(Double, Double, Array[Double]), HwOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[HwPoint],
         state: GroupState[(Double, Double, Array[Double])]) =>
          val sorted = rows.toSeq.sortBy(_.rn)
          var s = state.getOption
          val out = sorted.map { r =>
            val i = ((r.rn - 1) % period).toInt
            val next = s match {
              case None =>
                val seas = Array.fill(period)(0.0)
                // first observation: level = x ⇒ the seasonal update
                // is exactly 0.0, matching the oracle's init row
                seas(i) = gamma * (r.x - r.x) + (1 - gamma) * 0.0
                (r.x, 0.0, seas)
              case Some((l, b, seas)) =>
                val sp = seas(i)
                // the exact expression triple the oracle replays
                val lN = alpha * (r.x - sp) + (1 - alpha) * (l + b)
                val bN = beta * (lN - l) + (1 - beta) * b
                val s2 = seas.clone()
                s2(i) = gamma * (r.x - lN) + (1 - gamma) * sp
                (lN, bN, s2)
            }
            s = Some(next)
            HwOut(key, r.rn, next._1, next._2, next._3(i))
          }
          s.foreach(state.update)
          out.iterator
      }
  }

  /** Drive [[streamingHoltWinters]] over the per-type HOURLY series:
    * hourly value-cents sums (exact integers in doubles) indexed by
    * rn = the hour's rank within its type, staged as two rn-ordered
    * waves so the seasonal state demonstrably carries across
    * micro-batch boundaries. */
  def runStreamingHoltWintersAvailableNow(spark: SparkSession, dir: String,
      period: Int, alpha: Double, beta: Double, gamma: Double): DataFrame = {
    import spark.implicits._
    val staged = stagedDir(spark, "holtwinters", dir) {
      val hourly = graft.sources.EventsLoader.events(spark, dir)
        .groupBy(col("event_type"),
          date_trunc("hour", col("ts")).as("__h"))
        .agg(sum(round(col("value") * 100).cast("long")).cast("double")
          .as("x"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("event_type")).orderBy(col("__h")))
          .cast("long"))
        .select(col("event_type"), col("rn"), col("x"))
      val mid = hourly.agg(((min(col("rn")) + max(col("rn"))) / 2)
        .cast("long")).head().getLong(0)
      Seq(hourly.filter(col("rn") < mid), hourly.filter(col("rn") >= mid))
        .map(_.orderBy("event_type", "rn"))
    }
    drain(spark, Seq(staged.path))(s =>
      streamingHoltWinters(staged.stream(s).as[HwPoint], period, alpha, beta, gamma)
        .toDF())
  }

  /** Drive [[streamingHolt]] over the q101 staging shape. */
  def runStreamingHoltAvailableNow(spark: SparkSession, dir: String,
                                   alpha: Double, beta: Double): DataFrame = {
    import spark.implicits._
    val staged = seriesWaves(spark, dir)
    drain(spark, Seq(staged.path))(s =>
      streamingHolt(staged.stream(s).as[HoltEvent], alpha, beta).toDF())
  }

  // --- streaming SCD-2 --------------------------------------------------

  case class Scd2Event(user_id: Long, event_id: Long, ts_us: Long,
                       value_milli: Long)
  case class Scd2Interval(user_id: Long, event_id: Long, valid_from: Long,
                          valid_to: Long, value_milli: Long)

  /** Streaming SCD type-2: per-key state holds the OPEN version; each
    * arriving change event closes it, emitting the finished
    * [valid_from, valid_to) row — the warehouse history table built
    * incrementally as changes arrive, instead of q80's batch window
    * over the full log. State per key is ONE open version (the
    * minimum any SCD-2 writer must hold); output is append-only
    * closed intervals, exactly the batch `lead()` form restricted to
    * `valid_to IS NOT NULL`, which is what the oracle states.
    * Within a batch events sort by (ts, id); across batches the
    * staged replay is time-split so arrival order respects event
    * order (a production feed gets that from the upstream log's
    * per-key ordering). */
  def streamingScd2(stream: Dataset[Scd2Event]): Dataset[Scd2Interval] = {
    import stream.sparkSession.implicits._
    stream.groupByKey(_.user_id)
      .flatMapGroupsWithState[Scd2Event, Scd2Interval](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[Scd2Event], state: GroupState[Scd2Event]) =>
          val sorted = rows.toSeq.sortBy(r => (r.ts_us, r.event_id))
          val out = scala.collection.mutable.ArrayBuffer.empty[Scd2Interval]
          var open = state.getOption
          sorted.foreach { r =>
            open.foreach { p =>
              out += Scd2Interval(uid, p.event_id, p.ts_us, r.ts_us, p.value_milli)
            }
            open = Some(r)
          }
          open.foreach(state.update)
          out.iterator
      }
  }

  /** Drive [[streamingScd2]]: signup/purchase change events staged as
    * two time-split micro-batches. */
  def runStreamingScd2AvailableNow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val staged = stagedDir(spark, "scd2", dir)(timeSplit(signupsAndPurchases(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
        round(col("value") * 1000).cast("long").as("value_milli"))))
    drain(spark, Seq(staged.path))(s =>
      streamingScd2(staged.stream(s).as[Scd2Event]).toDF())
  }

  /** Drive [[streamingFunnel]] through the engine: events staged as
    * two time-split waves (cross-batch state carries partial
    * progress). */
  def runStreamingFunnelAvailableNow(spark: SparkSession, dir: String,
                                     stages: Seq[String]): DataFrame = {
    import spark.implicits._
    val staged = stagedDir(spark, "funnel", dir)(timeSplit(
      graft.sources.EventsLoader.events(spark, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_type"))))
    drain(spark, Seq(staged.path))(s =>
      streamingFunnel(staged.stream(s).as[FunnelEvent], stages).toDF())
  }

  // --- streaming exact dedup --------------------------------------------

  /** Streaming exact dedup: suppress re-arrivals of already-seen
    * content across micro-batches. State is keyed by the content
    * digest and expires via the watermark
    * (`dropDuplicatesWithinWatermark`), so an unbounded crawl stream
    * runs forever with BOUNDED state — the property a plain streaming
    * `dropDuplicates` lacks (its digest state grows with every
    * distinct document ever seen). A re-crawl inside the watermark
    * horizon is dropped; one arriving after the state expired is
    * re-emitted and left to a downstream batch exact-dedup
    * ([[graft.operators.Dedup.exactDuplicates]]) — the standard
    * split of duties at 100 TB: the stream keeps the horizon clean,
    * the batch pass owns history. */
  def streamingExactDedup(stream: DataFrame, textCol: String, tsCol: String,
                          watermarkDelay: String = "10 minutes"): DataFrame =
    stream
      .withColumn("text_md5", md5(col(textCol)))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("text_md5")

  /** Run [[streamingExactDedup]] over staged (doc_id, version, text)
    * files — one micro-batch per file, event time derived from the
    * version — and return the emitted (first-arrival) rows. */
  def runStreamingDedupAvailableNow(spark: SparkSession, stagingDir: String,
                                    watermarkDelay: String = "10 minutes"): DataFrame =
    drain(spark, Seq(stagingDir))(s =>
      streamingExactDedup(dedupSource(s, stagingDir), "text", "ts", watermarkDelay))

  private[graft] def dedupSource(spark: SparkSession, stagingDir: String): DataFrame =
    Staged(stagingDir, upsertSchema).stream(spark)
      // synthetic event time: one minute per version, so every batch's
      // watermark trails all retained state during the drain
      .withColumn("ts",
        expr("timestamp_micros(1700000000000000 + version * 60000000)"))

  /** Streaming INGEST pipeline — PII scrub → length quality gate →
    * cross-batch exact dedup, composed and run UNDER the streaming
    * engine: proves the curation projections are streaming-safe (pure
    * per-row maps compose with the watermarked dedup state with no
    * batch-only constructs) — the "your crawl ingest is a stream job"
    * posture. Batch twin = the same chain over the staged union,
    * which is what the q100 oracle states. */
  def runStreamIngestAvailableNow(spark: SparkSession, stagingDir: String,
                                  minChars: Int): DataFrame =
    drain(spark, Seq(stagingDir)) { s =>
      val scrubbed = graft.operators.Scrub.scrubPii(dedupSource(s, stagingDir), "text")
        .filter(length(col("scrubbed")) >= minChars)
      streamingExactDedup(scrubbed, "scrubbed", "ts")
    }

  /** RESUMABLE dedup drain — a durable (parquet) sink plus a FIXED
    * checkpoint, so a later invocation with the same locations
    * RESTARTS the query: already-processed source files are skipped
    * and the dedup state store is restored, meaning a re-crawled
    * duplicate arriving after the restart is still suppressed and no
    * emitted row is ever duplicated — the exactly-once-across-
    * restarts contract (memory sinks cannot recover a checkpoint,
    * which is why the driver-facing runner above uses a fresh one per
    * drain). Returns the CUMULATIVE sink contents. */
  def runStreamingDedupResumable(spark: SparkSession, stagingDir: String,
                                 outDir: String, checkpoint: String,
                                 watermarkDelay: String = "10 minutes"): DataFrame = {
    replay(spark, Seq(stagingDir))(s => streamingExactDedup(
        dedupSource(s, stagingDir), "text", "ts", watermarkDelay))(
      _.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", checkpoint)
        .outputMode(OutputMode.Append()))
    spark.read.parquet(outDir)
  }

  // --- incremental embedding upsert (SURVEY §2.9) -----------------------

  /** Schema of the staged upsert source files. */
  private val upsertSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("version", LongType),
    StructField("text", StringType)))

  /** Pin strictly increasing modification times (2 s apart, ending
    * now) on the given staged files, in order — FileStreamSource
    * sorts by mtime with an unspecified tie-break, and same-clock-tick
    * staging would otherwise leave multi-file processing order to the
    * filesystem's listing. */
  private def forceMtimeOrder(paths: Seq[String]): Unit = {
    val base = System.currentTimeMillis() - 2000L * paths.size
    paths.zipWithIndex.foreach { case (p, i) =>
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(p),
        java.nio.file.attribute.FileTime.fromMillis(base + 2000L * (i + 1)))
    }
  }

  /** Write `df` as ONE parquet FILE at `filePath` (FileStreamSource
    * lists plain files; a Spark output directory would not glob as
    * one unit). */
  def stageVersionFile(df: DataFrame, filePath: String): Unit = {
    val spark = df.sparkSession
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(filePath + "__tmpdir")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = fs.globStatus(new org.apache.hadoop.fs.Path(tmp, "part-*.parquet"))(0).getPath
    val dst = new org.apache.hadoop.fs.Path(filePath)
    fs.delete(dst, false)
    fs.rename(part, dst)
    fs.delete(tmp, true)
  }

  /** Merge one arriving (already embedded) batch into the parquet
    * target: last-writer-wins per doc_id, the winner being the MAX
    * `version` — deliberately order-independent, so the result is
    * identical whatever order the streaming source delivers files in
    * (and identical to the batch SQL oracle). Existing rows keep
    * their stored embeddings; only arriving rows were embedded.
    *
    * The target is PARTITIONED by `bucket = doc_id mod nBuckets`, and
    * a batch rewrites ONLY the buckets its doc_ids land in: read side
    * prunes to the touched partitions, write side swaps just those
    * bucket directories. Per-batch cost is O(|batch| + |touched
    * buckets|), NOT O(|target|) — the property that lets the upsert
    * survive a 100 TB target (size nBuckets so one bucket is an
    * executor-memory-sized slice). The directory swap is the plain-FS
    * stand-in for dynamic partition overwrite / a table format's
    * MERGE (Delta / Iceberg), which replace the same per-partition
    * commit transactionally on a real cluster. */
  private def upsertBatch(batch: DataFrame, targetDir: String,
                          embedder: graft.embed.Embedder, nBuckets: Int): Unit = {
    val bucketOf = pmod(col("doc_id"), lit(nBuckets.toLong))
    // Touched buckets from the RAW batch, before the embed stage — a
    // scan of the one staged file yielding ≤ nBuckets small integers:
    // partition METADATA (the same list dynamic partition overwrite
    // discovers), not a data collect.
    val touched = batch.select(bucketOf.as("bucket")).distinct()
      .collect().map(_.getLong(0)).toSeq
    // only arriving rows are embedded — once, inside the merge job
    val inc = embedder.embed(batch, "text", "embedding")
      .withColumn("bucket", bucketOf)
    mergeTouchedPartitions(inc, targetDir, "bucket", touched)
  }

  /** The shared merge core of the partitioned upserts: union the
    * arriving rows with the target's TOUCHED partition dirs only,
    * merge max-version-wins per doc, rewrite one file per touched
    * partition, and swap just those directories.
    *
    * ONE shuffle for the whole merge: re-key on the partition column
    * first (each partition lands in exactly one task → one file per
    * touched dir instead of tasks × partitions small files), then
    * window on (partition, doc_id) — the partition value is a
    * function of the row, so the grouping is semantically per-doc,
    * and HashPartitioning(partition) satisfies the window's
    * ClusteredDistribution(partition, doc_id): no second exchange
    * (the pre-round-7 form windowed on doc_id and re-keyed
    * afterwards, paying the exchange twice per micro-batch). */
  private def mergeTouchedPartitions(inc: DataFrame, targetDir: String,
                                     partCol: String, touched: Seq[Long]): Unit = {
    val spark = inc.sparkSession
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val target = new org.apache.hadoop.fs.Path(targetDir)
    val unioned =
      if (fs.exists(target))
        spark.read.parquet(targetDir)
          // partition-dir inference types the column as int; align with inc
          .withColumn(partCol, col(partCol).cast("long"))
          .filter(col(partCol).isin(touched: _*)) // partition pruning
          .unionByName(inc)
      else inc
    val w = Window.partitionBy(col(partCol), col("doc_id"))
      .orderBy(col("version").desc)
    val merged = unioned
      .repartition(col(partCol))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
    val delta = new org.apache.hadoop.fs.Path(targetDir + "__delta")
    merged.write.mode("overwrite").partitionBy(partCol).parquet(delta.toString)
    if (!fs.exists(target)) fs.mkdirs(target)
    // swap ONLY the touched partition directories (globStatus lists
    // just the dirs the delta actually wrote — untouched partitions
    // keep their bytes, which StreamOpsSpec proves by mtime)
    fs.globStatus(new org.apache.hadoop.fs.Path(delta, s"$partCol=*")).foreach { st =>
      val dst = new org.apache.hadoop.fs.Path(target, st.getPath.getName)
      fs.delete(dst, true)
      fs.rename(st.getPath, dst)
    }
    fs.delete(delta, true)
  }

  /** Incremental ANN-INDEX maintenance: the [[embeddingUpsert]] merge
    * with the IVF cell as the partition key. Arriving documents are
    * embedded, assigned to their nearest codebook cell
    * ([[graft.operators.Ann.ivfAssign]] — broadcast centroids, top-1
    * bounded aggregate), and merged max-version-wins into a
    * cell-partitioned parquet index; only the cells a batch touches
    * are rewritten. An IVF search ([[graft.operators.Ann.ivfTopK]]'s
    * probe side) over the target then prunes to its probed cells at
    * the SCAN — the index stays queryable while it absorbs updates,
    * no full rebuild. The codebook is the frozen operating parameter
    * (retrain + full re-partition is the rare offline event, exactly
    * as in FAISS-style IVF deployments).
    *
    * LSM-style staleness contract: a re-embedded document can MIGRATE
    * cells, and its previous cell is not touched by the batch — the
    * old row stays behind. Readers therefore resolve max-version-per-
    * doc over their probed candidates (cheap: candidate sets are
    * k-sized), and [[ivfIndexCompact]] is the offline sweep that
    * removes stale rows — the delete-log/compaction split every
    * updatable ANN index makes. */
  def ivfIndexUpsert(spark: SparkSession, stagingDir: String, targetDir: String,
                     checkpointDir: String,
                     embedder: graft.embed.Embedder,
                     codebook: DataFrame): Unit = {
    replayEachBatch(spark, Seq(stagingDir), Some(checkpointDir))(
        Staged(stagingDir, upsertSchema).stream) { (batch: DataFrame, _: Long) =>
      val assigned = graft.operators.Ann.ivfAssign(
          embedder.embed(batch, "text", "embedding"),
          "doc_id", "embedding", codebook, "cell", "cvec")
        .withColumn("cell", col("cell").cast("long"))
        .cache() // the touched-cell collect below reuses the embed+assign
      try {
        val touched = assigned.select(col("cell")).distinct()
          .collect().map(_.getLong(0)).toSeq
        mergeTouchedPartitions(assigned, targetDir, "cell", touched)
      } finally assigned.unpersist()
    }
  }

  /** Offline compaction for [[ivfIndexUpsert]]'s staleness contract:
    * keep the max-version row per doc across ALL cells (one doc_id
    * shuffle — a migrated doc's rows live in different cells, so the
    * per-cell merge cannot see them together), re-key by cell, and
    * swap every cell directory. O(index) by design — the rare
    * amortized sweep, not the per-batch path. */
  def ivfIndexCompact(spark: SparkSession, targetDir: String): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val target = new org.apache.hadoop.fs.Path(targetDir)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("version").desc)
    val merged = spark.read.parquet(targetDir)
      .withColumn("cell", col("cell").cast("long"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
      .repartition(col("cell"))
    val delta = new org.apache.hadoop.fs.Path(targetDir + "__compact")
    merged.write.mode("overwrite").partitionBy("cell").parquet(delta.toString)
    // full swap: a cell can lose all its rows, so stale dirs must go
    fs.globStatus(new org.apache.hadoop.fs.Path(target, "cell=*"))
      .foreach(st => fs.delete(st.getPath, true))
    fs.globStatus(new org.apache.hadoop.fs.Path(delta, "cell=*")).foreach { st =>
      fs.rename(st.getPath, new org.apache.hadoop.fs.Path(target, st.getPath.getName))
    }
    fs.delete(delta, true)
  }

  /** STREAMING IVF-PQ INDEX MAINTENANCE — [[ivfIndexUpsert]] extended
    * to the PQ-code tier: arriving (doc_id, version, embedding) rows
    * are coarse-assigned to their nearest cell under the EXACT
    * integer-micro L2 (ties → lowest cell, the
    * [[graft.operators.Cluster.kmeansMicroModel]] convention) AND
    * PQ-encoded against the FROZEN codebooks inside the micro-batch
    * ([[graft.operators.Ann.pqEncode]] — the q272 frozen-model
    * posture), then merged max-version-wins into the cell-partitioned
    * index with the codes packed as an m-wide array per row (the
    * FAISS inverted-list layout: the scan side reads m codes, never
    * floats). Only touched cell directories rewrite; a re-embedded
    * doc that migrates cells leaves its stale row behind under the
    * SAME staleness contract as [[ivfIndexUpsert]] (readers resolve
    * max-version over probed candidates; [[ivfIndexCompact]] sweeps).
    * Coarse centroids and codebooks are frozen operating parameters —
    * retrain + full re-encode is the rare offline event. */
  def ivfPqIndexUpsert(spark: SparkSession, stagingDir: String,
      targetDir: String, checkpointDir: String,
      coarseCentroids: DataFrame, codebooks: DataFrame,
      m: Int, subDim: Int): Unit = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("version", LongType),
      StructField("embedding", ArrayType(DoubleType))))
    replayEachBatch(spark, Seq(stagingDir), Some(checkpointDir))(
        Staged(stagingDir, schema).stream) { (batch: DataFrame, _: Long) =>
        val assigned = batch
          .withColumn("__vq", graft.operators.Cluster.microQuantize(
            col("embedding")))
          .crossJoin(broadcast(coarseCentroids.select(
            col("cell").cast("long").as("__cell"), col("cvec"))))
          .withColumn("__d2", graft.operators.Cluster.dist2(
            col("__vq"), col("cvec")))
          .groupBy(col("doc_id"))
          .agg(first(col("version")).as("version"),
            first(col("embedding")).as("embedding"),
            min(struct(col("__d2"), col("__cell"))).as("__b"))
          .select(col("doc_id"), col("version"), col("embedding"),
            col("__b").getField("__cell").as("cell"))
        val codes = graft.operators.Ann.pqEncode(assigned, "doc_id",
            "embedding", codebooks, m, subDim)
          .groupBy(col("doc_id"))
          .agg(transform(sort_array(collect_list(struct(col("sub"),
              col("code")))), x => x.getField("code")).as("codes"))
        val inc = assigned
          .join(codes, Seq("doc_id"))
          .select(col("cell"), col("doc_id"), col("version"), col("codes"))
          .cache() // the touched-cell collect below reuses assign+encode
        try {
          val touched = inc.select(col("cell")).distinct()
            .collect().map(_.getLong(0)).toSeq
          mergeTouchedPartitions(inc, targetDir, "cell", touched)
        } finally inc.unpersist()
    }
  }

  /** The q279 replay: [[ivfPqIndexUpsert]] driven end-to-end through
    * the real engine — coarse quantizer + PQ codebooks trained ONCE on
    * the corpus (the frozen operating parameters, q257/q265's tiers
    * and salts), then two staged waves: every vector at version 1,
    * then every 7th vector RE-EMBEDDED at version 2 as its coordinate
    * REVERSAL — a model refresh produces an unrelated vector, and
    * reversal is that, exactly replayable with zero arithmetic — so
    * docs migrate cells and the staleness contract is exercised
    * inside the hashed result. Returns the raw index contents (cell, vec_id,
    * version, codes); the oracle retrains both tiers and replays
    * assignment, encoding, and the per-(cell, doc) max-version merge. */
  def runStreamingPqIndexAvailableNow(spark: SparkSession,
      dir: String): DataFrame = {
    // frozen operating parameters from the memoized raw board — the
    // SAME (kCells=8, coarse=2, m=8, k=8, iter=1) tiers q266's cheap
    // raw preset trains ([[graft.operators.Ann.rawPqIndexMemo]]);
    // microQuantize widens float→double exactly, so training off the
    // uncast parquet column is bit-identical to the cast frame here
    val idx = graft.operators.Ann.rawPqIndexMemo(spark, dir,
      kCells = 8, coarseIterations = 2, m = 8, subDim = 8, kCodes = 8,
      pqIterations = 1)
    val coarse = graft.operators.Cluster.KmeansMicroModel(
      idx.assign, idx.centroids)
    val books = idx.books
    val staged = stagedDir(spark, "pqidx", dir) {
      val e = Tables.read(spark, dir, "embeddings")
        .select(col("vec_id").as("doc_id"),
          col("embedding").cast("array<double>").as("embedding"))
      Seq(e.select(col("doc_id"), lit(1L).as("version"), col("embedding")),
        e.filter(col("doc_id") % 7 === 0)
          .select(col("doc_id"), lit(2L).as("version"),
            reverse(col("embedding")).as("embedding")))
    }
    val work = graft.WorkDirs.create("graft_pqidx_run_")
    ivfPqIndexUpsert(spark, staged.path, s"$work/target", s"$work/ckpt",
      coarse.centroids, books, m = 8, subDim = 8)
    spark.read.parquet(s"$work/target")
      .select(col("cell").cast("long").as("cell"),
        col("doc_id").as("vec_id"), col("version"), col("codes"))
  }

  /** STREAMING GRAPH-ANN SERVING — the q150 retrieval-cascade posture
    * for the graph tier: the NN-descent index (edge frame + corpus
    * vectors) is FROZEN state built once before the stream opens
    * ([[graft.operators.Ann.nnDescentGraphMemo]] — shared with q280's
    * batch board, so the board trains the index exactly once); each
    * query wave runs the fixed-hop beam walk inside its micro-batch
    * and appends. The walk is STATELESS given the frozen graph, so
    * batch ≡ streaming per query by construction — the oracle replays
    * the full query set through the q280 chain and derives the wave
    * from the id. At crawl rate this is the serving half of an
    * LSM-style vector index: queries stream, the graph refreshes on
    * compaction (the q279 maintenance contract's read side). */
  def runStreamingGraphServeAvailableNow(spark: SparkSession, dir: String,
      degree: Int, rounds: Int, beam: Int, hops: Int,
      topK: Int): DataFrame = {
    val staged = stagedDir(spark, "graphserve", dir)(queryWaves(spark, dir))
    val corpus = Tables.read(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val graph = graft.operators.Ann.nnDescentGraphMemo(
      spark, dir, degree, rounds)
    replayToParquet(spark, Seq(staged.path),
        graft.WorkDirs.create("graft_graphserve_run_"))(staged.stream) { b =>
      graft.operators.Ann.graphBeamTopK(graph,
          b.select(col("vec_id"), col("embedding")), corpus,
          "vec_id", "embedding", beam, hops, topK)
        .join(b.select(col("vec_id").as("q_id"), col("wave")),
          Seq("q_id"))
        .select(col("wave"), col("q_id"), col("rank"),
          col("vec_id"), col("dist2"), col("exact_rank"))
    }
  }

  /** STREAMING SEMANTIC-DRIFT MONITOR — q299's MAUVE-lite frontier
    * run at ingest: the reference corpus's k-means model and cell
    * histogram are FROZEN state built before the stream opens
    * (pinned with `localCheckpoint`, the memo discipline); each
    * arriving wave of embeddings is assigned to the frozen centroids
    * ([[graft.operators.Cluster.assignToCentroids]] — exact
    * integer-micro argmin, bit-identical to the training
    * assignment) and its cell histogram compared to the reference
    * through the quantized-KL mixture frontier. One (wave, λ) row
    * per grid point per micro-batch — the alarm that a crawl
    * snapshot stopped looking like the corpus it feeds. Stateless
    * given the frozen model, so streaming ≡ batch per wave by
    * construction; the oracle retrains the reference model and
    * replays assignment + frontier per wave. */
  def runStreamingSemanticDriftAvailableNow(spark: SparkSession,
      dir: String, k: Int, iterations: Int, grid: Int): DataFrame = {
    val e = Tables.read(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), col("label"))
    val model = graft.operators.Cluster.kmeansMicroModel(
      e.filter(col("label") < 5).select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", k, iterations, "drift")
    val centroids = model.centroids.localCheckpoint(true)
    val refCells = model.assign.select(col("cell"))
      .withColumn("is_p", lit(true)).localCheckpoint(true)
    val staged = stagedDir(spark, "semdrift", dir)(
      wavesBy(e.filter(col("label") >= 5).select(col("vec_id"), col("embedding")),
        col("vec_id") % 3 === 0, col("vec_id") % 3 =!= 0))
    replayToParquet(spark, Seq(staged.path),
        graft.WorkDirs.create("graft_semdrift_run_"))(staged.stream) { b =>
      val wave = b.select(col("wave")).head().getLong(0)
      val asg = graft.operators.Cluster.assignToCentroids(
        b, "vec_id", "embedding", centroids)
      val uni = refCells.unionByName(
        asg.select(col("cell")).withColumn("is_p", lit(false)))
      graft.operators.Cluster.divergenceFrontier(uni, "cell",
          "is_p", grid)
        .withColumn("wave", lit(wave))
        .select(col("wave"), col("lambda_num"), col("kl_p_nano"),
          col("kl_q_nano"))
    }
  }

  /** STREAMING CDC MERGE — the delete-aware sibling of
    * [[embeddingUpsert]], closing the §2.9 gap that no streaming
    * operator handled tombstones: each micro-batch of
    * `(o_orderkey, seq, op, o_orderstatus, price_cents)` change rows
    * merges into the bucketed parquet target with max-seq-wins per
    * key, and a winning `D` removes the key from the touched
    * partition on the spot. Tombstones collapse immediately under
    * the CDC log's usual contract — batch order is seq-monotone per
    * key (a log replayed out of order would instead retain
    * tombstones until compaction; that trade is the q149 LSM note).
    * Per batch only the touched buckets rewrite — the
    * [[embeddingUpsert]] partition-swap discipline. */
  def cdcStreamMerge(spark: SparkSession, stagingDir: String,
      targetDir: String, checkpointDir: String,
      nBuckets: Int = 16): Unit = {
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("seq", LongType),
      StructField("op", StringType),
      StructField("o_orderstatus", StringType),
      StructField("price_cents", LongType)))
    replayEachBatch(spark, Seq(stagingDir), Some(checkpointDir))(
        Staged(stagingDir, schema).stream)(
      (batch: DataFrame, _: Long) => cdcMergeBatch(batch, targetDir, nBuckets))
  }

  private def cdcMergeBatch(batch: DataFrame, targetDir: String,
      nBuckets: Int): Unit = {
    val spark = batch.sparkSession
    val bucketOf = pmod(col("o_orderkey"), lit(nBuckets.toLong))
    val touched = batch.select(bucketOf.as("bucket")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val inc = batch.withColumn("bucket", bucketOf)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val target = new org.apache.hadoop.fs.Path(targetDir)
    val unioned =
      if (fs.exists(target))
        spark.read.parquet(targetDir)
          .withColumn("bucket", col("bucket").cast("long"))
          .filter(col("bucket").isin(touched: _*))
          .unionByName(inc)
      else inc
    val w = Window.partitionBy(col("bucket"), col("o_orderkey"))
      .orderBy(col("seq").desc)
    val merged = unioned
      .repartition(col("bucket"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
      .filter(col("op") =!= "D") // seq-monotone staging: tombstone collapses
    val delta = new org.apache.hadoop.fs.Path(targetDir + "__delta")
    merged.write.mode("overwrite").partitionBy("bucket")
      .parquet(delta.toString)
    if (!fs.exists(target)) fs.mkdirs(target)
    fs.globStatus(new org.apache.hadoop.fs.Path(delta, "bucket=*"))
      .foreach { st =>
        val dst = new org.apache.hadoop.fs.Path(target, st.getPath.getName)
        fs.delete(dst, true)
        fs.rename(st.getPath, dst)
      }
    fs.delete(delta, true)
  }

  /** Incremental embedding upsert, end to end: stream staged
    * (doc_id, version, text) files one micro-batch per file, embed
    * ONLY the rows that arrive, and upsert them into `targetDir` with
    * max-version-wins semantics. AvailableNow drains the staging
    * directory and terminates.
    *
    * `nBuckets` sizes the target's hash partitioning: pick it so ONE
    * bucket is an executor-memory-sized slice of the final target
    * (per-batch cost is |batch| + the touched buckets' bytes — the
    * ScaleProbe `upsert_fixed_batch` row measures this staying flat
    * when buckets are sized to the target). */
  def embeddingUpsert(spark: SparkSession, stagingDir: String, targetDir: String,
                      checkpointDir: String,
                      embedder: graft.embed.Embedder,
                      nBuckets: Int = 16): Unit = {
    replayEachBatch(spark, Seq(stagingDir), Some(checkpointDir))(
        Staged(stagingDir, upsertSchema).stream)(
      (batch: DataFrame, _: Long) => upsertBatch(batch, targetDir, embedder, nBuckets))
  }
}
