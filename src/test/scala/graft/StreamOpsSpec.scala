package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.matchers.should.Matchers

import graft.streaming.StreamOps

class StreamOpsSpec extends SparkSpec with Matchers {
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00")

  private lazy val events = Seq(
    (1L, ts(0), 100L, "click", 1.0),
    (2L, ts(10), 100L, "click", 2.0),   // same session (gap 10m)
    (3L, ts(55), 100L, "view", 3.0),    // gap 45m → new session
    (4L, ts(5), 200L, "click", 4.0))    // other user
    .toDF("event_id", "ts", "user_id", "event_type", "value")

  test("sessionize: 30-min gap splits sessions per user; aggregates are exact") {
    val out = StreamOps.sessionize(events, gapMinutes = 30)
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_id")) -> r).toMap
    out.keySet shouldBe Set((100L, 1L), (100L, 2L), (200L, 1L))
    val s1 = out((100L, 1L))
    s1.getAs[Long]("n_events") shouldBe 2L
    s1.getAs[String]("session_start") shouldBe "2026-01-01 10:00:00"
    s1.getAs[String]("session_end") shouldBe "2026-01-01 10:10:00"
    s1.getAs[Long]("value_milli") shouldBe 3000L
    out((100L, 2L)).getAs[Long]("n_events") shouldBe 1L
  }

  test("hourlyRollup and slidingRollup shapes") {
    val hourly = StreamOps.hourlyRollup(events).collect()
    hourly.map(_.getAs[String]("hour")).distinct.toSeq shouldBe Seq("2026-01-01 10:00")
    hourly.map(_.getAs[Long]("n_events")).sum shouldBe 4L
    // sliding 1h/30m: every event lands in exactly 2 windows
    val sliding = StreamOps.slidingRollup(events).collect()
    sliding.map(_.getAs[Long]("n_events")).sum shouldBe 8L
  }

  test("sessionizeStream (flatMapGroupsWithState, event-time timeout) closes a session past the gap") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val query = StreamOps.sessionizeStream(
        input.toDS().toDF("user_id", "ts", "value"), gapMinutes = 30)
      .writeStream.format("memory").queryName("graft_sessions_test")
      .outputMode("append").start()
    try {
      input.addData((100L, ts(0), 1.0), (100L, ts(10), 2.0))
      query.processAllAvailable()
      // session still open — nothing emitted yet
      spark.table("graft_sessions_test").count() shouldBe 0L
      // an in-stream event past the gap closes the first session
      input.addData((100L, ts(55), 3.0))
      query.processAllAvailable()
      val closed = spark.table("graft_sessions_test").collect()
      closed.length shouldBe 1
      closed.head.getAs[Long]("n_events") shouldBe 2L
      closed.head.getAs[Long]("value_milli") shouldBe 3000L
      closed.head.getAs[Long]("session_start_ms") shouldBe ts(0).getTime
      closed.head.getAs[Long]("session_end_ms") shouldBe ts(10).getTime
      // advance the watermark far past the open session's horizon:
      // the event-time timeout flushes it without any user-100 event
      input.addData((999L, Timestamp.valueOf("2026-01-01 14:00:00"), 0.0))
      query.processAllAvailable()
      input.addData((999L, Timestamp.valueOf("2026-01-01 15:00:00"), 0.0))
      query.processAllAvailable()
      val flushed = spark.table("graft_sessions_test")
        .collect().filter(_.getAs[Long]("user_id") == 100L)
      flushed.length shouldBe 2 // first session + timed-out second session
    } finally query.stop()
  }

  test("streaming hourly rollup equals the batch rollup (AvailableNow, sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    val streamed = StreamOps.runHourlyRollupAvailableNow(spark, dir)
      .orderBy("hour", "event_type").collect().toSeq
        val batch = StreamOps.hourlyRollup(
        graft.sources.EventsLoader.events(spark, dir))
      .orderBy("hour", "event_type").collect().toSeq
    streamed shouldBe batch
  }

  test("native session_window: an event at exactly start+gap still MERGES " +
      "(inclusive gap, same split rule as sessionize)") {
    val ev = Seq(
      (1L, ts(0), 100L, "view", 1.0),
      (2L, ts(30), 100L, "view", 1.0),  // exactly 30 min later -> merges
      (3L, ts(40), 100L, "view", 1.0),  // 10 min after -> merges
      (4L, ts(0), 200L, "view", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val sessions = ev
      .groupBy($"user_id", session_window($"ts", "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n"))
      .select($"user_id", $"sw.start", $"n")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString) -> r.getLong(2)).toMap
    sessions shouldBe Map(
      (100L, "2026-01-01 10:00:00.0") -> 3L,
      (200L, "2026-01-01 10:00:00.0") -> 1L)
  }

  test("stream-stream interval join equals the batch interval join (sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    val streamed = StreamOps.runClickAttributionAvailableNow(spark, dir, 120)
      .orderBy("purchase_id", "click_id").collect().toSeq
    val ev = graft.sources.EventsLoader.events(spark, dir)
    val batch = StreamOps.clickAttribution(
        ev.filter($"event_type" === "purchase"),
        ev.filter($"event_type" === "click"), 120)
      .orderBy("purchase_id", "click_id").collect().toSeq
    streamed.nonEmpty shouldBe true
    streamed shouldBe batch
  }

  test("LEFT-OUTER stream-stream join: null rows emit on watermark eviction " +
      "and equal the batch left join (sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    val streamed = StreamOps.runClickAttributionOuterAvailableNow(spark, dir, 120)
      .orderBy("purchase_id", "click_id").collect().toSeq
    val ev = graft.sources.EventsLoader.events(spark, dir)
    val batch = StreamOps.clickAttribution(
        ev.filter($"event_type" === "purchase"),
        ev.filter($"event_type" === "click"), 120, joinType = "left_outer")
      .orderBy("purchase_id", "click_id").collect().toSeq
    streamed shouldBe batch
    // the outer rows are the point: purchases with no prior click exist
    streamed.count(_.isNullAt(4)) should be > 0
  }

  test("outer-join drain contract: without the sentinel batch, exactly the " +
      "final-watermark-window purchases never emit their null rows") {
    val dir = "/root/testdata/sf0.001"
    val withSent = StreamOps.runClickAttributionOuterAvailableNow(spark, dir, 120)
      .filter(col("click_id").isNull)
      .select("purchase_id", "p_ts_us").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val noSent = StreamOps.runClickAttributionOuterAvailableNow(spark, dir, 120,
        drainSentinels = false)
      .filter(col("click_id").isNull)
      .select("purchase_id").collect().map(_.getLong(0)).toSet
        val maxTsUs = graft.sources.EventsLoader.events(spark, dir)
      .agg(max(unix_micros($"ts"))).head().getLong(0)
    // the engine's closing no-data batch evicts up to the last REAL
    // watermark (max event time - 10 min delay) MINUS the join's
    // interval margin: the symmetric hash join's state-value watermark
    // for the purchase side is wm - window (derived from
    // c_ts >= p_ts - window), so purchases with p_ts >= wm - window
    // are stuck in state without the sentinel. 1 ms slack covers the
    // engine's millisecond watermark truncation.
    val watermarkUs = maxTsUs - 10L * 60 * 1000000
    val windowUs = 120L * 60 * 1000000
    val slackUs = 1000L
    val evictLineUs = watermarkUs - windowUs
    val definitelyStuck =
      withSent.filter { case (_, ts) => ts >= evictLineUs + slackUs }.keySet
    val definitelyDrained =
      withSent.filter { case (_, ts) => ts < evictLineUs - slackUs }.keySet
    definitelyStuck should not be empty // the contract case actually fires
    noSent.subsetOf(withSent.keySet) shouldBe true
    (noSent intersect definitelyStuck) shouldBe empty
    definitelyDrained.subsetOf(noSent) shouldBe true
  }

  test("stream-static enrichment equals the batch join+aggregate (sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    val streamed = StreamOps.runStreamStaticEnrichAvailableNow(spark, dir)
      .orderBy("c_mktsegment", "event_type").collect().toSeq
        val batch = StreamOps.streamStaticEnrich(
        graft.sources.EventsLoader.events(spark, dir),
        spark.read.parquet(s"$dir/customer.parquet")
          .select($"c_custkey", $"c_mktsegment"))
      .orderBy("c_mktsegment", "event_type").collect().toSeq
    streamed.nonEmpty shouldBe true
    streamed shouldBe batch
  }

  test("checkpoint resume: dedup state survives a RESTART; only new rows emit") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft_resume_").toString
    val staging = s"$work/staging"
    new java.io.File(staging).mkdirs()
    val ckpt = s"$work/ckpt"
    val out = s"$work/out"
    StreamOps.stageVersionFile(
      Seq((1L, 0L, "alpha"), (2L, 0L, "beta"), (3L, 0L, "alpha"))
        .toDF("doc_id", "version", "text"),
      s"$staging/f0.parquet")
    val run1 = StreamOps.runStreamingDedupResumable(spark, staging, out, ckpt)
      .select("text").collect().map(_.getString(0)).sorted
    run1 shouldBe Array("alpha", "beta") // first-arrival dedup in run 1
    // RESTART: new file with re-crawled duplicates + one new text
    StreamOps.stageVersionFile(
      Seq((4L, 1L, "alpha"), (5L, 1L, "beta"), (6L, 1L, "gamma"))
        .toDF("doc_id", "version", "text"),
      s"$staging/f1.parquet")
    val run2 = StreamOps.runStreamingDedupResumable(spark, staging, out, ckpt)
      .select("text").collect().map(_.getString(0)).sorted
    // resumed state remembered alpha/beta (re-crawl suppressed) and f0
    // was not reprocessed (no duplicated emissions in the durable sink)
    run2 shouldBe Array("alpha", "beta", "gamma")
  }

  test("late-data contract: planted late rows are ALL dropped; only finalized windows emit") {
    val dir = "/root/testdata/sf0.001"
    val (rows, dropped) = StreamOps.runLateDataRollupAvailableNow(spark, dir)
    val streamed = rows.orderBy("win_start_us", "event_type").collect().toSeq
        val ev = graft.sources.EventsLoader.events(spark, dir)
      .select($"event_id", unix_micros($"ts").as("ts_us"), $"event_type")
    val Array(mn, mx) = ev.agg(min($"ts_us"), max($"ts_us"))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    val lateCount = ev
      .filter($"event_id" % 11 === 0 && $"ts_us" < mn + (mx - mn) / 2).count()
    lateCount should be > 0L
    // every planted late row was dropped by the watermark
    dropped shouldBe lateCount
    // and the emitted windows equal the keep-only closed form
    val wm = (mx / 1000) * 1000 - 600000000L
    val batch = ev
      .filter(!($"event_id" % 11 === 0 && $"ts_us" < mn + (mx - mn) / 2))
      .withColumn("win_start_us", ($"ts_us" / 3600000000L).cast("long") * 3600000000L)
      .filter($"win_start_us" + 3600000000L <= wm)
      .groupBy("win_start_us", "event_type")
      .agg(count(lit(1)).as("n_events"))
      .orderBy("win_start_us", "event_type").collect().toSeq
    streamed shouldBe batch
  }

  test("streaming EWMA is bit-identical to the sequential recursion (sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    val streamed = StreamOps.runStreamingEwmaAvailableNow(spark, dir, alpha = 0.25)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
        val rows = graft.sources.EventsLoader.events(spark, dir)
      .filter($"event_type" === "signup" || $"event_type" === "purchase")
      .select($"user_id", $"event_id", unix_micros($"ts").as("ts_us"), $"value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3, t._2))
    val expected = scala.collection.mutable.Map.empty[(Long, Long), Double]
    val state = scala.collection.mutable.Map.empty[Long, Double]
    rows.foreach { case (u, _, ts, x) =>
      val s = state.get(u) match {
        case None => x
        case Some(p) => p * 0.75 + x * 0.25
      }
      state(u) = s
      expected((u, ts)) = s
    }
    streamed.size shouldBe expected.size
    // EXACT equality: float state must be bit-faithful across batches
    expected.foreach { case (k, v) => assert(streamed(k) == v, s"at $k") }
  }

  test("streaming Holt level+trend are bit-identical to the sequential " +
      "recursion (sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    val streamed = StreamOps.runStreamingHoltAvailableNow(spark, dir,
        alpha = 0.25, beta = 0.25)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> ((r.getDouble(3), r.getDouble(4))))
      .toMap
    val rows = graft.sources.EventsLoader.events(spark, dir)
      .filter($"event_type" === "signup" || $"event_type" === "purchase")
      .select($"user_id", $"event_id", unix_micros($"ts").as("ts_us"), $"value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3, t._2))
    val expected = scala.collection.mutable.Map.empty[(Long, Long), (Double, Double)]
    val state = scala.collection.mutable.Map.empty[Long, (Double, Double)]
    rows.foreach { case (u, _, ts, x) =>
      val next = state.get(u) match {
        case None => (x, 0.0)
        case Some((l, b)) =>
          val lNext = 0.25 * x + 0.75 * (l + b)
          (lNext, 0.25 * (lNext - l) + 0.75 * b)
      }
      state(u) = next
      expected((u, ts)) = next
    }
    streamed.size shouldBe expected.size
    // EXACT equality: BOTH state doubles must be bit-faithful
    expected.foreach { case (k, v) => assert(streamed(k) == v, s"at $k") }
  }

  test("streaming Holt-Winters level+trend+seasonal are bit-identical " +
      "to the sequential seasonal recursion across waves (sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    val period = 24
    val streamed = StreamOps.runStreamingHoltWintersAvailableNow(spark, dir,
        period = period, alpha = 0.25, beta = 0.125, gamma = 0.25)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    val hourly = graft.sources.EventsLoader.events(spark, dir)
      .groupBy($"event_type", date_trunc("hour", $"ts").as("h"))
      .agg(sum(round($"value" * 100).cast("long")).cast("double").as("x"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2))
    val expected =
      scala.collection.mutable.Map.empty[(String, Long), (Double, Double, Double)]
    val state =
      scala.collection.mutable.Map.empty[String, (Double, Double, Array[Double])]
    val rnOf = scala.collection.mutable.Map.empty[String, Long]
    hourly.foreach { case (et, _, x) =>
      val rn = rnOf.getOrElse(et, 0L) + 1L; rnOf(et) = rn
      val i = ((rn - 1) % period).toInt
      val next = state.get(et) match {
        case None =>
          val seas = Array.fill(period)(0.0); (x, 0.0, seas)
        case Some((l, b, seas)) =>
          val sp = seas(i)
          val lN = 0.25 * (x - sp) + 0.75 * (l + b)
          val bN = 0.125 * (lN - l) + 0.875 * b
          val s2 = seas.clone(); s2(i) = 0.25 * (x - lN) + 0.75 * sp
          (lN, bN, s2)
      }
      state(et) = next
      expected((et, rn)) = (next._1, next._2, next._3(i))
    }
    streamed.size shouldBe expected.size
    expected.foreach { case (k, v) => assert(streamed(k) == v, s"at $k") }
    // the series is long enough that the seasonal slots actually cycle
    assert(rnOf.values.forall(_ > period))
  }

  test("streaming HLL snapshots are bit-identical to the batch sketch " +
      "over each wave's cumulative prefix (sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    val streamed = StreamOps.runStreamingHllAvailableNow(spark, dir,
        p = 6, salt = "hll")
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    def batchWave(w: Int) = graft.operators.Sketch.hllDistinct(
      docs.filter(expr(s"(doc_id div 20) % 2 <= $w"))
        .select($"source",
          explode(split(lower($"text"), "\\s+")).as("tok"))
        .filter($"tok" =!= ""),
      Seq("source"), "tok", p = 6, salt = "hll")
      .collect()
      .map(r => (r.getString(0), w.toLong) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    val expected = batchWave(0) ++ batchWave(1)
    streamed.keySet shouldBe expected.keySet
    // EXACT equality: register state and the one double expression
    // must be bit-faithful across micro-batches
    expected.foreach { case (k, v) => assert(streamed(k) == v, s"at $k") }
  }

  test("streaming decontamination gate equals the batch Bloom probe " +
      "per document, and is a pure projection (sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    val streamed = StreamOps.runStreamingDecontaminateAvailableNow(spark, dir,
        numBits = 512, numHashes = 3, salt = "sdtest")
      .collect()
      .map(r => r.getLong(r.fieldIndex("doc_id")) ->
        (r.getLong(r.fieldIndex("n_sh")), r.getLong(r.fieldIndex("bloom_hits"))))
      .toMap
    // batch replay through the SET-BASED bloom path (different code:
    // explode + broadcast join vs the stream's in-row bit-literal)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    def docSh(d: org.apache.spark.sql.DataFrame) =
      d.select($"doc_id",
        explode(array_distinct(graft.operators.Dedup.shingles($"text", 3)))
          .as("shingle"))
    val evalSh = docSh(docs.filter($"doc_id" % 97 === 0))
      .select("shingle").distinct()
    val bloom = graft.operators.Sketch.bloomBuild(evalSh, "shingle",
      numBits = 512, numHashes = 3, salt = "sdtest")
    val batch = graft.operators.Sketch.bloomMightContain(bloom,
        docSh(docs.filter($"doc_id" % 97 =!= 0)), "shingle",
        numBits = 512, numHashes = 3, salt = "sdtest")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_sh"),
        sum(when($"maybe", 1L).otherwise(0L)).as("bloom_hits"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    streamed shouldBe batch
  }

  test("streaming Bloom dedup equals a local sequential simulation of the " +
      "same bit fold — exact dups always flag, FPs deterministic (sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    val numBits = 4096
    val streamed = StreamOps.runStreamingBloomDedupAvailableNow(spark, dir,
        numBits = numBits, numHashes = 3, salt = "bdtest", shards = 4)
      .collect()
      .map(r => (r.getLong(r.fieldIndex("doc_id")), r.getLong(r.fieldIndex("wave"))) ->
        r.getBoolean(r.fieldIndex("is_dup")))
      .toMap
    // local replay: same staging derivation, same digest/shard/bucket
    // formulas, strict (wave, doc_id) fold per shard
    def md5hex(x: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val rows = docs.map { case (id, t) => (0L, id, md5hex(t)) } ++
      docs.map { case (id, t) =>
        (1L, id + 10000000L, md5hex(if (id % 3 == 0) t else t + " v1")) }
    val expected = rows
      .groupBy { case (_, _, dig) =>
        java.lang.Long.parseLong(md5hex("shard:" + dig).substring(0, 14), 16) % 4 }
      .iterator.flatMap { case (_, members) =>
        val bits = collection.mutable.Set.empty[Int]
        members.sortBy(m => (m._1, m._2)).map { case (w, id, dig) =>
          val ps = (0 until 3).map(h =>
            (java.lang.Long.parseLong(md5hex(s"bdtest:$h:$dig").substring(0, 14), 16)
              % numBits).toInt)
          val dup = ps.forall(bits.contains)
          if (!dup) bits ++= ps
          (id, w) -> dup
        }
      }.toMap
    streamed shouldBe expected
    // every identical re-crawl is flagged, whatever the FP draw
    docs.filter(_._1 % 3 == 0).foreach { case (id, _) =>
      assert(streamed((id + 10000000L, 1L)), s"identical re-crawl of $id")
    }
  }

  test("streaming Count-Min estimates are bit-identical to the batch sketch " +
      "over each wave's cumulative prefix (sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    val probes = Seq("data", "of", "the")
    val streamed = StreamOps.runStreamingCountMinAvailableNow(spark, dir,
        depth = 4, width = 16, salt = "cms", probes = probes)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)) -> r.getLong(3))
      .toMap
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    def batchWave(w: Int): Map[(String, Long, String), Long] = {
      val toks = docs.filter(expr(s"(doc_id div 20) % 2 <= $w"))
        .select($"source", explode(split(lower($"text"), "\\s+")).as("tok"))
        .filter($"tok" =!= "")
      // per-source batch sketch: cell = (source, h, bucket) counts
      val cells = toks
        .withColumn("h", explode(array((0 until 4).map(lit): _*)))
        .select($"source", $"h",
          graft.operators.Sketch.cmBucket($"tok", $"h", 16, "cms").as("bucket"))
        .groupBy("source", "h", "bucket").agg(count(lit(1)).as("cnt"))
        .collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2)) -> r.getLong(3))
        .toMap
      val sources = cells.keySet.map(_._1)
      def bucketOf(p: String, h: Int): Long = {
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(s"cms:$h:$p".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.substring(0, 14)
        java.lang.Long.parseLong(hex, 16) % 16
      }
      (for (s <- sources; p <- probes) yield {
        val est = (0 until 4)
          .map(h => cells.getOrElse((s, h, bucketOf(p, h)), 0L)).min
        (s, w.toLong, p) -> est
      }).toMap
    }
    val expected = batchWave(0) ++ batchWave(1)
    streamed.keySet shouldBe expected.keySet
    expected.foreach { case (k, v) => assert(streamed(k) == v, s"at $k") }
    // wave-1 estimates never shrink: the state accumulates
    streamed.collect { case ((s, 1L, p), e) => (s, p) -> e }.foreach {
      case ((s, p), e1) => e1 should be >= streamed((s, 0L, p))
    }
  }

  test("streaming SCD-2 closed intervals equal the batch lead() form (sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    val streamed = StreamOps.runStreamingScd2AvailableNow(spark, dir)
      .orderBy("user_id", "valid_from", "event_id").collect().toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts_us", $"event_id")
    val batch = graft.sources.EventsLoader.events(spark, dir)
      .filter($"event_type" === "signup" || $"event_type" === "purchase")
      .select($"user_id", $"event_id", unix_micros($"ts").as("ts_us"),
        round($"value" * 1000).cast("long").as("value_milli"))
      .select($"user_id", $"event_id", $"ts_us".as("valid_from"),
        lead($"ts_us", 1).over(w).as("valid_to"), $"value_milli")
      .filter($"valid_to".isNotNull)
      .orderBy("user_id", "valid_from", "event_id").collect().toSeq
    streamed.nonEmpty shouldBe true
    streamed shouldBe batch
  }

  test("streaming SLIDING rollup equals the batch rollup (AvailableNow, sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    val streamed = StreamOps.runSlidingRollupAvailableNow(spark, dir)
      .orderBy("win_start", "event_type").collect().toSeq
    val batch = StreamOps.slidingRollup(
        graft.sources.EventsLoader.events(spark, dir))
      .orderBy("win_start", "event_type").collect().toSeq
    streamed shouldBe batch
  }

  test("streamingFunnel completions equal the batch chained-min funnel (sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    val streamed = StreamOps.runStreamingFunnelAvailableNow(spark, dir,
        Seq("view", "click", "purchase"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val batch = graft.operators.Funnel.funnel(
        graft.sources.EventsLoader.events(spark, dir)
          .select($"user_id", unix_micros($"ts").as("ts_us"), $"event_type"),
        "user_id", "ts_us", "event_type", Seq("view", "click", "purchase"))
      .filter($"stages_reached" === 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    streamed shouldBe batch
    streamed.nonEmpty shouldBe true
  }

  test("perSourceQuota admits at most N per key ACROSS micro-batches, " +
      "earliest-first (sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    val out = StreamOps.runPerSourceQuotaAvailableNow(spark, dir, quota = 7L)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source")))
    // never more than the quota per source
    out.groupBy(_._2).values.foreach(_.size should be <= 7)
    // batch 1 (even ids) fills first; odd ids only appear where evens ran out
    val expected = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", ($"doc_id" % 2).as("v"), $"source")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy("v", "doc_id")))
      .filter($"rn" <= 7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    out.map(_._1).toSet shouldBe expected
  }

  test("streamingExactDedup drops cross-batch re-arrivals, keeps new content") {
    val work = java.nio.file.Files.createTempDirectory("graft_sdedup_spec_").toString
    val staging = s"$work/staging"
    new java.io.File(staging).mkdirs()
    StreamOps.stageVersionFile(
      Seq((1L, 0L, "alpha beta"), (2L, 0L, "gamma delta"))
        .toDF("doc_id", "version", "text"),
      s"$staging/v0.parquet")
    StreamOps.stageVersionFile(
      // doc 3 re-crawls doc 1's exact content (dropped); doc 4 is new
      Seq((3L, 1L, "alpha beta"), (4L, 1L, "epsilon zeta"))
        .toDF("doc_id", "version", "text"),
      s"$staging/v1.parquet")
    val out = StreamOps.runStreamingDedupAvailableNow(spark, staging)
      .select("doc_id", "version").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    out shouldBe Set((1L, 0L), (2L, 0L), (4L, 1L))
  }

  test("embeddingUpsert: max-version wins and ONLY arriving rows are embedded") {
    val work = java.nio.file.Files.createTempDirectory("graft_upsert_spec_").toString
    val staging = s"$work/staging"
    new java.io.File(staging).mkdirs()
    StreamOps.stageVersionFile(
      Seq((1L, 0L, "alpha beta"), (2L, 0L, "gamma delta"), (3L, 0L, "epsilon"))
        .toDF("doc_id", "version", "text"),
      s"$staging/v0.parquet")
    StreamOps.stageVersionFile(
      Seq((2L, 1L, "gamma delta UPDATED")).toDF("doc_id", "version", "text"),
      s"$staging/v1.parquet")

    val embedded = new java.util.concurrent.atomic.AtomicLong(0)
    val counting = new graft.embed.Embedder {
      private val inner = new graft.embed.HashingEmbedder(dim = 8)
      override def embed(df: org.apache.spark.sql.DataFrame, textCol: String,
                         outCol: String): org.apache.spark.sql.DataFrame = {
        embedded.addAndGet(df.count())
        inner.embed(df, textCol, outCol)
      }
    }
    StreamOps.embeddingUpsert(spark, staging, s"$work/target", s"$work/ckpt", counting)

    val out = spark.read.parquet(s"$work/target")
      .select("doc_id", "version", "text").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    out shouldBe Map(
      1L -> ((0L, "alpha beta")),
      2L -> ((1L, "gamma delta UPDATED")),
      3L -> ((0L, "epsilon")))
    // incremental contract: 3 rows in batch v0 + 1 row in batch v1 —
    // never the target re-embedded per batch
    embedded.get() shouldBe 4L
    spark.read.parquet(s"$work/target").schema("embedding").dataType.typeName shouldBe "array"

    // restart-resume contract: a new invocation on the SAME checkpoint
    // processes only files staged since the last drain — the property
    // that makes the upsert a long-lived service (already-processed
    // files are never re-read, re-embedded or re-merged)
    StreamOps.stageVersionFile(
      Seq((4L, 2L, "zeta eta")).toDF("doc_id", "version", "text"),
      s"$staging/v2.parquet")
    StreamOps.embeddingUpsert(spark, staging, s"$work/target", s"$work/ckpt", counting)
    embedded.get() shouldBe 5L // +1 for v2's single row, nothing re-done
    spark.read.parquet(s"$work/target").count() shouldBe 4L
  }

  test("ivfIndexUpsert maintains a cell-partitioned ANN index incrementally") {
    import graft.operators.Ann
    val work = java.nio.file.Files.createTempDirectory("graft_ivf_upsert_").toString
    val staging = s"$work/staging"
    val target = s"$work/target"
    new java.io.File(staging).mkdirs()
    val emb = new graft.embed.HashingEmbedder(dim = 8)
    val codebook = Seq(
      (0, Seq(1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)),
      (1, Seq(0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)),
      (2, Seq(0.0, 0.0, 1.0, 1.0, 0.0, 0.0, 0.0, 0.0))).toDF("cell", "cvec")
    val v0 = (0L until 12L).map(i => (i, 0L, s"document number $i about topic ${i % 4}"))
      .toDF("doc_id", "version", "text")
    StreamOps.stageVersionFile(v0, s"$staging/v0.parquet")
    StreamOps.ivfIndexUpsert(spark, staging, target, s"$work/ckpt", emb, codebook)

    def indexRows() = spark.read.parquet(target)
      // partition-dir inference types cell as int
      .select(col("doc_id"), col("version"), col("cell").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def expected(winners: org.apache.spark.sql.DataFrame) =
      Ann.ivfAssign(emb.embed(winners, "text", "embedding"),
          "doc_id", "embedding", codebook, "cell", "cvec")
        .select(col("doc_id"), col("version"), col("cell").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    indexRows() shouldBe expected(v0)

    // incremental batch: one updated doc — only its cell dir rewrites
    val v1 = Seq((5L, 1L, "document number 5 rewritten entirely"))
      .toDF("doc_id", "version", "text")
    val touchedCells = expected(v1).map(_._3)
    def cellMtimes() = new java.io.File(target).listFiles()
      .filter(_.getName.startsWith("cell=")).map(d =>
        d.getName -> d.listFiles().map(_.lastModified).max).toMap
    val before = cellMtimes()
    Thread.sleep(1100) // FS mtime granularity
    StreamOps.stageVersionFile(v1, s"$staging/v1.parquet")
    StreamOps.ivfIndexUpsert(spark, staging, target, s"$work/ckpt", emb, codebook)
    val winners = v0.filter($"doc_id" =!= 5L).unionByName(v1)
    // LSM staleness contract: max-version-per-doc over the index is
    // the true content; a stale (5, 0) row may linger in doc 5's OLD
    // cell if the re-embedding migrated cells
    val rows = indexRows()
    rows.groupBy(_._1).map { case (_, rs) => rs.maxBy(_._2) }.toSet shouldBe
      expected(winners)
    (rows -- expected(winners)).foreach { stale =>
      stale._1 shouldBe 5L
      stale._2 shouldBe 0L
    }
    val after = cellMtimes()
    before.foreach { case (dir, m) =>
      val cellId = dir.stripPrefix("cell=").toLong
      if (!touchedCells.contains(cellId)) after(dir) shouldBe m
    }
    // compaction sweeps the stale rows: index == winners exactly
    StreamOps.ivfIndexCompact(spark, target)
    indexRows() shouldBe expected(winners)
  }

  test("ivfPqIndexUpsert: batch == incremental code content, untouched cells keep their bytes") {
    import graft.operators.{Ann, Cluster}
    val work = java.nio.file.Files.createTempDirectory("graft_pq_upsert_").toString
    val staging = s"$work/staging"
    val target = s"$work/target"
    new java.io.File(staging).mkdirs()
    // 4-d vectors in two obvious coarse clusters
    val vecs = (0L until 16L).map { i =>
      val base = if (i % 2 == 0) 1.0 else -1.0
      (i, Array(base, base * 0.5, i * 0.01, -i * 0.01))
    }.toDF("vec_id", "v")
    val coarse = Cluster.kmeansMicroModel(vecs, "vec_id", "v", 2, 2, "sp")
    val (trainCodes, books) = Ann.pqTrainEncode(vecs, "vec_id", "v",
      m = 2, subDim = 2, k = 2, iterations = 1, salt = "spq")
    // pqEncode against the frozen books reproduces the trainer's own
    // assignment on the training corpus
    def codeRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).intValue,
        r.getAs[Number](2).longValue)).toSet
    codeRows(trainCodes) shouldBe
      codeRows(Ann.pqEncode(vecs, "vec_id", "v", books, 2, 2))
    // wave 0: all docs at v1
    StreamOps.stageVersionFile(
      vecs.select($"vec_id".as("doc_id"), lit(1L).as("version"),
        $"v".as("embedding")),
      s"$staging/f0.parquet")
    StreamOps.ivfPqIndexUpsert(spark, staging, target, s"$work/ckpt",
      coarse.centroids, books, 2, 2)
    def indexRows() = spark.read.parquet(target)
      .select($"doc_id", $"version", $"cell".cast("long"),
        concat_ws(",", $"codes").as("cs")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    // batch equivalent: assign + encode everything in one pass
    def batchRows(winners: org.apache.spark.sql.DataFrame) = {
      val asg = winners
        .withColumn("__vq", Cluster.microQuantize($"embedding"))
        .crossJoin(broadcast(coarse.centroids.select(
          $"cell".cast("long").as("__cell"), $"cvec")))
        .withColumn("__d2", Cluster.dist2($"__vq", $"cvec"))
        .groupBy($"doc_id")
        .agg(first($"version").as("version"),
          first($"embedding").as("embedding"),
          min(struct($"__d2", $"__cell")).as("__b"))
        .select($"doc_id", $"version", $"embedding",
          $"__b".getField("__cell").as("cell"))
      val cs = Ann.pqEncode(asg, "doc_id", "embedding", books, 2, 2)
        .groupBy($"doc_id")
        .agg(concat_ws(",", transform(sort_array(collect_list(
          struct($"sub", $"code"))), x => x.getField("code"))).as("cs"))
      asg.join(cs, Seq("doc_id"))
        .select($"doc_id", $"version", $"cell", $"cs").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toSet
    }
    val v0 = vecs.select($"vec_id".as("doc_id"), lit(1L).as("version"),
      $"v".as("embedding"))
    indexRows() shouldBe batchRows(v0)
    // wave 1: doc 3 re-embedded to the OTHER cluster — it migrates
    val v1 = Seq((3L, 2L, Array(1.0, 0.5, 0.9, -0.9)))
      .toDF("doc_id", "version", "embedding")
    def cellMtimes() = new java.io.File(target).listFiles()
      .filter(_.getName.startsWith("cell=")).map(d =>
        d.getName -> d.listFiles().map(_.lastModified).max).toMap
    val before = cellMtimes()
    val touched = batchRows(v1).map(_._3)
    Thread.sleep(1100)
    StreamOps.stageVersionFile(v1, s"$staging/f1.parquet")
    StreamOps.ivfPqIndexUpsert(spark, staging, target, s"$work/ckpt",
      coarse.centroids, books, 2, 2)
    val rows = indexRows()
    // resolved view (max version per doc) equals the batch build over
    // the winners — code content included
    val winners = v0.filter($"doc_id" =!= 3L).unionByName(v1)
    rows.groupBy(_._1).map { case (_, rs) => rs.maxBy(_._2) }.toSet shouldBe
      batchRows(winners)
    // the migrated doc's stale v1 row lingers in its OLD cell
    (rows -- batchRows(winners)).foreach { stale =>
      stale._1 shouldBe 3L
      stale._2 shouldBe 1L
    }
    // untouched cells keep their bytes
    val after = cellMtimes()
    before.foreach { case (d, m) =>
      if (!touched.contains(d.stripPrefix("cell=").toLong))
        after(d) shouldBe m
    }
  }

  test("cdcStreamMerge: deletes remove keys, max-seq wins across " +
      "waves, untouched buckets keep their bytes") {
    import graft.operators.Cdc
    val work = java.nio.file.Files.createTempDirectory("graft_cdcm_").toString
    val staging = s"$work/staging"
    new java.io.File(staging).mkdirs()
    val target = s"$work/target"
    // keys 0..15 across 4 buckets (nBuckets=4): k%4
    val base = (0L to 15L).map(k => (k, Long.MinValue, "I", s"s${k % 3}",
      k * 100L)).toDF("o_orderkey", "seq", "op", "o_orderstatus",
      "price_cents")
    base.withColumn("bucket", pmod($"o_orderkey", lit(4L)))
      .write.partitionBy("bucket").parquet(target)
    // wave1: update k=1, insert k=20 (bucket 0); wave2: delete k=1
    val w1 = Seq((1L, 1L, "U", "sX", 999L), (20L, 1L, "I", "sN", 42L))
      .toDF("o_orderkey", "seq", "op", "o_orderstatus", "price_cents")
    val w2 = Seq((1L, 2L, "D", "", 0L))
      .toDF("o_orderkey", "seq", "op", "o_orderstatus", "price_cents")
    def bucketMtimes() = new java.io.File(target).listFiles()
      .filter(_.getName.startsWith("bucket=")).map(d =>
        d.getName -> d.listFiles().map(_.lastModified).max).toMap
    val before = bucketMtimes()
    Thread.sleep(1100)
    StreamOps.stageVersionFile(w1, s"$staging/w0.parquet")
    StreamOps.stageVersionFile(w2, s"$staging/w1.parquet")
    StreamOps.cdcStreamMerge(spark, staging, target, s"$work/ckpt",
      nBuckets = 4)
    val got = spark.read.parquet(target)
      .select("o_orderkey", "o_orderstatus", "price_cents")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSet
    val expected = Cdc.applyChangelog(
        base.drop("seq", "op"), w1.unionByName(w2),
        "o_orderkey", "seq", "op", Seq("o_orderstatus", "price_cents"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSet
    got shouldBe expected
    got.exists(_._1 == 1L) shouldBe false // delete won
    got.contains((20L, "sN", 42L)) shouldBe true // insert landed
    // buckets 2 and 3 were never touched by any change
    val after = bucketMtimes()
    after("bucket=2") shouldBe before("bucket=2")
    after("bucket=3") shouldBe before("bucket=3")
  }

  test("embeddingUpsert rewrites ONLY the buckets a batch touches") {
    val work = java.nio.file.Files.createTempDirectory("graft_upsert_bkt_").toString
    val staging = s"$work/staging"
    val target = s"$work/target"
    new java.io.File(staging).mkdirs()
    val emb = new graft.embed.HashingEmbedder(dim = 8)

    // batch 1: doc_ids 0..15 populate all 16 buckets
    StreamOps.stageVersionFile(
      (0L to 15L).map(i => (i, 0L, s"doc $i")).toDF("doc_id", "version", "text"),
      s"$staging/v0.parquet")
    StreamOps.embeddingUpsert(spark, staging, target, s"$work/ckpt", emb)

    def bucketMtimes(): Map[String, Long] =
      new java.io.File(target).listFiles().filter(_.getName.startsWith("bucket="))
        .map(d => d.getName ->
          d.listFiles().filter(_.getName.endsWith(".parquet")).map(_.lastModified).max)
        .toMap
    val before = bucketMtimes()
    before.keySet should have size 16

    // batch 2 (same checkpoint — only the new file is processed):
    // doc_ids 3 and 5 touch exactly buckets 3 and 5
    Thread.sleep(1100) // mtime granularity
    StreamOps.stageVersionFile(
      Seq((3L, 1L, "doc 3 v1"), (5L, 1L, "doc 5 v1")).toDF("doc_id", "version", "text"),
      s"$staging/v1.parquet")
    StreamOps.embeddingUpsert(spark, staging, target, s"$work/ckpt", emb)

    val after = bucketMtimes()
    val rewritten = after.keySet.filter(k => after(k) != before(k))
    rewritten shouldBe Set("bucket=3", "bucket=5")
    // merged content is still max-version-wins over the whole target
    val versions = spark.read.parquet(target)
      .select("doc_id", "version").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    versions(3L) shouldBe 1L
    versions(5L) shouldBe 1L
    versions.values.count(_ == 0L) shouldBe 14
  }

  test("streaming weighted sample: every wave snapshot equals the " +
      "batch A-ES sample over that wave's prefix (sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    val out = StreamOps.runStreamingWeightedSampleAvailableNow(
      spark, dir, k = 10, salt = "wsrspec")
    val byWave = out.collect()
      .groupBy(_.getAs[Long]("wave"))
      .view.mapValues(_.map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("key_micro"))).toSet).toMap
    byWave.keySet shouldBe Set(0L, 1L)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("wave", org.apache.spark.sql.functions
        .expr("(doc_id div 20) % 2"))
    def batchSample(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Curation.weightedSampleWithoutReplacement(
          df, "doc_id", col("n_chars"), k = 10, salt = "wsrspec")
        .collect().map(r => (r.getAs[Long]("doc_id"),
          r.getAs[Long]("key_micro"))).toSet
    byWave(0L) shouldBe batchSample(docs.filter($"wave" === 0))
    byWave(1L) shouldBe batchSample(docs) // full prefix after wave 1
    // snapshots are exactly k rows each
    out.count() shouldBe 20L
  }

  test("streamingLogBucketQuantiles snapshots equal the batch sketch " +
      "over each wave's cumulative prefix") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(29L)
    val pts = (0 until 2).flatMap(w => (1 to 300).map { _ =>
      val key = if (rnd.nextBoolean()) "a" else "b"
      (w.toLong, key, 1L + rnd.nextInt(100000).toLong)
    })
    val input = MemoryStream[(Long, String, Long)]
    val query = StreamOps.streamingLogBucketQuantiles(
        input.toDS().toDF("wave", "event_type", "cents")
          .as[StreamOps.QuantPoint])
      .writeStream.format("memory").queryName("graft_quant_test")
      .outputMode("append").start()
    try {
      input.addData(pts.filter(_._1 == 0L))
      query.processAllAvailable()
      input.addData(pts.filter(_._1 == 1L))
      query.processAllAvailable()
    } finally query.stop()
    val out = spark.table("graft_quant_test").collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    def batch(upTo: Long, key: String) = {
      val rows = pts.filter(p => p._1 <= upTo && p._2 == key)
        .map(p => ("all", p._3))
      graft.operators.Sketch.logBucketQuantiles(
          rows.toDF("k", "x"), "k", org.apache.spark.sql.functions
            .col("x"), Seq(500, 900, 990))
        .collect().map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3))))
        .toMap
    }
    for (w <- Seq(0L, 1L); key <- Seq("a", "b")) {
      val b = batch(w, key)
      val (n, p50, p90, p99) = out((key, w))
      b(500L) shouldBe ((n, p50))
      b(900L) shouldBe ((n, p90))
      b(990L) shouldBe ((n, p99))
    }
    // one snapshot per (key, wave)
    out.size shouldBe 4
  }
  test("streaming blocklist gate equals the batch screen per document " +
      "(sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    val pats = Seq("slow", "a a", "buy now")
    val plants = Seq((40000001L, "BUY NOW buy now limited"))
    def key(r: org.apache.spark.sql.Row) =
      r.getLong(r.fieldIndex("doc_id")) ->
        ((r.getLong(r.fieldIndex("total_hits")),
          r.getLong(r.fieldIndex("n_patterns_hit")),
          r.getBoolean(r.fieldIndex("blocklist_keep"))))
    val streamed = StreamOps.runStreamingBlocklistGateAvailableNow(
        spark, dir, plants, pats, maxHits = 1)
      .collect().map(key).toMap
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text")
      .unionByName(plants.toDF("doc_id", "text"))
    val batch = graft.operators.Blocklist.screen(docs, "doc_id", "text",
        pats, maxHits = 1)
      .collect().map(key).toMap
    streamed shouldBe batch
    streamed(40000001L) shouldBe ((2L, 1L, false))
  }

  test("streaming DSIR gate equals the frozen-model batch score per " +
      "document (sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    val streamed = StreamOps.runStreamingDsirGateAvailableNow(spark, dir, 0L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text")
    val model = graft.operators.Curation.dsirTrain(
      docs.filter($"doc_id" % 7 === 0), docs.filter($"doc_id" % 7 =!= 0),
      "text")
    val batch = graft.operators.Curation.dsirScore(docs, "doc_id", "text",
        model)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(2) >= 0L))).toMap
    streamed shouldBe batch
    // every doc is scored (none dropped by the gate plumbing)
    streamed.keySet shouldBe docs.select("doc_id").collect()
      .map(_.getLong(0)).toSet
  }

  test("streaming graph-ANN serve equals the batch beam walk per query (frozen index, sf0.001)") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val streamed = StreamOps.runStreamingGraphServeAvailableNow(spark, dir,
        degree = 16, rounds = 2, beam = 16, hops = 4, topK = 5)
      .collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rank")) ->
        ((r.getAs[Long]("wave"), r.getAs[Long]("vec_id"),
          r.getAs[Long]("dist2"), r.getAs[Long]("exact_rank")))).toMap
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val g = graft.operators.Ann.nnDescentGraphMemo(spark, dir,
      degree = 16, rounds = 2)
    val batch = graft.operators.Ann.graphBeamTopK(g,
        e.filter(col("vec_id") % 50 === 0), e,
        "vec_id", "embedding", beam = 16, hops = 4, topK = 5)
      .collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rank")) ->
        ((r.getAs[Long]("q_id") % 100 match {
           case 0 => 0L; case _ => 1L
         }, r.getAs[Long]("vec_id"),
          r.getAs[Long]("dist2"), r.getAs[Long]("exact_rank")))).toMap
    streamed shouldBe batch
    streamed.nonEmpty shouldBe true
  }

  test("streaming quota gate: admission equals the (wave, doc_id) rank replay; wave-2 arrivals rejected once wave-1 fills the quota") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val out = StreamOps.runStreamingQuotaGateAvailableNow(spark, dir,
        budget = 123L, alpha = 0.7).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("source"), r.getAs[Long]("wave"),
          r.getAs[Boolean]("admitted"), r.getAs[Long]("adm_rank")))).toMap
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val quotas = graft.operators.Curation.temperatureQuotas(
        docs, "source", 123L, 0.7)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("quota")).toMap
    // batch replay: rank per source by (wave, doc_id)
    val replay = docs.select(col("doc_id"), col("source"),
        expr("(doc_id div 20) % 2").as("wave"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .groupBy(_._2).toSeq.flatMap { case (src, rows) =>
        rows.sortBy(r => (r._3, r._1)).zipWithIndex.map { case (r, i) =>
          r._1 -> ((src, r._3, i + 1 <= quotas(src),
            if (i + 1 <= quotas(src)) (i + 1).toLong else 0L))
        }
      }.toMap
    out shouldBe replay
    // every source admits exactly min(quota, n) docs
    val admittedBySrc = out.values.groupBy(_._1)
      .map { case (s, vs) => s -> vs.count(_._3).toLong }
    admittedBySrc.foreach { case (s, n) =>
      n shouldBe math.min(quotas(s),
        out.values.count(_._1 == s).toLong)
    }
    // temporal correctness: some wave-1 doc is rejected while an
    // EARLIER wave-0 doc of the same source was admitted
    val rejectedW1 = out.values.exists(v => v._2 == 1L && !v._3)
    rejectedW1 shouldBe true
  }

}
