package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQueryListener}
import org.scalatest.matchers.should.Matchers

import graft.sources.InputPartitions
import graft.streaming.StreamOps

/** How bounded stream replays size their state partitions, and what
  * a replay leaves behind on the caller's session. */
class StreamPartitionSpec extends SparkSpec with Matchers {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def sessionN: Int = spark.conf.get("spark.sql.shuffle.partitions").toInt

  /** Rows of a board query, order-free. */
  private def rows(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, dir).collect().map(_.toString).toSeq.sorted

  /** Runs `body` and returns the state partition counts its replays
    * reported to a listener on the shared session. */
  private def statePartitions(body: => Unit): Set[Int] = {
    val counts = ConcurrentHashMap.newKeySet[Int]()
    val ended = ConcurrentHashMap.newKeySet[java.util.UUID]()
    val started = ConcurrentHashMap.newKeySet[java.util.UUID]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        started.add(e.runId)
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        e.progress.stateOperators.foreach(op => counts.add(op.numShufflePartitions.toInt))
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        ended.add(e.runId)
    }
    spark.streams.addListener(listener)
    try {
      body
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!ended.containsAll(started) && System.nanoTime() < deadline) Thread.sleep(20)
      started should not be empty
      ended.containsAll(started) shouldBe true
    } finally spark.streams.removeListener(listener)
    counts.asScala.toSet
  }

  test("partition rule: 1 without a fold, min(session, 4) with one, the session count on large inputs") {
    val ds = Seq((1L, "a"), (2L, "b"), (3L, "a")).toDS()
    val plain = ds.groupBy("_2").count()
    val flatFold = ds.groupByKey(_._2).flatMapGroupsWithState[Long, Long](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
      (_: String, it: Iterator[(Long, String)], _: GroupState[Long]) => Iterator(it.size.toLong)
    }
    val mapFold = ds.groupByKey(_._2).mapGroupsWithState {
      (k: String, _: Iterator[(Long, String)], _: GroupState[Long]) => k
    }
    StreamOps.hasGroupFold(plain.queryExecution.analyzed) shouldBe false
    StreamOps.hasGroupFold(flatFold.queryExecution.analyzed) shouldBe true
    StreamOps.hasGroupFold(mapFold.queryExecution.analyzed) shouldBe true

    val fold = StreamOps.groupParallelFloor
    InputPartitions.count(8, 0L) shouldBe 1
    InputPartitions.count(8, 1L << 20) shouldBe 1
    InputPartitions.count(8, 1L << 20, fold) shouldBe 4
    InputPartitions.count(2, 1L << 20, fold) shouldBe 2
    InputPartitions.count(1, 1L << 20, fold) shouldBe 1
    // 16 MiB per partition: 50 MiB → 4
    InputPartitions.count(8, 50L << 20) shouldBe 4
    InputPartitions.count(8, 1L << 40) shouldBe 8
    InputPartitions.count(8, 1L << 40, fold) shouldBe 8
  }

  test("replays run at the derived count, reported to the caller's stream listeners") {
    statePartitions(rows("q29_stream_rollup")) shouldBe Set(1)
    statePartitions(rows("q112_stream_hll")) shouldBe Set(math.min(sessionN, 4))
  }

  test("q29, q47, q72 and q112 give the same rows at 1 and at 7 state partitions") {
    for (name <- Seq("q29_stream_rollup", "q47_stream_dedup",
        "q72_stream_outer_join", "q112_stream_hll")) withClue(name) {
      var at1, at7 = Seq.empty[String]
      statePartitions { at1 = InputPartitions.withPartitions(1)(rows(name)) } shouldBe Set(1)
      statePartitions { at7 = InputPartitions.withPartitions(7)(rows(name)) } shouldBe Set(7)
      at1 should not be empty
      at7 shouldBe at1
    }
  }

  test("replays leave no graft_stream_* view on the caller's session") {
    (1 to 3).foreach(_ => StreamOps.runHourlyRollupAvailableNow(spark, dir).collect())
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_stream_")) shouldBe empty
  }

  test("two replays started together equal their serial results; the shared conf is untouched") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val names = Seq("q29_stream_rollup", "q112_stream_hll")
    val serial = names.map(rows)
    val results = new ConcurrentHashMap[String, Seq[String]]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val threads = names.map { n =>
      new Thread(() => try { gate.await(); results.put(n, rows(n)) }
        catch { case e: Throwable => errors.add(e) })
    }
    threads.foreach(_.start())
    gate.countDown()
    threads.foreach(_.join(300000L))
    errors.asScala shouldBe empty
    names.map(results.get) shouldBe serial
    spark.conf.get("spark.sql.shuffle.partitions") shouldBe before
  }

  test("q47 stages its input versions once per input, in a dir deleted at exit") {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    def sdedupDirs: Set[String] = {
      val ls = Files.list(tmp)
      try ls.iterator.asScala.map(_.getFileName.toString)
        .filter(_.startsWith("graft_sdedup_")).toSet
      finally ls.close()
    }
    val before = sdedupDirs
    val first = rows("q47_stream_dedup")
    (1 to 2).foreach(_ => rows("q47_stream_dedup") shouldBe first)
    (sdedupDirs -- before).size should be <= 1
    val staging = StreamOps.stagedDir(spark, "sdedup", dir)(fail("restaged")).path
    WorkDirs.registered(Paths.get(staging).getParent.toString) shouldBe true
  }
}
