package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.apache.spark.sql.execution.streaming.state.StateStore
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.scalatest.matchers.should.Matchers

import graft.streaming.{LocalCheckpointFileManager, NioPermissionLocalFileSystem, StreamOps}

/** What a stream replay costs beyond its own work, and what it leaves
  * behind: checkpoint files written without forked processes, generated
  * code reused from one replay to the next, no state store or listener
  * bus left behind, and no write to the context's shared Hadoop
  * configuration. */
class ReplayFixedCostSpec extends SparkSpec with Matchers {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private val markerKey = "mapreduce.fileoutputcommitter.marksuccessfuljobs"

  /** Classes codegen compiled while `body` ran. */
  private def compiles(body: => Unit): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  /** Mode bits of a local file, as `ls -l` shows them. */
  private def mode(p: java.nio.file.Path): Int = Integer.parseInt(
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
      .map(c => if (c == '-') '0' else '1'), 2)

  test("a replay's third call compiles no classes (q29, q72)") {
    val perCall = Seq("q29_stream_rollup", "q72_stream_outer_join").map { name =>
      name -> (1 to 3).map(_ => compiles(SparkEntry.queries(name)(spark, dir).collect()))
    }.toMap
    withClue(s"classes compiled per call: $perCall") {
      perCall.values.map(_(2)).toSet shouldBe Set(0L)
    }
  }

  test("a drain's rows come back in one partition; a warm q29 call runs at most 2 jobs") {
    StreamOps.runHourlyRollupAvailableNow(spark, dir).rdd.getNumPartitions shouldBe 1
    val q29 = SparkEntry.queries("q29_stream_rollup")
    q29(spark, dir).collect()
    val (_, jobs) = graft.tools.JobCounter.count(spark)(q29(spark, dir).collect())
    jobs should be <= 2
  }

  test("a warm q150, q284, q292 or q303 call infers no schema: " +
       "at most 25, 75, 25 and 32 jobs") {
    // each call used to infer the embeddings table's schema and its
    // staged waves' schema with one job apiece (27 and 35 jobs for
    // q150 and q303), then its own output's schema with one more (26,
    // 76, 26 and 33). q150 runs 23 to 25: per micro-batch, AQE drops
    // one shuffle stage when the exact-rank side of its last join
    // finishes first.
    val jobs = Seq("q150_stream_retrieval" -> 25, "q284_stream_graph_serve" -> 75,
        "q292_stream_neardup_gate" -> 25, "q303_stream_semantic_drift" -> 32)
      .map { case (name, bound) =>
        val q = SparkEntry.queries(name)
        (1 to 2).foreach(_ => q(spark, dir).collect())
        name -> (graft.tools.JobCounter.count(spark)(q(spark, dir).collect())._2, bound)
      }
    withClue(s"(jobs, bound) per warm call: $jobs") {
      jobs.foreach { case (_, (n, bound)) => n should be <= bound }
    }
  }

  test("50 q29 replays leave the context's listener count unchanged") {
    val q29 = SparkEntry.queries("q29_stream_rollup")
    q29(spark, dir).collect()
    val before = graftbridge.contextListeners(spark).size
    (1 to 50).foreach(_ => q29(spark, dir).collect())
    graftbridge.contextListeners(spark).size shouldBe before
  }

  test("NIO setPermission sets the mode bits the forking chmod sets") {
    val work = Paths.get(WorkDirs.create("graft_perm_spec_"))
    val nio = new NioPermissionLocalFileSystem
    val stock = new RawLocalFileSystem
    Seq(nio, stock).foreach(_.initialize(java.net.URI.create("file:///"), new Configuration()))
    for (m <- Seq(420, 493, 448, 384)) { // 0644, 0755, 0700, 0600
      val a = Files.createFile(work.resolve(s"nio_$m"))
      val b = Files.createFile(work.resolve(s"stock_$m"))
      nio.setPermission(new Path(a.toUri), new FsPermission(m.toShort))
      stock.setPermission(new Path(b.toUri), new FsPermission(m.toShort))
      withClue(f"mode $m%o") {
        mode(a) shouldBe m
        mode(b) shouldBe m
      }
    }
  }

  test("checkpoint files: same names, .crc sidecars and modes as Spark's default manager") {
    def written(manager: (Path, Configuration) => org.apache.spark.sql.execution
        .streaming.checkpointing.CheckpointFileManager): Map[String, Int] = {
      val root = Paths.get(WorkDirs.create("graft_ckpt_spec_"))
      val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
      val base = new Path(root.resolve("state/0/0").toUri)
      val fm = manager(base, conf)
      fm.mkdirs(base)
      val out = fm.createAtomic(new Path(base, "1.delta"), overwriteIfPossible = false)
      out.write(Array[Byte](1, 2, 3))
      out.close()
      val ls = Files.walk(root)
      try ls.iterator.asScala.filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString -> mode(p)).toMap
      finally ls.close()
    }
    val local = written(new LocalCheckpointFileManager(_, _))
    local shouldBe written(new FileContextBasedCheckpointFileManager(_, _))
    local.keySet shouldBe Set("state/0/0/1.delta", "state/0/0/.1.delta.crc")
  }

  test("a checkpoint begun under Spark's default manager resumes under LocalCheckpointFileManager") {
    def stage(staging: String, file: String, rows: Seq[(Long, Long, String)]): Unit =
      StreamOps.stageVersionFile(rows.toDF("doc_id", "version", "text"), s"$staging/$file")
    val v0 = Seq((1L, 0L, "alpha"), (2L, 0L, "beta"), (3L, 0L, "alpha"))
    val v1 = Seq((4L, 1L, "alpha"), (5L, 1L, "beta"), (6L, 1L, "gamma"))
    def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

    // every run under the replay's manager
    val w1 = WorkDirs.create("graft_resume_local_")
    stage(s"$w1/staging", "f0.parquet", v0)
    StreamOps.runStreamingDedupResumable(spark, s"$w1/staging", s"$w1/out", s"$w1/ckpt")
    stage(s"$w1/staging", "f1.parquet", v1)
    val expected = sorted(
      StreamOps.runStreamingDedupResumable(spark, s"$w1/staging", s"$w1/out", s"$w1/ckpt"))

    // first run started directly, under Spark's default manager
    val w2 = WorkDirs.create("graft_resume_mixed_")
    stage(s"$w2/staging", "f0.parquet", v0)
    val first = graftbridge.isolatedSession(spark)
    first.conf.getOption("spark.sql.streaming.checkpointFileManagerClass") shouldBe None
    val q = StreamOps.streamingExactDedup(StreamOps.dedupSource(first, s"$w2/staging"), "text", "ts")
      .writeStream.format("parquet")
      .option("path", s"$w2/out").option("checkpointLocation", s"$w2/ckpt")
      .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    stage(s"$w2/staging", "f1.parquet", v1)
    val resumed = sorted(
      StreamOps.runStreamingDedupResumable(spark, s"$w2/staging", s"$w2/out", s"$w2/ckpt"))

    expected.map(_.split(',')(2)).sorted shouldBe Seq("alpha", "beta", "gamma")
    resumed shouldBe expected
  }

  test("finished replays leave none of their state stores loaded (q29 rollup, q72 outer join)") {
    val rollup = StreamOps.replay(spark, Seq(s"$dir/events.parquet"))(
      s => StreamOps.hourlyRollup(StreamOps.eventsStream(s, dir)))(
      _.format("noop").outputMode(OutputMode.Complete()))
    val join = StreamOps.replay(spark, Seq(s"$dir/events.parquet")) { s =>
      val ev = StreamOps.eventsStream(s, dir)
      StreamOps.clickAttribution(ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "click"), 120, joinType = "left_outer")
    }(_.format("noop").outputMode(OutputMode.Append()))
    val rollupIds = graftbridge.stateStoreProviderIds(rollup)
    val joinIds = graftbridge.stateStoreProviderIds(join)
    rollupIds should not be empty
    joinIds.map(_.storeId.storeName).toSet.size shouldBe 4 // two stores per join side
    (rollupIds ++ joinIds).filter(StateStore.isLoaded) shouldBe empty
  }

  test("foreachBatch writes leave the shared hadoopConfiguration alone and write no _SUCCESS marker") {
    val work = WorkDirs.create("graft_marker_spec_")
    StreamOps.stageVersionFile(
      Seq((1L, 0L, "alpha beta"), (2L, 0L, "gamma")).toDF("doc_id", "version", "text"),
      s"$work/staging/v0.parquet")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]()
    // runs inside the foreachBatch body: reads the shared key, and
    // writes the batch as that body's own output
    val recording = new graft.embed.Embedder {
      private val inner = new graft.embed.HashingEmbedder(dim = 8)
      override def embed(df: DataFrame, textCol: String, outCol: String): DataFrame = {
        seen.add(Option(df.sparkSession.sparkContext.hadoopConfiguration.get(markerKey)))
        df.write.mode("append").parquet(s"$work/out")
        inner.embed(df, textCol, outCol)
      }
    }
    StreamOps.embeddingUpsert(spark, s"$work/staging", s"$work/target", s"$work/ckpt", recording)
    seen.asScala.toSeq should not be empty
    seen.asScala.toSeq.distinct shouldBe Seq(None)
    spark.read.parquet(s"$work/target").count() shouldBe 2L
    spark.read.parquet(s"$work/out").count() shouldBe 2L
    val ls = Files.walk(Paths.get(work))
    try ls.iterator.asScala.map(_.getFileName.toString).toSeq should not contain "_SUCCESS"
    finally ls.close()
  }
}
