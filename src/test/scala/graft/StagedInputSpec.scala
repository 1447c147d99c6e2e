package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.matchers.should.Matchers

import graft.streaming.StreamOps

/** How a stream replay stages its own input ([[StreamOps.stagedDir]]):
  * one schema across the parts, files in part order by mtime, and one
  * staged set per distinct argument list. */
class StagedInputSpec extends SparkSpec with Matchers {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  /** mtimes of the staged parquet files, in file-name order. */
  private def mtimes(staged: StreamOps.Staged): Seq[Long] = {
    val ls = Files.list(Paths.get(staged.path))
    try ls.iterator.asScala.filter(_.getFileName.toString.endsWith(".parquet"))
      .toSeq.sortBy(_.getFileName.toString)
      .map(Files.getLastModifiedTime(_).toMillis)
    finally ls.close()
  }

  private def strictlyIncreasing(xs: Seq[Long]): Boolean =
    xs.zip(xs.drop(1)).forall { case (a, b) => a < b }

  test("parts with different schemas fail with StagedSchemaMismatch") {
    val input = WorkDirs.create("graft_staged_spec_")
    val e = intercept[StreamOps.StagedSchemaMismatch] {
      StreamOps.stagedDir(spark, "spec_mismatch", input)(
        Seq(Seq((1L, "a")).toDF("id", "text"), Seq((2L, 7L)).toDF("id", "text")))
    }
    e.getMessage should include("spec_mismatch")
    // nullability is not part of the contract
    StreamOps.stagedDir(spark, "spec_nullable", input)(
      Seq(Seq((1L, "a")).toDF("id", "text"), spark.range(1).select(col("id"), lit("b").as("text"))))
      .schema.fieldNames.toSeq shouldBe Seq("id", "text")
  }

  test("parts are staged in order with strictly increasing mtimes and replayed one per batch") {
    val input = WorkDirs.create("graft_staged_spec_")
    val staged = StreamOps.stagedDir(spark, "spec_order", input)(
      (0 until 3).map(i => Seq((i.toLong, s"part $i")).toDF("id", "text")))
    val ts = mtimes(staged)
    ts should have size 3
    strictlyIncreasing(ts) shouldBe true
    staged.schema.fieldNames.toSeq shouldBe Seq("id", "text")
    val arrivals = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]()
    StreamOps.replay(spark, Seq(staged.path))(staged.stream)(_.foreachBatch {
      (b: org.apache.spark.sql.DataFrame, _: Long) =>
        arrivals.add(b.select("id").as[Long].collect().toSeq); ()
    })
    arrivals.asScala.toSeq.filter(_.nonEmpty) shouldBe Seq(Seq(0L), Seq(1L), Seq(2L))
  }

  test("every board replay's staged set has strictly increasing mtimes (q47, q72, q95, q143)") {
    val sets = Seq(
      "q47_stream_dedup" -> (() => StreamOps.stagedDir(spark, "sdedup", dir)(fail("restaged"))),
      "q72_stream_outer_join" -> (() =>
        StreamOps.stagedDir(spark, "souter", dir, Seq(true))(fail("restaged"))),
      "q95_stream_late_data" -> (() => StreamOps.stagedDir(spark, "latedata", dir)(fail("restaged"))),
      "q143_stream_bloom_dedup" -> (() =>
        StreamOps.stagedDir(spark, "bloomdedup", dir)(fail("restaged"))))
    val files = sets.map { case (name, staged) =>
      SparkEntry.queries(name)(spark, dir).collect()
      val ts = mtimes(staged())
      withClue(s"$name: $ts") { strictlyIncreasing(ts) shouldBe true }
      name -> ts.size
    }.toMap
    // q72's sentinels share the real events' file, so both arrive in one batch
    files shouldBe Map("q47_stream_dedup" -> 2, "q72_stream_outer_join" -> 1,
      "q95_stream_late_data" -> 3, "q143_stream_bloom_dedup" -> 2)
  }

  test("two blocklist-gate calls with different plants get different staging dirs") {
    val pats = Seq("buy now")
    def gate(plants: Seq[(Long, String)]): Set[Long] =
      StreamOps.runStreamingBlocklistGateAvailableNow(spark, dir, plants, pats, maxHits = 1)
        .filter(!col("blocklist_keep")).select("doc_id").as[Long].collect().toSet
    val a = Seq((40000001L, "buy now buy now"))
    val b = Seq((40000002L, "buy now buy now"))
    gate(a) should contain(40000001L)
    gate(b) should (contain(40000002L) and not contain (40000001L))
    def staged(plants: Seq[(Long, String)]) =
      StreamOps.stagedDir(spark, "blgate", dir, Seq(plants))(fail("restaged")).path
    staged(a) should not be staged(b)
  }
}
