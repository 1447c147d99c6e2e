package graft

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.operators.LinearModel
import graft.streaming.StreamOps

/** Fitted state shared across calls must follow its inputs: rewriting
  * a table inside one application and calling again has to give what
  * a fresh fit over the new rows gives, not the first fit. */
class StaleInputSpec extends SparkSpec with Matchers {
  import spark.implicits._

  private val src = "/root/testdata/sf0.001"

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def bits(traj: Seq[LinearModel.GdRound]): Seq[(Int, Long, Long, Seq[Long])] =
    traj.map(r => (r.round, r.nPosErr, r.nNegErr,
      r.weights.map(java.lang.Double.doubleToLongBits).toSeq))

  test("qualityCorpusTrajectory refits after documents.parquet is rewritten") {
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val dir = tempDir("stale-quality")
    val path = s"$dir/documents.parquet"
    docs.filter($"doc_id" % 2 === 0).write.parquet(path)
    val first = LinearModel.qualityCorpusTrajectory(spark, dir, lr = 4.0, iterations = 4)
    val newRows = docs.filter($"doc_id" % 2 === 1)
    newRows.write.mode("overwrite").parquet(path)
    val second = LinearModel.qualityCorpusTrajectory(spark, dir, lr = 4.0, iterations = 4)
    val fresh = LinearModel.trainFastSigmoidGD(
      LinearModel.qualityTrainingFrame(newRows),
      LinearModel.qualityFeatureCols, "y", lr = 4.0, iterations = 4)
    bits(fresh) should not be bits(first)
    bits(second) shouldBe bits(fresh)
  }

  test("a staged stream replay restages after events.parquet is rewritten") {
    val events = graft.sources.EventsLoader.events(spark, src)
    val dir = tempDir("stale-events")
    val path = s"$dir/events.parquet"
    def ewma(d: String): Seq[(Long, Long, Long)] =
      StreamOps.runStreamingEwmaAvailableNow(spark, d, alpha = 0.25)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSeq.sorted
    events.filter($"user_id" % 2 === 0).write.parquet(path)
    val first = ewma(dir)
    val newRows = events.filter($"user_id" % 2 === 1)
    newRows.write.mode("overwrite").parquet(path)
    val second = ewma(dir)
    val freshDir = tempDir("stale-events-fresh")
    newRows.write.parquet(s"$freshDir/events.parquet")
    val fresh = ewma(freshDir)
    fresh should not be first
    second shouldBe fresh
  }
}
