package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge
import org.apache.spark.sql.types.{BinaryType, StringType}
import org.scalatest.matchers.should.Matchers

import graft.operators.LinearModel
import graft.sources.ProbedParquet
import graft.streaming.StreamOps

/** Fitted state shared across calls must follow its inputs: rewriting
  * a table inside one application and calling again has to give what
  * a fresh fit over the new rows gives, not the first fit. Probing an
  * input's schema must not write the caller's session conf either. */
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

  test("a table rewritten with an added column shows it on the next read") {
    val part = spark.read.parquet(s"$src/part.parquet")
    val dir = tempDir("stale-schema")
    val path = s"$dir/part.parquet"
    part.write.parquet(path)
    SparkEntry.t(spark, dir, "part").columns should not contain "p_added"
    part.withColumn("p_added", col("p_partkey") * 2).write.mode("overwrite").parquet(path)
    val second = SparkEntry.t(spark, dir, "part")
    second.columns should contain("p_added")
    second.filter(col("p_added") =!= col("p_partkey") * 2).count() shouldBe 0L
  }

  test("q44 refits its vocabulary after part.parquet is rewritten") {
    val part = spark.read.parquet(s"$src/part.parquet")
    def withDocs(prefix: String): String = {
      val d = tempDir(prefix)
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$src/documents.parquet"),
        java.nio.file.Paths.get(s"$d/documents.parquet"))
      d
    }
    def q44(d: String): (Seq[org.apache.spark.sql.Row], Seq[(String, Seq[Double])]) = {
      val rows = SparkEntry.queries("q44_label_match_w2v")(spark, d).collect().toSeq
      (rows, SparkEntry.q44VocabHolder.get.get.map { case (w, v) => w -> v.toSeq })
    }
    val dir = withDocs("stale-q44")
    val path = s"$dir/part.parquet"
    part.filter($"p_partkey" % 2 === 0).write.parquet(path)
    val first = q44(dir)
    val newRows = part.filter($"p_partkey" % 2 === 1)
    newRows.write.mode("overwrite").parquet(path)
    val second = q44(dir)
    val freshDir = withDocs("stale-q44-fresh")
    newRows.write.parquet(s"$freshDir/part.parquet")
    val fresh = q44(freshDir)
    fresh._2 should not be first._2
    second shouldBe fresh
  }

  test("q24 and q40 rebuild their catalog references after part.parquet is rewritten") {
    val part = spark.read.parquet(s"$src/part.parquet")
    // new rows, and a changed p_name on a row q40 plants as a label
    val v1 = part.filter($"p_partkey" % 2 === 0)
    val v2 = part.withColumn("p_name",
      when($"p_partkey" === 50, lit("rewritten part name")).otherwise($"p_name"))
    def withDocs(prefix: String): String = {
      val d = tempDir(prefix)
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$src/documents.parquet"),
        java.nio.file.Paths.get(s"$d/documents.parquet"))
      d
    }
    def fresh(version: org.apache.spark.sql.DataFrame, prefix: String): String = {
      val d = withDocs(prefix)
      version.write.parquet(s"$d/part.parquet")
      d
    }
    def rows(name: String, d: String) = SparkEntry.queries(name)(spark, d).collect().toSeq
    val dir = fresh(v1, "stale-ref")
    // q40 runs after q24 over the same directory: it must build its
    // own reference, not get q24's
    val first = Seq("q24_label_match_report", "q40_label_match_frozen").map(rows(_, dir))
    val v1Dir = fresh(v1, "stale-ref-v1")
    rows("q40_label_match_frozen", v1Dir) shouldBe first(1)
    v2.write.mode("overwrite").parquet(s"$dir/part.parquet")
    val second = Seq("q24_label_match_report", "q40_label_match_frozen").map(rows(_, dir))
    val v2Dir = fresh(v2, "stale-ref-v2")
    val want = Seq("q24_label_match_report", "q40_label_match_frozen").map(rows(_, v2Dir))
    want(0) should not be first(0)
    want(1) should not be first(1)
    second shouldBe want
  }

  test("a schema probed under binaryAsString=true is not served with it false") {
    // written through parquet's own API: a Spark-written file carries
    // its Spark schema in the footer, which inference prefers to the
    // flag, so only a plain binary column shows what the flag changes
    val path = s"${tempDir("stale-binary")}/bytes.parquet"
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int64 id; required binary b; }")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(path)).withType(schema).build()
    try writer.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
      .newGroup().append("id", 1L).append("b",
        org.apache.parquet.io.api.Binary.fromConstantByteArray(Array[Byte](104, 105))))
    finally writer.close()
    def session(binaryAsString: Boolean) = {
      val s = graftbridge.isolatedSession(spark)
      s.conf.set("spark.sql.parquet.binaryAsString", binaryAsString.toString)
      s
    }
    ProbedParquet.schema(session(true), path)("b").dataType shouldBe StringType
    ProbedParquet.schema(session(false), path)("b").dataType shouldBe BinaryType
    ProbedParquet.read(session(true), path).head().getString(1) shouldBe "hi"
    ProbedParquet.read(session(false), path).head().getAs[Array[Byte]](1).toSeq shouldBe
      Seq[Byte](104, 105)
  }

  test("a batch events read over a MICROS file leaves nanosAsLong unset on the caller") {
    val dir = tempDir("micros-events")
    Seq((1L, 1704067798778549L, 7L, "click", 1.5, "{}"))
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select($"event_id", expr("cast(timestamp_micros(us) as timestamp_ntz)").as("ts"),
        $"user_id", $"event_type", $"value", $"props")
      .write.parquet(s"$dir/events.parquet")
    val caller = graftbridge.isolatedSession(spark)
    caller.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    val ts = graft.sources.EventsLoader.events(caller, dir)
      .select(unix_micros($"ts")).head().getLong(0)
    ts shouldBe 1704067798778549L
    caller.conf.getAll.get("spark.sql.legacy.parquet.nanosAsLong") shouldBe None
  }
}
