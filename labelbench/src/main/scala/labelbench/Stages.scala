package labelbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.embed.Md5HashingEmbedder
import graft.functions.GraftUdfs
import graft.operators.{Blocklist, Dedup, Matcher, TextAnalysis}

/** Module stages of the traced run: the engine's public functions called
  * one step at a time, each step's input materialised first, so each
  * step's time is its own.
  *
  *  - label mapping (q24's steps): `functions.clean_s` (label cleaning),
  *    `embed.embed_s` (both sides), `operators.match_s` (prepare the
  *    reference, cosine top-2, exact overwrite);
  *  - curation gates, each applied to the whole corpus:
  *    `operators.<gate>_s` and `operators.<gate>.keep_ratio`, rows out
  *    over rows in (`operators.gate_rows_in`). */
object Stages {

  /** Blocklist phrases made of the generator's vocabulary, so a share of
    * documents is blocked whatever the seed. */
  val blocklist = Seq("the data", "hash join", "slow scan", "big table", "stream window")

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def pin(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  def run(spark: SparkSession, dir: String): Map[String, Any] = {
    val docs = pin(spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"), col("source")))
    val part = spark.read.parquet(s"$dir/part.parquet")
    labelMapping(docs, part) ++ gates(spark, dir, docs)
  }

  private def labelMapping(docs: DataFrame, part: DataFrame): Map[String, Any] = {
    val embedder = new Md5HashingEmbedder(dim = 64)
    val raw = pin(docs.select(col("source"),
        concat_ws(" ", slice(split(col("text"), " "), 1, 3)).as("raw_input_label"))
      .distinct())
    val ref0 = pin(part.filter(col("p_partkey") <= 300)
      .select(col("p_partkey").cast("string").as("CT_ID"),
        col("p_name").as("CT_NAME"), col("p_brand").as("CT_LABEL"),
        col("p_type").as("definition"))
      .withColumn("all_text", coalesce(concat(col("CT_NAME"), lit(" "), col("CT_LABEL"),
        lit(" "), col("definition")), col("CT_NAME"))))
    val (cleaned, cleanS) = timed(pin(
      raw.withColumn("cleaned_input_label", GraftUdfs.cleanLabel(col("raw_input_label")))))
    val ((queries, ref), embedS) = timed((
      pin(embedder.embed(cleaned, "cleaned_input_label", "qvec")),
      pin(embedder.embed(ref0, "all_text", "embedding"))))
    val (_, matchS) = timed(Main.consume(
      Matcher.mapLabels(queries, Matcher.prepareReference(ref, "embedding", Seq("CT_ID")), k = 2)))
    Map("functions.clean_s" -> cleanS, "embed.embed_s" -> embedS, "operators.match_s" -> matchS,
      "operators.match_rows_in" -> queries.count())
  }

  private def gates(spark: SparkSession, dir: String, docs: DataFrame): Map[String, Any] = {
    val rowsIn = docs.count()
    // the fitted model is shared state; fit it before the gate is timed
    val f = TextAnalysis.langIdCorpusModel(spark, dir)
    val m = f.model
    val gateFrames: Seq[(String, () => DataFrame)] = Seq(
      "langid" -> (() => docs.filter {
        val r = TextAnalysis.langIdScore(col("text"), f.langs, f.weights, f.priors,
          m.buckets, m.n, m.maxChars, m.salt)
        r.getField("n_grams") > 0 && r.getField("trained_lang") === "en"
      }),
      "repetition" -> (() => TextAnalysis.repetitionSignals(docs, "doc_id", "text")
        .filter(col("gopher_keep"))),
      "blocklist" -> (() => Blocklist.screen(docs, "doc_id", "text", blocklist, maxHits = 1)
        .filter(col("blocklist_keep"))),
      "quality" -> (() => TextAnalysis.qualityMetrics(docs, "text")
        .filter(col("quality_score") >= 0.75)),
      "dedup" -> (() => docs.join(
        Dedup.minhashNearDuplicates(docs, "text", "doc_id", shingleSize = 3, numHashes = 8,
          rowsPerBand = 2, jaccardThreshold = 0.8).select(col("id_b").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")))
    gateFrames.flatMap { case (gate, frame) =>
      val (kept, s) = timed(pin(frame()))
      val rowsOut = kept.count()
      Seq(s"operators.${gate}_s" -> s,
        s"operators.$gate.keep_ratio" -> (if (rowsIn == 0) 0.0 else rowsOut.toDouble / rowsIn))
    }.toMap + ("operators.gate_rows_in" -> rowsIn)
  }
}
