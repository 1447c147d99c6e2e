package graft

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.operators.Matcher

/** Pins the flagship-query semantics of `main.py:67-166`:
  * deterministic top-k tie-break (argsort stability → lowest reference
  * row wins), rank pivot column layout, and the exact-match overwrite
  * incl. its definition-vs-all_text asymmetry and rank-2..k nulling. */
class MatcherSpec extends SparkSpec with Matchers {
  import spark.implicits._

  // reference table: 3 rows with frozen 2-d vectors
  private lazy val ref = Matcher.prepareReference(
    Seq(
      ("CL:1", "alveolar cell", "AT1", "def one", "alveolar cell AT1 def one", Seq(1.0, 0.0)),
      ("CL:2", "basal cell", "BC", "def two", "basal cell BC def two", Seq(0.0, 1.0)),
      ("CL:3", "duplicate name", "D1", "def three", "dup text three", Seq(1.0, 0.0)))
      .toDF("CT_ID", "CT_NAME", "CT_LABEL", "definition", "all_text", "embedding"),
    "embedding", Seq("CT_ID"))

  // RDD-backed, so the report projection runs as generated code (a
  // local Seq would let the optimizer fold it into a LocalRelation)
  private def queries(rows: (String, String, Seq[Double])*) =
    spark.sparkContext.parallelize(rows.toSeq, 1).toDF("source", "raw_input_label", "qvec")
      .withColumn("cleaned_input_label",
        graft.functions.GraftUdfs.cleanLabel(col("raw_input_label")))

  test("top-k ranks by cosine desc; ties break to the lower ref_row_id") {
    // qvec (1,0) ties CL:1 and CL:3 at cosine 1.0 — CL:1 (lower row id) must win rank 1
    val out = Matcher.mapLabels(
      queries(("test", "tied query", Seq(1.0, 0.0))), ref, k = 2).head()
    out.getAs[String]("matched_asctb_id_1") shouldBe "CL:1"
    out.getAs[String]("matched_asctb_id_2") shouldBe "CL:3"
    out.getAs[Double]("match_score_1") shouldBe 1.0 +- 1e-12
  }

  test("k larger than the corpus: missing ranks are null, no ANSI crash") {
    // 3-row reference, k=5 — ranks 4..5 have no candidate; the rank
    // projection must read past the top-k array's end null-safely
    // (ANSI mode turns a plain element access into an error)
    val out = Matcher.mapLabels(
      queries(("t", "small corpus", Seq(1.0, 0.5))), ref, k = 5).head()
    out.getAs[String]("matched_asctb_id_3") should not be null
    out.isNullAt(out.fieldIndex("match_score_4")) shouldBe true
    out.isNullAt(out.fieldIndex("matched_asctb_id_4")) shouldBe true
    out.isNullAt(out.fieldIndex("matched_asctb_text_5")) shouldBe true
  }

  test("report has the reference's wide schema for k=2") {
    val out = Matcher.mapLabels(queries(("t", "x", Seq(1.0, 1.0))), ref, k = 2)
    out.columns.toSeq shouldBe Seq(
      "source", "raw_input_label", "cleaned_input_label",
      "match_score_1", "matched_asctb_id_1", "matched_asctb_label_1", "matched_asctb_text_1",
      "match_score_2", "matched_asctb_id_2", "matched_asctb_label_2", "matched_asctb_text_2")
  }

  test("fuzzy path writes all_text into matched_asctb_text_i (main.py:97)") {
    val out = Matcher.mapLabels(
      queries(("t", "no exact match here", Seq(0.0, 1.0))), ref, k = 1).head()
    out.getAs[String]("matched_asctb_id_1") shouldBe "CL:2"
    out.getAs[String]("matched_asctb_text_1") shouldBe "basal cell BC def two"
  }

  test("exact overwrite: score forced 1.0, definition (not all_text) in slot 1, ranks 2..k nulled") {
    // cleaned("Basal Cells") == cleaned("basal cell") == "basal cell"
    val out = Matcher.mapLabels(
      queries(("t", "Basal Cells", Seq(1.0, 0.0))), ref, k = 2).head()
    out.getAs[Double]("match_score_1") shouldBe 1.0
    out.getAs[String]("matched_asctb_id_1") shouldBe "CL:2"
    // the reference's quirk: exact path writes `definition` into the text slot (main.py:145 vs :97)
    out.getAs[String]("matched_asctb_text_1") shouldBe "def two"
    out.isNullAt(out.fieldIndex("match_score_2")) shouldBe true
    out.isNullAt(out.fieldIndex("matched_asctb_id_2")) shouldBe true
  }

  test("zero query vector scores 0 everywhere and still yields k rows (no ANSI crash)") {
    val out = Matcher.mapLabels(
      queries(("t", "zzz empty", Seq(0.0, 0.0))), ref, k = 2).head()
    out.getAs[Double]("match_score_1") shouldBe 0.0
    out.getAs[String]("matched_asctb_id_1") shouldBe "CL:1" // tie at 0 → lowest row id
  }

  test("prepareReference rejects a corpus-sized reference table") {
    val corpus = spark.range(0, 1000)
      .select(col("id").cast("string").as("CT_ID"), lit("n").as("CT_NAME"),
        lit("t").as("all_text"), lit("d").as("definition"),
        array(lit(1.0), lit(0.0)).as("embedding"))
    // the guard is folded into the row_number projection (no separate
    // guard job), so it fires on the first ACTION over the prepared ref
    val e = intercept[Exception] {
      Matcher.prepareReference(corpus, "embedding", Seq("CT_ID"), maxCatalogRows = 100)
        .collect()
    }
    val messages = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString("\n")
    messages should include("catalog-sized")
  }

  test("prepareReference under the limit passes and numbers rows in order") {
    ref.select("ref_row_id").as[Long].collect().sorted shouldBe Array(1L, 2L, 3L)
  }

  test("mapLabels plan shape: one projection, no join, no aggregate, no shuffle") {
    import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p.collectWithSubqueries { case n => n }
    val q = queries(("test", "probe", Seq(1.0, 0.0)), ("test", "other", Seq(0.0, 1.0)))
    val all = nodes(Matcher.mapLabels(q, ref, k = 2).queryExecution.executedPlan)
    // the reference is collected at call time and broadcast by handle:
    // the report is the query side plus one fused projection
    all.count(_.isInstanceOf[BroadcastNestedLoopJoinExec]) shouldBe 0
    all.count(_.isInstanceOf[ObjectHashAggregateExec]) shouldBe 0
    all.count(_.isInstanceOf[BaseJoinExec]) shouldBe 0
    all.count(_.isInstanceOf[ShuffleExchangeExec]) shouldBe
      nodes(q.queryExecution.executedPlan).count(_.isInstanceOf[ShuffleExchangeExec])
    // and that projection runs as generated code, not interpreted
    all.collect { case w: WholeStageCodegenExec => w }
      .exists(_.toString.contains("graft_match_report")) shouldBe true
  }

  test("generated and interpreted kernels agree (RDD-backed vs folded local queries)") {
    val rows = Seq(("t", "tied query", Seq(1.0, 0.0)), ("t", "Basal Cells", Seq(0.3, 0.7)),
      ("t", "zzz", Seq(0.0, 0.0)), ("t", "odd", Seq(-1.0, 2.0, 5.0)))
    val local = rows.toDF("source", "raw_input_label", "qvec")
      .withColumn("cleaned_input_label",
        graft.functions.GraftUdfs.cleanLabel(col("raw_input_label")))
    Matcher.mapLabels(local, ref, k = 3).collect().toSeq shouldBe
      Matcher.mapLabels(queries(rows: _*), ref, k = 3).collect().toSeq
  }

  test("empty reference: empty report with the same schema") {
    val empty = ref.limit(0)
    val out = Matcher.mapLabels(queries(("t", "basal cell", Seq(1.0, 0.0))), empty, k = 2)
    out.count() shouldBe 0L
    out.schema shouldBe
      Matcher.mapLabels(queries(("t", "basal cell", Seq(1.0, 0.0))), ref, k = 2).schema
  }

  test("null qvec: exact overwrite still applies, fuzzy slots are null") {
    val rows = spark.sparkContext.parallelize(Seq(
        ("t", "Basal Cells", null: Seq[Double]), ("t", "no such label", null: Seq[Double])), 1)
      .toDF("source", "raw_input_label", "qvec")
      .withColumn("cleaned_input_label",
        graft.functions.GraftUdfs.cleanLabel(col("raw_input_label")))
    val out = Matcher.mapLabels(rows, ref, k = 2).collect()
      .map(r => r.getString(1) -> r).toMap
    val exact = out("Basal Cells")
    exact.getAs[Double]("match_score_1") shouldBe 1.0
    exact.getAs[String]("matched_asctb_id_1") shouldBe "CL:2"
    exact.isNullAt(exact.fieldIndex("match_score_2")) shouldBe true
    val fuzzy = out("no such label")
    Seq("match_score_1", "matched_asctb_id_1", "matched_asctb_label_1", "matched_asctb_text_1",
        "match_score_2", "matched_asctb_id_2").foreach { c =>
      fuzzy.isNullAt(fuzzy.fieldIndex(c)) shouldBe true
    }
  }

  test("duplicate query rows: one report row per query row, each ranked on its own") {
    // the report is a projection, so a duplicated (source,
    // raw_input_label, cleaned_input_label) row yields the same row
    // twice — callers dedupe upstream, as the flagship variants do —
    // and no reference row fills two ranks of one report row
    val out = Matcher.mapLabels(queries(("t", "tied query", Seq(1.0, 0.0)),
      ("t", "tied query", Seq(1.0, 0.0))), ref, k = 2).collect()
    out.length shouldBe 2
    out.distinct.length shouldBe 1
    out.map(_.getAs[String]("matched_asctb_id_1")).toSeq shouldBe Seq("CL:1", "CL:1")
    out.map(_.getAs[String]("matched_asctb_id_2")).toSeq shouldBe Seq("CL:3", "CL:3")
  }

  test("mapLabels over a corpus-sized reference fails when it is called") {
    val corpus = Matcher.prepareReference(spark.range(0, 1000)
      .select(col("id").cast("string").as("CT_ID"), lit("n").as("CT_NAME"),
        lit("t").as("all_text"), lit("d").as("definition"),
        array(lit(1.0), lit(0.0)).as("embedding")),
      "embedding", Seq("CT_ID"), maxCatalogRows = 100)
    val e = intercept[Exception] {
      Matcher.mapLabels(queries(("t", "x", Seq(1.0, 0.0))), corpus, k = 2)
    }
    val messages = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString("\n")
    messages should include("catalog-sized")
  }

  test("first-row-wins on duplicate cleaned reference names (main.py:119)") {
    val dupRef = Matcher.prepareReference(
      Seq(
        ("CL:9", "same name", "L9", "def nine", "t9", Seq(1.0, 0.0)),
        ("CL:8", "Same  Name", "L8", "def eight", "t8", Seq(0.0, 1.0)))
        .toDF("CT_ID", "CT_NAME", "CT_LABEL", "definition", "all_text", "embedding"),
      "embedding", Seq("CT_ID"))
    // both clean to "same name"; ref_row_id ordered by CT_ID → CL:8 first
    val out = Matcher.mapLabels(
      queries(("t", "same name", Seq(1.0, 0.0))), dupRef, k = 1).head()
    out.getAs[String]("matched_asctb_id_1") shouldBe "CL:8"
    out.getAs[String]("matched_asctb_text_1") shouldBe "def eight"
  }
}
