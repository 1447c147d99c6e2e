package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{GraftUdfs, TopKBuffer, VectorOps}

/** The flagship label-mapping query: raw labels → top-k reference
  * matches → wide translation report with exact-match overwrite.
  *
  * Re-expresses `main.py:171-221` (per-label python loop, per-label
  * cosine against a re-stacked reference matrix, boolean-mask scatter,
  * 10 isin-mask passes for the exact overwrite) as ONE narrow
  * projection over the query rows:
  *
  *   labels → cleanLabel → embed → [[MatchReportExpr]]
  *          (cosine vs every reference row → bounded top-k → rank
  *           pivot → exact-overwrite, all per query row)
  *
  * Physical profile: `mapLabels` runs one collect job when it is
  * called — an eager action over the prepared reference (its scan,
  * embed and row-number sort run then, once per call). The reference
  * is catalog-sized by construction (83 rows for Lung v1.2, at most
  * `maxCatalogRows` by guard); it comes to the driver in `ref_row_id`
  * order, is packed into one immutable [[MatchReference]] and is
  * broadcast once. The returned plan is the query side plus one
  * projection that reads that broadcast: no join, no aggregate, no
  * exchange and no sort of its own, so the query side stays
  * distributed and scales linearly with executors. The projection
  * holds the broadcast handle, never literals of the reference, so
  * its generated code is the same on every call and a warm call
  * compiles nothing.
  *
  * Session note: the matcher needs no session setting. Its bounded
  * top-k is the per-row [[graft.functions.TopKBuffer]], not an
  * aggregate, so the object-hash fallback threshold
  * (`spark.sql.objectHashAggregate.sortBased.fallbackThreshold`)
  * matters only to the `TopKByScoreAgg` users: Ann, Curation and
  * LateInteraction.
  */
object Matcher {

  /** Prepare a reference table for matching: stable row id (the
    * reference relies on pandas positional order for tie-breaks,
    * `main.py:91-97`; we freeze an explicit id), cleaned CT_NAME for
    * exact matching (`main.py:139`), pre-computed vector norm so the
    * per-pair kernel is one dot product.
    *
    * `ref` must have columns CT_ID, CT_NAME, all_text, definition and
    * `vecCol`; `orderCols` fixes what "first row" means (file order
    * in the reference — pass an explicit ordering for determinism).
    *
    * `cleaner` is the label-normalisation stage applied to CT_NAME for
    * exact matching — a pluggable seam like the embedder. Production
    * default is the full reference NLP pipeline
    * (`nlp_preprocessing.py:86-99`); the frozen-vector oracle variant
    * (q40) injects a SQL-expressible cleaner so DuckDB can replay the
    * whole matcher.
    */
  def prepareReference(ref: DataFrame, vecCol: String, orderCols: Seq[String],
                       cleaner: Column => Column = GraftUdfs.cleanLabel(_),
                       maxCatalogRows: Int = 1 << 20): DataFrame = {
    // ref_row_id is a GLOBAL row_number — a single-partition sort —
    // because the reference's tie-breaks are positional file order
    // (`main.py:91-97`). That is only sane for catalog-sized
    // references (83 rows for Lung v1.2), which mapLabels collects
    // and broadcasts anyway. Fail loudly on a corpus-sized input
    // instead of silently one-task-sorting it. (Corpus-scale global
    // ordinals, where genuinely needed, are Layout.globalOrdinals —
    // range-partitioned offset attach, no SinglePartition sort.) The guard is folded
    // into the row_number projection itself (raise_error past the
    // limit) — zero extra Spark jobs per invocation, and the failure
    // fires on the first action: mapLabels' collect of the reference.
    val w = Window.orderBy(orderCols.map(col): _*)
    val rid = row_number().over(w).cast("long")
    val guarded = when(rid <= lit(maxCatalogRows.toLong), rid)
      .otherwise(raise_error(lit(
        s"prepareReference: reference table exceeds $maxCatalogRows rows — it must be " +
          "catalog-sized (it is broadcast and globally row-numbered). For corpus-scale " +
          "similarity use Ann.bruteForceTopK/ivfTopK instead.")).cast("long"))
    ref
      .withColumn("ref_row_id", guarded)
      .withColumn("CT_NAME_CLEANED", cleaner(col("CT_NAME")))
      .withColumn("ref_norm", VectorOps.l2Norm(col(vecCol)))
  }

  /** queries: (source, raw_input_label, cleaned_input_label, qvec) —
    * cleaned+embedded upstream so any [[graft.embed.Embedder]] plugs in.
    * Every query row yields exactly one report row, so callers pass
    * one row per (source, raw_input_label) — the flagship variants
    * `distinct()` their labels upstream.
    * ref: output of [[prepareReference]]; collected here, at call time.
    * Returns the wide report of FIXTURES.md §4 / `main.py:194-211`
    * (no rows when the reference is empty).
    */
  def mapLabels(queries: DataFrame, ref: DataFrame, k: Int,
                vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.graftbridge.{toColumn, toExpression}
    require(k >= 1, "k must be >= 1")
    val packed = MatchReference.collect(ref, vecCol)
    val handle = queries.sparkSession.sparkContext.broadcast(packed)
    val report = toColumn(MatchReportExpr(
      toExpression(col("cleaned_input_label")),
      toExpression(col("qvec").cast("array<double>")), handle, k))
    val keys = Seq(col("source"), col("raw_input_label"), col("cleaned_input_label"))
    // no reference row, no candidate: the report is empty. The
    // optimizer prunes lit(true), so a non-empty reference adds no filter
    queries.where(lit(packed.size > 0))
      .select(keys :+ report.as("__m"): _*)
      .select(keys :+ col("__m.*"): _*)
  }
}

/** The prepared reference, packed on the driver in `ref_row_id` order
  * for [[MatchReportExpr]]: vectors with their precomputed norms, the
  * display attributes each rank fetches, and the exact-match lookup
  * (cleaned CT_NAME → CT_ID, CT_NAME, definition; first row wins, the
  * reference's `.values[0]`, `main.py:119`).
  *
  * Row r of every array is the r-th reference row by `ref_row_id`, so
  * ranking by (score DESC, r ASC) is ranking by (score DESC,
  * ref_row_id ASC) — the argsort-stability tie-break of `main.py:91`.
  * Rows whose vector or norm is null carry a null vector and never
  * score: their cosine is null, and null scores never rank.
  */
final class MatchReference private (
    val ids: Array[Long],
    vectors: Array[Array[Double]],
    norms: Array[Double],
    ctIds: Array[UTF8String],
    ctNames: Array[UTF8String],
    allTexts: Array[UTF8String],
    exact: java.util.HashMap[UTF8String, Array[UTF8String]]) extends Serializable {

  def size: Int = ids.length

  /** Top-k reference rows for one query vector (no null elements),
    * as (score, row index) in (score DESC under `Double.compare`, row
    * ASC) order. Bit-identical to `VectorOps.cosineWithNorms`: the
    * dot products sum left to right over the common prefix, the query
    * norm is `sqrt` of its full self-dot, and a zero norm product
    * scores 0.0. */
  def topK(q: Array[Double], k: Int): TopKBuffer = {
    val top = new TopKBuffer(k)
    var qq = 0.0
    var i = 0
    while (i < q.length) { qq += q(i) * q(i); i += 1 }
    val qNorm = math.sqrt(qq)
    var r = 0
    while (r < vectors.length) {
      val v = vectors(r)
      if (v != null) {
        val n = math.min(q.length, v.length)
        var dot = 0.0
        var j = 0
        while (j < n) { dot += q(j) * v(j); j += 1 }
        val denom = qNorm * norms(r)
        top.insert(if (denom == 0.0) 0.0 else dot / denom, r)
      }
      r += 1
    }
    top
  }

  /** One report row's 4·k rank slots (score, CT_ID, CT_NAME, text per
    * rank). An exact cleaned-name hit fills slot 1 with score 1.0 and
    * `definition` — not `all_text`, the reference's quirk (`main.py:97`
    * vs `:145`) — and leaves slots 2..k null; otherwise the fuzzy top-k
    * fills the slots, past-the-end ranks null. A null query vector or
    * a null element (null cosine against every row) leaves every fuzzy
    * slot null. */
  def report(cleaned: UTF8String, qvec: ArrayData, k: Int): InternalRow = {
    val out = new Array[Any](4 * k)
    val hit = if (cleaned == null) null else exact.get(cleaned)
    if (hit != null) {
      out(0) = 1.0
      out(1) = hit(0)
      out(2) = hit(1)
      out(3) = hit(2)
    } else if (qvec != null && !MatchReference.hasNull(qvec)) {
      val top = topK(qvec.toDoubleArray(), k)
      var i = 0
      while (i < top.size) {
        val r = top.ids(i).toInt
        out(4 * i) = top.scores(i)
        out(4 * i + 1) = ctIds(r)
        out(4 * i + 2) = ctNames(r)
        out(4 * i + 3) = allTexts(r)
        i += 1
      }
    }
    new GenericInternalRow(out)
  }
}

object MatchReference {

  private def hasNull(a: ArrayData): Boolean = {
    var i = 0
    while (i < a.numElements()) { if (a.isNullAt(i)) return true; i += 1 }
    false
  }

  private val attributes = Seq("CT_ID", "CT_NAME", "all_text", "definition", "CT_NAME_CLEANED")

  /** Collects a [[Matcher.prepareReference]] output (one action) and
    * packs it. Sorting by `ref_row_id` happens here on the driver, so
    * the collect adds no exchange to the reference's own plan. */
  def collect(ref: DataFrame, vecCol: String): MatchReference = {
    attributes.foreach { c =>
      require(ref.schema(c).dataType == StringType,
        s"mapLabels: reference column $c must be a string, got ${ref.schema(c).dataType}")
    }
    val rows = ref.select((Seq(col("ref_row_id"), col(vecCol).cast("array<double>"),
        col("ref_norm")) ++ attributes.map(col)): _*)
      .collect().sortBy(_.getLong(0))
    def utf8(s: String): UTF8String = if (s == null) null else UTF8String.fromString(s)
    val exact = new java.util.HashMap[UTF8String, Array[UTF8String]]()
    rows.foreach { r =>
      if (!r.isNullAt(7))
        exact.putIfAbsent(utf8(r.getString(7)),
          Array(utf8(r.getString(3)), utf8(r.getString(4)), utf8(r.getString(6))))
    }
    new MatchReference(
      rows.map(_.getLong(0)),
      rows.map(r => if (r.isNullAt(1) || r.isNullAt(2)) null else r.getSeq[Double](1).toArray),
      rows.map(r => if (r.isNullAt(2)) 0.0 else r.getDouble(2)),
      rows.map(r => utf8(r.getString(3))),
      rows.map(r => utf8(r.getString(4))),
      rows.map(r => utf8(r.getString(5))),
      exact)
  }
}

/** The fused matcher kernel as a Catalyst expression:
  * (cleaned_input_label, qvec) → the report's 4·k rank columns as one
  * struct, computed by [[MatchReference.report]] against a broadcast
  * reference. Generated code calls the kernel through the expression
  * object in the stage's references array, so it never embeds the
  * reference and is identical across calls with the same k. */
case class MatchReportExpr(cleaned: Expression, qvec: Expression,
    reference: Broadcast[MatchReference], k: Int)
    extends Expression with ImplicitCastInputTypes {

  require(k >= 1, "k must be >= 1")

  override def children: Seq[Expression] = Seq(cleaned, qvec)

  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.AbstractType] =
    Seq(StringType, ArrayType(DoubleType))

  override def nullable: Boolean = false

  override def dataType: DataType = StructType((1 to k).flatMap(i => Seq(
    StructField(s"match_score_$i", DoubleType),
    StructField(s"matched_asctb_id_$i", StringType),
    StructField(s"matched_asctb_label_$i", StringType),
    StructField(s"matched_asctb_text_$i", StringType))))

  override def prettyName: String = "graft_match_report"

  @transient private lazy val packed = reference.value

  def report(c: UTF8String, q: ArrayData): InternalRow = packed.report(c, q, k)

  override def eval(input: InternalRow): Any =
    report(cleaned.eval(input).asInstanceOf[UTF8String],
      qvec.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("matchReport", this, classOf[MatchReportExpr].getName)
    val c = cleaned.genCode(ctx)
    val q = qvec.genCode(ctx)
    ev.copy(isNull = FalseLiteral, code = code"""
      ${c.code}
      ${q.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} = $self.report(
        ${c.isNull} ? null : ${c.value}, ${q.isNull} ? null : ${q.value});""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MatchReportExpr =
    copy(cleaned = newChildren(0), qvec = newChildren(1))
}
