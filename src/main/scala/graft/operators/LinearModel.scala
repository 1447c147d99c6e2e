package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed training of a linear quality classifier by full-batch
  * gradient descent — the trainable half of the curation gate family
  * (q17's heuristic scores, q86/q104's LM scorers): a production
  * corpus pipeline trains exactly this shape of model (a linear probe
  * over cheap per-doc statistics) to replace hand-tuned thresholds,
  * then scores 100 TB with a pure projection.
  *
  * Why this is certifiable where MLlib's LogisticRegression is not:
  *   - The activation is the RATIONAL "fast sigmoid"
  *     `p = 0.5·(1 + z/(1+|z|))` — division, addition and abs are
  *     correctly-rounded IEEE ops, so per-row probabilities are
  *     bit-identical across engines; `exp`'s rounding is
  *     implementation-defined, which would poison a cross-engine
  *     hash even through micro-rounding.
  *   - Per-row gradient contributions are micro-quantized to BIGINT
  *     BEFORE summation (`round(((p−y)·xⱼ)·10⁶)`), so the per-round
  *     gradient is an EXACT integer sum — order- and
  *     partition-independent where a double sum drifts with
  *     accumulation order (the q117/q118 discipline).
  *   - Each weight update is ONE fixed double expression over those
  *     exact integers: `wⱼ ← wⱼ − lr·((Gⱼ/10⁶)/N)`. A DuckDB oracle
  *     unrolling the same rounds replays the whole trajectory
  *     bit-for-bit (the [[Cluster.kmeansMicro]] / [[Graph.pageRank]]
  *     treatment).
  *
  * Scale shape: each round is one map-side-combining aggregate to a
  * SINGLE row (the gradient), broadcast back for the next round's
  * scoring — the corpus never shuffles, and per-round exchange is
  * O(features·tasks). Iteration count is a fixed budget, not a
  * convergence test, for bounded plans.
  */
object LinearModel {

  /** `z = ((w0·x0 + w1·x1) + …)` — left-assoc fold, the exact shape
    * the oracle SQL writes. Include an explicit all-ones bias column
    * in `xCols` for an intercept. */
  def z(xCols: Seq[String], wCols: Seq[String]): Column =
    xCols.zip(wCols).map { case (x, w) => col(w) * col(x) }
      .reduceLeft(_ + _)

  /** Rational fast sigmoid `0.5·(1 + z/(1+|z|))` ∈ (0,1) — monotone,
    * p ≥ 0.5 ⇔ z ≥ 0, and built only from correctly-rounded IEEE
    * ops so it is bit-identical across engines. */
  def fastSigmoid(zc: Column): Column =
    lit(0.5) * (lit(1.0) + zc / (lit(1.0) + abs(zc)))

  /** `z` with the fitted weights folded in as literals — the pure
    * projection that scores 100 TB. Same left-assoc fold as [[z]]. */
  def zLiteral(xCols: Seq[String], weights: Array[Double]): Column = {
    require(xCols.length == weights.length, "one weight per feature")
    xCols.zip(weights).map { case (x, w) => lit(w) * col(x) }
      .reduceLeft(_ + _)
  }

  /** One round's driver-visible state: error counts measured with the
    * round's STARTING weights, then the post-update weights. */
  final case class GdRound(round: Int, nPosErr: Long, nNegErr: Long,
                           weights: Array[Double])

  /** `iterations` rounds of full-batch GD from w = 0, driver-paced
    * like [[Cluster.kmeansMicro]]: per round ONE map-side-combining
    * aggregate over the (persisted) feature frame with the current
    * weights folded in as literals — gradient sums arrive micro-exact
    * (BIGINT), the driver applies the one fixed double update
    * expression, and the corpus is scanned once per round (never
    * re-executed through lineage). Returns the whole trajectory;
    * `.last.weights` is the fitted model. `rows` must carry DOUBLE
    * feature columns `xCols` (include a `lit(1.0)` bias column for an
    * intercept) and a DOUBLE 0/1 label `yCol`. */
  def trainFastSigmoidGD(rows: DataFrame, xCols: Seq[String], yCol: String,
      lr: Double, iterations: Int,
      init: Option[Array[Double]] = None): Seq[GdRound] = {
    require(xCols.nonEmpty, "need at least one feature column")
    require(iterations >= 1, "iterations must be >= 1")
    require(init.forall(_.length == xCols.length),
      "init weights must match the feature count")
    val feat = rows.select((xCols.map(col) :+ col(yCol)): _*).persist()
    try {
      val d = xCols.length
      val w = init.map(_.clone()).getOrElse(Array.fill(d)(0.0))
      (1 to iterations).map { r =>
        val zc = zLiteral(xCols, w)
        val p = fastSigmoid(zc)
        val aggs = Seq(
          count(lit(1)).as("__n"),
          sum(when(col(yCol) === 1.0 && zc < 0, 1L).otherwise(0L))
            .as("__pos_err"),
          sum(when(col(yCol) === 0.0 && zc >= 0, 1L).otherwise(0L))
            .as("__neg_err")) ++
          xCols.zipWithIndex.map { case (x, j) =>
            sum(round(((p - col(yCol)) * col(x)) * lit(1e6))
              .cast("long")).as(s"__g$j")
          }
        val row = feat.agg(aggs.head, aggs.tail: _*).collect().head
        val n = row.getLong(0)
        require(n > 0, "cannot train on an empty feature frame")
        val nD = n.toDouble
        var j = 0
        while (j < d) {
          // the ONE update expression the oracle replays bit-for-bit
          w(j) = w(j) - lr * ((row.getLong(3 + j).toDouble / 1e6) / nD)
          j += 1
        }
        GdRound(r, row.getLong(1), row.getLong(2), w.clone())
      }
    } finally feat.unpersist()
  }

  /** Board-shared fitted quality trajectory, held in
    * [[graft.FittedCache]]: q154/q155/q159/q161/q162/q163-phase-1 and
    * the q157 streaming gate all train the IDENTICAL model (the
    * [[qualityTrainingFrame]] of `dir`'s documents under the same
    * (lr, iterations)), so the 8-round GD aggregate runs once per
    * application instead of once per query. The value is pure driver
    * parameter state (≤ iterations rounds × (2 longs + |features|
    * doubles)); memoized ≡ fresh bit-for-bit because
    * [[trainFastSigmoidGD]] is deterministic (exact BIGINT gradient
    * sums, one fixed double update expression). Pinned by
    * LinearModelSpec. */
  def qualityCorpusTrajectory(spark: org.apache.spark.sql.SparkSession,
      dir: String, lr: Double, iterations: Int): Seq[GdRound] = {
    val docs = s"$dir/documents.parquet"
    graft.FittedCache.get(spark, "LinearModel.qualityCorpusTrajectory",
        Seq(docs), Seq(lr, iterations)) {
      trainFastSigmoidGD(qualityTrainingFrame(spark.read.parquet(docs)),
        qualityFeatureCols, "y", lr, iterations)
    }
  }

  /** GROUPED full-batch GD: one independent model per value of
    * `groupCol`, ALL groups advancing in the same per-round
    * aggregate — the "per-domain quality model" shape (one model per
    * source/language/subreddit), trained as cheaply as one global
    * model because the grouped aggregate carries every gradient in
    * a single map-side-combining pass. Per round: current weights
    * broadcast-joined onto the feature frame by group, then ONE
    * `groupBy(groupCol)` aggregate returns each group's micro-exact
    * gradient row; the driver applies the same update expression
    * per group. Driver state and per-round exchange are
    * O(groups · features) — groups must be parameter-sized (they
    * are model instances). Returns the trajectory frame
    * (groupCol, round, n_pos_err, n_neg_err, w_<xCol>), ordered by
    * (group, round). */
  def trainFastSigmoidGDGrouped(rows: DataFrame, groupCol: String,
      xCols: Seq[String], yCol: String, lr: Double,
      iterations: Int): DataFrame = {
    require(xCols.nonEmpty, "need at least one feature column")
    require(iterations >= 1, "iterations must be >= 1")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructType}
    val spark = rows.sparkSession
    val d = xCols.length
    val wCols = xCols.indices.map(j => s"__w$j")
    val feat = rows
      .select(col(groupCol) +: (xCols.map(col) :+ col(yCol)): _*).persist()
    try {
      val groups = feat.select(col(groupCol)).distinct()
        .collect().map(_.getString(0)).sorted // model list: parameter-sized
      val w = scala.collection.mutable.LinkedHashMap(
        groups.map(g => g -> Array.fill(d)(0.0)): _*)
      val wSchema = wCols.foldLeft(
        new StructType().add(groupCol, StringType)) { (s, c) =>
        s.add(c, DoubleType) }
      val traj = Seq.newBuilder[Row]
      for (r <- 1 to iterations) {
        val wDf = spark.createDataFrame(
          spark.sparkContext.parallelize(
            groups.toSeq.map(g => Row.fromSeq(g +: w(g).toSeq)), 1), wSchema)
        val zc = z(xCols, wCols)
        val p = fastSigmoid(zc)
        val aggs = Seq(
          sum(when(col(yCol) === 1.0 && zc < 0, 1L).otherwise(0L))
            .as("__pos_err"),
          sum(when(col(yCol) === 0.0 && zc >= 0, 1L).otherwise(0L))
            .as("__neg_err"),
          count(lit(1)).as("__n")) ++
          xCols.zipWithIndex.map { case (x, j) =>
            sum(round(((p - col(yCol)) * col(x)) * lit(1e6))
              .cast("long")).as(s"__g$j")
          }
        val byGroup = feat.join(broadcast(wDf), groupCol)
          .groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
          .collect().map(row => row.getString(0) -> row).toMap
        groups.foreach { g =>
          val row = byGroup(g)
          val n = row.getLong(3)
          val nD = n.toDouble
          val wg = w(g)
          var j = 0
          while (j < d) {
            wg(j) = wg(j) - lr * ((row.getLong(4 + j).toDouble / 1e6) / nD)
            j += 1
          }
          traj += Row.fromSeq(
            Seq(g, r.toLong, row.getLong(1), row.getLong(2)) ++ wg.toSeq)
        }
      }
      val outSchema = xCols.foldLeft(new StructType()
          .add(groupCol, StringType).add("round", LongType)
          .add("n_pos_err", LongType).add("n_neg_err", LongType)) {
        (s, x) => s.add(s"w_$x", DoubleType) }
      spark.createDataFrame(
        spark.sparkContext.parallelize(traj.result(), 1), outSchema)
    } finally feat.unpersist()
  }

  /** The GD trajectory as a DataFrame (round, pre-update error
    * counts, post-update weights `w_<xCol>`) — parameter-sized, built
    * on the driver. */
  def trajectoryFrame(spark: org.apache.spark.sql.SparkSession,
      xCols: Seq[String], rounds: Seq[GdRound]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, LongType, StructType}
    val schema = xCols.foldLeft(new StructType()
        .add("round", LongType).add("n_pos_err", LongType)
        .add("n_neg_err", LongType)) { (s, x) => s.add(s"w_$x", DoubleType) }
    val rows = rounds.map(r => Row.fromSeq(
      Seq(r.round.toLong, r.nPosErr, r.nNegErr) ++ r.weights.toSeq))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** Score with fitted weights: appends `p` (the fast-sigmoid
    * probability, bit-identical across engines) and `pred`
    * (p ≥ 0.5 ⇔ z ≥ 0, stated on z so no probability round trip is
    * involved). A pure codegen projection — the 100 TB apply path. */
  def scoreLinear(rows: DataFrame, xCols: Seq[String],
      weights: Array[Double]): DataFrame = {
    val zc = zLiteral(xCols, weights)
    rows
      .withColumn("p", fastSigmoid(zc))
      .withColumn("pred", when(zc >= 0, 1L).otherwise(0L))
  }

  /** The engine's standard quality-probe training frame over a
    * document corpus: bias + the q17 ratio features (identical IEEE
    * expression trees, so both engines see bit-equal doubles) and an
    * integer-predicate label (alpha-heavy docs with ≥ 5 words —
    * exact BIGINT comparisons, the deterministic-membership
    * discipline). */
  def qualityTrainingFrame(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", keepCols: Seq[String] = Nil): DataFrame = {
    val t = col(textCol)
    val nChars = length(t).cast("double")
    val tok = split(lower(t), "\\s+")
    val nWords = size(tok).cast("double")
    val nAlpha = length(regexp_replace(t, "[^a-zA-Z]", "")).cast("double")
    val nDigit = length(regexp_replace(t, "[^0-9]", "")).cast("double")
    val nPunct = length(regexp_replace(t, "[a-zA-Z0-9\\s]", "")).cast("double")
    val nUpper = length(regexp_replace(t, "[^A-Z]", "")).cast("double")
    val enStop = array(graft.functions.TextNlp.stopwords.toSeq.sorted.map(lit): _*)
    val nStop = size(filter(tok, w => array_contains(enStop, w))).cast("double")
    docs.select(col(idCol) +: keepCols.map(col) ++: Seq(lit(1.0).as("x_bias"),
      (nAlpha / greatest(nChars, lit(1.0))).as("x_alpha"),
      (nDigit / greatest(nChars, lit(1.0))).as("x_digit"),
      (nPunct / greatest(nChars, lit(1.0))).as("x_punct"),
      (nUpper / greatest(nChars, lit(1.0))).as("x_upper"),
      (nStop / greatest(nWords, lit(1.0))).as("x_stop"),
      ((nAlpha * lit(100.0) - nChars * lit(82.0)) / greatest(nChars, lit(1.0)))
        .as("x_margin"),
      when(length(regexp_replace(t, "[^a-zA-Z]", "")) * 100 >= length(t) * 82
          && size(split(lower(t), "\\s+")) >= 5, 1.0).otherwise(0.0).as("y")): _*)
  }

  /** The feature column order [[qualityTrainingFrame]] emits. */
  val qualityFeatureCols: Seq[String] =
    Seq("x_bias", "x_alpha", "x_digit", "x_punct", "x_upper", "x_stop",
      "x_margin")
}
