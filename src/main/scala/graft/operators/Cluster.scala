package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Distributed Lloyd's k-means as a relational fixpoint — the
  * TRAINING half of the IVF tier ([[Ann.trainCodebook]] delegates to
  * MLlib, whose float accumulation order is partition-dependent and
  * therefore can never hash-match a cross-engine oracle; this
  * operator is the certifiable path, the same treatment
  * [[Graph.pageRank]] gives link analysis). Semantic clustering is a
  * first-class curation primitive at 100 TB: topic balancing,
  * semantic dedup cells, and IVF index builds all start from "assign
  * every embedding to one of k centroids and re-estimate".
  *
  * Design for scale, in Spark terms:
  *   - The corpus never shuffles for ASSIGNMENT. Centroids are
  *     catalog-sized (k·dim longs) by contract, so each iteration
  *     folds them into ONE row (`collect_list` over k rows) that is
  *     broadcast and cross-joined — the argmin is a pure codegen'd
  *     higher-order `aggregate` over the carried centroid array, the
  *     same 1-row-build-side shape the corpus-stat scorers use
  *     (q60/q86/q104). No N-row exchange, no window.
  *   - The UPDATE shuffles (cell, dim) partial sums, not vectors:
  *     `posexplode` fans each vector into dim rows whose map-side
  *     partials bound the exchange at k·dim rows PER TASK regardless
  *     of corpus size; the per-cell mean is reassembled into an array
  *     with a k-row `collect_list`. Total per-iteration shuffle is
  *     O(k·dim·tasks) — invariant to N.
  *   - Determinism across engines and partitionings: coordinates are
  *     INTEGER MICROS (`round(x·10⁶)` longs). Squared-L2 distances
  *     are exact BIGINT sums (dim·(2·10⁶)² ≪ 2⁶³), argmin ties break
  *     to the lowest cell id, and each new coordinate is the one
  *     fixed double expression `round(sum/count)` — so a DuckDB
  *     oracle unrolling the same iterations hash-matches the whole
  *     trajectory, where raw float Lloyd's drifts with partition
  *     order.
  *   - Seeding is data-deterministic, not RNG: the k vectors with the
  *     smallest `md5(salt:id)` (a bottom-k `orderBy.limit`, no global
  *     window — cell ids come from `sort_array(collect_list(...))`
  *     inside the one folded row).
  *   - A cell that loses all members keeps its previous centroid
  *     (documented contract; matches the oracle's LEFT JOIN +
  *     coalesce).
  *
  * Iteration count is a parameter, not a convergence test, for the
  * same reason as [[Graph.pageRank]]: fixed budgets keep the plan
  * bounded, so the loop runs unpinned.
  */
object Cluster {

  private val Micros = 1000000L

  /** Quantize an array<float|double> column to integer-micro longs. */
  def microQuantize(vec: Column): Column =
    transform(vec.cast("array<double>"),
      x => round(x * lit(Micros.toDouble)).cast("long"))

  /** Exact squared L2 distance between two array<long> columns. */
  def dist2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, d) => acc + d)

  /** Exact squared-L2 distance of every vector to its OWN group's
    * centroid — the embedding-space outlier signal (mislabeled-sample
    * mining, semantic noise filtering: the farthest members of a
    * class/source cluster are the curation candidates). Centroids are
    * the same integer-micro means as [[kmeansMicro]]'s update step, so
    * distances are exact BIGINTs and cross-engine reproducible. The
    * centroid table is group-count-sized (catalog-sized by contract)
    * and broadcast; the corpus never shuffles — the only exchange is
    * the k·dim-bounded centroid aggregation itself.
    * Output: (groupCol, idCol, dist2_q). */
  def centroidDistances(vectors: DataFrame, idCol: String, vecCol: String,
      groupCol: String): DataFrame = {
    val reserved = vectors.columns.filter(_.startsWith("__"))
    require(reserved.isEmpty,
      s"column names starting with '__' are reserved: ${reserved.mkString(", ")}")
    val q = vectors.select(col(groupCol), col(idCol),
      microQuantize(col(vecCol)).as("__vq"))
    val cent = q
      .select(col(groupCol), posexplode(col("__vq")).as(Seq("__j", "__v")))
      .groupBy(col(groupCol), col("__j"))
      .agg(round(sum(col("__v")).cast("double")
        / count(lit(1)).cast("double")).cast("long").as("__cv"))
      .groupBy(col(groupCol))
      .agg(transform(
        sort_array(collect_list(struct(col("__j"), col("__cv")))),
        s => s.getField("__cv")).as("__cvec"))
    q.join(broadcast(cent), Seq(groupCol))
      .select(col(groupCol), col(idCol),
        dist2(col("__vq"), col("__cvec")).as("dist2_q"))
  }

  /** `iterations` rounds of (assign, update) over micro-quantized
    * coordinates. Returns the LAST round's assignment:
    * (idCol, cell: int, dist2_q: long) — `dist2_q` is the exact
    * squared L2 distance, in micros², to the centroid the row was
    * assigned to in that round. */
  def kmeansMicro(vectors: DataFrame, idCol: String, vecCol: String,
      k: Int, iterations: Int, salt: String = "km"): DataFrame =
    kmeansMicroModel(vectors, idCol, vecCol, k, iterations, salt).assign

  /** A fitted deterministic k-means index: the final-round assignment
    * (idCol, cell, dist2_q) plus the centroids that PRODUCED that
    * assignment — `(cell, cvec)` in integer micros, the round-
    * `iterations` ASSIGNING centroids (pre-final-update). An index
    * probe (IVF cell selection) must rank against exactly these to
    * agree with the stored assignment; both sides are exact integer
    * arithmetic, so probe and build replay identically in SQL. */
  final case class KmeansMicroModel(assign: DataFrame, centroids: DataFrame)

  /** [[kmeansMicro]] returning the full model (assignment +
    * assigning centroids) for index-build/probe compositions. */
  def kmeansMicroModel(vectors: DataFrame, idCol: String, vecCol: String,
      k: Int, iterations: Int, salt: String = "km"): KmeansMicroModel = {
    require(k >= 1, "k must be >= 1")
    require(iterations >= 1, "iterations must be >= 1")
    val reserved = vectors.columns.filter(_.startsWith("__"))
    require(reserved.isEmpty,
      s"column names starting with '__' are reserved by kmeansMicro: ${reserved.mkString(", ")}")
    val q = vectors
      .select(col(idCol), microQuantize(col(vecCol)).as("__vq"))
    // bottom-k seed: k smallest md5(salt:id); cell ids follow hash
    // order via sort_array inside the folded row (no global window)
    val seeds = q
      .withColumn("__h",
        md5(concat(lit(salt + ":"), col(idCol).cast("string"))))
      .orderBy(col("__h")).limit(k)
      .agg(sort_array(collect_list(struct(col("__h"), col("__vq"))))
        .as("__ss"))
      .select(posexplode(col("__ss")).as(Seq("cell", "__s")))
      .select(col("cell").cast("int").as("cell"),
        col("__s.__vq").as("cvec"))

    var cents = seeds
    var centsUsed: DataFrame = null
    var lastAssign: DataFrame = null
    for (_ <- 1 to iterations) {
      centsUsed = cents
      // fold k centroids into one broadcast row, sorted so ties in
      // the argmin resolve to the LOWEST cell id
      val oneRow = cents.agg(
        sort_array(collect_list(struct(col("cell"), col("cvec"))))
          .as("__cents"))
      val assigned = q.crossJoin(broadcast(oneRow))
        .withColumn("__best",
          aggregate(col("__cents"),
            struct(lit(Long.MaxValue).as("d"), lit(-1).as("cell")),
            (acc, c) => {
              val d = dist2(col("__vq"), c.getField("cvec"))
              when(d < acc.getField("d"),
                struct(d.as("d"), c.getField("cell").as("cell")))
                .otherwise(acc)
            }))
        .select(col(idCol), col("__vq"),
          col("__best.cell").as("cell"),
          col("__best.d").as("dist2_q"))
      lastAssign = assigned
      val upd = assigned
        .select(col("cell"), posexplode(col("__vq")).as(Seq("__j", "__v")))
        .groupBy(col("cell"), col("__j"))
        .agg(round(sum(col("__v")).cast("double")
          / count(lit(1)).cast("double")).cast("long").as("__cv"))
        .groupBy(col("cell"))
        .agg(transform(
          sort_array(collect_list(struct(col("__j"), col("__cv")))),
          s => s.getField("__cv")).as("__ncvec"))
      cents = cents.join(upd, Seq("cell"), "left")
        .select(col("cell"),
          coalesce(col("__ncvec"), col("cvec")).as("cvec"))
    }
    KmeansMicroModel(
      lastAssign.select(col(idCol), col("cell"), col("dist2_q")),
      centsUsed.select(col("cell"), col("cvec")))
  }

  /** SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embeddings with [[kmeansMicro]],
    * then test pairs ONLY within a cell against a cosine threshold —
    * the cluster step bounds the quadratic the way banding bounds
    * MinHash ([[Dedup]]): at 100 TB, k scales with the corpus so cell
    * populations stay bounded, and the only N-row shuffles are the
    * id-keyed vector join and the cell-keyed pair join. `maxCellSize`
    * is the same hot-bucket guard the banded paths carry — an
    * over-populated cell (degenerate embeddings, collapsed space)
    * emits NO pairs rather than a quadratic blow-up.
    *
    * Exactness across engines: vectors are integer micros, the dot
    * and both squared norms are exact BIGINTs (precomputed per ROW,
    * not per pair, so the pair join carries one array instead of
    * three aggregates), and the threshold test
    * `cos >= tauNum/tauDen` is evaluated in integer arithmetic as
    * `dot > 0 AND dot²·tauDen² >= na2·nb2·tauNum²` — DECIMAL(38,0)
    * here, HUGEINT in the DuckDB oracle; `cos_micros` is the one
    * fixed double expression over those exact integers. The keep rule
    * is SemDeDup's: the member CLOSER to its centroid represents the
    * pair (tie → lower id).
    *
    * Output: (cell, id_a, id_b, dot_q, na2_q, nb2_q, cos_micros,
    * keep_id, drop_id) with id_a < id_b. */
  def semanticNearDupPairs(vectors: DataFrame, idCol: String, vecCol: String,
      k: Int, iterations: Int, tauNum: Int, tauDen: Int,
      salt: String = "sd", maxCellSize: Option[Int] = None): DataFrame = {
    require(tauNum > 0 && tauDen > 0 && tauNum <= tauDen,
      "tau must be a rational in (0, 1]")
    val asg = kmeansMicro(vectors, idCol, vecCol, k, iterations, salt)
    val q = vectors.select(col(idCol),
      microQuantize(col(vecCol)).as("__vq"))
    // codegen dot kernel on the micro arrays: every product and
    // partial sum is an integer < 2^53 (dim·(2·10⁶)² ≪ 2⁵³ for
    // unit-scale embeddings), so the double accumulator is EXACT and
    // the long cast recovers the exact integer sum — same value as
    // the interpreted aggregate/zip_with fold, ~10× faster in the
    // pair loop
    def exactDot(a: Column, b: Column): Column =
      graft.functions.VectorOps.dotProduct(a, b).cast("long")
    val withv0 = asg.join(q, Seq(idCol))
      .withColumn("__n2", exactDot(col("__vq"), col("__vq")))
    val withv1 = maxCellSize match {
      case None => withv0
      case Some(cap) =>
        val sizes = withv0.groupBy(col("cell"))
          .agg(count(lit(1)).as("__cn"))
        withv0.join(broadcast(sizes), Seq("cell"))
          .filter(col("__cn") <= cap).drop("__cn")
    }
    // pin the assigned+quantized side ONCE: both halves of the cell
    // self-join read it, so the lazy plan would run the k-means
    // assignment lineage (train rounds included) twice per query —
    // the q110 repeated-subtree pin (guide §2.4; measured r16)
    val withv = withv1.localCheckpoint()
    val a = withv.select(col("cell"), col(idCol).as("id_a"),
      col("dist2_q").as("__da"), col("__vq").as("__va"),
      col("__n2").as("na2_q"))
    val b = withv.select(col("cell"), col(idCol).as("id_b"),
      col("dist2_q").as("__db"), col("__vq").as("__vb"),
      col("__n2").as("nb2_q"))
    def dec(c: Column): Column = c.cast(DecimalType(20, 0))
    a.join(b, Seq("cell")).filter(col("id_a") < col("id_b"))
      .withColumn("dot_q", exactDot(col("__va"), col("__vb")))
      .filter(col("dot_q") > 0 &&
        dec(col("dot_q")) * dec(col("dot_q"))
          * lit(tauDen.toLong * tauDen) >=
        dec(col("na2_q")) * dec(col("nb2_q"))
          * lit(tauNum.toLong * tauNum))
      .withColumn("cos_micros",
        round(col("dot_q").cast("double")
          / sqrt(col("na2_q").cast("double") * col("nb2_q").cast("double"))
          * 1e6).cast("long"))
      .withColumn("keep_id",
        when(col("__da") < col("__db")
          || (col("__da") === col("__db") && col("id_a") < col("id_b")),
          col("id_a")).otherwise(col("id_b")))
      .withColumn("drop_id",
        when(col("keep_id") === col("id_a"), col("id_b"))
          .otherwise(col("id_a")))
      .select("cell", "id_a", "id_b", "dot_q", "na2_q", "nb2_q",
        "cos_micros", "keep_id", "drop_id")
  }

  /** Assign vectors to FROZEN centroids — the serving half of
    * [[kmeansMicroModel]]: exact integer-micro argmin against the
    * model's `(cell, cvec)` table with the identical fold shape and
    * tie rule (strictly-smaller wins over the cell-sorted array, so
    * ties go to the LOWEST cell) as the training assignment — a
    * vector re-assigned through this helper lands in exactly the
    * cell `model.assign` recorded. One broadcast row, no shuffle.
    * Output: (idCol, cell, dist2_q). */
  def assignToCentroids(vectors: DataFrame, idCol: String,
      vecCol: String, centroids: DataFrame): DataFrame = {
    val q = vectors.select(col(idCol), microQuantize(col(vecCol)).as("__vq"))
    val oneRow = centroids.agg(
      sort_array(collect_list(struct(col("cell"), col("cvec"))))
        .as("__cents"))
    q.crossJoin(broadcast(oneRow))
      .withColumn("__best",
        aggregate(col("__cents"),
          struct(lit(Long.MaxValue).as("d"), lit(-1).as("cell")),
          (acc, c) => {
            val d = dist2(col("__vq"), c.getField("cvec"))
            when(d < acc.getField("d"),
              struct(d.as("d"), c.getField("cell").as("cell")))
              .otherwise(acc)
          }))
      .select(col(idCol), col("__best").getField("cell").as("cell"),
        col("__best").getField("d").as("dist2_q"))
  }

  /** MAUVE-lite divergence frontier between two corpora over a shared
    * cluster assignment (Pillutla et al. 2021's quantized KL
    * frontier, minus the scaling constant): items carry a cell and a
    * side flag (`isPCol`); the two per-cell histograms P, Q are
    * compared through mixtures R_λ = λP + (1−λ)Q on the grid
    * λ = j/`grid`, j = 1..grid−1, emitting one row per λ with
    * KL(P‖R_λ) and KL(Q‖R_λ) in nanos — the frontier whose area is
    * the MAUVE score.
    *
    * Exactness: p_i/r_i reduces to the integer rational
    * `grid·cnt_p·Nq / (j·cnt_p·Nq + (grid−j)·cnt_q·Np)`; ln of that
    * one double ratio is micro-quantized per (cell, λ) term, the
    * weighted term sum is an exact integer aggregate, and the final
    * normalization is a shift-guarded floor div (identical in Spark
    * `div` and DuckDB `//` because the shifted operands are
    * non-negative). Zero-count cells contribute 0 by the lazy guard.
    * Integer-range contract: counts·totals·grid must stay below 2⁶³
    * (swap the products to Decimal beyond ~10¹² items per side).
    *
    * Scale shape: the corpus collapses to k cluster-count rows in ONE
    * map-side-combined aggregate; everything after (totals row,
    * λ grid, KL sums) is catalog-sized arithmetic. */
  def divergenceFrontier(assigned: DataFrame, cellCol: String,
      isPCol: String, grid: Int = 8): DataFrame = {
    require(grid >= 2, "grid must be >= 2")
    val counts = assigned.groupBy(col(cellCol)).agg(
      sum(when(col(isPCol), 1L).otherwise(0L)).as("cnt_p"),
      sum(when(col(isPCol), 0L).otherwise(1L)).as("cnt_q"))
    val totals = counts.agg(sum(col("cnt_p")).as("np"),
      sum(col("cnt_q")).as("nq"))
    val lambdas = assigned.sparkSession.range(1, grid)
      .toDF("lambda_num")
    val g = lit(grid.toLong)
    val j = col("lambda_num")
    val den = j * col("cnt_p") * col("nq") +
      (g - j) * col("cnt_q") * col("np")
    def lnTerm(cnt: Column, tot: Column): Column =
      when(cnt > 0,
        round(log((g * cnt * tot).cast("double") / den.cast("double"))
          * 1e6).cast("long"))
        .otherwise(lit(0L))
    val K = 1000000000000L // shift: |sum·1000| < K·total at any tested SF
    counts
      .crossJoin(broadcast(totals))
      .crossJoin(broadcast(lambdas))
      .withColumn("__ltp", lnTerm(col("cnt_p"), col("nq")))
      .withColumn("__ltq", lnTerm(col("cnt_q"), col("np")))
      .groupBy(col("lambda_num"))
      .agg(
        sum(col("cnt_p") * col("__ltp")).as("__sump"),
        sum(col("cnt_q") * col("__ltq")).as("__sumq"),
        max(col("np")).as("__np"), max(col("nq")).as("__nq"))
      .select(col("lambda_num"),
        expr(s"(__sump * 1000 + ${K}L * __np) div __np - ${K}L")
          .as("kl_p_nano"),
        expr(s"(__sumq * 1000 + ${K}L * __nq) div __nq - ${K}L")
          .as("kl_q_nano"))
  }
}
