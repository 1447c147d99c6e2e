package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorOps

/** Similarity search over an embedding column (`array<float|double>`)
  * — the scale-out generalisation of the reference's dense cosine
  * matching kernel (`main.py:84-91`).
  *
  * Three tiers, trading recall for shuffle volume:
  *
  *  1. [[bruteForceTopK]] — exact: queries × broadcast(corpus). The
  *     oracle and the right choice whenever the corpus side fits a
  *     broadcast (the reference's own regime: 83-row corpus). Linear
  *     in |Q|·|C| but embarrassingly parallel — no shuffle at all on
  *     the query side until the per-query window.
  *  2. sign-LSH ([[lshBuckets]] / [[lshNearDupPairs]]) — random
  *     hyperplane signatures. Candidates meet only inside a bucket,
  *     so the self-join is keyed on the bucket hash: at 100 TB the
  *     shuffle carries (id, vec, bucket) once instead of |C|² pairs.
  *  3. IVF ([[ivfAssign]] / [[ivfTopK]]) — inverted-file search: a
  *     small centroid table partitions the corpus into cells
  *     (index build = one pass), queries probe only their `nProbe`
  *     nearest cells. The candidate join is keyed on the cell id —
  *     per-query work drops by ~nProbe/C while the window/topk shape
  *     stays identical to brute force.
  *
  * Kernels are native: dot products via [[graft.functions.DotProductExpr]]
  * (codegen), bucketing via [[graft.functions.SignBucketsExpr]] (plane
  * matrix as expression state), and small-k ranking via
  * [[graft.functions.TopKByScoreAgg]] (bounded heap, map-side partial
  * merge — candidate lists are never sorted). Hyperplanes/centroids
  * are deterministic, making every tier oracle-checkable cross-engine.
  */
object Ann {

  // --- deterministic hyperplanes ----------------------------------------

  /** splitmix64 — tiny, public-domain PRNG step; gives us seeded,
    * engine-independent hyperplane components. */
  private def splitmix64(x0: Long): Long = {
    var z = x0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** `nPlanes` deterministic hyperplanes in `dim` dimensions, each
    * component uniform in [-1, 1). Same (seed, dim, plane) always
    * yields the same plane — the constants can be inlined verbatim
    * into an oracle SQL text. */
  def hyperplanes(dim: Int, nPlanes: Int, seed: Long = 42L): Seq[Array[Double]] =
    (0 until nPlanes).map { p =>
      Array.tabulate(dim) { j =>
        val bits = splitmix64(seed + p.toLong * dim + j)
        // top 53 bits → uniform double in [0,1), then map to [-1,1)
        (bits >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
      }
    }

  /** SQL literal for one hyperplane (DuckDB `[..]::DOUBLE[]` form);
    * Double.toString round-trips, so both engines parse the exact
    * same IEEE value. */
  def hyperplaneSqlLiteral(plane: Array[Double]): String =
    plane.map(d => java.lang.Double.toString(d)).mkString("[", ", ", "]::DOUBLE[]")

  /** Johnson-Lindenstrauss random projection: D-dim vectors → k dims
    * via dot products against `planes` (seeded [[hyperplanes]]),
    * scaled by 1/√k — the JL estimator whose pairwise distances
    * concentrate within (1±ε) for k = O(log n / ε²). A pure
    * codegen'd projection (k [[graft.functions.DotProductExpr]]s per
    * row, planes as literals): no shuffle, no fit, deterministic
    * across engines — the cheap dimensionality-reduction front of an
    * ANN tier (project once, search in k dims, re-score survivors in
    * full precision). Output columns `p0..p{k-1}`. */
  def randomProject(embs: DataFrame, idCol: String, vecCol: String,
                    planes: Seq[Array[Double]]): DataFrame = {
    require(planes.nonEmpty, "need at least one projection plane")
    val scale = 1.0 / math.sqrt(planes.size.toDouble)
    val outs = planes.zipWithIndex.map { case (p, i) =>
      (graft.functions.VectorOps.dotProduct(
        col(vecCol), array(p.map(lit): _*)) * scale).as(s"p$i")
    }
    embs.select(col(idCol) +: outs: _*)
  }


  /** All band buckets of a vector in one native kernel: element `b`
    * has bit `r` set iff `vec · plane_{b*bandSize+r} >= 0`. The plane
    * matrix rides as expression state — the per-plane `when(dot(vec,
    * array(lit…)))` fan-out inlined planes·dim double literals into
    * the generated code and janino compile time dominated the query
    * (measured: 32×64 literals cost more than the data pass at
    * sf0.1). */
  def bandBucketsExpr(vec: Column, planes: Seq[Array[Double]], bandSize: Int): Column = {
    import org.apache.spark.sql.graftbridge.{toColumn, toExpression}
    toColumn(graft.functions.SignBucketsExpr(
      toExpression(vec.cast("array<double>")), planes.toArray, bandSize))
  }

  /** Sign-bit bucket of a vector: bit `i` set iff `vec · plane_i >= 0`.
    * One projection, `nPlanes` fused dot products — no explode, no
    * join. */
  def bucketExpr(vec: Column, planes: Seq[Array[Double]]): Column =
    element_at(bandBucketsExpr(vec, planes, planes.length), 1)

  /** BINARY-quantized search with asymmetric exact rerank: every
    * vector is collapsed to a sign-bit code (bit i = sign of the
    * i-th hyperplane projection, ≤63 bits in one long), candidates
    * are shortlisted per query by HAMMING distance — a single
    * `bit_count(xor)` per pair, the cheapest distance in the whole
    * quantization family (32× smaller than PQ codes, no codebook) —
    * and the shortlist is re-ranked by exact cosine. The standard
    * first tier of binary-embedding retrieval stacks.
    *
    * Scale shape: only the 8-byte codes travel through the compare
    * (the broadcast carries codes, not vectors); the shortlist is
    * the bounded-heap aggregate (map-side partial, ties → lower id);
    * full vectors are touched only for `shortlist` candidates per
    * query via the equi-join on c_id. Shortlist ranking is
    * (hamming asc, c_id asc); final ranking (score desc, c_id asc).
    * Output: (q_id, rank, c_id, hamming, score). */
  def hammingRerankTopK(queries: DataFrame, corpus: DataFrame,
      qIdCol: String, cIdCol: String, vecCol: String,
      planes: Seq[Array[Double]], shortlist: Int, k: Int): DataFrame = {
    require(shortlist >= k, "shortlist must cover the final top-k")
    require(planes.length <= 63, "codes must fit one long")
    val q = queries.select(col(qIdCol).as("q_id"), col(vecCol).as("q_vec"))
      .withColumn("q_code", bucketExpr(col("q_vec"), planes))
      .withColumn("q_nrm", VectorOps.l2Norm(col("q_vec")))
    val c = broadcast(corpus.select(
      col(cIdCol).as("c_id"), col(vecCol).as("c_vec"))
      .withColumn("c_code", bucketExpr(col("c_vec"), planes))
      .withColumn("c_nrm", VectorOps.l2Norm(col("c_vec"))))
    val ham = q.crossJoin(c.select(col("c_id"), col("c_code")))
      .withColumn("hamming",
        expr("bit_count(q_code ^ c_code)").cast("long"))
    val short = ham.groupBy(col("q_id"))
      .agg(graft.functions.TopKByScoreAgg.topK(
          -col("hamming").cast("double"), col("c_id").cast("long"),
          shortlist).as("__tk"),
        first(col("q_vec")).as("q_vec"), first(col("q_nrm")).as("q_nrm"))
      .select(col("q_id"), col("q_vec"), col("q_nrm"),
        explode(col("__tk")).as("__e"))
      .select(col("q_id"), col("q_vec"), col("q_nrm"),
        col("__e.id").as("c_id"),
        (-col("__e.score")).cast("long").as("hamming"))
    val scored = short
      .join(c.select(col("c_id").cast("long").as("c_id"), col("c_vec"),
        col("c_nrm")), Seq("c_id"))
      .withColumn("score", VectorOps.cosineWithNorms(
        col("q_vec"), col("q_nrm"), col("c_vec"), col("c_nrm")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("c_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("c_id"), col("hamming"),
        col("score"))
  }

  /** Train an IVF codebook with k-means (MLlib, fixed seed) — the
    * index-build's training pass. At 100 TB you fit on a sample (one
    * scan feeding a driver-side Lloyd's loop over k·dim doubles) and
    * persist the centroids; the result here is the same catalog-sized
    * (cell: int, cvec: array<double>) table [[ivfTopK]] expects.
    * Deterministic for a given (data, k, seed, maxIter). */
  def trainCodebook(vectors: DataFrame, vecCol: String, k: Int,
                    seed: Long = 42L, maxIter: Int = 20): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    // train on L2-normalized copies: cell assignment downstream is by
    // COSINE, and for unit vectors the L2 ordering k-means optimises
    // coincides with the cosine ordering (spherical k-means
    // approximation) — unnormalized inputs cluster by magnitude and
    // cost real recall.
    val feats = vectors.select(
      array_to_vector(VectorOps.normalize(col(vecCol))).as("features"))
    val model = new KMeans().setK(k).setSeed(seed).setMaxIter(maxIter).fit(feats)
    val spark = vectors.sparkSession
    import spark.implicits._
    model.clusterCenters.toSeq.zipWithIndex
      .map { case (c, i) => (i, c.toArray.toSeq) }
      .toDF("cell", "cvec")
  }

  /** id → LSH bucket assignment. */
  def lshBuckets(embs: DataFrame, idCol: String, vecCol: String,
                 planes: Seq[Array[Double]]): DataFrame =
    embs.select(col(idCol), bucketExpr(col(vecCol), planes).as("bucket"))

  /** Near-duplicate pairs by cosine ≥ threshold, blocked by LSH
    * bucket: the self-join shuffles on `bucket`, so only same-bucket
    * vectors are ever compared. Exact cosine verifies each candidate
    * (LSH decides *candidacy*, never the answer). */
  def lshNearDupPairs(embs: DataFrame, idCol: String, vecCol: String,
                      planes: Seq[Array[Double]], cosineThreshold: Double): DataFrame = {
    val withBucket = embs.select(
      col(idCol), col(vecCol),
      bucketExpr(col(vecCol), planes).as("bucket"),
      VectorOps.l2Norm(col(vecCol)).as("nrm"))
    val a = withBucket.as("a")
    val b = withBucket.as("b")
    a.join(b, col("a.bucket") === col("b.bucket") && col(s"a.$idCol") < col(s"b.$idCol"))
      .withColumn("cos", VectorOps.cosineWithNorms(
        col(s"a.$vecCol"), col("a.nrm"), col(s"b.$vecCol"), col("b.nrm")))
      .filter(col("cos") >= cosineThreshold)
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"), col("cos"))
  }

  /** Banded (OR-amplified) LSH near-dup pairs: `planes` split into
    * bands of `bandSize`; vectors agreeing on ALL bits of ANY band
    * become candidates (higher recall than one wide bucket — the
    * classic r-of-L construction). Candidates verify by exact cosine.
    * Each per-band self-join shuffles on that band's bucket only; the
    * shared [[Banding]] kernel emits each pair once (first agreeing
    * band), and `maxBucketSize` enables its hot-bucket skew guard (a
    * zero vector's bucket collects every other zero vector — the
    * embedding-space analogue of boilerplate text). */
  def lshBandedNearDupPairs(embs: DataFrame, idCol: String, vecCol: String,
                            planes: Seq[Array[Double]], bandSize: Int,
                            cosineThreshold: Double,
                            maxBucketSize: Option[Int] = None): DataFrame = {
    val bands = planes.grouped(bandSize).toSeq
    // hoist the float→double widening: every dot product downstream
    // casts its input, and a pre-widened column turns those into
    // no-ops instead of one array allocation per plane per row
    val embsD = embs.select(col(idCol),
      col(vecCol).cast("array<double>").as(vecCol))
    val pairs = Banding.firstMatchPairs(
      embsD.select(col(idCol),
        bandBucketsExpr(col(vecCol), planes, bandSize).as("bks")),
      idCol, bands.length, maxBucketSize)

    val n = embsD.select(col(idCol), col(vecCol),
      VectorOps.l2Norm(col(vecCol)).as("nrm"))
    pairs
      .join(n.select(col(idCol).as("id_a"), col(vecCol).as("va"), col("nrm").as("na")), Seq("id_a"))
      .join(n.select(col(idCol).as("id_b"), col(vecCol).as("vb"), col("nrm").as("nb")), Seq("id_b"))
      .withColumn("cos", VectorOps.cosineWithNorms(col("va"), col("na"), col("vb"), col("nb")))
      .filter(col("cos") >= cosineThreshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  // --- exact top-k --------------------------------------------------------

  /** Rank the top `k` (id, score) per `groupCol` with the (score desc,
    * id asc) tie-break. Integral id columns go through
    * [[graft.functions.TopKByScoreAgg]] — a bounded k-entry heap with
    * map-side partial merge, so the |group|·|candidates| scored rows
    * are never sorted and never shuffled (only k-entry states move).
    * Non-integral ids fall back to the row_number window (same
    * semantics; `WindowGroupLimit` truncates after a sort). */
  private def rankTopK(scored: DataFrame, groupCol: String, idCol: String,
                       scoreCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val idType = scored.schema(idCol).dataType
    val integral =
      idType == LongType || idType == IntegerType || idType == ShortType || idType == ByteType
    if (integral) {
      scored
        .groupBy(col(groupCol))
        .agg(graft.functions.TopKByScoreAgg
          .topK(col(scoreCol), col(idCol).cast("long"), k).as("__tk"))
        .select(col(groupCol), posexplode(col("__tk")).as(Seq("__pos", "__e")))
        .select(col(groupCol), (col("__pos") + 1).as("rank"),
          col("__e.id").cast(idType).as(idCol), col("__e.score").as(scoreCol))
    } else {
      val w = Window.partitionBy(col(groupCol))
        .orderBy(col(scoreCol).desc, col(idCol).asc)
      scored
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col(groupCol), col("rank"), col(idCol), col(scoreCol))
    }
  }

  /** MUTUAL k-NN graph edges: an undirected edge (a, b) exists iff
    * b is among a's top-`k` cosine neighbors AND a is among b's —
    * the reciprocity filter that turns the all-or-nothing k-NN graph
    * (out-degree pinned at k) into a variable-degree similarity
    * graph whose dense interiors mean something. This is the
    * standard graph-cleanup step of graph-ANN index builds and the
    * input [[Graph.kCore]] wants: hubs keep their reciprocated
    * edges, isolated vectors drop to degree 0.
    *
    * Shape: one broadcast cosine scan (the [[bruteForceTopK]] plan —
    * at corpus scale swap the scan tier for the IVF candidates, the
    * q149 composition) + a self-join of the n·k directed edge list on
    * the reversed pair — the join input is k rows per vector, never
    * the n² scored pairs. Ties break to the lower id on both sides,
    * so the edge set is deterministic. Output: (a, b), a < b. */
  def mutualKnnEdges(vectors: DataFrame, idCol: String, vecCol: String,
                     k: Int): DataFrame = {
    val q = vectors.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      .withColumn("q_nrm", VectorOps.l2Norm(col("q_vec")))
    val c = broadcast(vectors.select(col(idCol).as("c_id"), col(vecCol).as("c_vec"))
      .withColumn("c_nrm", VectorOps.l2Norm(col("c_vec"))))
    val scored = q.crossJoin(c)
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("score", VectorOps.cosineWithNorms(
        col("q_vec"), col("q_nrm"), col("c_vec"), col("c_nrm")))
    val directed = rankTopK(scored, "q_id", "c_id", "score", k)
      .select(col("q_id"), col("c_id"))
    directed.as("f")
      .join(directed.as("r"),
        col("f.q_id") === col("r.c_id") && col("f.c_id") === col("r.q_id"))
      .filter(col("f.q_id") < col("f.c_id"))
      .select(col("f.q_id").as("a"), col("f.c_id").as("b"))
  }

  /** Exact cosine top-k: every query row against a broadcast corpus.
    * Norms are materialised once per side, so the per-pair kernel is
    * a single fused dot product + one multiply-divide.
    * Returns (qId, rank, cId, score); ties break to the lower corpus
    * id (the reference's argsort-stability semantics, `main.py:91`).
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     qIdCol: String, cIdCol: String, vecCol: String,
                     k: Int, excludeSelf: Boolean = false): DataFrame = {
    val q = queries.select(
      col(qIdCol).as("q_id"), col(vecCol).as("q_vec"))
      .withColumn("q_nrm", VectorOps.l2Norm(col("q_vec")))
    val c = broadcast(corpus.select(
      col(cIdCol).as("c_id"), col(vecCol).as("c_vec"))
      .withColumn("c_nrm", VectorOps.l2Norm(col("c_vec"))))
    val paired = q.crossJoin(c)
    val scored = (if (excludeSelf) paired.filter(col("q_id") =!= col("c_id"))
      else paired)
      .withColumn("score", VectorOps.cosineWithNorms(
        col("q_vec"), col("q_nrm"), col("c_vec"), col("c_nrm")))
    rankTopK(scored, "q_id", "c_id", "score", k)
  }

  /** ATTRIBUTE-CONSTRAINED exact top-k: each query ranks only the
    * corpus vectors sharing its `attrCols` values (same label /
    * tenant / language partition) — the "filtered vector search"
    * every metadata-scoped retrieval stack needs, done as
    * PRE-filtering: the constraint is an equi-join key, so the
    * result is exactly the filter-then-rank answer (post-filtering
    * an unconstrained ANN list loses recall when the filter is
    * selective).
    *
    * Scale shape: the candidate pairing is an equi-JOIN on the
    * attribute columns, not a cross join — the shuffle is keyed by
    * attribute, each query meets |C|/|attr-partitions| candidates,
    * and with the corpus bucketed by the attribute the probe is
    * co-located. Catalyst broadcasts whichever side is small; the
    * rank is the same bounded-heap aggregate as [[bruteForceTopK]]
    * (map-side partial, no per-query sort). Ties break to the lower
    * corpus id. Output: (q_id, attrCols..., rank, c_id, score). */
  def attributeTopK(queries: DataFrame, corpus: DataFrame,
                    qIdCol: String, cIdCol: String, vecCol: String,
                    attrCols: Seq[String], k: Int,
                    excludeSelf: Boolean = false): DataFrame = {
    require(attrCols.nonEmpty, "need at least one attribute column")
    val idType = corpus.schema(cIdCol).dataType
    val q = queries.select(
      (col(qIdCol).as("q_id") +: col(vecCol).as("q_vec") +:
        attrCols.map(col)): _*)
      .withColumn("q_nrm", VectorOps.l2Norm(col("q_vec")))
    val c = corpus.select(
      (col(cIdCol).as("c_id") +: col(vecCol).as("c_vec") +:
        attrCols.map(col)): _*)
      .withColumn("c_nrm", VectorOps.l2Norm(col("c_vec")))
    val paired = q.join(c, attrCols)
    val scored = (if (excludeSelf) paired.filter(col("q_id") =!= col("c_id"))
      else paired)
      .withColumn("score", VectorOps.cosineWithNorms(
        col("q_vec"), col("q_nrm"), col("c_vec"), col("c_nrm")))
    scored
      .groupBy(col("q_id"))
      .agg(
        graft.functions.TopKByScoreAgg
          .topK(col("score"), col("c_id").cast("long"), k).as("__tk"),
        attrCols.map(a => first(col(a)).as(a)): _*)
      .select(
        (Seq(col("q_id")) ++ attrCols.map(col) :+
          posexplode(col("__tk")).as(Seq("__pos", "__e"))): _*)
      .select(
        (Seq(col("q_id")) ++ attrCols.map(col) ++ Seq(
          (col("__pos") + 1).as("rank"),
          col("__e.id").cast(idType).as("c_id"),
          col("__e.score").as("score"))): _*)
  }

  // --- IVF ---------------------------------------------------------------

  /** Assign each vector to its nearest centroid by cosine (ties → the
    * lower centroid id). `centroids` is catalog-sized and broadcast;
    * at scale this is the index-build pass whose output you'd persist
    * partitioned by `cell`. */
  def ivfAssign(vectors: DataFrame, idCol: String, vecCol: String,
                centroids: DataFrame, centIdCol: String, centVecCol: String): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val cents = broadcast(centroids.select(
      col(centIdCol).as("cell"), col(centVecCol).as("cent_vec"))
      .withColumn("cent_nrm", VectorOps.l2Norm(col("cent_vec"))))
    val scored = vectors
      .withColumn("v_nrm", VectorOps.l2Norm(col(vecCol)))
      .crossJoin(cents)
      .withColumn("cent_score", VectorOps.cosineWithNorms(
        col(vecCol), col("v_nrm"), col("cent_vec"), col("cent_nrm")))
    val cellType = cents.schema("cell").dataType
    val integral = cellType == LongType || cellType == IntegerType ||
      cellType == ShortType || cellType == ByteType
    // both branches return the identical schema: idCol, carried..., cell
    val carried = vectors.columns.filter(_ != idCol).toSeq
    if (integral) {
      // argmax as a bounded top-1 aggregate: the cross-joined rows
      // carry every vector |cells| times, and the window form would
      // push ALL of them through the exchange and a sort. Map-side
      // partial aggregation collapses each vector to ONE k=1 state
      // (plus first() of its carried columns) before any shuffle —
      // a |cells|× reduction on the index-build shuffle.
      scored
        .groupBy(col(idCol))
        .agg(
          graft.functions.TopKByScoreAgg
            .topK(col("cent_score"), col("cell").cast("long"), 1).as("__tk"),
          carried.map(c => first(col(c)).as(c)): _*)
        .select(
          Seq(col(idCol)) ++ carried.map(col) :+
            col("__tk").getItem(0).getField("id").cast(cellType).as("cell"): _*)
    } else {
      val w = Window.partitionBy(col(idCol))
        .orderBy(col("cent_score").desc, col("cell").asc)
      scored
        .withColumn("cent_rank", row_number().over(w))
        .filter(col("cent_rank") === 1)
        .select(Seq(col(idCol)) ++ carried.map(col) :+ col("cell"): _*)
    }
  }

  /** IVF approximate top-k: corpus vectors live in centroid cells;
    * each query probes its `nProbe` nearest cells only. The candidate
    * join is an equi-join on `cell` — the shuffle is keyed by cell,
    * carrying |C|·nProbe/|cells| candidates per query instead of |C|.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
              centroids: DataFrame, centIdCol: String, centVecCol: String,
              qIdCol: String, cIdCol: String, vecCol: String,
              nProbe: Int, k: Int): DataFrame = {
    val cents = broadcast(centroids.select(
      col(centIdCol).as("cell"), col(centVecCol).as("cent_vec"))
      .withColumn("cent_nrm", VectorOps.l2Norm(col("cent_vec"))))

    // index side: cell per corpus vector
    val indexed = ivfAssign(corpus, cIdCol, vecCol, centroids, centIdCol, centVecCol)
      .select(col(cIdCol).as("c_id"), col(vecCol).as("c_vec"), col("cell"))
      .withColumn("c_nrm", VectorOps.l2Norm(col("c_vec")))

    // query side: nProbe nearest cells each. Integral cell ids go
    // through the same bounded k=nProbe heap aggregate as the index
    // side (and as rankTopK): the cross-joined rows carry every query
    // |cells| times, and the row_number window form would sort each
    // query's full centroid list per partition before truncating — at
    // 10⁹ queries that probe sort was the one remaining unbounded
    // window in the ANN tier. Map-side partial aggregation collapses
    // each query to ONE nProbe-entry state before any shuffle.
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val cellType = cents.schema("cell").dataType
    val cellIntegral = cellType == LongType || cellType == IntegerType ||
      cellType == ShortType || cellType == ByteType
    val qScored = queries.select(col(qIdCol).as("q_id"), col(vecCol).as("q_vec"))
      .withColumn("q_nrm", VectorOps.l2Norm(col("q_vec")))
      .crossJoin(cents)
      .withColumn("cent_score", VectorOps.cosineWithNorms(
        col("q_vec"), col("q_nrm"), col("cent_vec"), col("cent_nrm")))
    val probes =
      if (cellIntegral) {
        // heap tie-break is (score desc, id asc) — identical to the
        // window's orderBy, so probed cell SETS match exactly
        qScored
          .groupBy(col("q_id"))
          .agg(
            graft.functions.TopKByScoreAgg
              .topK(col("cent_score"), col("cell").cast("long"), nProbe).as("__pk"),
            first(col("q_vec")).as("q_vec"),
            first(col("q_nrm")).as("q_nrm"))
          .select(col("q_id"), col("q_vec"), col("q_nrm"),
            explode(col("__pk")).as("__e"))
          .select(col("q_id"), col("q_vec"), col("q_nrm"),
            col("__e.id").cast(cellType).as("cell"))
      } else {
        val wProbe = Window.partitionBy(col("q_id"))
          .orderBy(col("cent_score").desc, col("cell").asc)
        qScored
          .withColumn("probe_rank", row_number().over(wProbe))
          .filter(col("probe_rank") <= nProbe)
          .select(col("q_id"), col("q_vec"), col("q_nrm"), col("cell"))
      }

    val scored = probes.join(indexed, Seq("cell"))
      .withColumn("score", VectorOps.cosineWithNorms(
        col("q_vec"), col("q_nrm"), col("c_vec"), col("c_nrm")))
    rankTopK(scored, "q_id", "c_id", "score", k)
  }

  /** Hard-negative mining for retrieval/contrastive training: per
    * query, the k MOST SIMILAR corpus items that are neither the
    * query itself nor a labeled positive — the negatives that
    * actually teach a ranking model (random negatives are trivially
    * separable).
    *
    * Over-fetch correctness: top-(k + maxPositivesPerQuery + 1)
    * candidates are fetched, then self and positives are removed and
    * the survivors re-ranked — any candidate outside the over-fetched
    * set scores below all kept negatives, so the result is exactly
    * the filter-then-rank top-k. `positives` carries (q_id, pos_id)
    * label pairs (label tables are broadcast-sized by construction).
    * Scale shape inherits [[bruteForceTopK]] (broadcast corpus GEMM +
    * bounded-heap rank); swap in [[ivfTopK]] candidates upstream for
    * corpus-scale mining. */
  def hardNegatives(queries: DataFrame, corpus: DataFrame,
                    positives: DataFrame,
                    qIdCol: String, cIdCol: String, vecCol: String,
                    k: Int, maxPositivesPerQuery: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(maxPositivesPerQuery >= 0, "maxPositivesPerQuery must be >= 0")
    val fetched = bruteForceTopK(queries, corpus, qIdCol, cIdCol, vecCol,
      k + maxPositivesPerQuery + 1)
    val pos = positives.select(col("q_id").as("__pq"), col("pos_id").as("__pc"))
    val negs = fetched
      .filter(col("c_id") =!= col("q_id"))
      .join(broadcast(pos),
        col("q_id") === col("__pq") && col("c_id") === col("__pc"), "left_anti")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("score").desc, col("c_id"))
    negs
      .withColumn("neg_rank", row_number().over(w).cast("long"))
      .filter(col("neg_rank") <= k)
      .select(col("q_id"), col("neg_rank"), col("c_id"), col("score"))
  }

  /** The production retrieval read path, composed from the certified
    * tiers: matryoshka prefix prefilter (the q128 truncation — cosine
    * over the first `prefixDim` dims, top-`c1` candidates per query)
    * → int8 re-rank (the q50 quantization — cosine of the full query
    * against DEQUANTIZED int8 corpus vectors, top-`c2`) → exact
    * full-precision rescore (the q25 kernel, final top-`k`). Each
    * tier reads strictly fewer candidates: the prefix tier scans the
    * whole corpus at dim/4 bandwidth, the int8 tier touches only
    * c1 rows/query at 1/4 byte width, the exact tier only c2 — at
    * 100 TB the full-precision vectors are read for a few dozen rows
    * per query instead of the corpus. `exact_rank` carries the
    * ground-truth position of each returned candidate in the
    * brute-force top-`k` (0 = missed), so recall is measured in the
    * result itself, not a side claim.
    *
    * Candidate→vector re-joins are on `c_id`: broadcast-sized here
    * (corpus is one table), shuffle-hash on the candidate set at
    * corpus scale — candidates are `|Q|·c1` rows, never the corpus.
    * Ties break (score desc, c_id asc) in every tier, matching
    * [[rankTopK]] / the reference's argsort stability. */
  def retrievalCascade(queries: DataFrame, corpus: DataFrame,
                       qIdCol: String, cIdCol: String, vecCol: String,
                       prefixDim: Int, c1: Int, c2: Int, k: Int): DataFrame = {
    require(prefixDim >= 1, "prefixDim must be >= 1")
    require(c1 >= c2 && c2 >= k && k >= 1,
      "cascade tiers must contract: c1 >= c2 >= k >= 1")
    val q = queries.select(col(qIdCol).as("q_id"), col(vecCol).as("q_vec"))
      // fail fast on an oversized prefix: slice() would clamp to the
      // full vector and tier 1 would silently BECOME the exact scan —
      // "prefilter" numbers that are actually brute-force cost
      .withColumn("q_vec", when(size(col("q_vec")) >= prefixDim, col("q_vec"))
        .otherwise(raise_error(concat(
          lit(s"retrievalCascade: prefixDim=$prefixDim exceeds vector width "),
          size(col("q_vec")).cast("string")))))
      .withColumn("q_nrm", VectorOps.l2Norm(col("q_vec")))
      .withColumn("qp_vec", slice(col("q_vec"), 1, prefixDim))
      .withColumn("qp_nrm", VectorOps.l2Norm(col("qp_vec")))
    val c = corpus.select(col(cIdCol).as("c_id"), col(vecCol).as("c_vec"))
    // tier-1 index: prefix vectors only (dim/prefixDim × less bandwidth)
    val cPrefix = broadcast(c.select(col("c_id"),
        slice(col("c_vec"), 1, prefixDim).as("cp_vec"))
      .withColumn("cp_nrm", VectorOps.l2Norm(col("cp_vec"))))
    val t1 = rankTopK(
      q.crossJoin(cPrefix)
        .withColumn("score", VectorOps.cosineWithNorms(
          col("qp_vec"), col("qp_nrm"), col("cp_vec"), col("cp_nrm"))),
      "q_id", "c_id", "score", c1)
    cascadeTail(t1.select("q_id", "c_id"), q, c, queries, corpus,
      qIdCol, cIdCol, vecCol, c2, k)
  }

  /** Shared tiers 2-3 of the retrieval cascades: int8 re-rank of the
    * candidate set (4× less bandwidth) → exact full-precision
    * rescore → exact_rank ground-truth join. */
  private def cascadeTail(candidates: DataFrame, q: DataFrame, c: DataFrame,
      queries: DataFrame, corpus: DataFrame,
      qIdCol: String, cIdCol: String, vecCol: String,
      c2: Int, k: Int): DataFrame = {
    val cInt8 = broadcast(c
      .withColumn("scale", VectorOps.quantScale(col("c_vec")))
      .select(col("c_id"),
        VectorOps.dequantizeInt8(
          VectorOps.quantizeInt8(col("c_vec"), col("scale")),
          col("scale")).as("dq_vec"))
      .withColumn("dq_nrm", VectorOps.l2Norm(col("dq_vec"))))
    val t2 = rankTopK(
      candidates
        .join(cInt8, Seq("c_id"))
        .join(q.select(col("q_id"), col("q_vec"), col("q_nrm")), Seq("q_id"))
        .withColumn("score", VectorOps.cosineWithNorms(
          col("q_vec"), col("q_nrm"), col("dq_vec"), col("dq_nrm"))),
      "q_id", "c_id", "score", c2)
    // tier 3: exact full-precision rescore of c2 candidates
    val cFull = broadcast(c.withColumn("c_nrm", VectorOps.l2Norm(col("c_vec"))))
    val t3 = rankTopK(
      t2.select("q_id", "c_id")
        .join(cFull, Seq("c_id"))
        .join(q.select(col("q_id"), col("q_vec"), col("q_nrm")), Seq("q_id"))
        .withColumn("score", VectorOps.cosineWithNorms(
          col("q_vec"), col("q_nrm"), col("c_vec"), col("c_nrm"))),
      "q_id", "c_id", "score", k)
    // ground truth: exact top-k, so recall rides in the result
    val exact = bruteForceTopK(queries, corpus, qIdCol, cIdCol, vecCol, k)
      .select(col("q_id"), col("c_id"), col("rank").cast("long").as("exact_rank"))
    t3.join(exact, Seq("q_id", "c_id"), "left")
      .select(col("q_id"), col("rank").cast("long").as("rank"), col("c_id"),
        col("score"), coalesce(col("exact_rank"), lit(0L)).as("exact_rank"))
  }

  /** The corpus-scale retrieval cascade: IVF cell-probe candidate
    * generation fronting the same int8 → exact tail as
    * [[retrievalCascade]]. The index is a DETERMINISTIC k-means
    * ([[Cluster.kmeansMicroModel]] — exact integer-micro Lloyd's
    * rounds, the q110 trajectory), so unlike the MLlib-codebook IVF
    * (q32) the ENTIRE read path — index build, cell probe, both
    * re-rank tiers — replays bit-for-bit in a SQL oracle.
    *
    * Probing ranks each query against the model's ASSIGNING
    * centroids by the same exact integer distance the build used
    * (ties → lowest cell), takes `nProbe` cells, and joins candidates
    * through the cell key — the shuffle is keyed on `cell`, the shape
    * that lets a 100 TB corpus partition/persist by cell and read
    * only `nProbe/k` of the data per query, instead of the
    * whole-corpus scan [[retrievalCascade]]'s tier 1 pays.
    * `exact_rank` measures IVF recall in the hash-checked result. */
  def retrievalCascadeIvf(queries: DataFrame, corpus: DataFrame,
      qIdCol: String, cIdCol: String, vecCol: String,
      kCells: Int, iterations: Int, nProbe: Int, c2: Int, k: Int,
      salt: String = "ivc"): DataFrame = {
    require(kCells >= 1 && iterations >= 1, "need kCells, iterations >= 1")
    retrievalCascadeIvf(queries, corpus, qIdCol, cIdCol, vecCol,
      Cluster.kmeansMicroModel(
        corpus.select(col(cIdCol), col(vecCol)), cIdCol, vecCol,
        kCells, iterations, salt),
      nProbe, c2, k)
  }

  /** [[retrievalCascadeIvf]] against a PRE-BUILT index — the serving
    * split: the k-means model is fit offline (or loaded from the
    * persisted cell layout) and amortizes across every query batch;
    * this overload pays only the probe + re-rank tiers. */
  def retrievalCascadeIvf(queries: DataFrame, corpus: DataFrame,
      qIdCol: String, cIdCol: String, vecCol: String,
      model: Cluster.KmeansMicroModel,
      nProbe: Int, c2: Int, k: Int): DataFrame = {
    require(nProbe >= 1, "need nProbe >= 1")
    require(c2 >= k && k >= 1, "cascade tiers must contract: c2 >= k >= 1")
    val asg = model.assign.select(col(cIdCol).as("c_id"), col("cell"))
    val qmq = queries.select(col(qIdCol).as("q_id"),
      Cluster.microQuantize(col(vecCol)).as("__qq"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("__d2").asc, col("cell").asc)
    val probes = qmq.crossJoin(broadcast(model.centroids))
      .withColumn("__d2", Cluster.dist2(col("__qq"), col("cvec")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= nProbe)
      .select(col("q_id"), col("cell"))
    val candidates = probes.join(asg, Seq("cell")).select("q_id", "c_id")
    val q = queries.select(col(qIdCol).as("q_id"), col(vecCol).as("q_vec"))
      .withColumn("q_nrm", VectorOps.l2Norm(col("q_vec")))
    val c = corpus.select(col(cIdCol).as("c_id"), col(vecCol).as("c_vec"))
    cascadeTail(candidates, q, c, queries, corpus, qIdCol, cIdCol, vecCol,
      c2, k)
  }

  /** Maximal-marginal-relevance greedy selection: pick `k` items
    * maximizing `λ·rel − (1−λ)·max_sim_to_already_picked` — the
    * diversity-aware subset selection of search-result
    * diversification and training-batch curation (don't spend the
    * data budget on k near-copies of the best hit).
    *
    * `candidates` must carry (idCol, vecCol, relCol) with rel
    * precomputed (e.g. query cosine from [[bruteForceTopK]]'s
    * machinery). Greedy is inherently sequential in k, so the driver
    * paces k rounds (the GD-trainer shape); each round is ONE pool
    * scan — the ≤ k picked vectors broadcast to every candidate, a
    * map-side max over their similarities, and a TakeOrdered(1)
    * argmax with the (score DESC, id ASC) tie-break. Nothing shuffles
    * the candidate set, driver state is k vectors.
    *
    * POOL-CAP CONTRACT (the 100× posture): the k driver-paced rounds
    * each rescan the pool, so at corpus-sized inputs the pool must be
    * BOUNDED first. `poolCap` > 0 keeps only the top-`poolCap`
    * candidates by (rel DESC, id ASC) — one TakeOrderedAndProject,
    * no global sort — and the greedy runs inside that pool; items an
    * uncapped run might pick purely for diversity from below the
    * relevance cut are forgone BY CONTRACT (the standard
    * retrieve-then-diversify cascade: MMR diversifies a retrieved
    * shortlist, it does not search the corpus). `poolCap` ≥ pool size
    * (or 0 = uncapped) is exactly the uncapped trajectory — pinned in
    * AnnSpec.
    *
    * `max_sim` is an order-free MAX of bit-identical doubles and the
    * score one fixed IEEE expression, so the whole greedy trajectory
    * replays exactly in SQL (q167). */
  def mmrSelect(candidates: DataFrame, idCol: String, vecCol: String,
                relCol: String, k: Int, lambda: Double,
                poolCap: Int = 0): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(poolCap == 0 || poolCap >= k,
      "poolCap must be 0 (uncapped) or >= k")
    val spark = candidates.sparkSession
    import spark.implicits._
    val projected = candidates
      .select(col(idCol).as("__cid"),
        col(vecCol).cast("array<double>").as("__cvec"),
        col(relCol).as("__rel"))
    val capped =
      if (poolCap == 0) projected
      else projected.orderBy(col("__rel").desc, col("__cid")).limit(poolCap)
    val cands = capped
      .withColumn("__cnrm", VectorOps.l2Norm(col("__cvec")))
      .persist()
    try {
      var selected = List.empty[(Long, Array[Double])]
      val picks = Seq.newBuilder[(Long, Long, Double, Double, Double)]
      for (t <- 1 to k) {
        val pool =
          if (selected.isEmpty) cands
          else cands.filter(!col("__cid").isin(selected.map(_._1): _*))
        val withMaxSim =
          if (selected.isEmpty) pool.withColumn("__maxsim", lit(0.0))
          else {
            val selDf = broadcast(selected.toDF("__sid", "__svec")
              .withColumn("__snrm", VectorOps.l2Norm(col("__svec"))))
            pool.crossJoin(selDf)
              .withColumn("__sim", VectorOps.cosineWithNorms(
                col("__cvec"), col("__cnrm"), col("__svec"), col("__snrm")))
              .groupBy(col("__cid"))
              .agg(first(col("__rel")).as("__rel"),
                max(col("__sim")).as("__maxsim"))
          }
        val top = withMaxSim
          .withColumn("__score",
            lit(lambda) * col("__rel") - lit(1 - lambda) * col("__maxsim"))
          .select(col("__cid"), col("__rel"), col("__maxsim"), col("__score"))
          .orderBy(col("__score").desc, col("__cid"))
          .limit(1).collect().head
        val id = top.getLong(0)
        val vec = cands.filter(col("__cid") === id)
          .select(col("__cvec")).head().getSeq[Double](0).toArray
        selected = (id, vec) :: selected
        picks += ((t.toLong, id, top.getDouble(1), top.getDouble(2),
          top.getDouble(3)))
      }
      picks.result()
        .toDF("rank", "vec_id", "rel", "max_sim", "score")
    } finally cands.unpersist()
  }

  /** PRODUCT QUANTIZATION model: the vector space split into `m`
    * contiguous `subDim`-wide subspaces, each quantized by its own
    * deterministic micro-kmeans codebook
    * ([[Cluster.kmeansMicroModel]], independent salt per subspace) —
    * the FAISS-style compression tier of the ANN family: a 64-d
    * float vector becomes `m` small codes (m bytes at k ≤ 256), so
    * the candidate scan reads codes instead of vectors and the
    * corpus' float payload is touched only by an exact re-rank tail.
    *
    * Returns (codes, codebooks): codes = one (id, sub, code) row per
    * vector per subspace (the assignment of the subvector to its
    * nearest centroid under the EXACT integer-micro L2 the trainer
    * used, ties → lowest cell); codebooks = (sub, code, cvec) with
    * micro-long centroids. Training is m independent bounded
    * kmeans runs; encoding IS the final assignment — no extra pass. */
  def pqTrainEncode(vectors: DataFrame, idCol: String, vecCol: String,
      m: Int, subDim: Int, k: Int, iterations: Int,
      salt: String = "pq"): (DataFrame, DataFrame) = {
    require(m >= 1 && subDim >= 1 && k >= 1 && iterations >= 1,
      "m, subDim, k, iterations must be positive")
    // plan-level dim guard: a vector whose length != m·subDim would
    // otherwise silently train codebooks on truncated/empty slices
    val checked = vectors.select(col(idCol),
      dimChecked(col(vecCol), m, subDim, "pqTrainEncode").as("__pqv"))
    val parts = (0 until m).map { s =>
      val sliced = checked.select(col(idCol),
        slice(col("__pqv"), s * subDim + 1, subDim).as("subvec"))
      val model = Cluster.kmeansMicroModel(sliced, idCol, "subvec", k,
        iterations, s"$salt$s")
      (model.assign.select(col(idCol), lit(s).as("sub"),
          col("cell").as("code")),
        model.centroids.select(lit(s).as("sub"), col("cell").as("code"),
          col("cvec")))
    }
    (parts.map(_._1).reduce(_ unionByName _),
      parts.map(_._2).reduce(_ unionByName _))
  }

  /** Encode vectors against FROZEN PQ codebooks — the apply half of
    * [[pqTrainEncode]], for vectors that arrive AFTER training (the
    * LSM-style streaming index maintenance posture, q272's
    * frozen-model discipline): per subspace, the nearest codebook
    * centroid under the EXACT integer-micro L2 (ties → lowest code),
    * matching the trainer's own assignment rule bit for bit. One
    * broadcast join against the parameter-sized (sub, code, cvec)
    * table + a (id, sub)-keyed argmin — no training pass, no corpus
    * shuffle. Output: (idCol, sub, code). */
  def pqEncode(vectors: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame, m: Int, subDim: Int): DataFrame = {
    val checked = vectors.select(col(idCol),
      dimChecked(col(vecCol), m, subDim, "pqEncode").as("__pqv"))
    val sliced = (0 until m).map { s =>
      checked.select(col(idCol), lit(s).as("sub"),
        Cluster.microQuantize(
          slice(col("__pqv"), s * subDim + 1, subDim)).as("__sq"))
    }.reduce(_ unionByName _)
    sliced
      .join(broadcast(codebooks.select(col("sub"), col("code"),
        col("cvec"))), Seq("sub"))
      .withColumn("__d2", Cluster.dist2(col("__sq"), col("cvec")))
      .groupBy(col(idCol), col("sub"))
      .agg(min(struct(col("__d2"), col("code"))).as("__b"))
      .select(col(idCol), col("sub"),
        col("__b").getField("code").as("code"))
  }

  /** NN-DESCENT neighbor-graph build (Dong et al. 2011) — the
    * graph-based ANN index family's SCALABLE build primitive, chosen
    * over incremental HNSW insertion because it is bounded relational
    * rounds (HNSW inserts are inherently sequential: each insert
    * searches the graph built so far — not expressible as a fixed
    * plan). Measured at sf0.1 (PERF.md "Round 15: HNSW-family
    * scouting report", NN-descent table): the descended graph's greedy
    * search reaches recall@5 0.915 after 2 rounds at degree 16 vs
    * residual IVF-PQ+rerank's 0.365.
    *
    * Init: every node joins `bands` hash-bucket partitions of
    * expected size ≈ degree (salted md5 buckets — the sign-LSH
    * banding trick, so the union of bands mixes across the id space),
    * all within-bucket pairs become candidate edges, trimmed to
    * `degree` per node by salted-hash order (distance-free random
    * init, deterministic). Each round then replaces every node's
    * list with the `degree` nearest of {undirected neighbors ∪
    * neighbors-of-neighbors} under the EXACT integer-micro L2
    * (ties → lowest id) — the standard NN-descent refinement, every
    * step replayable. Per-round cost is O(n·degree²) candidate rows —
    * never n²; at 100 TB the rounds are corpus-linear scans with
    * id-keyed joins.
    *
    * NAVIGABILITY: refinement alone disconnects well-separated
    * clusters (every edge becomes in-cluster and greedy search can
    * never leave the entry's region — AnnSpec demonstrates it), so
    * the final graph keeps each node's first `longLinks` RANDOM init
    * edges alongside its refined neighbors — the NSW long-link
    * construction (Malkov et al.), deterministic because the init
    * order is the salted-hash order. Output: (src, dst), ≤
    * degree + longLinks rows per src. */
  def nnDescentGraph(vectors: DataFrame, idCol: String, vecCol: String,
      degree: Int, rounds: Int, salt: String = "nnd",
      bands: Int = 2, longLinks: Int = 2): DataFrame = {
    require(degree >= 1 && rounds >= 0 && bands >= 1 && longLinks >= 0,
      "degree, bands must be >= 1; rounds, longLinks >= 0")
    val v = vectors.select(col(idCol).as("__nid"),
      Cluster.microQuantize(col(vecCol)).as("__nvq"))
    val n = vectors.count()
    val buckets = math.max(1L, n / degree)
    val bandDf = (0 until bands).map { r =>
      vectors.select(col(idCol).as("__nid"),
        lit(r).as("__r"),
        pmod(Curation.sampleHash(
          concat(lit(s"$r:"), col(idCol).cast("string")), salt),
          lit(buckets)).as("__bkt"))
    }.reduce(_ unionByName _)
    val pairs = bandDf.as("a").join(bandDf.as("b"),
        col("a.__r") === col("b.__r") && col("a.__bkt") === col("b.__bkt") &&
          col("a.__nid") =!= col("b.__nid"))
      .select(col("a.__nid").as("src"), col("b.__nid").as("dst"))
      .distinct()
    val wInit = Window.partitionBy(col("src")).orderBy(
      Curation.sampleHash(concat(col("src").cast("string"), lit(":"),
        col("dst").cast("string")), s"${salt}e"),
      col("dst"))
    // Eager localCheckpoint after init and after EVERY round: a round
    // references its predecessor ~6× (und twice, und∘und four more),
    // so an unpinned 2-round build replays the init bucket-join ~36×
    // — measured 59.5 s → 3 s at sf0.1 with the pins (the SuffixDedup
    // persist discipline; edge frames are n·degree rows, cheap to pin).
    val ranked = pairs.withColumn("__rn", row_number().over(wInit))
    val longEdges = ranked.filter(col("__rn") <= math.min(longLinks, degree))
      .select(col("src"), col("dst"))
      .localCheckpoint()
    var g = ranked.filter(col("__rn") <= degree)
      .select(col("src"), col("dst"))
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      val und = g.unionByName(
        g.select(col("dst").as("src"), col("src").as("dst")))
      val nn2 = und.as("x").join(und.as("y"),
          col("x.dst") === col("y.src"))
        .select(col("x.src").as("src"), col("y.dst").as("dst"))
      val cand = und.unionByName(nn2)
        .filter(col("src") =!= col("dst"))
        .distinct()
      val scored = cand
        .join(v.select(col("__nid").as("src"), col("__nvq").as("__sv")),
          Seq("src"))
        .join(v.select(col("__nid").as("dst"), col("__nvq").as("__dv")),
          Seq("dst"))
        .withColumn("__d2", Cluster.dist2(col("__sv"), col("__dv")))
      val wR = Window.partitionBy(col("src"))
        .orderBy(col("__d2"), col("dst"))
      g = scored.withColumn("__rn", row_number().over(wR))
        .filter(col("__rn") <= degree)
        .select(col("src"), col("dst"))
        .localCheckpoint()
    }
    if (rounds == 0 || longLinks == 0) g
    else g.unionByName(longEdges).distinct()
  }

  /** Board-level memo for [[nnDescentGraph]] over a testdata dir:
    * q280 (batch search) and the streaming serve gate train the
    * IDENTICAL index, so the build runs once and every later caller
    * reuses the pinned edge frame from [[graft.FittedCache]].
    * Memoized ≡ fresh bit-for-bit: the value IS [[nnDescentGraph]]'s
    * output, eagerly localCheckpoint-pinned (n·degree+longLink rows —
    * trivial). */
  def nnDescentGraphMemo(spark: SparkSession, dir: String, degree: Int,
      rounds: Int, salt: String = "nnd", bands: Int = 2,
      longLinks: Int = 2): DataFrame = {
    val path = s"$dir/embeddings.parquet"
    graft.FittedCache.get(spark, "Ann.nnDescentGraph", Seq(path),
        Seq(degree, rounds, salt, bands, longLinks)) {
      nnDescentGraph(
        spark.read.parquet(path).select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", degree, rounds, salt, bands, longLinks)
        .localCheckpoint()
    }
  }

  /** Greedy BEAM search over a bounded-degree neighbor graph — the
    * query half of the NN-descent index: from the deterministic entry
    * point (the lowest corpus id), exactly `hops` expansion rounds,
    * each replacing the beam with the `beam` nearest of
    * {beam ∪ neighbors(beam)} under the exact integer-micro L2
    * (ties → lowest id). No visited-set state: expansion is
    * idempotent and the beam improves monotonically, so a FIXED hop
    * budget makes the whole walk one unrolled relational plan — the
    * property that lets a DuckDB oracle replay it as `hops` chained
    * CTEs (the q267 unrolled-DP discipline; beams settle within ≤ 5
    * hops at degree 16 at sf0.1 — PERF.md "Round 15: HNSW-family
    * scouting report", hops column).
    * Output contract matches the PQ tier ([[pqAdcTopK]]): top `topK`
    * per query with brute-force `exact_rank` inside the result, so
    * graph-vs-IVF-PQ recall is measured per query. */
  def graphBeamTopK(graph: DataFrame, queries: DataFrame,
      corpus: DataFrame, idCol: String, vecCol: String, beam: Int,
      hops: Int, topK: Int): DataFrame = {
    require(beam >= 1 && hops >= 1, "beam and hops must be >= 1")
    val cv = corpus.select(col(idCol).as("vec_id"),
      Cluster.microQuantize(col(vecCol)).as("__cvq"))
    val qv = queries.select(col(idCol).as("q_id"),
      Cluster.microQuantize(col(vecCol)).as("__qvq"))
    val entry = corpus.agg(min(col(idCol))).head().getLong(0)
    val edges = graph.select(col("src"), col("dst"))
    var b = qv.select(col("q_id"), lit(entry).as("vec_id"))
    for (h <- 1 to hops) {
      val expanded = b.unionByName(
          b.join(edges, b("vec_id") === edges("src"))
            .select(col("q_id"), col("dst").as("vec_id")))
        .distinct()
      val scored = expanded.join(cv, Seq("vec_id"))
        .join(broadcast(qv), Seq("q_id"))
        .withColumn("__d2", Cluster.dist2(col("__qvq"), col("__cvq")))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("__d2"), col("vec_id"))
      // pin each INTERIOR hop: hop h's lazy lineage would otherwise
      // replay hops 1..h−1 (the beam is referenced twice per
      // expansion, so unpinned lineage doubles per hop); the beam
      // frame is |Q|·beam rows — trivial to checkpoint eagerly. The
      // LAST hop stays lazy: the ranking tail consumes it exactly
      // once, so its eager pin was a pure extra job per walk —
      // 2 wasted jobs per q284 serve round (guide §2.4, measured r16)
      val nb = scored.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= beam)
        .select(col("q_id"), col("vec_id"))
      b = if (h < hops) nb.localCheckpoint() else nb
    }
    val scoredFinal = b.join(cv, Seq("vec_id"))
      .join(broadcast(qv), Seq("q_id"))
      .withColumn("adc_dist2", Cluster.dist2(col("__qvq"), col("__cvq")))
      .select(col("q_id"), col("vec_id"), col("adc_dist2"))
    rankWithExact(scoredFinal, queries, corpus, idCol, vecCol, topK)
      .withColumnRenamed("adc_dist2", "dist2")
  }

  /** OPQ-LITE subspace balancing — a deterministic coordinate
    * PERMUTATION in front of [[pqTrainEncode]] (the certifiable slice
    * of OPQ, Ge et al. 2013: balance information across subspaces
    * before quantizing; the full method learns a rotation, this takes
    * the permutation special case so every step stays exact integer
    * arithmetic a DuckDB oracle replays). Per coordinate j the
    * integer-micro variance key `n·Σx² − (Σx)²` (Decimal(38,0) — the
    * q261 exact-apportionment discipline; micro squares overflow Long
    * at corpus scale), argsorted (key DESC, j ASC), assigned
    * round-robin: rank r → subspace r mod m, slot r div m — so each
    * subspace receives one coordinate from every variance stratum
    * instead of whatever contiguity the embedder happened to emit.
    *
    * Returns the permutation as a driver array (parameter-sized, like
    * the BPE merge table): `perm(newPos) = oldIdx` (0-based). One
    * aggregate over the corpus computes it; applying it
    * ([[permuteVec]]) is a pure projection. Exact L2 is
    * permutation-invariant, so ground-truth ranks are unchanged and
    * raw-vs-permuted recall is directly comparable (q278). */
  def opqPermutation(vectors: DataFrame, vecCol: String, m: Int,
      subDim: Int): Seq[Int] = {
    require(m >= 1 && subDim >= 1, "m and subDim must be positive")
    val dim = m * subDim
    val keys = vectors
      .select(posexplode(Cluster.microQuantize(
        dimChecked(col(vecCol), m, subDim, "opqPermutation")))
        .as(Seq("j", "x")))
      .groupBy(col("j"))
      .agg((count(lit(1)).cast("decimal(38,0)") *
          sum(col("x").cast("decimal(38,0)") * col("x").cast("decimal(38,0)"))
        - sum(col("x").cast("decimal(38,0)")) *
          sum(col("x").cast("decimal(38,0)"))).as("vkey"))
      .collect().map(r => (r.getInt(0), r.getDecimal(1)))
    require(keys.length == dim, s"expected $dim coordinates, got ${keys.length}")
    val ranked = keys.sortBy { case (j, v) => (v, j) }(
      Ordering.Tuple2(Ordering[java.math.BigDecimal].reverse, Ordering.Int))
    val perm = new Array[Int](dim)
    ranked.zipWithIndex.foreach { case ((j, _), r) =>
      perm((r % m) * subDim + (r / m)) = j
    }
    perm.toSeq
  }

  /** Apply an [[opqPermutation]]: `out(i) = vec(perm(i))` — one fused
    * projection, no shuffle. */
  def permuteVec(vec: Column, perm: Seq[Int]): Column =
    array(perm.map(j => element_at(vec, j + 1)): _*)

  /** ASYMMETRIC-DISTANCE (ADC) top-k over a PQ-encoded corpus: per
    * query, the exact integer-micro squared L2 from each query
    * SUBVECTOR to every codebook centroid goes into a small
    * distance table (|Q|·m·k rows — broadcastable by construction,
    * THE PQ trick), and a corpus vector's approximate distance is
    * the sum of its m looked-up entries. The scan side touches only
    * the (id, sub, code) rows — never the float vectors. Output per
    * query: top `topK` by (adc_dist2 asc, id asc), each row carrying
    * `exact_rank` (the brute-force integer-micro rank, 0 = outside
    * the exact top-k) so recall is measured INSIDE the hashed
    * result, the q147/q149 discipline.
    *
    * 100 TB posture: dtab broadcast, one (sub, code)-keyed hash join
    * against the code rows, one (q, id)-keyed sum, one per-query
    * window (WindowGroupLimit). Compose behind an IVF probe (q149)
    * to cut the scan side; this operator is the in-cell scorer. */
  def pqAdcTopK(codes: DataFrame, codebooks: DataFrame, queries: DataFrame,
      corpus: DataFrame, idCol: String, vecCol: String, m: Int, subDim: Int,
      topK: Int): DataFrame = {
    require(topK >= 1, "topK must be positive")
    val scored = codes.toDF("vec_id", "sub", "code")
      .join(broadcast(pqDistTable(queries, idCol, vecCol, codebooks,
        m, subDim)), Seq("sub", "code"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("__d2")).as("adc_dist2"))
    rankWithExact(scored, queries, corpus, idCol, vecCol, topK)
  }

  /** IVF-PQ — the production composition ([[retrievalCascadeIvf]]'s
    * coarse probe fronting [[pqAdcTopK]]'s code scan): a coarse
    * micro-kmeans quantizer partitions the corpus into cells, each
    * query probes its `nProbe` nearest cells, and ADC scoring runs
    * over the CANDIDATE codes only — the scan cost drops by
    * ~nProbe/kCells AND reads m bytes per candidate instead of the
    * float vector. PQ here encodes the RAW vectors (IVF-Flat-PQ; the
    * residual-encoding variant would retrain codebooks per this
    * corpus's residuals — a documented simplification, same join
    * shapes). Same output contract as [[pqAdcTopK]] (exact ranks
    * from the brute-force tier carried inside the result), so the
    * recall cost of the probe is measurable per query. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, kCells: Int, coarseIterations: Int, nProbe: Int,
      m: Int, subDim: Int, kCodes: Int, pqIterations: Int, topK: Int,
      coarseSalt: String = "ivfpqc", pqSalt: String = "ivfpq"): DataFrame = {
    require(nProbe >= 1 && nProbe <= kCells, "need 1 <= nProbe <= kCells")
    // NOT pinned (contrast ivfPqResidualTopK): here the coarse tier's
    // lineage is a cheap parquet re-scan, and an eager checkpoint job
    // costs more than the one recompute it saves (measured 1.7x)
    val coarse = Cluster.kmeansMicroModel(
      corpus.select(col(idCol), col(vecCol)), idCol, vecCol,
      kCells, coarseIterations, coarseSalt)
    val (codes, books) = pqTrainEncode(corpus, idCol, vecCol,
      m, subDim, kCodes, pqIterations, pqSalt)
    val qmq = queries.select(col(idCol).as("q_id"),
      Cluster.microQuantize(col(vecCol)).as("__qq"))
    val wp = Window.partitionBy(col("q_id"))
      .orderBy(col("__d2").asc, col("cell").asc)
    val probes = qmq.crossJoin(broadcast(coarse.centroids))
      .withColumn("__d2", Cluster.dist2(col("__qq"), col("cvec")))
      .withColumn("__rn", row_number().over(wp))
      .filter(col("__rn") <= nProbe)
      .select(col("q_id"), col("cell"))
    val cand = probes
      .join(coarse.assign.select(col(idCol).as("vec_id"), col("cell")),
        Seq("cell"))
      .select("q_id", "vec_id")
    val scored = codes.toDF("vec_id", "sub", "code")
      .join(cand, Seq("vec_id"))
      .join(broadcast(pqDistTable(queries, idCol, vecCol, books,
        m, subDim)), Seq("q_id", "sub", "code"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("__d2")).as("adc_dist2"))
    rankWithExact(scored, queries, corpus, idCol, vecCol, topK)
  }

  /** IVF-PQ with RESIDUAL encoding — the standard FAISS IVF-PQ
    * (Jégou et al. 2011): PQ codebooks are trained on each vector's
    * residual vs its coarse centroid (`r = v − c_cell`) instead of
    * the raw vector, which removes the coarse structure from what PQ
    * must compress and materially tightens ADC distances at the same
    * m (closes [[ivfPqTopK]]'s documented simplification). The ADC
    * table becomes per-(query, probed cell): the query's OWN residual
    * vs that cell scores the cell's members — |Q|·nProbe·m·k rows,
    * still broadcastable by construction.
    *
    * Exactness: residuals are exact integer-micro differences
    * (`v_micro − c_micro`), re-expressed as doubles by one exact
    * division (micro magnitudes ≪ 2⁵³), so the residual kmeans
    * trainer sees bit-identical inputs in both engines and the
    * oracle RETRAINS coarse + all m residual codebooks. Same output
    * contract as [[pqAdcTopK]] (brute-force exact ranks inside the
    * result), so raw-vs-residual recall is measurable per query.
    * Scale shape: unchanged vs [[ivfPqTopK]] — one id-keyed residual
    * join (the encode pass), m bounded kmeans runs, a broadcast
    * (q, cell, sub, code) lookup join, one (q, id)-keyed sum. */
  def ivfPqResidualTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, kCells: Int, coarseIterations: Int,
      nProbe: Int, m: Int, subDim: Int, kCodes: Int, pqIterations: Int,
      topK: Int, coarseSalt: String = "ivfpqc",
      pqSalt: String = "ivfpqr"): DataFrame =
    ivfPqResidualSearch(
      buildResidualPqIndex(corpus, idCol, vecCol, kCells,
        coarseIterations, m, subDim, kCodes, pqIterations, coarseSalt,
        pqSalt),
      queries, corpus, idCol, vecCol, nProbe, m, subDim, topK)

  /** The fitted residual IVF-PQ index: pinned coarse
    * assignment/centroids + pinned residual codes/codebooks — the
    * on-disk state a real deployment writes once and serves from. */
  case class ResidualPqIndex(assign: DataFrame, centroids: DataFrame,
      codes: DataFrame, books: DataFrame)

  /** The index-build half of [[ivfPqResidualTopK]] — identical
    * arithmetic, factored out so the board can train the index ONCE
    * per params via [[residualPqIndexMemo]]. */
  def buildResidualPqIndex(corpus: DataFrame, idCol: String,
      vecCol: String, kCells: Int, coarseIterations: Int, m: Int,
      subDim: Int, kCodes: Int, pqIterations: Int,
      coarseSalt: String = "ivfpqc",
      pqSalt: String = "ivfpqr"): ResidualPqIndex = {
    val coarse0 = Cluster.kmeansMicroModel(
      corpus.select(col(idCol), col(vecCol)), idCol, vecCol,
      kCells, coarseIterations, coarseSalt)
    // pin the coarse tier eagerly (the "write the index" step): its
    // assignment feeds BOTH the residual join and the candidate join,
    // and its lineage is the whole coarse training DAG
    val assign = coarse0.assign.localCheckpoint(true)
    val cents = coarse0.centroids.localCheckpoint(true)
    val coarse = Cluster.KmeansMicroModel(assign, cents)
    // residual frame: exact micro differences, one exact /1e6 back to
    // doubles so the PQ trainer's micro-quantize round-trips losslessly
    val resid = corpus.select(col(idCol),
        Cluster.microQuantize(
          dimChecked(col(vecCol), m, subDim, "ivfPqResidualTopK"))
          .as("__vq"))
      .join(coarse.assign.select(col(idCol), col("cell")), Seq(idCol))
      .join(broadcast(coarse.centroids), Seq("cell"))
      .select(col(idCol),
        zip_with(col("__vq"), col("cvec"),
          (a, b) => (a - b).cast("double") / lit(1e6)).as("__rvec"))
      // SCOPED persist (the SuffixDedup discipline): the m per-subspace
      // kmeans trainings would otherwise re-execute the residual JOIN
      // on every action (measured ~4x the q257 wall at sf0.1); codes
      // and codebooks are pinned eagerly below — the "write the codes
      // once" step every real PQ deployment has — then the cache is
      // released before scoring, so no CacheManager entry outlives
      // the call
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (codes0, books0) = pqTrainEncode(resid, idCol, "__rvec",
      m, subDim, kCodes, pqIterations, pqSalt)
    val codes = codes0.localCheckpoint(true)
    val books = books0.localCheckpoint(true)
    resid.unpersist()
    ResidualPqIndex(assign, cents, codes, books)
  }

  /** Board-level memo for [[buildResidualPqIndex]] over a testdata
    * dir: q265, q273 and any serving caller train the IDENTICAL index,
    * so the build runs once per params through [[graft.FittedCache]].
    * Memoized ≡ fresh bit-for-bit (the value IS
    * [[buildResidualPqIndex]]'s pinned frames). */
  def residualPqIndexMemo(spark: SparkSession, dir: String, kCells: Int,
      coarseIterations: Int, m: Int, subDim: Int, kCodes: Int,
      pqIterations: Int, coarseSalt: String = "ivfpqc",
      pqSalt: String = "ivfpqr"): ResidualPqIndex = {
    val path = s"$dir/embeddings.parquet"
    graft.FittedCache.get(spark, "Ann.residualPqIndex", Seq(path),
        Seq(kCells, coarseIterations, m, subDim, kCodes, pqIterations,
          coarseSalt, pqSalt)) {
      buildResidualPqIndex(
        spark.read.parquet(path).select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", kCells, coarseIterations, m, subDim,
        kCodes, pqIterations, coarseSalt, pqSalt)
    }
  }

  /** The index-build half of [[ivfPqTopK]] (RAW encoding — IVF-Flat-PQ):
    * identical arithmetic, factored out so the board can train each
    * (params)-distinct raw board ONCE per application via
    * [[rawPqIndexMemo]] — the [[buildResidualPqIndex]] discipline on
    * the raw tier. Coarse assignment/centroids and codes/codebooks
    * are pinned eagerly (the "write the index" step a real deployment
    * has); content is bit-identical to the in-line training inside
    * [[ivfPqTopK]] because both tiers are deterministic. */
  def buildRawPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
      kCells: Int, coarseIterations: Int, m: Int, subDim: Int,
      kCodes: Int, pqIterations: Int, coarseSalt: String = "ivfpqc",
      pqSalt: String = "ivfpq"): ResidualPqIndex = {
    val coarse0 = Cluster.kmeansMicroModel(
      corpus.select(col(idCol), col(vecCol)), idCol, vecCol,
      kCells, coarseIterations, coarseSalt)
    val assign = coarse0.assign.localCheckpoint(true)
    val cents = coarse0.centroids.localCheckpoint(true)
    val (codes0, books0) = pqTrainEncode(corpus, idCol, vecCol,
      m, subDim, kCodes, pqIterations, pqSalt)
    val codes = codes0.localCheckpoint(true)
    val books = books0.localCheckpoint(true)
    ResidualPqIndex(assign, cents, codes, books)
  }

  /** Board-level memo for [[buildRawPqIndex]] over a testdata dir:
    * q257, q266's raw presets, q278's raw baseline and q279's frozen
    * operating parameters all train (params)-keyed raw boards, so
    * each distinct board trains once through [[graft.FittedCache]].
    * Memoized ≡ fresh bit-for-bit (the value IS
    * [[buildRawPqIndex]]'s pinned frames; pinned by AnnSpec). */
  def rawPqIndexMemo(spark: SparkSession, dir: String, kCells: Int,
      coarseIterations: Int, m: Int, subDim: Int, kCodes: Int,
      pqIterations: Int, coarseSalt: String = "ivfpqc",
      pqSalt: String = "ivfpq"): ResidualPqIndex = {
    val path = s"$dir/embeddings.parquet"
    graft.FittedCache.get(spark, "Ann.rawPqIndex", Seq(path),
        Seq(kCells, coarseIterations, m, subDim, kCodes, pqIterations,
          coarseSalt, pqSalt)) {
      buildRawPqIndex(
        spark.read.parquet(path).select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", kCells, coarseIterations, m, subDim,
        kCodes, pqIterations, coarseSalt, pqSalt)
    }
  }

  /** The search half of [[ivfPqTopK]] over a fitted raw board —
    * identical expressions (probe, candidate join, one shared ADC
    * table per query, rank-with-exact), reading the index's pinned
    * frames instead of retraining. */
  def ivfPqRawSearch(index: ResidualPqIndex, queries: DataFrame,
      corpus: DataFrame, idCol: String, vecCol: String, nProbe: Int,
      m: Int, subDim: Int, topK: Int): DataFrame = {
    require(nProbe >= 1, "need nProbe >= 1")
    // Unlike ivfPqTopK this cannot cheaply assert nProbe <= kCells
    // (the fitted index does not carry kCells, and counting the
    // pinned centroid frame would cost a job per search): an
    // over-large nProbe silently degrades to probing ALL cells —
    // correct results, brute-force cost. Callers on this board pass
    // nProbe from the same literals as the index build.
    val qmq = queries.select(col(idCol).as("q_id"),
      Cluster.microQuantize(col(vecCol)).as("__qq"))
    val wp = Window.partitionBy(col("q_id"))
      .orderBy(col("__d2").asc, col("cell").asc)
    val probes = qmq.crossJoin(broadcast(index.centroids))
      .withColumn("__d2", Cluster.dist2(col("__qq"), col("cvec")))
      .withColumn("__rn", row_number().over(wp))
      .filter(col("__rn") <= nProbe)
      .select(col("q_id"), col("cell"))
    val cand = probes
      .join(index.assign.select(col(idCol).as("vec_id"), col("cell")),
        Seq("cell"))
      .select("q_id", "vec_id")
    val scored = index.codes.toDF("vec_id", "sub", "code")
      .join(cand, Seq("vec_id"))
      .join(broadcast(pqDistTable(queries, idCol, vecCol, index.books,
        m, subDim)), Seq("q_id", "sub", "code"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("__d2")).as("adc_dist2"))
    rankWithExact(scored, queries, corpus, idCol, vecCol, topK)
  }

  /** A fitted OPQ-lite board: the variance-balancing permutation plus
    * the raw IVF-PQ board trained on the PERMUTED corpus. */
  final case class OpqPqIndex(perm: Seq[Int], index: ResidualPqIndex)

  /** Board-level memo for the OPQ-permuted raw board (q278's second
    * audit arm): the permutation is deterministic from (dir, m,
    * subDim) and the permuted board from the remaining params, so the
    * pair trains once through [[graft.FittedCache]]. */
  def opqPqIndexMemo(spark: SparkSession, dir: String, kCells: Int,
      coarseIterations: Int, m: Int, subDim: Int, kCodes: Int,
      pqIterations: Int): OpqPqIndex = {
    val path = s"$dir/embeddings.parquet"
    graft.FittedCache.get(spark, "Ann.opqPqIndex", Seq(path),
        Seq(kCells, coarseIterations, m, subDim, kCodes, pqIterations)) {
      val e = spark.read.parquet(path).select(col("vec_id"), col("embedding"))
      val perm = opqPermutation(e, "embedding", m, subDim)
      val pe = e.select(col("vec_id"),
        permuteVec(col("embedding"), perm).as("embedding"))
      OpqPqIndex(perm, buildRawPqIndex(pe, "vec_id", "embedding",
        kCells, coarseIterations, m, subDim, kCodes, pqIterations))
    }
  }

  /** Board-level memo for [[pqTrainEncode]] over a testdata dir
    * (q256's flat-PQ codes/codebooks): the fitted pair is pinned once
    * per params in [[graft.FittedCache]]. */
  def pqTrainEncodeMemo(spark: SparkSession, dir: String, m: Int,
      subDim: Int, k: Int, iterations: Int,
      salt: String): (DataFrame, DataFrame) = {
    val path = s"$dir/embeddings.parquet"
    graft.FittedCache.get(spark, "Ann.pqTrainEncode", Seq(path),
        Seq(m, subDim, k, iterations, salt)) {
      val (codes, books) = pqTrainEncode(
        spark.read.parquet(path).select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", m, subDim, k, iterations, salt)
      (codes.localCheckpoint(true), books.localCheckpoint(true))
    }
  }

  /** The search half of [[ivfPqResidualTopK]] over a fitted
    * [[ResidualPqIndex]]. */
  def ivfPqResidualSearch(index: ResidualPqIndex, queries: DataFrame,
      corpus: DataFrame, idCol: String, vecCol: String, nProbe: Int,
      m: Int, subDim: Int, topK: Int): DataFrame = {
    require(nProbe >= 1, "need nProbe >= 1")
    val coarse = Cluster.KmeansMicroModel(index.assign, index.centroids)
    val codes = index.codes
    val books = index.books
    val qmq = queries.select(col(idCol).as("q_id"),
      Cluster.microQuantize(
        dimChecked(col(vecCol), m, subDim, "ivfPqResidualTopK"))
        .as("__qq"))
    val wp = Window.partitionBy(col("q_id"))
      .orderBy(col("__d2").asc, col("cell").asc)
    // per probed cell, carry the query's residual micro vector
    val probes = qmq.crossJoin(broadcast(coarse.centroids))
      .withColumn("__d2", Cluster.dist2(col("__qq"), col("cvec")))
      .withColumn("__rn", row_number().over(wp))
      .filter(col("__rn") <= nProbe)
      .select(col("q_id"), col("cell"),
        zip_with(col("__qq"), col("cvec"), (a, b) => a - b).as("__rq"))
    val qsub = probes.select(col("q_id"), col("cell"),
      posexplode(transform(sequence(lit(0), lit(m - 1)), s =>
        slice(col("__rq"), s * subDim + 1, lit(subDim))))
        .as(Seq("sub", "__qv")))
    val dtab = qsub.join(books, Seq("sub"))
      .select(col("q_id"), col("cell"), col("sub"), col("code"),
        Cluster.dist2(col("__qv"), col("cvec")).as("__d2"))
    val cand = probes.select(col("q_id"), col("cell"))
      .join(coarse.assign.select(col(idCol).as("vec_id"), col("cell")),
        Seq("cell"))
      .select("q_id", "vec_id", "cell")
    val scored = codes.toDF("vec_id", "sub", "code")
      .join(cand, Seq("vec_id"))
      .join(broadcast(dtab), Seq("q_id", "cell", "sub", "code"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("__d2")).as("adc_dist2"))
    rankWithExact(scored, queries, corpus, idCol, vecCol, topK)
  }

  /** (q_id, sub, code, __d2): exact integer-micro L2 from every query
    * subvector to every codebook centroid — |Q|·m·k rows, THE PQ
    * lookup table, broadcast at every use site. */
  private def pqDistTable(queries: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame, m: Int, subDim: Int): DataFrame = {
    val qsub = queries.select(col(idCol).as("q_id"),
        posexplode(transform(sequence(lit(0), lit(m - 1)), s =>
          slice(Cluster.microQuantize(
              dimChecked(col(vecCol), m, subDim, "pqDistTable")),
            s * subDim + 1, lit(subDim))))
          .as(Seq("sub", "__qv")))
    qsub.join(codebooks, Seq("sub"))
      .select(col("q_id"), col("sub"), col("code"),
        Cluster.dist2(col("__qv"), col("cvec")).as("__d2"))
  }

  /** RESIDUAL IVF-PQ with the EXACT RE-RANK TAIL — the full
    * production cascade (FAISS's `refine` stage): ADC ranks the
    * probed cells' codes, the top `candK` candidates per query are
    * re-scored against their FULL vectors (the only point floats are
    * read — candK rows per query, not the corpus), and the exact
    * distances pick the final `topK`. Carries `adc_rank` (where ADC
    * put the candidate) and the global brute-force `exact_rank`
    * (0 = outside the exact top-candK) so both the compression loss
    * and the re-rank's repair are measurable inside the hashed
    * result. Scale shape: everything of [[ivfPqResidualTopK]] plus
    * one id-keyed join reading candK·|Q| float vectors and one
    * per-query bounded window. */
  def ivfPqResidualRerankTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, kCells: Int, coarseIterations: Int,
      nProbe: Int, m: Int, subDim: Int, kCodes: Int, pqIterations: Int,
      candK: Int, topK: Int, coarseSalt: String = "ivfpqc",
      pqSalt: String = "ivfpqr",
      index: Option[ResidualPqIndex] = None): DataFrame = {
    require(candK >= topK && topK >= 1, "need candK >= topK >= 1")
    val idx = index.getOrElse(buildResidualPqIndex(corpus, idCol, vecCol,
      kCells, coarseIterations, m, subDim, kCodes, pqIterations,
      coarseSalt, pqSalt))
    val cand = ivfPqResidualSearch(idx, queries, corpus, idCol, vecCol,
        nProbe, m, subDim, topK = candK)
      .select(col("q_id"), col("vec_id"), col("rank").as("adc_rank"),
        col("exact_rank"))
    val cv = corpus.select(col(idCol).as("vec_id"),
      Cluster.microQuantize(col(vecCol)).as("__cv"))
    val qv = queries.select(col(idCol).as("q_id"),
      Cluster.microQuantize(col(vecCol)).as("__qv"))
    cand.join(cv, Seq("vec_id"))
      .join(broadcast(qv), Seq("q_id"))
      .withColumn("dist2_q", Cluster.dist2(col("__qv"), col("__cv")))
      .withColumn("rank", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("dist2_q"), col("vec_id"))).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("rank"), col("vec_id"), col("dist2_q"),
        col("adc_rank"), col("exact_rank"))
  }

  /** Plan-level PQ dim guard: the vector cast to array<double> iff
    * its length is exactly m·subDim, raise_error otherwise — a
    * mismatched config fails loudly instead of silently training on
    * truncated/empty slices. */
  private def dimChecked(vec: Column, m: Int, subDim: Int,
      site: String): Column = {
    val dims = m * subDim
    when(size(vec) === dims, vec.cast("array<double>"))
      .otherwise(raise_error(concat(
        lit(s"$site: size(vec) must equal m*subDim = $dims, got "),
        size(vec).cast("string"))).cast("array<double>"))
  }

  /** Rank (adc_dist2 asc, vec_id asc) per query and join in the
    * brute-force micro-L2 exact ranks (0 = outside the exact top-k)
    * — queries are few, so the ground-truth tier is a broadcast of Q
    * against the corpus. */
  private def rankWithExact(scored: DataFrame, queries: DataFrame,
      corpus: DataFrame, idCol: String, vecCol: String,
      topK: Int): DataFrame = {
    require(topK >= 1, "topK must be positive")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("adc_dist2"), col("vec_id"))
    val top = scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
    val qv = queries.select(col(idCol).as("q_id"),
      Cluster.microQuantize(col(vecCol)).as("__qvq"))
    val cvs = corpus.select(col(idCol).as("vec_id"),
      Cluster.microQuantize(col(vecCol)).as("__cvq"))
    val exact = cvs.crossJoin(broadcast(qv))
      .withColumn("__xd", Cluster.dist2(col("__qvq"), col("__cvq")))
      .withColumn("exact_rank", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("__xd"), col("vec_id"))).cast("long"))
      .filter(col("exact_rank") <= topK)
      .select(col("q_id"), col("vec_id"), col("exact_rank"))
    top.join(exact, Seq("q_id", "vec_id"), "left")
      .select(col("q_id"), col("rank"), col("vec_id"), col("adc_dist2"),
        coalesce(col("exact_rank"), lit(0L)).as("exact_rank"))
  }
}
