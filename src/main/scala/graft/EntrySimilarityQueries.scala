package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.embed.HashingEmbedder
import graft.functions.GraftUdfs
import graft.operators.{Analyze, Ann, Bitext, Bpe, Cluster, Dedup, Graph, Matcher, Multimodal, Scrub, Sketch, TextAnalysis, UrlOps}
import graft.streaming.StreamOps

/** Dedup / similarity-search / sketch queries plus the flagship matcher family: minhash-LSH tiers, SimHash, prefix-filter Jaccard, ANN tiers, the retrieval cascade, trained-embedder flagships. */
private[graft] trait EntrySimilarityQueries { this: SparkEntry.type =>

  /** Exact dedup by content digest (Dedup.exactDuplicates). */
  private[graft] def q15(s: SparkSession, dir: String): DataFrame =
    Dedup.exactDuplicates(t(s, dir, "documents")).orderBy("text_md5")

  /** MinHash signatures (8 hash families over word 3-shingles). */
  private[graft] def q20(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashSignatures(t(s, dir, "documents"), "text", "doc_id",
        shingleSize = 3, numHashes = 8)
      .orderBy("doc_id")

  /** SimHash 60-bit fingerprints. */
  private[graft] def q21(s: SparkSession, dir: String): DataFrame =
    Dedup.simhash(t(s, dir, "documents"), "text", "doc_id").orderBy("doc_id")

  /** Exact word-3-gram Jaccard over blocked candidate pairs. */
  private[graft] def q22(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(col("doc_id") < 40)
    val ids = docs.select(col("doc_id"))
    val pairs = ids.as("x").crossJoin(ids.as("y"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
    Dedup.jaccardOnPairs(pairs, docs, "text", "doc_id", shingleSize = 3)
      .select("id_a", "id_b", "n_inter", "n_a", "n_b", "jaccard")
      .orderBy("id_a", "id_b")
  }

  /** Exact brute-force cosine top-k: every 50th vector queries the
    * whole corpus (broadcast side). */
  private[graft] def q25(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Ann.bruteForceTopK(e.filter(col("vec_id") % 50 === 0), e,
        "vec_id", "vec_id", "embedding", k = 5)
      .withColumn("rank", col("rank").cast("long"))
      .orderBy("q_id", "rank")
  }

  /** SEMANTIC decontamination ([[Ann.bruteForceTopK]] k=1 against
    * the eval set): the embedding-space complement of the n-gram
    * gates (q58/q103/q142) — paraphrased eval leakage shares no
    * 3-gram but sits at high cosine. The eval side is benchmarks
    * (broadcast, ~1% of vec_ids here); the train side streams
    * through ONE scan + broadcast cross-score, so the shape holds at
    * 100 TB. Emits each train vector's nearest eval neighbour, its
    * cosine, and the threshold flag (0.9 — natural scores top out at
    * ~0.47 on this corpus and planted leaks sit at ~1.0, so the
    * boolean clears the threshold by a wide margin on both sides and
    * is stable under ulp-level engine differences). PLANTED leakage
    * (every fifth eval vector re-inserted under a new train id)
    * exercises the contaminated=true path inside the hash check. */
  private[graft] def q145(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val evalSet = e.filter(col("vec_id") % 97 === 0)
    val train = e.filter(col("vec_id") % 97 =!= 0)
      .union(evalSet.filter(col("vec_id") % 5 === 0)
        // planted ids mirrored NEGATIVE: collision-free with any real
        // (non-negative) vec_id at any corpus scale
        .select((-col("vec_id") - 1L).as("vec_id"), col("embedding"),
          col("label")))
    Ann.bruteForceTopK(train, evalSet,
        "vec_id", "vec_id", "embedding", k = 1)
      .select(col("q_id").as("vec_id"), col("c_id").as("nearest_eval_id"),
        col("score").as("max_cos"),
        (col("score") >= 0.9).as("contaminated"))
      .orderBy("vec_id")
  }

  /** Sign-LSH bucket assignment, 4 bands × 4 planes. */
  private[graft] def q26(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    e.select(
        col("vec_id") +: lshBands.zipWithIndex.map { case (b, i) =>
          Ann.bucketExpr(col("embedding"), b).as(s"bucket_$i")
        }: _*)
      .orderBy("vec_id")
  }

  /** Banded-LSH near-dup candidate pairs verified by exact cosine. */
  private[graft] def q27(s: SparkSession, dir: String): DataFrame =
    Ann.lshBandedNearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
        lshPlanes, lshBandSize, cosineThreshold = 0.45)
      .orderBy("id_a", "id_b")

  /** MinHash-LSH near-duplicate detection end-to-end: signatures →
    * banded candidates → exact jaccard ≥ 0.8. */
  private[graft] def q28(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashNearDuplicates(t(s, dir, "documents"), "text", "doc_id",
        shingleSize = 3, numHashes = 8, rowsPerBand = 2, jaccardThreshold = 0.8)
      .select("id_a", "id_b", "n_inter", "n_a", "n_b", "jaccard")
      .orderBy("id_a", "id_b")

  /** MinHash-LSH near-dup with the HOT-BUCKET CAP (the 100 TB skew
    * guard): buckets over 8 members emit no pairwise candidates — the
    * planted boilerplate cluster's 66 pairs are suppressed while every
    * small-bucket pair is found exactly as in q28. */
  private[graft] def q45(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashNearDuplicates(corpusWithBoilerplate(s, dir), "text", "doc_id",
        shingleSize = 3, numHashes = 8, rowsPerBand = 2, jaccardThreshold = 0.8,
        maxBucketSize = Some(8))
      .select("id_a", "id_b", "n_inter", "n_a", "n_b", "jaccard")
      .orderBy("id_a", "id_b")

  /** q45 with the AUTO-COMPOSED exact-dup collapse
    * (`collapseExact = true`) — the banded twin of q140's structural
    * fix: the planted 12-copy boilerplate cluster becomes ONE
    * representative before signing, so it can neither flood a band
    * bucket past the cap (dragging its distinct-text neighbours out
    * with it) nor emit c² identical-pair output. Pairs between
    * DISTINCT texts survive; the 32x/64x DedupScaleProbe rows show
    * this composition flat at ~1x wall under a replica flood. */
  private[graft] def q151(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashNearDuplicates(corpusWithBoilerplate(s, dir), "text", "doc_id",
        shingleSize = 3, numHashes = 8, rowsPerBand = 2, jaccardThreshold = 0.8,
        maxBucketSize = Some(8), collapseExact = true)
      .select("id_a", "id_b", "n_inter", "n_a", "n_b", "jaccard")
      .orderBy("id_a", "id_b")

  /** The linear companion of the cap: identical-full-signature
    * clusters (the capped boilerplate mass, recovered as ONE group by
    * a map-side-combined aggregate instead of |cluster|² pairs). */
  private[graft] def q46(s: SparkSession, dir: String): DataFrame =
    Dedup.exactSignatureDuplicates(
        Dedup.minhashSignatures(corpusWithBoilerplate(s, dir), "text", "doc_id",
          shingleSize = 3, numHashes = 8),
        "doc_id", numHashes = 8)
      .orderBy("keep_id")

  /** Incremental dedup against corpus history
    * ([[Dedup.dedupAgainstCorpus]]): a synthetic recrawl (every 5th
    * doc re-keyed; every 3rd of those edited) anti-joins the corpus
    * digest set — only genuinely new content survives ingestion. */
  private[graft] def q97(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val batch = docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        when(col("doc_id") % 3 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
    Dedup.dedupAgainstCorpus(batch, docs)
      .select(col("doc_id"), md5(col("text")).as("content_md5"))
      .orderBy("doc_id")
  }

  /** Hard-negative mining ([[Ann.hardNegatives]]): per query, the
    * top-5 most-similar corpus vectors that are neither the query nor
    * its labeled positive (q_id+1) — the contrastive-training
    * negatives a retrieval pipeline mines; over-fetch + filter proven
    * equal to filter-then-rank by the oracle. */
  private[graft] def q99(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val queries = e.filter(col("vec_id") % 50 === 0)
    val positives = queries.select(col("vec_id").as("q_id"),
      (col("vec_id") + 1).as("pos_id"))
    Ann.hardNegatives(queries, e, positives,
        "vec_id", "vec_id", "embedding", k = 5, maxPositivesPerQuery = 1)
      .orderBy("q_id", "neg_rank")
  }

  /** Count-min sketch frequency estimation ([[Sketch]]): build a
    * 4×16 deterministic md5-keyed sketch over the corpus token
    * frequencies, then point-query every vocabulary term. The narrow
    * width FORCES collisions at the harness vocabulary, so the
    * overcount column exercises the real CMS behaviour; the oracle
    * replays every cell and the min-estimate arithmetic exactly.
    * est ≥ f always (never undercounts). */
  private[graft] def q102(s: SparkSession, dir: String): DataFrame = {
    val freq = TextAnalysis.tokenCounts(t(s, dir, "documents"), "doc_id", "text")
      .groupBy(col("__tok").as("tok")).agg(sum(col("__c")).as("f"))
    val sketch = Sketch.countMinBuild(freq, "tok", "f",
      depth = 4, width = 16, salt = "cms")
    Sketch.countMinEstimate(sketch, freq, "tok",
        depth = 4, width = 16, salt = "cms")
      .select(col("tok"), col("f"), col("est"), (col("est") - col("f")).as("overcount"))
      .orderBy("tok")
  }

  /** Bloom-filter decontamination pre-filter ([[Sketch.bloomBuild]]):
    * the q58 eval/train split, but the eval 3-gram set is summarized
    * into a 1024-bit / 3-hash Bloom filter and every distinct train
    * (doc, shingle) is probed through it. Per train doc: shingle
    * count, bloom hits, exact hits — `bloom_hits ≥ exact_hits` on
    * every row (no false negatives), and the gap IS the measured
    * false-positive mass at the harness load factor (~16% of 16k
    * distinct probe shingles). The oracle replays every bit position
    * and the all-k-set test exactly. */
  private[graft] def q103(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    def docShingles(docs: DataFrame): DataFrame =
      docs.select(col("doc_id"),
        explode(Dedup.shingles(col("text"), 3)).as("shingle")).distinct()
    val evalSh = docShingles(d.filter(col("doc_id") % 97 === 0))
      .select("shingle").distinct()
    val trainSh = docShingles(d.filter(col("doc_id") % 97 =!= 0))
    val bloom = Sketch.bloomBuild(evalSh, "shingle",
      numBits = 1024, numHashes = 3, salt = "bloom")
    Sketch.bloomMightContain(bloom, trainSh, "shingle",
        numBits = 1024, numHashes = 3, salt = "bloom")
      .join(broadcast(evalSh.withColumn("__ex", lit(1))), Seq("shingle"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("maybe"), 1L).otherwise(0L)).as("bloom_hits"),
        sum(when(col("__ex").isNotNull, 1L).otherwise(0L)).as("exact_hits"))
      .orderBy("doc_id")
  }

  /** MinHash estimator accuracy, measured: for every LSH candidate
    * pair, the signature-agreement count (0..8 equal components — the
    * sketch's Jaccard estimate in eighths) beside the EXACT shingle
    * Jaccard. Per-component agreement is unbiased on a RANDOM pair
    * (P[sig_i equal] = J), but on pairs SELECTED by band collision it
    * overestimates wildly — at sf0.01 the sig_eq∈[2,7] candidates
    * average J≈0.01 while sig_eq=8 averages J≈0.87. That measured
    * selection bias is precisely why [[Dedup.minhashNearDuplicates]]
    * rescores candidates with exact Jaccard instead of trusting the
    * sketch. Both columns replay in DuckDB; one signature build, one
    * banding pass, pair-keyed joins only. */
  private[graft] def q106(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val sigs = Dedup.minhashSignatures(d, "text", "doc_id",
      shingleSize = 3, numHashes = 8)
    val pairs = Dedup.minhashCandidatePairs(sigs, "doc_id",
      numHashes = 8, rowsPerBand = 2)
    val sigA = sigs.select(col("doc_id").as("id_a") +:
      (0 until 8).map(i => col(s"sig_$i").as(s"__a_$i")): _*)
    val sigB = sigs.select(col("doc_id").as("id_b") +:
      (0 until 8).map(i => col(s"sig_$i").as(s"__b_$i")): _*)
    val sigEq = (0 until 8)
      .map(i => when(col(s"__a_$i") === col(s"__b_$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    Dedup.jaccardOnPairs(pairs, d, "text", "doc_id", shingleSize = 3)
      .join(sigA, Seq("id_a"))
      .join(sigB, Seq("id_b"))
      .withColumn("sig_eq", sigEq)
      .select("id_a", "id_b", "sig_eq", "n_inter", "n_a", "n_b", "jaccard")
      .orderBy("id_a", "id_b")
  }

  /** Deterministic HLL ([[Sketch.hllDistinct]]): distinct-token
    * estimate per source, m=64 registers, beside the exact count.
    * The ESTIMATE hash-matches DuckDB — integer register math and one
    * fixed double expression — where q63's `approx_count_distinct`
    * could only be certified by accuracy-bound flags. */
  private[graft] def q108(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(col("source"),
        explode(split(lower(col("text")), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
    val est = Sketch.hllDistinct(toks, Seq("source"), "tok", p = 6, salt = "hll")
    val exact = toks.groupBy("source")
      .agg(countDistinct(col("tok")).as("exact_distinct"))
    est.join(exact, Seq("source"))
      .select("source", "n_used", "est", "exact_distinct")
      .orderBy("source")
  }

  /** Distributed micro-quantized Lloyd's k-means
    * ([[graft.operators.Cluster.kmeansMicro]]) — the certifiable
    * IVF-training path: per-vector cell assignment after 3
    * assign/update rounds at k=4, exact integer-micro squared
    * distances, cell sizes joined on for the balance picture. The
    * whole iterative trajectory hash-matches a DuckDB oracle
    * unrolling the same rounds (MLlib's KMeans, q32's codebook
    * trainer, can never be oracled — its float accumulation order is
    * partition-dependent). */
  private[graft] def q110(s: SparkSession, dir: String): DataFrame = {
    // pin the final assignment: it feeds BOTH the result join and the
    // cell-size rollup, so the unpinned plan trains the 3 k-means
    // rounds twice in one query (the nnDescent lineage discipline)
    val asg = Cluster.kmeansMicro(t(s, dir, "embeddings"), "vec_id",
      "embedding", k = 4, iterations = 3).localCheckpoint(true)
    val sizes = asg.groupBy("cell").agg(count(lit(1)).as("cell_n"))
    asg.join(sizes, Seq("cell"))
      .select("vec_id", "cell", "dist2_q", "cell_n")
      .orderBy("vec_id")
  }

  /** EXACT Jaccard similarity self-join via prefix filtering
    * ([[graft.operators.Dedup.prefixJaccardPairs]]) — the
    * AllPairs/PPJoin blocking family beside q28's banded MinHash:
    * every pair at tau >= 4/5 is FOUND (no LSH false negatives; the
    * guarantee q106 measures the sketch against). Same planted
    * boilerplate corpus as q45/q46, so the recovered pair sets are
    * directly comparable. */
  private[graft] def q111(s: SparkSession, dir: String): DataFrame =
    Dedup.prefixJaccardPairs(corpusWithBoilerplate(s, dir), "text", "doc_id",
        shingleSize = 3, tauNum = 4, tauDen = 5)
      .orderBy("id_a", "id_b")

  /** q111 with the AUTO-COMPOSED exact-dup collapse
    * (`collapseExact = true`): the planted 12-copy boilerplate
    * cluster is represented by its lowest-id member instead of 66
    * identical jaccard-1.0 rows — the structural fix for the
    * prefix join's only skew hole (a c-copy cluster can never emit
    * c² output). Pairs between DISTINCT texts are unchanged. */
  private[graft] def q140(s: SparkSession, dir: String): DataFrame =
    Dedup.prefixJaccardPairs(corpusWithBoilerplate(s, dir), "text", "doc_id",
        shingleSize = 3, tauNum = 4, tauDen = 5, collapseExact = true)
      .orderBy("id_a", "id_b")

  /** LSH RECALL audit: every exact prefix-filter pair at tau >= 0.8
    * (the ground truth — no false negatives by the prefix theorem)
    * flagged with whether the banded-MinHash tier also surfaced it.
    * The dedup-quality report a 100 TB pipeline ships before trusting
    * its LSH pass: found_by_lsh = false rows ARE the measured recall
    * loss of the 8-hash/2-row banding at this corpus. Both chains are
    * certified individually (q111, q45-family); this joins them. */
  private[graft] def q133(s: SparkSession, dir: String): DataFrame =
    lshRecallAudit(s, dir, numHashes = 8)

  /** q139: the q133 recall audit at the SECOND banding preset —
    * 16 hashes × 2 rows = 8 bands. Doubling the bands roughly
    * squares the per-band miss probability's product term
    * (1-(1-s²)^b), so recall at the 0.8 threshold rises toward 1;
    * the measured recall delta and its wall cost sit in the PERF.md
    * ledger, making the recall/cost trade a config choice WITH data
    * — exactly what a 100 TB dedup pass needs before choosing its
    * preset. */
  private[graft] def q139(s: SparkSession, dir: String): DataFrame =
    lshRecallAudit(s, dir, numHashes = 16)

  /** q141: the recall audit with INDEPENDENT per-family digests
    * (salted md5 per family instead of the Kirsch-Mitzenmacher
    * h1+i·h2 derivation) — the engine-side fix for the correlated
    * recall loss the q133/q139 pair measured (same two pairs missed
    * at both band presets because one jointly-small (h1,h2) shingle
    * owned every derived family's min). The audit loop closed:
    * monitoring found a loss class, the engine ships the preset that
    * removes it, and this query measures the recovery under the same
    * ground truth. */
  private[graft] def q141(s: SparkSession, dir: String): DataFrame =
    lshRecallAudit(s, dir, numHashes = 8, independentHashes = true)

  private[graft] def lshRecallAudit(s: SparkSession, dir: String,
                             numHashes: Int,
                             independentHashes: Boolean = false): DataFrame = {
    val corpus = corpusWithBoilerplate(s, dir)
    val exact = Dedup.prefixJaccardPairs(corpus, "text", "doc_id",
        shingleSize = 3, tauNum = 4, tauDen = 5)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    val lsh = Dedup.minhashNearDuplicates(corpus, "text", "doc_id",
        shingleSize = 3, numHashes = numHashes, rowsPerBand = 2,
        jaccardThreshold = 0.8, independentHashes = independentHashes)
      .select(col("id_a").as("l_a"), col("id_b").as("l_b"))
    exact.join(lsh,
        col("id_a") === col("l_a") && col("id_b") === col("l_b"), "left")
      .select(col("id_a"), col("id_b"), col("jaccard"),
        col("l_a").isNotNull.as("found_by_lsh"))
      .orderBy("id_a", "id_b")
  }

  /** Embedding-space outlier mining
    * ([[graft.operators.Cluster.centroidDistances]]): each vector's
    * exact integer-micro squared distance to its OWN label centroid,
    * top-3 farthest per label under WindowGroupLimit — the
    * mislabeled-sample shortlist a semantic noise filter reviews.
    * Every distance is an exact BIGINT, so ranks and values
    * hash-match the DuckDB replay. */
  private[graft] def q113(s: SparkSession, dir: String): DataFrame = {
    val d = Cluster.centroidDistances(t(s, dir, "embeddings"),
      "vec_id", "embedding", "label")
    val w = Window.partitionBy(col("label"))
      .orderBy(col("dist2_q").desc, col("vec_id"))
    d.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select("label", "rank", "vec_id", "dist2_q")
      .orderBy("label", "rank")
  }

  /** Hybrid-retrieval rank fusion: reciprocal-rank fusion of the
    * EXACT cosine top-10 (q25's ranker) with a SCALE-FREE INT8 top-10
    * (q50's quantization ranked by the exact integer dot product) —
    * the two-view retrieval a curation pipeline fuses before mining
    * (q99). Every RRF contribution is `1000000 div (60 + rank)` —
    * PURE INTEGER, so fusion has no float anywhere and the fused
    * ranking hash-matches by construction; items outside one
    * ranker's top-10 contribute only their present term (standard
    * RRF@k). Output also exposes both source ranks, so rank
    * disagreement (the int8 quantization error in RANK space, beside
    * q50's value-space max_err) is directly readable. */
  private[graft] def q119(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val ra = Ann.bruteForceTopK(e.filter(col("vec_id") % 50 === 0), e,
        "vec_id", "vec_id", "embedding", k = 10)
      .select(col("q_id"), col("c_id"),
        col("rank").cast("long").as("r_exact"))
    val qz = e
      .select(col("vec_id"),
        expr("CAST(embedding AS ARRAY<DOUBLE>)").as("__v"))
      .withColumn("__sc",
        expr("array_max(transform(__v, x -> abs(x)))"))
      .select(col("vec_id"),
        expr("transform(__v, x -> CAST(CASE WHEN __sc = 0 THEN 0 " +
          "ELSE round(x / __sc * 127) END AS INT))").as("qv"))
    val scored = qz.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("qv").as("qa"))
      .crossJoin(broadcast(qz.select(col("vec_id").as("c_id"),
        col("qv").as("qb"))))
      .withColumn("dotint",
        expr("aggregate(zip_with(qa, qb, (a, b) -> CAST(a AS BIGINT) * b), " +
          "0L, (s, x) -> s + x)"))
    val wb = Window.partitionBy(col("q_id"))
      .orderBy(col("dotint").desc, col("c_id"))
    val rb = scored.withColumn("r_int8", row_number().over(wb).cast("long"))
      .filter(col("r_int8") <= 10)
      .select("q_id", "c_id", "r_int8")
    val fused = ra.join(rb, Seq("q_id", "c_id"), "full_outer")
      .withColumn("rrf_micro",
        coalesce(expr("1000000 div (60 + r_exact)"), lit(0L))
          + coalesce(expr("1000000 div (60 + r_int8)"), lit(0L)))
    val wf = Window.partitionBy(col("q_id"))
      .orderBy(col("rrf_micro").desc, col("c_id"))
    fused.withColumn("rank", row_number().over(wf).cast("long"))
      .filter(col("rank") <= 5)
      .select("q_id", "rank", "c_id", "rrf_micro", "r_exact", "r_int8")
      .orderBy("q_id", "rank")
  }

  /** SemDeDup — semantic near-duplicate detection
    * ([[graft.operators.Cluster.semanticNearDupPairs]], k=8, 2
    * rounds, tau = 9/10): cluster the twinned embeddings with the
    * certified k-means, then exact-integer cosine tests ONLY within
    * a cell — the cluster step bounds the quadratic exactly the way
    * banding bounds MinHash, which is what makes embedding-space
    * dedup feasible at 100 TB (k scales with the corpus; cells stay
    * bounded; the hot-cell cap guards collapse). All 20 planted
    * twins surface; the keep side is the member closer to its
    * centroid. The whole chain — k-means trajectory, integer dots,
    * threshold, keep rule — hash-matches the DuckDB replay. */
  private[graft] def q121(s: SparkSession, dir: String): DataFrame =
    Cluster.semanticNearDupPairs(embeddingsWithTwins(s, dir),
        "vec_id", "embedding", k = 8, iterations = 2,
        tauNum = 9, tauDen = 10)
      .orderBy("id_a", "id_b")

  /** Corpus snapshot diff ([[graft.operators.Curation.snapshotDiff]]):
    * the re-crawl audit — adds, deletes, content changes, carries —
    * over a planted v2 snapshot (every 11th doc deleted, every 5th
    * revised, every 13th re-added under a new id). Content reduces
    * to (id, md5) BEFORE the full-outer join, so the text never
    * crosses the shuffle. */
  private[graft] def q125(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val oldSnap = docs.select(col("doc_id"), col("text"))
    val newSnap = docs
      .filter(col("doc_id") % 11 =!= 3)
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")).as("text"))
      .unionAll(docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(lit("new "), col("text")).as("text")))
    graft.operators.Curation.snapshotDiff(oldSnap, newSnap, "doc_id", "text")
      .orderBy("doc_id")
  }

  /** Asymmetric shingle containment ([[Dedup.containmentOnPairs]]):
    * each doc paired with a planted half-length PREFIX clone — the
    * near-inclusion shape (quote/subset) where containment on the
    * short side is ~1 while Jaccard collapses toward |B|/|A|. The
    * decontamination measure symmetric Jaccard misses. */
  private[graft] def q126(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").filter(col("doc_id") < 40)
      .select(col("doc_id"), col("text"))
    val words = split(col("text"), "\\s+")
    val half = base.select((col("doc_id") + 5000L).as("doc_id"),
      array_join(slice(words, lit(1),
        greatest(floor(size(words) / 2), lit(1)).cast("int")), " ").as("text"))
    val docs = base.unionByName(half)
    val pairs = base.select(col("doc_id").as("id_a"),
      (col("doc_id") + 5000L).as("id_b"))
    Dedup.containmentOnPairs(pairs, docs, "text", "doc_id", shingleSize = 3)
      .select("id_a", "id_b", "n_inter", "n_a", "n_b", "jaccard",
        "containment_a", "containment_b")
      .orderBy("id_a")
  }

  /** Quality-aware cluster canonicalization
    * ([[Dedup.clusterCanonicalByScore]]): q53's near-dup components
    * with the representative picked by MAX text length (ties → min
    * id) — keep the richest copy, not the smallest id. */
  private[graft] def q127(s: SparkSession, dir: String): DataFrame =
    Dedup.clusterCanonicalByScore(corpusWithBoilerplate(s, dir), "text",
        "doc_id", length(col("text")).cast("long"),
        shingleSize = 3, numHashes = 8, rowsPerBand = 2,
        jaccardThreshold = 0.8)
      .orderBy("doc_id")

  /** Matryoshka-truncation recall audit: exact top-10 by full-width
    * cosine vs top-10 by the first-16-dims truncation, per-query
    * overlap count — the evaluation a dimension-reduction rollout
    * ships before swapping the cheap prefilter in. Both rankings are
    * broadcast brute-force with the identical score expression, so
    * the oracle replays them bit-exactly. */
  private[graft] def q128(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val et = e.select(col("vec_id"),
      slice(col("embedding"), 1, 16).as("embedding"))
    val k = 10
    val full = Ann.bruteForceTopK(e.filter(col("vec_id") % 50 === 0), e,
      "vec_id", "vec_id", "embedding", k)
    val trunc = Ann.bruteForceTopK(et.filter(col("vec_id") % 50 === 0), et,
      "vec_id", "vec_id", "embedding", k)
    val ov = full.select(col("q_id"), col("c_id"))
      .join(trunc.select(col("q_id").as("t_q"), col("c_id").as("t_c")),
        col("q_id") === col("t_q") && col("c_id") === col("t_c"))
      .groupBy("q_id").agg(count(lit(1)).as("n_common"))
    full.select("q_id").distinct()
      .join(ov, Seq("q_id"), "left")
      .select(col("q_id"), lit(k.toLong).as("k"),
        coalesce(col("n_common"), lit(0L)).as("n_common"))
      .orderBy("q_id")
  }

  /** The retrieval-cascade capstone ([[Ann.retrievalCascade]]): the
    * certified tiers composed into the production read path —
    * matryoshka 32-dim prefix prefilter (q128's truncation) → int8
    * re-rank over dequantized q50 vectors → exact full-precision
    * top-5 rescore (q25's kernel), candidates contracting
    * corpus → 100 → 30 → 5 per query. `exact_rank` joins each answer
    * to its brute-force ground-truth position, so recall is measured
    * inside the hash-checked result (0.94 at sf0.01 — the loss is
    * entirely tier 1: these synthetic vectors are isotropic, so a
    * 32/64 prefix carries only half the variance; trained matryoshka
    * embeddings concentrate it, which is what makes the tier a
    * prefilter rather than a gamble). Every tier's arithmetic is
    * engine-exact (prefix slice, q50's round-quantize formula, shared
    * cosine kernel), so the WHOLE cascade replays in DuckDB. */
  private[graft] def q147(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    Ann.retrievalCascade(e.filter(col("vec_id") % 50 === 0), e,
        "vec_id", "vec_id", "embedding",
        prefixDim = 32, c1 = 100, c2 = 30, k = 5)
      .orderBy("q_id", "rank")
  }

  /** The corpus-scale cascade ([[Ann.retrievalCascadeIvf]]): the
    * same int8 → exact tail as q147, but candidates come from an IVF
    * cell probe over a DETERMINISTIC index — q110's integer-micro
    * k-means as the codebook, so the whole read path (index build →
    * probe → both re-rank tiers) replays bit-for-bit in the oracle;
    * q32's MLlib-codebook IVF can never be oracled. Per query, only
    * the nProbe/kCells slice of the corpus is read (the 100 TB read
    * shape: corpus persisted partitioned by cell), vs q147's tier-1
    * whole-corpus prefix scan. `exact_rank` again measures recall
    * inside the hash check. */
  private[graft] def q149(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    Ann.retrievalCascadeIvf(e.filter(col("vec_id") % 50 === 0), e,
        "vec_id", "vec_id", "embedding",
        kCells = 8, iterations = 3, nProbe = 3, c2 = 30, k = 5, salt = "ivc")
      .orderBy("q_id", "rank")
  }

  /** Winnowing-based near-dup pairs
    * ([[TextAnalysis.winnowNearDuplicates]]): fingerprint-keyed
    * self-join (no doc×doc), ubiquitous fingerprints (df > 5)
    * dropped first, pairs sharing ≥ 2 selected 20-char-gram
    * fingerprints. */
  private[graft] def q78(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.winnowNearDuplicates(t(s, dir, "documents"),
        "doc_id", "text", k = 20, w = 12, minShared = 2L, maxDocFreq = 5L)
      .orderBy("id_a", "id_b")

  /** Johnson-Lindenstrauss random projection ([[Ann.randomProject]]):
    * 64-d embeddings → 8 dims through seeded literal planes shared
    * verbatim with the oracle SQL — a pure codegen projection, no
    * shuffle, no fit. */
  private[graft] def q74(s: SparkSession, dir: String): DataFrame =
    Ann.randomProject(t(s, dir, "embeddings"), "vec_id", "embedding", projPlanes)
      .orderBy("vec_id")

  /** Benchmark decontamination ([[graft.operators.Decontaminate]]):
    * eval set = every 97th document, train = the rest; 3-gram
    * overlap, contaminated at >= 2 distinct leaked grams. Broadcast
    * eval-gram join, one train scan, per-doc map-side counts. */
  private[graft] def q58(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    graft.operators.Decontaminate.contaminationReport(
        d.filter(col("doc_id") % 97 =!= 0), d.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 3, minOverlap = 2)
      .orderBy("doc_id")
  }

  /** IVF approximate top-k: centroids = first 12 vectors (a
    * deterministic stand-in for a trained codebook), nProbe=3, k=5. */
  private[graft] def q32(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val centroids = e.filter(col("vec_id") < 12)
      .select(col("vec_id").as("cell"), col("embedding").as("cvec"))
    Ann.ivfTopK(
        e.filter(col("vec_id") % 100 === 0), e,
        centroids, "cell", "cvec",
        "vec_id", "vec_id", "embedding", nProbe = 3, k = 5)
      .withColumn("rank", col("rank").cast("long"))
      .orderBy("q_id", "rank")
  }

  /** Duplicate CLUSTERS: MinHash near-dup pairs → alternating
    * large-star/small-star connected components → one cluster label
    * per document (min id canonical). Near-dup pairs are not
    * transitive; the unit of corpus dedup is the component. The
    * planted 12-copy boilerplate cluster exercises a dense component;
    * the oracle recomputes the closure with a recursive CTE. */
  private[graft] def q53(s: SparkSession, dir: String): DataFrame =
    Dedup.duplicateClusters(corpusWithBoilerplate(s, dir), "text", "doc_id",
        shingleSize = 3, numHashes = 8, rowsPerBand = 2,
        jaccardThreshold = 0.8)
      .orderBy("doc_id")

  /** SimHash near-dup with the hot-bucket cap — the capped family's
    * third path through the shared Banding kernel, proven against its
    * own relational oracle on the boilerplate corpus (identical texts
    * collapse to ONE fingerprint, hot in every slice). */
  private[graft] def q51(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDuplicates(corpusWithBoilerplate(s, dir), "text", "doc_id",
        maxHamming = 8, maxBucketSize = Some(8))
      .orderBy("id_a", "id_b")

  /** Symmetric int8 embedding quantization (4× storage/bandwidth at
    * ≲1% cosine error — the standard ANN-candidate trade at 100 TB;
    * exact re-scoring reads floats for the top candidates only):
    * per-vector max-abs scale, quantized bytes (digested — the array
    * itself is the payload), and the max reconstruction error. */
  private[graft] def q50(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorOps
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("scale", VectorOps.quantScale(col("v")))
      .withColumn("q", VectorOps.quantizeInt8(col("v"), col("scale")))
    e.select(col("vec_id"), col("scale"),
        md5(array_join(transform(col("q"), _.cast("string")), ",")).as("q_md5"),
        array_max(zip_with(col("v"),
          VectorOps.dequantizeInt8(col("q"), col("scale")),
          (x, y) => abs(x - y))).as("max_err"))
      .orderBy("vec_id")
  }

  /** SimHash near-duplicate pairs: 15-bit slice blocking (pigeonhole
    * guarantee for small Hamming budgets) + exact Hamming verify. */
  private[graft] def q38(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDuplicates(t(s, dir, "documents"), "text", "doc_id",
        maxHamming = 8)
      .orderBy("id_a", "id_b")

  /** The flagship label-mapping report on the LIVE hashing embedder
    * (`main.py:171-221`), hash-proven end to end: the md5-kernel
    * [[graft.embed.Md5HashingEmbedder]] makes every stage — NLP clean,
    * clean-dedup tokenization, TF bucket counts, L2 normalize, cosine
    * top-k, exact-overwrite — DuckDB-replayable, so the driver oracle
    * checks the full live path (the murmur3 [[HashingEmbedder]] keeps
    * MLlib-HashingTF parity, pinned by EmbedderSpec). */
  private[graft] def qFlagship(s: SparkSession, dir: String): DataFrame = {
    val embedder = new graft.embed.Md5HashingEmbedder(dim = 64)
    val docs = t(s, dir, "documents")
    val raw = docs.select(col("source"),
        concat_ws(" ", slice(split(col("text"), " "), 1, 3)).as("raw_input_label"))
      .distinct()
      .withColumn("cleaned_input_label", GraftUdfs.cleanLabel(col("raw_input_label")))
    val queries = embedder.embed(raw, "cleaned_input_label", "qvec")

    val part = t(s, dir, "part").filter(col("p_partkey") <= 300)
      .select(col("p_partkey").cast("string").as("CT_ID"),
        col("p_name").as("CT_NAME"), col("p_brand").as("CT_LABEL"),
        col("p_type").as("definition"))
      .withColumn("all_text",
        coalesce(concat(col("CT_NAME"), lit(" "), col("CT_LABEL"), lit(" "),
          col("definition")), col("CT_NAME")))
    val ref = Matcher.prepareReference(
      embedder.embed(part, "all_text", "embedding"), "embedding", Seq("CT_ID"))
    Matcher.mapLabels(queries, ref, k = 2)
      .orderBy("source", "raw_input_label")
  }

  /** The flagship report with the TRAINED embedder: Word2Vec (MLlib)
    * fit on the reference corpus's all_text with a fixed seed, applied
    * to both sides through the same [[graft.embed.Embedder]] seam the
    * hashing and frozen variants use. Oracle-proven despite the
    * model in the loop: the fitted vocabulary matrix is quantized to
    * multiples of 2^-20 ([[graft.embed.QuantizedVocabEmbedder]]) —
    * making every token-sum exact and therefore order-free — then
    * FROZEN into a generated-VALUES DuckDB table
    * ([[q44VocabHolder]]), and the oracle replays tokenize → vocab
    * mean → normalize → cosine top-2 → pivot → exact-overwrite end
    * to end (the q41-43 generated-oracle pattern applied to the
    * trained model; training itself stays un-oracled — its output
    * does not). */
  private[graft] def q44(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val raw = docs.select(col("source"),
        concat_ws(" ", slice(split(col("text"), " "), 1, 3)).as("raw_input_label"))
      .distinct()
      .withColumn("cleaned_input_label", GraftUdfs.cleanLabel(col("raw_input_label")))
    val part = t(s, dir, "part").filter(col("p_partkey") <= 300)
      .select(col("p_partkey").cast("string").as("CT_ID"),
        col("p_name").as("CT_NAME"), col("p_brand").as("CT_LABEL"),
        col("p_type").as("definition"))
      .withColumn("all_text",
        coalesce(concat(col("CT_NAME"), lit(" "), col("CT_LABEL"), lit(" "),
          col("definition")), col("CT_NAME")))
    val w2v = graft.embed.Word2VecEmbedder.fit(part, "all_text", dim = 64)
    val embedder = graft.embed.QuantizedVocabEmbedder.fromWord2Vec(w2v, dim = 64)
    q44VocabHolder.set(embedder.vocab)
    val queries = embedder.embed(raw, "cleaned_input_label", "qvec")
    val ref = Matcher.prepareReference(
      embedder.embed(part, "all_text", "embedding"), "embedding", Seq("CT_ID"))
    Matcher.mapLabels(queries, ref, k = 2)
      .orderBy("source", "raw_input_label")
  }

  /** The flagship with the DISTRIBUTED-trained embedder
    * ([[graft.embed.CoocPowerEmbedder]]): exact integer co-occurrence
    * counts over the reference corpus diffused for 2 quantized
    * rounds — no single-partition SGD, no content-sort, no frozen
    * model state. Because the whole trajectory is order-free integer
    * arithmetic, the oracle RETRAINS the model inside DuckDB
    * (co-occurrence → ±micro md5 init → 2 unrolled update rounds →
    * vocab-mean apply → cosine top-2 → pivot → exact-overwrite) —
    * one step stronger than q44's frozen-VALUES replay: nothing is
    * exported, both engines fit from raw data and must agree on
    * every trained weight to hash-match. */
  private[graft] def q148(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val raw = docs.select(col("source"),
        concat_ws(" ", slice(split(col("text"), " "), 1, 3)).as("raw_input_label"))
      .distinct()
      .withColumn("cleaned_input_label", GraftUdfs.cleanLabel(col("raw_input_label")))
    val part = t(s, dir, "part").filter(col("p_partkey") <= 300)
      .select(col("p_partkey").cast("string").as("CT_ID"),
        col("p_name").as("CT_NAME"), col("p_brand").as("CT_LABEL"),
        col("p_type").as("definition"))
      .withColumn("all_text",
        coalesce(concat(col("CT_NAME"), lit(" "), col("CT_LABEL"), lit(" "),
          col("definition")), col("CT_NAME")))
    val embedder = graft.embed.CoocPowerEmbedder.fit(part, "CT_ID", "all_text",
      dim = 64, rounds = 2)
    val queries = embedder.embed(raw, "cleaned_input_label", "qvec")
    val ref = Matcher.prepareReference(
      embedder.embed(part, "all_text", "embedding"), "embedding", Seq("CT_ID"))
    Matcher.mapLabels(queries, ref, k = 2)
      .orderBy("source", "raw_input_label")
  }

  /** The flagship matcher (q24's fused cosine → top-k → rank pivot →
    * exact-overwrite projection, `main.py:171-221`) run with its two
    * non-SQL seams — embedder and label cleaner — swapped for
    * DuckDB-expressible substitutes (md5-derived frozen vectors;
    * `lower`). Same operator code end to end, so this converts the
    * headline query from spec-pinned to oracle-proven (rows + schema +
    * hash). 'planted' queries ARE reference CT_NAMEs, exercising the
    * exact-overwrite path (score 1.0, slots 2..k nulled) in the hash
    * check too. */
  private[graft] def q40(s: SparkSession, dir: String): DataFrame = {
    val part300 = t(s, dir, "part").filter(col("p_partkey") <= 300)
    val fromDocs = t(s, dir, "documents").select(col("source"),
      concat_ws(" ", slice(split(col("text"), " "), 1, 3)).as("raw_input_label"))
    val planted = part300.filter(col("p_partkey") % 50 === 0)
      .select(lit("planted").as("source"), col("p_name").as("raw_input_label"))
    val queries = fromDocs.union(planted).distinct()
      .withColumn("cleaned_input_label", lower(col("raw_input_label")))
      .withColumn("qvec", frozenVec(col("cleaned_input_label")))

    val ref0 = part300
      .select(col("p_partkey").cast("string").as("CT_ID"),
        col("p_name").as("CT_NAME"), col("p_brand").as("CT_LABEL"),
        col("p_type").as("definition"))
      .withColumn("all_text",
        concat(col("CT_NAME"), lit(" "), col("CT_LABEL"), lit(" "), col("definition")))
      .withColumn("embedding", frozenVec(col("all_text")))
    val ref = Matcher.prepareReference(ref0, "embedding", Seq("CT_ID"),
      cleaner = lower)
    Matcher.mapLabels(queries, ref, k = 2)
      .orderBy("source", "raw_input_label")
  }

  /** MMR diverse selection ([[Ann.mmrSelect]]): greedy k = 8 picks
    * maximizing 0.5·rel − 0.5·max-sim-to-picked against vec 0 as the
    * query — the diversity-aware subset selection of result
    * diversification and training-batch curation. Driver-paced
    * greedy (k rounds, one candidate scan each, picked vectors
    * broadcast); the oracle replays every greedy step's argmax with
    * the (score DESC, id) tie-break, so the full selection
    * trajectory — ids, relevance, max-sim, score — hash-matches. */
  private[graft] def q167(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorOps
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("q_vec"))
      .withColumn("q_nrm", VectorOps.l2Norm(col("q_vec")))
    val cand = e.filter(col("vec_id") % 10 === 0 && col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"))
      .withColumn("__nrm", VectorOps.l2Norm(col("embedding")))
      .crossJoin(broadcast(q))
      .withColumn("rel", VectorOps.cosineWithNorms(
        col("embedding"), col("__nrm"), col("q_vec"), col("q_nrm")))
      .select(col("vec_id"), col("embedding"), col("rel"))
    Ann.mmrSelect(cand, "vec_id", "embedding", "rel", k = 8, lambda = 0.5)
      .orderBy("rank")
  }

  /** Sorted-neighborhood near-dup pairs
    * ([[graft.operators.Dedup.sortedNeighborPairs]]) — the third
    * candidate-generation family beside banded MinHash (q28) and
    * prefix filtering (q111): sort on a 24-char normalized prefix
    * key, compare only within a 4-position window, verify survivors
    * with the exact shingle Jaccard at tau >= 1/2. Candidate volume
    * is exactly n·w rows (no hot buckets, no shingle explode on the
    * candidate path); recall is bounded by the window — the
    * merge/purge cheap-first pass of a 100 TB dedup cascade. */
  private[graft] def q170(s: SparkSession, dir: String): DataFrame =
    Dedup.sortedNeighborPairs(t(s, dir, "documents"), "text", "doc_id",
        windowSize = 4, keyLen = 24, shingleSize = 3,
        tauNum = 1, tauDen = 2)
      .orderBy("id_a", "id_b")

  /** nDCG@10 of the matryoshka 16-dim prefix retrieval against the
    * exact full-width ranking — the POSITION-AWARE upgrade of q128's
    * set-overlap recall: graded relevance rel = 11 − exact_rank for
    * the exact top-10, gain discounted by WHERE the cheap tier
    * places each hit. The metric a retrieval rollout actually gates
    * on (a prefilter that finds all 10 but inverts their order
    * scores 10/10 recall yet measurably lower nDCG here).
    *
    * Cross-engine exactness: per-position relevance lands in 10
    * integer columns via one conditional aggregate; DCG is then ONE
    * fixed left-assoc tree over the 1/log₂(pos+1) weights embedded
    * as identical shortest-roundtrip double literals in both
    * engines (the q202 Benford discipline), and IDCG is a single
    * JVM-computed literal (every query has exactly 10 graded docs).
    * Scale shape = q128's: both rankings are broadcast brute-force
    * over the catalog-sized corpus; the nDCG reduction is one
    * grouped aggregate on q_id. */
  private[graft] def q211(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val et = e.select(col("vec_id"),
      slice(col("embedding"), 1, 16).as("embedding"))
    val k = 10
    val full = Ann.bruteForceTopK(e.filter(col("vec_id") % 50 === 0), e,
      "vec_id", "vec_id", "embedding", k)
    val trunc = Ann.bruteForceTopK(et.filter(col("vec_id") % 50 === 0), et,
      "vec_id", "vec_id", "embedding", k)
    val rel = full.select(col("q_id"), col("c_id"),
      (lit(k + 1) - col("rank")).cast("long").as("rel"))
    val hits = trunc.select(col("q_id"), col("rank").as("pos"), col("c_id"))
      .join(rel, Seq("q_id", "c_id"), "left")
      .select(col("q_id"), col("pos"),
        coalesce(col("rel"), lit(0L)).as("rel"))
    val posAggs = sum(col("rel")).as("rel_mass") +: (1 to k).map(p =>
      sum(when(col("pos") === p, col("rel")).otherwise(0L)).as(s"r$p"))
    val perQ = hits.groupBy(col("q_id")).agg(posAggs.head, posAggs.tail: _*)
    val w = (1 to k).map(p => 1.0 / (math.log(p + 1.0) / math.log(2.0)))
    val idcg = (1 to k).map(p => (k + 1 - p).toDouble * w(p - 1))
      .reduceLeft(_ + _)
    val dcg = (1 to k).map(p => col(s"r$p").cast("double") * lit(w(p - 1)))
      .reduceLeft(_ + _)
    perQ.select(col("q_id"), col("rel_mass"),
        round(lit(1000000.0) * dcg / lit(idcg)).cast("long")
          .as("ndcg_micro"))
      .orderBy("q_id")
  }

  /** MRR@10 of the matryoshka prefix retrieval — the first-hit
    * metric beside q211's graded nDCG and q128's set recall: gold =
    * each query's exact full-width nearest NON-SELF neighbor, score
    * = 1/position of the gold in the truncated-prefix top-10 (0 on
    * a miss). Pure integer division (10⁶ div pos) — no logs, no
    * doubles — and self-matches are excluded in BOTH rankings so
    * the metric measures retrieval, not identity lookup. Shape =
    * two broadcast brute-force scans (q128's). */
  private[graft] def q215(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val et = e.select(col("vec_id"),
      slice(col("embedding"), 1, 16).as("embedding"))
    val gold = Ann.bruteForceTopK(e.filter(col("vec_id") % 50 === 0), e,
        "vec_id", "vec_id", "embedding", 1, excludeSelf = true)
      .select(col("q_id"), col("c_id").as("gold_id"))
    val trunc = Ann.bruteForceTopK(et.filter(col("vec_id") % 50 === 0), et,
        "vec_id", "vec_id", "embedding", 10, excludeSelf = true)
      .select(col("q_id"), col("rank").cast("long").as("pos"),
        col("c_id").as("gold_id"))
    gold.join(trunc, Seq("q_id", "gold_id"), "left")
      .select(col("q_id"), col("gold_id"), col("pos"),
        coalesce(expr("1000000 div pos"), lit(0L)).as("rr_micro"))
      .orderBy("q_id")
  }

  /** PRODUCT-QUANTIZATION ADC top-k ([[Ann.pqTrainEncode]] →
    * [[Ann.pqAdcTopK]]): the 64-d embeddings split into 8×8-d
    * subspaces, each with its own deterministic micro-kmeans
    * codebook (k=8, 2 iterations), corpus encoded to 8 codes per
    * vector, queries (every 50th vector) scored by summed
    * lookup-table distances — the FAISS-style compression tier of
    * the ANN family, with brute-force exact ranks carried INSIDE the
    * hashed result (the q147/q149 measured-recall discipline). The
    * oracle RETRAINS all eight codebooks in DuckDB and replays the
    * encode, the distance table, and both rankings. */
  private[graft] def q256(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    // memoized fitted codes/codebooks (the q265 index-build posture):
    // the 8 codebook trainings run once per application, not per pass
    val (codes, books) = Ann.pqTrainEncodeMemo(s, dir,
      m = 8, subDim = 8, k = 8, iterations = 2, salt = "pq")
    Ann.pqAdcTopK(codes, books, e.filter(col("vec_id") % 50 === 0), e,
        "vec_id", "embedding", m = 8, subDim = 8, topK = 5)
      .orderBy("q_id", "rank")
  }

  /** IVF-PQ ([[Ann.ivfPqTopK]]): the production ANN composition —
    * a retrained 8-cell coarse quantizer fronts the q256 PQ code
    * scan, each query probing its 3 nearest cells, ADC restricted to
    * the candidates (scan cost ~nProbe/kCells of q256's, m bytes per
    * candidate). Exact ranks inside the hashed result price the
    * probe's recall per query. The oracle retrains BOTH tiers —
    * coarse quantizer and all eight codebooks — and replays probe,
    * candidate set, lookup table, and both rankings. */
  private[graft] def q257(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    // memoized fitted board (the q265/q273 residual-index posture on
    // the raw tier): coarse + 8 codebooks train once per application
    val idx = Ann.rawPqIndexMemo(s, dir, kCells = 8,
      coarseIterations = 2, m = 8, subDim = 8, kCodes = 8,
      pqIterations = 2)
    Ann.ivfPqRawSearch(idx, e.filter(col("vec_id") % 50 === 0), e,
        "vec_id", "embedding", nProbe = 3, m = 8, subDim = 8, topK = 5)
      .orderBy("q_id", "rank")
  }

  /** RESIDUAL IVF-PQ ([[Ann.ivfPqResidualTopK]]): q257's composition
    * with the standard FAISS residual encoding — codebooks trained on
    * `v − c_cell` (exact integer-micro differences), the ADC table
    * per (query, probed cell) with the query's own residual. Same
    * coarse quantizer (same salt) and same (kCells, nProbe, m,
    * kCodes, topK) as q257, so the two boards price raw-vs-residual
    * recall head-to-head. The oracle retrains coarse AND all eight
    * residual codebooks. */
  private[graft] def q265(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    // memoized: q273 (re-rank tail) searches the SAME fitted index,
    // so the coarse + residual-codebook training runs once per board
    val idx = Ann.residualPqIndexMemo(s, dir, kCells = 8,
      coarseIterations = 2, m = 8, subDim = 8, kCodes = 8,
      pqIterations = 2)
    Ann.ivfPqResidualSearch(idx, e.filter(col("vec_id") % 50 === 0), e,
        "vec_id", "embedding", nProbe = 3, m = 8, subDim = 8, topK = 5)
      .orderBy("q_id", "rank")
  }

  /** RESIDUAL IVF-PQ + EXACT RE-RANK ([[Ann.ivfPqResidualRerankTopK]]):
    * the full production cascade — ADC proposes its top-20 per query,
    * the exact integer-micro distance over the FULL vectors re-ranks,
    * the top-5 ship. `adc_rank` and the global `exact_rank` ride in
    * the result, so the compression loss and the re-rank's repair are
    * both priced per query. Same tiers and salts as q265 — the two
    * boards differ exactly by the refine stage. */
  private[graft] def q273(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    Ann.ivfPqResidualRerankTopK(e.filter(col("vec_id") % 50 === 0), e,
        "vec_id", "embedding", kCells = 8, coarseIterations = 2, nProbe = 3,
        m = 8, subDim = 8, kCodes = 8, pqIterations = 2,
        candK = 20, topK = 5,
        index = Some(Ann.residualPqIndexMemo(s, dir, kCells = 8,
          coarseIterations = 2, m = 8, subDim = 8, kCodes = 8,
          pqIterations = 2)))
      .orderBy("q_id", "rank")
  }

  /** PQ PRESET RECALL AUDIT — the q133/q139/q141 measured-preset
    * discipline applied to the PQ tier: raw ([[Ann.ivfPqTopK]]) vs
    * residual ([[Ann.ivfPqResidualTopK]]) encoding at two
    * (kCodes, nProbe) operating points, each run's measured recall@5
    * (exact_rank hits from the in-result ground truth) as ONE row —
    * the table a 100 TB rollout reads to pick compression with data
    * instead of folklore. Audit footprint is deliberately thinned
    * (query set vec_id % 100, codebooks at pqIterations = 1): the
    * audit reprices FOUR full train+scan boards and the presets are
    * the product, not the per-query rows. The oracle re-runs all four
    * boards — every codebook retrained per preset — and re-counts. */
  private[graft] def q266(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val qset = e.filter(col("vec_id") % 100 === 0)
    def audit(variant: String, kCodes: Int, nProbe: Int): DataFrame = {
      // each of the four boards' trainings memoized per (params) —
      // the q265 index-build posture; the scans/recall still run here
      val run =
        if (variant == "raw")
          Ann.ivfPqRawSearch(
            Ann.rawPqIndexMemo(s, dir, kCells = 8, coarseIterations = 2,
              m = 8, subDim = 8, kCodes = kCodes, pqIterations = 1),
            qset, e, "vec_id", "embedding", nProbe = nProbe, m = 8,
            subDim = 8, topK = 5)
        else
          Ann.ivfPqResidualSearch(
            Ann.residualPqIndexMemo(s, dir, kCells = 8,
              coarseIterations = 2, m = 8, subDim = 8, kCodes = kCodes,
              pqIterations = 1),
            qset, e, "vec_id", "embedding", nProbe = nProbe, m = 8,
            subDim = 8, topK = 5)
      run.agg(count(lit(1)).as("n_rows"),
          sum(when(col("exact_rank") > 0, 1L).otherwise(0L)).as("n_hits"))
        .select(lit(variant).as("variant"), lit(8).as("m"),
          lit(kCodes).as("k_codes"), lit(nProbe).as("n_probe"),
          col("n_rows"), col("n_hits"),
          expr("(n_hits * 1000000) div n_rows").as("recall_micros"))
    }
    audit("raw", 8, 3)
      .unionByName(audit("residual", 8, 3))
      .unionByName(audit("raw", 16, 5))
      .unionByName(audit("residual", 16, 5))
      .orderBy("variant", "k_codes", "n_probe")
  }

  /** OPQ-LITE PERMUTATION AUDIT ([[Ann.opqPermutation]]): the
    * variance-balancing coordinate permutation priced head-to-head
    * against raw contiguous slicing — same IVF-PQ board (q266's cheap
    * operating point), same query set, measured recall@5 in-result.
    * Exact L2 is permutation-invariant, so both variants share the
    * identical ground truth and the recall delta isolates the
    * subspace assignment. The oracle recomputes the variance keys
    * (HUGEINT), replays the argsort round-robin permutation, rebuilds
    * the permuted corpus, and retrains both full boards. */
  private[graft] def q278(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    // both fitted boards memoized: the raw baseline SHARES q266's
    // (kCodes=8, pqIterations=1) board; the permuted board (and its
    // permutation) trains once per application
    val opq = Ann.opqPqIndexMemo(s, dir, kCells = 8,
      coarseIterations = 2, m = 8, subDim = 8, kCodes = 8,
      pqIterations = 1)
    val pe = e.select(col("vec_id"),
      Ann.permuteVec(col("embedding"), opq.perm).as("embedding"))
    def audit(variant: String, index: Ann.ResidualPqIndex,
        corpus: DataFrame): DataFrame =
      Ann.ivfPqRawSearch(index,
          corpus.filter(col("vec_id") % 100 === 0), corpus,
          "vec_id", "embedding", nProbe = 3, m = 8, subDim = 8,
          topK = 5)
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("exact_rank") > 0, 1L).otherwise(0L)).as("n_hits"))
        .select(lit(variant).as("variant"), lit(8).as("m"),
          lit(8).as("k_codes"), lit(3).as("n_probe"),
          col("n_rows"), col("n_hits"),
          expr("(n_hits * 1000000) div n_rows").as("recall_micros"))
    audit("raw",
        Ann.rawPqIndexMemo(s, dir, kCells = 8, coarseIterations = 2,
          m = 8, subDim = 8, kCodes = 8, pqIterations = 1), e)
      .unionByName(audit("opq_permuted", opq.index, pe))
      .orderBy("variant")
  }

  /** GRAPH-BASED ANN — NN-descent neighbor graph + greedy beam search
    * ([[Ann.nnDescentGraph]] / [[Ann.graphBeamTopK]]): the production
    * index family beside IVF-PQ, built as bounded relational rounds
    * (banded hash-random init, 2 NN-descent refinements at degree 16)
    * and searched with a FIXED 4-hop beam-16 walk from the lowest-id
    * entry point — every step exact integer arithmetic with pinned
    * tie-breaks, so the oracle retrains the whole graph round by
    * round AND replays every hop of every query's walk (the q267
    * unrolled-chain discipline). Same query set and in-result
    * exact_rank as q265/q273, so graph-vs-IVF-PQ recall is read
    * directly off the board (R15HnswProbe: 0.915+ vs 0.365). */
  private[graft] def q280(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    // memoized: the streaming serve gate (q284) walks the SAME frozen
    // index, so the build runs once per application
    val g = Ann.nnDescentGraphMemo(s, dir, degree = 16, rounds = 2,
      salt = "nnd")
    Ann.graphBeamTopK(g, e.filter(col("vec_id") % 50 === 0), e,
        "vec_id", "embedding", beam = 16, hops = 4, topK = 5)
      .orderBy("q_id", "rank")
  }

  /** ATTRIBUTE-CONSTRAINED (filtered) vector search
    * ([[Ann.attributeTopK]]): q25's query set, but each query ranks
    * only corpus vectors sharing its `label` — metadata-scoped
    * retrieval done as PRE-filtering (an equi-join on the label), so
    * the answer is exactly filter-then-rank; post-filtering an
    * unconstrained top-k list would lose recall at ~10% selectivity.
    * The pairing shuffle is keyed by label instead of a cross join —
    * |C|/|labels| candidates per query, co-located when the corpus
    * is bucketed by the attribute. The oracle states the same
    * equi-join + rank directly. */
  private[graft] def q293(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), col("label"))
    Ann.attributeTopK(e.filter(col("vec_id") % 50 === 0), e,
        "vec_id", "vec_id", "embedding", Seq("label"), k = 5,
        excludeSelf = true)
      .withColumn("rank", col("rank").cast("long"))
      .orderBy("q_id", "rank")
  }

  /** MARGIN-based bitext mining ([[Bitext.marginMine]]): the
    * LASER/CCMatrix ratio-margin criterion over two halves of the
    * embedding table standing in for two language spaces — candidate
    * cosines micro-quantized once, k-NN penalties as integer sums,
    * margin as one guarded integer div, mutual best-by-margin in both
    * directions. One row per mutual pair with the 1.06 operating
    * point flagged in `mined`. The oracle replays both directed
    * top-4 scans, both penalty sums, and the margin arithmetic. */
  private[graft] def q298(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    Bitext.marginMine(
        e.filter(col("vec_id") % 2 === 0),
        e.filter(col("vec_id") % 2 === 1),
        "vec_id", "embedding", k = 4)
      .orderBy("x_id")
  }

  /** MAUVE-lite corpus-divergence frontier
    * ([[Cluster.kmeansMicro]] → [[Cluster.divergenceFrontier]]): the
    * two label halves of the embedding table compared through the
    * quantized-KL mixture frontier over a shared deterministic
    * k-means assignment (k=8, 2 rounds) — one row per λ = j/8 with
    * KL(P‖R_λ)/KL(Q‖R_λ) in nanos, the generative-eval family's
    * corpus-level distance beside q118's drift and q226's
    * burstiness. The oracle RETRAINS the same k-means rounds (the
    * q110 CTE chain) and replays the histogram + frontier
    * arithmetic. */
  private[graft] def q299(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val asg = Cluster.kmeansMicro(e, "vec_id", "embedding", k = 8,
      iterations = 2, salt = "mauve")
    val flagged = asg.join(
      e.select(col("vec_id"), (col("label") < 5).as("is_p")), "vec_id")
    Cluster.divergenceFrontier(flagged, "cell", "is_p", grid = 8)
      .orderBy("lambda_num")
  }

  /** Late-interaction (ColBERT-style MaxSim) retrieval
    * ([[graft.operators.LateInteraction.maxSimTopK]]): every query
    * token independently finds its best-matching corpus token by
    * cosine over hashed char-trigram TF vectors (the md5 bucket
    * kernel), and the doc score is the exact integer sum of
    * micro-quantized per-token maxima. Candidates meet through the
    * gram-bucket equi-join — the inverted index — never a cross
    * join. Every 100th doc queries the every-5th-doc corpus, top-3.
    * The oracle replays tokenization, gram hashing, the bucket-join
    * dot products, and both aggregation levels. */
  private[graft] def q304(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    graft.operators.LateInteraction.maxSimTopK(
        d.filter(col("doc_id") % 100 === 0),
        d.filter(col("doc_id") % 5 === 0),
        "doc_id", "doc_id", "text", maxTokens = 8, dim = 64, k = 3)
      .orderBy("q_id", "rank")
  }

  /** BINARY-quantized ANN with exact rerank
    * ([[Ann.hammingRerankTopK]]): 32 sign bits per vector, per-query
    * shortlist of 20 by Hamming distance (one `bit_count(xor)` per
    * pair — codes, not vectors, ride the broadcast), exact-cosine
    * rerank to top-5. The cheapest tier of the quantization family
    * beside PQ/ADC (q256) and residual IVF-PQ (q265); same query set
    * as q25 so binary-tier recall reads directly off the board. The
    * oracle inlines the same plane literals and replays code,
    * shortlist, and rerank. */
  private[graft] def q301(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    Ann.hammingRerankTopK(e.filter(col("vec_id") % 50 === 0), e,
        "vec_id", "vec_id", "embedding", hammingPlanes,
        shortlist = 20, k = 5)
      .orderBy("q_id", "rank")
  }

}
