package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.embed.HashingEmbedder
import graft.functions.GraftUdfs
import graft.operators.{Analyze, Ann, Bpe, Cluster, Dedup, Graph, Matcher, Multimodal, Scrub, Sketch, TextAnalysis, UrlOps}
import graft.streaming.StreamOps

/** Corpus-curation and analytics queries: splits, mixtures, quotas, sharding, PII scrub, URL rollups, projection/Venn analyzers, the curation capstones. */
private[graft] trait EntryCurationQueries { this: SparkEntry.type =>

  /** PCA contract certification ([[Analyze.pcaCertify2d]]) — the
    * oracle-side proof for q35's eigendecomposition-in-the-loop
    * projection: per-row norm contraction + global orthonormality /
    * eigenvalue order / canonical sign / subspace-optimality flags,
    * all stated TRUE by the DuckDB oracle (q63's self-certification
    * pattern). */
  private[graft] def q82(s: SparkSession, dir: String): DataFrame =
    Analyze.pcaCertify2d(t(s, dir, "embeddings"), "embedding", Seq("vec_id"))
      .orderBy("vec_id")

  /** PII / secret scrubbing as a corpus pass ([[Scrub.scrubPii]]):
    * per-category counts on the raw text + sequential redaction, all
    * dialect-shared regex — counts and redacted text both inside the
    * hash. */
  private[graft] def q84(s: SparkSession, dir: String): DataFrame = {
    val planted = element_at(array(piiPlants.map(lit): _*),
      (col("doc_id") % 7 + 1).cast("int"))
    Scrub.scrubPii(
        t(s, dir, "documents")
          .select(col("doc_id"), concat(col("text"), planted).as("text")),
        "text")
      .select(col("doc_id") +:
        Scrub.piiPatterns.map { case (c, _, _) => col(s"n_$c") } :+
        col("scrubbed"): _*)
      .orderBy("doc_id")
  }

  /** URL canonicalization + per-domain dedup rollup
    * ([[UrlOps.urlDedupRollup]]): synthetic crawl URLs with tracking
    * noise (query strings, fragments, WWW/case variants, trailing
    * slash — doc_id mods pick the variant) collapse to one canonical
    * form; the rollup reports URLs kept and rows removed per
    * domain. */
  private[graft] def q85(s: SparkSession, dir: String): DataFrame = {
    val url = concat(
      element_at(array(lit("https://"), lit("HTTPS://WWW.")),
        (col("doc_id") % 2 + 1).cast("int")),
      col("source"), lit(".Example.COM/p/"),
      (col("doc_id") % 37).cast("string"),
      element_at(
        array(lit(""), lit("/"), lit("?utm_source=feed&id=9"), lit("#section-2")),
        (col("doc_id") % 4 + 1).cast("int")))
    UrlOps.urlDedupRollup(
        t(s, dir, "documents").select(col("doc_id"), url.as("url")),
        "url", "doc_id")
      .orderBy("domain")
  }

  /** Deterministic training-order shuffle + sharding
    * ([[Curation.shardAndOrder]]): salted-hash shard assignment and
    * within-shard hash order, reproducible byte-for-byte — the stage
    * that hands a curated corpus to the trainer. */
  private[graft] def q87(s: SparkSession, dir: String): DataFrame =
    graft.operators.Curation.shardAndOrder(
        t(s, dir, "documents").select(col("doc_id"), col("source")),
        "doc_id", nShards = 16)
      .select(col("doc_id"), col("source"), col("shard"), col("pos"))
      .orderBy("doc_id")

  private[graft] def q90(s: SparkSession, dir: String): DataFrame = {
    val url = syntheticUrl
    t(s, dir, "documents").select(col("doc_id"), url.as("url"))
      .select(col("doc_id"), col("url"),
        UrlOps.domainOf(col("url")).as("host"),
        UrlOps.registrableDomain(col("url")).as("registrable"))
      .orderBy("doc_id")
  }

  /** Z-order clustering key ([[Layout.zOrderKey]]): Morton
    * interleave of (user_id, value-milli) masked to 16 bits — the
    * write-side layout coordinate that makes parquet min/max stats
    * prune on both columns; the key arithmetic is hash-checked, the
    * layout win is pinned by LayoutSpec's rectangle-span test. */
  private[graft] def q91(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_id"), col("user_id"),
        round(col("value") * 1000).cast("long").as("value_milli"))
      .withColumn("z",
        graft.operators.Layout.zOrderKey(col("user_id"), col("value_milli")))
      .orderBy("event_id")

  /** Distributed global ordinals ([[Layout.globalOrdinals]]): 1-based
    * ranks by a total key via range repartition + per-partition
    * offset attach — no single-partition window sort anywhere in the
    * plan. The oracle is the window form (`row_number() OVER (ORDER
    * BY ...)`): same semantics, scale-opposite plan. */
  private[graft] def q92(s: SparkSession, dir: String): DataFrame =
    graft.operators.Layout.globalOrdinals(
        t(s, dir, "documents").select(col("doc_id"), col("source")),
        Seq("source", "doc_id"))
      .orderBy("doc_id")

  /** Curation pipeline v4 — the TRAINED-gate composition: fit the
    * q154 classifier on the corpus, gate with its z ≥ 0 decision
    * (pure projection after a parameter-sized fit), then exact
    * first-wins dedup, deterministic split, and 512-token sequence
    * packing per split shard. Every stage proven individually
    * (q154/q155, q15/q49's dedup form, q48, q52); ONE oracle —
    * which RETRAINS the model — proves the composition, closing the
    * loop from "train a quality model" to "pack the gated corpus
    * for pretraining". */
  private[graft] def q159(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.LinearModel
    val docs = t(s, dir, "documents")
    val weights = LinearModel.qualityCorpusTrajectory(s, dir,
      lr = 4.0, iterations = 8).last.weights
    val gated = LinearModel.scoreLinear(
        LinearModel.qualityTrainingFrame(docs, keepCols = Seq("text")),
        LinearModel.qualityFeatureCols, weights)
      .filter(col("pred") === 1L)
      .select(col("doc_id"), col("text"))
    val w = Window.partitionBy(col("__h")).orderBy(col("doc_id"))
    val deduped = gated.withColumn("__h", md5(col("text")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
    val withTok = deduped.select(col("doc_id"),
      size(split(col("text"), "\\s+")).cast("long").as("ws_tokens"))
    val withSplit = graft.operators.Curation.deterministicSplit(
      withTok, "doc_id", Seq("train" -> 90, "valid" -> 5, "test" -> 5))
    graft.operators.Curation.packSequences(withSplit, "doc_id", "ws_tokens",
        budget = 512, partCols = Seq("split"))
      .select("doc_id", "split", "ws_tokens", "pack_id", "pack_offset")
      .orderBy("doc_id")
  }

  /** ORC interchange fidelity ([[graft.sources.Sinks.orc]] /
    * [[graft.sources.Sinks.readOrc]]): the documents table written
    * to ORC and read back THROUGH the engine, emitting every row's
    * typed columns plus a content digest — while the oracle reads
    * the original parquet. A hash match proves the ORC writer/reader
    * pair is lossless for the corpus schema (int64 / utf8), the same
    * certification the parquet path gets implicitly from every other
    * query. Layout knobs (partitioning, z-order) compose upstream;
    * pushdown on the ORC scan is pinned by SinksSpec. */
  private[graft] def q156(s: SparkSession, dir: String): DataFrame = {
    val work = WorkDirs.create("graft_orc_run_")
    graft.sources.Sinks.orc(t(s, dir, "documents"), s"$work/documents_orc")
    graft.sources.Sinks.readOrc(s, s"$work/documents_orc")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        md5(col("text")).as("text_md5"))
      .orderBy("doc_id")
  }

  /** Schema-evolution read fidelity: two crawl waves land in ONE
    * parquet table with DIFFERENT schemas (wave B adds `lang` —
    * the additive-column evolution every long-lived corpus table
    * goes through), read back with `mergeSchema` so wave-A rows
    * surface the new column as null. The oracle restates the
    * per-wave schema as a CASE on doc_id — a hash match proves the
    * merged read loses nothing and invents nothing. */
  private[graft] def q168(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val work = WorkDirs.create("graft_evo_run_")
    docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("text"))
      .write.mode("overwrite").parquet(s"$work/tbl")
    docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("text"), col("lang"))
      .write.mode("append").parquet(s"$work/tbl")
    s.read.option("mergeSchema", "true").parquet(s"$work/tbl")
      .select(col("doc_id"), md5(col("text")).as("text_md5"),
        col("lang"), col("lang").isNotNull.as("has_lang"))
      .orderBy("doc_id")
  }

  /** Round-8 end-to-end capstone, the q73 pattern over the NEW
    * stages: PII scrub → canonical-URL first-wins dedup → character-
    * entropy quality gate (exact integer predicate) → token-window
    * chunking → deterministic shard ordering. Every stage proven
    * individually (q84/q85/q94/q88/q87); ONE oracle proves the
    * composition. (Corpus-scale note: the url-deduped frame feeds the
    * entropy aggregate AND the gate join — an unmaterialized lineage
    * replans the upstream scan per consumer; persist it, like q86's
    * tokenCounts seam, when running this off-harness at scale.) */
  private[graft] def q98(s: SparkSession, dir: String): DataFrame = {
    val planted = element_at(array(piiPlants.map(lit): _*),
      (col("doc_id") % 7 + 1).cast("int"))
    val url = concat(
      element_at(array(lit("https://"), lit("HTTPS://WWW.")),
        (col("doc_id") % 2 + 1).cast("int")),
      col("source"), lit(".Example.COM/p/"),
      (col("doc_id") % 37).cast("string"),
      element_at(
        array(lit(""), lit("/"), lit("?utm_source=feed&id=9"), lit("#section-2")),
        (col("doc_id") % 4 + 1).cast("int")))
    val base = t(s, dir, "documents")
      .select(col("doc_id"), concat(col("text"), planted).as("text"),
        url.as("url"))
    val scrubbed = Scrub.scrubPii(base, "text")
      .select(col("doc_id"), col("url"), col("scrubbed"))
    val w = Window.partitionBy(col("__curl")).orderBy(col("doc_id"))
    val urlDeduped = scrubbed
      .withColumn("__curl", UrlOps.canonicalizeUrl(col("url")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("doc_id"), col("scrubbed"))
    val ent = TextAnalysis.charEntropy(urlDeduped, "doc_id", "scrubbed")
    val gated = urlDeduped.join(ent, "doc_id")
      .filter(col("n_chars") >= 100 &&
        col("entropy_micros") >= lit(2800000L) * col("n_chars"))
      .select(col("doc_id"), col("scrubbed"))
    val chunks = TextAnalysis.chunkTokens(gated, "doc_id", "scrubbed",
      chunkSize = 32, overlap = 8)
    graft.operators.Curation.shardAndOrder(
        chunks.select(
          (col("doc_id") * 1000 + col("chunk_id")).as("chunk_uid"),
          col("doc_id"), col("chunk_id"), col("n_tok")),
        "chunk_uid", nShards = 16)
      .select(col("chunk_uid"), col("doc_id"), col("chunk_id"),
        col("n_tok"), col("shard"), col("pos"))
      .orderBy("chunk_uid")
  }

  /** Weighted PageRank over the co-purchase graph ([[Graph.pageRank]]):
    * consecutive lineitems of an order define part→part edges, 5
    * damped iterations over micro-quantized ranks. The oracle unrolls
    * the identical 5 iterations as CTEs — integer re-quantization per
    * edge makes every iteration's sums order-independent, so the hash
    * certifies the whole fixpoint trajectory, not just row counts. */
  private[graft] def q107(s: SparkSession, dir: String): DataFrame = {
    // (l_orderkey, l_linenumber) alone is NOT unique in the harness
    // data — the part/supp tiebreak makes the lead() order total
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
    val edges = t(s, dir, "lineitem")
      .select(col("l_partkey").as("src"),
        lead(col("l_partkey"), 1).over(w).as("dst"))
      .filter(col("dst").isNotNull)
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
    Graph.pageRank(edges, "src", "dst", "w", iterations = 5)
      .orderBy("node")
  }

  /** Personalized PageRank ([[Graph.personalizedPageRank]]) over
    * q107's co-purchase graph, restarting at the Brand#4 parts — the
    * seed-conditioned "what do THESE products' buyers touch" ranking
    * (4 rounds, the oracle unrolls the identical trajectory with the
    * seed-gated restart term). */
  private[graft] def q219(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
    val edges = t(s, dir, "lineitem")
      .select(col("l_partkey").as("src"),
        lead(col("l_partkey"), 1).over(w).as("dst"))
      .filter(col("dst").isNotNull)
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
    val seeds = t(s, dir, "part")
      .filter(col("p_brand") === "Brand#4")
      .select(col("p_partkey"))
    Graph.personalizedPageRank(edges, "src", "dst", "w",
        seeds, "p_partkey", iterations = 4)
      .orderBy("node")
  }

  /** Multi-source BFS distances ([[Graph.bfsDistances]], 4 hops)
    * over the undirected q107 co-purchase graph from the
    * `p_partkey % 500 = 0` seed set — frontier-only expansion, one
    * src-keyed join + one anti-join per hop; the oracle unrolls the
    * same four frontier rounds. */
  private[graft] def q190(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
    val adj = t(s, dir, "lineitem")
      .select(col("l_partkey").as("src"),
        lead(col("l_partkey"), 1).over(w).as("dst"))
      .filter(col("dst").isNotNull && col("src") =!= col("dst"))
    val und = adj.unionByName(
      adj.select(col("dst").as("src"), col("src").as("dst")))
    val seeds = t(s, dir, "part")
      .filter(pmod(col("p_partkey"), lit(500)) === 0)
      .select(col("p_partkey"))
    Graph.bfsDistances(und, "src", "dst", seeds, "p_partkey", rounds = 4)
      .orderBy("node")
  }

  /** HITS hubs/authorities ([[Graph.hits]], 3 rounds) over the q107
    * co-purchase graph as a simple directed graph — the second
    * link-analysis member: L∞-normalized integer-micro scores whose
    * full trajectory the oracle unrolls round by round, so hub AND
    * authority values hash-match, not just rankings. */
  private[graft] def q174(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
    val edges = t(s, dir, "lineitem")
      .select(col("l_partkey").as("src"),
        lead(col("l_partkey"), 1).over(w).as("dst"))
      .filter(col("dst").isNotNull)
    // hits runs its rounds unpinned (measured): per-round eager pins
    // cost 12 extra jobs and LOST to the linear plan (5.5 s vs
    // 3.2-4.1 s at sf0.1); the e/nodes pins inside Graph.hits are the
    // win (5.8 -> 3.2 s)
    Graph.hits(edges, "src", "dst", iterations = 3)
      .orderBy("node")
  }

  /** Deterministic random walks ([[Graph.randomWalks]], 4 hops from
    * every 50th part) over the q107 co-purchase graph — the
    * DeepWalk corpus generator with hash-driven hops, so the full
    * walk corpus is oracle-replayable hop by hop. Two hash joins
    * per hop, one row per live walk, sinks absorb. */
  private[graft] def q177(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
    val edges = t(s, dir, "lineitem")
      .select(col("l_partkey").as("src"),
        lead(col("l_partkey"), 1).over(w).as("dst"))
      .filter(col("dst").isNotNull)
    val starts = t(s, dir, "part")
      .filter(col("p_partkey") % 50 === 0)
      .select(col("p_partkey"))
    Graph.randomWalks(edges, "src", "dst", starts, "p_partkey",
        steps = 4, salt = "walk")
      .orderBy("start", "step")
  }

  /** Leakage-safe GROUPED split ([[graft.operators.Curation
    * .groupedSplit]]): q90's synthetic URLs reduced to their
    * registrable domain, split by the DOMAIN hash — every page of a
    * domain lands in one split, so near-duplicate scrapes cannot
    * straddle train and eval. */
  private[graft] def q131(s: SparkSession, dir: String): DataFrame = {
    val url = syntheticUrl
    val d = t(s, dir, "documents")
      .select(col("doc_id"), url.as("url"))
      .withColumn("registrable",
        graft.operators.UrlOps.registrableDomain(col("url")))
    graft.operators.Curation.groupedSplit(d, col("registrable"),
        Seq("train" -> 90, "valid" -> 5, "test" -> 5), salt = "gsplit")
      .select("doc_id", "registrable", "split")
      .orderBy("doc_id")
  }

  /** Crawl-frontier politeness interleave ([[graft.operators.Curation
    * .frontierInterleave]]) over q90's URL corpus: per-domain wave +
    * salted fetch key — ordering by (wave, fetch_key) spaces any one
    * domain's fetches ~|domains| apart. */
  private[graft] def q134(s: SparkSession, dir: String): DataFrame = {
    val url = syntheticUrl
    val d = t(s, dir, "documents")
      .select(col("doc_id"), url.as("url"))
      .withColumn("registrable",
        graft.operators.UrlOps.registrableDomain(col("url")))
    graft.operators.Curation.frontierInterleave(d, "doc_id", "registrable",
        salt = "frontier")
      .select("doc_id", "registrable", "wave", "fetch_key")
      .orderBy("doc_id")
  }

  /** Round-9 curation capstone: quality-aware canonical dedup (keep
    * the longest member per near-dup cluster) → leakage-safe GROUPED
    * split on the synthetic registrable domain → crawl-frontier
    * politeness interleave of the train split. Every stage certified
    * individually (q127, q131, q134); this proves the composition
    * against ONE oracle built from the same SQL fragments. */
  private[graft] def q136(s: SparkSession, dir: String): DataFrame = {
    val kept = Dedup.clusterCanonicalByScore(corpusWithBoilerplate(s, dir),
        "text", "doc_id", length(col("text")).cast("long"),
        shingleSize = 3, numHashes = 8, rowsPerBand = 2,
        jaccardThreshold = 0.8)
      .filter(col("keep"))
      .select(col("doc_id"))
    val url = syntheticUrl
    val domained = kept
      .select(col("doc_id"), url.as("url"))
      .withColumn("registrable",
        graft.operators.UrlOps.registrableDomain(col("url")))
    val split = graft.operators.Curation.groupedSplit(domained,
      col("registrable"), Seq("train" -> 90, "valid" -> 5, "test" -> 5),
      salt = "gsplit")
    graft.operators.Curation.frontierInterleave(
        split.filter(col("split") === "train"), "doc_id", "registrable",
        salt = "frontier")
      .select("doc_id", "registrable", "split", "wave", "fetch_key")
      .orderBy("doc_id")
  }

  /** Exact per-shard embedding DIVERSITY audit: spread_num =
    * n·Σ‖x‖² − ‖Σx‖² over 2^20-quantized elements — n² times the
    * total variance, as exact BIGINTs (the curation signal behind
    * diversity-aware data selection: a shard of near-identical
    * vectors scores ~0). One posexplode projection, ONE map-combined
    * (shard, dim) aggregate (≤ shards·dims rows cross the shuffle),
    * then a shards-sized fold — the corpus never shuffles. */
  private[graft] def q130(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), pmod(col("vec_id"), lit(8L)).as("shard"),
        col("embedding"))
    val q = e
      .select(col("shard"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("shard"), col("dim"),
        round(col("x") * 1048576).cast("long").as("qx"))
    val dimAgg = q.groupBy("shard", "dim")
      .agg(sum(col("qx")).as("s_d"), sum(col("qx") * col("qx")).as("ss_d"))
    val shardAgg = dimAgg.groupBy("shard")
      .agg(sum(col("ss_d")).as("sum_sq"), sum(col("s_d") * col("s_d")).as("sum_dim_sq"))
    val n = e.groupBy("shard").agg(count(lit(1)).as("n"))
    n.join(shardAgg, Seq("shard"))
      .select(col("shard"), col("n"), col("sum_sq"), col("sum_dim_sq"),
        (col("n") * col("sum_sq") - col("sum_dim_sq")).as("spread_num"))
      .orderBy("shard")
  }

  /** Exact-budget mixture build: largest-remainder quotas
    * ([[graft.operators.Curation.largestRemainderQuotas]], B = 123
    * rows across the 20 sources — non-divisible on purpose, and the
    * harness's equal per-source counts make EVERY remainder tie, so
    * the key-asc tiebreak is load-bearing) followed by the
    * deterministic md5 bottom-k pick per source. `picked_md5` hashes
    * the actual selected id set, so the driver check pins the full
    * selection, not just its size. */
  /** CORPUS DATASHEET — the one-row governance summary a released
    * dataset publishes (the "datasheets for datasets" card, composed
    * from fragments this board certifies individually): doc/source/
    * lang cardinalities, whitespace-token and char totals, exact-dup
    * mass (docs minus distinct content digests), the q252 topic
    * mixture, the dominant source, and the mean doc length in exact
    * integer micros. One corpus pass + a 1-row argmax broadcast. */
  private[graft] def q262(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val tagged = graft.operators.Blocklist.categorize(
      docs.select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars")),
      "doc_id", "text", topicCategories)
    val topSource = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("top_source_n"))
      .orderBy(col("top_source_n").desc, col("source"))
      .limit(1)
      .select(col("source").as("top_source"), col("top_source_n"))
    tagged.agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"),
        sum(size(split(col("text"), "\\s+")).cast("long")).as("n_ws_tokens"),
        sum(col("n_chars")).as("n_chars_sum"),
        countDistinct(md5(col("text"))).as("n_distinct_texts"),
        sum(when(col("topic") === "compute", 1L).otherwise(0L))
          .as("n_topic_compute"),
        sum(when(col("topic") === "speed", 1L).otherwise(0L))
          .as("n_topic_speed"),
        sum(when(col("topic") === "storage", 1L).otherwise(0L))
          .as("n_topic_storage"),
        sum(when(col("topic") === "none", 1L).otherwise(0L))
          .as("n_topic_none"))
      .withColumn("n_exact_dup_docs", col("n_docs") - col("n_distinct_texts"))
      .withColumn("mean_chars_micros",
        expr("n_chars_sum * 1000000L div n_docs"))
      .crossJoin(broadcast(topSource))
      .orderBy("n_docs")
  }

  /** CORPUS DATASHEET v2 — the q262 card extended with the
    * governance fragments the board certifies individually, still ONE
    * row and one corpus pass per fragment family: the top
    * source-overlap pair (the q253 matrix's argmax), exact corpus
    * length quantiles (the q109 percentile discipline), PII category
    * counts on the RAW text (q84's dialect-shared patterns, no
    * plants — zeros are the honest value on a clean corpus), and the
    * near-dup mass (q46's identical-MinHash-signature tier: docs
    * removable and cluster count). Every fragment is a parameter-
    * sized 1-row aggregate broadcast onto the card. */
  private[graft] def q269(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val sh = docs.select(col("source"),
        explode(array_distinct(Dedup.shingles(col("text"), 3))).as("sh"))
      .distinct()
    val topOv = sh.toDF("source_a", "sh")
      .join(sh.toDF("source_b", "sh"), "sh")
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("top_ov_n_common"))
      .orderBy(col("top_ov_n_common").desc, col("source_a"), col("source_b"))
      .limit(1)
      .select(col("source_a").as("top_ov_source_a"),
        col("source_b").as("top_ov_source_b"), col("top_ov_n_common"))
    val quant = docs.agg(
      expr("percentile(n_chars, 0.5)").as("p50_chars"),
      expr("percentile(n_chars, 0.9)").as("p90_chars"))
    val piiAggs = Scrub.piiPatterns.map { case (cat, pat, _) =>
      sum(size(regexp_extract_all(col("text"), lit(pat), lit(0)))
        .cast("long")).as(s"n_pii_$cat")
    }
    val pii = docs.agg(piiAggs.head, piiAggs.tail: _*)
    val nd = Dedup.exactSignatureDuplicates(
        Dedup.minhashSignatures(docs, "text", "doc_id",
          shingleSize = 3, numHashes = 8), "doc_id", numHashes = 8)
      .agg(coalesce(sum(col("n_docs") - 1), lit(0L)).as("n_neardup_excess"),
        count(lit(1)).as("n_neardup_clusters"))
    q262(s, dir)
      .crossJoin(broadcast(topOv))
      .crossJoin(broadcast(quant))
      .crossJoin(broadcast(pii))
      .crossJoin(broadcast(nd))
      .orderBy("n_docs")
  }

  /** Temperature-based mixture sampling
    * ([[graft.operators.Curation.temperatureQuotas]], α = 0.7): the
    * q114 budget apportionment with quotas ∝ n^0.7 instead of raw
    * proportions — the multilingual α-sampling rule that up-samples
    * small sources; the selection and digest machinery is q114's
    * verbatim, so the two boards differ exactly by the temperature.
    * The oracle replays pow at micro rounding (the ln-parity class)
    * plus the exact largest-remainder arithmetic. */
  private[graft] def q261(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val quotas = graft.operators.Curation.temperatureQuotas(
      docs, "source", budget = 123L, alpha = 0.7)
    val w = Window.partitionBy(col("source"))
      .orderBy(md5(concat(lit("lr:"), col("doc_id").cast("string"))))
    docs
      .withColumn("__rn", row_number().over(w))
      .join(quotas.select("source", "n_docs", "weight_micros", "quota"),
        Seq("source"))
      .filter(col("__rn") <= col("quota"))
      .groupBy("source", "n_docs", "weight_micros", "quota")
      .agg(count(lit(1)).as("picked_n"),
        md5(array_join(transform(sort_array(collect_list(col("doc_id"))),
          x => x.cast("string")), ",")).as("picked_md5"))
      .orderBy("source")
  }

  private[graft] def q114(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val quotas = graft.operators.Curation.largestRemainderQuotas(
      docs, "source", budget = 123L)
    val w = Window.partitionBy(col("source"))
      .orderBy(md5(concat(lit("lr:"), col("doc_id").cast("string"))))
    val picked = docs
      .withColumn("__rn", row_number().over(w))
      .join(quotas.select("source", "quota"), Seq("source"))
      .filter(col("__rn") <= col("quota"))
      .groupBy("source")
      .agg(count(lit(1)).as("picked_n"),
        md5(array_join(transform(sort_array(collect_list(col("doc_id"))),
          x => x.cast("string")), ",")).as("picked_md5"))
    quotas.join(picked, Seq("source"))
      .select("source", "n_docs", "quota", "picked_n", "picked_md5")
      .orderBy("source")
  }

  /** Order-free dataset CONTENT DIGEST
    * ([[graft.operators.Layout.contentDigest]]): per hash-shard row
    * count + BIT_XOR of a 56-bit md5 row fingerprint, with the
    * grand-total digest in the same rollup aggregate — the
    * snapshot-integrity audit that compares two 100 TB replicas by
    * exchanging 17 rows. XOR commutes, so the digest is independent
    * of row order and partitioning; the oracle recomputes every
    * fingerprint and xors relationally. */
  private[graft] def q185(s: SparkSession, dir: String): DataFrame =
    graft.operators.Layout.contentDigest(
        t(s, dir, "documents"), "doc_id", "text", nShards = 16)
      .orderBy("shard")

  /** Round-8 capstone — training-shard MANIFEST build: exact-budget
    * quota selection (q114) → deterministic shard assignment + dense
    * order (q87) → content-defined chunking (q115) → per-shard
    * manifest rows with an md5 over the ORDERED chunk-hash stream.
    * One lineage from corpus to publishable shard manifest, every
    * stage the already-certified operator, ONE oracle replaying the
    * whole chain — the manifest_md5 pins chunk content AND order, so
    * any drift in any stage breaks the hash. */
  private[graft] def q120(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val quotas = graft.operators.Curation.largestRemainderQuotas(
      docs, "source", budget = 123L)
    val wq = Window.partitionBy(col("source"))
      .orderBy(md5(concat(lit("lr:"), col("doc_id").cast("string"))))
    val picked = docs.withColumn("__rn", row_number().over(wq))
      .join(quotas.select("source", "quota"), Seq("source"))
      .filter(col("__rn") <= col("quota"))
      .select("doc_id", "text")
    val sharded = graft.operators.Curation.shardAndOrder(
      picked, "doc_id", nShards = 4)
    val chunks = sharded.select(col("shard"), col("pos"), col("doc_id"),
      posexplode(TextAnalysis.cdcChunks(col("text"), k = 8, maskBits = 5))
        .as(Seq("ci", "chunk")))
    chunks.groupBy("shard").agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_chunks"),
        sum(length(col("chunk")).cast("long")).as("total_chars"),
        md5(array_join(transform(
          sort_array(collect_list(struct(col("pos").as("p"),
            col("ci").as("i"), md5(col("chunk")).as("h")))),
          x => x.getField("h")), "")).as("manifest_md5"))
      .orderBy("shard")
  }

  /** Score-weighted importance sampling
    * ([[graft.operators.Curation.importanceSample]]): each doc kept
    * with probability = its quality score — membership a pure
    * hash-threshold projection, engine-exact because both engines
    * compute the identical score doubles (q17) and the identical
    * floor product. */
  private[graft] def q75(s: SparkSession, dir: String): DataFrame =
    graft.operators.Curation.importanceSample(
        TextAnalysis.qualityMetrics(TextAnalysis.languageId(t(s, dir, "documents"))),
        "doc_id", col("quality_score"))
      .select(col("doc_id"), col("source"), col("quality_score"))
      .orderBy("doc_id")

  /** The end-to-end corpus-assembly pipeline, composed from operators
    * proven individually: quality+language filter (q17/q18) → exact
    * dedup (q15) → benchmark decontamination (q58, dropping eval docs
    * and ≥2-hit leaks) → mixture resample (q61) → deterministic split
    * (q48) → 512-token packing per split (q52). One oracle proves the
    * whole composition — the "switch your training-data pipeline to
    * this engine" showpiece. */
  private[graft] def q73(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val scored = TextAnalysis.qualityMetrics(TextAnalysis.languageId(d))
    val filtered = scored.filter(col("predicted_lang") === "en" &&
      col("quality_score") >= 0.5 && col("n_words") >= 5)
    val w = Window.partitionBy(col("__h")).orderBy(col("doc_id"))
    val deduped = filtered.withColumn("__h", md5(col("text")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
    val train = deduped.filter(col("doc_id") % 97 =!= 0)
    val contaminated = graft.operators.Decontaminate.contaminationReport(
        train, d.filter(col("doc_id") % 97 === 0), "doc_id", "text", 3, 2)
      .filter(col("contaminated")).select(col("doc_id"))
    val clean = train.join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"),
        col("n_words").cast("long").as("ws_tokens"))
    val mixed = graft.operators.Curation.resampleToMixture(
      clean, "source", "doc_id", Seq("src0" -> 3, "src1" -> 2))
    val split = graft.operators.Curation.deterministicSplit(
      mixed, "doc_id", Seq("train" -> 90, "valid" -> 5, "test" -> 5))
    graft.operators.Curation.packSequences(
        split, "doc_id", "ws_tokens", budget = 512L, partCols = Seq("split"))
      .select(col("doc_id"), col("source"), col("split"), col("ws_tokens"),
        col("pack_id"), col("pack_offset").cast("long").as("pack_offset"))
      .orderBy("doc_id")
  }

  /** Deterministic mixture resample ([[graft.operators.Curation
    * .resampleToMixture]]): src0 weighted 3, src1 weighted 2, rest 1;
    * exact integer-rational keep rates, no big-table shuffle. */
  private[graft] def q61(s: SparkSession, dir: String): DataFrame =
    graft.operators.Curation.resampleToMixture(
        t(s, dir, "documents").select(col("doc_id"), col("source")),
        "source", "doc_id", Seq("src0" -> 3, "src1" -> 2))
      .orderBy("doc_id")

  /** 7-region Venn set-agreement counts in one full-outer pass
    * (plotting.py:22-31 re-expressed; Analyze.vennCounts3). */
  private[graft] def q34(s: SparkSession, dir: String): DataFrame =
    Analyze.vennCounts3(
        t(s, dir, "customer").select(col("c_nationkey")),
        t(s, dir, "supplier").select(col("s_nationkey")),
        t(s, dir, "nation").filter(col("n_regionkey") <= 2).select(col("n_nationkey")))
      .orderBy("region")

  /** 2-d PCA projection of the embeddings (M2, UMAP substitute),
    * oracle-proven: the fit exports its signed basis (captured in
    * [[q35BasisHolder]] when this runs under Verify) and the
    * projection is two codegen ordered dot products, so the DuckDB
    * oracle replays the exact coordinates from the frozen basis —
    * closing the eigendecomposition-in-the-loop gap (the basis
    * CONTRACT is independently certified by q82). */
  private[graft] def q35(s: SparkSession, dir: String): DataFrame = {
    val (out, basis) = Analyze.pcaProject2dWithBasis(
      t(s, dir, "embeddings"), "embedding", Seq("vec_id"))
    q35BasisHolder.set(basis)
    out.orderBy("vec_id")
  }

  /** Deterministic train/valid/test split + independent 10% sample
    * flag: pure md5-hash projections of the id (partition-invariant,
    * stable under corpus growth — `operators/Curation`). */
  private[graft] def q48(s: SparkSession, dir: String): DataFrame =
    graft.operators.Curation.deterministicSplit(
        t(s, dir, "documents").select(col("doc_id")),
        "doc_id", Seq("train" -> 90, "valid" -> 5, "test" -> 5))
      .withColumn("in_sample",
        graft.operators.Curation.inSample(col("doc_id"), 1, 10, salt = "sample"))
      .orderBy("doc_id")

  /** The composed curation pipeline a training corpus actually runs:
    * language filter (en) → quality filter (score ≥ 0.5, ≥ 5 words) →
    * exact dedup (lowest id per content digest) → deterministic
    * split. Every stage is an operator proven individually (q18, q17,
    * q15, q48); this query proves the COMPOSITION end to end against
    * one relational oracle. */
  private[graft] def q49(s: SparkSession, dir: String): DataFrame = {
    val scored = TextAnalysis.qualityMetrics(
      TextAnalysis.languageId(t(s, dir, "documents")))
    val filtered = scored.filter(col("predicted_lang") === "en" &&
      col("quality_score") >= 0.5 && col("n_words") >= 5)
    val w = Window.partitionBy(col("__h")).orderBy(col("doc_id"))
    val deduped = filtered.withColumn("__h", md5(col("text")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
    graft.operators.Curation.deterministicSplit(deduped, "doc_id",
        Seq("train" -> 90, "valid" -> 5, "test" -> 5))
      .select(col("doc_id"), col("predicted_lang"),
        col("n_words").cast("long").as("n_words"), col("split"))
      .orderBy("doc_id")
  }

  /** Sequence packing (concat-and-chunk at a 512-token budget) per
    * deterministic split shard — the LLM-pretraining batch prep,
    * expressed as one per-shard running-sum window. */
  private[graft] def q52(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"),
        size(split(col("text"), "\\s+")).cast("long").as("ws_tokens"))
    val withSplit = graft.operators.Curation.deterministicSplit(
      docs, "doc_id", Seq("train" -> 90, "valid" -> 5, "test" -> 5))
    graft.operators.Curation.packSequences(withSplit, "doc_id", "ws_tokens",
        budget = 512, partCols = Seq("split"))
      .select("doc_id", "split", "ws_tokens", "pack_id", "pack_offset")
      .orderBy("doc_id")
  }

  /** Deterministic per-source cap (≤10 docs per source by salted-hash
    * priority) — the "no domain dominates" curation rule, run as a
    * bounded heap aggregate + id-keyed semi-join instead of a
    * group-keyed row_number (the oracle keeps the window form). */
  private[graft] def q55(s: SparkSession, dir: String): DataFrame =
    graft.operators.Curation.capPerGroup(
        t(s, dir, "documents").select(col("doc_id"), col("source")),
        "source", "doc_id", maxPerGroup = 10, salt = "capsalt")
      .orderBy("doc_id")

  /** Exact-size weighted sample without replacement
    * ([[graft.operators.Curation.weightedSampleWithoutReplacement]],
    * Efraimidis–Spirakis A-ES): exactly 20 documents drawn
    * length-proportionally (weight = n_chars) via ln(u)/w keys on
    * the salted md5 coordinate — the fixed-quota companion to q61's
    * Bernoulli importance sample. Pure projection + global top-k
    * (TakeOrderedAndProject): nothing shuffles. The micro-quantized
    * key makes the selection integer-replayable; the oracle draws
    * the same 20 rows. */
  /** Per-SOURCE exact-k weighted sample
    * ([[graft.operators.Curation.weightedSamplePerGroup]]): q171's
    * A-ES draw quota'd per group through the bounded top-k heap
    * aggregate — "5 docs per source, favoring long documents", the
    * skew-proof per-domain sampler (k-entry states cross the
    * group-keyed shuffle, never rows). Oracle replays the key
    * arithmetic with a per-group rank. */
  private[graft] def q260(s: SparkSession, dir: String): DataFrame =
    graft.operators.Curation.weightedSamplePerGroup(
        t(s, dir, "documents"), "source", "doc_id", col("n_chars"),
        k = 5, salt = "wsrg260")
      .orderBy(col("source"), col("key_micro").desc, col("doc_id"))

  private[graft] def q171(s: SparkSession, dir: String): DataFrame =
    graft.operators.Curation.weightedSampleWithoutReplacement(
        t(s, dir, "documents"), "doc_id", col("n_chars"), k = 20,
        salt = "wsr171")
      .orderBy(col("key_micro").desc, col("doc_id"))

  /** The q190 co-occurrence graph: parts consecutive within an order
    * become undirected edges — shared by the BFS (q190), label
    * propagation (q205) and bounded-SSSP (q206) queries. `withW`
    * carries the source line's quantity as an integer edge weight. */
  private def partChainEdges(s: SparkSession, dir: String,
      withW: Boolean): DataFrame = {
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
    val adj = t(s, dir, "lineitem")
      .select(col("l_partkey").as("src"),
        lead(col("l_partkey"), 1).over(w).as("dst"),
        col("l_quantity").cast("long").as("w"))
      .filter(col("dst").isNotNull && col("src") =!= col("dst"))
    val cols: Seq[String] = if (withW) Seq("src", "dst", "w") else Seq("src", "dst")
    adj.select(cols.head, cols.tail: _*).unionByName(
      adj.select((Seq(col("dst").as("src"), col("src").as("dst")) ++
        (if (withW) Seq(col("w")) else Nil)): _*))
  }

  /** The q205 LPA labels as a SHARED INTERMEDIATE: q205 emits them
    * and q220 audits them, and the 3-round trajectory is the
    * expensive half of both — so it runs once and both queries reuse
    * the checkpointed result from [[FittedCache]]
    * ([[graft.operators.Graph.labelPropagation]] ends in an eager
    * `localCheckpoint`, so the held DataFrame is a cached block set,
    * not a lazy lineage that would re-run). */
  private def lpaLabels(s: SparkSession, dir: String): DataFrame =
    FittedCache.get(s, "EntryCurationQueries.lpaLabels",
        Seq(s"$dir/lineitem.parquet"), Nil) {
      Graph.labelPropagation(partChainEdges(s, dir, withW = false),
        "src", "dst", rounds = 3)
    }

  /** Label-propagation communities
    * ([[graft.operators.Graph.labelPropagation]], 3 synchronous
    * rounds) over the part co-occurrence graph — the mirror-site /
    * topic-cluster grouping pass, made deterministic (smallest-label
    * tie-break, synchronous sweep) so every round replays verbatim
    * in the oracle's CTE chain. */
  private[graft] def q205(s: SparkSession, dir: String): DataFrame =
    lpaLabels(s, dir).orderBy("node")

  /** Modularity audit ([[graft.operators.Graph.modularity]]) of the
    * q205 label-propagation partition over the same co-occurrence
    * graph — per community, the exact Newman-Girvan contribution
    * (Q_c·4m² in BIGINT, micro ratio as one fixed double): did LPA
    * find real structure or just relabel noise? The oracle replays
    * the full LPA trajectory AND the modularity arithmetic. The
    * labels come from the [[lpaLabels]] shared intermediate, so the
    * trajectory is computed once across q205 and q220. */
  private[graft] def q220(s: SparkSession, dir: String): DataFrame = {
    val edges = partChainEdges(s, dir, withW = false)
    Graph.modularity(edges, "src", "dst", lpaLabels(s, dir),
        "node", "label")
      .orderBy("label")
  }

  /** Degree assortativity
    * ([[graft.operators.Graph.degreeAssortativity]]) of the part
    * co-occurrence graph — hub-to-hub or hub-and-spoke: the
    * topology-regime scalar beside q214's per-node clustering
    * texture and q220's partition quality. */
  private[graft] def q225(s: SparkSession, dir: String): DataFrame =
    Graph.degreeAssortativity(partChainEdges(s, dir, withW = false),
      "src", "dst")

  /** Hop-bounded weighted shortest paths
    * ([[graft.operators.Graph.ssspBounded]], 4 Bellman-Ford sweeps)
    * from the q190 seed set, edge weight = the source line's
    * quantity (min over duplicate pairs) — exact integer distances,
    * so the oracle's unrolled relaxation chain hash-matches. */
  private[graft] def q206(s: SparkSession, dir: String): DataFrame = {
    val seeds = t(s, dir, "part")
      .filter(pmod(col("p_partkey"), lit(500)) === 0)
      .select(col("p_partkey"))
    Graph.ssspBounded(partChainEdges(s, dir, withW = true),
        "src", "dst", "w", seeds, "p_partkey", rounds = 4)
      .orderBy("node")
  }

  /** Resource-allocation link prediction
    * ([[graft.operators.Graph.linkPredictionRA]]) over the STRONG-TIE
    * subgraph of the part co-occurrence chain (lines with quantity
    * ≤ 15, so the graph is sparse enough that missing links are
    * informative): non-adjacent part pairs sharing ≥ 2 common
    * neighbors of degree ≤ 24, scored by Σ 1/deg(w) in exact integer
    * micros — the related-item suggestion / KG-completion pass, with
    * the hub cap and the integer-exact RA choice (over Adamic-Adar's
    * log) documented on the operator. */
  private[graft] def q209(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
    val adj = t(s, dir, "lineitem")
      .filter(col("l_quantity") <= 15)
      .select(col("l_partkey").as("src"),
        lead(col("l_partkey"), 1).over(w).as("dst"))
      .filter(col("dst").isNotNull && col("src") =!= col("dst"))
    Graph.linkPredictionRA(adj, "src", "dst", maxHubDeg = 24,
        minCommon = 2L)
      .orderBy("n1", "n2")
  }

  /** LEAKAGE-FREE train/valid/test split keyed on the NEAR-DUP
    * CLUSTER: q53's MinHash-LSH connected components supply
    * `cluster_id`, and [[graft.operators.Curation.groupedSplit]]
    * hashes THAT instead of the row id — so two near-duplicate
    * scrapes of one page can never straddle train and test (the
    * row-id split q48 would put the 12-copy boilerplate cluster in
    * several splits and the eval set would score memorization).
    * The oracle recomputes the clusters (recursive-CTE connected
    * components over the replayed LSH pairs) and applies the same
    * md5 split arithmetic to the cluster id — the full
    * dedup-to-split chain under one hash. */
  private[graft] def q245(s: SparkSession, dir: String): DataFrame =
    graft.operators.Curation.groupedSplit(
        graft.operators.Dedup.duplicateClusters(
          corpusWithBoilerplate(s, dir), "text", "doc_id",
          shingleSize = 3, numHashes = 8, rowsPerBand = 2,
          jaccardThreshold = 0.8),
        col("cluster_id"), Seq("train" -> 90, "valid" -> 5, "test" -> 5))
      .select(col("doc_id"), col("cluster_id"), col("split"))
      .orderBy("doc_id")

  /** DSIR data selection ([[graft.operators.Curation.importanceWeights]]
    * → [[graft.operators.Curation.gumbelTopK]], Xie et al. 2023):
    * hashed-unigram importance weights of every raw document against
    * the mod-7 "target" slice (1024 md5 feature buckets, add-one
    * smoothing, integer-micro ln ratios), then the top-100 docs by
    * weight + deterministic salted-hash Gumbel noise — importance
    * RESAMPLING, not just ranking, with the randomness itself a
    * replayable projection. The oracle rebuilds both bucket count
    * tables, the ratio ladder, and the Gumbel transform from the
    * same md5 arithmetic. */
  private[graft] def q248(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    graft.operators.Curation.gumbelTopK(
        graft.operators.Curation.importanceWeights(
          docs.filter(col("doc_id") % 7 === 0),
          docs.filter(col("doc_id") % 7 =!= 0), "doc_id", "text"),
        "doc_id", k = 100)
      .orderBy(col("key_micros").desc, col("doc_id"))
  }

  /** CURATION PIPELINE v4 — the round's new gates composed into the
    * crawl-to-training-set front door: Aho-Corasick POLICY gate
    * (spam dictionary, zero-tolerance) → DSIR importance
    * RESAMPLING of the surviving pool against the mod-7 target slice
    * (top-200 by weight + deterministic Gumbel) → LEAKAGE-SAFE
    * train/valid/test split keyed on the content digest so byte-dup
    * scrapes can never straddle splits. Every stage is an operator
    * proven individually (q244, q248, q48/q245); this query proves
    * the COMPOSITION — per-doc weights, Gumbel keys, and split
    * labels — against ONE oracle assembled from the same fragments
    * (the q98 capstone discipline). */
  private[graft] def q249(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      .unionByName(spamPlants.toDF("doc_id", "text"))
    // NO pin on the screened pool (tried r16, reverted on a
    // same-session A/B: flat — unlike the v5 spine the single AC
    // screen is cheap and its repeats overlap in one wide job)
    val clean = graft.operators.Blocklist.screen(docs, "doc_id", "text",
        spamPatterns, maxHits = 1)
      .filter(col("blocklist_keep"))
      .select(col("doc_id"), col("text"))
    val selected = graft.operators.Curation.gumbelTopK(
      graft.operators.Curation.importanceWeights(
        clean.filter(col("doc_id") % 7 === 0),
        clean.filter(col("doc_id") % 7 =!= 0), "doc_id", "text"),
      "doc_id", k = 200)
    graft.operators.Curation.groupedSplit(
        selected.join(clean, Seq("doc_id")), md5(col("text")),
        Seq("train" -> 90, "valid" -> 5, "test" -> 5))
      .select(col("doc_id"), col("n_tokens"), col("weight_micros"),
        col("key_micros"), col("split"))
      .orderBy("doc_id")
  }

  /** CURATION CAPSTONE v5 — the round-14 front gates composed onto
    * the v4 selection spine, end to end under ONE oracle: TRAINED
    * language-ID gate (the q263 model as the fused q271 expression,
    * keep = 'en') → Gopher repetition gate (q270's keep flag) →
    * Aho-Corasick policy screen (q244) → DSIR importance resampling
    * with deterministic Gumbel top-150 (q248) → leakage-free
    * content-digest split (q245's groupedSplit). Every stage is a
    * shape this board certifies individually; the capstone certifies
    * their COMPOSITION — the canonical multilingual corpus pipeline
    * front half, every gate trained/frozen/replayed cross-engine. */
  /** The v5 selection spine shared by q274 and the v6 capstone
    * (q285): trained-langid gate → Gopher repetition gate → AC policy
    * screen → DSIR Gumbel top-150 → leakage-free digest split.
    * Returns the selected docs with text, DSIR columns and `split`. */
  // NO cross-query memo here: q274's declared result IS this frame,
  // so caching it would turn q274's bench entry into a 150-row
  // checkpoint read (result caching, not optimization — round-15
  // verdict item 1). The fitted INPUTS (langid model, AC automaton)
  // stay memoized; the gates + DSIR selection run per invocation.
  private def v5SelectedWithSplit(s: SparkSession,
      dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"))
    val f = TextAnalysis.langIdCorpusModel(s, dir)
    val (model, langs, w, p) = (f.model, f.langs, f.weights, f.priors)
    val lk = docs.select(col("doc_id"), col("text"),
        TextAnalysis.langIdScore(col("text"), langs, w, p, model.buckets,
          model.n, model.maxChars, model.salt).as("__r"))
      .filter(col("__r").getField("n_grams") > 0 &&
        col("__r").getField("trained_lang") === "en")
      .select(col("doc_id"), col("text"))
    val rp = TextAnalysis.repetitionSignals(
        docs.select(col("doc_id"), col("text")), "doc_id", "text")
      .filter(col("gopher_keep")).select(col("doc_id"))
    val bl = graft.operators.Blocklist.screen(
        docs.select(col("doc_id"), col("text")), "doc_id", "text",
        spamPatterns, maxHits = 1)
      .filter(col("blocklist_keep")).select(col("doc_id"))
    // pin the gated pool ONCE per invocation (guide §2.4): the DSIR
    // chain reads it several times (target/raw tokenize + totals +
    // score + the final join) and each read would otherwise replay
    // the langid + repetition + blocklist gate lineage — the one pin
    // in this family that survives its A/B (q274 3.38 s pinned vs
    // 5.26 s unpinned, q285 5.44 vs 6.43, same session), because the
    // THREE-GATE lineage is expensive, unlike q249's single screen
    val clean = lk.join(rp, Seq("doc_id")).join(bl, Seq("doc_id"))
      .localCheckpoint()
    val selected = graft.operators.Curation.gumbelTopK(
      graft.operators.Curation.importanceWeights(
        clean.filter(col("doc_id") % 7 === 0),
        clean.filter(col("doc_id") % 7 =!= 0), "doc_id", "text"),
      "doc_id", k = 150)
    graft.operators.Curation.groupedSplit(
      selected.join(clean, Seq("doc_id")), md5(col("text")),
      Seq("train" -> 90, "valid" -> 5, "test" -> 5))
  }

  private[graft] def q274(s: SparkSession, dir: String): DataFrame =
    v5SelectedWithSplit(s, dir)
      .select(col("doc_id"), col("n_tokens"), col("weight_micros"),
        col("key_micros"), col("split"))
      .orderBy("doc_id")

  /** TRAINED-TOKENIZER token-ID packing — the last mile of the
    * corpus→trainer handoff: encode every doc with the q267-trained
    * unigram-LM tokenizer ([[graft.operators.UnigramLm.encodeIds]] —
    * the ORDERED Viterbi piece stream, not just counts), assign
    * integer token ids from the FITTED vocabulary (1-based rank by
    * piece; 0 = the doc-boundary EOS every doc appends), and pack the
    * id stream into fixed-length 512-token training sequences per
    * deterministic split shard. Per sequence: token count, docs
    * closed (EOS count), first/last doc provenance, and an md5 over
    * the ORDERED token-id stream — the q120 manifest_md5 discipline,
    * so any drift in training, segmentation, id assignment, or pack
    * order breaks the hash. This is what a pretraining-data delivery
    * actually emits (GPT/LLaMA-style concat-and-chunk with boundary
    * markers); q52 packs whitespace COUNTS, this packs the real ids.
    *
    * Scale shape: train on the word table (Heaps regime), encode as
    * one fused projection, pack with a PER-SHARD window (split here;
    * at 100 TB the shard key is sized to a worker, the q120
    * shardAndOrder posture) — no corpus-global sort anywhere. The
    * oracle retrains the tokenizer, replays every DP cell, and
    * re-packs the stream (q267's unrolled-CTE machinery + one
    * ordered string_agg per sequence). */
  private[graft] def q275(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val vocab = graft.operators.UnigramLm.trainViterbiEmMemo(s, dir,
        rounds = 2, maxPieceLen = 4, vocabCap = 128, maxWordLen = 12)
      .select(col("piece"), col("w_micros"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    packTokenIds(s,
      docs.select(col("doc_id"), col("text")).join(
        graft.operators.Curation.deterministicSplit(
          docs.select(col("doc_id")), "doc_id",
          Seq("train" -> 90, "valid" -> 5, "test" -> 5)), Seq("doc_id")),
      vocab)
  }

  /** The q275/q285/q291 packing tail: encode `(doc_id, text, split)`
    * rows with the fitted vocabulary, assign 1-based sorted-piece
    * token ids (+ EOS 0 per doc), pack the ordered id stream into
    * 512-token sequences per split shard with an ordered-stream md5
    * per sequence. With `difficultyCol` set (a per-doc column on the
    * input), docs pack in (difficulty, doc_id) order — curriculum
    * packing — and each sequence carries its difficulty range. */
  private def packTokenIds(s: SparkSession, docsWithSplit: DataFrame,
      vocab: Array[(String, Long)],
      difficultyCol: Option[String] = None): DataFrame = {
    import s.implicits._
    val pieces = vocab.map(_._1).toSeq
    val tid = pieces.zipWithIndex
      .map { case (p, i) => (p, (i + 1).toLong) }.toDF("piece", "tid")
    val enc = graft.operators.UnigramLm.encodeIds(docsWithSplit,
        "doc_id", "text", pieces, vocab.map(_._2).toSeq,
        maxPieceLen = 4, maxWordLen = 12)
      .join(broadcast(tid), Seq("piece"))
      .select(col("doc_id"), lit(0L).as("is_eos"), col("word_pos"),
        col("piece_idx").cast("long").as("piece_idx"), col("tid"))
    val eos = docsWithSplit.select(col("doc_id"), lit(1L).as("is_eos"),
      lit(0L).as("word_pos"), lit(0L).as("piece_idx"), lit(0L).as("tid"))
    val docCols = col("doc_id") +: col("split") +:
      difficultyCol.map(col).toSeq
    val stream = enc.unionByName(eos)
      .join(docsWithSplit.select(docCols: _*), Seq("doc_id"))
    val orderCols = difficultyCol.map(col).toSeq ++
      Seq(col("doc_id"), col("is_eos"), col("word_pos"),
        col("piece_idx"))
    val w = Window.partitionBy(col("split")).orderBy(orderCols: _*)
    val base = stream.withColumn("__g", row_number().over(w).cast("long"))
      .withColumn("seq_id", expr("(__g - 1) div 512"))
      .withColumn("__p", col("__g") - 1 - col("seq_id") * 512)
      .groupBy(col("split"), col("seq_id"))
    val aggs = Seq(count(lit(1)).as("n_tokens"),
      sum(col("is_eos")).as("n_docs_closed"),
      min(col("doc_id")).as("first_doc_id"),
      max(col("doc_id")).as("last_doc_id"),
      md5(array_join(transform(sort_array(collect_list(struct(
          col("__p").as("p"), col("tid").cast("string").as("t")))),
        x => x.getField("t")), ",")).as("ids_md5")) ++
      difficultyCol.toSeq.flatMap(d =>
        Seq(min(col(d)).as("min_difficulty"),
          max(col(d)).as("max_difficulty")))
    base.agg(aggs.head, aggs.tail: _*)
      .orderBy("split", "seq_id")
  }

  /** Data-constrained EPOCH ALLOCATION
    * ([[graft.operators.Curation.epochAllocation]]): the Muennighoff
    * et al. 2023 budgeting recipe — rank sources by quality (mean
    * per-trigram NLL under the q243 LM, exact-integer normalized),
    * then fill a token budget of 2× the corpus in quality order with
    * at most 4 epochs per source; the boundary source serves a
    * FRACTIONAL epoch (`served·10⁶ div n_tokens`, Decimal-exact) and
    * everything past it serves zero. One row per source: token mass,
    * quality key, rank, tokens served, micro-epochs. The oracle
    * retrains the LM, recomputes the masses, and replays the greedy
    * fill as a window prefix sum. */
  /** The q282 allocation frame (source, n_tokens, nll_nanos, q_rank,
    * served_tokens, epochs_micros, budget) — shared with the q290
    * epoch schedule. */
  private def epochAlloc(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val ntok = size(filter(split(lower(col("text")), "\\s+"),
      t => t =!= "")).cast("long")
    val srcTok = docs.groupBy(col("source")).agg(sum(ntok).as("n_tokens"))
    // the q281 memoized held-out scores (salted-hash holdout —
    // doc_id % 10 correlates with source)
    val qual = graft.operators.TextAnalysis.sbCorpusScores(
        s, dir, scoreAll = false)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(expr("cast(((-sum(logprob_micros)) * 1000L) div " +
        "sum(n_trigrams) as long)").as("nll_nanos"))
    val budget = srcTok.agg((sum(col("n_tokens")) * lit(2L)).as("budget"))
    val stats = srcTok.join(qual, Seq("source"))
      .crossJoin(broadcast(budget))
    graft.operators.Curation.epochAllocation(stats, "source",
      "n_tokens", "nll_nanos", "budget", maxEpochs = 4)
  }

  private[graft] def q282(s: SparkSession, dir: String): DataFrame =
    epochAlloc(s, dir)
      .select(col("source"), col("n_tokens"), col("nll_nanos"),
        col("q_rank"), col("served_tokens"), col("epochs_micros"),
        col("budget"))
      .orderBy("source")

  /** EPOCH SCHEDULE manifest
    * ([[graft.operators.Curation.epochSchedule]]): q282's allocation
    * made EXECUTABLE — per (source, epoch), the docs actually served:
    * full epochs serve every doc reshuffled by an epoch-salted hash
    * (the data-loader reshuffle), the fractional tail epoch serves
    * the hash-ordered PREFIX whose token mass fits the fractional
    * budget (Decimal-exact). One row per (source, epoch) with served
    * doc/token counts and an md5 over the SERVE-ORDERED doc ids —
    * the schedule a data loader replays byte-for-byte. The oracle
    * refits the allocation and replays every epoch's shuffle and
    * prefix cut. */
  private[graft] def q290(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val ntok = size(filter(split(lower(col("text")), "\\s+"),
      t => t =!= "")).cast("long")
    val perDoc = docs.select(col("source"), col("doc_id"),
      ntok.as("n_tok"))
    graft.operators.Curation.epochSchedule(perDoc, "source", "doc_id",
        "n_tok", epochAlloc(s, dir), salt = "epsched")
      .groupBy(col("source"), col("epoch"))
      .agg(count(lit(1)).as("n_docs_served"),
        sum(col("n_tok")).as("n_tokens_served"),
        md5(array_join(transform(sort_array(collect_list(struct(
            col("serve_rank").as("r"),
            col("doc_id").cast("string").as("d")))),
          x => x.getField("d")), ",")).as("order_md5"))
      .orderBy("source", "epoch")
  }

  /** CURATION CAPSTONE v6 — the FULL pretraining-data delivery under
    * one hash: the v5 spine (trained-langid → repetition → policy →
    * DSIR Gumbel top-150 → digest split), then the corpus→trainer
    * handoff on the SELECTED docs — train the unigram-LM tokenizer on
    * the selected corpus (the GPT-2 posture: the tokenizer fits the
    * data it ships), Viterbi-encode every selected doc, assign token
    * ids, and pack the ordered id stream into 512-token training
    * sequences per split shard (q275's machinery over v5's output).
    * The result rows are the sequences themselves with ordered-stream
    * digests — what a trainer's data loader actually reads. One
    * composed oracle: the v5 chains, the tokenizer retrained from the
    * selected CTE, every DP cell replayed, the pack re-derived. */
  private[graft] def q285(s: SparkSession, dir: String): DataFrame = {
    val seldoc = v5SelectedWithSplit(s, dir)
      .select(col("doc_id"), col("text"), col("split"))
    // pin the spine WITHIN the query (guide §2.4 repeated subtree):
    // the tokenizer trainer + encode + pack otherwise replay the
    // langid/repetition/DSIR lineage once per EM round
    val pinned = seldoc.localCheckpoint(true)
    val vocab = graft.operators.UnigramLm.trainViterbiEm(pinned, "text",
        rounds = 2, maxPieceLen = 4, vocabCap = 128, maxWordLen = 12)
      .select(col("piece"), col("w_micros"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    packTokenIds(s, pinned, vocab)
  }

  /** DoReMi-lite domain reweighting
    * ([[graft.operators.Curation.doremiWeights]]): the iterative
    * trained-mixture stage the selection spine lacked — every doc
    * scored once under the q281 LM (trained on the hash-90%, scoring
    * EVERYTHING), then 3 Group-DRO multiplicative-weight rounds with
    * selection feedback over the per-source hardest slices. Output is
    * the weight trajectory: (source, round, w_micros, share_micros) —
    * the mixture a DoReMi-guided pretraining run would sample from,
    * with every round's arithmetic exact inside the hash. The oracle
    * retrains the LM and replays all three rounds unrolled. */
  private[graft] def q286(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val perDoc = graft.operators.TextAnalysis.sbCorpusScores(
        s, dir, scoreAll = true)
      .withColumn("nll",
        expr("((-logprob_micros) * 1000L) div n_trigrams"))
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
    graft.operators.Curation.doremiWeights(perDoc, "source", "doc_id",
        "nll", rounds = 3, etaDen = 2000L)
      .orderBy("source", "round")
  }

  /** PACKED-DELIVERY SHARD MANIFEST — the q120 manifest discipline
    * over the q275 token-id sequences: one row per split shard with
    * sequence/token/doc totals and `manifest_md5` over the ORDERED
    * per-sequence id-stream digests — the single line a consumer
    * checks before training on a shard. Chained digests: ids_md5
    * pins each sequence's ordered token ids, manifest_md5 pins the
    * sequence set AND order, so any drift anywhere in
    * train→encode→pack breaks one top-level hash per shard. */
  /** CORPUS DATASHEET v3 — the q269 card + the round-15 families as
    * one-row fragments: corpus-wide tokenizer FERTILITY under the
    * production pruned vocabulary (pieces-per-word /
    * chars-per-piece, exact micros — the card's "how well does the
    * shipped tokenizer fit this corpus" line) and the held-out LM
    * QUALITY summary (held-out doc count, median/min/max per-trigram
    * NLL under the q281 model — the card's perplexity line). Each
    * fragment is one corpus pass, 1-row broadcast onto the card; the
    * oracle retrains the pruned tokenizer AND the LM inside the same
    * WITH chain. */
  private[graft] def q289(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val vocab = graft.operators.UnigramLm.trainViterbiEmPrunedMemo(s,
        dir, rounds = 2, maxPieceLen = 4, vocabCap = 128,
        maxWordLen = 12, pruneNum = 1, pruneDen = 4)
      .select(col("piece"), col("w_micros"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    val fert = graft.operators.UnigramLm.encodeStats(docs, "doc_id",
        "text", vocab.map(_._1).toSeq, vocab.map(_._2).toSeq,
        maxPieceLen = 4, maxWordLen = 12)
      .agg(sum(col("n_words")).as("__w"),
        sum(col("char_tokens")).as("__c"),
        sum(col("unigram_tokens")).as("__u"))
      .select(expr("(__u * 1000000L) div __w")
          .as("fert_pieces_per_word_micros"),
        expr("(__c * 1000000L) div __u")
          .as("fert_chars_per_piece_micros"))
    val lm = graft.operators.TextAnalysis.sbCorpusScores(
        s, dir, scoreAll = false)
      .withColumn("nll",
        expr("((-logprob_micros) * 1000L) div n_trigrams"))
      .agg(count(lit(1)).as("lm_heldout_docs"),
        expr("percentile(nll, 0.5)").as("lm_nll_p50"),
        min(col("nll")).as("lm_nll_min"),
        max(col("nll")).as("lm_nll_max"))
    q269(s, dir)
      .crossJoin(broadcast(fert))
      .crossJoin(broadcast(lm))
      .orderBy("n_docs")
  }

  /** CURRICULUM-ordered packing — q275's delivery with the
    * data-loader curriculum: docs pack EASIEST-FIRST (per-doc
    * per-trigram NLL under the q286 memoized corpus LM, ascending;
    * sub-trigram docs coalesce to 0 = easiest), so sequence order IS
    * the curriculum schedule (Bengio et al. 2009 — warm up on
    * predictable text, introduce the hard tail late). Each sequence
    * carries its difficulty range; min_difficulty is non-decreasing
    * across seq_ids within a split by construction, certified by the
    * hash. The oracle retrains the LM AND the tokenizer, replays the
    * DP, and re-packs under the same (nll, doc_id) order. */
  private[graft] def q291(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val nll = graft.operators.TextAnalysis.sbCorpusScores(
        s, dir, scoreAll = true)
      .select(col("doc_id"),
        expr("((-logprob_micros) * 1000L) div n_trigrams").as("__nll"))
    val withSplit = docs.select(col("doc_id"), col("text"))
      .join(graft.operators.Curation.deterministicSplit(
        docs.select(col("doc_id")), "doc_id",
        Seq("train" -> 90, "valid" -> 5, "test" -> 5)), Seq("doc_id"))
      .join(nll, Seq("doc_id"), "left")
      .withColumn("difficulty", coalesce(col("__nll"), lit(0L)))
      .select(col("doc_id"), col("text"), col("split"),
        col("difficulty"))
    val vocab = graft.operators.UnigramLm.trainViterbiEmMemo(s, dir,
        rounds = 2, maxPieceLen = 4, vocabCap = 128, maxWordLen = 12)
      .select(col("piece"), col("w_micros"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    packTokenIds(s, withSplit, vocab, difficultyCol = Some("difficulty"))
  }

  /** Padding-waste batching audit
    * ([[graft.operators.Curation.paddingWasteAudit]]): q52/q275 pack
    * tokens into dense sequences; THIS query measures what NOT
    * packing costs — per source, the naive arrival-order loader vs
    * length-sorted vs 16-token-bucketed batching (batch 8), compared
    * by exact integer padded-vs-real token mass. The oracle restates
    * the three windowed batchings verbatim. */
  private[graft] def q295(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("source"), col("doc_id"),
      expr("CAST(size(filter(split(text, '\\\\s+'), t -> t != '')) AS BIGINT)")
        .as("n_tok"))
    graft.operators.Curation.paddingWasteAudit(d, "source", "doc_id",
        "n_tok", batchSize = 8, bucketWidth = 16)
      .orderBy("strategy", "source")
  }

  /** The q296 stopword slice — a compact high-frequency subset; the
    * oracle inlines the same list. */
  private[graft] val overlapStopwords = Seq("the", "a", "of", "to", "and",
    "in", "is", "it", "that", "for")

  /** q296's gate stack — (name, fail-flag) over the shared doc
    * features; names sorted so the matrix key order is total. */
  private[graft] val overlapGateNames =
    Seq("len_long", "len_short", "stopword", "ttr")

  /** Curation-gate overlap matrix
    * ([[graft.operators.Curation.gateOverlapMatrix]]): four corpus
    * gates (short-doc, long-doc, low-stopword-ratio, low type-token
    * ratio) evaluated once per doc, then every pairwise co-failure
    * count plus each gate's exclusive-kill count from ONE full-scan
    * aggregate — the filter-redundancy audit run before freezing a
    * gate stack. The oracle restates each generated pair sum over the
    * same gate expressions. */
  private[graft] def q296(s: SparkSession, dir: String): DataFrame = {
    val stopArr = array(overlapStopwords.map(lit): _*)
    val toks = filter(split(lower(col("text")), "\\s+"), t => t =!= "")
    val flags = t(s, dir, "documents")
      .withColumn("__toks", toks)
      .withColumn("__w", size(col("__toks")).cast("long"))
      .select(
        (col("n_chars") < 150).as("len_short"),
        (col("n_chars") > 420).as("len_long"),
        (size(filter(col("__toks"), t => array_contains(stopArr, t)))
          .cast("long") * 1000 < col("__w") * 60).as("stopword"),
        (size(array_distinct(col("__toks"))).cast("long") * 1000
          < col("__w") * 520).as("ttr"))
    graft.operators.Curation.gateOverlapMatrix(flags, overlapGateNames)
      .orderBy("gate_a", "gate_b")
  }

  private[graft] def q288(s: SparkSession, dir: String): DataFrame =
    q275(s, dir)
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_sequences"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_docs_closed")).as("n_docs_closed"),
        md5(array_join(transform(sort_array(collect_list(struct(
            col("seq_id").as("s"), col("ids_md5").as("h")))),
          x => x.getField("h")), "")).as("manifest_md5"))
      .orderBy("split")

}
