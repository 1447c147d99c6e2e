package graft

import org.scalatest.matchers.should.Matchers

/** Plan regression guard: no query may silently degrade into a
  * cartesian product or an unintended nested-loop join. The
  * brute-force similarity tier (ANN scans) uses an INTENTIONAL
  * broadcast-nested-loop against a catalog-sized reference — those
  * are whitelisted by name; everything else must plan as
  * hash/sort-merge joins.
  */
class PlanContractSpec extends SparkSpec with Matchers {

  private val sfDir = "/root/testdata/sf0.001"

  /** Queries that EXECUTE on construction (streaming AvailableNow
    * drains, embedder training) — plan inspection would run them. */
  private val eager = Set(
    "q29_stream_rollup", "q39_stream_upsert", "q47_stream_dedup",
    "q59_stream_join", "q72_stream_outer_join", "q44_label_match_w2v",
    "q89_stream_static_join", "q93_stream_scd2", "q95_stream_late_data",
    "q100_stream_ingest", "q101_stream_ewma", "q112_stream_hll",
    "q148_label_match_cooc", // cooc fit collects its vocab on construction
    "q150_stream_retrieval", // AvailableNow drain runs on construction
    "q227_stream_quantiles") // AvailableNow drain runs on construction

  /** Broadcast similarity scans (reference side catalog-sized by
    * contract, guarded in Ann — the nested loop IS the plan),
    * plus single-row scalar broadcasts (corpus stats in q60/q61: a
    * 1-row build side makes BNLJ the optimal join) and q22's
    * intentionally bounded 40×40 pair demo. */
  private val intentionalNestedLoop = Set(
    "q25_knn_bruteforce", "q27_lsh_neardup", "q32_ivf_topk",
    "q22_ngram_jaccard", "q60_bm25", "q61_mixture_resample",
    "q73_corpus_pipeline",
    "q86_unigram_logprob", // 1-row corpus-total broadcast, like q60
    "q99_hard_negatives",  // bruteForceTopK broadcast scan, like q25
    "q104_bigram_logprob", // 1-row corpus-total broadcast, like q86
    "q105_tfidf_keywords", // 1-row doc-count broadcast, like q86
    "q110_kmeans",         // 1-row folded-centroid broadcast per iteration
    "q114_mixture_quota",  // 1-row total/leftover broadcasts
    "q116_skew_report",    // 1-row total broadcast
    "q119_rank_fusion",    // brute-force + int8 broadcast scans, like q25
    "q120_shard_manifest", // quota stage's 1-row broadcasts, like q114
    "q121_semantic_neardup", // kmeansMicro's 1-row centroid broadcast, like q110
    "q128_matryoshka_recall", // two bruteForceTopK broadcast scans, like q25
    "q145_semantic_decontaminate", // bruteForceTopK vs the benchmark-sized eval set, like q25
    "q147_retrieval_cascade", // three broadcast similarity tiers, like q25/q128
    "q149_ivf_cascade",       // kmeansMicro centroid folds + probe/tail broadcasts
    "q132_pmi_collocations", // 1-row bigram/token-total broadcasts, like q86
    "q167_mmr_selection",    // 1-row query + <= k picked-vector broadcasts
    "q172_kcore",            // mutualKnnEdges broadcast cosine scan, like q25
    "q174_hits",             // 1-row L-inf max broadcast per half-round, like q110
    "q178_ams_join_size",    // two 1-row sketch totals crossed, like q116
    "q186_association_rules", // 1-row basket-count broadcast, like q86
    "q187_expectations",     // 1-row total crossed onto the FK orphan row
    "q201_cuped",            // 1-row midpoint + pooled-moments broadcasts
    "q203_rfm_segments",     // 1-row global-max + quintile-bounds broadcasts
    "q210_autocorrelation",  // 1-row series-total + denominator broadcasts
    "q211_ndcg_matryoshka",  // two bruteForceTopK broadcast scans, like q128
    "q215_mrr_matryoshka",   // two bruteForceTopK broadcast scans, like q128
    "q212_ks_drift",         // 1-row min-day + sample-total broadcasts
    "q213_cusum_changepoint", // 1-row series-total + peak broadcasts
    "q218_token_drift",       // 1-row era-total broadcast, like q86
    "q220_modularity",        // 1-row edge-count broadcast
    "q228_lorenz_deciles",    // 1-row n/total broadcast onto ranks
    "q243_stupid_backoff",    // 1-row (N, V) totals broadcast, like q86
    "q281_ppl_buckets",       // the q243 totals inside the bucketing spine
    "q282_epoch_allocation",  // q243 totals + 1-row budget broadcast
    "q290_epoch_schedule",    // the q282 alloc spine's 1-row broadcasts
    "q248_dsir_resample",     // 1-row target/raw token-total broadcasts
    "q249_curation_pipeline_v4", // the q248 totals inside the capstone
    "q274_curation_pipeline_v5", // q249's totals + the langid model broadcasts
    "q254_cms_backoff",       // 1-row exact-N broadcast beside the sketches
    "q298_margin_mining",     // two bruteForceTopK broadcast scans, like q128
    "q299_mauve_frontier",    // kmeansMicro centroid folds + 1-row totals/λ-grid
    "q301_hamming_rerank",    // broadcast code scan + rerank, like q256
    "q302_kneser_ney",        // 1-row (B, V) totals broadcast, like q243
    "q305_lm_interp_sweep",   // q302's totals + the catalog-sized λ grid
    "q306_eb_source_prior",   // 1-row corpus-total broadcast, like q116
    "q256_pq_adc_topk",       // broadcast exact-rank scan, like q25
    "q257_ivf_pq_topk",       // centroid-fold + exact-rank broadcasts, like q149/q256
    "q265_ivf_pq_residual",   // same tiers as q257, residual codebooks
    "q266_pq_recall_audit",   // four q257/q265-shaped boards, rolled up
    "q273_ivf_pq_rerank",     // q265's tiers + the exact refine tail
    "q269_datasheet_v2",      // 1-row fragment broadcasts onto the card, like q262
    "q289_datasheet_v3",      // the q269 card + 1-row fertility/LM fragments
    "q259_hll_overlap",       // tiny group-list pair cross, broadcast
    "q261_temperature_mixture", // 1-row weight-total/leftover broadcasts, like q114
    "q262_corpus_datasheet",  // 1-row dominant-source broadcast onto the card
    "q263_langid_trained",    // L-row gram-total + 1-row doc-total model broadcasts
    "q264_langid_confusion",  // same trained-langid model spine as q263
    "q276_langid_planted",    // q263's model broadcasts over corpus + plants
    "q278_opq_audit",         // two q266-shaped PQ boards + exact-rank scans
    "q280_graph_ann")         // exact-rank broadcast scan beside the beam walk, like q25

  /** Queries whose plan legitimately carries a GLOBAL window (empty
    * partitionSpec ⇒ a one-task sort of the window's input) over a
    * table that is bounded by construction. A SinglePartition
    * exchange alone is NOT flagged: global aggregates finalize on one
    * partition whose input is partial-aggregate-sized
    * (q56/q60/q61/q73/q86's corpus stats) — benign by construction. */
  private val intentionalGlobalWindow = Set(
    "q114_mixture_quota", // remainder rank over the catalog-sized quota table
    "q261_temperature_mixture", // same remainder rank, temperature weights
    "q120_shard_manifest", // same quota stage inside the capstone
    // prefix-sum over the per-distinct-score table: micro-quantized
    // probabilities cap its input at 1,000,001 rows whatever the
    // corpus size — bounded by construction, never a corpus sort
    "q162_quality_auc",
    // running max over |distinct x| skyline candidates — bounded by
    // the quantized x domain, the point mass collapses upstream
    "q182_pareto_frontier",
    // ECDF prefix-sum over per-distinct-cents count rows — bounded
    // by the quantized value domain (the q162 shape)
    "q212_ks_drift",
    // CUSUM prefix-sum over the day-grain series — bounded by the
    // time-bucket domain
    "q213_cusum_changepoint",
    // quality rank + greedy-fill prefix sum over the per-SOURCE
    // stats table — catalog-sized by construction, like q114
    "q282_epoch_allocation",
    // the same alloc spine inside the epoch schedule
    "q290_epoch_schedule")

  test("no batch query plans a CartesianProduct; nested loops only where intended") {
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (!eager.contains(name)) {
        val executed = fn(spark, sfDir).queryExecution.executedPlan
        val plan = executed.toString
        if (plan.contains("CartesianProduct"))
          offenders += s"$name: CartesianProduct"
        if (plan.contains("BroadcastNestedLoopJoin") &&
            !intentionalNestedLoop.contains(name))
          offenders += s"$name: BroadcastNestedLoopJoin"
        val globalWindows = executed.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec
              if w.partitionSpec.isEmpty => w
        }
        if (globalWindows.nonEmpty && !intentionalGlobalWindow.contains(name))
          offenders += s"$name: global window (one-task sort)"
      }
    }
    offenders shouldBe empty
  }

  test("flagship variants leave the session CacheManager empty (q44 three times)") {
    // q44 fits a fresh vocabulary per call, so a cached reference could
    // never be found again: every call would add an InMemoryRelation
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    spark.catalog.clearCache()
    (1 to 3).foreach(_ => SparkEntry.queries("q44_label_match_w2v")(spark, sfDir).collect())
    Seq("q24_label_match_report", "q40_label_match_frozen", "q148_label_match_cooc")
      .foreach(q => SparkEntry.queries(q)(spark, sfDir).collect())
    cache.isEmpty shouldBe true
  }
}
