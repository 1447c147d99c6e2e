package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.embed.HashingEmbedder
import graft.functions.GraftUdfs
import graft.operators.{Analyze, Ann, Bpe, Cluster, Dedup, Graph, Matcher, Multimodal, Scrub, Sketch, TextAnalysis, UrlOps}
import graft.streaming.StreamOps

/** Structured-streaming and multimodal queries: windows, stateful joins, streaming sketches and dedup gates, binary-payload decode paths. */
private[graft] trait EntryStreamingQueries { this: SparkEntry.type =>

  /** The hourly rollup run THROUGH the Structured Streaming engine
    * (AvailableNow → memory sink); oracle-checked against the same
    * batch SQL as q14 — stream/batch parity, proven. */
  private[graft] def q29(s: SparkSession, dir: String): DataFrame =
    StreamOps.runHourlyRollupAvailableNow(s, dir)
      .orderBy("hour", "event_type")

  /** Streaming conversion funnel ([[StreamOps.streamingFunnel]]):
    * per-user state machine across two time-split micro-batches,
    * emitting a row the moment view→click→purchase completes; equals
    * the batch chained-min funnel (q62) restricted to completions. */
  private[graft] def q81(s: SparkSession, dir: String): DataFrame =
    StreamOps.runStreamingFunnelAvailableNow(s, dir,
        Seq("view", "click", "purchase"))
      .orderBy("user_id")

  /** REAL image codec through the multimodal seam: deterministic
    * grayscale PNGs (closed-form pixels from doc_id) are encoded AND
    * decoded with javax.imageio under the one-codec-init-per-partition
    * batch contract; the oracle recomputes width/height/pixel-sum from
    * the generating formula, so a lossy or broken round trip breaks
    * the hash ([[Multimodal.withGrayPngPayload]] /
    * [[Multimodal.decodePngFeaturesBatched]]). */
  private[graft] def q83(s: SparkSession, dir: String): DataFrame = {
    val withPng = Multimodal.withGrayPngPayload(
      t(s, dir, "documents").select(col("doc_id")), "doc_id")
    Multimodal.decodePngFeaturesBatched(withPng, "payload")
      .select(col("doc_id"), col("width"), col("height"), col("px_sum"))
      .orderBy("doc_id")
  }

  /** REAL image resize through the multimodal seam: q83's
    * deterministic gray PNGs decoded and nearest-neighbour resized
    * to 8×6 ([[Multimodal.resizePngBatched]] — exact integer index
    * map `src = (dst·size) div outSize`), with the resized raster's
    * pixel sum recomputed by the oracle from the generating formula
    * alone. Completes the decode / feature-extract / RESIZE /
    * frame-sample family with a real, hash-certified member (the
    * byte-stride stub stays as the seam for codecs this container
    * lacks). */
  private[graft] def q146(s: SparkSession, dir: String): DataFrame = {
    val withPng = Multimodal.withGrayPngPayload(
      t(s, dir, "documents").select(col("doc_id")), "doc_id")
    Multimodal.resizePngBatched(withPng, "payload", outW = 8, outH = 6)
      .select(col("doc_id"), col("out_width"), col("out_height"),
        col("out_px_sum"))
      .orderBy("doc_id")
  }

  /** IMAGE near-dup dedup, end to end through the REAL codec: q83's
    * deterministic gray PNGs in a planted-group variant (four
    * consecutive ids share a base image, each perturbing one pixel —
    * [[Multimodal.withGrayPngGroupPayload]]) are decoded and
    * perceptually fingerprinted by integer average-hash
    * ([[Multimodal.aHashPngBatched]], 10×6 cells = 60 bits), then
    * paired by the SAME slice-blocked hamming tier the text SimHash
    * path uses ([[Dedup.hammingNearDupPairs]]) — the multimodal ×
    * dedup capstone: image dedup is fingerprint + the existing
    * blocking infrastructure, not a new join. The oracle recomputes
    * every pixel, cell threshold, packed hash and slice join
    * closed-form, so a lossy decode, a pooling off-by-one or a
    * blocking drift all break the hash. Planted groups sit at
    * hamming ≤ ~4 while distinct bases scatter far above the
    * threshold; group size is fixed at 4, so pair output stays
    * LINEAR in corpus size at any SF. */
  private[graft] def q207(s: SparkSession, dir: String): DataFrame = {
    val withPng = Multimodal.withGrayPngGroupPayload(
      t(s, dir, "documents").select(col("doc_id")), "doc_id")
    val sigs = Multimodal.aHashPngBatched(withPng, "payload",
        blocksX = 10, blocksY = 6)
      .select(col("doc_id"), col("ahash"))
    Dedup.hammingNearDupPairs(sigs, "doc_id", "ahash", maxHamming = 6)
      .orderBy("id_a", "id_b")
  }

  /** REAL audio codec through the multimodal seam: deterministic
    * 8 kHz PCM-16 waveforms (closed-form samples from doc_id) are
    * RIFF/WAVE-encoded and parsed back with the chunk-walking codec
    * ([[Multimodal.withPcmWavPayload]] /
    * [[Multimodal.wavFeaturesBatched]]) under the
    * one-codec-init-per-partition batch contract — the writer plants
    * a JUNK chunk between fmt and data, so a parser that assumed the
    * fixed 44-byte layout would mis-read every payload. The oracle
    * recomputes duration/peak/energy stats from the generating
    * formula alone (exact integer arithmetic end to end): a lossy or
    * misaligned round trip breaks the hash. Extends the multimodal
    * family (q31/q83/q146) from image to audio with a real codec. */
  private[graft] def q153(s: SparkSession, dir: String): DataFrame = {
    val withWav = Multimodal.withPcmWavPayload(
      t(s, dir, "documents").select(col("doc_id")), "doc_id")
    Multimodal.wavFeaturesBatched(withWav, "payload")
      .select(col("doc_id"), col("sample_rate"), col("n_samples"),
        col("duration_us"), col("peak_abs"), col("sum_sq"), col("sum_abs"))
      .orderBy("doc_id")
  }

  /** REAL video demux through the multimodal seam: deterministic
    * GRV1 raw-video payloads (closed-form pixels from doc_id) are
    * container-encoded, then header-parsed and STRIDE-SAMPLED by the
    * per-partition demuxer ([[Multimodal.withGrayVideoPayload]] /
    * [[Multimodal.videoFrameStatsBatched]]): every 2nd frame's pixel
    * sum, one bounded stat row per sampled frame (rasters never
    * shuffle). The oracle recomputes each sampled frame's sum from
    * the generating formula alone. Completes the multimodal family:
    * image (q83/q146), audio (q153), video frame-sampling (this). */
  private[graft] def q158(s: SparkSession, dir: String): DataFrame = {
    val withVid = Multimodal.withGrayVideoPayload(
      t(s, dir, "documents").select(col("doc_id")), "doc_id")
    Multimodal.videoFrameStatsBatched(withVid, "doc_id", "payload",
        stride = 2)
      .orderBy("doc_id", "frame_idx")
  }

  /** Streaming Holt double-exponential smoothing
    * ([[StreamOps.streamingHolt]], α = β = 0.25): level + trend as
    * two doubles of per-key state across micro-batches — the
    * trend-aware upgrade of q101's EWMA, same bit-faithful-state
    * discipline. The oracle replays the exact two-expression
    * recursion in a recursive CTE, so the hash proves both state
    * doubles cross micro-batch boundaries bit-for-bit. */
  private[graft] def q166(s: SparkSession, dir: String): DataFrame =
    StreamOps.runStreamingHoltAvailableNow(s, dir,
        alpha = 0.25, beta = 0.25)
      .orderBy("user_id", "ts_us", "event_id")

  /** STREAMING Holt-Winters additive-seasonal smoothing
    * ([[StreamOps.streamingHoltWinters]]): level + trend + a
    * 24-slot seasonal vector per event type over the hourly
    * value-cents series, state carried across two staged waves; the
    * oracle replays the whole recursion — seasonal vector included —
    * as a DuckDB recursive CTE carrying the vector as a list,
    * bit-exactly (binary-exact α=0.25, β=0.125, γ=0.25). */
  private[graft] def q183(s: SparkSession, dir: String): DataFrame =
    StreamOps.runStreamingHoltWintersAvailableNow(s, dir,
        period = 24, alpha = 0.25, beta = 0.125, gamma = 0.25)
      .orderBy("event_type", "rn")

  /** STREAMING data-quality drift monitor
    * ([[StreamOps.runStreamingDriftMonitorAvailableNow]]): per crawl
    * wave, one stateless micro-batch aggregate of exact integer
    * corpus-health counters (docs, chars, words, alpha chars,
    * stopwords, q154-label positives) — the at-ingest monitoring row
    * a pipeline alerts on before training reads the wave. The
    * oracle restates the wave as a function of doc_id and re-sums. */
  private[graft] def q164(s: SparkSession, dir: String): DataFrame =
    StreamOps.runStreamingDriftMonitorAvailableNow(s, dir)
      .orderBy("wave")

  /** STREAMING quality gate
    * ([[StreamOps.runStreamingQualityGateAvailableNow]]): the
    * q154/q155 classifier trained once in batch, then scoring two
    * staged crawl waves as a stateless per-micro-batch projection —
    * train offline, gate online. The oracle retrains the 8 GD rounds
    * from raw text and applies its own weights with the wave
    * restated as a pure function of doc_id, so the streamed board
    * provably equals the batch apply, trained model included. */
  private[graft] def q157(s: SparkSession, dir: String): DataFrame =
    StreamOps.runStreamingQualityGateAvailableNow(s, dir,
        lr = 4.0, iterations = 8)
      .orderBy("doc_id")

  /** Stream-static enrichment join
    * ([[StreamOps.streamStaticEnrich]]): each micro-batch broadcast-
    * joins a static customer dimension, then aggregates by (segment,
    * event type) — the stateless production enrichment shape, run
    * through the real engine against a plain batch-join oracle. */
  private[graft] def q89(s: SparkSession, dir: String): DataFrame =
    StreamOps.runStreamStaticEnrichAvailableNow(s, dir)
      .orderBy("c_mktsegment", "event_type")

  /** Streaming SCD type-2 ([[StreamOps.streamingScd2]]): per-key
    * state holds the open version; arriving changes close and emit
    * [valid_from, valid_to) rows incrementally. Oracle = the batch
    * q80 `lead()` form restricted to closed intervals. */
  private[graft] def q93(s: SparkSession, dir: String): DataFrame =
    StreamOps.runStreamingScd2AvailableNow(s, dir)
      .orderBy("user_id", "valid_from", "event_id")

  /** Watermark late-data semantics
    * ([[StreamOps.runLateDataRollupAvailableNow]]): planted late
    * arrivals must be dropped and only watermark-finalized windows
    * emit; the oracle states both effects in closed form. */
  private[graft] def q95(s: SparkSession, dir: String): DataFrame =
    StreamOps.runLateDataRollupAvailableNow(s, dir)._1
      .orderBy("win_start_us", "event_type")

  /** Streaming-ingest capstone
    * ([[StreamOps.runStreamIngestAvailableNow]]): two crawl waves
    * (originals, then a recrawl with planted PII on every 4th doc and
    * unchanged re-fetches on every 6th) flow scrub → length gate →
    * cross-batch dedup UNDER the engine; the oracle replays the chain
    * in batch over the same staged union. */
  private[graft] def q100(s: SparkSession, dir: String): DataFrame = {
    val staged = StreamOps.stagedDir(s, "singest", dir) {
      val d = t(s, dir, "documents")
      val planted = element_at(array(piiPlants.map(lit): _*),
        (col("doc_id") % 7 + 1).cast("int"))
      val v0 = d.select(col("doc_id"), lit(0L).as("version"), col("text"))
      val v1 = d.filter(col("doc_id") % 4 === 0)
        .select(col("doc_id"), lit(1L).as("version"),
          concat(col("text"), planted).as("text"))
        .unionByName(d.filter(col("doc_id") % 6 === 0 && col("doc_id") % 4 =!= 0)
          .select(col("doc_id"), lit(1L).as("version"), col("text")))
      Seq(v0, v1)
    }
    val nRedactions = Scrub.piiPatterns
      .map { case (c, _, _) => col(s"n_$c") }
      .reduce(_ + _)
    StreamOps.runStreamIngestAvailableNow(s, staged.path, minChars = 50)
      .select(col("doc_id"), col("version"), col("text_md5"),
        nRedactions.as("n_redactions"))
      .orderBy("doc_id", "version")
  }

  /** Streaming EWMA ([[StreamOps.streamingEwma]], α = 0.25): one
    * double of per-user state; the oracle replays the exact recursion
    * (recursive CTE, identical IEEE expression shape), so the hash
    * proves bit-faithful float state across micro-batches. */
  private[graft] def q101(s: SparkSession, dir: String): DataFrame =
    StreamOps.runStreamingEwmaAvailableNow(s, dir, alpha = 0.25)
      .orderBy("user_id", "ts_us", "event_id")

  /** Streaming cardinality: q108's HLL registers carried as PER-KEY
    * STREAMING STATE ([[graft.streaming.StreamOps
    * .streamingHllDistinct]]) — per-source distinct-token estimates
    * snapshotted after each crawl wave, O(m) state per key. The
    * register math bit-matches the batch sketch, so a batch oracle
    * over each wave's cumulative prefix hash-matches the streamed
    * snapshots exactly. */
  private[graft] def q112(s: SparkSession, dir: String): DataFrame =
    StreamOps.runStreamingHllAvailableNow(s, dir, p = 6, salt = "hll")
      .orderBy("source", "wave")

  /** STREAMING quantiles: q217's 2-significant-digit bucket
    * histogram as PER-KEY STREAMING STATE ([[graft.streaming
    * .StreamOps.streamingLogBucketQuantiles]]) — per-event-type
    * p50/p90/p99 snapshots after each wave, ≤90 cells/decade of
    * state whatever the stream length. Bucket and rank rules are
    * the identical integer arithmetic as the batch sketch, so the
    * cumulative-prefix batch oracle hash-matches every snapshot. */
  private[graft] def q227(s: SparkSession, dir: String): DataFrame =
    StreamOps.runStreamingQuantilesAvailableNow(s, dir)
      .orderBy("event_type", "wave")

  /** STREAMING decontamination gate ([[StreamOps
    * .runStreamingDecontaminateAvailableNow]]): the q103 Bloom
    * pre-filter at crawl rate — eval 3-gram Bloom built once in
    * batch and folded into the plan as a bit-array literal
    * ([[graft.operators.Sketch.bloomProbeColumn]]), train docs
    * arriving as two staged waves, each micro-batch a PURE
    * PROJECTION (no state store, no shuffle). The oracle replays
    * every bit position; bit coordinates are shared with the batch
    * sketch, so stream ≡ batch exactly. */
  private[graft] def q142(s: SparkSession, dir: String): DataFrame =
    StreamOps.runStreamingDecontaminateAvailableNow(s, dir,
        numBits = 1024, numHashes = 3, salt = "sdecon")
      .orderBy("doc_id")

  /** BOUNDED-MEMORY streaming dedup ([[StreamOps
    * .streamingBloomDedup]]): per-shard Bloom BITS as the only
    * state — the crawl-rate answer to q47's exact digest state
    * (which grows linearly forever). Exact duplicates always flag;
    * the deterministic false-positive rate is the price of the O(1)
    * bound, and determinism makes even the FPs hash-checkable: the
    * oracle replays first-setter-wins per (shard, bit position) over
    * the same (wave, doc_id) fold order. */
  private[graft] def q143(s: SparkSession, dir: String): DataFrame =
    // 64k bits/shard = 64 KB total state: sized so the fill stays
    // meaningful at BOTH harness SFs (~2% at sf0.01, ~32% at sf0.1 —
    // FP rate 7e-6 / 3e-2) instead of saturating; the production rule
    // is bits ~ 10x expected distinct digests per shard
    StreamOps.runStreamingBloomDedupAvailableNow(s, dir,
        numBits = 65536, numHashes = 3, salt = "bdedup", shards = 8)
      .orderBy("doc_id")

  /** Streaming Count-Min ([[StreamOps.streamingCountMin]]): the CMS
    * cell table as per-source streaming state over the same two-wave
    * token staging as q112; per (source, wave, probe) estimates
    * bit-match the batch sketch over the wave's cumulative prefix. */
  private[graft] def q129(s: SparkSession, dir: String): DataFrame =
    StreamOps.runStreamingCountMinAvailableNow(s, dir,
        depth = 4, width = 16, salt = "cms",
        probes = Seq("data", "of", "the"))
      .orderBy("source", "wave", "probe")

  /** Streaming per-source admission quota
    * ([[StreamOps.perSourceQuota]]): at most 15 docs per source
    * ACROSS two staged crawl waves — one long of state per key,
    * deterministic (batch, doc_id) admission order, mirrored by the
    * oracle's row_number over (version, doc_id). */
  private[graft] def q76(s: SparkSession, dir: String): DataFrame =
    StreamOps.runPerSourceQuotaAvailableNow(s, dir, quota = 15L)
      .orderBy("doc_id")

  /** LEFT-OUTER stream-stream interval join through the engine:
    * unmatched purchases emit null click columns only on
    * watermark-driven state eviction (sentinel micro-batches advance
    * the watermark past all real data — see
    * [[StreamOps.runClickAttributionOuterAvailableNow]]). */
  private[graft] def q72(s: SparkSession, dir: String): DataFrame =
    StreamOps.runClickAttributionOuterAvailableNow(s, dir, windowMinutes = 120)
      .orderBy("purchase_id", "click_id")

  /** Native `session_window` gap sessions (the built-in SessionWindow
    * operator, vs q30's window-function formulation). The gap is
    * INCLUSIVE — an event at exactly prev+gap merges (pinned by
    * StreamOpsSpec's exact-gap case), the same `> gap` split rule as
    * the oracle's lag/cumsum form; `end = last event + gap`. */
  private[graft] def q70(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 1000).cast("long")).as("value_milli"))
      .select(col("user_id"),
        date_format(col("sw.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("sw.end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n_events"), col("value_milli"))
      .orderBy("user_id", "session_start")

  /** Stream-stream interval join run THROUGH the streaming engine
    * (click attribution: purchase × all that user's clicks in the
    * trailing 2 h; watermark-bounded join state on both sides) —
    * oracle-checked against the equivalent batch interval-join SQL. */
  private[graft] def q59(s: SparkSession, dir: String): DataFrame =
    StreamOps.runClickAttributionAvailableNow(s, dir, windowMinutes = 120)
      .orderBy("purchase_id", "click_id")

  /** Multimodal plumbing: opaque binary payload + typed metadata
    * (byte length, digest, magic bytes, frame count). */
  private[graft] def q31(s: SparkSession, dir: String): DataFrame =
    Multimodal.binaryMeta(
        Multimodal.withBinaryPayload(t(s, dir, "documents"), "text"),
        "payload", frameSize = 256)
      .select("doc_id", "byte_len", "content_md5", "magic_hex", "n_frames")
      .orderBy("doc_id")

  /** STREAMING CDC merge ([[StreamOps.cdcStreamMerge]]): the q192
    * changelog applied as two seq-ordered micro-batch waves against
    * a bucketed parquet target — max-seq-wins per key, winning
    * deletes REMOVE the key (the tombstone path no other streaming
    * op exercised), only touched buckets rewrite per batch. The
    * final target summarizes per status against the SAME full
    * post-image oracle as q192/q196 — three computation paths
    * (batch merge, incremental view, streaming merge), one answer. */
  private[graft] def q204(s: SparkSession, dir: String): DataFrame = {
    val (base, changes) = cdcFixture(s, dir)
    val work = WorkDirs.create("graft_cdc_run_")
    val staging = s"$work/staging"
    new java.io.File(staging).mkdirs()
    base.select(col("o_orderkey"), lit(Long.MinValue).as("seq"),
        lit("I").as("op"), col("o_orderstatus"), col("price_cents"))
      .withColumn("bucket", pmod(col("o_orderkey"), lit(16L)))
      .write.partitionBy("bucket").parquet(s"$work/target")
    StreamOps.stageVersionFile(changes.filter(col("seq") === 1),
      s"$staging/w0.parquet")
    StreamOps.stageVersionFile(changes.filter(col("seq") === 2),
      s"$staging/w1.parquet")
    StreamOps.cdcStreamMerge(s, staging, s"$work/target", s"$work/ckpt")
    s.read.parquet(s"$work/target")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("price_cents")).as("sum_cents"))
      .orderBy("o_orderstatus")
  }

  /** Incremental embedding upsert through Structured Streaming
    * (SURVEY §2.9's last planned extension): three staged versions of
    * the documents table arrive one micro-batch each; only arriving
    * rows are embedded; the parquet target is merged with
    * max-version-wins (order-independent, so the streaming result
    * equals the batch SQL oracle). Checked columns are the winning
    * (doc_id, version, content md5) plus the embedding width — the
    * dimension contract on the incrementally-embedded column. */
  private[graft] def q39(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val work = WorkDirs.create("graft_upsert_run_")
    val staging = s"$work/staging"
    new java.io.File(staging).mkdirs()
    StreamOps.stageVersionFile(
      docs.select(col("doc_id"), lit(0L).as("version"), col("text")),
      s"$staging/v0.parquet")
    StreamOps.stageVersionFile(
      docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), lit(1L).as("version"),
          concat(col("text"), lit(" v1")).as("text")),
      s"$staging/v1.parquet")
    StreamOps.stageVersionFile(
      docs.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), lit(2L).as("version"),
          concat(col("text"), lit(" v2")).as("text")),
      s"$staging/v2.parquet")
    val target = s"$work/target"
    StreamOps.embeddingUpsert(s, staging, target, s"$work/ckpt",
      new HashingEmbedder(dim = 64))
    s.read.parquet(target)
      .select(col("doc_id"), col("version"),
        md5(col("text")).as("content_md5"),
        size(col("embedding")).cast("long").as("emb_dim"))
      .orderBy("doc_id")
  }

  /** Streaming exact dedup across micro-batches (first-arrival wins,
    * watermark-bounded digest state): v0 = the exact-deduped document
    * snapshot; v1 = a re-crawl where every third doc is unchanged
    * (suppressed by the stream's digest state) and the rest are edits
    * (new digests — kept). Deterministic by construction: digests are
    * unique within each staged file, so the kept set is exactly
    * first-arrival per digest whatever the in-batch row order. */
  private[graft] def q47(s: SparkSession, dir: String): DataFrame = {
    val staged = StreamOps.stagedDir(s, "sdedup", dir) {
      val w = Window.partitionBy(col("__h")).orderBy(col("doc_id"))
      val v0 = t(s, dir, "documents").withColumn("__h", md5(col("text")))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("doc_id"), lit(0L).as("version"), col("text"))
      val v1 = v0.select(col("doc_id"), lit(1L).as("version"),
        when(col("doc_id") % 3 === 0, col("text"))
          .otherwise(concat(col("text"), lit(" v1"))).as("text"))
      Seq(v0, v1)
    }
    StreamOps.runStreamingDedupAvailableNow(s, staged.path)
      .select(col("doc_id"), col("version"), col("text_md5"))
      .orderBy("doc_id", "version")
  }

  /** Online retrieval serving
    * ([[StreamOps.runStreamingRetrievalAvailableNow]]): the q147
    * cascade driven by a QUERY STREAM against the static corpus —
    * two staged query waves, each micro-batch answered with the full
    * certified prefix → int8 → exact tiers and appended. Stateless
    * per query, so the streamed board equals the batch cascade
    * exactly; the oracle is q147's replay plus the wave column
    * (a pure function of q_id under the staged split). */
  private[graft] def q150(s: SparkSession, dir: String): DataFrame =
    StreamOps.runStreamingRetrievalAvailableNow(s, dir,
        prefixDim = 32, c1 = 100, c2 = 30, k = 5)
      .orderBy("q_id", "rank")

  /** STREAMING weighted sample
    * ([[StreamOps.runStreamingWeightedSampleAvailableNow]]): the
    * q171 A-ES sample maintained across two crawl waves — a running
    * top-k over pure deterministic keys, so the stream provably
    * equals the batch sample of everything seen so far at EVERY
    * wave. Driver state is k triples whatever the stream length (the
    * reservoir memory contract); the oracle restates each wave's
    * snapshot as a batch top-k over that wave's prefix. */
  private[graft] def q173(s: SparkSession, dir: String): DataFrame =
    StreamOps.runStreamingWeightedSampleAvailableNow(s, dir,
        k = 20, salt = "wsr173")
      .orderBy(col("wave"), col("key_micro").desc, col("doc_id"))

  /** Streaming HTML main-content extraction
    * ([[StreamOps.runStreamingHtmlExtractAvailableNow]]): the q235
    * extraction — a pure projection since the round-13 `aggregate`
    * rollup — run per micro-batch over two staged crawl waves of the
    * SAME planted markup corpus; no state store, no watermark, no
    * shuffle. Shares q235's oracle verbatim: two engine paths, one
    * answer. */
  private[graft] def q240(s: SparkSession, dir: String): DataFrame =
    StreamOps.runStreamingHtmlExtractAvailableNow(s, dir,
        htmlCorpus(s, dir), minChars = 10, maxLinkDensityMicros = 300000L)
      .orderBy("doc_id")

  /** Streaming blocklist gate
    * ([[StreamOps.runStreamingBlocklistGateAvailableNow]]): the q244
    * Aho-Corasick dictionary screen applied per micro-batch over two
    * staged crawl waves of the same corpus + spam plants — stateless,
    * no state store; the at-ingest policy gate beside the q157
    * trained quality gate. The oracle restates the batch replace
    * arithmetic with the wave as `(doc_id // 20) % 2`. */
  private[graft] def q247(s: SparkSession, dir: String): DataFrame =
    StreamOps.runStreamingBlocklistGateAvailableNow(s, dir,
        spamPlants, blocklistPatterns, maxHits = 1)
      .orderBy("doc_id")

  /** Streaming topic-mixture monitor
    * ([[StreamOps.runStreamingTopicMonitorAvailableNow]]): the q252
    * keyword tagger per micro-batch, one (wave, topic, n_docs) row
    * per crawl wave — the at-ingest mixture alert. The oracle
    * replays the generated per-category sums and argmax with the
    * wave restated as `(doc_id // 20) % 2`. */
  private[graft] def q255(s: SparkSession, dir: String): DataFrame =
    StreamOps.runStreamingTopicMonitorAvailableNow(s, dir, topicCategories)
      .orderBy("wave", "topic")

  /** Streaming DSIR gate
    * ([[StreamOps.runStreamingDsirGateAvailableNow]]): the q248
    * importance model fitted offline, each crawl wave scored against
    * the FROZEN bucket counts per micro-batch and gated at
    * weight >= 0 ("more target-like than the raw average") — data
    * SELECTION at ingest, beside the q157 quality gate and the q247
    * policy gate. The oracle rebuilds the model from the same mod-7
    * split and scores every doc with both-side add-one smoothing,
    * the wave restated as (doc_id // 20) % 2. */
  private[graft] def q258(s: SparkSession, dir: String): DataFrame =
    StreamOps.runStreamingDsirGateAvailableNow(s, dir, thresholdMicros = 0L)
      .orderBy("doc_id")

  /** Streaming LANGUAGE-ID gate
    * ([[StreamOps.runStreamingLangIdGateAvailableNow]]): the
    * q263-trained NB langid model applied per crawl-wave micro-batch
    * as one stateless fused projection (weights inside the
    * expression — fastText-style), each doc kept iff its predicted
    * language ∈ {en} — the FIRST gate of every multilingual corpus
    * pipeline, now trained, frozen, and running at ingest beside the
    * q157 quality / q247 policy / q258 DSIR gates. The oracle
    * retrains the model and restates the scoring chain with the wave
    * as a pure function of doc_id. */
  private[graft] def q272(s: SparkSession, dir: String): DataFrame =
    StreamOps.runStreamingLangIdGateAvailableNow(s, dir, Seq("en"))
      .orderBy("doc_id")

  /** Streaming IVF-PQ index maintenance
    * ([[StreamOps.ivfPqIndexUpsert]] via
    * [[StreamOps.runStreamingPqIndexAvailableNow]]): arriving vectors
    * coarse-assigned AND PQ-encoded against FROZEN codebooks inside
    * each micro-batch, merged max-version-wins into the
    * cell-partitioned index with only touched cells rewritten — the
    * LSM-style updatable ANN index, code tier included (q257/q265's
    * tiers as frozen operating parameters). Every 7th vector arrives
    * re-embedded in wave 2, so cell migrations and the staleness
    * contract (old-cell rows linger until compaction) are inside the
    * hashed result. The oracle retrains both tiers and replays
    * assignment, encoding, and the per-(cell, doc) merge. */
  private[graft] def q279(s: SparkSession, dir: String): DataFrame =
    StreamOps.runStreamingPqIndexAvailableNow(s, dir)
      .select(col("cell"), col("vec_id"), col("version"),
        posexplode(col("codes")).as(Seq("sub", "code")))
      .orderBy("cell", "vec_id", "version", "sub")

  /** Streaming graph-ANN serving
    * ([[StreamOps.runStreamingGraphServeAvailableNow]]): q280's
    * fixed-hop beam walk over the FROZEN NN-descent index, run inside
    * each query micro-batch — the serving half of the graph tier,
    * beside q150 (cascade serving) and q279 (index maintenance). The
    * walk is stateless given the frozen graph, so streaming ≡ batch
    * per query by construction; the oracle replays the q280 chain
    * over the full query set and derives the wave from the id.
    * Exact ranks stay inside the hashed result (graph recall measured
    * at serve time, per wave). */
  private[graft] def q284(s: SparkSession, dir: String): DataFrame =
    StreamOps.runStreamingGraphServeAvailableNow(s, dir,
        degree = 16, rounds = 2, beam = 16, hops = 4, topK = 5)
      .orderBy("q_id", "rank")

  /** Streaming mixture-QUOTA admission gate
    * ([[StreamOps.streamingQuotaGate]]): q261's temperature quotas
    * (budget 123, α = 0.7 — the identical fitted table) enforced at
    * ingest with one admitted-counter per source as streaming state.
    * Wave 2 docs of a source whose quota wave 1 already filled are
    * rejected ON ARRIVAL — admission position and the reject flag
    * both inside the hash. The oracle refits the quota chain and
    * replays admission as a per-source (wave, doc_id) rank. */
  private[graft] def q287(s: SparkSession, dir: String): DataFrame =
    StreamOps.runStreamingQuotaGateAvailableNow(s, dir,
        budget = 123L, alpha = 0.7)
      .select(col("doc_id"), col("source"), col("wave"),
        col("admitted"), col("adm_rank"))
      .orderBy("doc_id")

  /** Streaming semantic-drift monitor
    * ([[StreamOps.runStreamingSemanticDriftAvailableNow]]): q299's
    * quantized-KL mixture frontier evaluated at ingest against a
    * FROZEN reference model — each wave of label≥5 embeddings is
    * assigned to the label<5 corpus's k-means centroids
    * (exact-integer argmin, bit-identical to training) and its cell
    * histogram diverged against the frozen reference histogram. The
    * oracle retrains the reference rounds and replays assignment +
    * frontier per wave. */
  private[graft] def q303(s: SparkSession, dir: String): DataFrame =
    StreamOps.runStreamingSemanticDriftAvailableNow(s, dir, k = 8,
        iterations = 2, grid = 8)
      .orderBy("wave", "lambda_num")

  /** Streaming incremental near-dup ADMISSION
    * ([[StreamOps.runStreamingNeardupGateAvailableNow]] over
    * [[graft.operators.Dedup.neardupAdmission]]): the delta-dedup
    * gate every incremental crawl needs — arriving docs probe the
    * FROZEN corpus LSH index (band-bucket join, never the corpus)
    * and are admitted only when their best collided partner agrees
    * on < 6 of 8 signature slots. Three planted arrival classes
    * (near-dup edits, exact resends, novel pages) certify the
    * discrimination inside the hash: resends collide at agree 8,
    * edits collide high, novels pass untouched. The oracle rebuilds
    * both signature sets, replays the band probes and the agreement
    * argmax. */
  private[graft] def q292(s: SparkSession, dir: String): DataFrame =
    StreamOps.runStreamingNeardupGateAvailableNow(s, dir,
        rejectAgree = 6)
      .orderBy("doc_id")
}
