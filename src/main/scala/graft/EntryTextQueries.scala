package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.embed.HashingEmbedder
import graft.functions.GraftUdfs
import graft.operators.{Analyze, Ann, Bpe, Cluster, Dedup, Graph, LinearModel, Matcher, Multimodal, Scrub, Sketch, TextAnalysis, UnigramLm, UrlOps}
import graft.streaming.StreamOps

/** Text-analysis and NLP queries: the clean-token pipeline, quality scoring, language id, LM scores, TF-IDF/BM25, BPE training, fingerprints. */
private[graft] trait EntryTextQueries { this: SparkEntry.type =>

  /** Whitespace/punctuation-robust content fingerprint. */
  private[graft] def q16(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.fingerprints(t(s, dir, "documents"))
      .select("doc_id", "fingerprint")
      .orderBy("doc_id")

  /** Document quality metrics (codegen-only text scoring). */
  private[graft] def q17(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.qualityMetrics(t(s, dir, "documents"))
      .select("doc_id", "n_words", "mean_word_len", "alpha_ratio",
        "digit_ratio", "punct_ratio", "upper_ratio", "stopword_ratio",
        "quality_score")
      .orderBy("doc_id")

  /** Marker-token language identification. */
  private[graft] def q18(s: SparkSession, dir: String): DataFrame = {
    val langs = TextAnalysis.langMarkers.keys.toSeq.sorted
    TextAnalysis.languageId(t(s, dir, "documents"))
      .select(col("doc_id") +: langs.map(l => col(s"hits_$l")) :+ col("predicted_lang"): _*)
      .orderBy("doc_id")
  }

  /** Token budget statistics. */
  private[graft] def q19(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenStats(t(s, dir, "documents"))
      .select("doc_id", "ws_tokens", "subword_tokens", "chars_per_ws_token")
      .orderBy("doc_id")

  /** Winnowing rolling-hash fingerprints
    * ([[TextAnalysis.rollingFingerprints]], k=8 chars, w=5 windows)
    * exploded to (doc_id, fp) rows — the native one-pass kernel vs
    * the oracle's fully relational restatement of the same
    * arithmetic. */
  private[graft] def q77(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        explode(TextAnalysis.rollingFingerprints(col("text"), k = 8, w = 5))
          .as("fp"))
      .orderBy("doc_id", "fp")

  /** Corpus-trained unigram log-probability quality score
    * ([[TextAnalysis.unigramLogProb]]): per-token ln(freq/N) quantized
    * to integer micros so the per-doc sum is exact and
    * order-independent — perplexity-lite filtering as a two-aggregate
    * corpus pass. */
  private[graft] def q86(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.unigramLogProb(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  /** Overlapping token-window chunking ([[TextAnalysis.chunkTokens]]):
    * 32-token chunks, 8-token overlap, provenance columns — the
    * document → model-input preparation stage, hash-checked including
    * every chunk's text. */
  private[graft] def q88(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.chunkTokens(t(s, dir, "documents"), "doc_id", "text",
        chunkSize = 32, overlap = 8)
      .orderBy("doc_id", "chunk_id")

  /** Character-entropy quality signal ([[TextAnalysis.charEntropy]]):
    * exact integer-micro Shannon entropy per document — the
    * compression-ratio-style gibberish/filler detector of the quality
    * family (q17 heuristics, q86 unigram model, this). */
  private[graft] def q94(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.charEntropy(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  /** Interpolated bigram LM scoring ([[TextAnalysis.bigramLogProb]]):
    * q86's unigram scorer with one token of context, λ=0.75
    * Jelinek-Mercer backoff. The oracle replays the ordered-adjacency
    * extraction, all three count layers, and the exact IEEE
    * expression shape `0.75·(f2/fc) + 0.25·(f1/N)` inside the micro-
    * quantized ln. */
  private[graft] def q104(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bigramLogProb(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  /** Per-doc TF-IDF keyword extraction: top-5 terms by
    * `tf · round(ln(N/df)·10⁶)` with (score desc, term asc)
    * tie-break — the metadata-enrichment stage that tags every
    * curated document with its distinguishing terms. Integer-micro
    * idf keeps scores exactly ordinal cross-engine (no float-tie
    * ambiguity); df is one aggregate over DISTINCT (doc, term) rows,
    * the top-k is a doc-partitioned window (WindowGroupLimit prunes
    * to 5 per doc before the final sort). */
  private[graft] def q105(s: SparkSession, dir: String): DataFrame = {
    val counts = TextAnalysis.tokenCounts(t(s, dir, "documents"), "doc_id", "text")
    val nDocs = counts.select(countDistinct(col("doc_id")).as("__nd"))
    val dfreq = counts.groupBy(col("__tok")).agg(count(lit(1)).as("__df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_micros").desc, col("__tok").asc)
    counts.join(dfreq, Seq("__tok"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score_micros",
        round(log(col("__nd").cast("double") / col("__df").cast("double")) * 1e6)
          .cast("long") * col("__c"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("doc_id"), col("rank").cast("long").as("rank"),
        col("__tok").as("term"), col("__c").as("tf"), col("score_micros"))
      .orderBy("doc_id", "rank")
  }

  /** Compression-ratio quality signal ([[graft.functions
    * .DeflateLenExpr]]): the Gopher-tier junk detector — repetitive
    * machine text compresses far below natural language, random
    * noise barely compresses. DuckDB has no DEFLATE, so the oracle
    * certifies BOUNDS the codec must satisfy (comp within
    * [11, raw+64]; a 4× self-repeat compresses to well under twice
    * the single copy — the backreference property that IS the
    * signal), the q63 self-certification pattern; the exact ratio is
    * pinned by DeflateLenSpec. Upper length bound: DEFLATE's
    * backreference window is 32 KB, so the 4× self-concat can only
    * reference the previous copy when one copy fits in the window —
    * the repetition contract is asserted for docs under 30 KB and
    * longer docs are out of this signal's scope (both sides filter
    * identically). */
  private[graft] def q135(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.{toColumn, toExpression}
    def dlen(c: Column): Column =
      toColumn(graft.functions.DeflateLenExpr(toExpression(c)))
    t(s, dir, "documents").select(col("doc_id"), col("text"))
      .filter(expr("octet_length(text)") >= 200 &&
        expr("octet_length(text)") < 30000)
      .select(col("doc_id"),
        expr("octet_length(text)").cast("long").as("raw_bytes"),
        dlen(col("text")).cast("long").as("__c"),
        dlen(concat(col("text"), col("text"), col("text"), col("text")))
          .cast("long").as("__c4"))
      .select(col("doc_id"), col("raw_bytes"),
        (col("__c") >= 11L && col("__c") <= col("raw_bytes") + 64L)
          .as("comp_bounds_ok"),
        (col("__c4") < col("__c") * 2L + 32L).as("repetition_detected"))
      .orderBy("doc_id")
  }

  /** PMI collocations ([[TextAnalysis.pmiCollocations]]): corpus-wide
    * top-50 adjacent-pair collocations at min-count 5, PMI quantized
    * to integer micros with the oracle's identical expression tree. */
  private[graft] def q132(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.pmiCollocations(t(s, dir, "documents"), "doc_id", "text",
      minCount = 5L, topK = 50)

  /** Content-defined chunk dedup
    * ([[graft.operators.TextAnalysis.cdcChunks]], k=8, 2⁵ mask):
    * CDC-split the boilerplate corpus, hash every chunk, and report
    * per doc how many of its chunks are SHARED with another document
    * — the dedup-storage / RETRO-retrieval primitive beside q88's
    * fixed-window chunking. The planted 12-copy cluster shares every
    * chunk; edit-shifted docs keep their untouched chunks shared,
    * which fixed chunking loses past the first edit. */
  private[graft] def q115(s: SparkSession, dir: String): DataFrame = {
    val ch = corpusWithBoilerplate(s, dir)
      .select(col("doc_id"),
        explode(TextAnalysis.cdcChunks(col("text"), k = 8, maskBits = 5))
          .as("chunk"))
      .select(col("doc_id"), md5(col("chunk")).as("hh"),
        length(col("chunk")).as("clen"))
    val spread = ch.groupBy("hh")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    ch.join(spread, Seq("hh"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("n_docs") > 1, lit(1L)).otherwise(lit(0L)))
          .as("n_shared"),
        sum(col("clen").cast("long")).as("total_chars"))
      .orderBy("doc_id")
  }

  /** Corpus drift monitor: per-source token-distribution shift
    * between the two crawl waves — Jensen-Shannon divergence with
    * each token's contribution micro-quantized (one fixed double
    * expression per token over exact integer counts, `ln` parity
    * proven by the LM scorers) so the per-source SUM is an exact
    * long, order-independent, and hash-matches the DuckDB replay.
    * `new_types`/`lost_types` count vocabulary churn. One shuffle on
    * (source, tok), map-side-combined; wave totals join back
    * broadcast (sources are a catalog). */
  private[graft] def q118(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(col("source"), expr("(doc_id div 20) % 2").as("wave"),
        explode(split(lower(col("text")), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
    val cnt = toks.groupBy("source", "tok").agg(
      sum(when(col("wave") === 0, 1L).otherwise(0L)).as("ca"),
      sum(when(col("wave") === 1, 1L).otherwise(0L)).as("cb"))
    val tot = cnt.groupBy("source")
      .agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    val term = cnt.join(broadcast(tot), Seq("source"))
      .withColumn("__p", col("ca").cast("double") / col("na").cast("double"))
      .withColumn("__q", col("cb").cast("double") / col("nb").cast("double"))
      .withColumn("__t", round(lit(1000000) * (
        when(col("ca") > 0, lit(0.5) * col("__p")
          * log(lit(2.0) * col("__p") / (col("__p") + col("__q"))))
          .otherwise(lit(0.0))
        + when(col("cb") > 0, lit(0.5) * col("__q")
          * log(lit(2.0) * col("__q") / (col("__p") + col("__q"))))
          .otherwise(lit(0.0)))).cast("long"))
    term.groupBy("source").agg(
        max(col("na")).as("na"), max(col("nb")).as("nb"),
        sum(when(col("cb") > 0 && col("ca") === 0, 1L).otherwise(0L))
          .as("new_types"),
        sum(when(col("ca") > 0 && col("cb") === 0, 1L).otherwise(0L))
          .as("lost_types"),
        sum(col("__t")).as("jsd_micro"))
      .orderBy("source")
  }

  /** Duplicate 5-gram SPAN mass per document
    * ([[TextAnalysis.duplicateSpans]]) — the substring-level dedup
    * tier (Lee et al. 2021 ExactSubstr, n-gram-anchored): positions
    * whose 5-token gram repeats corpus-wide, merged into maximal
    * spans, reported as exact integer span counts/mass/fraction. */
  private[graft] def q122(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.duplicateSpans(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", n = 5)
      .orderBy("doc_id")

  /** BPE tokenizer training ([[graft.operators.Bpe.trainMerges]]):
    * 8 merge rounds over the corpus vocabulary. The word-frequency
    * table is aggregated once; the vocabulary fits the trainer's
    * driver budget, so the rounds run as the exact driver fold
    * (pair counts, (count DESC, lexical) argmax, greedy left-to-right
    * non-overlapping merge). The whole merge trajectory (winning
    * pair, its weighted count, and the post-merge corpus token count
    * per round) hash-matches a DuckDB oracle unrolling the same
    * rounds independently — argmax recomputed from the oracle's own
    * state, not replayed from learned literals. BpeSpec pins the
    * driver fold against the distributed fold and a brute-force
    * reference (PERF.md "Round 10 BPE trainer scale modes": 64
    * merges in 0.32 s on the driver against 24.5 s distributed,
    * identical merge list). */
  private[graft] def q123(s: SparkSession, dir: String): DataFrame =
    Bpe.trainMerges(t(s, dir, "documents"), "text", iterations = 8)
      .orderBy("iteration")

  /** Unicode NFC normalization
    * ([[graft.functions.NfcNormalizeExpr]]): canonical composition of
    * the mixed precomposed/decomposed text a real crawl delivers,
    * BEFORE any content hash treats the two byte forms as different
    * documents. Every third doc gets a decomposed suffix (combining
    * acute/tilde/diaeresis); the rest exercise the already-NFC fast
    * path. Codepoint counts before/after, the changed flag, and the
    * md5 of the normalized text hash-match DuckDB's native
    * `nfc_normalize`. */
  private[graft] def q124(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.{toColumn, toExpression}
    // DECOMPOSED on purpose: base letters + combining acute (U+0301),
    // tilde (U+0303), diaeresis (U+0308); NFC composes them to the
    // precomposed cafe/manana/zurich accented forms
    val suffix = " cafe\u0301 man\u0303ana zu\u0308rich"
    val messy = when(col("doc_id") % 3 === 0,
      concat(col("text"), lit(suffix))).otherwise(col("text"))
    t(s, dir, "documents")
      .select(col("doc_id"), messy.as("__m"))
      .withColumn("__n", toColumn(
        graft.functions.NfcNormalizeExpr(toExpression(col("__m")))))
      .select(col("doc_id"),
        length(col("__m")).cast("long").as("raw_cp"),
        length(col("__n")).cast("long").as("nfc_cp"),
        (col("__n") =!= col("__m")).as("changed"),
        md5(col("__n")).as("nfc_md5"))
      .orderBy("doc_id")
  }

  /** Per-GROUP heavy hitters: the Misra-Gries bounded-state sketch
    * ([[graft.functions.FreqItemsAgg]]) as one aggregate per source —
    * per-domain top terms with O(capacity) state per group. Counts
    * are exact here (vocabulary ≪ capacity), so the oracle states
    * plain exact counts. */
  private[graft] def q79(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("source"), explode(split(col("text"), "\\s+")).as("token"))
      .groupBy(col("source"))
      .agg(graft.functions.FreqItemsAgg.freqItems(col("token"), 4096).as("__hh"))
      .select(col("source"), explode(col("__hh")).as("__e"))
      .select(col("source"), col("__e.item").as("token"), col("__e.count").as("cnt"))
      .orderBy("source", "token")

  /** Edit-distance fuzzy join ([[graft.operators.FuzzyJoin]]):
    * every 10th part name with its first character corrupted, matched
    * back to the catalog at levenshtein <= 1 — length-interval
    * blocking + bounded-threshold verify. */
  private[graft] def q69(s: SparkSession, dir: String): DataFrame = {
    val part = t(s, dir, "part")
    val queries = part.filter(col("p_partkey") % 10 === 0)
      .select(col("p_partkey").as("q_key"),
        concat(lit("x"), substring(col("p_name"), 2, 1000)).as("q_name"))
    graft.operators.FuzzyJoin.editDistanceJoin(
        queries, part.select(col("p_partkey"), col("p_name")),
        "q_name", "p_name", maxDist = 1)
      .select(col("q_key"), col("p_partkey"), col("dist"))
      .orderBy("q_key", "p_partkey")
  }

  /** Boilerplate-unit removal ([[TextAnalysis.removeFrequentUnits]]):
    * text chunked into 8-word units; a template header planted on
    * three sources (60 docs ≫ maxDocFreq=10) must strip from every
    * doc while content chunks survive in order. */
  private[graft] def q68(s: SparkSession, dir: String): DataFrame = {
    val header = "terms of service apply to this site content"
    val withHeader = t(s, dir, "documents").select(col("doc_id"),
      when(col("source").isin("src0", "src1", "src2"),
        concat(lit(header + " "), col("text"))).otherwise(col("text")).as("t"))
    val words = split(col("t"), "\\s+")
    val nChunks = ceil(size(words) / lit(8.0)).cast("int")
    val units = transform(sequence(lit(0), nChunks - 1),
      i => array_join(slice(words, i * 8 + 1, lit(8)), " "))
    TextAnalysis.removeFrequentUnits(
        withHeader.select(col("doc_id"), units.as("units")),
        "doc_id", "units", maxDocFreq = 10)
      .orderBy("doc_id")
  }

  /** Okapi BM25 lexical retrieval over the corpus for a fixed query
    * ([[TextAnalysis.bm25]]): the In-predicate prunes non-query terms
    * at the scan, df broadcast back, corpus stats one broadcast row. */
  private[graft] def q60(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bm25(t(s, dir, "documents"), "doc_id", "text",
        Seq("hash", "join", "dup", "window"))
      .orderBy("doc_id")

  /** Inverted index with delta-encoded postings
    * ([[graft.operators.TextAnalysis.invertedIndex]]): per term its
    * df, total tf and the canonical `"docgap:tf,…"` posting string
    * over doc-id-sorted postings — the IR layout artifact the q60
    * BM25 scorer would serve from. The synthetic corpus has a
    * 31-term vocabulary with near-uniform high df, so the full index
    * is emitted (the minDf/maxDf band is pinned by
    * TextAnalysisSpec); the oracle restates the whole index — every
    * gap of every posting — via lag() + ordered string_agg. */
  private[graft] def q181(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.invertedIndex(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("term")

  /** Heavy-hitter token counts through the Misra-Gries bounded-state
    * aggregate, run in its exact regime (capacity ≥ distinct tokens —
    * no decrement ever fires) so the summary IS the exact count table
    * and hash-checks against a plain GROUP BY; the approximation
    * contract under adversarial cardinality is pinned by
    * FreqItemsSpec. */
  private[graft] def q56(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.heavyHitterTokens(
        t(s, dir, "documents").select(col("text")), capacity = 4096)
      .orderBy(desc("cnt"), col("token"))

  /** Gopher-style repetition quality filters (word repetition ratio,
    * top-bigram and duplicated-trigram coverage + keep flag), computed
    * in-place per row by RepetitionStatsExpr — the oracle recomputes
    * the counters relationally (explode + (doc, gram) aggregate). */
  private[graft] def q54(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionMetrics(
        t(s, dir, "documents").select(col("doc_id"), col("text")))
      .select("doc_id", "n_words", "word_rep_ratio", "top_bigram_frac",
        "dup_trigram_frac", "repetition_keep")
      .orderBy("doc_id")

  /** Reference NLP cleaning pipeline (lemmatizer — not SQL-expressible). */
  private[graft] def qNlp(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        GraftUdfs.cleanLabel(substring(col("text"), 1, 60)).as("cleaned"))
      .orderBy("doc_id")

  /** Contraction expansion as a relational corpus pass: token
    * posexplode → broadcast map join → order-preserving reassembly
    * (the distributed form of the per-token F2 step). The planted
    * suffix guarantees expansions actually fire inside the hash
    * check, including a capitalized-variant entry. */
  private[graft] def q41(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.expandContractionsColumn(
        t(s, dir, "documents")
          .select(col("doc_id"),
            concat(col("text"), lit(" Don't i'm o'clock")).as("text")),
        "text", "doc_id")
      .orderBy("doc_id")

  /** The lemmatizer itself, oracle-proven: the Spark side runs the
    * REAL JVM function (exceptions + morphy rules + rstrip-'s') as a
    * UDF over every alphabetic token of the corpus; the DuckDB side
    * replays its full specification (exception table as VALUES, rule
    * chain as CASE, rtrim). A hash match proves the JVM lemmatizer
    * equals its SQL spec on the whole corpus vocabulary — converting
    * F6 from spec-pinned to oracle-checked. Alphabetic-only tokens
    * keep the number-to-words step (not SQL-expressible) out of
    * scope. */
  private[graft] def q42(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        posexplode(split(col("text"), " ", -1)).as(Seq("pos", "raw")))
      .filter(col("raw").rlike("^[A-Za-z]+$"))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        lower(col("raw")).as("word"))
      .withColumn("root", GraftUdfs.rootWord(col("word")))
      .orderBy("doc_id", "pos")

  /** num2words formatting (F4), oracle-proven: the real JVM formatter
    * runs over two deterministic number streams per document (doc_id
    * and an affine transform reaching the millions range — covering
    * zero, teens, hyphens, "hundred and", scale words, and both
    * inter-group join rules), while the DuckDB side evaluates a SQL
    * formatter GENERATED from the same ones/tens word tables. */
  private[graft] def q43(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        GraftUdfs.numberWords(col("doc_id").cast("string")).as("w_small"),
        GraftUdfs.numberWords((col("doc_id") * 12345 + 678).cast("string")).as("w_large"))
      .orderBy("doc_id")

  /** BPE tokenizer APPLY ([[graft.operators.Bpe.encodeStats]]): the
    * other half of the q123 story — train the 8 merges on the
    * corpus, then encode EVERY document with them (learned-order
    * non-overlapping replace folded into one projection; the merge
    * table is parameter-sized and never shuffles the corpus) and
    * report per-document word / char-tokenizer / BPE-tokenizer
    * counts, the compression audit a tokenizer change ships with.
    * The oracle RETRAINS the merges from raw data (the q123 CTE
    * chain) and re-encodes every document independently — train →
    * apply certified end-to-end with no learned literals crossing
    * engines. */
  private[graft] def q152(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val merges = Bpe.trainMerges(docs, "text", iterations = 8)
    Bpe.encodeStats(docs, "doc_id", "text", merges).orderBy("doc_id")
  }

  /** TRAINED quality classifier, training trajectory
    * ([[graft.operators.LinearModel.trainFastSigmoidGD]]): 8 rounds
    * of full-batch GD over the q17 ratio features with the rational
    * fast sigmoid (no `exp`, so per-row probabilities are
    * bit-identical across engines) and micro-exact BIGINT gradient
    * sums — one map-side-combining aggregate per round, the corpus
    * never shuffles. The oracle RETRAINS the whole trajectory from
    * raw text (unrolled rounds, the q123/q148 discipline): per-round
    * pre-update error counts AND post-update double weights must
    * hash-match bit-for-bit. */
  private[graft] def q154(s: SparkSession, dir: String): DataFrame = {
    // board-shared memoized trajectory (identical training in
    // q154/q155/q159/q161/q162/q163/q157 — trained once per app)
    val traj = LinearModel.qualityCorpusTrajectory(s, dir,
      lr = 4.0, iterations = 8)
    LinearModel.trajectoryFrame(s, LinearModel.qualityFeatureCols, traj)
      .orderBy("round")
  }

  /** Calibration audit of the trained classifier (the reliability-
    * diagram aggregate an MLOps pipeline ships with every model):
    * final-weights probabilities decile-binned, per bin the doc
    * count, positive-label count, and the micro-exact probability
    * sum (order-free BIGINT — a raw double sum would drift with
    * accumulation order). Bin membership is floor(p·10) on
    * bit-identical doubles, so even the bin edges cannot disagree
    * across engines; the oracle retrains the model and re-bins
    * itself. */
  private[graft] def q161(s: SparkSession, dir: String): DataFrame = {
    val feat = LinearModel.qualityTrainingFrame(t(s, dir, "documents"))
    val weights = LinearModel.qualityCorpusTrajectory(s, dir,
      lr = 4.0, iterations = 8).last.weights
    LinearModel.scoreLinear(feat, LinearModel.qualityFeatureCols, weights)
      .select(least(floor(col("p") * 10), lit(9)).cast("long").as("bin"),
        col("y"), col("p"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("y") === 1.0, 1L).otherwise(0L)).as("n_pos"),
        sum(round(col("p") * lit(1e6)).cast("long")).as("p_micro_sum"))
      .orderBy("bin")
  }

  /** EXACT tie-aware AUC of the trained classifier — the model-eval
    * half of the MLOps loop, in the 100 TB shape: the corpus
    * collapses to per-distinct-score (micro-quantized) positive/
    * negative counts in ONE map-side-combining aggregate, and the
    * rank arithmetic runs as a window over that score-level table
    * (bounded by distinct scores, not corpus size — never a global
    * sort of the corpus). Ties handled by the standard mid-rank
    * formula kept integer-exact: contribution 2·Σ tp·(2·cn + tn),
    * so `auc_num2 = 2·numerator` is a BIGINT and the final
    * `auc = num2 / (2·np·nn)` is one fixed double expression.
    * Evaluation runs against a STRICTER gold label than the training
    * heuristic (alpha-heavy AND stopword-rich — the cheap-train-
    * label / expensive-gold-label audit every production classifier
    * gets), so the statistic is a real discrimination measure, not a
    * tautology. The oracle retrains the model and recomputes the
    * whole statistic. */
  private[graft] def q162(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val weights = LinearModel.qualityCorpusTrajectory(s, dir,
      lr = 4.0, iterations = 8).last.weights
    val tok = split(lower(col("text")), "\\s+")
    val enStop = array(
      graft.functions.TextNlp.stopwords.toSeq.sorted.map(lit): _*)
    val nStop = size(filter(tok, t => array_contains(enStop, t)))
      .cast("double")
    val nWords = size(tok).cast("double")
    val nAlpha = length(regexp_replace(col("text"), "[^a-zA-Z]", ""))
      .cast("double")
    val nChars = length(col("text")).cast("double")
    val gold = when(nAlpha * 100 >= nChars * 82
      && nStop * 100 >= nWords * 5, 1.0).otherwise(0.0)
    val byScore = LinearModel.scoreLinear(
        LinearModel.qualityTrainingFrame(docs, keepCols = Seq("text")),
        LinearModel.qualityFeatureCols, weights)
      .select(round(col("p") * lit(1e6)).cast("long").as("score_micro"),
        gold.as("gold"))
      .groupBy("score_micro")
      .agg(sum(when(col("gold") === 1.0, 1L).otherwise(0L)).as("tp"),
        sum(when(col("gold") === 0.0, 1L).otherwise(0L)).as("tn"))
    val w = Window.orderBy(col("score_micro"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val contrib = byScore
      .withColumn("cn", sum(col("tn")).over(w) - col("tn"))
      .select((col("tp") * (lit(2L) * col("cn") + col("tn"))).as("c2"),
        col("tp"), col("tn"))
    contrib
      .agg(sum(col("tp")).as("n_pos"), sum(col("tn")).as("n_neg"),
        sum(col("c2")).as("auc_num2"))
      .select(col("n_pos"), col("n_neg"), col("auc_num2"),
        (col("auc_num2").cast("double")
          / (lit(2.0) * (col("n_pos") * col("n_neg")).cast("double")))
          .as("auc"))
  }

  /** AMS F2 sketch vs exact second moment ([[graft.operators.Sketch
    * .amsF2]]): per source, the exact Σf² of token frequencies next
    * to the 8-estimator ±1-sign estimate — the self-join-size / skew
    * signal, with per-group sketch state of 8 longs whatever the
    * vocabulary. Signs ride the shared md5 coordinate, so the oracle
    * replays every estimator; the estimate column is certified
    * exactly, not approximately. */
  private[graft] def q169(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(col("source"),
        explode(split(lower(col("text")), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
    val counts = toks.groupBy("source", "tok").agg(count(lit(1)).as("cnt"))
    val exact = counts.groupBy("source")
      .agg(sum(col("cnt") * col("cnt")).as("f2_exact"))
    val est = Sketch.amsF2(counts, "source", "tok", "cnt",
      depth = 8, salt = "ams")
    exact.join(est, Seq("source")).orderBy("source")
  }

  /** AMS join-size estimation ([[graft.operators.Sketch
    * .amsJoinSize]]): |lineitem ⋈ low-quantity-lineitem| on
    * l_partkey, estimated from 2×16 signed longs beside the exact
    * Σ f_A·f_B — the pre-shuffle cardinality probe of a 100 TB
    * planner. Signs ride the shared md5 coordinate, so the oracle
    * replays every estimator's inner product; the estimate column
    * is certified exactly. */
  private[graft] def q178(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val fa = li.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("fa"))
    val fb = li.filter(col("l_quantity") < 10)
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("fb"))
    val exact = fa.join(fb, Seq("l_partkey"))
      .agg(sum(col("fa") * col("fb")).as("exact_join_size"))
    val est = Sketch.amsJoinSize(fa, "l_partkey", "fa",
      fb, "l_partkey", "fb", depth = 16, salt = "amsj")
    exact.crossJoin(broadcast(est))
  }

  /** Per-node triangle counts ([[graft.operators.Graph
    * .triangleCounts]]) over the q107 co-purchase graph —
    * degree-ordered orientation caps wedge fan-out at O(√m) per
    * node (the power-law-hub guard), three hash joins, each
    * triangle found once. Triangle counts are algorithm-independent
    * facts, so the oracle states them with its own independent SQL
    * over the same edge derivation. */
  private[graft] def q165(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
    val edges = t(s, dir, "lineitem")
      .select(col("l_partkey").as("src"),
        lead(col("l_partkey"), 1).over(w).as("dst"))
      .filter(col("dst").isNotNull)
    Graph.triangleCounts(edges, "src", "dst")
      .orderBy("node")
  }

  /** Local clustering coefficients
    * ([[graft.operators.Graph.clusteringCoefficients]]) over q165's
    * part co-occurrence chain — per node, how clique-like its
    * neighborhood is: the community-vs-bridge texture readout
    * (⌊2·10⁶·tri/(deg·(deg−1))⌋, exact BIGINT division) on the
    * same edge derivation whose raw triangle counts q165 states. */
  private[graft] def q214(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
    val edges = t(s, dir, "lineitem")
      .select(col("l_partkey").as("src"),
        lead(col("l_partkey"), 1).over(w).as("dst"))
      .filter(col("dst").isNotNull)
    Graph.clusteringCoefficients(edges, "src", "dst")
      .orderBy("node")
  }

  /** Token drift attribution
    * ([[graft.operators.TextAnalysis.tokenDrift]]): top-100 χ²
    * mover tokens between the src0–src9 and src10–src19 crawl
    * batches (≥ 5 total occurrences) — the per-token WHY behind
    * q212's scalar drift alarm. Output re-ordered by token so the
    * frame is hash-stable; the top-k cut itself ties-breaks on the
    * token. */
  private[graft] def q218(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.tokenDrift(
        t(s, dir, "documents"), "text",
        expr("CAST(substring(source, 4) AS BIGINT) < 10"),
        minCount = 5L, topK = 100)
      .orderBy("tok")

  /** Boilerplate-chunk scrub with reassembly
    * ([[graft.operators.TextAnalysis.scrubSharedChunks]]) over the
    * q115 planted-boilerplate corpus: chunks appearing in ≥ 6
    * distinct documents are dropped and the surviving chunks
    * re-concatenated in order — the 12-copy banner is scrubbed from
    * every host while organic text survives. The oracle rebuilds
    * the identical chunking, df counts, AND the reassembled
    * `clean_text` strings, so the cleaned corpus itself
    * hash-matches, not just the drop counts. */
  private[graft] def q175(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.scrubSharedChunks(corpusWithBoilerplate(s, dir),
        "text", "doc_id", k = 8, maskBits = 5, maxDf = 6)
      .orderBy("doc_id")

  /** k-core of the mutual-6-NN similarity graph
    * ([[graft.operators.Ann.mutualKnnEdges]] →
    * [[graft.operators.Graph.kCore]], k = 3): reciprocated cosine
    * neighborhoods form the edges (the graph-ANN cleanup graph), and
    * synchronous peeling extracts the dense interior — vectors in
    * genuinely clustered regions survive, periphery cascades away
    * over ~4 peel rounds. Per round one degree aggregate + two
    * semi-joins, lineage cut per round, convergence = unchanged edge
    * count. The oracle unrolls the full 8-round budget as
    * materialized CTEs (converged rounds no-op identically), so the
    * surviving node set AND its in-core degrees hash-match. */
  private[graft] def q172(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val mutual = graft.operators.Ann.mutualKnnEdges(e, "vec_id", "v", k = 6)
    Graph.kCore(mutual, "a", "b", k = 3, maxRounds = 8)
      .orderBy("node")
  }

  /** CONTINUAL training ([[graft.operators.LinearModel
    * .trainFastSigmoidGD]] with warm start): phase 1 fits on the
    * full corpus (= q154); phase 2 warm-starts from those weights
    * and fine-tunes 4 rounds on the NEW crawl wave only — the
    * periodic model-refresh loop a production gate actually runs
    * (never retrain from scratch per wave). Both phases' error
    * counts and weights retrained by the oracle and hash-matched
    * bit-for-bit, proving warm-start state transfers exactly. */
  private[graft] def q163(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val t1 = LinearModel.qualityCorpusTrajectory(s, dir,
      lr = 4.0, iterations = 8)
    val wave1 = LinearModel.qualityTrainingFrame(
      docs.filter(expr("(doc_id div 20) % 2") === 1))
    val t2 = LinearModel.trainFastSigmoidGD(wave1,
      LinearModel.qualityFeatureCols, "y", lr = 4.0, iterations = 4,
      init = Some(t1.last.weights))
    val cols0 = Seq(col("phase"), col("round"), col("n_pos_err"),
      col("n_neg_err")) ++
      LinearModel.qualityFeatureCols.map(c => col(s"w_$c"))
    LinearModel.trajectoryFrame(s, LinearModel.qualityFeatureCols, t1)
      .withColumn("phase", lit(1L)).select(cols0: _*)
      .unionByName(
        LinearModel.trajectoryFrame(s, LinearModel.qualityFeatureCols, t2)
          .withColumn("phase", lit(2L)).select(cols0: _*))
      .orderBy("phase", "round")
  }

  /** PER-SOURCE trained quality classifiers
    * ([[graft.operators.LinearModel.trainFastSigmoidGDGrouped]]): 20
    * independent per-domain models all advancing in the same
    * per-round grouped aggregate — one map-side-combining pass
    * carries every model's micro-exact gradient, so training
    * thousands of per-domain models costs the same scan as one
    * global model. The oracle retrains every model from raw text
    * (weights keyed by source, rounds unrolled); trajectory AND
    * weights hash bit-for-bit across all 160 (source, round) rows. */
  private[graft] def q160(s: SparkSession, dir: String): DataFrame =
    LinearModel.trainFastSigmoidGDGrouped(
        LinearModel.qualityTrainingFrame(t(s, dir, "documents"),
          keepCols = Seq("source")),
        "source", LinearModel.qualityFeatureCols, "y",
        lr = 4.0, iterations = 8)
      .orderBy("source", "round")

  /** K-FOLD CROSS-VALIDATION of the trained quality classifier — the
    * model-selection loop above q154/q162: deterministic md5 folds,
    * one model per held-out fold trained on the OTHER folds, each
    * evaluated on its own held-out slice with the exact tie-aware
    * AUC against the stricter q162 gold label.
    *
    * Scale shape: the "train on k−1 folds" membership is expressed
    * by replicating each row to its k−1 participating models
    * (explode over model ids, one filter) and then reusing
    * [[graft.operators.LinearModel.trainFastSigmoidGDGrouped]]
    * verbatim — ALL k models advance in the same per-round grouped
    * aggregate, so k-fold CV costs (k−1)× the scan mass of one
    * model, never k separate jobs. Held-out scoring joins each
    * fold's rows to its model's final weights by key; AUC rank
    * arithmetic runs per model over the micro-quantized
    * score-level table (windows PARTITIONED by model). The oracle
    * retrains all k models from raw text and replays every AUC. */
  private[graft] def q188(s: SparkSession, dir: String): DataFrame = {
    val folds = 3
    val rounds = 8
    val xCols = LinearModel.qualityFeatureCols
    val feat = LinearModel.qualityTrainingFrame(
        t(s, dir, "documents"), keepCols = Seq("text"))
      .withColumn("fold", pmod(
        conv(substring(md5(concat(lit("cv:"), col("doc_id").cast("string"))),
          1, 14), 16, 10).cast("long"), lit(folds.toLong)))
    val replicated = feat
      .withColumn("model_f", explode(array((0 until folds)
        .map(i => lit(i.toLong)): _*)))
      .filter(col("model_f") =!= col("fold"))
      .withColumn("model", concat(lit("m"), col("model_f")))
    val traj = LinearModel.trainFastSigmoidGDGrouped(
      replicated.drop("text"), "model", xCols, "y",
      lr = 4.0, iterations = rounds)
    val finalW = traj.filter(col("round") === rounds)
      .select(col("model") +: xCols.map(x => col(s"w_$x")): _*)
    val wCols = xCols.map(x => s"w_$x")
    val zc = LinearModel.z(xCols, wCols)
    val tok = split(lower(col("text")), "\\s+")
    val enStop = array(
      graft.functions.TextNlp.stopwords.toSeq.sorted.map(lit): _*)
    val nStop = size(filter(tok, t => array_contains(enStop, t)))
      .cast("double")
    val nWords = size(tok).cast("double")
    val nAlpha = length(regexp_replace(col("text"), "[^a-zA-Z]", ""))
      .cast("double")
    val nChars = length(col("text")).cast("double")
    val gold = when(nAlpha * 100 >= nChars * 82
      && nStop * 100 >= nWords * 5, 1.0).otherwise(0.0)
    val byScore = feat
      .withColumn("model", concat(lit("m"), col("fold")))
      .join(broadcast(finalW), Seq("model"))
      .select(col("model"),
        round(LinearModel.fastSigmoid(zc) * lit(1e6)).cast("long")
          .as("score_micro"),
        gold.as("gold"))
      .groupBy("model", "score_micro")
      .agg(sum(when(col("gold") === 1.0, 1L).otherwise(0L)).as("tp"),
        sum(when(col("gold") === 0.0, 1L).otherwise(0L)).as("tn"))
    val w = Window.partitionBy(col("model")).orderBy(col("score_micro"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byScore
      .withColumn("cn", sum(col("tn")).over(w) - col("tn"))
      .groupBy("model")
      .agg(sum(col("tp")).as("n_pos"), sum(col("tn")).as("n_neg"),
        sum(col("tp") * (lit(2L) * col("cn") + col("tn"))).as("auc_num2"))
      .select(col("model"), col("n_pos"), col("n_neg"), col("auc_num2"),
        (col("auc_num2").cast("double")
          / (lit(2.0) * (col("n_pos") * col("n_neg")).cast("double")))
          .as("auc"))
      .orderBy("model")
  }

  /** TRAINED quality classifier, apply path
    * ([[graft.operators.LinearModel.scoreLinear]]): the q154 model's
    * final weights folded into a pure codegen projection scoring
    * every document (probability, decision, agreement with the
    * integer-predicate label) — the shape that scores 100 TB after a
    * parameter-sized fit. The oracle retrains the 8 rounds itself and
    * applies its OWN final weights, so train and apply are certified
    * end-to-end with no learned literals crossing engines. */
  private[graft] def q155(s: SparkSession, dir: String): DataFrame = {
    val feat = LinearModel.qualityTrainingFrame(t(s, dir, "documents"))
    val traj = LinearModel.qualityCorpusTrajectory(s, dir,
      lr = 4.0, iterations = 8)
    LinearModel.scoreLinear(feat, LinearModel.qualityFeatureCols,
        traj.last.weights)
      .select(col("doc_id"), col("p"), col("pred"),
        col("y").cast("long").as("label"),
        (col("pred") === col("y").cast("long")).as("correct"))
      .orderBy("doc_id")
  }

  /** Top-20 LONGEST repeated substrings corpus-wide
    * ([[graft.operators.SuffixDedup.longestRepeatedSubstrings]]):
    * adjacent suffix pairs straight off the range sort of one
    * 640-char fixed-width prefix column
    * ([[graft.operators.Layout.sortedNeighborPairs]] — one range
    * shuffle, a one-row-per-partition boundary exchange, no ordinal
    * attach, no driver sort), adjacent-pair LCP via the codegen'd
    * [[graft.functions.LcpExpr]], TakeOrdered top-k. The 640-char
    * depth exceeds every doc in this corpus, so every reported
    * length is EXACT — the suffix-array deliverable n-gram counting
    * cannot produce. Corpus = documents + the planted cross-doc /
    * within-doc long passages; the oracle re-sorts the same suffix
    * prefixes and recomputes every LCP with a codepoint
    * comprehension. */
  private[graft] def q229(s: SparkSession, dir: String): DataFrame =
    graft.operators.SuffixDedup.longestRepeatedSubstrings(
        corpusWithLongDup(s, dir), "doc_id", "text",
        minLcp = 40, maxLcp = 640, k = 28)
      .orderBy("rank")

  /** Maximal duplicated CHAR spans per doc
    * ([[graft.operators.SuffixDedup.repeatedCharSpans]], minLen 25,
    * cap 128): every character covered by a ≥25-char corpus repeat,
    * coalesced into maximal runs — the char-level sibling of q122's
    * token-gram report, here running the CAPPED suffix-order regime
    * (128 < the corpus's ~530-char whole-doc dups) to pin that
    * coverage is cap-independent. The oracle replays through the
    * provably-equivalent duplicated-gram coverage formulation. */
  private[graft] def q230(s: SparkSession, dir: String): DataFrame =
    graft.operators.SuffixDedup.repeatedCharSpans(
        corpusWithLongDup(s, dir), "doc_id", "text",
        minLen = 25, maxLcp = 128)
      .orderBy("doc_id", "span_start")

  /** ExactSubstr SCRUB
    * ([[graft.operators.SuffixDedup.scrubRepeatedSubstrings]],
    * minLen 25): cut every char covered by a non-first occurrence of
    * a ≥25-char repeat (deterministic keep-first: smallest
    * (doc, pos) per duplicated gram is canonical) and reassemble the
    * corpus. clean_text rides as md5 to keep the gate result
    * row-sized; the oracle rebuilds each doc char-by-char from the
    * kept positions and hashes the same string. */
  private[graft] def q231(s: SparkSession, dir: String): DataFrame =
    graft.operators.SuffixDedup.scrubRepeatedSubstrings(
        corpusWithLongDup(s, dir), "doc_id", "text", minLen = 25)
      .select(col("doc_id"), col("n_chars"), col("n_spans_cut"),
        col("n_cut"), md5(col("clean_text")).as("clean_md5"))
      .orderBy("doc_id")

  /** Substring-level DECONTAMINATION
    * ([[graft.operators.SuffixDedup.substringContamination]],
    * minLen 30): per train doc, the verbatim ≥30-char overlap mass
    * with the eval slice (doc_id % 19 = 0 plus the planted
    * passage-at-origin doc) — the ExactSubstr leakage criterion
    * beside the fixed-feature gates (q58 exact token membership,
    * q103 Bloom, q145 embedding cosine). The planted cross-doc
    * passage plus the corpus's natural dup twins put deterministic
    * mass on the contaminated branch. One gram-keyed semi join —
    * eval is never broadcast by assumption. */
  private[graft] def q232(s: SparkSession, dir: String): DataFrame = {
    val corpus = corpusWithLongDup(s, dir)
    val isEval = col("doc_id") % 19 === 0 || col("doc_id") === 20000003L
    graft.operators.SuffixDedup.substringContamination(
        corpus.filter(!isEval), corpus.filter(isEval),
        "doc_id", "text", minLen = 30)
      .orderBy("doc_id")
  }

  /** Per-doc self-LRS ([[graft.operators.SuffixDedup.selfLongestRepeat]],
    * minLen 15): each document's longest INTERNALLY-repeated
    * substring with exact length and both occurrence positions — the
    * worst-single-template-run quality signal beside the fixed-gram
    * repetition fractions (q84) and the corpus-wide repeats (q229).
    * Doc-leading suffix order: each doc's suffixes are one
    * contiguous sorted run, so the per-doc maximum reads off
    * adjacent pairs; the planted within-doc passage doc reports its
    * repeat exactly. Repeats longer than the 128-char cap would
    * report lrs_len = 128 (a lower bound, per the operator's cap
    * contract); no doc in this corpus reaches it. */
  private[graft] def q233(s: SparkSession, dir: String): DataFrame =
    graft.operators.SuffixDedup.selfLongestRepeat(
        corpusWithLongDup(s, dir), "doc_id", "text",
        minLen = 15, maxLcp = 128)
      .orderBy("doc_id")

  /** HTML block segmentation + density report
    * ([[graft.operators.Extract.blockReport]] over [[htmlCorpus]]):
    * per block, the collapsed text, non-whitespace codepoint count,
    * link-char count, exact integer link density, and the
    * jusText-style keep/drop verdict. The parse runs the full
    * hostile-markup gauntlet (script with fake tags, comment-hidden
    * blocks, quoted-attribute '>', literal '<', entities, CDATA);
    * the oracle rebuilds every expected block from the plant's
    * construction arithmetic without parsing anything. */
  private[graft] def q234(s: SparkSession, dir: String): DataFrame =
    graft.operators.Extract.blockReport(htmlCorpus(s, dir),
        "doc_id", "html", minChars = 10, maxLinkDensityMicros = 300000L)
      .orderBy("doc_id", "block_idx")

  /** Per-doc main-content extraction under the local density rules
    * ([[graft.operators.Extract.mainContent]]): the C4/jusText
    * cleaning pass — article body (and the prose-shaped planted
    * disclaimer, which local rules CANNOT catch — q237 closes that
    * gap) kept verbatim; titles, nav, promo, footer scrubbed. */
  private[graft] def q235(s: SparkSession, dir: String): DataFrame =
    graft.operators.Extract.mainContent(htmlCorpus(s, dir),
        "doc_id", "html", minChars = 10, maxLinkDensityMicros = 300000L)
      .orderBy("doc_id")

  /** Cross-doc boilerplate table
    * ([[graft.operators.Extract.boilerplateBlocks]], minDocs 10):
    * blocks whose exact collapsed text recurs in ≥10 distinct docs —
    * the site-template report (nav variants, footer, promo,
    * disclaimer); article bodies and summaries stay below the
    * threshold (max natural text-dup cluster is 2). */
  private[graft] def q236(s: SparkSession, dir: String): DataFrame =
    graft.operators.Extract.boilerplateBlocks(htmlCorpus(s, dir),
        "doc_id", "html", minDocs = 10L)
      .orderBy(desc("n_docs"), col("text"))

  /** Main content under BOTH boilerplate criteria
    * ([[graft.operators.Extract.mainContentDf]]): density rules plus
    * the CCNet-style cross-doc frequency rule — the planted
    * disclaimer that q235 keeps (it reads like prose) is dropped
    * here because it recurs across the whole corpus. */
  private[graft] def q237(s: SparkSession, dir: String): DataFrame =
    graft.operators.Extract.mainContentDf(htmlCorpus(s, dir),
        "doc_id", "html", minChars = 10, maxLinkDensityMicros = 300000L,
        minDocs = 10L)
      .orderBy("doc_id")

  /** Outlink extraction ([[graft.operators.Extract.htmlLinks]]): the
    * href list per doc in document order — relative nav/footer links
    * plus the planted absolute footer URL, whose `&amp;` in the
    * query string must decode in the ATTRIBUTE path (the text path
    * never sees it). The oracle rebuilds the expected link list from
    * the plant's branch arithmetic. */
  private[graft] def q238(s: SparkSession, dir: String): DataFrame =
    graft.operators.Extract.htmlLinks(htmlCorpus(s, dir),
        "doc_id", "html")
      .orderBy("doc_id", "link_idx")

  /** Crawl-frontier domain rollup: absolute outlinks from q238 folded
    * to eTLD+1 ([[graft.operators.UrlOps.registrableDomain]], the q90
    * PSL machinery) and grouped — the per-site frontier census that
    * politeness quotas (q134) and domain caps consume. HTML → links →
    * domains is the full crawl-graph construction path. */
  private[graft] def q239(s: SparkSession, dir: String): DataFrame =
    graft.operators.Extract.htmlLinks(htmlCorpus(s, dir),
        "doc_id", "html")
      .filter(col("href").startsWith("http"))
      .select(col("doc_id"),
        graft.operators.UrlOps.registrableDomain(col("href")).as("domain"))
      .groupBy(col("domain"))
      .agg(count_distinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_links"))
      .orderBy("domain")

  /** CRAWL FRONT-DOOR capstone: raw markup → main-content extraction
    * under BOTH boilerplate criteria ([[graft.operators.Extract
    * .mainContentDf]]) → q17's quality signals computed over the
    * EXTRACTED text → keep/drop gate — the full pipeline stage the
    * curation capstones (q73/q98/q136/q159) previously assumed had
    * already run. The oracle rebuilds the expected main_text from
    * the plant (the q237 machinery), then replays the exact quality
    * arithmetic over it (the q17 machinery, generated stopword
    * list) — one hash certifies parse → scrub → score → gate end to
    * end. The gate compares doubles both engines derive from one
    * fixed IEEE expression tree, so the boolean is deterministic. */
  private[graft] def q241(s: SparkSession, dir: String): DataFrame = {
    val mc = graft.operators.Extract.mainContentDf(htmlCorpus(s, dir),
      "doc_id", "html", minChars = 10, maxLinkDensityMicros = 300000L,
      minDocs = 10L)
    TextAnalysis.qualityMetrics(mc, "main_text")
      .select(col("doc_id"), col("main_chars"), col("n_words"),
        col("alpha_ratio"), col("stopword_ratio"), col("quality_score"),
        (col("quality_score") >= 0.5 && col("main_chars") >= 40L).as("kept"))
      .orderBy("doc_id")
  }

  /** Deterministic robots.txt plant per frontier domain (domain
    * length mod 3 picks the shape) — three REP regimes: deny-all,
    * an agent-specific override group (with an inline comment and a
    * longest-match Allow/Disallow tie the gate must resolve), and
    * the empty-Disallow open-site idiom (with a CRLF comment line).
    * The q242 oracle states each regime's OUTCOME in closed form;
    * the engine must parse its way there. */
  private[graft] def robotsTxtFor(domain: Column): Column =
    when(length(domain) % 3 === 0,
      lit("User-agent: *\nDisallow: /\n"))
    .when(length(domain) % 3 === 1,
      lit("User-agent: *\nDisallow: /\n\n" +
        "User-agent: graftbot # our crawler\nAllow: /p\nDisallow: /\n"))
    .otherwise(
      lit("# open site\r\nUser-agent: *\nDisallow:\n"))

  /** robots.txt fetch gate over the q238 frontier
    * ([[graft.operators.Extract.robotsGate]], agent `graftbot`,
    * REP longest-match): absolute outlinks gated by their
    * registrable domain's planted robots — deny-all domains refuse,
    * override-group domains allow exactly the /p paths (the Allow
    * beats the group's own deny-all by prefix length), open-site
    * domains pass everything. Parse runs once per domain on the
    * small join side; evaluation is an in-row fold per URL. */
  private[graft] def q242(s: SparkSession, dir: String): DataFrame = {
    val frontier = graft.operators.Extract.htmlLinks(
        htmlCorpus(s, dir), "doc_id", "html")
      .filter(col("href").startsWith("http"))
    val domains = frontier
      .select(graft.operators.UrlOps.registrableDomain(col("href"))
        .as("domain"))
      .distinct()
    val robots = domains.select(col("domain"),
      robotsTxtFor(col("domain")).as("robots_txt"))
    graft.operators.Extract.robotsGate(
        frontier.select(col("doc_id"), col("href")), "href",
        robots, "domain", "robots_txt", "graftbot")
      .select(col("doc_id"), col("domain"), col("target"), col("allowed"))
      .orderBy("doc_id")
  }

  /** The OOV plant on q243's score side — a doc whose middle token
    * never occurs in the train corpus, so the α²·add-one unigram
    * rung (and its +1 OOV arithmetic) is inside the hash check, not
    * just inside the spec. Shared verbatim with the oracle. */
  private[graft] val sbOovDoc =
    "key agg zzzunseen row scan slow fast table"

  /** Stupid Backoff trigram LM scoring of held-out documents
    * ([[TextAnalysis.stupidBackoffScore]], Brants et al. 2007): train
    * the count model on the 90% of the corpus with `doc_id % 10 ≠ 0`,
    * score the held-out 10% (plus the planted OOV doc), α = 0.4.
    * Unlike q86/q104 — which score the corpus on itself — the
    * backoff ladder genuinely fires here: held-out trigrams miss the
    * train counts and cascade to the bigram and add-one-unigram
    * rungs. The oracle rebuilds all three count tables from the same
    * split predicate and replays the identical CASE ladder inside
    * the micro-quantized ln. */
  private[graft] def q243(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val train = docs.filter(col("doc_id") % 10 =!= 0)
    val score = docs.filter(col("doc_id") % 10 === 0)
      .unionByName(Seq((30000001L, sbOovDoc)).toDF("doc_id", "text"))
    TextAnalysis.stupidBackoffScore(train, score, "doc_id", "text")
      .orderBy("doc_id")
  }

  /** q244's pattern dictionary — corpus words/phrases that hit
    * naturally ("a a" additionally exercises the non-overlapping
    * run semantics inside the hash: "a a a" counts ONE) plus spam
    * phrases only the planted docs contain. Shared verbatim with the
    * oracle's VALUES table. */
  /** The spam-phrase subset — the ACTUAL policy dictionary (q249's
    * gate): only the planted spam docs contain these. */
  private[graft] val spamPatterns = Seq("click here", "buy now", "winner")

  private[graft] val blocklistPatterns =
    Seq("slow", "fast table", "merge batch", "a a") ++ spamPatterns

  /** Planted spam docs for q244 — mixed case (the screen matches on
    * `lower(text)`), repeated phrases, and one clean doc that only
    * hits the benign corpus patterns. Shared verbatim with the
    * oracle. */
  private[graft] val spamPlants = Seq(
    (40000001L, "Click Here to claim your prize click here buy now winner winner winner"),
    (40000002L, "BUY NOW buy now limited offer"),
    (40000003L, "totally clean text about spark merge batch jobs"))

  /** Multi-pattern blocklist scan
    * ([[graft.operators.Blocklist.hitCounts]]): one Aho-Corasick
    * automaton pass per document over the whole dictionary
    * ([[graft.functions.AhoCorasickCountsExpr]]) — long-form
    * `(doc_id, pattern, hits)` rows for every pattern with hits,
    * leftmost non-overlapping counts. The oracle needs no automaton:
    * the count contract IS the per-pattern replace arithmetic
    * `(len(t) − len(replace(t,p,''))) / len(p)`, stated per pattern
    * over the same corpus + plants. */
  private[graft] def q244(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      .unionByName(spamPlants.toDF("doc_id", "text"))
    graft.operators.Blocklist.hitCounts(docs, "doc_id", "text",
        blocklistPatterns)
      .orderBy("doc_id", "pattern")
  }

  /** Outlinks WITH anchor text over the hostile markup corpus
    * ([[graft.operators.Extract.htmlAnchors]]): (doc_id, link_idx,
    * href, anchor) — link_idx aligns with q238 by the shared scan
    * contract, and the anchors must survive the same
    * script/comment/CDATA/entity traps (the oracle rebuilds both
    * columns from the construction arithmetic, never parsing). */
  private[graft] def q250(s: SparkSession, dir: String): DataFrame =
    graft.operators.Extract.htmlAnchors(htmlCorpus(s, dir), "doc_id", "html")
      .orderBy("doc_id", "link_idx")

  /** Anchor-text rollup per TARGET registrable domain
    * ([[graft.operators.Extract.htmlAnchors]] → [[graft.operators
    * .UrlOps.registrableDomain]] → token counts): "what the linking
    * web calls this site" — the classic link-description signal a
    * web corpus aggregates per target for ranking/labeling. Absolute
    * links only; one domain-and-token-keyed aggregate after the
    * per-doc parse projection. */
  private[graft] def q251(s: SparkSession, dir: String): DataFrame = {
    val anchors = graft.operators.Extract.htmlAnchors(
        anchorCorpus(s, dir), "doc_id", "html")
      .filter(col("href").startsWith("http"))
    anchors
      .select(graft.operators.UrlOps.registrableDomain(col("href"))
          .as("domain"),
        explode(split(col("anchor"), " ")).as("token"))
      .groupBy("domain", "token")
      .agg(count(lit(1)).as("n_mentions"))
      .orderBy("domain", "token")
  }

  /** Stupid Backoff LM scoring served from Count-Min sketches
    * ([[TextAnalysis.cmsStupidBackoffScore]]): q243's scorer with
    * the three exact n-gram tables replaced by depth-3 × width-4096
    * CMS tables — the bounded-memory LM path when the trigram table
    * itself is corpus-sized. The ladder's sketch adaptations
    * (est>0 rungs, ratio clamp at 1, bucket-space unigram floor) are
    * part of the contract; the oracle REBUILDS all three sketches
    * cell by cell (the q102 discipline) and replays the adapted
    * ladder, so the hash certifies the sketch arithmetic end to
    * end. Same train/score split and OOV plant as q243 — the two
    * scoreboards are directly comparable. */
  private[graft] def q254(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val train = docs.filter(col("doc_id") % 10 =!= 0)
    val score = docs.filter(col("doc_id") % 10 === 0)
      .unionByName(Seq((30000001L, sbOovDoc)).toDF("doc_id", "text"))
    TextAnalysis.cmsStupidBackoffScore(train, score, "doc_id", "text")
      .orderBy("doc_id")
  }

  /** q252's keyword taxonomy — three categories over corpus
    * vocabulary; the oracle's per-category sums and argmax CASE are
    * GENERATED from this same data. */
  private[graft] val topicCategories = Seq(
    "compute" -> Seq("query", "scan", "join", "agg"),
    "storage" -> Seq("table", "column", "row", "part"),
    "speed" -> Seq("slow", "fast", "big", "small"))

  /** Keyword-dictionary topic tagging
    * ([[graft.operators.Blocklist.categorize]]): all three category
    * lists compiled into ONE Aho-Corasick automaton, one pass per
    * document, per-category hit totals by in-row arithmetic, argmax
    * topic with the lexicographic tie-break — the domain tagger a
    * mixture pipeline runs before weighting sources. */
  private[graft] def q252(s: SparkSession, dir: String): DataFrame =
    graft.operators.Blocklist.categorize(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", topicCategories)
      .select(Seq(col("doc_id")) ++
        topicCategories.map(_._1).sorted.map(n => col(s"hits_$n")) :+
        col("topic"): _*)
      .orderBy("doc_id")

  /** Pairwise SOURCE-OVERLAP matrix — the corpus-governance report
    * "how much does each source duplicate each other source":
    * distinct (source, 3-gram shingle) pairs, self-joined on the
    * shingle with `source_a < source_b`, counted per source pair,
    * plus each side's distinct-shingle size and the exact integer
    * containment `n_common·10⁶ div min(n_a, n_b)`. The join key is
    * the shingle, so fan-out per key is bounded by |sources|² — at
    * 100 TB this is one dedup-shaped aggregate plus a
    * bounded-fan-out join, never doc×doc. */
  private[graft] def q253(s: SparkSession, dir: String): DataFrame = {
    val sh = t(s, dir, "documents")
      .select(col("source"),
        explode(array_distinct(
          graft.operators.Dedup.shingles(col("text"), 3))).as("sh"))
      .distinct()
    val sizes = sh.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val pairs = sh.toDF("source_a", "sh")
      .join(sh.toDF("source_b", "sh"), "sh")
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_common"))
    pairs
      .join(sizes.toDF("source_a", "n_a"), "source_a")
      .join(sizes.toDF("source_b", "n_b"), "source_b")
      .withColumn("containment_micros",
        expr("n_common * 1000000L div least(n_a, n_b)"))
      .select(col("source_a"), col("source_b"), col("n_common"),
        col("n_a"), col("n_b"), col("containment_micros"))
      .orderBy("source_a", "source_b")
  }

  /** SKETCH-tier source-overlap matrix
    * ([[graft.operators.Sketch.hllOverlapMatrix]]): q253's exact
    * governance report estimated from per-source HLL registers —
    * pairwise register-wise max is the sketch UNION, and
    * inclusion-exclusion gives the intersection estimate. The exact
    * `n_inter_exact` rides INSIDE the hashed result (the
    * measured-recall discipline), so the sketch's error is itself
    * certified data. At scale this is the screening pass: |groups|·2⁶
    * register rows decide which pairs deserve q253's exact
    * shingle join. */
  private[graft] def q259(s: SparkSession, dir: String): DataFrame = {
    val sh = t(s, dir, "documents")
      .select(col("source"),
        explode(array_distinct(
          graft.operators.Dedup.shingles(col("text"), 3))).as("sh"))
      .distinct()
    val est = graft.operators.Sketch.hllOverlapMatrix(sh, "source", "sh",
      p = 6, salt = "hllov")
    val exact = sh.toDF("source_a", "sh")
      .join(sh.toDF("source_b", "sh"), "sh")
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_inter_exact"))
    est.join(exact, Seq("source_a", "source_b"), "left")
      .withColumn("n_inter_exact", coalesce(col("n_inter_exact"), lit(0L)))
      .orderBy("source_a", "source_b")
  }

  /** Shared spine of the trained-langid pair: TRAIN the
    * hashed-char-trigram NB classifier
    * ([[graft.operators.TextAnalysis.langIdTrain]]) on the
    * deterministic 80% split (`doc_id % 5 != 0`) with the corpus's
    * ground-truth `lang` labels, score EVERY document with the
    * fitted model, and carry the truth label, the q18 marker-
    * heuristic prediction, and the split flag for the audits.
    * Returns per-doc (doc_id, trained_lang, score_micros, lang,
    * heur_lang, is_train). The oracle RETRAINS the whole model from
    * raw text (the q148/q154 discipline) — no learned literal
    * crosses engines.
    *
    * q263 emits this spine and q264 aggregates it; the relational
    * apply (per-gram md5 over the corpus) is the expensive half of
    * both, so it is pinned by an eager localCheckpoint and held in
    * [[FittedCache]]. The model itself comes from the board-wide
    * langIdCorpusModel memo. */
  private def langIdTrainedBase(s: SparkSession, dir: String): DataFrame =
    FittedCache.get(s, "EntryTextQueries.langIdTrainedBase",
        Seq(s"$dir/documents.parquet"), Nil) {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      val heur = TextAnalysis.languageId(
        docs.select(col("doc_id"), col("text")))
      val model = TextAnalysis.langIdCorpusModel(s, dir).model
      TextAnalysis.langIdApply(docs.select(col("doc_id"), col("text")),
          "doc_id", "text", model)
        .join(docs.select(col("doc_id"), col("lang"),
          (pmod(col("doc_id"), lit(5L)) =!= 0L).as("is_train")),
          Seq("doc_id"))
        .join(heur.select(col("doc_id"),
          col("predicted_lang").as("heur_lang")), Seq("doc_id"))
        .localCheckpoint()
    }

  /** TRAINED language ID, per-doc decisions: the multinomial-NB
    * hashed-char-trigram classifier (the langid.py / CLD model
    * class) trained on the 80% ground-truth split and applied to the
    * full corpus — per doc the integer-micro best score, the truth
    * label with in-row correctness, the q18 marker-heuristic
    * prediction with in-row agreement, and the split flag (so
    * holdout accuracy is measurable INSIDE the hashed result, the
    * q147/q149 discipline). */
  private[graft] def q263(s: SparkSession, dir: String): DataFrame =
    langIdTrainedBase(s, dir)
      .select(col("doc_id"), col("trained_lang"), col("score_micros"),
        col("lang"), (col("trained_lang") === col("lang")).as("correct"),
        col("heur_lang"),
        (col("trained_lang") === col("heur_lang")).as("agree_heur"),
        col("is_train"))
      .orderBy("doc_id")

  /** TRAINED language-ID confusion matrix: truth × predicted doc
    * counts with the holdout count per cell — the eval table a
    * multilingual pipeline reviews before switching its front gate
    * from the marker heuristic to the trained model (diagonal mass
    * on the holdout = generalisation, off-diagonal cells = the
    * languages the char-gram model confuses). One |L|²-bounded
    * rollup over the q263 spine. */
  private[graft] def q264(s: SparkSession, dir: String): DataFrame =
    langIdTrainedBase(s, dir)
      .groupBy(col("lang"), col("trained_lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(!col("is_train"), 1L).otherwise(0L)).as("n_holdout"))
      .orderBy("lang", "trained_lang")

  /** FUSED-EXPRESSION trained language ID
    * ([[graft.operators.TextAnalysis.langIdScore]] /
    * [[graft.functions.LangIdScoreExpr]]): the q263 model applied as
    * ONE stateless in-row expression with the fitted weights as
    * expression state — the fastText deployment posture (no join, no
    * aggregation; the 100 TB apply is a pure scan projection, and the
    * same column gates streaming micro-batches in q272). Shares the
    * q263 oracle chain, so expression ≡ relational apply is itself
    * hash-certified. */
  private[graft] def q271(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"))
    val f = TextAnalysis.langIdCorpusModel(s, dir)
    val (model, langs, w, p) = (f.model, f.langs, f.weights, f.priors)
    docs.select(col("doc_id"),
        TextAnalysis.langIdScore(col("text"), langs, w, p, model.buckets,
          model.n, model.maxChars, model.salt).as("__r"))
      .select(col("doc_id"),
        col("__r").getField("trained_lang").as("trained_lang"),
        col("__r").getField("score_micros").as("score_micros"),
        col("__r").getField("n_grams").as("n_grams"))
      .filter(col("n_grams") > 0)
      .orderBy("doc_id")
  }

  /** TRAINED language-ID discrimination audit on a PLANTED slice:
    * the q263/q264 holdout audit is chance-level by construction (the
    * harness `lang` column is uncorrelated with `text`), so this
    * query retrains the NB model on the harness corpus UNION the
    * 120 language-correlated planted docs ([[langPlants]], ids ≥
    * 9,000,000 — disjoint character inventories per synthetic
    * language) and emits the per-slice confusion matrix: the planted
    * slice's holdout diagonal demonstrates the classifier actually
    * discriminates, IN-RESULT, while the harness slice stays the
    * honest chance-level baseline. The oracle retrains the combined
    * model from the same VALUES rows. */
  private[graft] def q276(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"))
      .unionByName(langPlants.toDF("doc_id", "text", "lang"))
    // its own memoized model (documents ∪ plants ≠ the q263 corpus):
    // trained once per application, local weight frames downstream
    val f = TextAnalysis.langIdFittedMemo(s, "planted", dir,
      TextAnalysis.langIdTrain(
        docs.filter(pmod(col("doc_id"), lit(5L)) =!= 0L), "text", "lang"))
    // apply through the FUSED scorer (q271's certified fused ≡
    // relational equivalence; the n_grams > 0 gate reproduces the
    // relational path's no-row-for-gramless-docs contract exactly) —
    // one stateless projection instead of the per-gram md5 bucket
    // aggregate + broadcast join chain (measured 8.5 s -> the
    // projection's wall at sf0.1, the q271-vs-q263 gap)
    val m = f.model
    docs.select(col("doc_id"),
        TextAnalysis.langIdScore(col("text"), f.langs, f.weights,
          f.priors, m.buckets, m.n, m.maxChars, m.salt).as("__r"))
      .filter(col("__r").getField("n_grams") > 0)
      .select(col("doc_id"),
        col("__r").getField("trained_lang").as("trained_lang"))
      .join(docs.select(col("doc_id"), col("lang"),
        (pmod(col("doc_id"), lit(5L)) =!= 0L).as("is_train")),
        Seq("doc_id"))
      .withColumn("slice",
        when(col("doc_id") >= 9000000L, "planted").otherwise("harness"))
      .groupBy(col("slice"), col("lang"), col("trained_lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(!col("is_train"), 1L).otherwise(0L)).as("n_holdout"),
        sum(when(!col("is_train") && col("trained_lang") === col("lang"),
          1L).otherwise(0L)).as("n_holdout_correct"))
      .orderBy("slice", "lang", "trained_lang")
  }

  /** GOPHER repetition-quality gate
    * ([[graft.operators.TextAnalysis.repetitionSignals]]): per-doc
    * top-2/3/4-gram character mass and duplicated-5/6-gram character
    * mass in exact integer micros, plus the composite keep flag at
    * the published thresholds — the standard "natural text doesn't
    * repeat itself" corpus filter beside the q17 ratio gate. */
  private[graft] def q270(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionSignals(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  /** UNIGRAM-LM tokenizer training
    * ([[graft.operators.UnigramLm.trainViterbiEm]]): the
    * SentencePiece-family trainer beside BPE (q123/q152) — capped
    * substring seed, two hard-EM (Viterbi) rounds, micro-ln cost
    * re-estimates. The oracle RETRAINS everything, replaying every
    * Viterbi DP cell through an unrolled forward/backtrack chain —
    * the q123/q148/q154 retrained-oracle discipline extended to a
    * dynamic program. */
  private[graft] def q267(s: SparkSession, dir: String): DataFrame =
    // board-shared memoized vocabulary (identical training in
    // q267/q268/q275/q291 — trained once per application)
    UnigramLm.trainViterbiEmMemo(s, dir, rounds = 2,
        maxPieceLen = 4, vocabCap = 128, maxWordLen = 12)
      .orderBy("piece")

  /** UNIGRAM-LM encode stats ([[graft.operators.UnigramLm.encodeStats]]):
    * per-doc word/char/subword-token counts plus the EXACT total
    * Viterbi path cost under the q267-trained vocabulary — the token
    * count certifies the segmentation, the cost certifies the DP
    * itself. Encoding is one fused codegen projection (vocabulary as
    * expression state, the BPE-merge-table posture). */
  private[graft] def q268(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val vocab = UnigramLm.trainViterbiEmMemo(s, dir, rounds = 2,
        maxPieceLen = 4, vocabCap = 128, maxWordLen = 12)
      .select(col("piece"), col("w_micros"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    UnigramLm.encodeStats(docs, "doc_id", "text",
        vocab.map(_._1).toSeq, vocab.map(_._2).toSeq,
        maxPieceLen = 4, maxWordLen = 12)
      .orderBy("doc_id")
  }

  /** PRUNED unigram-LM tokenizer training
    * ([[graft.operators.UnigramLm.trainViterbiEmPruned]]): the actual
    * SentencePiece shrink loop — each hard-EM round drops the
    * bottom-¼ of multi-char pieces by Viterbi-count contribution
    * (single-char coverage always kept), re-estimating costs over the
    * survivors — closing q267's documented fixed-V simplification.
    * The oracle retrains everything, replaying every DP cell AND
    * every prune decision round by round (exact floor fraction, exact
    * (count, piece) tie order). */
  private[graft] def q277(s: SparkSession, dir: String): DataFrame =
    // board-shared memoized pruned vocabulary (identical training in
    // q277/q283/q289 — trained once per application)
    UnigramLm.trainViterbiEmPrunedMemo(s, dir,
        rounds = 2, maxPieceLen = 4, vocabCap = 128, maxWordLen = 12,
        pruneNum = 1, pruneDen = 4)
      .orderBy("piece")

  /** CCNet perplexity bucketing
    * ([[graft.operators.TextAnalysis.perplexityBuckets]]): the
    * head/middle/tail quality partition every CommonCrawl-derived
    * corpus ships with (CCNet, RedPajama, FineWeb all publish these
    * slices). The q243 Stupid Backoff LM (trained on the 90% split)
    * scores the held-out 10%, the per-trigram NLL is exact-integer
    * length-normalized, and each SOURCE is cut into equal terciles.
    * One row per (source, bucket): doc count, trigram mass, the NLL
    * range the bucket spans, and an md5 over the ordered member ids
    * — so the hash certifies the LM, the normalization, the tercile
    * boundaries, AND the membership. The oracle retrains the LM
    * (q243's chain), replays the same window, and re-cuts. */
  private[graft] def q281(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    // salted-hash 1/10 holdout, NOT doc_id % 10: doc_id blocks
    // correlate with source in the testdata, so the modulo split
    // would leave most sources with zero held-out docs. Scores are
    // memoized in FittedCache — q282/q289 read the same frame
    val scored = TextAnalysis.sbCorpusScores(s, dir, scoreAll = false)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
    TextAnalysis.perplexityBuckets(scored, "source", "doc_id")
      .groupBy(col("source"), col("ppl_bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_trigrams")).as("n_trigrams"),
        min(col("nll_per_tri_nanos")).as("min_nll_nanos"),
        max(col("nll_per_tri_nanos")).as("max_nll_nanos"),
        md5(array_join(transform(sort_array(collect_list(col("doc_id"))),
          x => x.cast("string")), ",")).as("ids_md5"))
      .orderBy("source", "ppl_bucket")
  }

  /** Tokenizer FERTILITY audit per source — the tokens-per-word /
    * chars-per-token table every tokenizer paper publishes, measured
    * for the PRODUCTION trainer (q277's pruned shrink loop) on its
    * own corpus: per source, word/char/piece masses plus the exact
    * integer ratios `pieces_per_word_micros` and
    * `chars_per_piece_micros`. High fertility on a domain means the
    * tokenizer serves that domain badly (more pieces per word =
    * fewer effective context tokens) — THE acceptance gate before a
    * vocabulary ships. The oracle retrains the pruned tokenizer,
    * replays every encode DP cell, and re-derives the same rollup;
    * encode is the fused q268 projection under the PRUNED costs (new
    * coverage: q268 encodes under the fixed-V vocabulary). */
  private[graft] def q283(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val vocab = UnigramLm.trainViterbiEmPrunedMemo(s, dir, rounds = 2,
        maxPieceLen = 4, vocabCap = 128, maxWordLen = 12,
        pruneNum = 1, pruneDen = 4)
      .select(col("piece"), col("w_micros"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    UnigramLm.encodeStats(docs, "doc_id", "text",
        vocab.map(_._1).toSeq, vocab.map(_._2).toSeq,
        maxPieceLen = 4, maxWordLen = 12)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("char_tokens")).as("char_tokens"),
        sum(col("unigram_tokens")).as("unigram_tokens"),
        sum(col("cost_micros")).as("cost_micros"))
      .withColumn("pieces_per_word_micros",
        expr("(unigram_tokens * 1000000L) div n_words"))
      .withColumn("chars_per_piece_micros",
        expr("(char_tokens * 1000000L) div unigram_tokens"))
      .select(col("source"), col("n_docs"), col("n_words"),
        col("char_tokens"), col("unigram_tokens"), col("cost_micros"),
        col("pieces_per_word_micros"), col("chars_per_piece_micros"))
      .orderBy("source")
  }

  /** Obfuscation-resistant blocklist audit
    * ([[graft.operators.Scrub.foldConfusables]] →
    * [[graft.operators.Blocklist.screen]] twice): the corpus +
    * spam plants, deterministically obfuscated in-query (doc_id%3=1
    * → Cyrillic homoglyph translate of a/e/o; doc_id%3=2 → ZWSP
    * injected after every 'e'), then screened RAW vs SCRUBBED
    * against the spam dictionary. `evaded` marks docs the naive
    * screen passes but the fold catches — exactly the two
    * [[obfuscationPlants]] (the q244 spam plants land on modes that
    * leave an un-obfuscated pattern hitting, so they stay caught
    * raw — the partial-evasion control). The whole audit is one
    * shuffle-free projection
    * (translate/regexp_replace/Aho-Corasick all codegen'd), and the
    * oracle replays the obfuscation, the fold (interpolating the
    * SAME confusable map), and the replace-arithmetic counts. */
  /** q294's full-evasion plants — ids CHOSEN mod 3 so the spam text
    * lands on an obfuscation that garbles EVERY matching pattern:
    * 50000002 %3=1 (homoglyph; every pattern carries an a/e/o) and
    * 50000003 %3=2 (ZWSP; only e-carrying patterns, no "buy now"). */
  private[graft] val obfuscationPlants = Seq(
    (50000002L, "click here buy now winner takes all"),
    (50000003L, "the winner should click here twice"))

  private[graft] def q294(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      .unionByName((spamPlants ++ obfuscationPlants).toDF("doc_id", "text"))
    val obf = docs
      .withColumn("obf_mode",
        when(col("doc_id") % 3 === 1, lit("homoglyph"))
          .when(col("doc_id") % 3 === 2, lit("zwsp"))
          .otherwise(lit("none")))
      .withColumn("obf_text",
        when(col("obf_mode") === "homoglyph",
          translate(col("text"), "aeo", "\u0430\u0435\u043e"))
        .when(col("obf_mode") === "zwsp",
          regexp_replace(col("text"), "e", "e\u200b"))
        .otherwise(col("text")))
      .withColumn("scr_text",
        graft.operators.Scrub.foldConfusables(col("obf_text")))
    val raw = graft.operators.Blocklist.screen(obf, "doc_id", "obf_text",
        spamPatterns, maxHits = 1)
      .withColumnRenamed("total_hits", "raw_hits")
      .withColumnRenamed("blocklist_keep", "raw_keep")
      .drop("n_patterns_hit")
    graft.operators.Blocklist.screen(raw, "doc_id", "scr_text",
        spamPatterns, maxHits = 1)
      .withColumnRenamed("total_hits", "scrubbed_hits")
      .withColumnRenamed("blocklist_keep", "scrubbed_keep")
      .select(col("doc_id"), col("obf_mode"), col("raw_hits"),
        col("scrubbed_hits"), col("raw_keep"), col("scrubbed_keep"),
        (col("raw_keep") && !col("scrubbed_keep")).as("evaded"))
      .orderBy("doc_id")
  }

  /** Zipf rank-frequency fit per source
    * ([[graft.operators.TextAnalysis.zipfFit]]): the top-100 token
    * frequencies of each source OLS-fitted in log-log space — slope,
    * intercept, r² in exact integer micros from micro-quantized ln
    * over integer counts. The power-law corpus-health alarm beside
    * q118's distribution drift and q226's burstiness. The oracle
    * replays the ranking and the five-sum fit verbatim. */
  private[graft] def q297(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.zipfFit(t(s, dir, "documents"), "source", "text",
        topRanks = 100)
      .orderBy("source")

  /** Heaps-law vocabulary-growth fit per source
    * ([[graft.operators.TextAnalysis.heapsFit]]): cumulative
    * (tokens, distinct vocabulary) after each doc in doc_id order,
    * OLS-fitted in log-log space — β near 1 flags never-saturating
    * vocabulary (noise/ids), near 0 a closed template. The growth
    * companion to q297's static Zipf law, on the shared
    * exact-integer five-sum fit; the oracle replays the first-
    * occurrence reduction, both cumulative windows, and the fit. */
  private[graft] def q300(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.heapsFit(t(s, dir, "documents"), "source", "doc_id",
        "text")
      .orderBy("source")

  /** Interpolated Kneser-Ney trigram scoring
    * ([[graft.operators.TextAnalysis.kneserNeyScore]]): the KenLM
    * smoother beside q243's stupid backoff — raw-count discounting
    * at the trigram level, CONTINUATION-type counts below, fixed
    * D = 0.75, whole-level fallback on unseen contexts, add-one
    * continuation floor for OOV. Same train/score split and OOV
    * plant as q243, so the two smoothers' per-doc scores compare
    * directly. The oracle rebuilds all five type/count tables and
    * replays the nested discount expressions verbatim. */
  private[graft] def q302(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val train = docs.filter(col("doc_id") % 10 =!= 0)
    val score = docs.filter(col("doc_id") % 10 === 0)
      .unionByName(Seq((30000002L, sbOovDoc)).toDF("doc_id", "text"))
    TextAnalysis.kneserNeyScore(train, score, "doc_id", "text")
      .orderBy("doc_id")
  }

  /** LM interpolation-weight sweep
    * ([[graft.operators.TextAnalysis.interpolatedLmSweep]]): the
    * held-out λ grid over p_mix = λ·KN + (1−λ)·SB on q302's exact
    * split and OOV plant — λ=0 and λ=1 reproduce q243/q302's models
    * bit-exactly (grid 8 is a power of two), interior rows are the
    * mixture-tuning curve whose argmax is the weight a KenLM-style
    * pipeline would ship. One scoring pass; only the catalog-sized
    * λ grid fans it out. The oracle shares one set of count CTEs
    * between both component models and replays the mixture ladder. */
  private[graft] def q305(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val train = docs.filter(col("doc_id") % 10 =!= 0)
    val score = docs.filter(col("doc_id") % 10 === 0)
      .unionByName(Seq((30000002L, sbOovDoc)).toDF("doc_id", "text"))
    TextAnalysis.interpolatedLmSweep(train, score, "doc_id", "text")
      .orderBy("lambda_num")
  }

  /** Empirical-Bayes per-source quality prior — shrinkage estimation
    * (the beta-binomial / James-Stein posture): each source's
    * langid-agreement rate (q18's marker argmax vs the recorded
    * lang) is shrunk toward the corpus-wide rate with pseudo-count
    * strength m=25, `(k + m·p₀)/(n + m)` as ONE exact integer
    * rational — small sources collapse to the prior, large sources
    * keep their evidence. The domain/source trust score a crawl
    * scheduler consumes. All-integer div on non-negative operands
    * (Spark `div` ≡ DuckDB `//`); counts·totals must stay < 2⁶³
    * (Decimal beyond ~10⁹ docs/side). */
  private[graft] def q306(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val pred = TextAnalysis.languageId(d.select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("predicted_lang"))
    // NOT pinned (measured): the per-source rollup feeds both the
    // result and the 1-row total, but an eager localCheckpoint job
    // costs more than the one cheap re-scan it saves (0.35 s -> 0.88 s
    // at sf0.1, reverted — the q257-raw counter-example to the pin
    // discipline)
    val per = d.select(col("doc_id"), col("source"), col("lang"))
      .join(pred, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("predicted_lang") === col("lang"), 1L)
          .otherwise(0L)).as("n_match"))
    val tot = per.agg(sum(col("n_docs")).as("__tn"),
      sum(col("n_match")).as("__tk"))
    per.crossJoin(broadcast(tot))
      .withColumn("raw_rate_micros",
        expr("n_match * 1000000 div n_docs"))
      .withColumn("global_rate_micros",
        expr("__tk * 1000000 div __tn"))
      .withColumn("shrunk_rate_micros",
        expr("(n_match * __tn + 25 * __tk) * 1000000" +
          " div ((n_docs + 25) * __tn)"))
      .select(col("source"), col("n_docs"), col("n_match"),
        col("raw_rate_micros"), col("global_rate_micros"),
        col("shrunk_rate_micros"))
      .orderBy("source")
  }

  /** Good-Turing unseen mass + Chao1 richness per source
    * ([[graft.operators.TextAnalysis.vocabRichness]]): the frequency
    * -spectrum law completing the corpus trilogy with q297 (Zipf)
    * and q300 (Heaps) — N1/N flags sources whose vocabulary is still
    * being discovered, Chao1 extrapolates total type richness. Exact
    * integer rationals; the oracle replays the spectrum directly. */
  private[graft] def q307(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.vocabRichness(t(s, dir, "documents"), "source", "text")
      .orderBy("source")

}
