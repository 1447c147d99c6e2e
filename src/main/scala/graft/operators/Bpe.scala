package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Byte-pair-encoding tokenizer TRAINING as a relational fixpoint
  * (Sennrich et al. 2016, arXiv:1508.07909) — the canonical
  * vocabulary-induction step of every LLM data pipeline, built the
  * same certifiable way as [[Cluster.kmeansMicro]] and
  * [[Graph.pageRank]]: a fixed budget of iterations, each one exact
  * integer relational algebra, so a DuckDB oracle unrolling the same
  * rounds hash-matches the whole merge trajectory.
  *
  * Design for scale, in Spark terms:
  *   - The corpus is scanned ONCE. BPE operates on the word-frequency
  *     table (vocabulary ≪ corpus at any scale — the heavy-tail
  *     collapse is exactly why BPE works), which this operator
  *     aggregates once and persists; no merge round rescans the
  *     corpus.
  *   - A vocabulary of at most 2^20 distinct words (every real
  *     corpus: Heaps' law) is collected and folded exactly on the
  *     driver, so training runs one distributed aggregate whatever
  *     the merge budget.
  *   - A larger vocabulary falls back to the distributed fold: per
  *     round, pair counting is a pure projection (slice + `zip_with`,
  *     no per-row UDF) fanned through one `explode`, then ONE
  *     map-side combinable `sum(freq)` aggregate keyed on the pair —
  *     the same bounded-shuffle shape as the n-gram counters
  *     (q58/q104/q122). The merge DECISION is a 1-row `min_by`
  *     collect (count DESC, then lexical on the pair — deterministic
  *     across engines and partitionings, both sides binary string
  *     collation), and the merge APPLICATION is a literal string
  *     `replace` on the bracket-encoded state — see below — a
  *     codegen'd projection, no shuffle.
  *
  * Bracket encoding: a word's symbol sequence is carried as
  * `<l><o><w><_>` ('_' = end-of-word marker). The alphabet is pinned
  * to `[a-z]` + '_', so '<'/'>' never occur INSIDE a symbol and the
  * literal replace of `<l><r>` with `<lr>` is exactly the greedy
  * left-to-right non-overlapping BPE merge (both JVM `replace` and
  * DuckDB `replace` scan left to right and continue AFTER the
  * replacement, so `<a><a><a>` under merge (a,a) becomes
  * `<aa><a>` — standard BPE greedy semantics).
  *
  * Reference anchor: the reference pipeline tokenizes labels for its
  * embedder (`utilities/nlp_preprocessing.py:75-90` whitespace
  * tokens); this operator is the corpus-scale vocabulary-induction
  * counterpart a trained tokenizer needs.
  */
object Bpe {

  /** One learned merge per row:
    * (iteration, lft, rgt, merged, pair_count, tokens_after) —
    * `pair_count` the frequency-weighted count that won the round,
    * `tokens_after` the corpus token count once the merge applies
    * (the compression trajectory a tokenizer report plots). */
  val mergeSchema: StructType = StructType(Seq(
    StructField("iteration", LongType, nullable = false),
    StructField("lft", StringType, nullable = false),
    StructField("rgt", StringType, nullable = false),
    StructField("merged", StringType, nullable = false),
    StructField("pair_count", LongType, nullable = false),
    StructField("tokens_after", LongType, nullable = false)))

  /** Word-frequency table of `textCol`: one row per distinct
    * `[a-z]+` word — the ONE corpus-sized aggregation of BPE
    * training; everything after operates on this (vocabulary ≪
    * corpus by Heaps' law). */
  private def wordFreq(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(split(lower(col(textCol)), "\\s+")).as("__w"))
      .filter(col("__w").rlike("^[a-z]+$"))
      .groupBy(col("__w"))
      .agg(count(lit(1)).as("__freq"))

  /** Bracket-encode a word-frequency table:
    * (`__state` = `<c><c>..<_>`, `__freq`). */
  private def encodeStates(wf: DataFrame): DataFrame =
    wf.select(
      regexp_replace(concat(col("__w"), lit("_")), "(.)", "<$1>")
        .as("__state"),
      col("__freq"))

  /** Split a bracket-encoded state back into its symbol array
    * (strip the outer brackets, split on the inner `><` seams). */
  private def symbols(state: org.apache.spark.sql.Column) =
    split(state.substr(lit(2), length(state) - 2), "><")

  /** Adjacent-pair frequency table of the current vocabulary states:
    * (lft, rgt, pair_count), map-side combinable. */
  private def pairCounts(states: DataFrame): DataFrame = {
    val syms = symbols(col("__state")).as("__syms")
    states
      .select(col("__freq"), syms)
      .select(col("__freq"),
        explode(zip_with(
          slice(col("__syms"), lit(1), size(col("__syms")) - 1),
          slice(col("__syms"), lit(2), size(col("__syms")) - 1),
          (l, r) => struct(l.as("lft"), r.as("rgt")))).as("__p"))
      .groupBy(col("__p.lft").as("lft"), col("__p.rgt").as("rgt"))
      .agg(sum(col("__freq")).as("pair_count"))
  }

  /** Distinct words [[trainMerges]] collects to the driver at most:
    * a vocabulary this size or smaller trains with the driver fold. */
  private val DriverVocabBudget = 1 << 20

  /** Learn `iterations` merges over the corpus. Stops early (fewer
    * rows) if the vocabulary runs out of adjacent pairs.
    *
    * The word-frequency table is aggregated once and persisted, and
    * at most [[DriverVocabBudget]] + 1 of its rows are collected. A
    * vocabulary that fits the budget trains with the exact driver
    * fold ([[trainLocal]]): one distributed aggregate, then every
    * round on the driver. The word-frequency table is Heaps-law
    * bounded (≪ corpus), so this is the path real corpora take. A
    * larger vocabulary falls back to the distributed fold
    * ([[foldDistributed]]) over the persisted table, one action per
    * round; the corpus is not rescanned. Both folds are the same
    * algorithm on the same data, so their merge lists are identical
    * (BpeSpec pins both against each other and a brute-force
    * reference). */
  def trainMerges(docs: DataFrame, textCol: String, iterations: Int): DataFrame =
    withWordFreq(docs, textCol, iterations) { wf =>
      val rows = wf.limit(DriverVocabBudget + 1).collect()
      if (rows.length <= DriverVocabBudget)
        trainLocal(rows.map(r => r.getString(0) -> r.getLong(1)), iterations)
      else foldDistributed(wf, iterations)
    }

  /** [[trainMerges]] forced onto the distributed fold whatever the
    * vocabulary size, so tests can compare the two folds. */
  private[graft] def trainMergesDistributed(docs: DataFrame, textCol: String,
      iterations: Int): DataFrame =
    withWordFreq(docs, textCol, iterations)(foldDistributed(_, iterations))

  /** Persist the word-frequency table of `textCol` around `train`
    * and return its merges as a [[mergeSchema]] frame. */
  private def withWordFreq(docs: DataFrame, textCol: String, iterations: Int)
      (train: DataFrame => Seq[Row]): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val spark = docs.sparkSession
    val wf = wordFreq(docs, textCol).persist()
    val merges = try train(wf) finally wf.unpersist()
    spark.createDataFrame(spark.sparkContext.parallelize(merges, 1), mergeSchema)
  }

  /** The exact sequential fold, driver-side, over the collected
    * (word, freq) table: overlapping adjacent-pair counts, argmax by
    * (count DESC, lft, rgt) under the same ASCII ordering Spark's
    * binary collation gives `[a-z_]`, greedy left-to-right
    * non-overlapping merge, actual post-merge token counts. */
  private def trainLocal(words: Array[(String, Long)],
      iterations: Int): Seq[Row] = {
    var states: Array[(Array[String], Long)] =
      words.map { case (w, f) => ((w + "_").map(_.toString).toArray, f) }
    val out = collection.mutable.ArrayBuffer.empty[Row]
    var i = 0
    var done = false
    while (i < iterations && !done) {
      i += 1
      val counts = collection.mutable.HashMap.empty[(String, String), Long]
      for ((syms, f) <- states; j <- 0 until syms.length - 1) {
        val k = (syms(j), syms(j + 1))
        counts(k) = counts.getOrElse(k, 0L) + f
      }
      if (counts.isEmpty) done = true
      else {
        val ((l, r), c) = counts.minBy { case ((l, r), c) => (-c, l, r) }
        states = states.map { case (syms, f) =>
          val b = Array.newBuilder[String]
          var j = 0
          while (j < syms.length) {
            if (j + 1 < syms.length && syms(j) == l && syms(j + 1) == r) {
              b += (l + r); j += 2
            } else { b += syms(j); j += 1 }
          }
          (b.result(), f)
        }
        var toks = 0L
        states.foreach { case (s, f) => toks += s.length * f }
        out += Row(i.toLong, l, r, l + r, c, toks)
      }
    }
    out.toSeq
  }

  /** The distributed fold over the word-frequency table `wf`, one
    * action per merge round. */
  private def foldDistributed(wf: DataFrame, iterations: Int): Seq[Row] = {
    var states = encodeStates(wf)
    val out = collection.mutable.ArrayBuffer.empty[Row]
    // ONE action per merge round. The round's single aggregate row
    // carries BOTH the merge decision (min_by over the ordering
    // struct (-count, lft, rgt) = the desc-count/lex tie-break) and
    // the total adjacent-pair count, and the latter retro-fills the
    // PREVIOUS round's tokens_after: every word contributes
    // (symbols - 1) pairs, so tokens = total_pairs + total_freq,
    // with total_freq constant across rounds (one tiny job up
    // front). Only the final round needs a dedicated post-merge
    // count.
    val totalFreq = wf.agg(coalesce(sum(col("__freq")), lit(0L)))
      .head().getLong(0)
    var pending: Option[(Long, String, String, Long)] = None
    var exhausted = false
    for (i <- 1 to iterations if !exhausted) {
      val pairs = pairCounts(states)
      // ONE row to the driver per round — the merge decision is
      // parameter-sized, like kmeansMicro's centroid fold
      val agg = pairs.agg(
        coalesce(sum(col("pair_count")), lit(0L)).as("total_pairs"),
        min_by(struct(col("lft"), col("rgt"), col("pair_count")),
          struct((-col("pair_count")).as("nc"), col("lft"), col("rgt")))
          .as("best")).head()
      pending.foreach { case (pi, l, r, c) =>
        out += Row(pi, l, r, l + r, c, agg.getLong(0) + totalFreq)
      }
      pending = None
      if (agg.isNullAt(1)) {
        exhausted = true
      } else {
        val b = agg.getStruct(1)
        val (l, r, c) = (b.getString(0), b.getString(1), b.getLong(2))
        states = states.withColumn("__state",
          replace(col("__state"), lit(s"<$l><$r>"), lit(s"<$l$r>")))
        pending = Some((i.toLong, l, r, c))
      }
    }
    pending.foreach { case (pi, l, r, c) =>
      // final round only: vocabulary-sized post-merge token count
      val tokensAfter = states
        .agg(coalesce(sum(col("__freq")
          * size(symbols(col("__state"))).cast("long")), lit(0L)))
        .head().getLong(0)
      out += Row(pi, l, r, l + r, c, tokensAfter)
    }
    out.toSeq
  }

  /** Tokenize every document with an already-learned merge list:
    * apply the merges IN LEARNED ORDER to each word's bracket state
    * (the standard apply-time rule), then report per-document token
    * counts before/after — the compression audit a tokenizer change
    * ships with. `merges` must be parameter-sized (it is a learned
    * vocabulary: k rows by construction); it is collected and folded
    * into the projection, the corpus never shuffles. */
  def encodeStats(docs: DataFrame, idCol: String, textCol: String,
      merges: DataFrame): DataFrame = {
    val ms = merges.orderBy(col("iteration"))
      .select(col("lft"), col("rgt")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val words = docs.select(col(idCol),
      explode(split(lower(col(textCol)), "\\s+")).as("__w"))
      .filter(col("__w").rlike("^[a-z]+$"))
      .withColumn("__state",
        regexp_replace(concat(col("__w"), lit("_")), "(.)", "<$1>"))
    val applied = ms.foldLeft(words) { case (df, (l, r)) =>
      df.withColumn("__state",
        replace(col("__state"), lit(s"<$l><$r>"), lit(s"<$l$r>")))
    }
    applied
      .select(col(idCol),
        length(col("__w")).cast("long").as("__chars"),
        size(symbols(col("__state"))).cast("long").as("__toks"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        (sum(col("__chars")) + count(lit(1))).as("char_tokens"),
        sum(col("__toks")).as("bpe_tokens"))
  }
}
