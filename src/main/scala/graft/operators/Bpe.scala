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
  *     persists; every merge round is a map-combined aggregate over
  *     the vocabulary, never a corpus rescan.
  *   - Pair counting is a pure projection (slice + `zip_with`, no
  *     per-row UDF) fanned through one `explode`, then ONE map-side
  *     combinable `sum(freq)` aggregate keyed on the pair — the same
  *     bounded-shuffle shape as the n-gram counters (q58/q104/q122).
  *   - The merge DECISION is parameter-sized: a 1-row
  *     `orderBy.limit(1).collect()` per round (count DESC, then
  *     lexical on the pair — deterministic across engines and
  *     partitionings, both sides binary string collation).
  *   - The merge APPLICATION is a literal string `replace` on the
  *     bracket-encoded state — see below — a codegen'd projection,
  *     no shuffle.
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

  /** [[wordFreq]] bracket-encoded. */
  private def vocab(docs: DataFrame, textCol: String): DataFrame =
    encodeStates(wordFreq(docs, textCol))

  /** Split a bracket-encoded state back into its symbol array
    * (strip the outer brackets, split on the inner `><` seams). */
  private def symbols(state: org.apache.spark.sql.Column) =
    split(state.substr(lit(2), length(state) - 2), "><")

  /** Driver-side Spark-action count of the most recent
    * [[trainMerges]] run — the rounds-per-action scale probe the
    * batched trainer exists for. */
  val lastTrainActions = new java.util.concurrent.atomic.AtomicLong(0)

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

  /** Learn `iterations` merges over the corpus. Stops early (fewer
    * rows) if the vocabulary runs out of adjacent pairs.
    *
    * `mergesPerAction` > 1 turns on BATCHED training: each Spark
    * action pulls the top pairs once and applies a PROVABLY
    * sequential-equivalent prefix of them (see
    * [[trainMergesBatched]]) — the scale fix for the one-driver-
    * round-trip-per-merge shape, which at a production ~32k-merge
    * vocabulary would mean ~32k actions. Output is identical to the
    * sequential fold for ANY corpus (BpeSpec pins 128-round
    * equality); default 1 preserves the original loop.
    *
    * `localVocabThreshold` > 0 enables the DRIVER-LOCAL tail: after
    * the one corpus-sized word-frequency aggregation, if the distinct
    * vocabulary has at most that many rows it is collected once and
    * ALL merge rounds run locally — zero further Spark actions. This
    * is the production contract for real (≈32k-merge) vocabularies:
    * the word-freq table is Heaps-law bounded (≪ corpus; frequency
    * floors shrink it further), so a 100 TB corpus trains with ONE
    * distributed aggregate + a driver fold, while an unbounded
    * vocabulary falls back to the distributed (optionally batched)
    * rounds. The local fold is the same algorithm on the same data —
    * merge lists are identical by construction (BpeSpec pins all
    * three modes against each other and the brute-force reference). */
  def trainMerges(docs: DataFrame, textCol: String, iterations: Int,
      persistVocab: Boolean = true, mergesPerAction: Int = 1,
      localVocabThreshold: Long = 0L): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    require(mergesPerAction >= 1, "mergesPerAction must be >= 1")
    lastTrainActions.set(0)
    if (localVocabThreshold > 0L) {
      val spark = docs.sparkSession
      // driver-collect budgets beyond Int.MaxValue rows are not a
      // thing — clamp instead of letting toInt wrap negative
      val cap = math.min(localVocabThreshold, (Int.MaxValue - 1).toLong).toInt
      val wf = wordFreq(docs, textCol).persist()
      lastTrainActions.incrementAndGet()
      // one aggregate returns BOTH the gate count and (if small
      // enough) the rows: collect with a limit guard
      val rows = wf.limit(cap + 1).collect()
      if (rows.length <= cap) {
        wf.unpersist()
        val words = rows.map(r => r.getString(0) -> r.getLong(1))
        return spark.createDataFrame(
          spark.sparkContext.parallelize(trainLocal(words, iterations), 1),
          mergeSchema)
      }
      // vocabulary larger than the driver budget: distributed rounds
      // over the ALREADY-AGGREGATED (persisted) word-freq table — the
      // corpus is not rescanned, and the probe action stays counted
      val out =
        if (mergesPerAction > 1)
          trainMergesBatched(encodeStates(wf), spark, iterations,
            persistVocab = false, mergesPerAction)
        else
          trainMergesSequential(encodeStates(wf), spark, iterations,
            persistVocab = false)
      wf.unpersist()
      return out
    }
    if (mergesPerAction > 1)
      trainMergesBatched(vocab(docs, textCol), docs.sparkSession, iterations,
        persistVocab, mergesPerAction)
    else
      trainMergesSequential(vocab(docs, textCol), docs.sparkSession, iterations,
        persistVocab)
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

  private def trainMergesSequential(words0: DataFrame,
      spark: org.apache.spark.sql.SparkSession,
      iterations: Int, persistVocab: Boolean): DataFrame = {
    // vocabulary ≪ corpus by contract: persist so the merge rounds
    // never rescan the corpus (the one corpus-sized scan is upstream)
    val base = if (persistVocab) words0.persist() else words0
    var states = base
    val out = collection.mutable.ArrayBuffer.empty[Row]
    // ONE action per merge round. The round's single aggregate row
    // carries BOTH the merge decision (min_by over the ordering
    // struct (-count, lft, rgt) = the desc-count/lex tie-break) and
    // the total adjacent-pair count, and the latter retro-fills the
    // PREVIOUS round's tokens_after: every word contributes
    // (symbols - 1) pairs, so tokens = total_pairs + total_freq,
    // with total_freq constant across rounds (one tiny job up
    // front). Only the final round needs a dedicated post-merge
    // count — the pre-r9 form ran that aggregate every round.
    val totalFreq = base.agg(coalesce(sum(col("__freq")), lit(0L)))
      .head().getLong(0)
    lastTrainActions.incrementAndGet()
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
      lastTrainActions.incrementAndGet()
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
      lastTrainActions.incrementAndGet()
      out += Row(pi, l, r, l + r, c, tokensAfter)
    }
    if (persistVocab) base.unpersist()
    spark.createDataFrame(
      spark.sparkContext.parallelize(out.toSeq, 1), mergeSchema)
  }

  /** Batched trainer: ONE `orderBy.limit(topM).collect()` action
    * pulls the round's top pairs, and a maximal prefix of them is
    * applied before the next recount. The prefix is chosen so the
    * result is PROVABLY identical to the one-merge-per-round fold —
    * a candidate (lft, rgt, c) joins the batch only if
    *
    *  1. it does not CHAIN-overlap any accepted pair — no accepted
    *     rgt equals its lft and its rgt equals no accepted lft.
    *     Two occurrences can only share a string position through
    *     such a chain (`a b c` for (a,b)/(b,c)); merely sharing a
    *     left or right symbol ((a,_) vs (b,_) — the dominant shape,
    *     every word ends in '_') can never overlap, so counts stay
    *     invariant and the literal replaces commute;
    *  2. `lft != rgt` (greedy replacement then merges EVERY counted
    *     occurrence, so tokens_after falls by exactly `c` — overlap
    *     runs like `aaa` break that identity);
    *  3. its merged string is a FRESH symbol (never in the initial
    *     a-z/_ alphabet nor produced by any earlier merge): merging
    *     can then only create brand-new pair TYPES, never add
    *     occurrences to an existing type;
    *  4. its merged string differs from every accepted merged
    *     string (each new pair type then maps occurrence-injectively
    *     to ONE pre-existing pair type across the merge boundary —
    *     (x, l_j) or (r_j, y) — which chain-overlaps P_j and is
    *     therefore excluded, bounding the new type's count by F);
    *
    * the walk stops at the first rejection (the batch must stay a
    * PREFIX of the sorted order), and each member beyond the first
    * must STRICTLY dominate its new-pair THREAT bound: the maximum
    * count over visible excluded pairs chain-overlapping an EARLIER
    * accepted member, with the horizon (last visible count) standing
    * in for parents hiding below the window. Under 1-4 + the threat
    * bound, at sequential step i every competitor is either an
    * original excluded pair — count never increased, sorted after
    * the prefix, so it loses on count or on the lex tie-break — or a
    * new pair type, whose count is bounded by a chain-overlapping
    * excluded parent's ≤ threat < c_i. Hence the sequential argmax
    * picks exactly the accepted pairs in order. An inadmissible
    * top-1 (l==r or symbol collision) falls back to a solo
    * sequential step. BpeSpec pins 128-round merge-list equality
    * with the sequential fold plus a randomized cross-mode fuzz;
    * q123's oracle hash is unchanged by construction. */
  private def trainMergesBatched(words0: DataFrame,
      spark: org.apache.spark.sql.SparkSession,
      iterations: Int, persistVocab: Boolean, batchMax: Int): DataFrame = {
    val base = if (persistVocab) words0.persist() else words0
    var states = base
    val out = collection.mutable.ArrayBuffer.empty[Row]
    def measuredTokens(): Long = {
      lastTrainActions.incrementAndGet()
      states.agg(coalesce(sum(col("__freq")
          * size(symbols(col("__state"))).cast("long")), lit(0L)))
        .head().getLong(0)
    }
    var tokens = measuredTokens()
    // conservative superset of every symbol that has ever existed:
    // vocab() states are single [a-z] chars plus '_', and each merge
    // adds exactly its merged string
    val knownSymbols = collection.mutable.Set[String]("_") ++
      ('a' to 'z').map(_.toString)
    def applyMerge(l: String, r: String): Unit = {
      states = states.withColumn("__state",
        replace(col("__state"), lit(s"<$l><$r>"), lit(s"<$l$r>")))
      knownSymbols += (l + r)
    }
    var done = 0
    var exhausted = false
    while (done < iterations && !exhausted) {
      val m = math.min(batchMax, iterations - done)
      // wide visibility: the horizon (count bound for unseen pairs)
      // is the LAST visible count, and the new-pair threat check
      // falls back to it whenever a parent could be hiding below —
      // an 8× window costs nothing (driver-side rows) and drops the
      // horizon far enough that threats resolve to exact visible
      // chain-overlap counts
      val topM = 8 * m + 1
      lastTrainActions.incrementAndGet()
      val top = pairCounts(states)
        .orderBy(col("pair_count").desc, col("lft"), col("rgt"))
        .limit(topM).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      if (top.isEmpty) {
        exhausted = true
      } else {
        // any pair NOT in the visible list has count ≤ the last
        // visible count (total-order sort); 0 when the whole table fits
        val horizon: Long = if (top.length == topM) top.last._3 else 0L
        val accepted = collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        var idx = 0
        var stop = false
        while (idx < top.length && accepted.size < m && !stop) {
          val (l, r, c) = top(idx)
          val structural = l != r &&
            !accepted.exists(a => a._2 == l || r == a._1) && // no chain overlap
            !knownSymbols.contains(l + r) &&
            !accepted.exists(a => a._1 + a._2 == l + r)
          // new-pair-type threat at this member's sequential turn: a
          // new type's count is bounded by a parent pair that
          // chain-overlaps an EARLIER accepted member — parents are
          // therefore excluded rows (visible ones scanned exactly,
          // unseen ones ≤ horizon). Excluded ORIGINAL pairs need no
          // margin: they sort after this prefix, so at equal counts
          // the comparator (count DESC, lft, rgt) still picks the
          // accepted member. Hence strict dominance over the parent
          // bound alone suffices.
          val threat: Long =
            if (accepted.isEmpty) Long.MinValue
            else {
              var t = horizon
              var j = idx + 1
              while (j < top.length) {
                val q = top(j)
                if (accepted.exists(a => a._2 == q._1 || q._2 == a._1) &&
                    q._3 > t) t = q._3
                j += 1
              }
              t
            }
          if (structural && (accepted.isEmpty || c > threat)) {
            accepted += ((l, r, c)); idx += 1
          } else stop = true
        }
        if (accepted.size >= 2) {
          accepted.foreach { case (l, r, c) =>
            applyMerge(l, r)
            done += 1
            tokens -= c // every counted occurrence merges (rule 2)
            out += Row(done.toLong, l, r, l + r, c, tokens)
          }
        } else {
          // solo sequential step: the true argmax, whatever its shape
          val (l, r, c) = top(0)
          applyMerge(l, r)
          done += 1
          // the count-c subtraction needs only rule 2 (no overlap);
          // an l==r run merges fewer than c occurrences → measure
          if (l != r) tokens -= c else tokens = measuredTokens()
          out += Row(done.toLong, l, r, l + r, c, tokens)
        }
      }
    }
    if (persistVocab) base.unpersist()
    spark.createDataFrame(
      spark.sparkContext.parallelize(out.toSeq, 1), mergeSchema)
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
