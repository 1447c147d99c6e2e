package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{toColumn, toExpression}

import graft.functions.AhoCorasickCountsExpr

/** Multi-pattern blocklist screening — the C4-style "bad-words /
  * spam-phrase" curation stage: every document is scanned ONCE
  * against the whole pattern dictionary by an Aho-Corasick automaton
  * ([[graft.functions.AhoCorasickCountsExpr]]), instead of once per
  * pattern. The dictionary is parameter-sized state (like the BPE
  * merge table): it ships inside the expression, no join, no
  * broadcast exchange, no shuffle — the scan fuses into the document
  * projection, so at 100 TB the stage costs exactly one read of the
  * corpus.
  *
  * Match semantics are leftmost non-overlapping per pattern (replace
  * arithmetic — see the expression Scaladoc) over the lower-cased
  * text, so the screen is case-insensitive for lower-case patterns.
  */
object Blocklist {

  /** `array<int>` of per-pattern hit counts aligned with `patterns`. */
  def acCounts(text: Column, patterns: Seq[String]): Column =
    toColumn(AhoCorasickCountsExpr(toExpression(text), patterns))

  /** Long-form per-doc hit report: one `(id, pattern, hits)` row per
    * pattern with at least one hit. `posexplode` aligns the count
    * array back to the pattern strings via a literal lookup array —
    * still a pure projection (explode of a parameter-sized array),
    * no join against a pattern table. */
  def hitCounts(docs: DataFrame, idCol: String, textCol: String,
      patterns: Seq[String]): DataFrame = {
    val pats = array(patterns.map(lit): _*)
    docs.select(col(idCol), posexplode(acCounts(lower(col(textCol)), patterns))
        .as(Seq("__pos", "hits")))
      .filter(col("hits") > 0)
      .select(col(idCol),
        element_at(pats, col("__pos") + 1).as("pattern"),
        col("hits").cast("long").as("hits"))
  }

  /** Keyword-dictionary TOPIC TAGGING — the domain classifier a
    * mixture pipeline runs to weight sources (news/code/reference/…):
    * every category owns a keyword list, ALL lists are compiled into
    * ONE Aho-Corasick automaton, and a single text pass yields every
    * category's hit total; `topic` is the argmax (ties break toward
    * the lexicographically smallest category name, `none` when
    * nothing hits). Still a pure fused projection — the per-category
    * rollup is in-row arithmetic over the one counts array, so
    * tagging N categories costs the same corpus read as one.
    *
    * Output: idCol, one `hits_<category>` column per category, and
    * `topic`. */
  def categorize(docs: DataFrame, idCol: String, textCol: String,
      categories: Seq[(String, Seq[String])]): DataFrame = {
    require(categories.nonEmpty && categories.forall(_._2.nonEmpty),
      "need at least one category, each with at least one keyword")
    require(categories.map(_._1).distinct.size == categories.size,
      "category names must be unique")
    val cats = categories.sortBy(_._1)
    val flat = cats.flatMap(_._2)
    val offsets = cats.map(_._2.size).scanLeft(0)(_ + _)
    val withCounts = docs.withColumn("__ac", acCounts(lower(col(textCol)), flat))
    val hitCols = cats.zipWithIndex.map { case ((name, pats), i) =>
      aggregate(slice(col("__ac"), offsets(i) + 1, pats.size), lit(0L),
        (acc, h) => acc + h).as(s"hits_$name")
    }
    val tagged = withCounts.select(
      withCounts.columns.filterNot(_ == "__ac").map(col).toSeq ++ hitCols: _*)
    val names = cats.map(_._1)
    // greatest() needs >= 2 args; with one category the argmax IS
    // that category's struct
    val structs = names.map(n =>
      struct(col(s"hits_$n").as("h"), lit(-names.indexOf(n)).as("ord")))
    val best = if (structs.size == 1) structs.head else greatest(structs: _*)
    tagged.withColumn("topic",
      when(best.getField("h") === 0L, lit("none"))
        .otherwise(element_at(array(names.map(lit): _*),
          -best.getField("ord") + 1)))
  }

  /** Per-doc screening summary: total hits, number of distinct
    * patterns hit, and the keep flag (`total_hits < maxHits`). The
    * rollup is an in-row `aggregate` fold over the count array — the
    * whole report stays a single shuffle-free projection. */
  def screen(docs: DataFrame, idCol: String, textCol: String,
      patterns: Seq[String], maxHits: Int = 1): DataFrame = {
    require(maxHits >= 0, "maxHits must be non-negative")
    docs.withColumn("__hits", acCounts(lower(col(textCol)), patterns))
      .withColumn("total_hits",
        aggregate(col("__hits"), lit(0L), (acc, h) => acc + h))
      .withColumn("n_patterns_hit",
        aggregate(col("__hits"), lit(0L),
          (acc, h) => acc + when(h > 0, 1L).otherwise(0L)))
      .withColumn("blocklist_keep", col("total_hits") < maxHits.toLong)
      .drop("__hits")
  }
}
