package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SQL surface for the engine's native expressions.
  *
  * Two registration paths, same builders:
  *  - `spark.sql.extensions=graft.functions.GraftExtensions` (the
  *    standard `SparkSessionExtensions` hook, applied at session build
  *    time; [[graft.GraftSession]] sets it, and a cluster can too);
  *  - a session built elsewhere (notebooks): [[GraftExtensions.register]].
  *
  * After registration, `spark.sql` users get the codegen kernels
  * directly: `graft_dot(a, b)`, `graft_shingles(words, n)`,
  * `graft_topk(score, id, k)` (aggregate).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    ext.injectOptimizerRule(_ => graft.plans.PushFilterThroughExplode)
  }
}

object GraftExtensions {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in")

  /** (name, info, builder) triples shared by both registration paths. */
  val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("graft_dot",
      info("graft_dot", "graft_dot(a, b) - codegen dot product of two double arrays"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_dot expects exactly 2 arguments")
        DotProductExpr(args(0), args(1))
      }),
    ("graft_shingles",
      info("graft_shingles",
        "graft_shingles(words, n) - sliding word n-gram shingles over a string array"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_shingles expects exactly 2 arguments")
        val n = args(1) match {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_shingles: n must be an integer literal, got $other")
        }
        WordShinglesExpr(args(0), n)
      }),
    ("graft_intersect_count",
      info("graft_intersect_count",
        "graft_intersect_count(a, b) - count of common elements of two string-array sets"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_intersect_count expects exactly 2 arguments")
        ArrayIntersectCountExpr(args(0), args(1))
      }),
    ("graft_simhash",
      info("graft_simhash",
        "graft_simhash(words) - 60-bit simhash of a distinct word array"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_simhash expects exactly 1 argument")
        SimhashExpr(args(0))
      }),
    ("graft_l2_normalize",
      info("graft_l2_normalize",
        "graft_l2_normalize(a) - one-pass L2 normalization of a double array " +
          "(zero vectors pass through unchanged)"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_l2_normalize expects exactly 1 argument")
        NormalizeExpr(args(0))
      }),
    ("graft_topk",
      info("graft_topk",
        "graft_topk(score, id, k) - aggregate: top-k (score, id) pairs per group, " +
          "score desc then id asc, as a sorted array of structs"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_topk expects exactly 3 arguments")
        val k = args(2) match {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_topk: k must be an integer literal, got $other")
        }
        TopKByScoreAgg(args(0), args(1), k).toAggregateExpression()
      }),
    ("graft_bucket_counts",
      info("graft_bucket_counts",
        "graft_bucket_counts(buckets, dim) - one-pass histogram of a long " +
          "bucket-id array into a dim-wide double count vector"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_bucket_counts expects exactly 2 arguments")
        val dim = args(1) match {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_bucket_counts: dim must be an integer literal, got $other")
        }
        BucketCountsExpr(args(0), dim)
      }),
    ("graft_lcp",
      info("graft_lcp",
        "graft_lcp(a, b) - longest-common-prefix length in codepoints"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_lcp expects exactly 2 arguments")
        LcpExpr(args(0), args(1))
      }),
    ("graft_html_blocks",
      info("graft_html_blocks",
        "graft_html_blocks(html) - segmented text blocks of an HTML " +
          "document as array<struct<text, n_chars, link_chars>>"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_html_blocks expects exactly 1 argument")
        HtmlBlocksExpr(args(0))
      }),
    ("graft_html_links",
      info("graft_html_links",
        "graft_html_links(html) - href values of <a> tags in document order"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_html_links expects exactly 1 argument")
        HtmlLinksExpr(args(0))
      }),
    ("graft_ac_counts",
      info("graft_ac_counts",
        "graft_ac_counts(text, p1, p2, ...) - one-pass Aho-Corasick " +
          "leftmost-non-overlapping hit counts per pattern, aligned " +
          "with the pattern argument order"),
      (args: Seq[Expression]) => {
        require(args.length >= 2,
          "graft_ac_counts expects a text column and at least one pattern")
        val pats = args.tail.map {
          case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) =>
            v.toString
          case other => throw new IllegalArgumentException(
            s"graft_ac_counts: patterns must be string literals, got $other")
        }
        AhoCorasickCountsExpr(args.head, pats)
      }))

  /** Register on an already-built session (the extensions hook only
    * runs at builder time). */
  def register(spark: SparkSession): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    functions.foreach { case (name, i, builder) =>
      registry.registerFunction(FunctionIdentifier(name), i, builder)
    }
  }
}
