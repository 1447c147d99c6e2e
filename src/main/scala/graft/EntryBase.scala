package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.embed.HashingEmbedder
import graft.functions.GraftUdfs
import graft.operators.{Analyze, Ann, Bpe, Cluster, Dedup, Graph, Matcher, Multimodal, Scrub, Sketch, TextAnalysis, UrlOps}
import graft.streaming.StreamOps

/** Shared helpers and constants of the query registry: table loader, integer-cents quantizer, LSH plane sets, planted corpora, and the model-state holders for generated oracles. */
private[graft] trait EntryBase { this: SparkEntry.type =>

  /** Model-state capture for generated oracles: Verify runs every
    * query BEFORE dumping [[oracleSql]] (same JVM), so a
    * model-in-the-loop query can freeze its fitted state here and
    * the oracle builder emits it as a VALUES table — the q41-43
    * generated-oracle pattern extended to trained models. Unset
    * (e.g. a partial dev run that skipped the query) → the entry is
    * omitted and the driver records its rows-only fallback. */
  final class ModelStateHolder[A] {
    @volatile private var state: Option[A] = None
    def set(a: A): Unit = { state = Some(a) }
    def get: Option[A] = state
  }

  private[graft] val q35BasisHolder = new ModelStateHolder[Array[Array[Double]]]

  private[graft] val q44VocabHolder = new ModelStateHolder[Seq[(String, Array[Double])]]

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Tables.read(s, dir, name)

  /** Per-row integer cents: exact, order-independent summation. */
  private[graft] def cents(c: Column): Column = round(c * 100).cast("long")

  private[graft] val priorities = Seq(
    "1-URGENT" -> "n_urgent", "2-HIGH" -> "n_high", "3-MEDIUM" -> "n_medium",
    "4-NOT SPECIFIED" -> "n_not_specified", "5-LOW" -> "n_low")

  /** 32 deterministic sign-LSH hyperplanes (seed 42) over the 64-d
    * embeddings — the SAME constants are inlined into the DuckDB
    * oracles below, so bucket assignment is cross-engine checkable.
    * Band size 8 (4 bands × 256 buckets): sized so expected bucket
    * occupancy stays O(10) on this corpus — 4-bit bands put ~1/16 of
    * the corpus in every bucket and candidate generation went
    * quadratic (514k candidates for 80 true pairs at sf0.1; 8-bit
    * bands cut that ~20×). The recall/cost knob of the classic
    * r-of-L construction. */
  private[graft] val lshPlanes = Ann.hyperplanes(dim = 64, nPlanes = 32, seed = 42L)

  /** q74 projection planes — 64-d → 8-d JL, independent seed. */
  private[graft] val projPlanes = Ann.hyperplanes(dim = 64, nPlanes = 8, seed = 7L)

  /** q301 sign-code planes — 64-d → 32 sign bits in one long,
    * independent seed; shared with the oracle via the same inlined
    * literals as [[lshPlanes]]. */
  private[graft] val hammingPlanes = Ann.hyperplanes(dim = 64, nPlanes = 32, seed = 11L)

  private[graft] val lshBandSize = 8

  private[graft] def lshBands = lshPlanes.grouped(lshBandSize).toSeq

  /** The boilerplate text planted by [[corpusWithBoilerplate]] — also
    * inlined into the q45/q46 oracle SQL. */
  private[graft] val boilerplateText =
    "subscribe to our newsletter for updates all rights reserved"

  /** documents plus a 12-copy boilerplate cluster: the hot-bucket
    * workload for the capped dedup queries (q45/q46) — identical texts
    * land every copy in ONE (band, bucket) key in every band. */
  private[graft] def corpusWithBoilerplate(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"), col("text"))
      .unionByName(s.range(1, 13).select(
        (col("id") + 10000000L).as("doc_id"),
        lit(boilerplateText).as("text")))

  /** The planted LONG passage shared across three docs (cross-doc
    * repeated substring, different offsets) — inlined verbatim into
    * the q229-q231 oracle SQL. */
  private[graft] val longDupPassage =
    "shuffle partition broadcast join filter scan codegen stage " +
    "task executor driver memory spill merge sort hash exchange"

  /** The planted passage repeated TWICE inside one doc (within-doc
    * repeat) — also inlined into the q229-q231 oracles. */
  private[graft] val longDupInner =
    "boilerplate navigation banner accept cookies to continue "

  /** documents plus four planted docs for the suffix-dedup family
    * (q229-q231): three docs share [[longDupPassage]] at different
    * offsets; one doc contains [[longDupInner]] twice. The same four
    * rows appear as a VALUES table in the oracle SQL. */
  private[graft] def corpusWithLongDup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select(col("doc_id"), col("text"))
      .unionByName(Seq(
        (20000001L, s"alpha head $longDupPassage alpha tail"),
        (20000002L, s"beta intro $longDupPassage beta ending words"),
        (20000003L, s"$longDupPassage gamma afterword"),
        (20000004L, s"delta ${longDupInner}interlude ${longDupInner}coda"))
        .toDF("doc_id", "text"))
  }

  /** The cross-doc boilerplate paragraph planted by [[htmlCorpus]] —
    * prose-shaped (passes the density rules) so only the cross-doc
    * frequency criterion can catch it; shared verbatim with the
    * q234-q237 oracles. */
  private[graft] val htmlDisclaimer =
    "this disclaimer paragraph repeats on every page of the site"

  /** Synthetic crawl-HTML corpus for the extraction family
    * (q234-q237): every document's text wrapped in a site template
    * with planted boilerplate (nav / footer / promo / disclaimer),
    * hostile markup (script containing fake tags and a quoted '>',
    * a comment hiding a fake block tag, a quoted attribute '>', a
    * literal '<' in text), entities (&amp; &#65; &#x42; plus the
    * out-of-table &copy; which must stay literal), and a CDATA
    * section on the mod-7 branch. The engine PARSES this generically
    * ([[graft.functions.HtmlBlocksExpr]]); the oracle never parses —
    * it rebuilds the expected block set from the same construction
    * arithmetic, so a hash match certifies the parser recovered the
    * plant exactly through all the hostile markup. */
  private[graft] def htmlCorpus(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"), concat(
      lit("<html><head><title>Doc "), col("doc_id").cast("string"),
      lit("</title><style>p { color: red; }</style>" +
        "<script>if (x < 2 && y > \"a>b\") { tag = \"<div>\"; }</script>" +
        "</head><body data-x=\"a>b\"><!-- <p>commented out block</p> -->" +
        "<nav><a href=\"/h\">home</a> <a href=\"/a\">about pages</a>"),
      when(col("doc_id") % 3 === 0, lit(" <a href=\"/c\">contact us</a>"))
        .otherwise(lit("")),
      lit("</nav><div class=\"main\">"), col("text"),
      lit(" &amp; tail &#65;&#x42; marker"),
      when(col("doc_id") % 7 === 0, lit("<![CDATA[ raw < & data]]>"))
        .otherwise(lit("")),
      lit("</div>"),
      when(col("doc_id") % 5 === 0,
        lit("<p><a href=\"/buy\">buy now</a> limited offer</p>"))
        .otherwise(lit("")),
      when(col("doc_id") % 4 === 0,
        concat(lit("<p>summary: "), substring(col("text"), 1, 40),
          lit(" 1 < 2 ok</p>"))).otherwise(lit("")),
      lit(s"<p>$htmlDisclaimer</p>" +
        "<footer><a href=\"/t\">terms</a> <a href=\"/p\">privacy</a>" +
        " <a href=\""),
      syntheticUrl,
      lit("?x=1&amp;y=2\">site map</a> &copy; 2026</footer></body></html>"))
      .as("html"))

  /** Anchor texts planted by [[anchorCorpus]] (doc_id mod 4 picks
    * one) — shared verbatim with the q251 oracle. */
  private[graft] val anchorTexts = Seq(
    "great spark guide", "slow data blog",
    "fast table reference", "big query docs")

  /** Synthetic corpus for the anchor-text rollup (q251): one absolute
    * outlink per doc (the shared [[syntheticUrl]] arithmetic) whose
    * anchor varies by doc_id mod 4, plus a relative link with an
    * entity in its anchor. The q250 parser certification runs on the
    * hostile [[htmlCorpus]]; THIS corpus exists so the per-domain
    * token rollup has planted structure the oracle restates. */
  private[graft] def anchorCorpus(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"), concat(
      lit("<p>see <a href=\""), syntheticUrl, lit("\">"),
      element_at(array(anchorTexts.map(lit): _*),
        (col("doc_id") % 4 + 1).cast("int")),
      lit("</a> &amp; a <a href=\"/rel\">relative &#65; link</a></p>"))
      .as("html"))

  /** One planted PII string per category (doc_id mod 7 picks the
    * class) so every [[Scrub.piiPatterns]] regex fires inside the
    * hash check — the q41 planting pattern. Shared verbatim with the
    * oracle. */
  private[graft] val piiPlants: Seq[String] = Seq(
    " reach me at alice.smith+spam@corp-mail.example.org now",
    " ssn 123-45-6789 on file",
    " call 415-555-0123 today",
    " from host 10.42.255.7 logged",
    " card 4111111111111111 charged",
    " token deadbeefcafebabe0123456789abcdef leaked",
    " key sk-AbCd1234EfGh5678Ij leaked")

  /** Deterministic language-correlated planted docs for q276: three
    * synthetic "languages" with disjoint character inventories, 40
    * docs each, text a fixed word mix — ids ≥ 9,000,000 so the slice
    * split is a pure id threshold. The harness `lang` column is
    * uncorrelated with `text`, so the q264 holdout audit is
    * chance-level by construction; this planted slice gives the
    * confusion matrix a real diagonal. Shared VERBATIM with the
    * oracle (the q229-suffix / q121-twin planting discipline). */
  private[graft] val langPlants: Seq[(Long, String, String)] = {
    val vocab = Seq(
      "zqa" -> Seq("tanaka", "harati", "salama", "karana", "matata"),
      "zqb" -> Seq("grumpf", "brozzle", "splorch", "frunzle", "drubble"),
      "zqc" -> Seq("vieuxne", "ouielle", "heureux", "oiseaux", "beaucoup"))
    for {
      ((lg, words), li) <- vocab.zipWithIndex
      i <- 0 until 40
    } yield (9000000L + li * 40 + i,
      (0 until 12).map(j => words((i * 7 + j * 3) % words.size))
        .mkString(" "),
      lg)
  }

  /** Registrable-domain (eTLD+1) folding
    * ([[UrlOps.registrableDomain]]): international URLs with
    * subdomain shards and two-label public suffixes fold to the
    * per-site grouping key; the vendored PSL slice is shared data the
    * oracle inlines. */
  /** The deterministic synthetic URL corpus shared by q90/q131/q134/
    * q136 (and their oracles, which inline the same arithmetic). */
  private[graft] def syntheticUrl: Column = concat(
      element_at(array(
        lit("https://ex"), lit("https://news.ex"), lit("https://WWW.ex"),
        lit("https://a.b.ex"), lit("https://ex"), lit("https://sub.ex")),
        (col("doc_id") % 6 + 1).cast("int")),
      (col("doc_id") % 20).cast("string"),
      element_at(array(
        lit(".com/p"), lit(".co.uk/a"), lit(".co.uk/b"),
        lit(".com.au/x"), lit(".org/y"), lit(".de/z")),
        (col("doc_id") % 6 + 1).cast("int")))

  /** embeddings plus a planted near-duplicate twin for every 25th
    * vector (one coordinate +0.01, id offset +100000) — the
    * semantic-dedup workload for q121; the natural corpus has no
    * pair above cosine 0.52, so every emitted pair is a twin. The
    * DOUBLE cast + perturbation replay bit-identically in the oracle
    * ([[twinsCteSql]]): both engines do the same IEEE add before the
    * same micro rounding. */
  private[graft] def embeddingsWithTwins(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
    // two-step projection: the perturbation lambda must see the
    // ORIGINAL vec_id — in a single select, col("vec_id") inside the
    // lambda resolves against the re-aliased output (+100000) and the
    // wrong coordinate moves
    e.unionByName(e.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i.cast("long") === col("vec_id") % 64,
            x + lit(0.01)).otherwise(x)).as("embedding"))
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
  }

  /** Frozen 8-d vector derived from the md5 of a key string:
    * component i = integer value of hex pair i. Deterministic,
    * engine-independent, and DuckDB-recomputable — the components are
    * small integers (0..255), so every dot product / norm in the
    * matcher is an EXACT double and the scores are bit-identical
    * across engines regardless of accumulation order. */
  private[graft] def frozenVec(key: Column): Column =
    array((0 until 8).map(i =>
      conv(substring(md5(key), 2 * i + 1, 2), 16, 10).cast("double")): _*)

}
