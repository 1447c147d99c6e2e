package graft

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType, StringType}
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

import graft.functions.{DotProductExpr, NormalizeExpr, TextNlp, TopKBuffer, WordShinglesExpr}

/** Property-based invariants (SURVEY.md §5.2.3). The custom Catalyst
  * expressions are evaluated directly (interpreted eval path) — no
  * SparkSession needed, so thousands of cases run in milliseconds.
  * The one exception is the fused-matcher parity property, which runs
  * the Spark pipeline the kernel replaced as its expected value. */
object GraftProperties extends Properties("graft") {

  private val token: Gen[String] =
    Gen.nonEmptyListOf(Gen.frequency(
      8 -> Gen.alphaChar, 2 -> Gen.numChar, 1 -> Gen.oneOf('-', '\'', '!')))
      .map(_.mkString).suchThat(_.nonEmpty)

  private val label: Gen[String] =
    Gen.listOf(token).map(_.mkString(" "))

  /** True iff `f` reaches a fixpoint on `s` within `n` applications. */
  private def fixpointWithin(f: String => String, s: String, n: Int): Boolean = {
    var cur = s
    var i = 0
    while (i < n) {
      val next = f(cur)
      if (next == cur) return true
      cur = next; i += 1
    }
    f(cur) == cur
  }

  // cleanToken/cleanLabel are NOT idempotent in general — faithful to
  // the reference (`main.py:82` = `' '.join(pipeline(w) for w in
  // split())`, steps ordered `nlp_preprocessing.py:42-70`):
  //  (1) rstrip-'s' can REVEAL a digit string ("22s" → "22") which the
  //      next pass number-expands ("twenty-two") and the pass after
  //      that punctuation-strips ("twentytwo");
  //  (2) num2words output ("one thousand, two hundred thirty-four")
  //      carries commas/hyphens/spaces that later passes strip/split;
  //  (3) a token cleaning to "" (e.g. "s" → lemma → rstrip-'s' → "")
  //      leaves a double space that only the next pass collapses.
  // The true invariant is a small bounded fixpoint:
  property("cleanToken reaches a fixpoint within 4 passes") =
    forAll(token) { w => fixpointWithin(TextNlp.cleanToken, w, 4) }

  property("cleanLabel reaches a fixpoint within 4 passes") =
    forAll(label) { s => fixpointWithin(TextNlp.cleanLabel, s, 4) }

  property("digit-reveal chain: 22s → 22 → twenty-two → twentytwo (pinned)") = Prop {
    val p1 = TextNlp.cleanLabel("22s")
    val p2 = TextNlp.cleanLabel(p1)
    val p3 = TextNlp.cleanLabel(p2)
    p1 == "22" && p2 == "twenty-two" && p3 == "twentytwo" &&
      TextNlp.cleanLabel(p3) == p3
  }

  // per-token fixpoint ⇒ label idempotence: tests that the label-level
  // split/join composition adds no instability of its own (empty-token
  // collapse, whitespace runs) beyond what the token pipeline has.
  property("cleanLabel is idempotent when every token cleans to a stable form") =
    forAll(label) { s =>
      val tokens = s.split("\\s+").filter(_.nonEmpty)
      val wellBehaved = tokens.forall { t =>
        val c = TextNlp.cleanToken(t)
        c.nonEmpty && !c.contains(" ") && TextNlp.cleanToken(c) == c
      }
      !wellBehaved || {
        val once = TextNlp.cleanLabel(s)
        TextNlp.cleanLabel(once) == once
      }
    }

  property("getRootWord never ends in 's'") = forAll(token) { w =>
    !TextNlp.getRootWord(w.toLowerCase).endsWith("s")
  }

  property("numberToWords is alphabetic words for any digit string") =
    forAll(Gen.choose(0L, 999999999999L)) { n =>
      TextNlp.numberToWords(n.toString).matches("[a-z ,-]+")
    }

  property("tokensCleanDedup yields distinct cleaned tokens") = forAll(label) { s =>
    val out = TextNlp.tokensCleanDedup(s, 150)
    out.distinct == out
  }

  // --- native expression invariants (direct interpreted eval) -----------

  private def dot(a: Seq[Double], b: Seq[Double]): Double =
    DotProductExpr(
      Literal.create(a, ArrayType(DoubleType)),
      Literal.create(b, ArrayType(DoubleType)))
      .eval(null).asInstanceOf[Double]

  private val vec: Gen[Seq[Double]] =
    Gen.choose(1, 16).flatMap(d =>
      Gen.listOfN(d, Gen.choose(-100.0, 100.0)).map(_.toSeq))

  property("dot product is exactly symmetric") =
    forAll(vec, vec) { (a, b) =>
      val n = math.min(a.length, b.length)
      dot(a.take(n), b.take(n)) == dot(b.take(n), a.take(n))
    }

  property("dot(v, v) is non-negative") = forAll(vec) { v =>
    dot(v, v) >= 0.0
  }

  property("normalize yields unit norm (or exact zero passthrough)") =
    forAll(vec) { v =>
      val out = NormalizeExpr(Literal.create(v, ArrayType(DoubleType)))
        .eval(null).asInstanceOf[ArrayData].toDoubleArray().toSeq
      val sq = v.map(x => x * x).sum
      if (sq == 0.0) out == v
      else math.abs(math.sqrt(out.map(x => x * x).sum) - 1.0) < 1e-9
    }

  property("cosine built from dot stays within [-1, 1]") =
    forAll(vec, vec) { (a0, b0) =>
      val n = math.min(a0.length, b0.length)
      val (a, b) = (a0.take(n), b0.take(n))
      val denom = math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))
      val cos = if (denom == 0.0) 0.0 else dot(a, b) / denom
      cos >= -1.0 - 1e-9 && cos <= 1.0 + 1e-9
    }

  // --- shingle invariants -------------------------------------------------

  private def shingles(words: Seq[String], n: Int): Seq[String] =
    WordShinglesExpr(Literal.create(words, ArrayType(StringType)), n)
      .eval(null).asInstanceOf[ArrayData]
      .toArray[org.apache.spark.unsafe.types.UTF8String](StringType)
      .map(_.toString).toSeq

  private val words: Gen[Seq[String]] =
    Gen.listOf(Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)).map(_.toSeq)

  property("shingle count is max(len - n + 1, 1)") =
    forAll(words, Gen.choose(1, 5)) { (ws, n) =>
      shingles(ws, n).length == math.max(ws.length - n + 1, 1)
    }

  property("shingle i reconstructs words i..i+n-1") =
    forAll(words.suchThat(_.length >= 3), Gen.choose(1, 3)) { (ws, n) =>
      Prop.all(shingles(ws, n).zipWithIndex.map { case (sh, i) =>
        Prop(sh == ws.slice(i, i + n).mkString(" ")) :| s"shingle $i"
      }: _*)
    }

  // --- bounded top-k aggregation buffer ---------------------------------

  private val scoredIds: Gen[List[(Double, Long)]] =
    Gen.listOf(for {
      s <- Gen.chooseNum(-1.0, 1.0) // cosine range; finite by construction
      i <- Gen.chooseNum(0L, 50L)   // small id space to force ties
    } yield (s, i))

  private def topKExpected(xs: List[(Double, Long)], k: Int): List[(Double, Long)] =
    xs.sortBy { case (s, i) => (-s, i) }.take(k)

  private def fill(k: Int, xs: Seq[(Double, Long)]): TopKBuffer = {
    val b = new TopKBuffer(k)
    xs.foreach { case (s, i) => b.insert(s, i) }
    b
  }

  private def contents(b: TopKBuffer): List[(Double, Long)] =
    (0 until b.size).map(i => (b.scores(i), b.ids(i))).toList

  property("TopKBuffer equals sort-then-take-k (score desc, id asc)") =
    forAll(scoredIds, Gen.choose(1, 5)) { (xs, k) =>
      contents(fill(k, xs)) == topKExpected(xs, k)
    }

  property("TopKBuffer merge of any split equals single-pass fill") =
    forAll(scoredIds, Gen.choose(1, 5), Gen.choose(0, 100)) { (xs, k, cut) =>
      val (l, r) = xs.splitAt(cut % (xs.length + 1))
      val merged = fill(k, l)
      val other = fill(k, r)
      var i = 0
      while (i < other.size) { merged.insert(other.scores(i), other.ids(i)); i += 1 }
      contents(merged) == topKExpected(xs, k)
    }

  // NaN scores must follow Spark's TOTAL sort order (NaN greatest) so
  // the aggregate and the row_number window fallback stay equivalent —
  // primitive `>` comparisons would silently drop NaN entries instead.
  private val scoredIdsWithNaN: Gen[List[(Double, Long)]] =
    Gen.listOf(for {
      s <- Gen.frequency(4 -> Gen.chooseNum(-1.0, 1.0), 1 -> Gen.const(Double.NaN))
      i <- Gen.chooseNum(0L, 50L)
    } yield (s, i))

  private def topKExpectedTotal(xs: List[(Double, Long)], k: Int): List[(Double, Long)] =
    xs.sortWith { case ((s1, i1), (s2, i2)) =>
      val c = java.lang.Double.compare(s1, s2)
      c > 0 || (c == 0 && i1 < i2)
    }.take(k)

  private def sameEntries(a: List[(Double, Long)], b: List[(Double, Long)]): Boolean =
    a.length == b.length && a.zip(b).forall { case ((s1, i1), (s2, i2)) =>
      java.lang.Double.compare(s1, s2) == 0 && i1 == i2 // NaN-safe equality
    }

  property("TopKBuffer totally orders NaN greatest (window-form parity)") =
    forAll(scoredIdsWithNaN, Gen.choose(1, 5)) { (xs, k) =>
      sameEntries(contents(fill(k, xs)), topKExpectedTotal(xs, k))
    }

  // --- fused matcher kernel vs the crossJoin pipeline it replaced -------

  private val matchElem: Gen[Double] = Gen.frequency(
    8 -> Gen.choose(-1.0, 1.0),
    3 -> Gen.oneOf(-1.0, 0.0, 0.5, 1.0), // repeated values force exact ties
    1 -> Gen.const(Double.NaN))

  private val matchVec: Gen[Seq[Double]] = Gen.frequency(
    6 -> Gen.choose(1, 5).flatMap(d => Gen.listOfN(d, matchElem)), // unequal lengths
    1 -> Gen.choose(1, 5).map(d => Seq.fill(d)(0.0)))             // zero vectors

  private val matchCase: Gen[(List[Seq[Double]], List[Seq[Double]], Int)] = for {
    pool <- Gen.choose(1, 4).flatMap(Gen.listOfN(_, matchVec))
    nRef <- Gen.choose(1, 12)
    // picks from a small pool: duplicate reference vectors tie exactly
    refs <- Gen.listOfN(nRef, Gen.frequency(2 -> Gen.oneOf(pool), 1 -> matchVec))
    nQ <- Gen.choose(1, 6)
    qs <- Gen.listOfN(nQ, Gen.frequency(1 -> Gen.oneOf(refs), 3 -> matchVec))
    k <- Gen.choose(1, 4)
  } yield (qs, refs, k)

  property("fused matcher top-k equals crossJoin → cosineWithNorms → sort → take k") =
    forAll(matchCase) { case (qs, refs, k) =>
      import org.apache.spark.sql.functions._
      import graft.functions.VectorOps
      import graft.operators.{MatchReference, Matcher}
      val spark = SparkTestSession.spark
      import spark.implicits._
      val ref = Matcher.prepareReference(
        refs.zipWithIndex.map { case (v, i) => (i, v) }.toDF("i", "embedding")
          .select(col("i").cast("string").as("CT_ID"), col("i").cast("string").as("CT_NAME"),
            lit("t").as("all_text"), lit("d").as("definition"), col("i"), col("embedding")),
        "embedding", Seq("i"), cleaner = c => c)
      // the replaced pipeline: score every pair, drop null scores,
      // order by (score desc, ref_row_id asc), keep the first k
      val expected = qs.zipWithIndex.map { case (v, i) => (i, v) }.toDF("qid", "qvec")
        .withColumn("q_norm", VectorOps.l2Norm(col("qvec")))
        .crossJoin(ref.select(col("ref_row_id"), col("embedding").as("ref_vec"), col("ref_norm")))
        .withColumn("score", VectorOps.cosineWithNorms(
          col("qvec"), col("q_norm"), col("ref_vec"), col("ref_norm")))
        .filter(col("score").isNotNull)
        .orderBy(col("qid"), col("score").desc, col("ref_row_id").asc)
        .select("qid", "score", "ref_row_id").as[(Int, Double, Long)].collect()
        .groupBy(_._1).map { case (q, xs) => q -> xs.toList.take(k).map(x => (x._2, x._3)) }
      val packed = MatchReference.collect(ref, "embedding")
      Prop.all(qs.zipWithIndex.map { case (v, qid) =>
        val top = packed.topK(v.toArray, k)
        val got = (0 until top.size).toList
          .map(i => (top.scores(i), packed.ids(top.ids(i).toInt)))
        val want = expected.getOrElse(qid, Nil)
        Prop(got.length == want.length && got.zip(want).forall {
          case ((s1, i1), (s2, i2)) => (s1 == s2 || (s1.isNaN && s2.isNaN)) && i1 == i2
        }) :| s"query $qid: fused $got, pipeline $want"
      }: _*)
    }

  // --- VocabAvgExpr: the quantized-sum exactness the q44 oracle rests on

  private val quantWeight: Gen[Double] =
    Gen.choose(-8 * 1048576, 8 * 1048576).map(_ / 1048576.0) // multiples of 2^-20

  private val vocabGen: Gen[Map[String, Array[Double]]] =
    Gen.mapOf(Gen.zip(
      Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString),
      Gen.listOfN(4, quantWeight).map(_.toArray)))

  private def evalVocabAvg(vocab: Map[String, Array[Double]],
                           toks: List[String]): Seq[Double] = {
    val e = graft.functions.VocabAvgExpr(
      Literal.create(toks, ArrayType(StringType)), vocab, 4)
    e.eval(null).asInstanceOf[ArrayData].toDoubleArray().toSeq
  }

  property("VocabAvgExpr is EXACTLY token-order-free on quantized " +
           "vocabularies (the oracle's plain-aggregate premise)") =
    forAll(vocabGen, Gen.listOf(Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)),
           Gen.long) { (vocab, toks, seed) =>
      val shuffled = new scala.util.Random(seed).shuffle(toks)
      evalVocabAvg(vocab, toks).zip(evalVocabAvg(vocab, shuffled))
        .forall { case (a, b) => a == b } // bit-exact, not approximate
    }

  property("VocabAvgExpr: denominator counts OOV tokens; empty list is zeros") =
    forAll(vocabGen) { vocab =>
      val zero = evalVocabAvg(vocab, Nil)
      val known = vocab.keys.toList.sorted.take(1)
      val withOov = known ++ List("zz_never_a_vocab_word_zz")
      val expected =
        if (known.isEmpty) Seq.fill(4)(0.0)
        else vocab(known.head).map(_ * (1.0 / withOov.size)).toSeq
      zero == Seq.fill(4)(0.0) &&
        (known.isEmpty || evalVocabAvg(vocab, withOov) == expected)
    }
}
