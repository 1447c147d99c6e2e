package graft

import org.scalatest.matchers.should.Matchers

import graft.operators.Bpe
import graft.tools.JobCounter

class BpeSpec extends SparkSpec with Matchers {
  import spark.implicits._

  /** Local brute-force BPE over (word, freq): overlapping pair
    * counts, (count DESC, lexical) argmax, greedy left-to-right
    * non-overlapping merge — the independent reference the operator
    * must reproduce. */
  private def bruteMerges(words: Map[String, Long], iters: Int)
      : Seq[(Long, String, String, String, Long, Long)] = {
    var states: Seq[(Vector[String], Long)] =
      words.toSeq.map { case (w, f) =>
        ((w + "_").map(_.toString).toVector, f) }
    val out = collection.mutable.ArrayBuffer
      .empty[(Long, String, String, String, Long, Long)]
    var i = 0
    var done = false
    while (i < iters && !done) {
      i += 1
      val counts = collection.mutable.Map.empty[(String, String), Long]
      for ((syms, f) <- states; j <- 0 until syms.size - 1)
        counts((syms(j), syms(j + 1))) =
          counts.getOrElse((syms(j), syms(j + 1)), 0L) + f
      if (counts.isEmpty) done = true
      else {
        val ((l, r), c) = counts.toSeq
          .sortBy { case ((l, r), c) => (-c, l, r) }.head
        states = states.map { case (syms, f) =>
          val b = Vector.newBuilder[String]
          var j = 0
          while (j < syms.size) {
            if (j + 1 < syms.size && syms(j) == l && syms(j + 1) == r) {
              b += (l + r); j += 2
            } else { b += syms(j); j += 1 }
          }
          (b.result(), f)
        }
        val toks = states.map { case (s, f) => s.size * f }.sum
        out += ((i.toLong, l, r, l + r, c, toks))
      }
    }
    out.toSeq
  }

  private def collectMerges(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("iteration").collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
        r.getLong(4), r.getLong(5))).toSeq

  test("matches the brute-force reference on the Sennrich corpus") {
    val docs = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest"))
      .grouped(4).map(_.mkString(" ")).toSeq.toDF("text")
    val got = collectMerges(Bpe.trainMerges(docs, "text", iterations = 6))
    val want = bruteMerges(
      Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L), 6)
    got shouldBe want
  }

  test("greedy left-to-right non-overlapping merge on a self-overlapping run") {
    // 'aaaa_': pair (a,a) counts 3 (overlapping), but the merge
    // collapses only 2 non-overlapping sites -> <aa><aa><_>
    val docs = Seq("aaaa").toDF("text")
    val got = collectMerges(Bpe.trainMerges(docs, "text", iterations = 2))
    got(0) shouldBe ((1L, "a", "a", "aa", 3L, 3L))
    // round 2: (aa,aa) and (aa,_) tie at 1; '_' < 'a' so (aa,_) wins
    got(1) shouldBe ((2L, "aa", "_", "aa_", 1L, 2L))
  }

  test("count-then-lexical tie-break and exact weighted counts") {
    // 'ab' x3 and 'cd' x3 tie at 3; (a,b) < (c,d) lexically
    val docs = Seq("ab ab ab cd cd cd").toDF("text")
    val got = collectMerges(Bpe.trainMerges(docs, "text", iterations = 1))
    got.head._2 shouldBe "a"
    got.head._3 shouldBe "b"
    got.head._5 shouldBe 3L
  }

  test("stops early when the vocabulary runs out of pairs") {
    // single-char words exhaust after the three (c,_) merges
    val docs = Seq("a b c").toDF("text")
    val got = collectMerges(Bpe.trainMerges(docs, "text", iterations = 8))
    got.size shouldBe 3
    got.map(m => (m._2, m._3)).toSet shouldBe
      Set(("a", "_"), ("b", "_"), ("c", "_"))
  }

  test("tokens_after decreases by at most the winning pair count") {
    val docs = (Seq.fill(7)("banana") ++ Seq.fill(4)("bandana"))
      .mkString(" ").split(" ").toSeq.toDF("text")
    val got = collectMerges(Bpe.trainMerges(docs, "text", iterations = 5))
    val before = 7L * 7L + 4L * 8L // 7x banana(6+'_') + 4x bandana(7+'_')
    val walk = before +: got.map(_._6)
    walk.sliding(2).zip(got.iterator).foreach { case (Seq(a, b), m) =>
      b should be < a
      (a - b) should be <= m._5
    }
  }

  test("partition invariance") {
    val docs = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest"))
      .grouped(2).map(_.mkString(" ")).toSeq.toDF("text")
    val a = collectMerges(Bpe.trainMerges(docs, "text", iterations = 4))
    val b = collectMerges(
      Bpe.trainMerges(docs.repartition(7), "text", iterations = 4))
    a shouldBe b
  }

  test("driver fold equals the distributed fold and the brute-force " +
       "reference over 128 rounds; its job count does not grow with rounds") {
    // a corpus rich enough for 128 distinct merges: seeded random
    // words over a 12-letter alphabet with Zipf-ish repetition
    val rnd = new scala.util.Random(42)
    val letters = "abcdefghijkl"
    val wordPool = (0 until 400).map { _ =>
      (0 until (3 + rnd.nextInt(6)))
        .map(_ => letters(rnd.nextInt(letters.length))).mkString
    }
    val words = (0 until 4000).map { _ =>
      wordPool(math.min((math.abs(rnd.nextGaussian()) * 80).toInt,
        wordPool.length - 1))
    }
    val docs = words.grouped(20).map(_.mkString(" ")).toSeq.toDF("text")

    val (loc128, locJobs) = JobCounter.count(spark)(
      collectMerges(Bpe.trainMerges(docs, "text", iterations = 128)))
    val dist128 = collectMerges(
      Bpe.trainMergesDistributed(docs, "text", iterations = 128))
    val freq = words.groupBy(identity).map { case (w, g) => w -> g.size.toLong }

    loc128.size shouldBe 128
    loc128 shouldBe dist128 // identical merge list, counts, trajectories
    loc128 shouldBe bruteMerges(freq, 128)
    // the driver fold runs every round locally: training 8 merges and
    // training 128 submit the same jobs
    val (_, jobs8) = JobCounter.count(spark)(
      collectMerges(Bpe.trainMerges(docs, "text", iterations = 8)))
    locJobs shouldBe jobs8
  }

  test("driver fold equals the distributed fold on the overlap-heavy " +
       "corpus (l==r runs)") {
    val docs = (Seq.fill(9)("aaaa") ++ Seq.fill(5)("aabb") ++
      Seq.fill(4)("bbbb") ++ Seq.fill(3)("abab"))
      .grouped(3).map(_.mkString(" ")).toSeq.toDF("text")
    val a = collectMerges(
      Bpe.trainMergesDistributed(docs, "text", iterations = 8))
    val b = collectMerges(Bpe.trainMerges(docs, "text", iterations = 8))
    b shouldBe a
  }

  test("randomized fold equality: distributed vs driver-local " +
       "(independent code paths) over seeded corpora") {
    // the driver fold shares NO code with the distributed rounds, so
    // fuzz the two against each other on a tiny alphabet that
    // maximizes chain collisions and ties
    for (seed <- Seq(1, 7, 13, 99)) {
      val rnd = new scala.util.Random(seed)
      val letters = "abcde"
      val pool = (0 until 60).map(_ =>
        (0 until (2 + rnd.nextInt(5)))
          .map(_ => letters(rnd.nextInt(letters.length))).mkString)
      val words = (0 until 600).map(_ => pool(rnd.nextInt(pool.length)))
      val docs = words.grouped(15).map(_.mkString(" ")).toSeq.toDF("text")
      val dist = collectMerges(
        Bpe.trainMergesDistributed(docs, "text", iterations = 24))
      val loc = collectMerges(Bpe.trainMerges(docs, "text", iterations = 24))
      withClue(s"seed=$seed: ") { dist shouldBe loc }
    }
  }

  test("empty corpus and all-null text: 0 merges with the merge schema") {
    val noDocs = Seq.empty[String].toDF("text")
    val nulls = Seq[String](null, null, null).toDF("text")
    for ((name, docs) <- Seq("empty" -> noDocs, "all-null" -> nulls)) {
      withClue(s"$name: ") {
        val out = Bpe.trainMerges(docs, "text", iterations = 4)
        out.schema shouldBe Bpe.mergeSchema
        val got = collectMerges(out)
        got shouldBe empty
        got shouldBe bruteMerges(Map.empty, 4)
      }
    }
  }

  test("one-word corpus matches the brute-force reference") {
    val docs = Seq("banana").toDF("text")
    collectMerges(Bpe.trainMerges(docs, "text", iterations = 8)) shouldBe
      bruteMerges(Map("banana" -> 1L), 8)
  }

  test("every document repeated 3x: both folds match the brute-force " +
       "reference at tripled counts") {
    val once = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest"))
      .grouped(4).map(_.mkString(" ")).toSeq
    val docs = Seq.fill(3)(once).flatten.toDF("text")
    val want = bruteMerges(
      Map("low" -> 15L, "lower" -> 6L, "newest" -> 18L, "widest" -> 9L), 10)
    collectMerges(Bpe.trainMerges(docs, "text", iterations = 10)) shouldBe want
    collectMerges(
      Bpe.trainMergesDistributed(docs, "text", iterations = 10)) shouldBe want
  }

  test("encodeStats: learned merges compress, zero merges degenerate to chars") {
    val docs = Seq((1L, "low lower"), (2L, "newest newest")).toDF("id", "text")
    val merges = Bpe.trainMerges(docs, "text", iterations = 4)
    val stats = Bpe.encodeStats(docs, "id", "text", merges)
      .orderBy("id").collect()
    stats.foreach { r =>
      r.getLong(3) should be <= r.getLong(2) // bpe_tokens <= char_tokens
    }
    val none = Bpe.encodeStats(docs, "id", "text", merges.limit(0))
      .orderBy("id").collect()
    none.foreach { r => r.getLong(3) shouldBe r.getLong(2) }
  }
}
