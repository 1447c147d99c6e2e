package graft

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.operators.Cluster

class ClusterSpec extends SparkSpec with Matchers {
  import spark.implicits._

  private def asMap(df: org.apache.spark.sql.DataFrame): Map[Long, (Int, Long)] =
    df.collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap

  test("two separated blobs converge to the blob partition") {
    // blob A around (0,0), blob B around (10,10)
    val pts = Seq(
      (1L, Seq(0.0f, 0.1f)), (2L, Seq(0.2f, 0.0f)), (3L, Seq(-0.1f, 0.1f)),
      (4L, Seq(10.0f, 9.9f)), (5L, Seq(10.1f, 10.0f)), (6L, Seq(9.9f, 10.2f))
    ).toDF("id", "v")
    val out = Cluster.kmeansMicro(pts, "id", "v", k = 2, iterations = 3)
    val cells = out.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    cells(1L) shouldBe cells(2L)
    cells(2L) shouldBe cells(3L)
    cells(4L) shouldBe cells(5L)
    cells(5L) shouldBe cells(6L)
    cells(1L) should not be cells(4L)
  }

  test("hand-computed single iteration: nearest seed wins, exact micro distance") {
    // k = 2 seeds are the 2 ids with smallest md5('km:'||id); with one
    // iteration the assignment is just nearest-seed. Verify against a
    // brute-force recomputation of the same integer arithmetic.
    val data = Seq(
      (10L, Seq(1.0f, 2.0f)), (11L, Seq(4.0f, 6.0f)),
      (12L, Seq(1.1f, 2.1f)), (13L, Seq(3.9f, 5.8f)))
    val pts = data.toDF("id", "v")
    val seeds = data
      .map { case (id, v) => (id, v,
        java.security.MessageDigest.getInstance("MD5")
          .digest(s"km:$id".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString) }
      .sortBy(_._3).take(2).sortBy(_._3)
    def micro(v: Seq[Float]): Seq[Long] =
      v.map(x => math.round(x.toDouble * 1000000L))
    def d2(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val expected = data.map { case (id, v) =>
      val ds = seeds.zipWithIndex
        .map { case ((_, sv, _), cell) => (d2(micro(v), micro(sv)), cell) }
      id -> ds.min
    }.toMap
    val out = asMap(
      Cluster.kmeansMicro(pts, "id", "v", k = 2, iterations = 1)
        .select(col("id"), col("cell"), col("dist2_q")))
    out.map { case (id, (cell, d)) => id -> ((d, cell)) } shouldBe expected
  }

  test("partition invariance: 7-way repartition hash-matches 1 partition") {
    val pts = (1L to 60L)
      .map(i => (i, Seq((i % 7).toFloat, (i % 11).toFloat, (i % 5).toFloat)))
      .toDF("id", "v")
    val a = asMap(Cluster.kmeansMicro(
      pts.repartition(7), "id", "v", k = 3, iterations = 4))
    val b = asMap(Cluster.kmeansMicro(
      pts.coalesce(1), "id", "v", k = 3, iterations = 4))
    a shouldBe b
  }

  test("empty cell keeps its previous centroid") {
    // all points identical except one far outlier that seeds a cell of
    // its own; with k = 2 one cell may end up empty after round 1 —
    // the operator must not lose it (k cells survive every round, so a
    // later round could still repopulate it)
    val pts = Seq(
      (1L, Seq(0.0f, 0.0f)), (2L, Seq(0.0f, 0.0f)), (3L, Seq(0.0f, 0.0f)),
      (4L, Seq(0.0f, 0.0f)), (5L, Seq(0.0f, 0.0f))).toDF("id", "v")
    val out = Cluster.kmeansMicro(pts, "id", "v", k = 2, iterations = 3)
    // identical points: every row lands in one cell, distances all 0
    out.select("dist2_q").as[Long].collect().toSet shouldBe Set(0L)
    out.select("cell").distinct().count() shouldBe 1L
  }

  test("ties break to the lowest cell id") {
    // md5('km:3') < md5('km:1') < md5('km:2'), so k = 2 seeds the
    // frame with ids 3 (cell 0) and 1 (cell 1); id 2 is the probe,
    // placed exactly midway between them
    val pts = Seq(
      (1L, Seq(2.0f)), (2L, Seq(1.0f)), (3L, Seq(0.0f))).toDF("id", "v")
    val out = asMap(
      Cluster.kmeansMicro(pts, "id", "v", k = 2, iterations = 1))
    out(2L)._1 shouldBe 0
  }

  test("centroidDistances: hand-computed integer-micro centroid and " +
      "exact distances; planted outlier ranks first") {
    val pts = Seq(
      (1L, "a", Seq(0.0f, 0.0f)), (2L, "a", Seq(2.0f, 2.0f)),
      (3L, "b", Seq(5.0f, 5.0f)),
      (4L, "c", Seq(0.0f, 0.0f)), (5L, "c", Seq(0.2f, 0.0f)),
      (6L, "c", Seq(100.0f, 0.0f))
    ).toDF("id", "grp", "v")
    val d = Cluster.centroidDistances(pts, "id", "v", "grp")
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    // group a centroid = (1e6, 1e6); each point at squared dist 2e12
    d(1L) shouldBe 2L * 1000000L * 1000000L
    d(2L) shouldBe 2L * 1000000L * 1000000L
    d(3L) shouldBe 0L // singleton group sits on its centroid
    // group c: the planted far point dominates
    d(6L) should be > d(4L)
    d(6L) should be > d(5L)
  }

  test("reserved __ column names fail fast") {
    val pts = Seq((1L, Seq(0.0f), "x")).toDF("id", "v", "__vq")
    val e = intercept[IllegalArgumentException] {
      Cluster.kmeansMicro(pts, "id", "v", k = 1, iterations = 1)
    }
    e.getMessage should include("reserved")
  }

  // two tight blobs far apart: (1,2,3) near the x-axis unit vector,
  // (4,5) near the y-axis one; 3 is a scaled copy of 1 (cosine 1),
  // 2 is slightly rotated (cosine ~0.9999), 5 is a twin of 4
  private def semBlobs = Seq(
    (1L, Seq(1.0f, 0.0f, 0.0f)), (2L, Seq(1.0f, 0.01f, 0.0f)),
    (3L, Seq(2.0f, 0.0f, 0.0f)),
    (4L, Seq(0.0f, 1.0f, 0.0f)), (5L, Seq(0.0f, 1.0f, 0.001f))
  ).toDF("id", "v")

  test("semanticNearDupPairs finds within-cell twins, exact keep rule") {
    val out = Cluster.semanticNearDupPairs(semBlobs, "id", "v",
      k = 2, iterations = 3, tauNum = 999, tauDen = 1000)
    val pairs = out.collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(7))).toSet
    // blob A: all three mutually above 0.999 cosine; blob B: the twin
    pairs.map(p => (p._1, p._2)) shouldBe
      Set((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L))
    // keep side is the member closer to its centroid: for (4,5) both
    // are ~identical so distances decide deterministically; assert the
    // keep_id is one of the pair and consistent with dist ordering
    val kept = out.collect().map(r =>
      ((r.getLong(1), r.getLong(2)), r.getLong(7))).toMap
    kept.foreach { case ((a, b), k) => Set(a, b) should contain(k) }
  }

  test("semanticNearDupPairs: cosine is scale-free and threshold exact") {
    // 1 vs 3 is an exact scaled copy: cos_micros = 1000000
    val out = Cluster.semanticNearDupPairs(semBlobs, "id", "v",
        k = 2, iterations = 3, tauNum = 999, tauDen = 1000)
      .collect().map(r => ((r.getLong(1), r.getLong(2)), r.getLong(6))).toMap
    out((1L, 3L)) shouldBe 1000000L
    // orthogonal blobs never pair even at a loose threshold
    val loose = Cluster.semanticNearDupPairs(semBlobs, "id", "v",
      k = 1, iterations = 1, tauNum = 1, tauDen = 2)
    val cross = loose.collect().map(r => (r.getLong(1), r.getLong(2)))
      .filter { case (a, b) => a <= 3 && b >= 4 }
    cross shouldBe empty
  }

  test("semanticNearDupPairs: maxCellSize suppresses over-populated cells") {
    // k = 1 puts all five in one cell of size 5; cap at 4 → no pairs
    val capped = Cluster.semanticNearDupPairs(semBlobs, "id", "v",
      k = 1, iterations = 1, tauNum = 1, tauDen = 2,
      maxCellSize = Some(4))
    capped.count() shouldBe 0L
    val uncapped = Cluster.semanticNearDupPairs(semBlobs, "id", "v",
      k = 1, iterations = 1, tauNum = 1, tauDen = 2)
    uncapped.count() should be > 0L
  }

  test("kmeansMicroModel: assignment is the argmin over the returned centroids") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(31)
    val vecs = (0L until 40L).map(i =>
        (i, Seq.fill(4)(rnd.nextDouble() * 2 - 1)))
      .toDF("id", "v")
    val model = Cluster.kmeansMicroModel(vecs, "id", "v",
      k = 3, iterations = 2)
    val cents = model.centroids.collect()
      .map(r => r.getInt(0) -> r.getSeq[Long](1).toArray).sortBy(_._1)
    cents.map(_._1).toSeq shouldBe Seq(0, 1, 2)
    val micro = vecs.select(col("id"),
        Cluster.microQuantize(col("v")).as("vq")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    val assign = model.assign.collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    assign.foreach { case (id, (cell, dist2q)) =>
      val dists = cents.map { case (c, cv) => c -> d2(micro(id), cv) }
      // the stored cell is the exact integer argmin (ties -> lowest
      // cell) over exactly the centroids the model returned
      val best = dists.minBy { case (c, d) => (d, c) }
      cell shouldBe best._1
      dist2q shouldBe best._2
    }
    // the plain kmeansMicro wrapper is the model's assignment
    val direct = Cluster.kmeansMicro(vecs, "id", "v", k = 3, iterations = 2)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    direct shouldBe assign
  }

  test("assignToCentroids: frozen re-assignment is bit-identical to the model's own assignment") {
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val model = Cluster.kmeansMicroModel(vecs, "vec_id", "embedding",
      k = 4, iterations = 2, salt = "frz")
    val stored = model.assign
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    val re = Cluster.assignToCentroids(vecs, "vec_id", "embedding",
        model.centroids)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    re shouldBe stored
  }

  test("divergenceFrontier: hand-computed KL at grid=2; identical corpora give zero") {
    // cells A,B with P counts (3,1), Q counts (1,3); Np=Nq=4, λ=1/2:
    // den=16 both cells; ratios 1.5 / 0.5 → lt = ±round(1e6·ln)
    val rows = Seq.fill(3)(("A", true)) ++ Seq(("A", false)) ++
      Seq(("B", true)) ++ Seq.fill(3)(("B", false))
    val df = rows.toDF("cell", "is_p")
    val out = Cluster.divergenceFrontier(df, "cell", "is_p", grid = 2)
      .collect()
    out.length shouldBe 1
    val lt15 = math.round(1e6 * math.log(1.5)) // 405465
    val lt05 = math.round(1e6 * math.log(0.5)) // -693147
    val expected = math.floorDiv((3 * lt15 + 1 * lt05) * 1000L, 4L)
    out.head.getAs[Long]("kl_p_nano") shouldBe expected
    out.head.getAs[Long]("kl_q_nano") shouldBe expected // symmetric counts
    // identical histograms → every λ's KLs are exactly 0
    val same = (Seq.fill(2)(("A", true)) ++ Seq.fill(2)(("A", false)) ++
      Seq.fill(2)(("B", true)) ++ Seq.fill(2)(("B", false)))
      .toDF("cell", "is_p")
    val zeros = Cluster.divergenceFrontier(same, "cell", "is_p", grid = 4)
      .collect()
    zeros.length shouldBe 3
    all(zeros.map(_.getAs[Long]("kl_p_nano"))) shouldBe 0L
    all(zeros.map(_.getAs[Long]("kl_q_nano"))) shouldBe 0L
  }
}
