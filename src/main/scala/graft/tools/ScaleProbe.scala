package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.embed.HashingEmbedder
import graft.functions.GraftUdfs
import graft.operators.{Ann, AsofJoin, Dedup, FuzzyJoin, Matcher, Multimodal, RangeJoin}
import graft.streaming.StreamOps

/** Scale-up probe (dev tool): replicates the sf0.1 tables K× with
  * re-keyed ids into /tmp, then times the shuffle-heavy operators at
  * 1× and K× to observe the scaling exponent. Near-linear growth on
  * the bucket-blocked paths is the design claim — this measures it.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val k = if (args.nonEmpty) args(0).toInt else 8
    val src = "/root/testdata/sf0.1"
    val dst = s"/tmp/graft_scale_x$k"
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def replicate(name: String, idSteps: (String, Long)*): DataFrame = {
      // events goes through the schema-adaptive loader (ts encoding
      // has changed across testdata regenerations); replicas then
      // carry a plain TimestampType ts whatever the source had
      val base =
        if (name == "events") graft.sources.EventsLoader.events(spark, src)
        else spark.read.parquet(s"$src/$name.parquet")
      (0 until k).map(i =>
        idSteps.foldLeft(base) { case (df, (c, step)) =>
          df.withColumn(c, col(c) + lit(i * step))
        })
        .reduce(_ union _)
    }
    // ids re-keyed so replicas are near-dups (same content, new key) —
    // the realistic dedup workload
    replicate("documents", "doc_id" -> 1000000L)
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")
    replicate("embeddings", "vec_id" -> 1000000L)
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
    // events re-key user_id too: streaming state is per-user, and the
    // realistic scale-up grows the KEY set, not events-per-key
    replicate("events", "event_id" -> 10000000L, "user_id" -> 1000000L)
      .write.mode("overwrite").parquet(s"$dst/events.parquet")

    def time(name: String)(f: String => Long): Unit = {
      def once(dir: String): Double = {
        val t0 = System.nanoTime(); val n = f(dir)
        val s = (System.nanoTime() - t0) / 1e9
        println(f"  $name%-24s ${dir.split('/').last}%-18s $s%7.2f s  rows=$n")
        s
      }
      val t1 = once(src)
      val tk = once(dst)
      println(f"  $name%-24s scaling: ${tk / t1}%.1fx wall for ${k}x data")
    }

    val planes = Ann.hyperplanes(64, 32, 42L)
    time("minhash_neardup") { dir =>
      Dedup.minhashNearDuplicates(
        spark.read.parquet(s"$dir/documents.parquet"), "text", "doc_id",
        jaccardThreshold = 0.8).count()
    }
    // the 8x replicas are exact near-dups — every replica cluster is a
    // hot bucket, the workload the cap exists for: wall and output
    // should collapse vs the uncapped row while small clusters survive
    time("minhash_neardup_capped") { dir =>
      Dedup.minhashNearDuplicates(
        spark.read.parquet(s"$dir/documents.parquet"), "text", "doc_id",
        jaccardThreshold = 0.8, maxBucketSize = Some(6)).count()
    }
    time("lsh_banded_neardup") { dir =>
      Ann.lshBandedNearDupPairs(
        spark.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding",
        planes, 8, 0.45).count()
    }
    time("brute_topk_40q") { dir =>
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
      Ann.bruteForceTopK(e.filter(col("vec_id") % 50 === 0 && col("vec_id") < 2000),
        e, "vec_id", "vec_id", "embedding", 5).count()
    }
    time("simhash_neardup") { dir =>
      Dedup.simhashNearDuplicates(
        spark.read.parquet(s"$dir/documents.parquet"), "text", "doc_id",
        maxHamming = 8).count()
    }
    time("ivf_train_and_topk") { dir =>
      // trained codebook + cell-keyed probe search; fixed 40-query set,
      // corpus (and index build) grow with the data
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
      val cb = Ann.trainCodebook(e, "embedding", k = 12)
      Ann.ivfTopK(
        e.filter(col("vec_id") % 100 === 0 && col("vec_id") < 4000), e,
        cb, "cell", "cvec", "vec_id", "vec_id", "embedding",
        nProbe = 3, k = 5).count()
    }
    time("flagship_matcher") { dir =>
      // queries grow with the data; the reference side stays
      // catalog-sized (the realistic scale-up shape)
      val embedder = new HashingEmbedder(dim = 64)
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      // tag the label with the replica id so the distinct query set
      // actually grows with the data (identical replica text would
      // otherwise collapse in the distinct)
      val raw = docs.select(col("source"),
          concat_ws(" ",
            concat_ws(" ", slice(split(col("text"), " "), 1, 3)),
            concat(lit("r"), floor(col("doc_id") / 1000000L).cast("string")))
            .as("raw_input_label"))
        .distinct()
        .withColumn("cleaned_input_label", GraftUdfs.cleanLabel(col("raw_input_label")))
      val queries = embedder.embed(raw, "cleaned_input_label", "qvec")
      val part = spark.read.parquet(s"$src/part.parquet")
        .filter(col("p_partkey") <= 300)
        .select(col("p_partkey").cast("string").as("CT_ID"),
          col("p_name").as("CT_NAME"), col("p_brand").as("CT_LABEL"),
          col("p_type").as("definition"))
        .withColumn("all_text",
          coalesce(concat(col("CT_NAME"), lit(" "), col("CT_LABEL"), lit(" "),
            col("definition")), col("CT_NAME")))
      val ref = Matcher.prepareReference(
        embedder.embed(part, "all_text", "embedding"), "embedding", Seq("CT_ID"))
      // collect, not count(): a count would prune the report projection
      Matcher.mapLabels(queries, ref, k = 2).collect().length.toLong
    }
    time("sessionize") { dir =>
      StreamOps.sessionize(
        graft.sources.EventsLoader.events(spark, dir)).count()
    }
    // as-of / range join: user keys grow Kx (per-key density constant),
    // so both should hold ~linear wall — the key-shuffle (as-of) and
    // (key,bucket)-shuffle (range) both spread with the key set
    def purchasesClicks(dir: String): (DataFrame, DataFrame) = {
      val ev = graft.sources.EventsLoader.events(spark, dir)
      (ev.filter(col("event_type") === "purchase")
         .select(col("event_id"), col("user_id"),
           unix_micros(col("ts")).as("ts_us"), col("value")),
       ev.filter(col("event_type") === "click")
         .select(col("user_id").as("r_uid"),
           unix_micros(col("ts")).as("click_ts_us"), col("value")))
    }
    // aggregate over the MATCH payload: a bare count() lets column
    // pruning drop the as-of window itself and times only the scan
    def forceAsof(df: DataFrame): Long =
      df.agg(count(col("click_ts_us"))).head().getLong(0)
    time("asof_join") { dir =>
      val (p, c) = purchasesClicks(dir)
      forceAsof(AsofJoin.asofBackward(p,
        c.groupBy("r_uid", "click_ts_us").agg(max(col("value")).as("click_val")),
        "user_id", "r_uid", "ts_us", "click_ts_us"))
    }
    time("range_join_2h") { dir =>
      val (p, c) = purchasesClicks(dir)
      RangeJoin.intervalJoin(
        p.withColumnRenamed("event_id", "purchase_id")
          .withColumnRenamed("value", "purchase_val"),
        c.withColumnRenamed("value", "click_val"),
        "user_id", "r_uid", "ts_us", "click_ts_us",
        -7200000000L, 0L).count()
    }
    // HOT-KEY as-of: every event re-keyed to ONE user and amplified
    // x16 (timestamps spread x16 keep right-side uniqueness) — 2.5M+
    // rows on one key at 8x. The plain union-merge serializes that
    // key through a single partition's sort; the bucketed form
    // spreads it across (key, day-bucket) partitions. See also
    // tools/HotKeyProbe for the focused comparison.
    def hotKeyAsof(dir: String): (DataFrame, DataFrame) = {
      val ev = graft.sources.EventsLoader.events(spark, dir)
      val amp = explode(sequence(lit(0L), lit(15L))).as("__rep")
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"), col("value"), amp)
        .select((col("event_id") * 16 + col("__rep")).as("event_id"),
          lit(1L).as("user_id"),
          (col("ts_us") * 16 + col("__rep")).as("ts_us"), col("value"))
      val c = ev.filter(col("event_type") === "click")
        .select(unix_micros(col("ts")).as("ts_us"), col("value"), amp)
        .select(lit(1L).as("r_uid"),
          (col("ts_us") * 16 + col("__rep")).as("click_ts_us"), col("value"))
        .groupBy("r_uid", "click_ts_us")
        .agg(max(col("value")).as("click_val"))
      (p, c)
    }
    time("asof_hotkey_plain") { dir =>
      val (p, c) = hotKeyAsof(dir)
      forceAsof(AsofJoin.asofBackward(p, c, "user_id", "r_uid", "ts_us", "click_ts_us"))
    }
    time("asof_hotkey_bucketed") { dir =>
      val (p, c) = hotKeyAsof(dir)
      forceAsof(AsofJoin.asofBackwardBucketed(p, c, "user_id", "r_uid",
        "ts_us", "click_ts_us", bucketSpan = 86400L * 1000000))
    }
    // decontamination: eval set FIXED (benchmarks don't grow with the
    // corpus), train side scans Kx docs — broadcast join, linear wall
    time("decontaminate") { dir =>
      val d = spark.read.parquet(s"$dir/documents.parquet")
      graft.operators.Decontaminate.contaminationReport(
        d.filter(col("doc_id") % 97 =!= 0),
        d.filter(col("doc_id") % 97 === 0 && col("doc_id") < 1000000L),
        "doc_id", "text", n = 3, minOverlap = 2).count()
    }
    time("bm25") { dir =>
      graft.operators.TextAnalysis.bm25(
        spark.read.parquet(s"$dir/documents.parquet"),
        "doc_id", "text", Seq("hash", "join", "dup", "window")).count()
    }
    // winnow near-dup at Kx: replicas share ALL fingerprints, so the
    // df-prune (maxDocFreq) suppresses the replica pair mass exactly
    // like the banded-LSH hot-bucket cap
    time("winnow_neardup") { dir =>
      graft.operators.TextAnalysis.winnowNearDuplicates(
        spark.read.parquet(s"$dir/documents.parquet"),
        "doc_id", "text", k = 20, w = 12, minShared = 2L,
        maxDocFreq = 5L).count()
    }
    // Multimodal decode: wall must be proportional to SAMPLED bytes —
    // linear in data volume at fixed stride (the per-row scaling),
    // and ~stride-proportional at fixed data (decode sees only the
    // sampled frames, never the full payload). Comparing the s2 and
    // s8 rows at the same scale shows the second property.
    def multimodalCount(dir: String, stride: Int): Long = {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val framed = Multimodal.sampleFrames(
        Multimodal.withBinaryPayload(docs, "text"), "payload",
        frameSize = 64, stride = stride)
      Multimodal.extractFrameFeaturesBatched(framed, "frames")
        .select(explode(col("frame_features"))).count()
    }
    time("multimodal_decode_s2") { dir => multimodalCount(dir, 2) }
    time("multimodal_decode_s8") { dir => multimodalCount(dir, 8) }
    val probeRun = new java.util.concurrent.atomic.AtomicInteger(0)
    time("sessionize_stream") { dir =>
      // the stateful flatMapGroupsWithState path end-to-end through
      // the streaming engine (state keyed per user; watermark-bounded)
      val name = s"probe_sessions_${probeRun.incrementAndGet()}"
      val q = StreamOps.sessionizeStream(StreamOps.eventsStream(spark, dir), 30)
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.table(name).count()
    }
    // Fuzzy join, length blocking vs PassJoin segment blocking, SAME
    // inputs and d=2: length classes admit every same-length pair, so
    // the length-blocked candidate mass grows ~quadratically with the
    // distinct-value count; segment signatures are content keys whose
    // buckets stay small — the seg row should hold near-linear while
    // the len row degrades. Labels are replica-tagged so the distinct
    // value set actually grows Kx.
    def fuzzyInputs(dir: String): (DataFrame, DataFrame) = {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val labels = docs.select(
          concat_ws(" ",
            concat_ws(" ", slice(split(col("text"), " "), 1, 2)),
            concat(lit("r"), floor(col("doc_id") / 1000000L).cast("string")))
            .as("name"))
        .distinct()
      val queries = labels.select(
        concat(lit("xy"), substring(col("name"), 2, 10000)).as("q_name"))
      (queries, labels)
    }
    time("fuzzy_join_len_d2") { dir =>
      val (q, c) = fuzzyInputs(dir)
      FuzzyJoin.editDistanceJoin(q, c, "q_name", "name", 2).count()
    }
    time("fuzzy_join_seg_d2") { dir =>
      val (q, c) = fuzzyInputs(dir)
      FuzzyJoin.editDistanceJoinSegmented(q, c, "q_name", "name", 2).count()
    }
    // Round-7 tail, driven through the public driver contract:
    // - q79 heavy hitters: bounded Misra-Gries state per group, token
    //   volume grows Kx, group count fixed -> linear map-side wall
    // - q80 SCD-2: per-user window; the replica re-key grows the KEY
    //   set, per-key history constant -> linear keyed sort
    // - q68 boilerplate: unit-keyed df join; replica chunks stay under
    //   maxDocFreq so content survives while the planted header strips
    // - q73 end-to-end: the md5 dedup stage collapses the exact-dup
    //   replicas, so OUTPUT stays ~1x while the scan/shuffle mass is Kx
    def entryCount(name: String)(dir: String): Long =
      graft.SparkEntry.queries(name)(spark, dir).count()
    time("group_heavy_hitters")(entryCount("q79_group_heavy_hitters"))
    time("scd2_intervals")(entryCount("q80_scd2_intervals"))
    time("boilerplate_removal")(entryCount("q68_boilerplate_removal"))
    time("corpus_pipeline")(entryCount("q73_corpus_pipeline"))
    // - q121 SemDeDup: the replica repeats every vector Kx under new
    //   ids, so each k-means cell gets Kx denser — exactly the
    //   degenerate-cluster shape the maxCellSize cap exists for. The
    //   cap keeps the within-cell self-join bounded (suppressed mass
    //   is the exact-dup tier's job upstream); expect ~linear wall
    //   from the assignment scan, NOT quadratic from the pair join.
    time("semantic_neardup")(entryCount("q121_semantic_neardup"))
    // - q136 capstone: the CC-closure stage dominates its wall. The
    //   Kx replicas are exact near-dups, so every text becomes a
    //   K-member component — component COUNT grows with distinct
    //   texts, component DIAMETER stays bounded, so large-star/
    //   small-star round count should stay FLAT while the per-round
    //   edge shuffle carries ~Kx mass. This split probe attributes
    //   which moves first: pair generation, or the closure (rounds ×
    //   per-round wall).
    time("curation_v3_full")(entryCount("q136_curation_pipeline_v3"))
    time("curation_v3_cc_split") { dir =>
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val t0 = System.nanoTime()
      val pairs = Dedup.minhashNearDuplicates(docs, "text", "doc_id",
        shingleSize = 3, numHashes = 8, rowsPerBand = 2,
        jaccardThreshold = 0.8).cache()
      val np = pairs.count()
      val tPairs = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val n = Dedup.connectedComponents(pairs, "id_a", "id_b").count()
      val tCc = (System.nanoTime() - t1) / 1e9
      println(f"    pairs=$np%d ($tPairs%5.2f s)  " +
        f"cc rounds=${Dedup.lastCcRounds.get()}%d ($tCc%5.2f s)")
      pairs.unpersist()
      n
    }
    // Bounded-upsert probe: per-batch wall must track BATCH size, not
    // TARGET size. Buckets are sized to the target (constant bucket
    // bytes — the documented deployment rule), the target is built
    // K× bigger, then ONE fixed ~50-row batch is timed into each.
    // The pre-fix design re-wrote the whole target per batch → K×
    // wall; the bucketed design rewrites only the touched buckets.
    time("upsert_fixed_batch") { dir =>
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), lit(0L).as("version"), col("text"))
      val nBuckets = if (dir == src) 16 else 16 * k
      val work = java.nio.file.Files.createTempDirectory("graft_probe_upsert_").toString
      new java.io.File(s"$work/staging").mkdirs()
      val emb = new HashingEmbedder(dim = 64)
      // build the target (untimed portion dominates; timing covers the
      // whole call — the 1x-vs-Kx DELTA of the second upsert is what
      // the summary line reports)
      StreamOps.stageVersionFile(docs, s"$work/staging/v0.parquet")
      StreamOps.embeddingUpsert(spark, s"$work/staging", s"$work/target",
        s"$work/ckpt", emb, nBuckets)
      val batch = docs.filter(col("doc_id") % 97 === 0 && col("doc_id") < 5000)
        .select(col("doc_id"), lit(1L).as("version"),
          concat(col("text"), lit(" v1")).as("text"))
      StreamOps.stageVersionFile(batch, s"$work/staging/v1.parquet")
      val t0 = System.nanoTime()
      StreamOps.embeddingUpsert(spark, s"$work/staging", s"$work/target",
        s"$work/ckpt", emb, nBuckets)
      val batchWall = (System.nanoTime() - t0) / 1e9
      println(f"    fixed-batch upsert wall (target=${dir.split('/').last}): $batchWall%6.2f s")
      spark.read.parquet(s"$work/target").count()
    }
    spark.stop()
  }
}
