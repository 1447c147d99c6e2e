package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Stage-by-stage timing of the minhash near-dup pipeline (dev tool). */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")

    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"$name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s   rows=$n")
    }

    time("explode shingles") {
      docs.select(explode(Dedup.shingles(col("text"), 3)).as("sh")).count()
    }
    time("+ md5 + h1/h2") {
      docs.select(explode(Dedup.shingles(col("text"), 3)).as("sh"))
        .select(md5(col("sh")).as("d"))
        .select(conv(substring(col("d"), 1, 14), 16, 10).cast("long").as("h1"))
        .filter(col("h1") > 0).count()
    }
    time("signatures") {
      Dedup.minhashSignatures(docs, "text", "doc_id").count()
    }
    time("candidate pairs") {
      Dedup.minhashCandidatePairs(
        Dedup.minhashSignatures(docs, "text", "doc_id"), "doc_id").count()
    }
    time("full near-dup (jaccard)") {
      Dedup.minhashNearDuplicates(docs, "text", "doc_id",
        jaccardThreshold = 0.8).count()
    }

    // --- flagship stage breakdown ---
    val embedder = new graft.embed.HashingEmbedder(dim = 64)
    val raw = docs.select(col("source"),
        concat_ws(" ", slice(split(col("text"), " "), 1, 3)).as("raw_input_label"))
      .distinct()
      .withColumn("cleaned_input_label",
        graft.functions.GraftUdfs.cleanLabel(col("raw_input_label")))
    time("flagship: distinct+clean") { raw.count() }
    val queries = embedder.embed(raw, "cleaned_input_label", "qvec")
    time("flagship: + embed") { queries.count() }
    val part = spark.read.parquet(s"$sfDir/part.parquet")
      .filter(col("p_partkey") <= 300)
      .select(col("p_partkey").cast("string").as("CT_ID"),
        col("p_name").as("CT_NAME"), col("p_brand").as("CT_LABEL"),
        col("p_type").as("definition"))
      .withColumn("all_text",
        coalesce(concat(col("CT_NAME"), lit(" "), col("CT_LABEL"), lit(" "),
          col("definition")), col("CT_NAME")))
    val ref = graft.operators.Matcher.prepareReference(
      embedder.embed(part, "all_text", "embedding"), "embedding", Seq("CT_ID"))
    time("flagship: embed (forced)") {
      queries.select(sum(element_at(col("qvec"), 1))).collect(); 1L
    }
    time("flagship: full mapLabels") {
      // collect, not count(): a count would prune the report projection
      graft.operators.Matcher.mapLabels(queries, ref, k = 2).collect().length.toLong
    }
    spark.stop()
  }
}
