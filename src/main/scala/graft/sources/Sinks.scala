package graft.sources

import org.apache.spark.sql.DataFrame

/** CSV sinks with the reference's contracts (SURVEY.md §2.1 S7/S9).
  *
  * The reference writes headered CSV, index-free, into a mkdir-p'd
  * directory (`asctb_data_wrangling.py:113-117`, `main.py:215-220`).
  * Spark's writer is directory-based and creates parents already; the
  * single-file report shape is `coalesce(1)` — correct ONLY for
  * report-sized outputs (the reference's reports are per-study small).
  * Bulk data goes through [[bulkCsv]], one file per partition.
  */
object Sinks {

  /** Small-report sink: one headered CSV part file (S9). */
  def reportCsv(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(path)

  /** Bulk sink: parallel headered CSV, no single-file bottleneck (S7). */
  def bulkCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** Embeddings sink (S8): canonical parquet + optional CSV export
    * with the vector column stringified (CSV has no array type). */
  def embeddingsParquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** Bucketed-layout sink — the 100 TB shape of S8: `bucketBy` +
    * `sortBy` on the join key persists the hash distribution in the
    * table metadata, so every LATER join or aggregation on that key
    * between co-bucketed tables plans with ZERO exchanges (and, with
    * one file per bucket, zero sorts). At corpus scale this is the
    * difference between shuffling 100 TB once per downstream query and
    * shuffling it once at ingest: embed once, bucket by doc id, and
    * every dedup-verify, enrichment or metrics join afterwards is
    * partition-local. SinksSpec proves the exchange-free plan. */
  def bucketedParquetTable(df: DataFrame, table: String,
                           bucketCol: String, nBuckets: Int): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(table)

  /** Hive-partitioned parquet layout: one directory per value of
    * `partitionCols`, rows sorted by `sortCols` INSIDE each file.
    * This is the other half of the physical-layout story next to
    * [[bucketedParquetTable]]: a reader filtering on a partition
    * column touches only matching directories (partition pruning —
    * the scan lists, not reads, the rest), and the within-file sort
    * tightens parquet min/max page stats so row-group skipping works
    * on the sort key. Partition columns must be LOW-cardinality
    * (split, language, date — never an id: a 10⁹-value partition
    * column is 10⁹ directories and a dead metastore). */
  def partitionedParquet(df: DataFrame, path: String,
                         partitionCols: Seq[String],
                         sortCols: Seq[String]): Unit = {
    require(partitionCols.nonEmpty, "need at least one partition column")
    import org.apache.spark.sql.functions.col
    df.sortWithinPartitions((partitionCols ++ sortCols).map(col): _*)
      .write.mode("overwrite")
      .partitionBy(partitionCols: _*)
      .parquet(path)
  }

  /** JSONL (newline-delimited JSON) sink — the de-facto interchange
    * format for LLM training corpora (one document object per line;
    * what tokenizer and trainer toolchains ingest). Always gzip:
    * JSONL is verbose and the write is IO-bound; per-file gzip keeps
    * files independently readable. One file per partition — feed
    * through [[graft.operators.Layout.clusterByZ]] or a repartition
    * to control file count/size. */
  def jsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("compression", "gzip").json(path)

  /** ORC sink — the other big columnar warehouse format (Hive-world
    * interchange); Spark's native ORC writer keeps min/max/bloom
    * statistics so predicate pushdown works like parquet's
    * (SinksSpec proves the pushed filter reaches the scan). Same
    * layout knobs compose: partitionBy upstream, or
    * [[graft.operators.Layout.clusterByZ]] for two-column pruning. */
  def orc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  def readOrc(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** JSONL source with an EXPLICIT schema — schema inference reads
    * the whole dataset twice at 100 TB; corpus readers always know
    * their document shape. Corrupt lines surface in the standard
    * `_corrupt_record` column under PERMISSIVE mode rather than
    * failing the read (quarantine them with the q67 pattern). */
  def readJsonl(spark: org.apache.spark.sql.SparkSession, path: String,
                schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).json(path)
}
