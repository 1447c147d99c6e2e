package graft.sources

import org.apache.spark.sql.SparkSession

/** Partition counts sized from the bytes a plan reads.
  *
  * A plan over a few megabytes gains nothing from the session's
  * partition count (= cores): every extra partition is a task, and a
  * shuffle to spread the rows is one or two more jobs. So the count is
  * `clamp(ceil(inputBytes / 16 MiB), floor, sessionN)`, where
  * `sessionN` is the session's `spark.sql.shuffle.partitions`: small
  * inputs run in one partition, large ones saturate at `sessionN`.
  * Bounded stream replays size their state partitions with it
  * ([[graft.streaming.StreamOps.replay]]) and the flagship label
  * variants their label side.
  *
  * Results must not depend on the count; the partition-invariance
  * checks run whole queries at fixed counts through
  * [[withPartitions]], not through a conf. */
object InputPartitions {

  /** Input bytes one partition covers. */
  private val bytesPerPartition = 16L << 20

  /** `clamp(ceil(inputBytes / 16 MiB), min(floor, sessionN), sessionN)`. */
  def count(sessionN: Int, inputBytes: Long, floor: Int = 1): Int = {
    val bySize = (inputBytes + bytesPerPartition - 1) / bytesPerPartition
    math.max(math.min(floor, sessionN).toLong, math.min(sessionN.toLong, bySize)).toInt
  }

  /** The count for a plan on `spark` that reads the files under
    * `inputs`: the [[withPartitions]] override when this thread runs
    * inside one, else [[count]] over their bytes. */
  def forInputs(spark: SparkSession, inputs: Seq[String], floor: Int = 1): Int =
    forced.value.getOrElse(count(
      spark.conf.get("spark.sql.shuffle.partitions").toInt.max(1),
      inputs.map(inputBytes(spark, _)).sum, floor))

  /** Total bytes under a path/glob (file, directory, or glob). */
  def inputBytes(spark: SparkSession, glob: String): Long = {
    val p = new org.apache.hadoop.fs.Path(glob)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stats = fs.globStatus(p)
    if (stats == null) 0L
    else stats.map { st =>
      if (st.isDirectory) fs.getContentSummary(st.getPath).getLength
      else st.getLen
    }.sum
  }

  /** Partition count that [[forInputs]] returns on this thread inside
    * [[withPartitions]]. */
  private val forced = new scala.util.DynamicVariable[Option[Int]](None)

  /** Run `body` with every [[forInputs]] count it asks for on this
    * thread at `n`. */
  private[graft] def withPartitions[A](n: Int)(body: => A): A =
    forced.withValue(Some(n))(body)
}
