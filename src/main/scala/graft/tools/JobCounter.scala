package graft.tools

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs that one block of driver code submits.
  *
  * A listener counts the job-start events that carry a tag, a local
  * property set around the block (threads the block starts inherit
  * it), so jobs of other threads do not count. Listener events arrive
  * asynchronously and in order, so after the block a one-task fence
  * job runs under its own tag, and the count is read once the fence's
  * job-end event has arrived: every job of the block has been seen by
  * then. */
object JobCounter {

  private val Property = "graft.jobCounter.tag"
  private val tags = new AtomicLong()

  /** `body`'s result and the number of jobs it submitted. */
  def count[A](spark: SparkSession)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val tag = s"count-${tags.incrementAndGet()}"
    val fence = s"$tag-fence"
    val jobs = new AtomicInteger()
    val fenceJob = new AtomicInteger(-1)
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(Property)).foreach { t =>
          if (t == tag) jobs.incrementAndGet()
          else if (t == fence) fenceJob.set(e.jobId)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == fenceJob.get) fenced.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(Property, tag)
      val out = try body finally sc.setLocalProperty(Property, fence)
      sc.parallelize(Seq(1), 1).foreach(_ => ())
      require(fenced.await(60, TimeUnit.SECONDS), "the fence job's end event did not arrive")
      (out, jobs.get)
    } finally {
      sc.setLocalProperty(Property, null)
      sc.removeSparkListener(listener)
    }
  }
}
