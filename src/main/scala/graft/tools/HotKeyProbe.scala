package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.AsofJoin

/** Focused hot-key as-of probe: every purchase/click re-keyed to ONE
  * user and amplified ×16 (timestamps spread ×16 to keep right-side
  * uniqueness), so the single key carries millions of rows — the
  * volume where the plain union-merge's one-partition sort becomes
  * the wall and the bucketed form's (key, day-bucket) spread pays
  * off. Reads sf0.1 plus the ScaleProbe replica dir if present. */
object HotKeyProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(32)

    def hotInputs(dir: String): (DataFrame, DataFrame) = {
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
    def time(name: String, dir: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val n = f
      println(f"  $name%-24s ${dir.split('/').last}%-18s ${(System.nanoTime() - t0) / 1e9}%7.2f s  rows=$n")
    }
    val dirs = Seq("/root/testdata/sf0.1") ++
      Some("/tmp/graft_scale_x8").filter(d => new java.io.File(d).exists())
    for (dir <- dirs) {
      // normal-key as-of (forced payload) for the corrected PERF row
      val ev0 = graft.sources.EventsLoader.events(spark, dir)
      val pn = ev0.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
      val cn = ev0.filter(col("event_type") === "click")
        .select(col("user_id").as("r_uid"),
          unix_micros(col("ts")).as("click_ts_us"), col("value"))
        .groupBy("r_uid", "click_ts_us")
        .agg(max(col("value")).as("click_val"))
      time("asof_join_forced", dir) {
        AsofJoin.asofBackward(pn, cn, "user_id", "r_uid", "ts_us", "click_ts_us")
          .agg(count(col("click_ts_us"))).head().getLong(0)
      }
      val (p, c) = hotInputs(dir)
      p.cache().count(); c.cache().count() // inputs off the clock
      // aggregate over the MATCH payload: a bare count() lets column
      // pruning drop the as-of window itself and times only the scan
      def force(df: DataFrame): Long =
        df.agg(count(col("click_ts_us"))).head().getLong(0)
      time("hotkey_plain", dir) {
        force(AsofJoin.asofBackward(p, c, "user_id", "r_uid", "ts_us", "click_ts_us"))
      }
      time("hotkey_bucketed_1d", dir) {
        // timestamps are spread x16, so a day bucket holds ~1/16 day
        force(AsofJoin.asofBackwardBucketed(p, c, "user_id", "r_uid",
          "ts_us", "click_ts_us", bucketSpan = 86400L * 1000000))
      }
      p.unpersist(); c.unpersist()
    }
    spark.stop()
  }
}
