package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DWM widening — OrderWide/PaymentWide parity (SURVEY.md §3.2):
  * watermarked stream-stream interval joins plus broadcast dimension
  * enrichment.
  *
  * The reference's shape: keyBy ⋈ keyBy intervalJoin(-5s,+5s), then SIX
  * sequential per-record async Redis/Phoenix lookups. Spark-first: ONE
  * stream-stream inner join with a time-bound condition (state expiry via
  * watermark = Flink's event-time purge), then broadcast hash joins
  * against dim snapshots — the broadcast IS the cache, refreshed per
  * micro-batch; no mid-pipeline RPC, no thread pools, no Redis.
  */
object WidePipelines {

  /** J1 (OrderWideApp.java:96-105): interval join, inclusive bounds
    * [-lower, +upper] on the right side's event time relative to the
    * left's. Both sides watermarked by max(|lower|, upper) so join state
    * is purged once the watermark passes the bound (SURVEY.md §7.4.2). */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   leftKey: String, rightKey: String,
                   leftTime: String, rightTime: String,
                   lower: String, upper: String): DataFrame = {
    val l = left.withWatermark(leftTime, watermarkFor(lower, upper))
    val r = right.withWatermark(rightTime, watermarkFor(lower, upper))
    l.join(r, expr(
      s"$leftKey = $rightKey AND " +
        s"$rightTime BETWEEN $leftTime - INTERVAL $lower AND $leftTime + INTERVAL $upper"))
  }

  private def watermarkFor(lower: String, upper: String): String = {
    // delay must cover the larger bound; both are "N unit" strings
    def ms(s: String): Long = {
      val Array(n, unit) = s.trim.split("\\s+", 2)
      val mult = unit.toLowerCase(java.util.Locale.ROOT) match {
        case u if u.startsWith("milli") => 1L
        case u if u.startsWith("second") => 1000L
        case u if u.startsWith("minute") => 60000L
        case u if u.startsWith("hour") => 3600000L
        case u if u.startsWith("day") => 86400000L
        case other => throw new IllegalArgumentException(s"unit $other")
      }
      n.toLong * mult
    }
    val m = math.max(ms(lower), ms(upper))
    s"$m milliseconds"
  }

  /** J3 (OrderWideApp.java:112-225): the six dim lookups as broadcast
    * left joins. `dims` maps a join-key column on the fact side to the
    * (small) dim DataFrame whose `id` column it references; prefixed
    * columns are appended, reference-style (DIM_* all-varchar tables). */
  def enrich(facts: DataFrame, dims: Seq[(String, String, DataFrame)]): DataFrame =
    dims.foldLeft(facts) { case (acc, (factKey, prefix, dim)) =>
      val renamed = dim.columns.foldLeft(dim) { (d, c) =>
        d.withColumnRenamed(c, s"$prefix$c")
      }
      acc.join(broadcast(renamed),
        acc(factKey) === renamed(s"${prefix}id"), "left")
    }
}
