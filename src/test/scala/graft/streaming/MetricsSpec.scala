package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.SparkSpec

/** The observability surface: per-batch input/state/watermark/late-drop
  * numbers collected from the engine's own progress events.
  */
class MetricsSpec extends SparkSpec {

  test("Metrics collector: input totals, watermark progression, and the " +
       "late-drop counter on a watermarked aggregation") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    def t(s: Long) = new java.sql.Timestamp(s * 1000L)
    val ((inputTotal, lateRows), c) = Metrics.collect(spark) {
      val mem = MemoryStream[(java.sql.Timestamp, String, Long, Double)]
      val df = mem.toDF().toDF("o_et", "province_name", "order_id", "split_total_amount")
      val q = graft.apps.Apps.provinceStats(df, watermark = "2 seconds")
        .writeStream.format("memory").queryName("mx_out")
        .outputMode(OutputMode.Append).start()
      try {
        mem.addData((t(5), "beijing", 1L, 1.0), (t(12), "shanghai", 2L, 2.0))
        q.processAllAvailable() // watermark → 10s, window [0,10) closes
        mem.addData((t(4), "beijing", 9L, 9.0)) // LATE: below the watermark
        q.processAllAvailable()
        mem.addData((t(60), "shanghai", 3L, 3.0))
        q.processAllAvailable()
        // 4 INPUT rows in all — the late row still arrives as input,
        // it is dropped by the watermark afterwards (and only there)
        (4L, 1L)
      } finally q.stop()
    }
    val seen = Metrics.awaitBatches(c, 3)
    val withInput = seen.filter(_.inputRows > 0)
    assert(withInput.map(_.inputRows).sum == inputTotal,
      s"input rows must total $inputTotal: $seen")
    // the late row is counted by the engine's dropped-by-watermark
    // metric — the silent-data-loss signal this collector exists for
    assert(seen.map(_.droppedByWatermark).sum == lateRows,
      s"expected exactly $lateRows late-dropped row: $seen")
    // watermark only ever advances across batches
    val wms = seen.sortBy(_.batchId).map(_.watermarkMs).filter(_ > 0)
    assert(wms == wms.sorted, s"watermark must be monotone: $seen")
    assert(wms.nonEmpty && wms.last >= 58000L,
      s"final watermark must reflect the 60s event: $seen")
    // keyed state is live while windows are open
    assert(seen.exists(_.stateRows > 0), s"no state rows observed: $seen")
    // the collector detached: later queries must not land in this buffer
    val after = c.snapshot.size
    val mem2 = MemoryStream[Int]
    val q2 = mem2.toDS().writeStream.format("memory").queryName("mx_out2")
      .outputMode(OutputMode.Append).start()
    try { mem2.addData(1, 2, 3); q2.processAllAvailable() } finally q2.stop()
    assert(c.snapshot.size == after, "listener leaked past collect()")
  }
}
