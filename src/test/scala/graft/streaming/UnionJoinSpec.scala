package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.SparkSpec

/** U1 (7-way union, ProductStatsApp.java:225-230) and J4 (time-bounded
  * outer stream joins, TestFlinkSQLJoin.java) in their streaming forms.
  */
class UnionJoinSpec extends SparkSpec {

  test("U1 streaming: union of independent source streams feeds one windowed agg") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val cols = Seq("o_et", "province_name", "order_id", "split_total_amount")
    val north = MemoryStream[(java.sql.Timestamp, String, Long, Double)]
    val south = MemoryStream[(java.sql.Timestamp, String, Long, Double)]
    val unioned = north.toDF().toDF(cols: _*).unionByName(south.toDF().toDF(cols: _*))
    val q = graft.apps.Apps.provinceStats(unioned, watermark = "0 seconds")
      .writeStream.format("memory").queryName("u1out")
      .outputMode(OutputMode.Append).start()
    def t(s: Long) = new java.sql.Timestamp(s * 1000L)
    try {
      north.addData((t(1), "beijing", 1L, 1.0), (t(3), "beijing", 2L, 1.0))
      south.addData((t(5), "shanghai", 1L, 10.0))
      q.processAllAvailable()
      north.addData((t(30), "beijing", 3L, 1.0)) // advance watermark past window [0,10)
      q.processAllAvailable()
      val rows = spark.table("u1out").select("stt", "province_name", "order_count")
        .as[(String, String, Long)].collect().toSet
      assert(rows.contains(("1970-01-01 00:00:00", "beijing", 2L)))
      assert(rows.contains(("1970-01-01 00:00:00", "shanghai", 1L)))
    } finally q.stop()
  }

  test("J4 streaming: time-bounded LEFT OUTER stream-stream join emits null-padded " +
    "rows once the watermark closes the bound") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val left = MemoryStream[(Long, java.sql.Timestamp)]
    val right = MemoryStream[(Long, java.sql.Timestamp)]
    val l = left.toDF().toDF("l_id", "l_ts").withWatermark("l_ts", "0 seconds")
    val r = right.toDF().toDF("r_id", "r_ts").withWatermark("r_ts", "0 seconds")
    val joined = l.join(r,
      expr("l_id = r_id AND r_ts BETWEEN l_ts AND l_ts + INTERVAL 10 SECONDS"),
      "left_outer")
    val q = joined.writeStream.format("memory").queryName("j4out")
      .outputMode(OutputMode.Append).start()
    def t(s: Long) = new java.sql.Timestamp(s * 1000L)
    try {
      left.addData((1L, t(5)), (2L, t(6)))
      right.addData((1L, t(8))) // matches 1 within bound; 2 never matches
      q.processAllAvailable()
      left.addData((99L, t(100))); right.addData((99L, t(100))) // advance both watermarks
      q.processAllAvailable()
      val rows = spark.table("j4out")
        .select($"l_id", $"r_id").as[(Long, Option[Long])].collect().toSet
      assert(rows.contains((1L, Some(1L))))
      assert(rows.contains((2L, None)), "unmatched left row must be emitted null-padded")
    } finally q.stop()
  }
}
