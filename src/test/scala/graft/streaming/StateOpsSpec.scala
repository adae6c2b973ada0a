package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.SparkSpec
import graft.streaming.StateOps._

/** Drives the keyed-state trio through real streaming micro-batches
  * (MemoryStream) and checks the semantics the reference implements with
  * ValueState/CEP, including cross-batch state carry-over and event-time
  * timeouts.
  */
class StateOpsSpec extends SparkSpec {

  test("ST1 is_new: first event per mid keeps 1, later events (even in later batches) get 0") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[TaggedVisit]
    val q = fixIsNewTagged(mem.toDS()).writeStream
      .format("memory").queryName("st1out").outputMode(OutputMode.Append).start()
    try {
      // the payload carries the event id through the correction
      mem.addData(TaggedVisit("m1", 1000L, "1", "1"), TaggedVisit("m1", 2000L, "1", "2"),
        TaggedVisit("m2", 1500L, "1", "3"))
      q.processAllAvailable()
      mem.addData(TaggedVisit("m1", 9000L, "1", "4")) // second batch: state must persist
      q.processAllAvailable()
      val out = spark.table("st1out").as[TaggedVisit].collect().sortBy(_.payload)
      assert(out.map(v => v.payload.toLong -> v.isNew).toSeq ==
        Seq(1L -> "1", 2L -> "0", 3L -> "1", 4L -> "0"))
    } finally q.stop()
  }

  test("ST2 uv dedup: one visit per mid per day across batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val day = 86400000L
    val mem = MemoryStream[Visit]
    val q = uvDedup(mem.toDS()).writeStream
      .format("memory").queryName("st2out").outputMode(OutputMode.Append).start()
    try {
      mem.addData(Visit("m1", 1000L, "1", None, 1), Visit("m1", 5000L, "1", None, 2))
      q.processAllAvailable()
      mem.addData(Visit("m1", 8000L, "1", None, 3),       // same day -> dropped
        Visit("m1", day + 1000L, "1", None, 4),           // next day -> kept
        Visit("m2", 2000L, "1", None, 5))
      q.processAllAvailable()
      val kept = spark.table("st2out").as[VisitOut].collect().map(_.eventId).sorted.toSeq
      assert(kept == Seq(1L, 4L, 5L))
    } finally q.stop()
  }

  test("ST3 bounce: timeout emits lone session start; quick second page cancels; " +
    "double session start emits first") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Visit]
    val q = bounceDetect(mem.toDS(), gapMs = 10000L).writeStream
      .format("memory").queryName("st3out").outputMode(OutputMode.Append).start()
    try {
      mem.addData(
        Visit("lone", 1000L, "1", None, 1),               // no follow-up -> bounce via timeout
        Visit("quick", 1000L, "1", None, 2), Visit("quick", 3000L, "1", Some("p"), 3), // no bounce
        Visit("double", 1000L, "1", None, 4), Visit("double", 4000L, "1", None, 5), // 4 bounces
        Visit("slow", 1000L, "1", None, 6), Visit("slow", 60000L, "1", Some("p"), 7)) // 6 bounces
      q.processAllAvailable()
      // advance the watermark far past every pending timeout
      mem.addData(Visit("wm", 10000000L, "1", Some("p"), 99))
      q.processAllAvailable()
      val bounced = spark.table("st3out").as[Bounce].collect().map(_.eventId).sorted.toSeq
      // pending of "double" (5) and "slow" (none: 7 is not a start) resolved:
      // 5 bounces via final watermark too
      assert(bounced == Seq(1L, 4L, 5L, 6L))
    } finally q.stop()
  }

  test("ST3 batch execution flushes the trailing pending (timers never fire in batch)") {
    import spark.implicits._
    val visits = Seq(
      Visit("lone", 1000L, "1", None, 1),
      Visit("busy", 1000L, "1", None, 2), Visit("busy", 3000L, "1", Some("p"), 3)).toDS()
    val out = bounceDetect(visits).collect().map(_.eventId).toSeq
    assert(out == Seq(1L), s"lone start must flush in batch; got $out")
  }

  test("ST3 streaming agrees with the declarative batch oracle on real events (sf0.001)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val events = graft.Tables.events(spark, sf("sf0.001"))
    // the adapter derives the session-entry flag exactly as the batch
    // query does (no predecessor within 30 min)
    val visits = StateOps.visitsFromEvents(spark, events)
      .collect().toSeq.sortBy(_.ts)
    val expected = graft.queries.Stateful.st3Bounce(spark, sf("sf0.001"))
      .select("event_id").as[Long].collect().toSet

    val mem = MemoryStream[Visit]
    val q = bounceDetect(mem.toDS(), gapMs = 10000L).writeStream
      .format("memory").queryName("st3parity").outputMode(OutputMode.Append).start()
    try {
      // two arbitrary micro-batches + watermark flush
      val (b1, b2) = visits.splitAt(visits.length / 2)
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      mem.addData(Visit("wmflush", visits.last.ts + 100000000L, "1", Some("p"), -1L))
      q.processAllAvailable()
      val got = spark.table("st3parity").as[Bounce].collect()
        .map(_.eventId).filter(_ >= 0).toSet
      assert(got == expected)
    } finally q.stop()
  }

  test("ST3 derived: session entries tagged in-state across batches; both emit paths fire") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Visit]
    // lastPageId is deliberately garbage — the derived machine must ignore
    // it and tag session entries from inter-event gaps alone
    def v(mid: String, ts: Long, id: Long) = Visit(mid, ts, "1", Some("x"), id)
    val q = StateOps.bounceDetectDerived(mem.toDS(), gapMs = 10000L, sessionGapMs = 1800000L)
      .writeStream.format("memory").queryName("st3derived").outputMode(OutputMode.Append).start()
    try {
      // batch 0: m1 enters (first ever = session start), followed 5s later
      // (cancel); m2 enters with no follow-up (pending -> timer)
      mem.addData(v("m1", 1000L, 1), v("m1", 6000L, 2), v("m2", 1000L, 3))
      q.processAllAvailable()
      // batch 1: m1 re-enters 31 min after its last event (derived session
      // start, lastTs carried across the batch boundary) and its next
      // event arrives 20s later IN THE SAME BATCH -> proven-by-event bounce
      mem.addData(v("m1", 1000L + 31 * 60000L, 4), v("m1", 1000L + 31 * 60000L + 20000L, 5))
      q.processAllAvailable()
      // batch 2: watermark tick — the batch-1 watermark now exceeds m2's
      // timer (11000) so it fires here, the timer emit path
      mem.addData(v("wm", 1000000000L, 99))
      q.processAllAvailable()
      val got = spark.table("st3derived").as[Bounce].collect()
        .map(_.eventId).filter(_ < 90).sorted.toSeq
      assert(got == Seq(3L, 4L), s"expected timer-fired 3 and event-proven 4, got $got")
    } finally q.stop()
  }

  test("ST3 derived batch execution equals the epoch-ms lag/lead rule on real events") {
    import spark.implicits._
    val d = sf("sf0.001")
    val events = graft.Tables.events(spark, d)
    val visits = events.select(
      org.apache.spark.sql.functions.col("user_id").cast("string").as("mid"),
      org.apache.spark.sql.functions.unix_millis(
        org.apache.spark.sql.functions.col("ts")).as("ts"),
      org.apache.spark.sql.functions.lit("1").as("isNew"),
      org.apache.spark.sql.functions.lit(null: String).as("lastPageId"),
      org.apache.spark.sql.functions.col("event_id").as("eventId"),
      org.apache.spark.sql.functions.lit("").as("payload")).as[Visit]
    val got = StateOps.bounceDetectDerived(visits).collect().map(_.eventId).toSet
    val expected = {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_millis(col("ts")), col("event_id"))
      events
        .withColumn("ms", unix_millis(col("ts")))
        .withColumn("prev_ms", lag(col("ms"), 1).over(w))
        .withColumn("next_ms", lead(col("ms"), 1).over(w))
        .filter((col("prev_ms").isNull || col("ms") - col("prev_ms") > 1800000L) &&
          (col("next_ms").isNull || col("next_ms") - col("ms") >= 10000L))
        .select("event_id").as[Long].collect().toSet
    }
    assert(got == expected)
  }
}
