package graft.streaming

import java.nio.file.{Files, Paths}
import graft.SparkSpec

/** §2.9 fault tolerance: a streaming query stopped and restarted from its
  * checkpoint resumes exactly where it left off — no reprocessing, no
  * loss (the guarantee the reference *designed* with its commented-out
  * checkpointing, which Structured Streaming always provides).
  */
class RecoverySpec extends SparkSpec {

  private val line =
    """{"common":{"mid":"m1","is_new":"1","vc":"v1","ch":"web","ar":"11"},""" +
      """"page":{"page_id":"home","last_page_id":null,"item":null,"item_type":null,"during_time":5},"ts":%d}"""

  test("fan-out restarted from checkpoint neither reprocesses nor loses batches") {
    import spark.implicits._
    val dir = Files.createTempDirectory("recovery").toString
    Files.createDirectories(Paths.get(s"$dir/in"))
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    def sinks = Map("page" -> ((df: org.apache.spark.sql.DataFrame) =>
      seen ++= df.as[String].collect(): Unit))

    val q1 = LogFanOut.runWithState(spark, FileChannel(s"$dir/in"), sinks, s"$dir/ckpt")
    try {
      Files.writeString(Paths.get(s"$dir/in/w1.json"), line.format(1000L))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(seen.size == 1)

    // while the query is DOWN, more data lands
    Files.writeString(Paths.get(s"$dir/in/w2.json"), line.format(2000L))

    val q2 = LogFanOut.runWithState(spark, FileChannel(s"$dir/in"), sinks, s"$dir/ckpt")
    try {
      q2.processAllAvailable()
      // the restarted query must pick up ONLY the missed file
      assert(seen.size == 2, s"expected exactly one new record, saw: $seen")
      assert(seen.count(_.contains("\"ts\":1000")) == 1)
      assert(seen.count(_.contains("\"ts\":2000")) == 1)
      // the keyed is_new state survived too: m1 claimed is_new=1 on both
      // sides of the restart, and only the first claim stands
      assert(seen.find(_.contains("\"ts\":1000")).exists(_.contains("\"is_new\":\"1\"")))
      assert(seen.find(_.contains("\"ts\":2000")).exists(_.contains("\"is_new\":\"0\"")),
        s"restored state must correct the repeat claim: $seen")
    } finally q2.stop()
  }

  import org.apache.spark.sql.streaming.Trigger
  import graft.streaming.StateOps.{Visit, VisitOut, Bounce}

  /** Runs `build` over a file-source Visit stream to a parquet sink with
    * AvailableNow, sharing `cp` across calls — each call is a separate
    * query RESTART recovering source offsets AND operator state from the
    * checkpoint. */
  private def runOnce(dir: String, cp: String, sink: String,
                      build: org.apache.spark.sql.Dataset[Visit] =>
                        org.apache.spark.sql.DataFrame,
                      onePerTrigger: Boolean = false): Unit = {
    import spark.implicits._
    val schema = implicitly[org.apache.spark.sql.Encoder[Visit]].schema
    val reader = spark.readStream.schema(schema)
    val src = (if (onePerTrigger) reader.option("maxFilesPerTrigger", 1) else reader)
      .parquet(dir).as[Visit]
    build(src).writeStream
      .format("parquet").option("path", sink).option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
  }

  private def writeVisits(dir: String, name: String, mtime: Long, vs: Visit*): Unit = {
    import spark.implicits._
    val scratch = Files.createTempDirectory("viswrite")
    vs.toDS().coalesce(1).write.mode("overwrite").parquet(scratch.toString)
    val part = scratch.toFile.listFiles.find(_.getName.endsWith(".parquet")).get
    val dst = Paths.get(dir, s"$name.parquet")
    Files.move(part.toPath, dst)
    Files.setLastModifiedTime(dst,
      java.nio.file.attribute.FileTime.fromMillis(mtime))
  }

  test("uvDedup per-key state survives a checkpoint RESTART (not just a batch boundary)") {
    import spark.implicits._
    val root = Files.createTempDirectory("uvrec").toString
    Files.createDirectories(Paths.get(s"$root/in"))
    val day = 86400000L
    writeVisits(s"$root/in", "a", 1000000L,
      Visit("m1", 1000L, "1", None, 1), Visit("m1", 5000L, "1", None, 2))
    runOnce(s"$root/in", s"$root/cp", s"$root/out",
      ds => StateOps.uvDedup(ds).toDF)
    val first = spark.read.parquet(s"$root/out").as[VisitOut].collect()
    assert(first.map(_.eventId).toSeq == Seq(1L), s"run 1: $first")

    // while DOWN: a same-day revisit (must be suppressed by RECOVERED
    // state) and a next-day visit (must emit)
    writeVisits(s"$root/in", "b", 2000000L,
      Visit("m1", 8000L, "1", None, 3), Visit("m1", day + 1000L, "1", None, 4))
    runOnce(s"$root/in", s"$root/cp", s"$root/out",
      ds => StateOps.uvDedup(ds).toDF)
    val all = spark.read.parquet(s"$root/out").as[VisitOut].collect()
    assert(all.map(_.eventId).sorted.toSeq == Seq(1L, 4L),
      s"recovered state must suppress event 3, emit 4: ${all.toSeq}")
  }

  test("bounce event-time TIMER survives a checkpoint restart and fires post-recovery") {
    import spark.implicits._
    val root = Files.createTempDirectory("bncrec").toString
    Files.createDirectories(Paths.get(s"$root/in"))
    // lone session start: pending armed at ts+10s, nothing emitted yet
    writeVisits(s"$root/in", "a", 1000000L, Visit("m1", 1000L, "1", None, 1))
    runOnce(s"$root/in", s"$root/cp", s"$root/out",
      ds => StateOps.bounceDetectDerived(ds).toDF)
    assert(spark.read.parquet(s"$root/out").isEmpty,
      "timer must not have fired before the watermark passed it")

    // while DOWN: two watermark ticks land (one file per trigger → the
    // first lifts the watermark past the timer, the second triggers the
    // batch in which the RESTORED timer fires)
    writeVisits(s"$root/in", "b", 2000000L, Visit("wm", 10000000L, "1", None, 98))
    writeVisits(s"$root/in", "c", 3000000L, Visit("wm", 20000000L, "1", None, 99))
    runOnce(s"$root/in", s"$root/cp", s"$root/out",
      ds => StateOps.bounceDetectDerived(ds).toDF, onePerTrigger = true)
    val bounced = spark.read.parquet(s"$root/out").as[Bounce].collect()
      .map(_.eventId).filter(_ < 90).sorted.toSeq
    assert(bounced == Seq(1L),
      s"restored timer must fire the pending session start, got $bounced")
  }
}
