package chainbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryIdleEvent,
  QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** A timed interval on the wall clock, in epoch ms. */
final case class Span(layer: String, start: Long, end: Long) {
  def ms: Long = end - start
}

/** What the benchmark records from its own side of each layer call:
  * sink spans (traced runs only), the wall time each DWS micro-batch was
  * emitted (always; freshness needs it), and a test seam that delays one
  * stage's batch function. */
final class Recorder(val tracing: Boolean, val delays: Map[String, Long] = Map.empty) {
  val spans = new ConcurrentLinkedQueue[Span]()
  /** (stage, batch id) -> wall ms when the DWS sink finished the batch. */
  val emitted = new ConcurrentHashMap[(String, Long), java.lang.Long]()

  def span[A](layer: String)(body: => A): A =
    if (!tracing) body
    else {
      val s = System.currentTimeMillis()
      try body finally spans.add(Span(layer, s, System.currentTimeMillis()))
    }

  /** Called at the top of every stage's batch function. */
  def enter(stage: String): Unit = delays.get(stage).foreach(d => Thread.sleep(d))

  def spansOf(layer: String): Seq[Span] = spans.asScala.filter(_.layer == layer).toSeq
}

/** Every micro-batch's progress, keyed by query id. Always on: busy time,
  * state size, the watermark and late-row drops come from here. */
final class Progress extends StreamingQueryListener {
  private val byQuery = new ConcurrentHashMap[String, ConcurrentLinkedQueue[StreamingQueryProgress]]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    byQuery.computeIfAbsent(e.progress.id.toString, _ => new ConcurrentLinkedQueue())
      .add(e.progress)

  def of(queryId: String): Seq[StreamingQueryProgress] =
    Option(byQuery.get(queryId)).map(_.asScala.toSeq).getOrElse(Nil)
}

object Progress {
  def startMs(p: StreamingQueryProgress): Long = java.time.Instant.parse(p.timestamp).toEpochMilli
  def durMs(p: StreamingQueryProgress, key: String): Long =
    Option(p.durationMs.get(key)).map(_.longValue).getOrElse(0L)
  def endMs(p: StreamingQueryProgress): Long = startMs(p) + durMs(p, "triggerExecution")
  def watermarkMs(p: StreamingQueryProgress): Option[Long] =
    Option(p.eventTime.get("watermark")).map(java.time.Instant.parse(_).toEpochMilli)
}

/** One finished task, reduced to what the per-layer table needs. */
final case class TaskRec(queryId: String, launch: Long, finish: Long, cpuMs: Double,
                         shuffleWriteBytes: Long, recordsRead: Long, recordsWritten: Long)

/** Spark jobs and tasks, each assigned to the streaming query whose
  * thread ran it (`sql.streaming.queryId`, which foreachBatch sinks
  * inherit). Registered in traced runs only. */
final class Jobs extends SparkListener {
  private val stageQuery = new ConcurrentHashMap[Int, String]()
  private val jobQuery = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  val jobs = new ConcurrentLinkedQueue[(String, Long, Long)]() // (query id, start, end)
  val tasks = new ConcurrentLinkedQueue[TaskRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val q = Option(e.properties).flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
      .getOrElse("")
    jobQuery.put(e.jobId, q)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(s => stageQuery.put(s, q))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach(s =>
      jobs.add((jobQuery.getOrDefault(e.jobId, ""), s.longValue, e.time)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(
      stageQuery.getOrDefault(e.stageId, ""), e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.executorCpuTime / 1e6, m.shuffleWriteMetrics.bytesWritten,
      m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead,
      m.outputMetrics.recordsWritten))
  }
}

object Intervals {
  /** Total length of the union of `xs`, each clipped to [lo, hi]. */
  def covered(xs: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = xs.iterator.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curE) { total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    total + (curE - curS)
  }
}
