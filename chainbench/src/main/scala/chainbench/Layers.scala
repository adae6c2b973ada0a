package chainbench

import scala.jdk.CollectionConverters._

/** The per-layer table of a traced run. Every count and time is per tick
  * of the timed region, taken at the boundary of the layer's public call:
  * a stage is its streaming query's micro-batches (progress events) and
  * the Spark jobs and tasks that ran on the query's thread; a sink is the
  * benchmark's span around the call. A stage's self time is its batches'
  * time outside every Spark job: planning, offset and state commits,
  * source listing, scheduling. */
object Layers {
  val Stateful: Set[String] = Chain.Stages.toSet - "dwd.db_split"
  val Shuffling: Set[String] = Set("dwm.order_wide", "dwm.payment_wide") ++ Chain.Dws

  def metrics(chain: Chain, rec: Recorder, progress: Progress, jobs: Jobs,
              timed: Seq[TickTime], genMs: Seq[Long], t0: Long, t1: Long,
              lateRows: Long): Seq[Metric] = {
    val n = timed.size.toDouble
    val ids = chain.queryIds
    def in(end: Long) = end >= t0 && end <= t1
    val allJobs = jobs.jobs.asScala.toSeq.filter(j => in(j._3))
    val allTasks = jobs.tasks.asScala.toSeq.filter(t => in(t.finish))
    def sinkMs(layer: String) = rec.spansOf(layer).filter(s => in(s.end)).map(_.ms).sum / n

    val stages = ids.toSeq.sortBy { case (_, s) => Chain.Stages.indexOf(s) }.flatMap {
      case (id, stage) =>
        val batches = progress.of(id).filter(p => in(Progress.endMs(p)))
        val qJobs = allJobs.filter(_._1 == id)
        val qTasks = allTasks.filter(_.queryId == id)
        val self = batches.map { p =>
          val (s, e) = (Progress.startMs(p), Progress.endMs(p))
          (e - s) - Intervals.covered(qJobs.map(j => (j._2, j._3)), s, e)
        }.sum
        val ops = batches.flatMap(_.stateOperators)
        def m(name: String, v: Double, unit: String) = Metric(s"$stage.$name", v, unit)
        Seq(
          m("busy_ms", batches.map(Progress.durMs(_, "triggerExecution")).sum / n, "ms"),
          m("self_ms", self / n, "ms"),
          m("rows_in", batches.map(_.numInputRows).sum / n, "rows"),
          m("rows_out", qTasks.map(_.recordsWritten).sum / n, "rows"),
          m("jobs", qJobs.size / n, "count"),
          m("task_cpu_ms", qTasks.map(_.cpuMs).sum / n, "ms"),
          m("planning_ms", batches.map(Progress.durMs(_, "queryPlanning")).sum / n, "ms")) ++
          (if (Stateful(stage)) Seq(
            m("state_commit_ms", ops.map(_.commitTimeMs).sum / n, "ms"),
            m("state_rows", batches.lastOption.map(_.stateOperators.map(_.numRowsTotal).sum)
              .getOrElse(0L).toDouble, "rows"))
          else Nil) ++
          (if (Shuffling(stage)) Seq(
            m("shuffle_kb", qTasks.map(_.shuffleWriteBytes).sum / 1024.0 / n, "KB"))
          else Nil) ++
          (if (stage.startsWith("dws.")) Seq(m("watermark_lag_ms", Main.median(timed.map { t =>
            // event-time end of the newest tick appended, minus the watermark
            val newest = Gen.Base + (t.index + 1) * Gen.WindowMs
            progress.of(id).filter(Progress.endMs(_) <= t.done).lastOption
              .flatMap(Progress.watermarkMs).map(w => (newest - w).toDouble).getOrElse(0.0)
          }), "ms"))
          else Nil)
    }
    val tickSpans = timed.map(t => (t.stamp, t.done))
    val taskWall = tickSpans.map { case (s, e) =>
      Intervals.covered(allTasks.map(t => (t.launch, t.finish)), s, e) }.sum
    val emptyTasks = allTasks.count(_.recordsRead == 0)
    Seq(Metric("ods.gen.busy_ms", genMs.sum / n, "ms")) ++ stages ++ Seq(
      Metric("sink.dim.busy_ms", sinkMs("sink.dim"), "ms"),
      Metric("sink.dim.commits", rec.spansOf("sink.dim").count(s => in(s.end)) / n, "count"),
      Metric("sink.dws.busy_ms", sinkMs("sink.dws"), "ms"),
      Metric("sink.channel.busy_ms", sinkMs("sink.channel"), "ms"),
      Metric("chain.jobs_per_tick", allJobs.size / n, "count"),
      Metric("chain.tasks_per_tick", allTasks.size / n, "count"),
      Metric("chain.empty_task_ratio",
        if (allTasks.isEmpty) 0.0 else emptyTasks.toDouble / allTasks.size, "ratio"),
      Metric("chain.task_wall_share", taskWall.toDouble / tickSpans.map(s => s._2 - s._1).sum,
        "ratio"),
      Metric("chain.late_rows", lateRows.toDouble, "rows"),
      Metric("chain.tick_ms_p50", Main.median(timed.map(_.ms.toDouble)), "ms"),
      Metric("chain.events_per_s", timed.map(_.records).sum / ((t1 - t0) / 1000.0), "events/s"))
  }
}
