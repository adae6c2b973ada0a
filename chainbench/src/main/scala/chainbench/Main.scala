package chainbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One measured metric. */
final case class Metric(name: String, value: Double, unit: String)

/** A run's settings. Tests plant a sleep in named stages' batch
  * functions (`delays`). */
final case class Config(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        root: String, delays: Map[String, Long] = Map.empty)

/** A run's outcome: the metrics the benchmark contract asks for, the
  * steadiness diagnostics, and every failed output check. */
final case class Result(metrics: Seq[Metric], diagnostics: Seq[(String, Any)],
                        problems: Seq[String], attempted: Int, perLayer: Seq[Metric])

/** A tick of the timed region: when its ODS files were committed and when
  * DWS had processed it. */
final case class TickTime(index: Int, stamp: Long, done: Long, records: Int) {
  def ms: Long = done - stamp
}

/** Closed loop: one thread appends a tick of ODS records, runs
  * every stage to completion in topological order, and only then appends
  * the next tick.
  *
  *   java ... chainbench.Main --workload chain_tick --seed 1 --seconds 20 --trace 0
  */
object Main {
  /** Every run times at least this many ticks; state is compared at the
    * last of them, so that its size does not depend on the host's speed. */
  val MinTicks = 2
  val WarmTicks = 2
  /** Set-up is timed this many times in a run. The first, right after the
    * session starts, is cold; `setup_s` is the median of the others. */
  val Setups = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    if (!Shape.byName.contains(workload)) {
      System.err.println(s"unknown workload '$workload'; known: ${Shape.byName.keys.mkString(", ")}")
      sys.exit(2)
    }
    val cfg = Config(workload, opts.getOrElse("seed", "1").toLong,
      opts.getOrElse("seconds", "20").toInt, opts.getOrElse("trace", "0") == "1",
      opts.getOrElse("root", "chainbench/.work"))
    val res = run(cfg)
    println(jsonObject(res.diagnostics :+ ("problems" -> res.problems)))
    println(jsonObject(Seq("correct" -> res.problems.isEmpty, "attempted" -> res.attempted,
      "failed" -> 0, "metrics" -> RawJson(res.metrics.map(m =>
        s""""${m.name}":{"value":${num(m.value)},"unit":"${m.unit}"}""").mkString("{", ",", "}")))))
    sys.exit(if (res.problems.isEmpty) 0 else 1)
  }

  def session(root: String): SparkSession = {
    // Bench's session settings, with working space inside `root`...
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      // the benchmark's own settings: a shell-free local filesystem (see
      // LocalFs); idle queries poll their sources every 100 ms instead of
      // 10 ms, which with ten queries on four cores burns two of them; and
      // a window is emitted by the next batch with data rather than by an
      // extra empty batch per query and tick
      .config("spark.hadoop.fs.file.impl", classOf[LocalFs].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[LocalAbstractFs].getName)
      .config("spark.sql.streaming.pollingDelay", "100ms")
      .config("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def run(cfg: Config): Result = {
    val shape = Shape.byName(cfg.workload)
    deleteRecursively(new java.io.File(cfg.root))
    val loadStart = loadAverage()
    val spark = session(cfg.root)
    try {
      val progress = new Progress
      spark.streams.addListener(progress)
      val jobs = if (cfg.trace) Some(new Jobs) else None
      jobs.foreach(spark.sparkContext.addSparkListener)

      // ---- set-up, several times: a fresh chain and its dimension load ----
      val setupS = ArrayBuffer.empty[Double]
      var chain: Chain = null
      var rec: Recorder = null
      var gen: Gen = null
      val fed = ArrayBuffer.empty[Tick]
      val genMs = ArrayBuffer.empty[Long]
      def tick(): TickTime = {
        val g0 = System.currentTimeMillis()
        val t = gen.tick()
        val stamp = chain.append(f"t${t.index}%06d", t.log, t.db ++ t.late)
        genMs += stamp - g0
        fed += t
        chain.drain()
        TickTime(t.index, stamp, System.currentTimeMillis(), t.records)
      }
      for (i <- 0 until Setups) {
        if (chain != null) chain.stop()
        val t0 = System.nanoTime()
        rec = new Recorder(cfg.trace, cfg.delays)
        chain = new Chain(spark, s"${cfg.root}/chain$i", rec)
        gen = new Gen(cfg.seed, shape)
        fed.clear()
        chain.startDwd()
        chain.append("dims", Nil, gen.dims())
        chain.query("dwd.db_split").processAllAvailable()
        chain.startRest()
        setupS += (System.nanoTime() - t0) / 1e9
        log(f"set-up $i: ${setupS.last}%.2f s")
      }
      // JIT and plan caches: the first ticks of a JVM run slower
      (0 until WarmTicks).foreach(_ => tick())

      // ---- timed region ----
      val os = ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      genMs.clear()
      val cpu0 = os.getProcessCpuTime
      val t0 = System.currentTimeMillis()
      val timed = ArrayBuffer.empty[TickTime]
      while (System.currentTimeMillis() - t0 < cfg.seconds * 1000L || timed.size < MinTicks) {
        timed += tick()
        log(s"tick ${timed.last.index}: ${timed.last.ms} ms, ${timed.last.records} records")
      }
      val t1 = System.currentTimeMillis()
      val cpuMs = (os.getProcessCpuTime - cpu0) / 1e6
      val timedGenMs = genMs.toSeq
      System.gc()
      val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      chain.stop()

      val problems = ArrayBuffer.empty[String]
      val ids = chain.queryIds
      awaitProgress(chain, progress)
      val loadEnd = loadAverage()

      // ---- output checks ----
      val planted = fed.map(_.late.size).sum
      val dropped = ids.keys.toSeq.flatMap(progress.of).flatMap(_.stateOperators)
        .map(_.numRowsDroppedByWatermark).sum
      if (dropped != planted)
        problems += s"rows dropped by watermarks: $dropped, planted beyond the watermark: $planted"
      log("checking")
      checkAgainstBatch(spark, chain, progress, fed.toSeq, problems)

      // ---- end-to-end metrics ----
      val n = timed.size
      val events = timed.map(_.records.toLong).sum
      val tickMs = timed.map(_.ms).toSeq
      val stateMb = timed.take(MinTicks).map { t =>
        ids.keys.toSeq.map { q =>
          progress.of(q).filter(Progress.endMs(_) <= t.done).lastOption
            .map(_.stateOperators.map(_.memoryUsedBytes).sum).getOrElse(0L)
        }.sum / 1048576.0
      }.max
      val fresh = freshness(spark, chain, rec, timed.toSeq, t1)
      val endToEnd = Seq(
        Metric("setup_s", median(setupS.drop(1).toSeq), "s"),
        Metric("events_per_s", events / ((t1 - t0) / 1000.0), "events/s"),
        Metric("tick_ms_p50", median(tickMs.map(_.toDouble)), "ms"),
        Metric("freshness_ms_p50", median(fresh), "ms"),
        Metric("cpu_ms_per_kevent", cpuMs / (events / 1000.0), "ms"),
        Metric("state_mb_peak", stateMb, "MB"))
      val perLayer =
        if (cfg.trace) Layers.metrics(chain, rec, progress, jobs.get, timed.toSeq, timedGenMs,
          t0, t1, dropped)
        else Nil
      val half = n / 2
      val diagnostics = Seq(
        "workload" -> cfg.workload, "seed" -> cfg.seed, "trace" -> cfg.trace,
        "ticks" -> n, "events" -> events, "timed_s" -> (t1 - t0) / 1000.0,
        "tick_ms_max" -> tickMs.max,
        "tick_trend" -> (if (half > 0) median(tickMs.drop(half).map(_.toDouble)) /
          median(tickMs.take(half).map(_.toDouble)) else 1.0),
        "load_avg_start" -> loadStart, "load_avg_end" -> loadEnd,
        "setup_s_each" -> RawJson(setupS.map(num).mkString("[", ",", "]")),
        "freshness_windows" -> fresh.size,
        "late_rows_planted" -> planted, "late_rows_dropped" -> dropped,
        "heap_mb_after_gc" -> heapMb) ++
        endToEnd.map(m => m.name -> m.value)
      if (cfg.trace) writeTrace(cfg, chain, rec, progress, jobs.get, timed.toSeq, perLayer)
      Result(if (cfg.trace) perLayer else endToEnd, diagnostics, problems.toSeq, n, perLayer)
    } finally spark.stop()
  }

  /** Progress events reach listeners asynchronously: wait for each
    * query's last batch. */
  private def awaitProgress(chain: Chain, progress: Progress): Unit = {
    val deadline = System.currentTimeMillis() + 10000L
    def seen = chain.queryIds.keys.forall { id =>
      val q = chain.query(chain.queryIds(id))
      Option(q.lastProgress).forall(last => progress.of(id).exists(_.batchId == last.batchId))
    }
    while (!seen && System.currentTimeMillis() < deadline) Thread.sleep(20)
  }

  /** Stream == batch: every DWS window the stream has closed equals the
    * batch composition of the same apps over the same ODS records, planted
    * late rows excluded. A window is closed once its end is at or below
    * the watermark of the query's last batch with data. The idle trigger
    * that may follow that batch reports the next batch's watermark, which
    * has closed nothing yet, so `lastProgress` will not do. */
  private def checkAgainstBatch(spark: SparkSession, chain: Chain, progress: Progress,
                                fed: Seq[Tick], problems: ArrayBuffer[String]): Unit = {
    val late = fed.flatMap(_.late)
    def ods(dir: String) = spark.read.text(s"${chain.root}/ods/$dir")
      .filter(!col("value").isin(late: _*))
    val reference = Chain.batchReference(spark, ods("log"), ods("db"), chain.dims)
    reference.foreach { case (stage, batchDf) =>
      val closedBy = progress.of(chain.query(stage).id.toString).filter(_.numInputRows > 0)
        .lastOption.flatMap(Progress.watermarkMs)
        .map(wm => Gen.fmt(wm - Gen.WindowMs)).getOrElse("")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.filter(col("stt") <= closedBy).collect().map(_.toString).sorted.toSeq
      val streamed = rows(spark.read.parquet(chain.outPath(stage)).drop("batch_id"))
      val expected = rows(batchDf)
      val windows = streamed.map(_.slice(1, 20)).distinct.size
      if (windows < 1) problems += s"$stage: no closed window to compare"
      if (streamed != expected) {
        val missing = expected.diff(streamed)
        val extra = streamed.diff(expected)
        problems += s"$stage: stream != batch (${missing.size} rows missing, ${extra.size} extra; " +
          s"e.g. ${(missing.take(2) ++ extra.take(2)).mkString(" | ")})"
      }
    }
  }

  /** For each DWS window emitted in the timed region: emission time minus
    * the commit time of the tick that carried the window's last event.
    * ProductStats' last events arrive one tick late (the out-of-order
    * favor rows). */
  private def freshness(spark: SparkSession, chain: Chain, rec: Recorder,
                        timed: Seq[TickTime], t1: Long): Seq[Double] = {
    val stamps = timed.map(t => t.index -> t.stamp).toMap
    Chain.Dws.flatMap { stage =>
      val lag = if (stage == "dws.product_stats") 1 else 0
      spark.read.parquet(chain.outPath(stage)).groupBy("stt")
        .agg(min(col("batch_id").cast("long")).as("b")).collect().toSeq.flatMap { r =>
          val w = ((java.time.LocalDateTime.parse(r.getString(0).replace(' ', 'T'))
            .toInstant(java.time.ZoneOffset.UTC).toEpochMilli - Gen.Base) / Gen.WindowMs).toInt
          for {
            stamp <- stamps.get(w + lag)
            at <- Option(rec.emitted.get((stage, r.getLong(1)))).map(_.longValue)
            if at <= t1
          } yield (at - stamp).toDouble
        }
    }
  }

  private def writeTrace(cfg: Config, chain: Chain, rec: Recorder, progress: Progress,
                         jobs: Jobs, timed: Seq[TickTime], perLayer: Seq[Metric]): Unit = {
    val ids = chain.queryIds
    def span(name: String, parent: String, s: Long, e: Long) =
      s"""{"name":"$name","parent":"$parent","start":$s,"end":$e}"""
    val spans = timed.map(t => span(s"tick.${t.index}", "", t.stamp, t.done)) ++
      ids.toSeq.flatMap { case (id, stage) => progress.of(id).map(p =>
        span(stage, "tick", Progress.startMs(p), Progress.endMs(p))) } ++
      jobs.jobs.asScala.toSeq.map { case (q, s, e) => span("job", ids.getOrElse(q, "other"), s, e) } ++
      rec.spans.asScala.toSeq.map(sp => span(sp.layer, "stage", sp.start, sp.end))
    val body = jsonObject(Seq("workload" -> cfg.workload, "seed" -> cfg.seed,
      "per_layer" -> RawJson(perLayer.map(m => s""""${m.name}":${num(m.value)}""")
        .mkString("{", ",", "}")),
      "spans" -> RawJson(spans.mkString("[", ",\n", "]"))))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(cfg.root, s"trace-${cfg.workload}-${cfg.seed}.json"), body)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def log(msg: String): Unit =
    System.err.println(s"[chainbench ${java.time.LocalTime.now()}] $msg")

  private def loadAverage(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  final case class RawJson(text: String)
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
  def jsonObject(kvs: Seq[(String, Any)]): String = kvs.map { case (k, v) =>
    val value = v match {
      case RawJson(t) => t
      case b: Boolean => b.toString
      case i: Int => i.toString
      case l: Long => l.toString
      case d: Double => num(d)
      case s: Seq[_] => s.map(x => "\"" + x.toString.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
        .mkString("[", ",", "]")
      case other => "\"" + other.toString.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    }
    s""""$k":$value"""
  }.mkString("{", ",", "}")
}
