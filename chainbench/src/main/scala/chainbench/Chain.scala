package chainbench

import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import scala.collection.mutable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import graft.apps.Apps
import graft.schemas.Schemas
import graft.sources.Sinks
import graft.streaming.{DbSplit, FileChannel, LogFanOut}

/** The reference's ODS → DWD → DWM → DWS chain as ten streaming queries
  * linked by file channels, each with its own checkpoint:
  *
  * ```
  * ods/log ─ dwd.log_fanout ─ page ─┬─ dwm.unique_visit ─ uv ─┐
  *                                  ├─ dwm.user_jump ─── uj ──┴─ dws.visitor_stats
  *                                  ├─ dws.keyword_stats
  *                                  └─ dws.product_stats (+ 6 DB-side inputs)
  * ods/db ── dwd.db_split ─┬─ db/<fact topics> ─ dwm.order_wide ─ order_wide ─┬─ dwm.payment_wide
  *                         └─ sink.dim (dimension store)                     └─ dws.province_stats
  * ```
  *
  * Each channel is a flat directory of newline-JSON files, one per
  * upstream micro-batch (see `publish`). */
final class Chain(spark: SparkSession, val root: String, rec: Recorder) {
  import Chain._

  private val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val seq = new AtomicLong()
  private val queries = mutable.LinkedHashMap.empty[String, StreamingQuery]
  private val dimBatches = new AtomicLong()
  (Seq("ods/log", "ods/db", "staging") ++ (Seq("start", "display", "page", "uv", "uj",
    "order_wide", "payment_wide") ++ factSchemas.map(_._1)).map("ch/" + _))
    .foreach(d => fs.mkdirs(new Path(s"$root/$d")))

  def queryIds: Map[String, String] = queries.map { case (s, q) => q.id.toString -> s }.toMap
  def query(stage: String): StreamingQuery = queries(stage)
  def outPath(stage: String): String = s"$root/out/${stage.stripPrefix("dws.")}"

  /** Writes one micro-batch's output to a channel as a single file: the
    * Spark write lands in a staging directory, its part files are joined
    * into one file there, and that file is renamed into the flat channel
    * directory. A reader sees the batch whole or not at all, and an empty
    * batch leaves no file. With `byTopic`, each topic is its own channel. */
  private def publish(df: DataFrame, channel: String, byTopic: Boolean = false): Unit =
    rec.span("sink.channel") {
      val n = seq.incrementAndGet()
      val staged = java.nio.file.Paths.get(s"$root/staging/$n")
      if (byTopic) df.write.partitionBy("topic").text(staged.toString)
      else df.write.text(staged.toString)
      val dirs =
        if (!byTopic) Seq(channel -> staged)
        else Files.list(staged).iterator.asScala.toSeq.map(_.getFileName.toString)
          .filter(_.startsWith("topic=")).sorted.map(d => d.stripPrefix("topic=") -> staged.resolve(d))
      dirs.foreach { case (ch, dir) =>
        val parts = Files.list(dir).iterator.asScala.toSeq
          .filter(_.getFileName.toString.startsWith("part-")).sortBy(_.getFileName.toString)
        if (parts.exists(Files.size(_) > 0)) {
          val joined = staged.resolve(s"$ch-$n.txt")
          val out = Files.newOutputStream(joined)
          try parts.foreach(p => Files.copy(p, out)) finally out.close()
          Files.move(joined, java.nio.file.Paths.get(f"$root/ch/$ch/b$n%09d.txt"),
            StandardCopyOption.ATOMIC_MOVE)
        }
      }
    }

  private def read(channel: String): DataFrame = FileChannel(s"$root/ch/$channel").readStream(spark)

  private def start(stage: String, df: DataFrame)(sink: (DataFrame, Long) => Unit): Unit =
    queries(stage) = df.writeStream
      .option("checkpointLocation", s"$root/ckpt/$stage")
      .foreachBatch { (batch: DataFrame, id: Long) => rec.enter(stage); sink(batch, id); () }
      .start()

  /** Appends one tick of ODS records: each file is written beside the
    * source directory and renamed in. Returns the commit time. */
  def append(name: String, log: Seq[String], db: Seq[String]): Long = {
    def put(dir: String, lines: Seq[String]): Unit = if (lines.nonEmpty) {
      val tmp = java.nio.file.Paths.get(s"$root/staging/$name-${dir.replace('/', '_')}")
      java.nio.file.Files.write(tmp, lines.mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.move(tmp, java.nio.file.Paths.get(s"$root/$dir/$name.json"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    put("ods/log", log)
    put("ods/db", db)
    System.currentTimeMillis()
  }

  /** DWD: the log fan-out and the DB split, which must run before the
    * dimension snapshot exists. */
  def startDwd(): Unit = {
    queries("dwd.log_fanout") = LogFanOut.runWithState(spark, FileChannel(s"$root/ods/log"),
      Map("start" -> ((df: DataFrame) => publish(df, "start")),
        "display" -> ((df: DataFrame) => publish(df, "display")),
        "page" -> { (df: DataFrame) => rec.enter("dwd.log_fanout"); publish(df, "page") }),
      s"$root/ckpt/dwd.log_fanout")
    val store = s"$root/dim_store"
    queries("dwd.db_split") = DbSplit.run(spark, FileChannel(s"$root/ods/db"), configDf(spark),
      factSink = { (df: DataFrame) => rec.enter("dwd.db_split"); publish(typedFacts(df), "db", byTopic = true) },
      dimSink = { (df: DataFrame) =>
        rec.span("sink.dim")(Sinks.upsertDims(store)(df, dimBatches.incrementAndGet())) },
      checkpoint = s"$root/ckpt/dwd.db_split")
  }

  /** DWM and DWS, enriched from the dimension store's current snapshot. */
  var dims: Seq[(String, String, DataFrame)] = Nil

  def startRest(): Unit = {
    dims = dimSnapshot(spark, s"$root/dim_store")
    val page = () => read("page")
    start("dwm.unique_visit", Apps.uniqueVisit(spark, page()))((b, _) => publish(b.select("value"), "uv"))
    start("dwm.user_jump", Apps.userJump(spark, page()))((b, _) => publish(b.select("value"), "uj"))
    start("dwm.order_wide", orderWideOut(Apps.orderWide(
      Apps.bindOrderInfo(read("dwd_order_info")),
      Apps.bindOrderDetail(read("dwd_order_detail")), dims)))((b, _) => publish(b, "order_wide"))
    start("dwm.payment_wide", paymentWideOut(Apps.paymentWide(read("dwd_payment_info"),
      orderWideIn(read("order_wide")))))((b, _) => publish(b, "payment_wide"))
    val dws = dwsApps(page(), read("uv"), read("uj"), orderWideIn(read("order_wide")),
      paymentWideIn(read("payment_wide")), read)
    dws.foreach { case (stage, df) =>
      start(stage, df) { (b, id) =>
        rec.span("sink.dws")(Sinks.idempotentBatchSink(outPath(stage))(b, id))
        rec.emitted.put((stage, id), System.currentTimeMillis())
      }
    }
  }

  /** Closed loop: every stage has processed everything appended so far. */
  def drain(): Unit = Stages.foreach(s => queries(s).processAllAvailable())

  def stop(): Unit = queries.values.foreach(q => try q.stop() catch { case _: Exception => () })
}

object Chain {
  val Stages: Seq[String] = Seq("dwd.log_fanout", "dwd.db_split", "dwm.unique_visit",
    "dwm.user_jump", "dwm.order_wide", "dwm.payment_wide", "dws.visitor_stats",
    "dws.product_stats", "dws.keyword_stats", "dws.province_stats")
  val Dws: Seq[String] = Stages.filter(_.startsWith("dws."))

  /** VisitorStats unions the bounce stream, whose rows leave UserJump up
    * to three ticks after their event time (CEP timers fire on UserJump's
    * watermark, in its next batch with data). Its watermark must cover
    * that lag, or a window closes before its bounces arrive. */
  val VisitorWatermark = "20 seconds"

  def configDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Gen.config.toDF("sourceTable", "operateType", "sinkType", "sinkTable", "sinkColumns",
      "sinkPk", "sinkExtend")
  }

  val factSchemas: Seq[(String, StructType)] = Seq(
    "dwd_order_info" -> Schemas.orderInfo, "dwd_order_detail" -> Schemas.orderDetail,
    "dwd_payment_info" -> Schemas.paymentInfo, "dwd_cart_info" -> Schemas.skuAction,
    "dwd_favor_info" -> Schemas.skuAction, "dwd_order_refund_info" -> Schemas.refundInfo,
    "dwd_comment_info" -> Schemas.commentInfo)

  /** DbSplit forwards the CDC `data` map as map<string,string>, so every
    * fact value reaches its topic as a JSON string, and the bean schemas'
    * long ids parse a quoted number as null. The fact channel re-types
    * each topic against its bean schema, as a CDC source's JSON would
    * carry numbers. */
  def typedFacts(facts: DataFrame): DataFrame =
    factSchemas.map { case (topic, schema) =>
      val strings = StructType(schema.fields.map(_.copy(dataType = StringType)))
      facts.filter(col("topic") === topic).select(col("topic"),
        to_json(from_json(col("value"), strings).cast(schema)).as("value"))
    }.reduce(_ unionByName _)

  /** The dimension snapshot OrderWide enriches from: the store as of the
    * initial load, copied into memory so later commits and vacuums of
    * the store cannot move it. */
  def dimSnapshot(spark: SparkSession, store: String): Seq[(String, String, DataFrame)] = {
    def snap(table: String, fields: String*) = {
      val df = Sinks.readDims(spark, store, table).select(
        col("pk").cast("long").as("id") +: fields.map(f => col("data")(f).as(f)): _*)
      spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
    }
    Seq(("province_id", "province_", snap("dim_base_province", "name", "area_code")),
      ("sku_id", "dim_sku_", snap("dim_sku_info", "sku_name", "price", "tm_id")),
      ("user_id", "dim_user_", snap("dim_user_info", "gender", "birthday")))
  }

  private val orderWideSchema = StructType(Seq(
    StructField("order_id", LongType), StructField("detail_id", LongType),
    StructField("sku_id", LongType), StructField("user_id", LongType),
    StructField("province_name", StringType), StructField("dim_sku_sku_name", StringType),
    StructField("dim_user_gender", StringType),
    StructField("split_total_amount", DecimalType(16, 2)), StructField("o_et", TimestampType)))

  private val paymentWideSchema = StructType(Seq(
    StructField("payment_id", LongType), StructField("order_id", LongType),
    StructField("sku_id", LongType), StructField("payment_amount", DecimalType(16, 2)),
    StructField("split_total_amount", DecimalType(16, 2)), StructField("p_et", TimestampType),
    StructField("o_et", TimestampType)))

  private def toChannel(df: DataFrame, schema: StructType): DataFrame =
    df.select(to_json(struct(schema.fieldNames.toSeq.map(col): _*)).as("value"))
  private def fromChannel(raw: DataFrame, schema: StructType): DataFrame =
    raw.select(from_json(col("value"), schema).as("r")).select("r.*")

  def orderWideOut(wide: DataFrame): DataFrame = toChannel(wide, orderWideSchema)
  def orderWideIn(raw: DataFrame): DataFrame = fromChannel(raw, orderWideSchema)
  def paymentWideOut(wide: DataFrame): DataFrame = toChannel(wide, paymentWideSchema)
  def paymentWideIn(raw: DataFrame): DataFrame = fromChannel(raw, paymentWideSchema)

  /** The four DWS apps over their inputs, in stream or batch form alike. */
  def dwsApps(page: DataFrame, uv: DataFrame, uj: DataFrame, orderWide: DataFrame,
              paymentWide: DataFrame, facts: String => DataFrame): Seq[(String, DataFrame)] = Seq(
    "dws.visitor_stats" -> Apps.visitorStats(page, uv, uj, VisitorWatermark),
    "dws.product_stats" -> Apps.productStats(page, orderWide, paymentWide,
      facts("dwd_cart_info"), facts("dwd_favor_info"), facts("dwd_order_refund_info"),
      facts("dwd_comment_info")),
    "dws.keyword_stats" -> Apps.keywordStats(page),
    "dws.province_stats" -> Apps.provinceStats(orderWide))

  /** The same apps composed in batch over every record the chain was fed,
    * less the planted late rows: what the streamed DWS outputs must equal
    * for every window the watermark has closed. `runWithState`'s
    * in-query correction is spelled out here in its batch form. */
  def batchReference(spark: SparkSession, log: DataFrame, db: DataFrame,
                     dims: Seq[(String, String, DataFrame)]): Seq[(String, DataFrame)] = {
    import spark.implicits._
    import graft.streaming.StateOps
    val (clean, _) = LogFanOut.parse(log)
    val corrected = StateOps.fixIsNewTagged(clean.select(col("common.mid").as("mid"),
      col("ts"), col("common.is_new").as("isNew"), col("value").as("payload"))
      .as[StateOps.TaggedVisit])
    val restored = corrected.toDF()
      .withColumn("log", from_json(col("payload"), Schemas.behaviorLog))
      .withColumn("log", col("log").withField("common.is_new", col("isNew")))
      .select("log.*", "payload").withColumnRenamed("payload", "value")
    val page = LogFanOut.pageLog(restored).localCheckpoint()
    val facts = typedFacts(DbSplit.kafkaFacts(
      DbSplit.route(DbSplit.parse(db), configDf(spark)))).localCheckpoint()
    def topic(t: String) = facts.filter(col("topic") === t).select("value")
    val orderWide = orderWideIn(orderWideOut(Apps.orderWide(
      Apps.bindOrderInfo(topic("dwd_order_info")), Apps.bindOrderDetail(topic("dwd_order_detail")),
      dims))).localCheckpoint()
    val paymentWide = paymentWideIn(paymentWideOut(
      Apps.paymentWide(topic("dwd_payment_info"), orderWide)))
    dwsApps(page, Apps.uniqueVisit(spark, page).select("value"),
      Apps.userJump(spark, page).select("value"), orderWide, paymentWide, topic)
  }
}
