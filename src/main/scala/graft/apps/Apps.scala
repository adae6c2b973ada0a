package graft.apps

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}
import graft.schemas.Schemas
import graft.streaming.{StateOps, WidePipelines}
import graft.util.Det.{decSum, setCount, stamp}

/** The reference's nine dataflow jobs (SURVEY.md §0) as composed Spark
  * pipelines. Each app is a PURE transform — `build(sources) => output` on
  * DataFrames carrying the topic JSON (`value` string column) — so the
  * same code runs over batch fixtures, file channels, or Kafka topics;
  * the thin runners in graft.streaming wire sources/sinks/checkpoints.
  *
  * Topology (apps chained through channels, exactly the reference's
  * Kafka-topic layering):
  *
  * ```
  * ods_base_log ─ LogFanOutApp ─┬─ dwd_page_log ──┬─ UniqueVisitApp ─ dwm_unique_visit
  *                              │                 ├─ UserJumpApp ──── dwm_user_jump_detail
  *                              │                 └─ KeywordStatsApp ─ keyword_stats
  * ods_base_db ── DbSplitApp ──┬─ dwd_order_info ─┐
  *                             ├─ dwd_order_detail ┴ OrderWideApp ─ dwm_order_wide ─┬─ PaymentWideApp
  *                             └─ DIM_* store                                       └─ ProvinceStatsApp
  * page/uv/jump ─ VisitorStatsApp ─ visitor_stats ;  7 topics ─ ProductStatsApp ─ product_stats
  * ```
  */
object Apps {

  /** dwd_page_log JSON as keyed-state visits, the original log JSON
    * riding along as the payload (the DWM apps forward the original
    * record, like the reference). Tie-break id is a payload hash —
    * deterministic across micro-batch replays (monotonically_increasing_id
    * is not). */
  private def pageVisits(spark: SparkSession, pageLog: DataFrame): Dataset[StateOps.Visit] = {
    import spark.implicits._
    pageLog
      .select(from_json(col("value"), Schemas.behaviorLog).as("log"), col("value"))
      .filter(col("log").isNotNull)
      .select(col("log.common.mid").as("mid"), col("log.ts").as("ts"),
        col("log.common.is_new").as("isNew"),
        col("log.page.last_page_id").as("lastPageId"),
        xxhash64(col("value")).as("eventId"),
        col("value").as("payload"))
      .as[StateOps.Visit]
  }

  /** A fact topic's JSON bound to its bean schema. DbSplit forwards the
    * CDC `data` map as strings, so each field is read as a string and
    * then `try_cast` to its bean type: quoted and bare numbers bind
    * alike, and a malformed value stays null (as `from_json` gives)
    * instead of failing the batch under ANSI mode. */
  private def bindFact(raw: DataFrame, schema: StructType): DataFrame = {
    val strings = StructType(schema.fields.map(_.copy(dataType = StringType)))
    raw.select(from_json(col("value"), strings).as("f"))
      .filter(col("f").isNotNull)
      .select(schema.fields.toSeq.map(f =>
        col(s"f.${f.name}").try_cast(f.dataType).as(f.name)): _*)
  }

  // ---- DWM: UniqueVisitApp (UniqueVisitApp.java:24-98) -----------------

  /** Per-day first-visit filter over dwd_page_log JSON: keeps only each
    * mid's first session-entry page view of the day, forwarding the
    * original log JSON to dwm_unique_visit. */
  def uniqueVisit(spark: SparkSession, pageLog: DataFrame): DataFrame =
    StateOps.uvDedup(pageVisits(spark, pageLog), sessionEntryOnly = true).toDF()
      .withColumnRenamed("payload", "value")

  // ---- DWM: UserJumpDetailApp (UserJumpDetailApp.java:30-132) ----------

  /** Bounce sessions over dwd_page_log JSON (10s CEP window), forwarding
    * the original record like the reference's dwm_user_jump_detail. */
  def userJump(spark: SparkSession, pageLog: DataFrame): DataFrame =
    StateOps.bounceDetect(pageVisits(spark, pageLog), gapMs = 10000L,
      watermarkDelay = "2 seconds").toDF()
      .withColumnRenamed("payload", "value")

  // ---- DWM: OrderWideApp (OrderWideApp.java:32-237) --------------------

  /** Bean binding + derived date/hour/epoch columns (P3). */
  def bindOrderInfo(raw: DataFrame): DataFrame =
    bindFact(raw, Schemas.orderInfo)
      .withColumn("create_date", to_date(col("create_time")))
      .withColumn("create_hour", hour(col("create_time")))
      .withColumn("create_et", to_timestamp(col("create_time")))

  def bindOrderDetail(raw: DataFrame): DataFrame =
    bindFact(raw, Schemas.orderDetail)
      .withColumn("create_et", to_timestamp(col("create_time")))

  /** Interval join ±5s on event time (J1) + six broadcast dim hops (J3).
    * `dims`: (factKeyCol, prefix, dimDf keyed by `id`). */
  def orderWide(orderInfo: DataFrame, orderDetail: DataFrame,
                dims: Seq[(String, String, DataFrame)]): DataFrame = {
    val o = orderInfo.withColumnRenamed("id", "order_id_o")
      .withColumnRenamed("create_et", "o_et")
      .withColumnRenamed("create_time", "order_create_time")
    val d = orderDetail.withColumnRenamed("id", "detail_id")
      .withColumnRenamed("create_et", "d_et")
      .withColumnRenamed("create_time", "detail_create_time")
    val joined = WidePipelines.intervalJoin(
      o, d, "order_id_o", "order_id", "o_et", "d_et", "5 seconds", "5 seconds")
    WidePipelines.enrich(joined, dims)
  }

  // ---- DWM: PaymentWideApp (PaymentWideApp.java:25-88) -----------------

  /** payment ⋈ orderWide within [-15 min, 0] (the reference's intended
    * bound; its -15 ms literal is a documented upstream bug,
    * SURVEY.md §7.4.3). `orderWide` rows must carry order_id + o_et. */
  def paymentWide(payment: DataFrame, orderWide: DataFrame): DataFrame = {
    val p = bindFact(payment, Schemas.paymentInfo)
      .withColumn("p_et", to_timestamp(col("create_time")))
      .withColumnRenamed("id", "payment_id")
      .withColumnRenamed("order_id", "p_order_id")
      .withColumnRenamed("create_time", "payment_create_time")
      .withColumnRenamed("user_id", "payment_user_id")
      .withColumnRenamed("total_amount", "payment_amount")
    WidePipelines.intervalJoin(
      p, orderWide, "p_order_id", "order_id", "p_et", "o_et",
      "15 minutes", "0 seconds")
  }

  // ---- DWS: VisitorStatsApp (VisitorStatsApp.java:47-174) --------------

  /** 3-topic union → common 12-ish-field row → 10s tumble by
    * (vc, ch, ar, is_new). pageLog supplies pv/sv/dur, uvLog uv rows,
    * jumpLog uj rows. */
  def visitorStats(pageLog: DataFrame, uvLog: DataFrame, jumpLog: DataFrame,
                   watermark: String = "2 seconds"): DataFrame = {
    def common(df: DataFrame) = df
      .select(from_json(col("value"), Schemas.behaviorLog).as("log"))
      .filter(col("log").isNotNull)
      .select(col("log.common.vc").as("vc"), col("log.common.ch").as("ch"),
        col("log.common.ar").as("ar"), col("log.common.is_new").as("is_new"),
        timestamp_millis(col("log.ts")).as("et"),
        col("log.page.last_page_id").as("last_page_id"),
        coalesce(col("log.page.during_time"), lit(0L)).as("during_time"))
    val pv = common(pageLog).select(col("vc"), col("ch"), col("ar"), col("is_new"), col("et"),
      lit(0L).as("uv_ct"), lit(1L).as("pv_ct"),
      when(col("last_page_id").isNull, 1L).otherwise(0L).as("sv_ct"),
      lit(0L).as("uj_ct"), col("during_time").as("dur_sum"))
    val uv = common(uvLog).select(col("vc"), col("ch"), col("ar"), col("is_new"), col("et"),
      lit(1L).as("uv_ct"), lit(0L).as("pv_ct"), lit(0L).as("sv_ct"),
      lit(0L).as("uj_ct"), lit(0L).as("dur_sum"))
    val uj = common(jumpLog).select(col("vc"), col("ch"), col("ar"), col("is_new"), col("et"),
      lit(0L).as("uv_ct"), lit(0L).as("pv_ct"), lit(0L).as("sv_ct"),
      lit(1L).as("uj_ct"), lit(0L).as("dur_sum"))
    pv.unionByName(uv).unionByName(uj)
      .withWatermark("et", watermark)
      .groupBy(window(col("et"), "10 seconds"),
        col("vc"), col("ch"), col("ar"), col("is_new"))
      .agg(sum("uv_ct").as("uv_ct"), sum("pv_ct").as("pv_ct"),
        sum("sv_ct").as("sv_ct"), sum("uj_ct").as("uj_ct"),
        sum("dur_sum").as("dur_sum"))
      .select(stamp(col("window.start")).as("stt"), stamp(col("window.end")).as("edt"),
        col("vc"), col("ch"), col("ar"), col("is_new"),
        col("uv_ct"), col("pv_ct"), col("sv_ct"), col("uj_ct"), col("dur_sum"))
  }

  // ---- DWS: ProductStatsApp (ProductStatsApp.java:41-359) --------------

  /** The seven measure columns of a ProductStats row. */
  private val productMeasures = Seq(
    "display_ct", "click_ct", "favor_ct", "cart_ct",
    "order_amount", "payment_amount", "refund_amount",
    "comment_ct", "good_comment_ct")

  private def sparseProduct(skuId: org.apache.spark.sql.Column,
                            et: org.apache.spark.sql.Column,
                            set: Map[String, org.apache.spark.sql.Column]): DataFrame => DataFrame =
    df => df.select(Seq(skuId.as("sku_id"), et.as("et")) ++ productMeasures.map(m =>
      set.getOrElse(m, lit(0.0)).cast("double").as(m)): _*)

  /** 7-source union → sparse common schema → 10s tumble per sku → dim
    * enrichment. The union members come straight from the DWD/DWM
    * channels: page log (clicks + exploded displays), order-wide,
    * payment-wide, cart, favor, refund, comment
    * (ProductStatsApp.java:78-230). Distinct counting of order ids is the
    * reference's set semantics (collect_set); the
    * paidOrderIdSet-absorbs-orderIdSet bug at :262 is deliberately NOT
    * replicated (SURVEY.md §7.4.3). */
  def productStats(pageLog: DataFrame, orderWide: DataFrame, paymentWide: DataFrame,
                   cart: DataFrame, favor: DataFrame, refund: DataFrame,
                   comment: DataFrame, watermark: String = "2 seconds"): DataFrame = {
    val logs = pageLog
      .select(from_json(col("value"), Schemas.behaviorLog).as("log"))
      .filter(col("log").isNotNull)
    val clicks = sparseProduct(col("log.page.item").cast("long"),
      timestamp_millis(col("log.ts")), Map("click_ct" -> lit(1.0)))(
      logs.filter(col("log.page.item_type") === "sku_id" &&
        col("log.page.page_id") === "good_detail"))
    val displays = sparseProduct(col("d.item").cast("long"),
      timestamp_millis(col("log.ts")), Map("display_ct" -> lit(1.0)))(
      logs.select(col("log"), explode(col("log.displays")).as("d"))
        .filter(col("d.item_type") === "sku_id"))
    def skuAction(raw: DataFrame, measure: String) =
      sparseProduct(col("sku_id"), to_timestamp(col("create_time")),
        Map(measure -> lit(1.0)))(bindFact(raw, Schemas.skuAction))
    val carts = skuAction(cart, "cart_ct")
    val favors = skuAction(favor, "favor_ct")
    val orders = sparseProduct(col("sku_id"), col("o_et"),
      Map("order_amount" -> col("split_total_amount").cast("double")))(orderWide)
    val payments = sparseProduct(col("sku_id"), col("p_et"),
      Map("payment_amount" -> col("split_total_amount").cast("double")))(paymentWide)
    val refunds = sparseProduct(col("sku_id"), to_timestamp(col("create_time")),
      Map("refund_amount" -> col("refund_amount").cast("double")))(
      bindFact(refund, Schemas.refundInfo))
    val comments = sparseProduct(col("sku_id"), to_timestamp(col("create_time")),
      Map("comment_ct" -> lit(1.0),
        "good_comment_ct" ->
          when(col("appraise") === graft.Constants.AppraiseGood, 1.0).otherwise(0.0)))(
      bindFact(comment, Schemas.commentInfo))
    Seq(clicks, displays, carts, favors, orders, payments, refunds, comments)
      .reduce(_ unionByName _)
      .withWatermark("et", watermark)
      .groupBy(window(col("et"), "10 seconds"), col("sku_id"))
      .agg(
        sum("display_ct").cast("long").as("display_ct"),
        sum("click_ct").cast("long").as("click_ct"),
        sum("favor_ct").cast("long").as("favor_ct"),
        sum("cart_ct").cast("long").as("cart_ct"),
        decSum(col("order_amount")).as("order_amount"),
        decSum(col("payment_amount")).as("payment_amount"),
        decSum(col("refund_amount")).as("refund_amount"),
        sum("comment_ct").cast("long").as("comment_ct"),
        sum("good_comment_ct").cast("long").as("good_comment_ct"))
      .select(Seq(stamp(col("window.start")).as("stt"), stamp(col("window.end")).as("edt"),
        col("sku_id")) ++ productMeasures.map(col): _*)
  }

  // ---- DWS: KeywordStatsApp (KeywordStatsApp.java:14-74) ---------------

  /** Keyword search terms from page log → tokenizer UDTF → 10s tumble
    * word count. Uses the native Generator (F1). */
  def keywordStats(pageLog: DataFrame, watermark: String = "1 second"): DataFrame = {
    import graft.functions.Tokenize.splitKeyword
    pageLog
      .select(from_json(col("value"), Schemas.behaviorLog).as("log"))
      .filter(col("log.page.item_type") === "keyword" && col("log.page.item").isNotNull)
      .select(timestamp_millis(col("log.ts")).as("et"), col("log.page.item").as("full_word"))
      .select(col("et"), splitKeyword(col("full_word")).as("keyword"))
      .withWatermark("et", watermark)
      .groupBy(window(col("et"), "10 seconds"), col("keyword"))
      .agg(count(lit(1)).as("ct"))
      .select(stamp(col("window.start")).as("stt"), stamp(col("window.end")).as("edt"),
        col("keyword"), col("ct"))
  }

  // ---- DWS: ProvinceStatsApp (ProvinceStatsSqlApp.java:20-83) ----------

  /** Province rollup over dwm_order_wide: 10s tumble, exact distinct
    * order count (collect_set — streaming-legal). `orderWide` must carry
    * province_name/order_id/split_total_amount/o_et. */
  def provinceStats(orderWide: DataFrame, watermark: String = "1 second"): DataFrame =
    orderWide.withWatermark("o_et", watermark)
      .groupBy(window(col("o_et"), "10 seconds"), col("province_name"))
      .agg(decSum(col("split_total_amount")).as("order_amount"),
        setCount(col("order_id")).as("order_count"))
      .select(stamp(col("window.start")).as("stt"), stamp(col("window.end")).as("edt"),
        col("province_name"), col("order_amount"), col("order_count"))
}
