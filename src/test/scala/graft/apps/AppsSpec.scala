package graft.apps

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.SparkSpec

/** End-to-end runs of the composed reference apps over gmall-shaped JSON
  * fixtures (FIXTURES.md §1/§4 schemas).
  */
class AppsSpec extends SparkSpec {

  private def pageLine(mid: String, ts: Long, lastPage: String, item: String = null,
                       itemType: String = null): String = {
    val lp = if (lastPage == null) "null" else s""""$lastPage""""
    val it = if (item == null) "null" else s""""$item""""
    val itt = if (itemType == null) "null" else s""""$itemType""""
    s"""{"common":{"mid":"$mid","is_new":"1","vc":"v1","ch":"web","ar":"110000"},""" +
      s""""page":{"page_id":"home","last_page_id":$lp,"item":$it,"item_type":$itt,"during_time":1000},"ts":$ts}"""
  }

  test("UniqueVisitApp: first session entry per mid per day survives; repeats drop") {
    import spark.implicits._
    val day = 86400000L
    val lines = Seq(
      pageLine("m1", 1000L, null),          // day 0 entry -> kept
      pageLine("m1", 5000L, "home"),        // not a session entry -> dropped
      pageLine("m1", 9000L, null),          // same day second entry -> dropped
      pageLine("m1", day + 500L, null),     // next day -> kept
      pageLine("m2", 2000L, null))          // other mid -> kept
    val out = Apps.uniqueVisit(spark, lines.toDF("value"))
    assert(out.count() == 3)
    assert(out.select("mid").as[String].collect().sorted.toSeq == Seq("m1", "m1", "m2"))
  }

  test("OrderWideApp -> PaymentWideApp chain over bean JSON with dim enrichment") {
    import spark.implicits._
    val orderJson = Seq(
      """{"id":101,"province_id":1,"order_status":"1001","user_id":7,"total_amount":99.50,"create_time":"2021-02-25 10:00:00"}""",
      """{"id":102,"province_id":2,"order_status":"1001","user_id":8,"total_amount":10.00,"create_time":"2021-02-25 11:00:00"}""")
    val detailJson = Seq(
      """{"id":9001,"order_id":101,"sku_id":55,"order_price":99.50,"sku_num":1,"sku_name":"phone","create_time":"2021-02-25 10:00:03","split_total_amount":99.50}""",
      """{"id":9002,"order_id":101,"sku_id":56,"order_price":0.00,"sku_num":1,"sku_name":"case","create_time":"2021-02-25 10:00:20","split_total_amount":0.00}""", // outside +5s
      """{"id":9003,"order_id":102,"sku_id":57,"order_price":10.00,"sku_num":1,"sku_name":"cable","create_time":"2021-02-25 11:00:04","split_total_amount":10.00}""")
    val dimUser = Seq((7L, "F", "1992-03-04"), (8L, "M", "1980-01-01"))
      .toDF("id", "gender", "birthday")
    val o = Apps.bindOrderInfo(orderJson.toDF("value"))
    val d = Apps.bindOrderDetail(detailJson.toDF("value"))
    val wide = Apps.orderWide(o, d, Seq(("user_id", "user_", dimUser)))
    val rows = wide.select($"order_id_o", $"detail_id", $"user_gender")
      .as[(Long, Long, String)].collect().toSet
    // 9002 falls outside the ±5s interval -> only 9001/9003 join
    assert(rows == Set((101L, 9001L, "F"), (102L, 9003L, "M")))

    val paymentJson = Seq(
      // 10:10 is NOT within [order_et-15m, order_et] of a 10:00 order;
      // payment-side window is [pay_et-15m, pay_et] relative ordering:
      // order must be within 15 min BEFORE payment
      """{"id":501,"order_id":101,"user_id":7,"total_amount":99.50,"subject":"phone","payment_type":"1102","create_time":"2021-02-25 10:10:00","callback_time":"2021-02-25 10:10:02"}""",
      """{"id":502,"order_id":102,"user_id":8,"total_amount":10.00,"subject":"cable","payment_type":"1102","create_time":"2021-02-25 12:00:00","callback_time":null}""") // 60 min later -> no join
    val wideForPay = wide.withColumnRenamed("order_id_o", "order_id_w")
      .withColumnRenamed("order_id", "ow_order_id")
      .withColumn("order_id", $"order_id_w").withColumn("o_et", $"o_et")
    val pay = Apps.paymentWide(paymentJson.toDF("value"), wideForPay)
    val payRows = pay.select($"payment_id", $"order_id").as[(Long, Long)].collect().toSet
    assert(payRows == Set((501L, 101L))) // 502 outside the 15-minute window
  }

  test("VisitorStatsApp: 3-way union rolls pv/uv/sv/uj into one 10s window row") {
    import spark.implicits._
    val page = Seq(pageLine("m1", 1000L, null), pageLine("m1", 3000L, "home")).toDF("value")
    val uvRow = Seq(pageLine("m1", 1000L, null)).toDF("value")
    val ujRow = Seq(pageLine("m1", 1000L, null)).toDF("value")
    val out = Apps.visitorStats(page, uvRow, ujRow)
      .select("stt", "vc", "pv_ct", "uv_ct", "sv_ct", "uj_ct", "dur_sum")
      .as[(String, String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(("1970-01-01 00:00:00", "v1", 2L, 1L, 1L, 1L, 2000L)))
  }

  test("KeywordStatsApp (streaming): tokenizer UDTF + 10s tumble word count in append mode") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[String]
    val q = Apps.keywordStats(mem.toDF().toDF("value"), watermark = "0 seconds")
      .writeStream.format("memory").queryName("kwout")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(
        pageLine("m1", 1000L, null, "apple phone case", "keyword"),
        pageLine("m2", 3000L, null, "apple cable", "keyword"),
        pageLine("m3", 4000L, "home", "ignored-not-keyword", "sku_id"))
      q.processAllAvailable()
      mem.addData(pageLine("m4", 60000L, null, "flush", "keyword"))
      q.processAllAvailable()
      val rows = spark.table("kwout").select("keyword", "ct")
        .as[(String, Long)].collect().toMap
      assert(rows("apple") == 2L && rows("phone") == 1L && rows("cable") == 1L)
      assert(!rows.contains("ignored"))
    } finally q.stop()
  }

  test("DbSplit -> OrderInfo: CDC fact strings bind as typed ids and amounts") {
    import spark.implicits._
    import graft.streaming.DbSplit
    // DbSplit forwards the CDC data map as strings: every number quoted
    val envelopes = Seq(
      """{"database":"gmall","tableName":"order_info","data":{"id":"101","province_id":"1","user_id":"7","total_amount":"99.50","create_time":"2021-02-25 10:00:00"},"before":{},"type":"insert"}""",
      // a malformed number binds as null rather than failing the batch
      """{"database":"gmall","tableName":"order_info","data":{"id":"102","province_id":"2","user_id":"x8","total_amount":"10.00","create_time":"2021-02-25 11:00:00"},"before":{},"type":"insert"}"""
    ).toDF("value")
    val config = Seq(("order_info", "insert", "kafka", "dwd_order_info",
      "id,province_id,user_id,total_amount,create_time", "id", null: String))
      .toDF("sourceTable", "operateType", "sinkType", "sinkTable", "sinkColumns", "sinkPk",
        "sinkExtend")
    val facts = DbSplit.kafkaFacts(DbSplit.route(DbSplit.parse(envelopes), config))
    assert(facts.select("value").as[String].collect().forall(_.contains("\"id\":\"10")))
    val rows = Apps.bindOrderInfo(facts.select("value"))
      .select($"id", $"user_id", $"total_amount".cast("double"), $"create_hour")
      .as[(Option[Long], Option[Long], Option[Double], Int)].collect().toSet
    assert(rows == Set((Some(101L), Some(7L), Some(99.5), 10),
      (Some(102L), None, Some(10.0), 11)))
  }

  test("ProductStatsApp: 7-source union rolls into one sparse stats row per sku/window") {
    import spark.implicits._
    val page = Seq(
      // click on sku 55 from the good_detail page
      """{"common":{"mid":"m1","is_new":"1","vc":"v1","ch":"web","ar":"11"},"page":{"page_id":"good_detail","last_page_id":null,"item":"55","item_type":"sku_id","during_time":5},"ts":1000}""",
      // display of sku 55 and 56
      """{"common":{"mid":"m2","is_new":"1","vc":"v1","ch":"web","ar":"11"},"page":{"page_id":"home","last_page_id":null,"item":null,"item_type":null,"during_time":5},"displays":[{"item":"55","item_type":"sku_id","order":1},{"item":"56","item_type":"sku_id","order":2}],"ts":2000}"""
    ).toDF("value")
    val ow = Seq((java.sql.Timestamp.valueOf("1970-01-01 00:00:03"), 55L, 99.5))
      .toDF("o_et", "sku_id", "split_total_amount")
    val pw = Seq((java.sql.Timestamp.valueOf("1970-01-01 00:00:04"), 55L, 99.5))
      .toDF("p_et", "sku_id", "split_total_amount")
    val cart = Seq("""{"sku_id":55,"create_time":"1970-01-01 00:00:05"}""").toDF("value")
    val favor = Seq("""{"sku_id":56,"create_time":"1970-01-01 00:00:06"}""").toDF("value")
    val refund = Seq("""{"sku_id":55,"order_id":9,"refund_amount":5.00,"create_time":"1970-01-01 00:00:07"}""").toDF("value")
    val comment = Seq(
      """{"sku_id":55,"order_id":9,"appraise":"1201","create_time":"1970-01-01 00:00:08"}""",
      """{"sku_id":55,"order_id":9,"appraise":"1202","create_time":"1970-01-01 00:00:09"}""").toDF("value")
    val out = Apps.productStats(page, ow, pw, cart, favor, refund, comment)
      .select("sku_id", "display_ct", "click_ct", "favor_ct", "cart_ct",
        "order_amount", "payment_amount", "refund_amount", "comment_ct", "good_comment_ct")
      .as[(Long, Long, Long, Long, Long, Double, Double, Double, Long, Long)]
      .collect().toSet
    assert(out == Set(
      (55L, 1L, 1L, 0L, 1L, 99.5, 99.5, 5.0, 2L, 1L),
      (56L, 1L, 0L, 1L, 0L, 0.0, 0.0, 0.0, 0L, 0L)))
  }

  test("GraftExtensions injects all custom functions into a session") {
    // builder-time extensions cannot apply to the suite's shared session,
    // so apply the same injections to its registry via the bridge
    val exts = new org.apache.spark.sql.SparkSessionExtensions
    new graft.GraftExtensions().apply(exts)
    org.apache.spark.sql.graft.SparkInternals.applyFunctionInjections(exts, spark)
    val ext = spark
    val cos = ext.sql(
      "SELECT cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)))")
      .head().getDouble(0)
    assert(cos == 1.0)
    val words = ext.sql("SELECT collect_list(word) FROM (SELECT explode(ARRAY('a b')) s) LATERAL VIEW split_keyword(s) t AS word")
      .head().getSeq[String](0)
    assert(words == Seq("a", "b"))
    val sh = ext.sql("SELECT simhash_agg(h) FROM VALUES (1L), (3L) AS t(h)").head().getLong(0)
    assert(sh == 1L) // bit0 votes +2, bit1 votes 0 -> only bit 0 set
    val top = ext.sql(
      "SELECT top_k_agg(v, i, 2) FROM VALUES (1.0D, 1L), (3.0D, 2L), (2.0D, 3L) AS t(v, i)")
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(top.map(r => (r.getLong(0), r.getDouble(1))) == Seq((2L, 3.0), (3L, 2.0)))
    val z = ext.sql("SELECT interleave_bits(16, 5L, 3L)").head().getLong(0)
    assert(z == 27L)
    val hh = ext.sql("SELECT freq_agg(k, 8) FROM VALUES (7L), (7L), (9L) AS t(k)")
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(hh.map(r => (r.getLong(0), r.getLong(1))) == Seq((7L, 2L), (9L, 1L)))
    val th = ext.sql(
      "SELECT theta_estimate(theta_sketch_agg(u, 12)) FROM VALUES (1L), (1L), (2L) AS t(u)")
      .head().getDouble(0)
    assert(th == 2.0)
    val inter = ext.sql(
      """SELECT theta_estimate(theta_intersect_agg(sk)) FROM (
        |  SELECT theta_sketch_agg(u, 12) AS sk FROM VALUES (1L), (2L) AS a(u)
        |  UNION ALL
        |  SELECT theta_sketch_agg(u, 12) FROM VALUES (2L), (3L) AS b(u))""".stripMargin)
      .head().getDouble(0)
    assert(inter == 1.0)
    val dif = ext.sql(
      """SELECT theta_estimate(theta_difference(
        |  (SELECT theta_sketch_agg(u, 12) FROM VALUES (1L), (2L) AS a(u)),
        |  (SELECT theta_sketch_agg(u, 12) FROM VALUES (2L), (3L) AS b(u))))""".stripMargin)
      .head().getDouble(0)
    assert(dif == 1.0)
    val kq = ext.sql(
      """SELECT kll_quantile(kll_merge_agg(sk, 200), 0.5D) FROM (
        |  SELECT kll_sketch_agg(v, 200) AS sk FROM VALUES (1.0D), (2.0D) AS a(v)
        |  UNION ALL
        |  SELECT kll_sketch_agg(v, 200) FROM VALUES (3.0D) AS b(v))""".stripMargin)
      .head().getDouble(0)
    assert(kq == 2.0)
  }

  test("ProvinceStatsApp rolls order-wide rows by province with exact distinct orders") {
    import spark.implicits._
    val ow = Seq(
      (java.sql.Timestamp.valueOf("2021-02-25 10:00:01"), "beijing", 101L, 50.0),
      (java.sql.Timestamp.valueOf("2021-02-25 10:00:03"), "beijing", 101L, 49.5),
      (java.sql.Timestamp.valueOf("2021-02-25 10:00:05"), "shanghai", 102L, 10.0))
      .toDF("o_et", "province_name", "order_id", "split_total_amount")
    val out = Apps.provinceStats(ow)
      .select("province_name", "order_amount", "order_count")
      .as[(String, Double, Long)].collect().toSet
    assert(out == Set(("beijing", 99.5, 1L), ("shanghai", 10.0, 1L)))
  }
}
