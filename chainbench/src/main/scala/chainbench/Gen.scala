package chainbench

import java.util.SplittableRandom

/** Size of one tick of ODS input. Every tick carries data for every
  * source of every stateful stage, so each stage's watermark advances on
  * every tick. */
final case class Shape(
    sessions: Int,     // behaviour-log sessions per tick
    newMids: Int,      // devices first seen in this tick (feed UniqueVisit)
    midPool: Int,      // devices known before tick 0
    skus: Int,
    users: Int,
    orders: Int,       // order_info inserts per tick (1-3 details each)
    skuActions: Int,   // cart_info and favor_info inserts per tick, each
    refunds: Int,
    comments: Int,
    dimUpdates: Int,   // sku_info / user_info updates per tick
    late: Int,         // cart rows stamped 4 windows back: beyond every watermark
    ooo: Int)          // favor rows stamped in the previous window: within it

object Shape {
  val byName: Map[String, Shape] = Map(
    "chain_tick" -> Shape(sessions = 450, newMids = 20, midPool = 300, skus = 200,
      users = 400, orders = 150, skuActions = 400, refunds = 60, comments = 100,
      dimUpdates = 20, late = 2, ooo = 8),
    "chain_bulk" -> Shape(sessions = 4500, newMids = 100, midPool = 3000, skus = 2000,
      users = 4000, orders = 1500, skuActions = 4000, refunds = 600, comments = 1000,
      dimUpdates = 100, late = 2, ooo = 40))
}

/** One tick of ODS records. `late` rows are written with the tick but are
  * left out of the batch reference: the chain must drop exactly them. */
final case class Tick(index: Int, log: Vector[String], db: Vector[String],
                      late: Vector[String]) {
  def records: Int = log.size + db.size + late.size
}

/** Deterministic ODS generator: behaviour-log JSON (FIXTURES.md §1) and
  * CDC envelopes (§2), routed by a `table_process` config (§3). Tick `k`
  * covers event time [base + 10k s, base + 10(k+1) s), one DWS window.
  * Each tick draws from its own stream seeded by (seed, k); the only
  * state carried between ticks is the previous tick's orders, which this
  * tick pays, so ticks must be drawn in order. */
final class Gen(seed: Long, shape: Shape) {
  import Gen._

  private var next = 0
  private var unpaid = Vector.empty[(Long, Long, Long)] // (order id, user id, create ms)

  private def rng(k: Int): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + k * 0xBF58476D1CE4E5B9L + 1L)

  /** Initial dimension load: provinces, skus and users as CDC inserts. */
  def dims(): Vector[String] = {
    val r = rng(-1)
    val provinces = (0 until Provinces).map(p => cdc("base_province", "insert", Seq(
      "id" -> p.toString, "name" -> s"province_$p", "area_code" -> s"${110000 + p * 10000}",
      "iso_code" -> s"CN-$p")))
    val skus = (0 until shape.skus).map(s => cdc("sku_info", "insert", Seq(
      "id" -> s.toString, "sku_name" -> s"sku_$s", "price" -> money(r, 5000),
      "spu_id" -> (s / 4).toString, "tm_id" -> (s % 37).toString,
      "category3_id" -> (s % 61).toString)))
    val users = (0 until shape.users).map(u => cdc("user_info", "insert", Seq(
      "id" -> u.toString, "gender" -> (if (r.nextBoolean()) "F" else "M"),
      "birthday" -> f"${1960 + r.nextInt(45)}-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d")))
    (provinces ++ skus ++ users).toVector
  }

  def tick(): Tick = {
    val k = next
    next += 1
    val r = rng(k)
    val t0 = Base + k * WindowMs
    Tick(k, logLines(r, k, t0), dbLines(r, k, t0), lateLines(r, k, t0))
  }

  private def logLines(r: SplittableRandom, k: Int, t0: Long): Vector[String] = {
    val out = Vector.newBuilder[String]
    val known = shape.midPool + k * shape.newMids
    for (s <- 0 until shape.sessions) {
      val isNewMid = s < shape.newMids
      val m = if (isNewMid) known + s else r.nextInt(known)
      val common = commonJson(m, if (isNewMid || r.nextInt(20) == 0) "1" else "0")
      var ts = t0 + r.nextInt(6000)
      if (r.nextInt(10) == 0)
        out += s"""{"common":$common,"start":{"entry":"icon","loading_time":${1000 + r.nextInt(9000)}},"ts":$ts}"""
      // session entry, then 0-3 follow-up pages; a lone entry may bounce
      out += page(r, common, "home", null, ts, displays = true)
      var last = "home"
      for (_ <- 0 until r.nextInt(4)) {
        ts = math.min(ts + 200 + r.nextInt(1200), t0 + WindowMs - 1)
        val (pid, item, itemType) =
          if (r.nextInt(3) == 0) ("good_list", Keywords(r.nextInt(Keywords.length)), "keyword")
          else ("good_detail", r.nextInt(shape.skus).toString, "sku_id")
        out += page(r, common, pid, last, ts, item, itemType, displays = pid == "good_list")
        last = pid
      }
    }
    if (r.nextInt(2) == 0) out += "{not json"
    out.result()
  }

  private def page(r: SplittableRandom, common: String, pageId: String, last: String,
                   ts: Long, item: String = null, itemType: String = null,
                   displays: Boolean): String = {
    val lp = if (last == null) "null" else s""""$last""""
    val it = if (item == null) "" else s""","item":"$item","item_type":"$itemType""""
    val ds = if (!displays) "" else (1 to 1 + r.nextInt(3)).map(o =>
      s"""{"item":"${r.nextInt(shape.skus)}","item_type":"sku_id","order":$o}""")
      .mkString(""","displays":[""", ",", "]")
    s"""{"common":$common,"page":{"page_id":"$pageId","last_page_id":$lp$it,""" +
      s""""during_time":${100 + r.nextInt(20000)}}$ds,"ts":$ts}"""
  }

  private def commonJson(m: Int, isNew: String): String =
    s"""{"mid":"mid_$m","is_new":"$isNew","vc":"v2.1.${m % 3}","ch":"${Channels(m % 4)}",""" +
      s""""ar":"${110000 + (m % Provinces) * 10000}"}"""

  private def dbLines(r: SplittableRandom, k: Int, t0: Long): Vector[String] = {
    val out = Vector.newBuilder[String]
    def at(maxMs: Int) = t0 + r.nextInt(maxMs)
    val orders = (0 until shape.orders).map { i =>
      val id = k.toLong * 1000000L + i
      val user = r.nextInt(shape.users).toLong
      val created = at(WindowMs.toInt - 3000)
      var total = BigDecimal(0)
      val details = (0 until 1 + r.nextInt(3)).map { d =>
        val amount = BigDecimal(money(r, 2000))
        total += amount
        cdc("order_detail", "insert", Seq("id" -> (id * 4 + d).toString, "order_id" -> id.toString,
          "sku_id" -> r.nextInt(shape.skus).toString, "sku_name" -> "sku",
          "order_price" -> amount.toString, "sku_num" -> "1",
          "create_time" -> fmt(created + r.nextInt(3) * 1000L),
          "split_total_amount" -> amount.toString))
      }
      out += cdc("order_info", "insert", Seq("id" -> id.toString,
        "province_id" -> r.nextInt(Provinces).toString, "order_status" -> "1001",
        "user_id" -> user.toString, "total_amount" -> total.toString,
        "create_time" -> fmt(created)))
      out ++= details
      (id, user, created)
    }
    // most of the previous tick's orders are paid in this tick
    unpaid.foreach { case (id, user, _) =>
      if (r.nextInt(10) < 7) out += cdc("payment_info", "insert", Seq("id" -> id.toString,
        "order_id" -> id.toString, "user_id" -> user.toString, "total_amount" -> money(r, 5000),
        "subject" -> "goods", "payment_type" -> "1102", "create_time" -> fmt(at(WindowMs.toInt))))
    }
    unpaid = orders.toVector
    for (_ <- 0 until shape.skuActions) {
      out += cdc("cart_info", "insert", Seq("sku_id" -> r.nextInt(shape.skus).toString,
        "create_time" -> fmt(at(WindowMs.toInt))))
      out += cdc("favor_info", "insert", Seq("sku_id" -> r.nextInt(shape.skus).toString,
        "create_time" -> fmt(at(WindowMs.toInt))))
    }
    // out of order within every watermark: the last second of the
    // previous window, arriving one tick late
    if (k > 0) for (_ <- 0 until shape.ooo)
      out += cdc("favor_info", "insert", Seq("sku_id" -> r.nextInt(shape.skus).toString,
        "create_time" -> fmt(t0 - 1000L)))
    for (_ <- 0 until shape.refunds)
      out += cdc("order_refund_info", "insert", Seq("sku_id" -> r.nextInt(shape.skus).toString,
        "order_id" -> r.nextInt(1000000).toString, "refund_amount" -> money(r, 1000),
        "create_time" -> fmt(at(WindowMs.toInt))))
    for (_ <- 0 until shape.comments)
      out += cdc("comment_info", "insert", Seq("sku_id" -> r.nextInt(shape.skus).toString,
        "order_id" -> r.nextInt(1000000).toString,
        "appraise" -> (if (r.nextInt(3) == 0) "1202" else "1201"),
        "create_time" -> fmt(at(WindowMs.toInt))))
    for (_ <- 0 until shape.dimUpdates)
      out += (if (r.nextBoolean())
        cdc("sku_info", "update", Seq("id" -> r.nextInt(shape.skus).toString,
          "sku_name" -> s"sku_${r.nextInt(shape.skus)}", "price" -> money(r, 5000)))
      else
        cdc("user_info", "update", Seq("id" -> r.nextInt(shape.users).toString,
          "gender" -> (if (r.nextBoolean()) "F" else "M"))))
    // routed nowhere: a delete and an unconfigured table
    out += cdc("order_info", "delete", Seq("id" -> k.toString))
    out += cdc("base_dic", "insert", Seq("dic_code" -> k.toString))
    out.result()
  }

  /** Beyond the watermark: cart rows four windows back, each on its own sku,
    * so no two fall into one (window, sku) group of the partial aggregate.
    * From tick 1 on, when every watermark has started. A `late` field,
    * which DbSplit's column allow-list drops, keeps the text of a late row
    * apart from every on-time row, so that the batch reference can leave
    * out exactly the late rows by their text. */
  private def lateLines(r: SplittableRandom, k: Int, t0: Long): Vector[String] =
    if (k < 1) Vector.empty
    else {
      val skus = scala.collection.mutable.LinkedHashSet.empty[Int]
      while (skus.size < shape.late) skus += r.nextInt(shape.skus)
      skus.toVector.map(s => cdc("cart_info", "insert", Seq("sku_id" -> s.toString,
        "create_time" -> fmt(t0 - 4 * WindowMs + r.nextInt(WindowMs.toInt)), "late" -> "1")))
    }
}

object Gen {
  /** 2021-02-25 00:00:00 UTC, the reference's date. */
  val Base = 1614211200000L
  val WindowMs = 10000L
  val Provinces = 34
  private val Channels = Array("web", "app", "wx", "oppo")
  private val Keywords = Array("apple phone", "huawei phone case", "xiaomi tv",
    "phone charger cable", "kids shoes", "running shoes red", "green tea", "tv stand")

  private val utc = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
  def fmt(ms: Long): String = utc.format(java.time.Instant.ofEpochMilli(ms))

  private def money(r: SplittableRandom, maxUnits: Int): String =
    BigDecimal(1 + r.nextInt(maxUnits * 100), 2).toString

  private def cdc(table: String, op: String, data: Seq[(String, String)]): String =
    data.map { case (key, v) => s""""$key":"$v"""" }
      .mkString(s"""{"database":"gmall","tableName":"$table","data":{""", ",",
        s"""},"before":{},"type":"$op"}""")

  /** `table_process` routing (FIXTURES.md §3): seven fact topics and three
    * dimension tables. */
  val config: Seq[(String, String, String, String, String, String, String)] = Seq(
    ("order_info", "insert", "kafka", "dwd_order_info",
      "id,province_id,order_status,user_id,total_amount,create_time"),
    ("order_detail", "insert", "kafka", "dwd_order_detail",
      "id,order_id,sku_id,sku_name,order_price,sku_num,create_time,split_total_amount"),
    ("payment_info", "insert", "kafka", "dwd_payment_info",
      "id,order_id,user_id,total_amount,subject,payment_type,create_time"),
    ("cart_info", "insert", "kafka", "dwd_cart_info", "sku_id,create_time"),
    ("favor_info", "insert", "kafka", "dwd_favor_info", "sku_id,create_time"),
    ("order_refund_info", "insert", "kafka", "dwd_order_refund_info",
      "sku_id,order_id,refund_amount,create_time"),
    ("comment_info", "insert", "kafka", "dwd_comment_info",
      "sku_id,order_id,appraise,create_time"),
    ("base_province", "insert", "hbase", "dim_base_province", "id,name,area_code,iso_code"),
    ("sku_info", "insert", "hbase", "dim_sku_info", "id,sku_name,price,spu_id,tm_id,category3_id"),
    ("sku_info", "update", "hbase", "dim_sku_info", "id,sku_name,price,spu_id,tm_id,category3_id"),
    ("user_info", "insert", "hbase", "dim_user_info", "id,gender,birthday"),
    ("user_info", "update", "hbase", "dim_user_info", "id,gender,birthday"))
    .map { case (src, op, sinkType, sinkTable, cols) => (src, op, sinkType, sinkTable, cols, "id", null) }
}
