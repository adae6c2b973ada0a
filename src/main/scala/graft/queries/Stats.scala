package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.util.Det._

/** DWS-layer windowed aggregations (SURVEY.md §2.4 A1-A5, §2.6 W1).
  *
  * All are event-time tumbling windows over `events` / `orders` like the
  * reference's 10s TUMBLE jobs (ProductStatsApp/VisitorStatsApp/
  * KeywordStatsApp/ProvinceStatsSqlApp). Batch rendering here (the
  * correctness gate is batch); the streaming renderings with watermarks
  * are the DWS apps in graft.apps.Apps.
  *
  * Scale notes: every query is a single hash-aggregate after a scan —
  * partial aggregation map-side, one shuffle on the (bounded) group key.
  * Exact distinct counts use collect_set (reference's HashSet-in-reduce,
  * ProductStatsApp.java:274-283) — bounded by window × key cardinality; at
  * 100 TB swap for approx_count_distinct (documented per query).
  */
object Stats {

  /** A1: ProductStats analog — 10s tumbling event-time window per
    * event_type: row count, exact decimal amount sum, exact distinct-user
    * count (set semantics), stt/edt window stamps
    * (ProductStatsApp.java:243-284). */
  def a1ProductStats(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d)
    ordered(
      e.groupBy(window(col("ts"), "10 seconds"), col("event_type"))
        .agg(
          count(lit(1)).as("ct"),
          decSum(col("value")).as("amount"),
          setCount(col("user_id")).as("user_ct"))
        .select(
          stamp(col("window.start")).as("stt"),
          stamp(col("window.end")).as("edt"),
          col("event_type"), col("ct"), col("amount"), col("user_ct")),
      "stt", "event_type")
  }

  /** A2: VisitorStats analog — daily window × event_type with derived
    * session-entry flag (sv=1 iff no prior event within 30 min, the
    * last_page_id-is-null analog, VisitorStatsApp.java:92-104). Uses a
    * lag() window partitioned by user (one extra shuffle on user_id before
    * the agg shuffle — at scale both keyed by bounded cardinality). */
  def a2VisitorStats(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d)
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val flagged = e.withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("sv",
        when(col("prev_ts").isNull ||
          col("ts").cast("long") - col("prev_ts").cast("long") > 1800L, 1L)
          .otherwise(0L))
    ordered(
      flagged
        .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
        .agg(
          count(lit(1)).as("pv_ct"),
          setCount(col("user_id")).as("uv_ct"),
          sum(col("sv")).as("sv_ct"),
          decSum(col("value")).as("dur_sum"))
        .select(stamp(col("day")).as("stt"), col("event_type"),
          col("pv_ct"), col("uv_ct"), col("sv_ct"), col("dur_sum")),
      "stt", "event_type")
  }

  /** A3: ProvinceStats analog — nation plays province: monthly window,
    * exact amount sum + exact distinct order count across lineitems
    * (ProvinceStatsSqlApp.java:50-68's sum + count(distinct)). Dim side
    * (customer⋈nation) is broadcast. */
  def a3ProvinceStats(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d).select("l_orderkey", "l_extendedprice")
    val o = orders(s, d).select("o_orderkey", "o_custkey", "o_orderdate")
    val c = customer(s, d).select("c_custkey", "c_nationkey")
    val n = nation(s, d).select("n_nationkey", "n_name")
    ordered(
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"), col("n_name"))
        .agg(
          decSum(col("l_extendedprice")).as("order_amount"),
          setCount(col("l_orderkey")).as("order_count"))
        .select(stamp(col("month")).as("stt"), col("n_name").as("province_name"),
          col("order_amount"), col("order_count")),
      "stt", "province_name")
  }

  /** A4+F1: KeywordStats analog — tokenizer UDTF as split+explode
    * (KeywordStatsApp.java:46-59, SplitFunction.java). Word count per
    * (keyword, source). Generator-based variant: graft.functions.Tokenize. */
  def a4KeywordStats(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    ordered(
      docs.select(col("source"),
          explode(split(lower(col("text")), "[^a-z0-9]+")).as("keyword"))
        .filter(col("keyword") =!= "")
        .groupBy(col("keyword"), col("source"))
        .agg(count(lit(1)).as("ct")),
      "keyword", "source")
  }

  /** A5: exact distinct-via-set accumulation per key
    * (ProductStats orderIdSet, bean/ProductStats.java:74-83). */
  def a5DistinctSets(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d)
    ordered(
      e.groupBy(col("event_type"))
        .agg(
          setCount(col("user_id")).as("uv_ct"),
          count(lit(1)).as("pv_ct")),
      "event_type")
  }

  /** A6: ROLLUP super-aggregation — the OLAP cube face of the DWS layer
    * (status × priority, each level, grand total) with `grouping_id`
    * marking the level. One expand + one hash-agg; the expand multiplies
    * rows by (levels), but partial aggregation still combines map-side,
    * so the shuffle carries group-cardinality × levels — bounded. Money
    * is summed in integer cents (exact; no double accumulation). */
  def a6Rollup(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
      .withColumn("cents", (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
    o.rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().cast("int").as("gid"), count(lit(1)).as("ct"),
        sum(col("cents")).as("cents_sum"))
      .select(col("gid"), col("o_orderstatus"), col("o_orderpriority"),
        col("ct"), col("cents_sum"))
      // explicit coalesced sort keys: Spark sorts nulls first, DuckDB
      // last — gid + coalesce makes the order engine-independent
      .orderBy(col("gid"), coalesce(col("o_orderstatus"), lit("")),
        coalesce(col("o_orderpriority"), lit("")))
  }

  /** A6b: CUBE — A6 plus the column-marginal grouping sets (status-only
    * totals AND priority-only totals AND the grand total in one Expand
    * pass; same engine-independent null-order discipline). */
  def a6bCube(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
      .withColumn("cents", (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
    o.cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().cast("int").as("gid"), count(lit(1)).as("ct"),
        sum(col("cents")).as("cents_sum"))
      .select(col("gid"), col("o_orderstatus"), col("o_orderpriority"),
        col("ct"), col("cents_sum"))
      .orderBy(col("gid"), coalesce(col("o_orderstatus"), lit("")),
        coalesce(col("o_orderpriority"), lit("")))
  }

  /** A6c: explicit GROUPING SETS — an ARBITRARY set combination
    * ((status, priority), (priority), ()) that is neither a rollup
    * prefix chain nor the full cube lattice, proving the general
    * grouping-sets machinery (one Expand pass replicating each input
    * row once per set, a single hash aggregate — never one scan per
    * set). Same engine-independent null-order discipline as A6/A6b:
    * gid first, coalesced group keys after. */
  def a6cGroupingSets(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
      .withColumn("cents", (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
    o.groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
          Seq(col("o_orderpriority")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().cast("int").as("gid"), count(lit(1)).as("ct"),
        sum(col("cents")).as("cents_sum"))
      .select(col("gid"), col("o_orderstatus"), col("o_orderpriority"),
        col("ct"), col("cents_sum"))
      .orderBy(col("gid"), coalesce(col("o_orderstatus"), lit("")),
        coalesce(col("o_orderpriority"), lit("")))
  }

  /** A7: PIVOT — event counts per user × event type as columns (the
    * wide-table rendering of A5). Value list is explicit, so the plan is
    * a single hash-agg with one conditional-count column per type — no
    * second pass to discover values, no extra shuffle. */
  def a7Pivot(s: SparkSession, d: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    ordered(
      events(s, d).groupBy(col("user_id"))
        .pivot("event_type", types).agg(count(lit(1)))
        .select(col("user_id") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*),
      "user_id")
  }

  /** A8: exact grouped percentiles (quartiles of quantity per return
    * flag). Spark's `percentile` and DuckDB's `quantile_cont` share the
    * type-7 definition (linear interpolation at (n-1)p); integral values
    * at dyadic fractions make every interpolation step exact in a
    * double, so the oracle is bit-exact. Scale note: exact percentile
    * buffers per-group values — fine for bounded groups; the 100 TB
    * unbounded-cardinality swap is approx_percentile (t-digest). */
  def a8Percentiles(s: SparkSession, d: String): DataFrame = {
    ordered(
      lineitem(s, d).groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_quantity, array(0.25D, 0.5D, 0.75D))").as("q"),
          count(lit(1)).as("ct"))
        .select(col("l_returnflag"), col("q")(0).as("p25"),
          col("q")(1).as("p50"), col("q")(2).as("p75"), col("ct")),
      "l_returnflag")
  }

  /** A8-approx: the documented 100 TB swap for A8, exercised end-to-end —
    * `approx_percentile` (t-digest/KLL sketch, mergeable partial aggs, no
    * per-group value buffering) replacing exact `percentile`. A sketch
    * value cannot hash-match across engines, so the gate verifies the
    * CONTRACT instead: `approx_percentile(x, 0.5, acc)` guarantees rank
    * error ≤ 1/acc, hence the approx median must lie between the EXACT
    * percentiles at 0.5 ± eps (eps = 4/acc — 4× the guarantee for
    * interpolation slack). The exact median + count hash-match the oracle
    * as in A8; the bounds check rides along as a boolean the oracle pins
    * to TRUE. A sketch regression (wrong merge, wrong quantile) flips the
    * boolean and fails the hash. */
  def a8PercentilesApprox(s: SparkSession, d: String): DataFrame = {
    val acc = 1000
    val eps = 4.0 / acc
    ordered(
      lineitem(s, d).groupBy(col("l_returnflag"))
        .agg(
          expr(s"percentile(l_quantity, array(${0.5 - eps}D, 0.5D, ${0.5 + eps}D))").as("q"),
          expr(s"approx_percentile(l_quantity, 0.5D, $acc)").as("ap"),
          count(lit(1)).as("ct"))
        .select(col("l_returnflag"), col("q")(1).as("p50"), col("ct"),
          (col("ap") >= col("q")(0) && col("ap") <= col("q")(2)).as("p50_in_bounds")),
      "l_returnflag")
  }

  /** E2-approx: the documented 100 TB swap for E2/A3 distinct counts —
    * `approx_count_distinct` (HyperLogLog++, O(1) mergeable state)
    * replacing the exact set path. Same tolerance-gate pattern as
    * A8-approx: exact distinct counts hash-match the oracle, and the HLL
    * estimate must stay within max(4, 10% of exact) per cohort cell
    * (rsd = 0.02 → 3σ ≈ 6%; the 10% + small-count floor gives
    * deterministic headroom — HLL is deterministic for fixed input, so
    * the gate is stable, and ApproxSpec bounds the error distribution
    * separately).
    *
    * Plan note (measured, 10× ramp 18.0 → linear): `countDistinct` and
    * `approx_count_distinct` in ONE agg triggers the distinct-rewrite
    * Expand, and every per-(group, user) partial then carries a ~4 KB
    * HLL buffer through the shuffle — GBs in flight at 10×. Instead:
    * distinct the narrow (cohort, offset, user) rows once (the same
    * shuffle countDistinct's first phase pays anyway), then count(*) is
    * the exact distinct count and the HLL runs over already-unique ids
    * (identical estimate — HLL depends only on the value SET), with
    * sketch buffers existing only per final group. */
  def e2RetentionApprox(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d)
    val firstSeen = e.groupBy(col("user_id"))
      .agg(date_trunc("day", min(col("ts"))).as("cohort_day"))
    val perUser = e.select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .join(firstSeen, "user_id")
      .select(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"),
        col("user_id"))
      .distinct()
    ordered(
      perUser.groupBy(col("cohort_day"), col("day_offset"))
        .agg(count(lit(1)).as("users"),
          approx_count_distinct(col("user_id"), 0.02).as("users_approx"))
        .select(stamp(col("cohort_day")).as("cohort_day"), col("day_offset"),
          col("users"),
          (abs(col("users_approx") - col("users")) <=
            greatest(lit(4L), ceil(col("users") * 0.1).cast("long"))).as("users_in_tol")),
      "cohort_day", "day_offset")
  }

  /** E1: windowed funnel per user (view → click → purchase within 24 h,
    * greedy-anchored — operators/EventAnalytics.funnel; k keyed aggs,
    * no per-user sort). Runs with the skew guard ON (exact
    * (user,type,ts) pre-dedup before the Window stack) so the
    * production bot-resistant plan is what the gate proves.
    * Timestamps emitted as epoch micros. */
  def e1Funnel(s: SparkSession, d: String): DataFrame = {
    val f = graft.operators.EventAnalytics.funnel(
      events(s, d), "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"), expr("INTERVAL 24 HOURS"),
      preAggregate = true)
    ordered(
      f.select(col("user_id"), unix_micros(col("t1")).as("t1_us"),
        unix_micros(col("t2")).as("t2_us"), unix_micros(col("t3")).as("t3_us"),
        col("depth")),
      "user_id")
  }

  /** E1-stream: the SAME greedy-anchored funnel through
    * `streaming.FunnelStream.funnelProgress`'s state machine run in
    * batch mode (each per-user group folds its full ts-sorted history,
    * so the anchor and step times are the true batch ones) — proving
    * the streaming funnel against the identical DuckDB oracle as
    * e1_funnel, the way e2_retention_stream proves RetentionStream.
    * Event time travels as raw epoch-MICROS through the opaque-Long
    * state machine (the window rides in micros too), so the pivoted
    * step times are exactly the batch gate's t*_us columns; depth =
    * highest step reached (steps are sequential by construction). */
  def e1FunnelStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val steps = Seq("view", "click", "purchase")
    val ev = events(s, d).filter(col("event_type").isin(steps: _*))
      .select(col("user_id").as("userId"), unix_micros(col("ts")).as("ts"),
        col("event_type").as("eventType"))
      .as[graft.streaming.FunnelStream.FunnelEvent]
    val prog = graft.streaming.FunnelStream.funnelProgress(
      ev, steps, windowMs = 24L * 3600 * 1000000) // micros in, micros out
    ordered(
      prog.toDF().groupBy(col("userId"))
        .agg(
          max(when(col("step") === 1, col("ts"))).as("t1_us"),
          max(when(col("step") === 2, col("ts"))).as("t2_us"),
          max(when(col("step") === 3, col("ts"))).as("t3_us"),
          max(col("step")).cast("long").as("depth"))
        .select(col("userId").as("user_id"), col("t1_us"), col("t2_us"),
          col("t3_us"), col("depth")),
      "user_id")
  }

  /** E2: cohort retention triangle (first-event-day cohorts × day
    * offset, distinct returning users —
    * operators/EventAnalytics.retentionCohorts). */
  def e2Retention(s: SparkSession, d: String): DataFrame = {
    ordered(
      graft.operators.EventAnalytics.retentionCohorts(events(s, d), "user_id", "ts")
        .select(stamp(col("cohort_day")).as("cohort_day"), col("day_offset"),
          col("users")),
      "cohort_day", "day_offset")
  }

  /** E4: funnel conversion-latency distribution — composes E1's funnel
    * with A8's exact percentiles: for users who completed each depth,
    * the p50/p75 (dyadic → engine-exact) of time-to-reach-that-step
    * from the anchor, plus the cohort count. The product-analytics
    * "how long does conversion take" chart; one more keyed agg over
    * E1's single-shuffle plan (at 100 TB the percentile swaps to
    * `approx_percentile` exactly as A8 documents). */
  def e4FunnelLatency(s: SparkSession, d: String): DataFrame = {
    val f = graft.operators.EventAnalytics.funnel(
      events(s, d), "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"), expr("INTERVAL 24 HOURS"),
      preAggregate = true)
    val lat = f.select(col("user_id"),
      when(col("t2").isNotNull, unix_micros(col("t2")) - unix_micros(col("t1")))
        .as("lat2"),
      when(col("t3").isNotNull, unix_micros(col("t3")) - unix_micros(col("t1")))
        .as("lat3"))
    val per = (step: Int) => {
      val c = col(s"lat$step")
      lat.filter(c.isNotNull).agg(
        lit(step.toLong).as("step"),
        count(lit(1)).as("users"),
        expr(s"percentile(lat$step, 0.5D)").as("p50_us"),
        expr(s"percentile(lat$step, 0.75D)").as("p75_us"))
    }
    ordered(per(2).unionByName(per(3)), "step")
  }

  /** E3: page-flow transition matrix (`operators.EventAnalytics
    * .pathTransitions`) — per-user lag over (ts, event_id), counts and
    * integer-ppm conditional probabilities per (prev, next) pair,
    * `_start` rows giving the entry distribution. One user-keyed
    * shuffle; everything after is |types|²-bounded. */
  def e3PathTransitions(s: SparkSession, d: String): DataFrame = {
    ordered(
      graft.operators.EventAnalytics.pathTransitions(
        events(s, d), "user_id", "ts", "event_type", "event_id"),
      "prev_type", "next_type")
  }

  /** E3b: the same matrix SESSION-scoped — a >30 min gap resets the
    * chain to `_start`, so cross-visit pairs stop counting as
    * transitions and the `_start` row becomes per-session entry
    * distribution. Streaming face: `streaming.PathStream` (state TTL =
    * the same gap). */
  def e3PathSessions(s: SparkSession, d: String): DataFrame = {
    ordered(
      graft.operators.EventAnalytics.pathTransitions(
        events(s, d), "user_id", "ts", "event_type", "event_id",
        sessionGapMs = Some(1800000L)),
      "prev_type", "next_type")
  }

  /** E5: PageRank over the page-transition graph — which event types
    * anchor the visit flow, by link-weighted stationary probability.
    * Edges are the REAL transitions (the synthetic `_start` entry state
    * is excluded — it has no in-links and would only dilute the mass);
    * 3 integer-exact rounds at damping 85 (`operators/Graph.pageRank`),
    * so the gate hashes the int64 ranks bit-exactly against DuckDB's
    * identically-unrolled arithmetic. */
  def e5Pagerank(s: SparkSession, d: String): DataFrame = {
    val edges = graft.operators.EventAnalytics.pathTransitions(
        events(s, d), "user_id", "ts", "event_type", "event_id")
      .filter(col("prev_type") =!= "_start")
    ordered(
      graft.operators.Graph.pageRank(edges, "prev_type", "next_type", "ct"),
      "node")
  }

  /** E7: identity stitching — cross-device identity resolution: each
    * user's modal `props.k` is their primary device, users sharing a
    * primary device merge, identity = connected component of the
    * user↔device graph labeled by its min user (`Graph.identityStitch`).
    * The CC runs on user-count-sized pairs — nothing fact-sized
    * survives the first aggregate. */
  def e7IdentityStitch(s: SparkSession, d: String): DataFrame =
    ordered(graft.operators.Graph.identityStitch(events(s, d)),
      "user_id")

  /** E8: triangle enumeration over the supplier co-supply graph —
    * suppliers are linked when their shared-part count reaches the
    * corpus maximum minus 10 (the threshold is a one-row aggregate
    * broadcast back, scale-adaptive, never a collect), triangles close
    * via the DEGREE-ordered wedge join (`Graph.trianglesDegreeOrdered`
    * — wedge fan-out bounded by arboricity, not max degree, so a hot
    * hub supplier can't explode the wedge stage). The per-part
    * pair expansion in the edge build is bounded by the supplier DIM
    * size per part, not the fact. */
  def e8Triangles(s: SparkSession, d: String): DataFrame = {
    // co-supply pairs in ONE pass over the fact: collect_set per part
    // dedups (the old separate fact DISTINCT) and groups in the same
    // map-side-partial shuffle, and each part's sorted supplier array
    // expands to its (s1 < s2) pairs with generator expressions —
    // replacing the distinct + self-join rendering (2 exchanges and
    // two sort-merge sorts fewer before the pair count). The array is
    // suppliers-per-part, i.e. dim-bounded, never fact-sized.
    val parts = lineitem(s, d).select("l_partkey", "l_suppkey")
      .groupBy(col("l_partkey"))
      .agg(sort_array(collect_set(col("l_suppkey"))).as("__ss"))
      .filter(size(col("__ss")) > 1)
    val co = parts
      .select(posexplode(col("__ss")).as(Seq("__i", "src")), col("__ss"))
      .select(col("src"), explode(slice(col("__ss"), col("__i") + lit(2),
        size(col("__ss")))).as("dst"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("shared"))
    // the thresholded edge set is dim-bounded tiny but its build (fact
    // distinct + self-join + max broadcast) is the expensive part —
    // checkpoint it so orientation's degree pass and the wedge joins
    // never re-run the co-supply aggregation
    val edges = co
      .join(broadcast(co.agg(max(col("shared")).as("__mx"))))
      .filter(col("shared") >= col("__mx") - 10)
      .select("src", "dst")
      .localCheckpoint(true)
    ordered(graft.operators.Graph.trianglesDegreeOrdered(edges),
      "a", "b", "c")
  }

  /** A17: RFM segmentation — the classic customer-value grid: recency
    * (days since last order, against a fixed reference date),
    * frequency (order count), monetary (exact cents), each cut into
    * quartiles over a fully deterministic order (metric + custkey
    * tie-break), combined into the 3-digit RFM code. The fact collapses
    * to one customer-grained aggregate FIRST; each quartile cut is then
    * `TableStats.globalNtile` — the DISTRIBUTED NTILE (range-partition
    * on the metric, per-partition row_number + broadcast prefix-sum
    * offsets, SQL-standard closed-form bucket arithmetic) — because at
    * 100× a customer table is 10⁸–10⁹ rows and a single-partition
    * `ntile(4).over(Window.orderBy(...))` ×3 is a real scale-killer.
    * Bit-identical to the window NTILE (the DuckDB oracle still uses
    * NTILE); plan spec pins the absence of Exchange SinglePartition. */
  def a17Rfm(s: SparkSession, d: String): DataFrame = {
    val m = orders(s, d).groupBy(col("o_custkey"))
      .agg(
        datediff(lit("2001-09-01").cast("timestamp"), max(col("o_orderdate")))
          .cast("long").as("recency_days"),
        count(lit(1)).as("frequency"),
        sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
          .as("monetary_cents"))
    val base = customer(s, d).select(col("c_custkey"))
      .join(m, col("c_custkey") === col("o_custkey"))
      .select(col("c_custkey"), col("recency_days"), col("frequency"),
        col("monetary_cents"))
    val cut = graft.operators.TableStats.globalNtile(
      graft.operators.TableStats.globalNtile(
        graft.operators.TableStats.globalNtile(
          base, 4, Seq(col("recency_days"), col("c_custkey")), "r_quartile"),
        4, Seq(col("frequency").desc, col("c_custkey")), "f_quartile"),
      4, Seq(col("monetary_cents").desc, col("c_custkey")), "m_quartile")
    ordered(
      cut.withColumn("rfm", (col("r_quartile") * 100 + col("f_quartile") * 10 +
        col("m_quartile")).cast("int")),
      "c_custkey")
  }

  /** A18: median absolute deviation — the robust dispersion measure
    * behind outlier fences that survive heavy tails (unlike stddev,
    * one bot order can't move it). Exact and hash-stable by working in
    * DOUBLED integer cents: v2 = 200·value is an even integer, so the
    * interpolated median of two evens is an integer; deviations
    * |v2−med2| are integers of arbitrary parity, so THEY double again
    * (ad4 = 2·ad2) before the second median — every interpolation
    * lands on an integer and the only float ops are two exact dyadic
    * divisions at render time (med2/2.0 → cents·½, mad4/4.0). Two
    * bounded aggregates (exact `percentile` collects per group — same
    * contract as a8; approx_percentile is the unbounded-cardinality
    * swap), the 5-row median table broadcasts back.
    *
    * Exactness bound: `percentile` interpolates in DOUBLE, and the
    * truncating Spark cast vs rounding DuckDB cast only agree while
    * the interpolated value is integer-exact in double — i.e. while
    * |v2| = |200·value| stays within 2⁵³, so |value| ≲ 4.5e13. A
    * decimal(18,2) can carry ~1e16, so data beyond that bound needs
    * the computation moved to decimal percentiles (same shape, exact
    * `percentile_approx`-free path) — same class of bound as
    * xDiversity's N ≤ 3e7 note. */
  def a18Mad(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d).select(col("event_type"),
      (col("value").cast("decimal(18,2)") * 200).cast("long").as("v2"))
    val med = e.groupBy(col("event_type"))
      .agg(expr("percentile(v2, 0.5D)").cast("long").as("med2"),
        count(lit(1)).as("ct"))
    val dev = e.join(broadcast(med), "event_type")
      .select(col("event_type"), col("med2"), col("ct"),
        (abs(col("v2") - col("med2")) * 2).as("ad4"))
    ordered(
      dev.groupBy(col("event_type"))
        .agg(first(col("med2")).as("__med2"), first(col("ct")).as("ct"),
          expr("percentile(ad4, 0.5D)").cast("long").as("__mad4"))
        .select(col("event_type"), col("ct"),
          (col("__med2") / 2.0 / 100.0).as("median_value"),
          (col("__mad4") / 4.0 / 100.0).as("mad_value")),
      "event_type")
  }

  /** A20: order-independent table fingerprint per order status — the
    * migration-validation digest (`TableStats.tableFingerprint`): after
    * any rewrite/move/repartition of the table, equal (xor_fp, sum_fp,
    * ct) per group ⟺ identical content under the canonical rendering.
    * Every cast is pinned so the canonical text is engine-identical:
    * bigints bare, the price as decimal(18,2), the date as DATE. */
  def a20Fingerprint(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d).select(col("o_orderstatus"), col("o_orderkey"),
      col("o_custkey"),
      col("o_totalprice").cast("decimal(18,2)").as("o_totalprice"),
      col("o_orderdate").cast("date").as("o_orderdate"))
    ordered(
      graft.operators.TableStats.tableFingerprint(o, "o_orderstatus",
        Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")),
      "o_orderstatus")
  }

  /** A19: Benford first-digit audit — the classic fabricated-numbers
    * screen: the leading significant digit of organic amounts follows
    * log10(1+1/d), and a per-digit delta exposes rounding artifacts /
    * synthetic data. Digit via string head of the exact DECIMAL
    * rendering (prices are positive, so no sign handling); observed
    * share in integer ppm against a one-row total broadcast; the
    * Benford expectation enters as precomputed INTEGER ppm literals —
    * identical constants in both plans, so no log10 float ever runs in
    * either engine. One scan, one 9-row aggregate. */
  def a19Benford(s: SparkSession, d: String): DataFrame = {
    // floor(log10(1 + 1/d) * 1e6), d = 1..9 — fixed public constants
    val benford = Seq(301029L, 176091L, 124938L, 96910L, 79181L,
      66946L, 57991L, 51152L, 45757L)
    val bMap = map(benford.zipWithIndex.flatMap { case (p, i) =>
      Seq(lit(i + 1), lit(p)) }: _*)
    val digits = orders(s, d).select(
      substring(col("o_totalprice").cast("decimal(18,2)").cast("string"),
        1, 1).cast("int").as("digit"))
      // Benford is defined on leading SIGNIFICANT digits 1..9; the
      // explicit band also pins the cross-engine contract for amounts
      // < 1 (leading '0') or negative ('-' — a non-digit head that
      // Spark groups under NULL while DuckDB's CAST would error)
      .filter(col("digit").between(1, 9))
    val counts = digits.groupBy(col("digit"))
      .agg(count(lit(1)).as("ct"))
    ordered(
      counts.join(broadcast(counts.agg(sum(col("ct")).as("__total"))))
        .select(col("digit"), col("ct"),
          expr("ct * 1000000 div __total").as("observed_ppm"),
          bMap(col("digit")).as("benford_ppm"))
        .withColumn("delta_ppm",
          (col("observed_ppm") - col("benford_ppm")).cast("long")),
      "digit")
  }

  /** A16: ordered LISTAGG — each user's full event-type journey as one
    * ordered CSV string (the sessions-as-strings rendering sequence
    * mining and quick eyeballing both want; the reference's page-path
    * strings are this shape). Spark has no ordered string_agg, so the
    * deterministic rendering is collect_list of (ts, tie, type) structs
    * → array_sort (lexicographic on the struct = the (ts, tie) order) →
    * transform+array_join — ONE hash aggregate, sort is per-group
    * output-sized, arbitrary shuffle arrival order cannot move the
    * result. Bound the group (path_len rides along) before trusting
    * per-user strings at 100 TB — per-group state is the user's own
    * event count, same bound as any per-user collect. */
  def a16Listagg(s: SparkSession, d: String): DataFrame = {
    ordered(
      events(s, d)
        .groupBy(col("user_id"))
        .agg(collect_list(struct(col("ts"), col("event_id"), col("event_type")))
          .as("__evs"))
        .select(col("user_id"),
          array_join(transform(array_sort(col("__evs")),
            e => e.getField("event_type")), ",").as("path"),
          size(col("__evs")).cast("long").as("path_len")),
      "user_id")
  }

  /** A16 with BOUNDED per-group state — the 100 TB face of ordered
    * LISTAGG. The uncapped rendering above carries the whole group
    * through the agg buffer (fine when groups are users, fatal when one
    * key is a bot session); this one keeps only the `cap` EARLIEST
    * (ts, event_id) events per group via `functions.FirstKAgg`, so every
    * partial buffer is ≤ cap triples regardless of input size. Semantics
    * are a deterministic PREFIX truncation: `path` is the first min(n,
    * cap) events of the full journey (identical to the uncapped path
    * when n ≤ cap), `path_len` stays the FULL group count (same hash
    * agg), and `truncated` flags the capped groups. */
  def listaggCapped(df: DataFrame, keyCol: String, ordCol: String,
                    tieCol: String, valCol: String, cap: Int): DataFrame = {
    // timestamp order columns ride as micros — a bare long cast would
    // floor to seconds and scramble sub-second ordering
    def asLong(c: String): org.apache.spark.sql.Column = df.schema(c).dataType match {
      case org.apache.spark.sql.types.TimestampType => unix_micros(col(c))
      case _ => col(c)
    }
    df.groupBy(col(keyCol))
      .agg(
        graft.functions.FirstKAgg.firstK(
          asLong(ordCol), asLong(tieCol), col(valCol), cap).as("__first"),
        count(lit(1)).as("path_len"))
      .select(col(keyCol),
        array_join(col("__first"), ",").as("path"),
        col("path_len"),
        (col("path_len") > cap).as("truncated"))
  }

  /** E6: touch attribution — every purchase credited to its last and
    * first view/click touch within a 1-hour lookback
    * (`operators/EventAnalytics.attribution`); stale last-touches null
    * out as "direct". */
  /** E9: frequent path mining — top-20 event trigrams across user
    * journeys (`EventAnalytics.frequentPaths`): two lead taps on one
    * per-user sort, a |types|³-bounded count aggregate, TakeOrdered
    * top-k with path-string tie-break. */
  def e9FrequentPaths(s: SparkSession, d: String): DataFrame =
    ordered(
      graft.operators.EventAnalytics.frequentPaths(
        events(s, d), "user_id", "ts", "event_id", "event_type"),
      "ct", "path")

  /** E10: linear multi-touch attribution — each purchase splits 10⁶
    * ppm of credit equally across its 1 h-lookback touches, remainder
    * to the last touch (`EventAnalytics.linearAttribution`), rolled up
    * per source type. Exact integers end to end. */
  def e10LinearAttribution(s: SparkSession, d: String): DataFrame =
    ordered(
      graft.operators.EventAnalytics.linearAttribution(
        events(s, d), "user_id", "ts", "event_id", "event_type",
        "purchase", 3600000L),
      "src_type")

  def e6Attribution(s: SparkSession, d: String): DataFrame = {
    ordered(
      graft.operators.EventAnalytics.attribution(
        events(s, d), "user_id", "ts", "event_id", "event_type",
        "purchase", Seq("view", "click"), 3600000L)
        .select(col("user_id"), stamp(col("conv_ts")).as("conv_ts"),
          col("conv_id"), col("last_src_type"), col("last_src_ms"),
          col("first_src_type"), col("first_src_ms")),
      "conv_id")
  }

  /** E6-stream: last-touch attribution through the ACTUAL streaming
    * engine — purchases and view/click touches as two filtered faces of
    * the events file stream (the engine deduplicates the shared source;
    * `AttributionStream.lastTouch` unions them into one keyed as-of
    * state machine), two time-range micro-batches plus two watermark
    * sentinels riding the conversion side (the sentinel tick seals the
    * final conversions the way the parity spec's far-future probe
    * does). Read back against an epoch-ms oracle restricted to the
    * machine's semantics: most-recent touch at-or-before the
    * conversion, nulled when older than the 1 h lookback. First-touch
    * stays batch-only (`e6_attribution` carries both). */
  def e6AttributionStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val st = graft.queries.StreamGate.eventsFileStream(s, d,
      sentinels = 2, oneFilePerTrigger = true, splitParts = 2)
    val convs = st.filter(col("event_type").isin("purchase", "__sentinel"))
      .select(col("user_id").as("user"), unix_millis(col("ts")).as("ms"),
        col("event_id").as("id"))
      .as[graft.streaming.AttributionStream.Conversion]
    val touches = st.filter(col("event_type").isin("view", "click"))
      .select(col("user_id").as("user"), unix_millis(col("ts")).as("ms"),
        col("event_id").as("tie"), col("event_type").as("typ"))
      .as[graft.streaming.AttributionStream.Touch]
    ordered(
      graft.queries.StreamGate.runToSink(s,
        graft.streaming.AttributionStream.lastTouch(convs, touches, 3600000L).toDF)
        .filter(col("user") =!= -1L)
        .select(col("user").as("user_id"),
          stamp(timestamp_millis(col("ms"))).as("conv_ts"),
          col("id").as("conv_id"),
          col("srcType").as("last_src_type"),
          col("srcMs").as("last_src_ms")),
      "conv_id")
  }

  /** E2-stream: the SAME retention triangle through
    * `streaming.RetentionStream.retentionHits`' code path run in batch
    * mode (each per-user group sees the full history, so the anchor is
    * the true min) — proving the streaming state machine against the
    * identical DuckDB oracle as e2_retention, the way j7_asof_stream
    * proves AsofStream. Each (user, offset) hit is emitted exactly once,
    * so the triangle is a plain count(*) over hits — no distinct. */
  def e2RetentionStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = events(s, d).select(col("user_id").as("userId"),
        (unix_micros(col("ts")) / 1000L).cast("long").as("ts"))
      .as[graft.streaming.RetentionStream.RetEvent]
    val hits = graft.streaming.RetentionStream.retentionHits(ev, horizonDays = 100000)
    ordered(
      hits.toDF().groupBy(col("cohortDayMs"), col("dayOffset"))
        .agg(count(lit(1)).as("users"))
        .select(stamp(timestamp_millis(col("cohortDayMs"))).as("cohort_day"),
          col("dayOffset").cast("long").as("day_offset"), col("users")),
      "cohort_day", "day_offset")
  }

  /** A9: heavy-hitter profiling — top-10 users by event count through
    * the Misra-Gries summary (`functions.FreqAgg`), the bounded-state
    * answer to "which keys dominate / should this join be salted?".
    * One partial buffer of ≤ capacity counters per partition replaces
    * the full per-user shuffle; capacity 4096 exceeds every gate SF's
    * user domain, so no decrement ever fires and the counts are exact —
    * which pins the gate to the plain count(*) oracle. At 100 TB
    * capacity is sized to the error budget (undercount ≤ N/(cap+1)),
    * not the key domain (FreqAggSpec bounds that regime). */
  def a9HeavyHitters(s: SparkSession, d: String): DataFrame = {
    import graft.functions.FreqAgg.freqSummary
    val top = events(s, d)
      .agg(slice(freqSummary(col("user_id"), capacity = 4096), 1, 10).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.key").as("user_id"), col("e.count").as("ct"))
    top.orderBy(col("ct").desc, col("user_id"))
  }

  /** A10: re-aggregatable sketch cube — the 100 TB distinct-count
    * pattern where raw data is touched ONCE: per-(type, day) HLL
    * sketches (DataSketches `hll_sketch_agg`, a few KB each) are stored
    * as the cube's partial layer, and any rollup (here type totals)
    * unions the sketches instead of rescanning events — a distinct
    * count over N days costs N sketch merges, not a shuffle of the raw
    * user ids. The gate carries the exact `count(distinct)` beside the
    * merged-sketch estimate and pins the X45-style tolerance boolean to
    * the oracle (the estimate itself is engine-specific, the bound is
    * not); SketchSpec additionally proves union-of-dailies ==
    * one-shot-sketch determinism. */
  def a10SketchCube(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d).select(col("event_type"),
      date_trunc("day", col("ts")).as("day"), col("user_id"))
    val daily = e.groupBy(col("event_type"), col("day"))
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
    val rolled = daily.groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).as("approx_users"))
    val exact = e.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("users"))
    ordered(
      exact.join(rolled, "event_type")
        .select(col("event_type"), col("users"),
          (abs(col("approx_users") - col("users")) <=
            greatest(lit(4L), ceil(col("users") * 0.05).cast("long"))).as("users_in_tol")),
      "event_type")
  }

  /** A11: one-pass numeric table profile (`operators.TableStats`) — every
    * column's null/min/max/distinct statistics from ONE scan and ONE
    * aggregate (per-column profiling jobs re-scan the table per column,
    * the anti-pattern at 100 TB). Distinct counts are HLL estimates
    * (fixed state per column); the gate computes the exact distincts in
    * a gate-only second aggregate and pins the X45-style tolerance
    * boolean to the oracle. */
  def a11Profile(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val profiled = graft.operators.TableStats.profileNumeric(
      o, Seq("o_custkey", "o_totalprice"))
    val exact = o.select(
      countDistinct(col("o_custkey")).as("o_custkey"),
      countDistinct(col("o_totalprice")).as("o_totalprice"))
      .select(expr("stack(2, 'o_custkey', o_custkey, 'o_totalprice', o_totalprice)" +
        " AS (col_name, exact_distinct)"))
    ordered(
      profiled.join(exact, "col_name")
        .select(col("col_name"), col("non_null_ct"), col("null_ct"),
          col("min_val"), col("max_val"),
          (abs(col("approx_distinct") - col("exact_distinct")) <=
            greatest(lit(4L), ceil(col("exact_distinct") * 0.05).cast("long")))
            .as("distinct_in_tol")),
      "col_name")
  }

  /** A13: theta-sketch segment algebra — the set INTERSECTION and
    * DIFFERENCE questions HLL sketches structurally cannot answer:
    * "distinct users who did BOTH A and B" (and "A but never B"),
    * computed from already-built per-segment sketches
    * (`functions.SketchAgg`), no rescan of the raw events and no
    * pairwise INTERSECT shuffle. The cube pattern at 100 TB: store one
    * theta sketch per segment cell once, then ANY overlap/union query
    * across segments is sketch arithmetic on KB-sized states. The gate
    * carries exact distinct counts beside the estimates and pins the
    * a10-style tolerance boolean to the oracle; at gate SF the user
    * domain is far below 2^12 nominal entries, so the sketches run in
    * exact mode and the bound is trivially met. */
  def a13ThetaSegments(s: SparkSession, d: String): DataFrame = {
    import graft.functions.SketchAgg._
    val e = events(s, d).select(col("event_type"), col("user_id"))
    val perType = e.groupBy(col("event_type"))
      .agg(thetaSketch(col("user_id"), 12).as("sk"))
    val perRows = e.groupBy(col("event_type").as("segment"))
      .agg(countDistinct(col("user_id")).as("users"))
      .join(perType.select(col("event_type").as("segment"),
        thetaEstimate(col("sk")).as("approx")), "segment")
    val interEst = perType.filter(col("event_type").isin("view", "purchase"))
      .agg(thetaEstimate(thetaIntersect(col("sk"))).as("approx"))
    val interExact = e.filter(col("event_type") === "view")
      .select(col("user_id")).distinct()
      .join(e.filter(col("event_type") === "purchase")
        .select(col("user_id")).distinct(), "user_id")
      .agg(count(lit(1)).as("users"))
    // difference face: viewed but never purchased, from the same sketches
    val diffEst = perType.filter(col("event_type").isin("view", "purchase"))
      .agg(
        first(when(col("event_type") === "view", col("sk")), ignoreNulls = true).as("ska"),
        first(when(col("event_type") === "purchase", col("sk")), ignoreNulls = true).as("skb"))
      .select(thetaEstimate(thetaDifference(col("ska"), col("skb"))).as("approx"))
    val diffExact = e.filter(col("event_type") === "view")
      .select(col("user_id")).distinct()
      .join(e.filter(col("event_type") === "purchase").select(col("user_id")).distinct(),
        Seq("user_id"), "left_anti")
      .agg(count(lit(1)).as("users"))
    ordered(
      perRows.select(col("segment"), col("users"), col("approx"))
        .unionByName(interExact.crossJoin(interEst)
          .select(lit("view&purchase").as("segment"), col("users"), col("approx")))
        .unionByName(diffExact.crossJoin(diffEst)
          .select(lit("view-purchase").as("segment"), col("users"), col("approx")))
        .select(col("segment"), col("users"),
          (abs(col("approx") - col("users")) <=
            greatest(lit(4L), ceil(col("users") * 0.05).cast("long"))).as("users_in_tol")),
      "segment")
  }

  /** A14: KLL mergeable-quantile cube — `approx_percentile` emits a
    * finished number, so a percentile cube re-scans raw data per rollup
    * level; the KLL sketch is the mergeable state (store per-cell,
    * merge along any axis, query any rank). Partials per (returnflag,
    * linestatus) merge to per-returnflag medians. The estimate is
    * sampling-based (not run-deterministic once compaction starts), so
    * the gate pins the a-priori RANK-error bound, not the value: the
    * merged median's exact rank must sit in 0.5 ± 0.05 (k=400 bounds
    * rank error at ~1%, 5× margin), carried as an oracle-pinned
    * boolean beside the exact percentile. */
  def a14KllCube(s: SparkSession, d: String): DataFrame = {
    import graft.functions.SketchAgg._
    val li = lineitem(s, d).select(col("l_returnflag"), col("l_linestatus"),
      col("l_quantity").cast("double").as("q"))
    val rolled = li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(kllSketch(col("q"), 400).as("sk"))
      .groupBy(col("l_returnflag"))
      .agg(kllQuantile(kllMerge(col("sk"), 400), lit(0.5)).as("est"))
    val exact = li.groupBy(col("l_returnflag"))
      .agg(expr("percentile(q, 0.5D)").as("p50"), count(lit(1)).as("ct"))
    // exact rank of the estimate, tie-aware: [rank of <, rank of <=]
    val ranks = li.join(broadcast(rolled), "l_returnflag")
      .groupBy(col("l_returnflag"))
      .agg((sum(when(col("q") < col("est"), 1L).otherwise(0L)) / count(lit(1))).as("rank_lo"),
        (sum(when(col("q") <= col("est"), 1L).otherwise(0L)) / count(lit(1))).as("rank_hi"))
    ordered(
      exact.join(ranks, "l_returnflag")
        .select(col("l_returnflag"), col("p50"), col("ct"),
          (col("rank_lo") <= 0.55 && col("rank_hi") >= 0.45).as("p50_rank_in_tol")),
      "l_returnflag")
  }

  /** A15: exact fixed-bin histogram (`operators.TableStats.histogram`)
    * — per-returnflag distribution of l_quantity over 10 bins of width
    * 5. Bin index map-side; one hash-agg on the (flags × bins) grain.
    * The stable-contract alternative to `histogram_numeric`'s
    * data-dependent approximate centers. */
  def a15Histogram(s: SparkSession, d: String): DataFrame = {
    ordered(
      graft.operators.TableStats.histogram(
        lineitem(s, d), "l_quantity", lo = 1.0, width = 5.0, nBins = 10,
        groupCols = Seq("l_returnflag")),
      "l_returnflag", "bin")
  }

  /** A12: winsorized (outlier-clipped) robust mean — values clipped to
    * the exact per-group [p25, p75] band before a decimal-exact mean.
    * The quartile cut rows broadcast back onto the fact scan, so the
    * clip is map-side; quartiles of integer quantities at dyadic
    * fractions interpolate to exact quarter-decimals, keeping the
    * decimal accumulator (and the DuckDB oracle) bit-exact. At 100 TB
    * the cuts swap to `approx_percentile` exactly as A8 documents. */
  def a12Winsorized(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d).select(col("l_returnflag"), col("l_quantity"))
    val cuts = li.groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_quantity, array(0.25D, 0.75D))").as("q"))
    ordered(
      li.join(broadcast(cuts), "l_returnflag")
        .withColumn("clipped",
          greatest(least(col("l_quantity"), col("q")(1)), col("q")(0)))
        .groupBy(col("l_returnflag"))
        .agg(decAvg(col("clipped")).as("wins_mean"),
          decAvg(col("l_quantity")).as("raw_mean"),
          count(lit(1)).as("ct")),
      "l_returnflag")
  }

  /** A21: grouped OLS regression aggregates — slope/intercept/r²/corr
    * of line price (exact integer cents) on quantity per return flag,
    * plus the pair count. One hash aggregate (all five are partial-agg
    * friendly streaming moments — no second pass, no sort), the
    * trend-extraction face a metrics warehouse runs per segment.
    * Inputs are integral (cents as long, integral quantities) so both
    * engines' moment sums are exact until the final divisions; results
    * rounded to 6 decimals absorb the division ulp. */
  def a21Regression(s: SparkSession, d: String): DataFrame = {
    val l = lineitem(s, d).select(col("l_returnflag"),
      col("l_quantity").cast("double").as("x"),
      (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
        .cast("double").as("y"))
    ordered(
      l.groupBy(col("l_returnflag"))
        .agg(
          round(expr("regr_slope(y, x)"), 6).as("slope"),
          round(expr("regr_intercept(y, x)"), 6).as("intercept"),
          round(expr("regr_r2(y, x)"), 6).as("r2"),
          round(corr(col("y"), col("x")), 6).as("corr_xy"),
          expr("regr_count(y, x)").cast("long").as("n")),
      "l_returnflag")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a21_regression"    -> (a21Regression _),
    "a12_winsorized"    -> (a12Winsorized _),
    "a13_theta_segments" -> (a13ThetaSegments _),
    "a14_kll_cube"      -> (a14KllCube _),
    "a15_histogram"     -> (a15Histogram _),
    "a11_profile"       -> (a11Profile _),
    "a10_sketch_cube"   -> (a10SketchCube _),
    "a9_heavy_hitters"  -> (a9HeavyHitters _),
    "a1_product_stats"  -> (a1ProductStats _),
    "a2_visitor_stats"  -> (a2VisitorStats _),
    "a3_province_stats" -> (a3ProvinceStats _),
    "a4_keyword_stats"  -> (a4KeywordStats _),
    "a5_distinct_sets"  -> (a5DistinctSets _),
    "a6_rollup"         -> (a6Rollup _),
    "a6b_cube"          -> (a6bCube _),
    "a6c_grouping_sets" -> (a6cGroupingSets _),
    "a7_pivot"          -> (a7Pivot _),
    "a8_percentiles"    -> (a8Percentiles _),
    "a8_percentiles_approx" -> (a8PercentilesApprox _),
    "e1_funnel"         -> (e1Funnel _),
    "e1_funnel_stream"  -> (e1FunnelStream _),
    "e2_retention"      -> (e2Retention _),
    "e3_path_transitions" -> (e3PathTransitions _),
    "e5_pagerank"       -> (e5Pagerank _),
    "e7_identity_stitch" -> (e7IdentityStitch _),
    "a17_rfm"           -> (a17Rfm _),
    "a18_mad"           -> (a18Mad _),
    "a19_benford"       -> (a19Benford _),
    "a20_fingerprint"   -> (a20Fingerprint _),
    "e8_triangles"      -> (e8Triangles _),
    "e9_frequent_paths" -> (e9FrequentPaths _),
    "e10_linear_attribution" -> (e10LinearAttribution _),
    "e6_attribution"    -> (e6Attribution _),
    "e6_attribution_stream" -> (e6AttributionStream _),
    "a16_listagg"       -> (a16Listagg _),
    "e4_funnel_latency" -> (e4FunnelLatency _),
    "e3_path_sessions"  -> (e3PathSessions _),
    "e2_retention_approx" -> (e2RetentionApprox _),
    "e2_retention_stream" -> (e2RetentionStream _))

  /** Shared by e2_retention and e2_retention_stream — one semantics,
    * two engine code paths (declarative two-agg plan vs typed state
    * machine emitting exactly-once hits). */
  private val retentionOracle =
    """WITH fs AS (SELECT user_id, date_trunc('day', min(ts)) AS cohort_day
      |            FROM events GROUP BY 1)
      |SELECT strftime(cohort_day, '%Y-%m-%d %H:%M:%S') AS cohort_day,
      |  CAST(date_diff('day', cohort_day, date_trunc('day', e.ts)) AS BIGINT) AS day_offset,
      |  COUNT(DISTINCT e.user_id) AS users
      |FROM events e JOIN fs USING (user_id)
      |GROUP BY fs.cohort_day, 2 ORDER BY cohort_day, day_offset""".stripMargin

  val oracle: Map[String, String] = Map(
    "a21_regression" ->
      """WITH l AS (SELECT l_returnflag,
        |    CAST(l_quantity AS DOUBLE) AS x,
        |    CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |         AS DOUBLE) AS y
        |  FROM lineitem)
        |SELECT l_returnflag,
        |  round(regr_slope(y, x), 6) AS slope,
        |  round(regr_intercept(y, x), 6) AS intercept,
        |  round(regr_r2(y, x), 6) AS r2,
        |  round(corr(y, x), 6) AS corr_xy,
        |  CAST(regr_count(y, x) AS BIGINT) AS n
        |FROM l GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "e9_frequent_paths" ->
      """WITH s AS (SELECT event_type,
        |    lead(event_type, 1) OVER w AS t2,
        |    lead(event_type, 2) OVER w AS t3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (SELECT event_type || '>' || t2 || '>' || t3 AS path,
        |    COUNT(*) AS ct
        |  FROM s WHERE event_type IS NOT NULL AND t2 IS NOT NULL
        |    AND t3 IS NOT NULL GROUP BY 1),
        |k AS (SELECT path, ct FROM g ORDER BY ct DESC, path LIMIT 20)
        |SELECT path, ct FROM k ORDER BY ct, path""".stripMargin,
    "e10_linear_attribution" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ms, event_id, event_type
        |  FROM events),
        |c AS (SELECT user_id, ms AS cms, event_id AS conv_id FROM e
        |      WHERE event_type = 'purchase'),
        |t AS (SELECT * FROM e WHERE event_type <> 'purchase'),
        |p AS (SELECT c.conv_id, t.event_type AS typ, t.ms, t.event_id AS tie
        |  FROM c JOIN t ON c.user_id = t.user_id
        |    AND t.ms <= c.cms AND t.ms > c.cms - 3600000),
        |l AS (SELECT conv_id, tie AS last_tie FROM p
        |      QUALIFY row_number() OVER (PARTITION BY conv_id
        |        ORDER BY ms DESC, tie DESC) = 1),
        |n AS (SELECT p.conv_id, COUNT(*) AS nn, any_value(l.last_tie)
        |        AS last_tie
        |      FROM p JOIN l USING (conv_id) GROUP BY 1)
        |SELECT p.typ AS src_type,
        |  COUNT(DISTINCT p.conv_id) AS conversions,
        |  CAST(SUM(1000000 // n.nn + CASE WHEN p.tie = n.last_tie
        |    THEN 1000000 % n.nn ELSE 0 END) AS BIGINT) AS credit_ppm
        |FROM p JOIN n USING (conv_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "a20_fingerprint" ->
      """WITH c AS (SELECT o_orderstatus,
        |  CAST(('0x' || substr(md5(concat_ws('|',
        |    COALESCE(CAST(length(CAST(o_orderkey AS VARCHAR)) AS VARCHAR)
        |      || ':' || CAST(o_orderkey AS VARCHAR), 'N'),
        |    COALESCE(CAST(length(CAST(o_custkey AS VARCHAR)) AS VARCHAR)
        |      || ':' || CAST(o_custkey AS VARCHAR), 'N'),
        |    COALESCE(CAST(length(CAST(CAST(o_totalprice AS DECIMAL(18,2))
        |        AS VARCHAR)) AS VARCHAR)
        |      || ':' || CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), 'N'),
        |    COALESCE(CAST(length(CAST(CAST(o_orderdate AS DATE) AS VARCHAR))
        |        AS VARCHAR)
        |      || ':' || CAST(CAST(o_orderdate AS DATE) AS VARCHAR), 'N'))),
        |    1, 15)) AS BIGINT) AS h
        |  FROM orders)
        |SELECT o_orderstatus, bit_xor(h) AS xor_fp,
        |  CAST(SUM(h % 1000000007) AS BIGINT) AS sum_fp,
        |  COUNT(*) AS ct
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "a18_mad" ->
      """WITH e AS (SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 200 AS BIGINT) AS v2
        |  FROM events),
        |m AS (SELECT event_type, CAST(quantile_cont(v2, 0.5) AS BIGINT) AS med2,
        |    COUNT(*) AS ct
        |  FROM e GROUP BY 1),
        |d AS (SELECT e.event_type, m.med2, m.ct,
        |    abs(e.v2 - m.med2) * 2 AS ad4
        |  FROM e JOIN m USING (event_type))
        |SELECT event_type, ct,
        |  CAST(any_value(med2) AS DOUBLE) / 2.0 / 100.0 AS median_value,
        |  CAST(CAST(quantile_cont(ad4, 0.5) AS BIGINT) AS DOUBLE) / 4.0 / 100.0
        |    AS mad_value
        |FROM d GROUP BY event_type, ct ORDER BY event_type""".stripMargin,
    "a19_benford" ->
      """WITH dg AS (SELECT TRY_CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(18,2))
        |    AS VARCHAR), 1, 1) AS INT) AS digit FROM orders),
        |c AS (SELECT digit, COUNT(*) AS ct FROM dg
        |      WHERE digit BETWEEN 1 AND 9 GROUP BY 1),
        |t AS (SELECT CAST(SUM(ct) AS BIGINT) AS total FROM c),
        |b(digit, benford_ppm) AS (VALUES (1, CAST(301029 AS BIGINT)),
        |  (2, 176091), (3, 124938), (4, 96910), (5, 79181), (6, 66946),
        |  (7, 57991), (8, 51152), (9, 45757))
        |SELECT c.digit, c.ct, c.ct * 1000000 // t.total AS observed_ppm,
        |  b.benford_ppm,
        |  c.ct * 1000000 // t.total - b.benford_ppm AS delta_ppm
        |FROM c CROSS JOIN t JOIN b ON b.digit = c.digit
        |ORDER BY c.digit""".stripMargin,
    "a12_winsorized" ->
      """WITH c AS (SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS q1, quantile_cont(l_quantity, 0.75) AS q3
        |  FROM lineitem GROUP BY 1)
        |SELECT l.l_returnflag,
        |  CAST(SUM(CAST(greatest(least(l.l_quantity, c.q3), c.q1) AS DECIMAL(18,2))) AS DOUBLE)
        |    / COUNT(*) AS wins_mean,
        |  CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS raw_mean,
        |  COUNT(*) AS ct
        |FROM lineitem l JOIN c ON l.l_returnflag = c.l_returnflag
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "a13_theta_segments" ->
      """WITH per AS (SELECT event_type AS segment, count(DISTINCT user_id) AS users
        |             FROM events GROUP BY 1),
        |b AS (SELECT 'view&purchase' AS segment, count(*) AS users FROM (
        |  SELECT user_id FROM events WHERE event_type = 'view'
        |  INTERSECT
        |  SELECT user_id FROM events WHERE event_type = 'purchase')),
        |d AS (SELECT 'view-purchase' AS segment, count(*) AS users FROM (
        |  SELECT user_id FROM events WHERE event_type = 'view'
        |  EXCEPT
        |  SELECT user_id FROM events WHERE event_type = 'purchase'))
        |SELECT segment, users, true AS users_in_tol FROM per
        |UNION ALL SELECT segment, users, true FROM b
        |UNION ALL SELECT segment, users, true FROM d
        |ORDER BY segment""".stripMargin,
    "a14_kll_cube" ->
      """SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS p50,
        |  COUNT(*) AS ct, true AS p50_rank_in_tol
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "a15_histogram" ->
      """WITH h AS (SELECT l_returnflag,
        |  CAST(least(greatest(floor((l_quantity - 1.0) / 5.0), 0), 9) AS BIGINT) AS bin
        |  FROM lineitem WHERE l_quantity IS NOT NULL)
        |SELECT l_returnflag, bin, COUNT(*) AS ct,
        |  1.0 + bin * 5.0 AS bin_lo, 1.0 + (bin + 1) * 5.0 AS bin_hi
        |FROM h GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "a11_profile" ->
      """SELECT 'o_custkey' AS col_name, count(o_custkey) AS non_null_ct,
        |  count(*) - count(o_custkey) AS null_ct,
        |  CAST(min(o_custkey) AS DOUBLE) AS min_val, CAST(max(o_custkey) AS DOUBLE) AS max_val,
        |  true AS distinct_in_tol
        |FROM orders
        |UNION ALL
        |SELECT 'o_totalprice', count(o_totalprice),
        |  count(*) - count(o_totalprice),
        |  CAST(min(o_totalprice) AS DOUBLE), CAST(max(o_totalprice) AS DOUBLE), true
        |FROM orders
        |ORDER BY col_name""".stripMargin,
    "a10_sketch_cube" ->
      """SELECT event_type, count(DISTINCT user_id) AS users, true AS users_in_tol
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "a9_heavy_hitters" ->
      """SELECT user_id, count(*) AS ct FROM events
        |GROUP BY 1 ORDER BY ct DESC, user_id LIMIT 10""".stripMargin,
    "a1_product_stats" ->
      """SELECT strftime(make_timestamp(epoch_us(ts) // 10000000 * 10000000), '%Y-%m-%d %H:%M:%S') AS stt,
        |  strftime(make_timestamp(epoch_us(ts) // 10000000 * 10000000 + 10000000), '%Y-%m-%d %H:%M:%S') AS edt,
        |  event_type, COUNT(*) AS ct,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS amount,
        |  COUNT(DISTINCT user_id) AS user_ct
        |FROM events GROUP BY 1, 2, 3 ORDER BY stt, event_type""".stripMargin,
    "a2_visitor_stats" ->
      """WITH flagged AS (
        |  SELECT *, CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |      OR epoch_us(ts)//1000000 - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))//1000000 > 1800
        |      THEN 1 ELSE 0 END AS sv
        |  FROM events)
        |SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS stt,
        |  event_type, COUNT(*) AS pv_ct, COUNT(DISTINCT user_id) AS uv_ct,
        |  CAST(SUM(sv) AS BIGINT) AS sv_ct,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS dur_sum
        |FROM flagged GROUP BY 1, 2 ORDER BY stt, event_type""".stripMargin,
    "a3_province_stats" ->
      """SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d %H:%M:%S') AS stt,
        |  n_name AS province_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS order_amount,
        |  COUNT(DISTINCT l_orderkey) AS order_count
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1, 2 ORDER BY stt, province_name""".stripMargin,
    "a4_keyword_stats" ->
      """WITH toks AS (
        |  SELECT source, unnest(str_split_regex(lower(text), '[^a-z0-9]+')) AS keyword
        |  FROM documents)
        |SELECT keyword, source, COUNT(*) AS ct FROM toks
        |WHERE keyword <> '' GROUP BY keyword, source
        |ORDER BY keyword, source""".stripMargin,
    "a5_distinct_sets" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS uv_ct, COUNT(*) AS pv_ct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "a6b_cube" ->
      """SELECT CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid,
        |  o_orderstatus, o_orderpriority, COUNT(*) AS ct,
        |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents_sum
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY gid, COALESCE(o_orderstatus, ''), COALESCE(o_orderpriority, '')""".stripMargin,
    "a6c_grouping_sets" ->
      """SELECT CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid,
        |  o_orderstatus, o_orderpriority, COUNT(*) AS ct,
        |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents_sum
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderpriority), ())
        |ORDER BY gid, COALESCE(o_orderstatus, ''), COALESCE(o_orderpriority, '')""".stripMargin,
    "a6_rollup" ->
      """SELECT CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid,
        |  o_orderstatus, o_orderpriority, COUNT(*) AS ct,
        |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents_sum
        |FROM orders
        |GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        |ORDER BY gid, COALESCE(o_orderstatus, ''), COALESCE(o_orderpriority, '')""".stripMargin,
    "a7_pivot" ->
      """SELECT user_id,
        |  COUNT(*) FILTER (WHERE event_type = 'click')    AS click,
        |  COUNT(*) FILTER (WHERE event_type = 'error')    AS error,
        |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  COUNT(*) FILTER (WHERE event_type = 'signup')   AS signup,
        |  COUNT(*) FILTER (WHERE event_type = 'view')     AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "a8_percentiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS p25,
        |  quantile_cont(l_quantity, 0.50) AS p50,
        |  quantile_cont(l_quantity, 0.75) AS p75,
        |  COUNT(*) AS ct
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "a8_percentiles_approx" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.50) AS p50,
        |  COUNT(*) AS ct,
        |  true AS p50_in_bounds
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "e1_funnel" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |            WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2
        |       FROM events e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.ts >= s1.t1
        |         AND e.ts <= s1.t1 + INTERVAL 24 HOUR GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3
        |       FROM events e JOIN s2 USING (user_id) JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.ts >= s2.t2
        |         AND e.ts <= s1.t1 + INTERVAL 24 HOUR GROUP BY 1)
        |SELECT s1.user_id, epoch_us(t1) AS t1_us, epoch_us(t2) AS t2_us,
        |  epoch_us(t3) AS t3_us,
        |  CAST(1 + CASE WHEN t2 IS NULL THEN 0 ELSE 1 END
        |         + CASE WHEN t3 IS NULL THEN 0 ELSE 1 END AS BIGINT) AS depth
        |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
        |ORDER BY user_id""".stripMargin,
    "e1_funnel_stream" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |            WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2
        |       FROM events e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.ts >= s1.t1
        |         AND e.ts <= s1.t1 + INTERVAL 24 HOUR GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3
        |       FROM events e JOIN s2 USING (user_id) JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.ts >= s2.t2
        |         AND e.ts <= s1.t1 + INTERVAL 24 HOUR GROUP BY 1)
        |SELECT s1.user_id, epoch_us(t1) AS t1_us, epoch_us(t2) AS t2_us,
        |  epoch_us(t3) AS t3_us,
        |  CAST(1 + CASE WHEN t2 IS NULL THEN 0 ELSE 1 END
        |         + CASE WHEN t3 IS NULL THEN 0 ELSE 1 END AS BIGINT) AS depth
        |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
        |ORDER BY user_id""".stripMargin,
    "e2_retention" -> retentionOracle,
    "e4_funnel_latency" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |            WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2
        |       FROM events e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.ts >= s1.t1
        |         AND e.ts <= s1.t1 + INTERVAL 24 HOUR GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3
        |       FROM events e JOIN s2 USING (user_id) JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.ts >= s2.t2
        |         AND e.ts <= s1.t1 + INTERVAL 24 HOUR GROUP BY 1),
        |l AS (SELECT s1.user_id,
        |        epoch_us(t2) - epoch_us(t1) AS lat2,
        |        epoch_us(t3) - epoch_us(t1) AS lat3
        |      FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id))
        |SELECT CAST(2 AS BIGINT) AS step, count(lat2) AS users,
        |  quantile_cont(lat2, 0.5) AS p50_us, quantile_cont(lat2, 0.75) AS p75_us
        |FROM l
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), count(lat3),
        |  quantile_cont(lat3, 0.5), quantile_cont(lat3, 0.75)
        |FROM l
        |ORDER BY step""".stripMargin,
    "e3_path_transitions" ->
      """WITH seq AS (SELECT event_type AS next_type,
        |  lag(event_type, 1, '_start')
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |m AS (SELECT prev_type, next_type, COUNT(*) AS ct
        |      FROM seq GROUP BY 1, 2)
        |SELECT prev_type, next_type, ct,
        |  CAST(ct * 1000000 // SUM(ct) OVER (PARTITION BY prev_type) AS BIGINT) AS prob_ppm
        |FROM m ORDER BY prev_type, next_type""".stripMargin,
    "a16_listagg" ->
      """SELECT user_id,
        |  string_agg(event_type, ',' ORDER BY ts, event_id) AS path,
        |  COUNT(*) AS path_len
        |FROM events GROUP BY 1 ORDER BY user_id""".stripMargin,
    // stream face: the machine is tie-blind at equal timestamps (a
    // same-ms touch attributes regardless of event-id order), rendered
    // here as a RANGE frame on ms alone — deterministic because the
    // fixture has no same-(user, ms) event pairs (verified both SFs);
    // the batch gate's ROWS frame carries the tie-ordered variant
    "e6_attribution_stream" ->
      """WITH e AS (SELECT user_id, event_id, event_type, ts, epoch_ms(ts) AS ms
        |  FROM events WHERE event_type IN ('purchase', 'view', 'click')),
        |s AS (SELECT *,
        |  last_value(CASE WHEN event_type <> 'purchase' THEN
        |      struct_pack(ms := ms, typ := event_type) END
        |    IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ms
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lt
        |  FROM e)
        |SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS conv_ts,
        |  event_id AS conv_id,
        |  CASE WHEN lt.ms >= ms - 3600000 THEN lt.typ END AS last_src_type,
        |  CASE WHEN lt.ms >= ms - 3600000 THEN lt.ms END AS last_src_ms
        |FROM s WHERE event_type = 'purchase' ORDER BY conv_id""".stripMargin,
    "e6_attribution" ->
      """WITH e AS (SELECT user_id, event_id, event_type, ts, epoch_ms(ts) AS ms
        |  FROM events WHERE event_type IN ('purchase', 'view', 'click')),
        |s AS (SELECT *,
        |  last_value(CASE WHEN event_type <> 'purchase' THEN
        |      struct_pack(ms := ms, tie := event_id, typ := event_type) END
        |    IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |      ROWS UNBOUNDED PRECEDING) AS lt,
        |  min(CASE WHEN event_type <> 'purchase' THEN
        |      struct_pack(ms := ms, tie := event_id, typ := event_type) END)
        |    OVER (PARTITION BY user_id ORDER BY ms
        |      RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW) AS ft
        |  FROM e)
        |SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS conv_ts,
        |  event_id AS conv_id,
        |  CASE WHEN lt.ms >= ms - 3600000 THEN lt.typ END AS last_src_type,
        |  CASE WHEN lt.ms >= ms - 3600000 THEN lt.ms END AS last_src_ms,
        |  ft.typ AS first_src_type, ft.ms AS first_src_ms
        |FROM s WHERE event_type = 'purchase' ORDER BY conv_id""".stripMargin,
    "a17_rfm" ->
      """WITH m AS (SELECT o_custkey,
        |    date_diff('day', MAX(o_orderdate), TIMESTAMP '2001-09-01') AS recency_days,
        |    COUNT(*) AS frequency,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS monetary_cents
        |  FROM orders GROUP BY 1)
        |SELECT c_custkey, CAST(recency_days AS BIGINT) AS recency_days,
        |  frequency, monetary_cents,
        |  CAST(ntile(4) OVER (ORDER BY recency_days, c_custkey) AS INT) AS r_quartile,
        |  CAST(ntile(4) OVER (ORDER BY frequency DESC, c_custkey) AS INT) AS f_quartile,
        |  CAST(ntile(4) OVER (ORDER BY monetary_cents DESC, c_custkey) AS INT) AS m_quartile,
        |  CAST(ntile(4) OVER (ORDER BY recency_days, c_custkey) * 100
        |     + ntile(4) OVER (ORDER BY frequency DESC, c_custkey) * 10
        |     + ntile(4) OVER (ORDER BY monetary_cents DESC, c_custkey) AS INT) AS rfm
        |FROM customer JOIN m ON c_custkey = o_custkey
        |ORDER BY c_custkey""".stripMargin,
    "e7_identity_stitch" ->
      """WITH RECURSIVE
        |dev AS (SELECT user_id, CAST(json_extract(props, '$.k') AS BIGINT) AS device,
        |               COUNT(*) AS ct
        |        FROM events GROUP BY 1, 2),
        |prim AS (SELECT user_id, device FROM (
        |  SELECT user_id, device,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY ct DESC, device) AS rn
        |  FROM dev) WHERE rn = 1),
        |edges AS (SELECT user_id AS src, device + 1000000 AS dst FROM prim
        |          UNION ALL SELECT device + 1000000 AS src, user_id AS dst FROM prim),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |labels AS (SELECT src AS id, least(src, min(dst)) AS cluster
        |           FROM reach GROUP BY src),
        |users AS (SELECT id AS user_id, cluster FROM labels WHERE id < 1000000),
        |sized AS (SELECT cluster, COUNT(*) AS n_users FROM users GROUP BY 1)
        |SELECT u.user_id, u.cluster AS identity_id, s.n_users
        |FROM users u JOIN sized s ON u.cluster = s.cluster
        |ORDER BY u.user_id""".stripMargin,
    "e8_triangles" ->
      """WITH supply AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        |co AS (SELECT a.l_suppkey AS src, b.l_suppkey AS dst, COUNT(*) AS shared
        |       FROM supply a JOIN supply b
        |         ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
        |       GROUP BY 1, 2),
        |thr AS (SELECT MAX(shared) - 10 AS m FROM co),
        |edges AS (SELECT src, dst FROM co, thr WHERE shared >= m)
        |SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        |FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
        |JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst
        |ORDER BY a, b, c""".stripMargin,
    "e5_pagerank" ->
      """WITH seq AS (SELECT event_type AS next_type,
        |  lag(event_type, 1, '_start')
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |e AS (SELECT prev_type AS src, next_type AS dst, COUNT(*) AS w
        |      FROM seq WHERE prev_type <> '_start' GROUP BY 1, 2),
        |sh AS (SELECT src, dst,
        |  CAST(w * 1000000 // SUM(w) OVER (PARTITION BY src) AS BIGINT) AS share
        |  FROM e),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst AS node FROM e),
        |nn AS (SELECT COUNT(*) AS n FROM nodes),
        |base AS (SELECT node, CAST(1000000000000 // n AS BIGINT) AS r0,
        |  CAST((1000000000000 // n) * 15 // 100 AS BIGINT) AS b FROM nodes, nn),
        |r0 AS (SELECT node, r0 AS r FROM base),
        |r1 AS (SELECT base.node, CAST(b + COALESCE(SUM(
        |    (p.r * sh.share // 1000000) * 85 // 100), 0) AS BIGINT) AS r
        |  FROM base LEFT JOIN sh ON sh.dst = base.node
        |  LEFT JOIN r0 p ON p.node = sh.src GROUP BY base.node, b),
        |r2 AS (SELECT base.node, CAST(b + COALESCE(SUM(
        |    (p.r * sh.share // 1000000) * 85 // 100), 0) AS BIGINT) AS r
        |  FROM base LEFT JOIN sh ON sh.dst = base.node
        |  LEFT JOIN r1 p ON p.node = sh.src GROUP BY base.node, b),
        |r3 AS (SELECT base.node, CAST(b + COALESCE(SUM(
        |    (p.r * sh.share // 1000000) * 85 // 100), 0) AS BIGINT) AS r
        |  FROM base LEFT JOIN sh ON sh.dst = base.node
        |  LEFT JOIN r2 p ON p.node = sh.src GROUP BY base.node, b)
        |SELECT node, r AS rank FROM r3 ORDER BY node""".stripMargin,
    "e3_path_sessions" ->
      """WITH seq AS (SELECT event_type AS next_type, ts,
        |  lag(event_type) OVER w AS pt, lag(ts) OVER w AS pts
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |m AS (SELECT CASE WHEN pt IS NULL OR epoch_ms(ts) - epoch_ms(pts) > 1800000
        |               THEN '_start' ELSE pt END AS prev_type,
        |             next_type, COUNT(*) AS ct
        |      FROM seq GROUP BY 1, 2)
        |SELECT prev_type, next_type, ct,
        |  CAST(ct * 1000000 // SUM(ct) OVER (PARTITION BY prev_type) AS BIGINT) AS prob_ppm
        |FROM m ORDER BY prev_type, next_type""".stripMargin,
    "e2_retention_stream" -> retentionOracle,
    "e2_retention_approx" ->
      """WITH fs AS (SELECT user_id, date_trunc('day', min(ts)) AS cohort_day
        |            FROM events GROUP BY 1)
        |SELECT strftime(cohort_day, '%Y-%m-%d %H:%M:%S') AS cohort_day,
        |  CAST(date_diff('day', cohort_day, date_trunc('day', e.ts)) AS BIGINT) AS day_offset,
        |  COUNT(DISTINCT e.user_id) AS users,
        |  true AS users_in_tol
        |FROM events e JOIN fs USING (user_id)
        |GROUP BY fs.cohort_day, 2 ORDER BY cohort_day, day_offset""".stripMargin)
}
