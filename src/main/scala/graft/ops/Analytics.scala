package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Reuse

/** Batch SQL-analytics surface — the capabilities the reference
  * exercises through Athena in
  * doc/DataDiscoveryAndConversation/DataDiscoveryAndConversation.rst
  * (per-source counts, UNION ALL, group-by-type, date_trunc
  * time-series, anomaly filters, day×type pivots) plus the core
  * relational operators any engine replacing it needs (multi-way
  * joins, semi/anti joins, windows, rollup, distinct).
  *
  * All aggregates over doubles are rounded to 4 decimals so results
  * are engine-portable (oracle parity without ulp drift); orderings
  * carry unique tiebreakers so output is fully deterministic.
  */
object Analytics {

  private def revenue: Column = col("l_extendedprice") * (lit(1) - col("l_discount"))

  /** TPC-H Q1-style pricing summary: single-pass multi-aggregate with
    * map-side partial aggregation; the shipdate filter is pushed to
    * the parquet scan. */
  def pricingSummary(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        round(sum(col("l_extendedprice")), 4).as("sum_base_price"),
        round(sum(revenue), 4).as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** TPC-H Q3-style: mktsegment-filtered customer ⋈ orders ⋈
    * lineitem, revenue top-10. customer grows with scale factor, so
    * no forced broadcast — AQE picks broadcast when the filtered side
    * fits and degrades to a shuffle join when it doesn't. */
  def topUnshipped(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    val ord  = Tables.orders(s, d)
      .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val li   = Tables.lineitem(s, d)
      .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(round(sum(revenue), 4).as("rev"))
      .select(col("o_orderkey"), col("rev"), col("o_orderdate"), col("o_orderpriority"))
      .orderBy(col("rev").desc, col("o_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5-style star join: orders⋈lineitem as the fact spine.
    * Only the FIXED-size dims (nation: 25 rows, region: 5) carry
    * broadcast hints; customer/supplier scale with SF, so their join
    * strategy is left to AQE — broadcast while they fit, shuffle
    * join past that, never an executor-OOM from a forced hint. */
  def regionRevenue(s: SparkSession, d: String): DataFrame = {
    val r  = Tables.region(s, d).filter(col("r_name") === "ASIA")
    val n  = Tables.nation(s, d)
    val c  = Tables.customer(s, d)
    val su = Tables.supplier(s, d)
    val o  = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1998-01-01").cast("timestamp"))
    val li = Tables.lineitem(s, d)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(su,
        col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(revenue), 4).as("rev"))
      .orderBy(col("rev").desc, col("n_name"))
  }

  /** Per-type counts — the reference's first discovery query
    * (DataDiscoveryAndConversation.rst "group by type"). */
  def countByType(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("ride_count"))
      .orderBy(col("event_type"))

  /** UNION ALL of per-source counts — mirrors the reference's
    * yellow/green/fhv count union (DataDiscoveryAndConversation). */
  def unionCounts(s: SparkSession, d: String): DataFrame = {
    // events goes through Tables.events, not raw load: the nanos
    // timestamp column makes a raw scan fail in a session that hasn't
    // set the legacy conf, and this query must be self-contained (the
    // count is identical either way — it never reads ts)
    def one(name: String): DataFrame = {
      val t = if (name == "events") Tables.events(s, d) else Tables.load(s, d, name)
      t.agg(count(lit(1)).as("n")).select(lit(name).as("src"), col("n"))
    }
    one("orders").union(one("lineitem")).union(one("events"))
      .orderBy(col("src"))
  }

  /** date_trunc('day') × type time series — reference cell 24. */
  def perDayType(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("day"), col("event_type"))

  /** day × event_type pivot matrix (reference cell 31 pivot_table).
    * Pivot values are declared so the plan needs no extra pass to
    * discover them; counts null-fill to 0 like the pandas pivot. */
  val eventTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")
  def pivotPerDay(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .pivot("event_type", eventTypes)
      .agg(count(lit(1)))
      .na.fill(0, eventTypes)
      .orderBy(col("day"))

  /** The q_funnel stages, which the versioned funnel audit replays. */
  private[graft] val funnelStageNames = Seq("view", "click", "purchase")

  /** Funnel analysis — the ordered-stage conversion count every
    * product-analytics pipeline runs on an events table: of the users
    * who VIEWED, how many then CLICKED (at or after their first
    * view), and then PURCHASED (at or after that click)? Stage k is
    * the earliest qualifying event at or after the user's stage-k−1
    * timestamp, so out-of-order events never count (a purchase before
    * any view is not a conversion).
    *
    * Shape: one map-side-combinable min per stage over the stage's
    * OWN filtered scan, chained through user-keyed equi-joins — the
    * user frame shrinks monotonically stage by stage, every join key
    * is the high-cardinality user id, no windows, no self-join of the
    * full table. Output: one row per stage with the surviving user
    * count (conversion reads top-down). */
  def funnel(s: SparkSession, d: String): DataFrame =
    funnelOn(Tables.events(s, d), funnelStageNames)

  /** Same over any (user_id, event_type, ts) frame. */
  def funnelOn(events: DataFrame, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val reached = funnelStages(events, stages)
    stages.zip(reached).zipWithIndex.map { case ((stage, users), i) =>
      users.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).as("stage"), lit(stage).as("event_type"),
          col("n_users"))
    }.reduce(_ union _).orderBy(col("stage"))
  }

  /** The chained per-user stage-arrival frames behind [[funnelOn]]
    * and [[funnelLatencyOn]]: element k = users who reached stage k,
    * with their earliest qualifying timestamp (stage k events count
    * only AT OR AFTER the user's stage-k−1 time). */
  private def funnelStages(events: DataFrame,
                           stages: Seq[String]): Seq[DataFrame] = {
    val ev = events.select(col("user_id"), col("event_type"), col("ts"))
    // NOT checkpointed, deliberately (r16 A/B): materializing each
    // stage frame measured SLOWER (q_funnel 0.85 → 0.93 s,
    // q_funnel_latency 0.93 → 0.99 s) — the per-stage subtrees are
    // cheap scan+agg chains whose identical exchanges AQE already
    // reuses at runtime, so the barrier jobs cost more than the
    // saved recompute.
    val first = ev.filter(col("event_type") === stages.head)
      .groupBy(col("user_id")).agg(min(col("ts")).as("__t"))
    stages.tail.scanLeft(first) { (prev, stage) =>
      ev.filter(col("event_type") === stage)
        .join(prev.select(col("user_id"), col("__t").as("__prev_t")), "user_id")
        .filter(col("ts") >= col("__prev_t"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("__t"))
    }
  }

  /** Conversion LATENCY — the question [[funnelOn]]'s counts don't
    * answer: how long do converting users take? Per funnel leg
    * (each consecutive stage pair + first→last), the converting-user
    * count and exact p50/p90 of the stage-to-stage delay in whole
    * seconds. Delays are exact integer µs differences floored to
    * seconds (both engines truncate non-negative integer division
    * identically; date-boundary-counting datediff functions disagree
    * on sub-second timestamps and never enter). Each leg is a
    * user-keyed join of two stage frames (stage j's users are a
    * subset of stage i's by construction) + one percentile aggregate
    * — the q_percentiles plan shape over frames that SHRINK with
    * funnel depth. */
  def funnelLatency(s: SparkSession, d: String): DataFrame =
    funnelLatencyOn(Tables.events(s, d), funnelStageNames)

  /** Same over any (user_id, event_type, ts) frame. */
  def funnelLatencyOn(events: DataFrame, stages: Seq[String]): DataFrame = {
    require(stages.size >= 2, "latency needs at least two stages")
    val st = funnelStages(events, stages)
    val consecutive = stages.indices.init.map(i => (i, i + 1))
    val legs = (consecutive :+ (0, stages.size - 1)).distinct
    legs.map { case (i, j) =>
      val a = st(i).select(col("user_id"), col("__t").as("__ta"))
      val b = st(j).select(col("user_id"), col("__t").as("__tb"))
      a.join(b, "user_id")
        .select(expr("(unix_micros(__tb) - unix_micros(__ta)) div 1000000")
          .as("dt"))
        .agg(count(lit(1)).as("n_users"),
          round(expr("percentile(dt, 0.5)"), 4).as("p50_s"),
          round(expr("percentile(dt, 0.9)"), 4).as("p90_s"))
        .select(lit(s"${stages(i)}->${stages(j)}").as("leg"),
          col("n_users"), col("p50_s"), col("p90_s"))
    }.reduce(_ union _).orderBy(col("leg"))
  }

  /** Cohort retention — the day-N stickiness matrix: users cohorted
    * by their FIRST-EVER event day, then each (cohort day, day
    * offset) cell counts the distinct cohort members active that day.
    * One min-per-user aggregate (map-side combinable), one user-keyed
    * join back, one distinct-count aggregate on (cohort, offset,
    * user) — shuffles keyed on the user id or the small cohort grid,
    * never a window, never a self-join. */
  def cohortRetention(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
    val cohorts = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    ev.join(cohorts, "user_id")
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("active_users"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** DAU/WAU — the engagement-stickiness pair: per event day, the
    * distinct users active THAT day and in the trailing 7 days
    * (inclusive). The trailing window is realized as a 7× SUPPORT
    * EXPLODE (each user-day votes for the 7 window days it belongs
    * to) feeding plain equi-keyed distinct aggregates — deliberately
    * not a day-range join, which plans a nested-loop over the day
    * grid and re-scans user-days per day; here everything is
    * map-side-combinable and keyed on (day, user). Exact distinct is
    * the declared face; at 100 TB swap countDistinct for
    * approx_count_distinct over the SAME support frame (mergeable
    * HLL, the q_distinct_approx trade). */
  def dauWau(s: SparkSession, d: String): DataFrame = {
    val ud = Tables.events(s, d)
      .select(date_trunc("day", col("ts")).as("day"), col("user_id"))
      .distinct()
    val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val support = ud.select(col("user_id"),
        explode(sequence(lit(0), lit(6))).as("off"), col("day"))
      .select(col("user_id"),
        expr("timestampadd(DAY, off, day)").as("day"))
    val wau = support.groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("wau"))
    // inner join trims the support tail (windows ending after the
    // last event day) to exactly the observed days
    dau.join(wau, "day")
      .select(col("day"), col("dau"), col("wau"))
      .orderBy(col("day"))
  }

  /** The HLL relative standard deviation of the checked distinct
    * faces and the profiles. */
  private val hllRsd = 0.02

  /** Driver-checkable face of [[dauWau]]'s 100 TB variant: the
    * trailing-window distinct is where exact dedup hurts at scale
    * (every user-day materializes 7 support rows into an exact
    * per-day distinct), so the declared scale face swaps
    * countDistinct for approx_count_distinct over the SAME support
    * explode — fixed-size mergeable HLL, map-side-combinable, no
    * distinct row expansion. This entry runs sketch beside exact and
    * collapses to the exact pair plus per-day tolerance verdicts
    * (|approx − exact| ≤ 5·rsd·exact, floor 1); the oracle replays
    * the exact side with literal TRUE flags, so sketch drift past
    * tolerance breaks the cross-engine hash (the q_distinct_approx
    * pattern). Single-distinct + HLL in one aggregate stays on the
    * object-hash path — no multi-distinct Expand rewrite fires. */
  def dauWauChecked(s: SparkSession, d: String): DataFrame = {
    val ud = Tables.events(s, d)
      .select(date_trunc("day", col("ts")).as("day"), col("user_id"))
      .distinct()
    val dau = ud.groupBy(col("day"))
      .agg(count(lit(1)).as("dau"),
           approx_count_distinct(col("user_id"), hllRsd).as("__da"))
    val support = ud.select(col("user_id"),
        explode(sequence(lit(0), lit(6))).as("off"), col("day"))
      .select(col("user_id"),
        expr("timestampadd(DAY, off, day)").as("day"))
    val wau = support.groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("wau"),
           approx_count_distinct(col("user_id"), hllRsd).as("__wa"))
    dau.join(wau, "day")
      .select(col("day"), col("dau"), col("wau"),
        (abs(col("__da") - col("dau")).cast("double") <=
          greatest(lit(5 * hllRsd) * col("dau"), lit(1.0)))
          .as("dau_within_tol"),
        (abs(col("__wa") - col("wau")).cast("double") <=
          greatest(lit(5 * hllRsd) * col("wau"), lit(1.0)))
          .as("wau_within_tol"))
      .orderBy(col("day"))
  }

  /** Cross-segment audience overlap via MERGEABLE DataSketches HLL —
    * the sketch algebra question exact distinct cannot answer at
    * scale: "how many users do segments A and B share?" needs
    * |A∪B|, and exact set union across every segment pair re-shuffles
    * the user universe per pair, while HLL sketches build ONCE per
    * segment (map-side combinable, fixed bytes) and union in O(2^lgK)
    * per pair on the driver-sized pair frame. Inclusion–exclusion
    * then gives the overlap: |A∩B| = n_A + n_B − |A∪B|.
    *
    * Checked face: the sketch estimate runs BESIDE the exact union
    * (user-keyed self-join of the distinct support — ≤ C(T,2) rows
    * per user, never a per-pair re-shuffle) and collapses to exact
    * values + tolerance verdicts; the oracle replays the exact side
    * with literal TRUE flags (the q_distinct_approx pattern), so
    * sketch drift past tolerance breaks the cross-engine hash.
    * lgK=14 ⇒ rsd ≈ 1.04/√2¹⁴ ≈ 0.8%; tol = 5·rsd·exact, floor 10. */
  def distinctUnionChecked(s: SparkSession, d: String): DataFrame =
    distinctUnionCheckedOn(Tables.events(s, d)
      .select(col("event_type"), col("user_id")))

  /** Same over any (event_type, user_id) membership frame. */
  def distinctUnionCheckedOn(ev: DataFrame): DataFrame = {
    val lgK = 14
    val rsd = 1.04 / math.sqrt(math.pow(2.0, lgK.toDouble))
    val u = ev.select(col("event_type"), col("user_id")).distinct()
      .transform(Reuse.shared) // feeds per-type agg + the overlap join
    val perType = u.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        hll_sketch_agg(col("user_id"), lit(lgK)).as("sk"))
    val pairs = perType.as("a").join(perType.as("b"),
        col("a.event_type") < col("b.event_type"))
      .select(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"),
        hll_sketch_estimate(hll_union(col("a.sk"), col("b.sk")))
          .as("__est_union"))
    val overlap = u.as("x").join(u.as("y"),
        col("x.user_id") === col("y.user_id") &&
          col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("type_a"),
        col("y.event_type").as("type_b"))
      .agg(count(lit(1)).as("__ov"))
    val tol = (exact: Column) =>
      greatest(lit(5.0 * rsd) * exact.cast("double"), lit(10.0))
    pairs.join(overlap, Seq("type_a", "type_b"), "left")
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        (col("n_a") + col("n_b") - coalesce(col("__ov"), lit(0L)))
          .as("union_exact"),
        coalesce(col("__ov"), lit(0L)).as("overlap_exact"),
        col("__est_union"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("union_exact"), col("overlap_exact"),
        (abs(col("__est_union") - col("union_exact")).cast("double") <=
          tol(col("union_exact"))).as("union_within_tol"),
        (abs((col("n_a") + col("n_b") - col("__est_union")) -
          col("overlap_exact")).cast("double") <=
          tol(col("union_exact"))).as("overlap_within_tol"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** The length of the Q10, session-path, event-n-gram and
    * market-basket top lists. */
  private val listTopN = 20

  /** TPC-H Q10 (returned-item reporting): which customers returned
    * the most revenue in a quarter — the churn-risk outreach list.
    * Customer/nation broadcast onto the orders∧lineitem join (AQE
    * picks broadcast at verify SF; at 100 TB customer shuffles and
    * lineitem still prunes on the pushed returnflag+quarter filters
    * BEFORE the join). Revenue quantizes per-row to DECIMAL before
    * summing — exact, order-independent (the rounded-metric rule;
    * q5's raw double sum predates it and is pinned). */
  def returnedItemReport(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
    val li = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
        col("n_name"))
      .agg(sum(round(revenue, 4).cast("decimal(18,4)")).as("__rev"))
      .select(col("c_custkey"), col("c_name"),
        round(col("__rev").cast("double"), 4).as("revenue"),
        col("c_acctbal"), col("n_name"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(listTopN)
  }

  /** TPC-H Q6 (forecasting revenue change): the what-if scan — how
    * much revenue would vanish if discounts in a band were dropped
    * for a year. ONE pushed-filter scan, one scalar DECIMAL
    * aggregate: no join, no shuffle beyond the final single-row
    * combine — the cheapest query in the benchmark and the classic
    * pushdown litmus (PushedFilters must carry all three predicates). */
  def revenueChange(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(round(sum(round(col("l_extendedprice") * col("l_discount"), 4)
        .cast("decimal(18,4)")).cast("double"), 4).as("revenue"))

  /** TPC-H Q4-flavored late-shipment priority report (the schema
    * here has no commit/receipt dates, so "late" = any lineitem
    * shipped > 90 days after the order date): per priority, orders
    * in the quarter with at least one late shipment — an EXISTS
    * semi-join, never a row-multiplying inner join (an order with
    * five late lines must count once). */
  def latePriorityReport(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
    o.join(Tables.lineitem(s, d),
        col("l_orderkey") === col("o_orderkey") &&
          expr("l_shipdate > o_orderdate + interval 90 day"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** Out-of-range timestamp detection — the reference hunts rides
    * with pickup in 2088 (DataDiscoveryAndConversation cell 30). */
  def anomalyFilter(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("2001-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** JSON field extraction from the events.props payload column. */
  def jsonExtract(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(get_json_object(col("props"), "$.k").cast("long").as("k"),
              col("value"))
      .groupBy((col("k") % 10).as("k_bucket"))
      .agg(count(lit(1)).as("n"), round(avg(col("value")), 4).as("avg_value"))
      .orderBy(col("k_bucket"))

  /** Customers with ≥1 open order — EXISTS as a left-semi join (no
    * row duplication, orders side never materialized in output). */
  def semiJoin(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d).filter(col("o_orderstatus") === "O"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  /** Customers with no urgent-priority order — NOT EXISTS as left-anti. */
  def antiJoin(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  /** Per-user running sum + row_number. Frame is ROWS-based with a
    * unique (ts, event_id) ordering so results are deterministic. */
  def windowRunning(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
        round(sum(col("value")).over(w.rowsBetween(Window.unboundedPreceding, 0)), 4)
          .as("running_value"),
        row_number().over(w).as("rn"))
      .orderBy(col("user_id"), col("rn"))
  }

  /** Top-3 events by value per type via ranked window. */
  def topkPerGroup(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value").desc, col("event_id"))
    Tables.events(s, d)
      .select(col("event_type"), col("event_id"), col("value"),
        row_number().over(w).as("rk"))
      .filter(col("rk") <= 3)
      .orderBy(col("event_type"), col("rk"))
  }

  /** The shared output contract of the rollup/grouping-sets/cube
    * family: revenue + count per group, null grouping slots coalesced
    * to the 'ALL' sentinel, totally ordered. One definition — a
    * rounding or sentinel change cannot silently diverge the three
    * entries (each still carries its own oracle string). Revenue sums
    * per-row EXACT 1e-4 micro units (LONG) and publishes /1e4 (the
    * r11 contract): sum(double) is accumulation-order-dependent, and
    * at the grand-total magnitude (~1e10, where a double ulp is
    * ~2e-3) the ulp drift is VISIBLE at 4dp — caught by the
    * derived-scale sweep on all three entries' total rows. The first
    * exact fix summed DECIMAL(18,4), equally correct but ~3× slower
    * than this LONG sum (decimal128 aggregation falls out of the
    * vectorized path; integer sums stay whole-stage-codegen'd). */
  private def flagStatusAgg(
      grouped: org.apache.spark.sql.RelationalGroupedDataset): DataFrame =
    grouped
      .agg((sum(round(col("l_extendedprice") * 10000).cast("long")) / 10000.0)
        .as("rev"),
        count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("rev"), col("n"))
      .orderBy(col("flag"), col("status"))

  /** Hierarchical aggregate: ROLLUP(returnflag, linestatus) in one
    * shuffle (Spark expands grouping sets map-side). */
  def rollupAgg(s: SparkSession, d: String): DataFrame =
    flagStatusAgg(
      Tables.lineitem(s, d).rollup(col("l_returnflag"), col("l_linestatus")))

  /** Arbitrary GROUPING SETS — the general form `rollup`/`cube`
    * specialize: {(flag, status), (status), ()} computed in ONE
    * shuffle (Spark expands the sets map-side; the naive alternative
    * unions three separate aggregates and re-scans the fact table per
    * set). The (status)-only set is precisely what rollup cannot
    * express — the hierarchy inverted. */
  def groupingSetsAgg(s: SparkSession, d: String): DataFrame =
    flagStatusAgg(
      Tables.lineitem(s, d).groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus")))

  /** CUBE(returnflag, linestatus): all four grouping sets in one
    * shuffle — completes the rollup / grouping-sets / cube family.
    * Distinguishing the (flag)-only set from rollup's output needs
    * the per-column slice the other two never produce. */
  def cubeAgg(s: SparkSession, d: String): DataFrame =
    flagStatusAgg(
      Tables.lineitem(s, d).cube(col("l_returnflag"), col("l_linestatus")))

  /** INTERSECT / EXCEPT set semantics at (user, day) grain — the two
    * set operators the union entry doesn't cover, each a distinct
    * physical shape (left-semi-distinct vs left-anti-distinct on the
    * full row): days a user both clicked and viewed, and click-days
    * with no view. One tagged output so both faces sit under one
    * oracle. */
  def setOps(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"),
        col("event_type"))
    def days(t: String) = ev.filter(col("event_type") === t)
      .select(col("user_id"), col("day")).distinct()
    val clicks = days("click")
    val views = days("view")
    clicks.intersect(views)
      .select(lit("both").as("segment"), col("user_id"), col("day"))
      .unionByName(clicks.except(views)
        .select(lit("click_only").as("segment"), col("user_id"), col("day")))
      .orderBy(col("segment"), col("user_id"), col("day"))
  }

  /** The rank-function family in one window pass: quartile bucket
    * (ntile), relative rank, and cumulative distribution per event
    * within its type — the percentile-style labeling analytics
    * dashboards put on every metric. One shuffle on the partition
    * key; deterministic under value ties via the event_id tiebreak. */
  def rankFunctions(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value"), col("event_id"))
    Tables.events(s, d)
      .select(col("event_type"), col("event_id"), col("value"),
        ntile(4).over(w).as("quartile"),
        round(percent_rank().over(w), 4).as("pct_rank"),
        round(cume_dist().over(w), 4).as("cume"))
      .orderBy(col("event_type"), col("event_id"))
  }

  /** Time-RANGE window frame: each event's trailing-30-minute sum of
    * `value` for its user — the "activity in the last N minutes"
    * feature rows-frames cannot express (row counts ≠ time spans when
    * events arrive unevenly). The frame orders on epoch seconds so
    * the bound is an exact integer interval on both engines, and the
    * sum runs over DECIMAL-quantized values: engines disagree on
    * windowed-double association (Spark rebuilds sliding frames
    * left-to-right, DuckDB uses segment trees), and an exact
    * associative sum makes that implementation detail unobservable. */
  def windowTimeRange(s: SparkSession, d: String): DataFrame = {
    val trailingSec = 1800L
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("__sec"))
      .rangeBetween(-trailingSec, 0)
    Tables.events(s, d)
      .withColumn("__sec", col("ts").cast("long"))
      .select(col("user_id"), col("event_id"), col("ts"),
        round(sum(col("value").cast("decimal(18,6)")).over(w)
          .cast("double"), 4).as("trailing_value"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Exact distinct counts. The HLL approx_count_distinct variant,
    * [[distinctCountChecked]], checks its estimator-specific values
    * against these counts in-plan. */
  def distinctCount(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .agg(countDistinct(col("user_id")).as("users"),
           countDistinct(col("event_type")).as("types"))

  /** Fixed-width value histogram per event type — the profiling
    * primitive behind any distribution dashboard. Bounds come from a
    * broadcast single-row min/max aggregate (no driver round-trip).
    * Binning is explicit arithmetic — (value−lo)·n/(hi−lo), floored
    * and capped — because IEEE subtract/multiply/divide/floor are
    * bit-identical across engines (width_bucket is not universally
    * available and its edge semantics vary). */
  def histogram(s: SparkSession, d: String): DataFrame = {
    val nBins = 10
    val ev = Tables.events(s, d)
    val bounds = ev.agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
    // hi == lo (constant column) guard: the division is NaN and
    // engines disagree on NaN ordering inside least — pin bin 1
    val bin = when(col("hi") === col("lo"), lit(1L)).otherwise(least(
      floor((col("value") - col("lo")) * nBins / (col("hi") - col("lo"))),
      lit((nBins - 1).toLong)) + 1)
    ev.crossJoin(broadcast(bounds))
      .select(col("event_type"), bin.as("bin"))
      .groupBy(col("event_type"), col("bin"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("event_type"), col("bin"))
  }

  /** SQL-text quoting for builder-authored selectExpr fragments:
    * column names with spaces/dots/hyphens parse only when backtick-
    * quoted, and a quote inside a name must not corrupt the string
    * literal the stacked profile carries it in. */
  private def bqId(n: String): String = "`" + n.replace("`", "``") + "`"
  private def sqLit(n: String): String =
    "'" + n.replace("\\", "\\\\").replace("'", "\\'") + "'"

  /** Single-pass column profile — the crawler's "discover stats" step:
    * row count, null count, and distinct count per column, one scan
    * for all columns (the metrics stack into long format after the
    * aggregate, not via per-column scans).
    *
    * `approx = true` swaps the exact distinct for HLL++
    * (approx_count_distinct at `hllRsd`): exact multi-distinct expands
    * the aggregate into one replicated pass per distinct column —
    * the one piece of this surface that does NOT survive 100 TB
    * column cardinalities — while the sketches are fixed-size,
    * mergeable, and keep the whole profile map-side-combinable. */
  def profile(df: DataFrame, cols: Seq[String],
              approx: Boolean = false): DataFrame = {
    val aggs = cols.flatMap { c => Seq(
      count(lit(1)).as(s"__n_$c"),
      sum(when(col(bqId(c)).isNull, 1L).otherwise(0L)).as(s"__null_$c"),
      (if (approx) approx_count_distinct(col(bqId(c)), hllRsd)
       else countDistinct(col(bqId(c)))).as(s"__dist_$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    // stack takes a FLAT argument list; consecutive args form rows
    val stacked = cols.map { c =>
      s"${sqLit(c)}, ${bqId(s"__n_$c")}, ${bqId(s"__null_$c")}, " +
        s"${bqId(s"__dist_$c")}" }.mkString(", ")
    one.selectExpr(
        s"stack(${cols.length}, $stacked) AS (column, n_rows, n_nulls, n_distinct)")
      .orderBy(col("column"))
  }

  /** Constraint SUGGESTION from the profile (the Deequ
    * ConstraintSuggestion posture): turn observed single-pass stats
    * into the data-quality rules a pipeline should then ENFORCE with
    * etl_expectations — the missing first step of the
    * profile→suggest→check loop (profiling tells you numbers;
    * suggestion turns numbers into commitments). Per column:
    * NOT_NULL when no nulls observed, UNIQUE when distinct = rows,
    * IN_SET when the vocabulary is small (≤ `inSetMax`), and for
    * numeric columns the observed [min, max] RANGE (4dp, the
    * candidate bounds check). One aggregate scan for every column —
    * the [[profile]] plan with min/max riding the same pass; the
    * stack to long format is row-cardinality m (columns), free at
    * any scale. */
  def suggestRules(df: DataFrame, cols: Seq[String]): DataFrame = {
    val inSetMax = 20L
    import org.apache.spark.sql.types.NumericType
    val numeric = df.schema.fields
      .filter(f => f.dataType.isInstanceOf[NumericType]).map(_.name).toSet
    val aggs = cols.flatMap { c => Seq(
      count(lit(1)).as(s"__n_$c"),
      sum(when(col(bqId(c)).isNull, 1L).otherwise(0L)).as(s"__null_$c"),
      countDistinct(col(bqId(c))).as(s"__dist_$c")) ++
      (if (numeric(c))
        Seq(round(min(col(bqId(c))).cast("double"), 4).as(s"__min_$c"),
            round(max(col(bqId(c))).cast("double"), 4).as(s"__max_$c"))
      else
        Seq(lit(null).cast("double").as(s"__min_$c"),
            lit(null).cast("double").as(s"__max_$c")))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    // the stacked selectExpr interpolates COLUMN NAMES into SQL text
    // — quote them (the Column-API half above already handled such
    // names fine)
    val stacked = cols.map { c =>
      s"${sqLit(c)}, ${bqId(s"__n_$c")}, ${bqId(s"__null_$c")}, " +
        s"${bqId(s"__dist_$c")}, ${bqId(s"__null_$c")} = 0, " +
        s"${bqId(s"__dist_$c")} = ${bqId(s"__n_$c")} - " +
        s"${bqId(s"__null_$c")}, " +
        s"${bqId(s"__dist_$c")} <= ${inSetMax}L, " +
        s"${bqId(s"__min_$c")}, ${bqId(s"__max_$c")}"
    }.mkString(", ")
    one.selectExpr(
        s"stack(${cols.length}, $stacked) AS (column, n_rows, n_nulls, " +
          "n_distinct, suggest_not_null, suggest_unique, suggest_in_set, " +
          "range_lo, range_hi)")
      .orderBy(col("column"))
  }

  /** Driver-checkable face of the approx profiler: exact and HLL++
    * distincts side by side, stacked to long format with the exact
    * count plus an in-plan tolerance verdict (|sketch − exact| ≤
    * 5·rsd·exact, floor 1). The oracle replays the exact profile
    * with literal TRUE flags, so sketch drift fails the cross-engine
    * hash — [[distinctCountChecked]]'s contract applied per column.
    *
    * The exact and sketch tiers aggregate SEPARATELY (two scans,
    * cross-joined single rows) on purpose: multiple `countDistinct`s
    * compile through the distinct-rewrite Expand, and dropping the
    * imperative HLL buffers into that same aggregate forces the
    * whole thing off hash aggregation — measured 3.5s vs 0.8s + 0.8s
    * for the split at sf0.1. A verification face pays the second
    * scan; the production 100 TB profile is the sketch-only
    * [[profile]] (one pass, mergeable, no Expand). */
  def profileChecked(df: DataFrame, cols: Seq[String]): DataFrame = {
    val exactAggs = cols.flatMap { c => Seq(
      count(lit(1)).as(s"__n_$c"),
      sum(when(col(bqId(c)).isNull, 1L).otherwise(0L)).as(s"__null_$c"),
      countDistinct(col(bqId(c))).as(s"__dist_$c"))
    }
    val approxAggs = cols.map { c =>
      approx_count_distinct(col(bqId(c)), hllRsd).as(s"__adist_$c") }
    val one = df.agg(exactAggs.head, exactAggs.tail: _*)
      .crossJoin(df.agg(approxAggs.head, approxAggs.tail: _*))
    val stacked = cols.map { c =>
      s"${sqLit(c)}, ${bqId(s"__n_$c")}, ${bqId(s"__null_$c")}, " +
        s"${bqId(s"__dist_$c")}, " +
        s"CAST(abs(${bqId(s"__adist_$c")} - ${bqId(s"__dist_$c")}) " +
        s"AS DOUBLE) <= " +
        s"greatest(${5 * hllRsd} * ${bqId(s"__dist_$c")}, 1.0d)"
    }.mkString(", ")
    one.selectExpr(
        s"stack(${cols.length}, $stacked) AS " +
          "(column, n_rows, n_nulls, n_distinct, distinct_within_tol)")
      .orderBy(col("column"))
  }

  /** HLL++ approximate distinct counts, checked — the shape that
    * survives 100 TB: the sketch is fixed-size and mergeable, so the
    * aggregate stays map-side-combinable with no exact-distinct row
    * expansion. Sketch and exact distinct run side by side,
    * collapsed to the exact counts plus an IN-PLAN tolerance verdict
    * (|approx − exact| ≤ 5·rsd·exact, absolute floor 1 for tiny
    * cardinalities). The oracle emits the
    * same exact counts with literal TRUE flags, so the cross-engine
    * hash compare FAILS exactly when the sketch drifts out of
    * tolerance — the emb_mrl_recall pattern, promoting the approx
    * tier from rows-only to a real correctness gate. */
  def distinctCountChecked(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .agg(countDistinct(col("user_id")).as("users_exact"),
           countDistinct(col("event_type")).as("types_exact"),
           approx_count_distinct(col("user_id"), hllRsd).as("__ua"),
           approx_count_distinct(col("event_type"), hllRsd).as("__ta"))
      .select(col("users_exact"), col("types_exact"),
        (abs(col("__ua") - col("users_exact")).cast("double") <=
          greatest(lit(5 * hllRsd) * col("users_exact"), lit(1.0)))
          .as("users_within_tol"),
        (abs(col("__ta") - col("types_exact")).cast("double") <=
          greatest(lit(5 * hllRsd) * col("types_exact"), lit(1.0)))
          .as("types_within_tol"))

  /** Per-type approximate percentiles (Greenwald-Khanna quantile
    * sketch via percentile_approx — bounded-memory, mergeable, the
    * 100 TB replacement for the exact per-group sort), checked: GK
    * guarantees RANK error (≤ 1/accuracy), not value error, so the
    * in-plan verdict brackets each sketch quantile between the EXACT
    * quantiles at p ± δ (δ = 0.005 ≫ the 1e-4 guarantee; p99's
    * upper bracket is the max). Output = exact percentiles + the
    * three verdicts; the oracle replays the exact side (quantile_cont
    * ≡ Spark percentile interpolation) with literal TRUE flags, so
    * a sketch outside its bracket breaks the cross-engine hash. */
  def percentilesChecked(s: SparkSession, d: String): DataFrame = {
    val accuracy = 10000
    val delta = 0.005
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.95)"), 4).as("p95"),
        round(expr("percentile(value, 0.99)"), 4).as("p99"),
        expr(s"percentile_approx(value, 0.5, $accuracy)").as("__a50"),
        expr(s"percentile_approx(value, 0.95, $accuracy)").as("__a95"),
        expr(s"percentile_approx(value, 0.99, $accuracy)").as("__a99"),
        expr(s"percentile(value, array(${0.5 - delta}, ${0.5 + delta}, " +
          s"${0.95 - delta}, ${0.95 + delta}, ${0.99 - delta}))").as("__br"),
        max(col("value")).as("__mx"))
      .select(col("event_type"), col("p50"), col("p95"), col("p99"),
        (col("__a50") >= element_at(col("__br"), 1) &&
         col("__a50") <= element_at(col("__br"), 2)).as("p50_within_tol"),
        (col("__a95") >= element_at(col("__br"), 3) &&
         col("__a95") <= element_at(col("__br"), 4)).as("p95_within_tol"),
        (col("__a99") >= element_at(col("__br"), 5) &&
         col("__a99") <= col("__mx")).as("p99_within_tol"))
      .orderBy(col("event_type"))
  }

  /** Per-type exact interpolated percentiles — the declared
    * SMALL-GROUP face (like dedup_embedding's exact baseline): the
    * plan aggregates partially (map-side partial_percentile buffers,
    * one exchange on the group key — audited in BASELINE.md), but the
    * buffer is a value→count map that grows with the group's distinct
    * values, the honest cost of exactness. At 100 TB with huge groups
    * switch to the GK sketch of [[percentilesChecked]] (fixed-size
    * mergeable buffers) and accept its bounded rank error. */
  def percentiles(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.95)"), 4).as("p95"),
        round(expr("percentile(value, 0.99)"), 4).as("p99"))
      .orderBy(col("event_type"))

  /** FULL OUTER reconciliation — the join the audit runs when neither
    * side is authoritative: dimension rows with no facts AND facts
    * with no dimension row must BOTH surface (a left join hides the
    * latter, an inner join hides both). Here: the even-custkey half
    * of the customer dim against per-customer aggregates over the
    * div-by-3-custkey slice of orders (the slice this audit covers) —
    * even customers outside the slice carry null aggregates, odd
    * in-slice customers carry a null name; both shapes exist at every
    * scale by construction. Aggregates are count/max (order-
    * independent — no double-sum drift through the outer join).
    * Plan: one shuffle each side on the join key, SortMergeJoin
    * (full outer cannot broadcast); at scale this is the standard
    * keyed reconciliation shape. */
  def fullOuterReconcile(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d).filter(col("c_custkey") % 2 === 0)
      .select(col("c_custkey").as("custkey"), col("c_name"))
    val ords = Tables.orders(s, d)
      .filter(col("o_custkey") % 3 === 0)
      .groupBy(col("o_custkey").as("custkey"))
      .agg(count(lit(1)).as("n_orders"),
        round(max(col("o_totalprice")), 4).as("max_price"))
    cust.join(ords, Seq("custkey"), "full_outer")
      .select(col("custkey"), col("c_name"), col("n_orders"),
        col("max_price"))
      .orderBy(col("custkey"))
  }

  /** Quantile binning (NTILE deciles) — the feature-engineering
    * discretization step: per event type, rank values into 10
    * equal-count bins over a DETERMINISTIC total order (value, then
    * event_id — ties must not depend on partitioning) and summarize
    * each bin. One shuffle on the series key; the window and the
    * summary aggregate share that partitioning. */
  def ntileBins(s: SparkSession, d: String): DataFrame = {
    val bins = 10
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value"), col("event_id"))
    Tables.events(s, d)
      .withColumn("decile", ntile(bins).over(w))
      .groupBy(col("event_type"), col("decile"))
      .agg(count(lit(1)).as("n"),
        round(min(col("value")), 4).as("lo"),
        round(max(col("value")), 4).as("hi"))
      .orderBy(col("event_type"), col("decile"))
  }

  /** Adoption curve: per event type and day, how many users touch
    * that type for the FIRST time, and the running total of users
    * who have ever used it — the growth view a per-day cumulative
    * `count(distinct)` would recompute quadratically. One
    * aggregation finds each (user, type) first day (the heavy,
    * data-sized step — map-side combinable), a second folds
    * first-days into per-day adoption counts, and the running sum
    * windows over the CALENDAR-sized per-type daily frame
    * (partitioned by type, one row per day — bounded by time, not
    * data). */
  def userGrowth(s: SparkSession, d: String): DataFrame = {
    val firstSeen = Tables.events(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(date_trunc("day", col("ts"))).as("day"))
    val perDay = firstSeen.groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("new_users"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    perDay
      .withColumn("cum_users", sum(col("new_users")).over(w))
      .orderBy(col("event_type"), col("day"))
  }

  /** Chi-square independence test between two categorical columns —
    * the statistical face of profiling: is language independent of
    * source, or does one domain skew toward one language (a bias
    * check a corpus audit runs before training)? χ² = Σ(o−e)²/e over
    * the contingency cells with e = rowTotal·colTotal/N, plus
    * Cramér's V (√(χ²/N/min(R−1,C−1))) so the effect size is
    * comparable across table shapes.
    *
    * Exactness at scale: observed counts and margins are integers
    * (exact in doubles well past any real cardinality); the row
    * margin casts to double BEFORE multiplying the column margin so
    * the product cannot overflow a long at 100 TB row counts;
    * per-cell contributions quantize to DECIMAL before the final sum
    * (order-independent, the repo contract). One count aggregation +
    * two margin aggregations over the CELLS (cardinality R×C, not
    * rows) — the raw table is scanned once. */
  def chi2Independence(df: DataFrame, a: String, b: String): DataFrame = {
    val cells = df.groupBy(col(a), col(b)).agg(count(lit(1)).as("o"))
    val rt = cells.groupBy(col(a)).agg(sum(col("o")).as("ra"))
    val ct = cells.groupBy(col(b)).agg(sum(col("o")).as("cb"))
    val tot = cells.agg(sum(col("o")).as("n"),
      count_distinct(col(a)).as("r"), count_distinct(col(b)).as("c"))
    val e = col("ra").cast("double") * col("cb") / col("n")
    // the FULL R×C grid, not just observed cells: an empty cell still
    // contributes (0−e)²/e = e — dropping zeros understates χ²
    // (and breaks the diagonal-table V = 1 identity)
    rt.crossJoin(ct)
      .join(cells, Seq(a, b), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("__contrib",
        (((col("o") - e) * (col("o") - e)) / e).cast("decimal(20,10)"))
      .groupBy(col("n"), col("r"), col("c"))
      .agg(sum(col("__contrib")).as("__chi2"))
      .select(
        round(col("__chi2").cast("double"), 4).as("chi2"),
        ((col("r") - 1) * (col("c") - 1)).as("dof"),
        col("n").as("n_rows"),
        round(sqrt(col("__chi2").cast("double") / col("n") /
          least(col("r") - 1, col("c") - 1)), 4).as("cramers_v"))
  }

  /** Winsorization — robust feature prep: clip each value into its
    * series' [p05, p95] band so tail outliers stop dominating scale-
    * sensitive downstream models. Thresholds are the exact
    * interpolated percentiles ROUNDED to 4dp before use (the repo's
    * rounded-metric rule: a raw interpolated threshold can differ
    * between engines by an ulp, and a row comparing against it could
    * flip sides); clipped values are quantized to DECIMAL before the
    * mean so the per-series summary is aggregation-order independent
    * (the emb_centroids contract). Plan: one percentile aggregation,
    * a broadcast-sized threshold join back, row-local clipping, one
    * summary aggregation — two shuffles on the series key total. */
  def winsorize(s: SparkSession, d: String): DataFrame = {
    val lo = 0.05
    val hi = 0.95
    val bounds = Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(round(expr(s"percentile(value, $lo)"), 4).as("lo"),
        round(expr(s"percentile(value, $hi)"), 4).as("hi"))
    Tables.events(s, d)
      .join(broadcast(bounds), "event_type")
      .withColumn("clipped", least(greatest(col("value"), col("lo")), col("hi")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") < col("lo"), 1L).otherwise(0L)).as("n_clip_lo"),
        sum(when(col("value") > col("hi"), 1L).otherwise(0L)).as("n_clip_hi"),
        sum(round(col("clipped"), 4).cast("decimal(20,10)")).as("__s"),
        first(col("lo")).as("lo"), first(col("hi")).as("hi"))
      .select(col("event_type"), col("n"), col("n_clip_lo"), col("n_clip_hi"),
        round(col("__s").cast("double") / col("n"), 4).as("mean_clipped"),
        col("lo"), col("hi"))
      .orderBy(col("event_type"))
  }

  /** Key-distribution profile: the diagnostic you run BEFORE picking a
    * join/aggregation strategy at scale. For the heaviest `topN` keys
    * it reports absolute frequency, share of all rows, and the skew
    * ratio versus a perfectly uniform key (share × distinct-key
    * count): a key at `skew` ≈ 1 is average, a key at `skew` ≥ 100
    * is the one that makes a plain shuffled join strangle one task —
    * route it to [[SkewOps.saltedJoin]] or rely on AQE skew handling.
    *
    * Plan shape: one map-side-combinable count per key, a scalar
    * (sum, count) reduction over the per-key counts, and a
    * TakeOrdered for the top-N — no global sort, no second scan of
    * the fact table; the profile costs one aggregation regardless of
    * data size. */
  def skewProfile(df: DataFrame, key: Column, topN: Int = 20): DataFrame = {
    val counts = df.groupBy(key.as("key")).agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(sum(col("cnt")).as("n"), count(lit(1)).as("d"))
    // share/skew publish as EXACT integer half-up division of the
    // rational (x·1e4 rounded = (x·2e4 + n) div 2n) — the off-grid
    // sf0.004 sweep caught round(cnt/n, 4) on a true half-boundary
    // (71/4000 = .01775) where Spark (shortest-decimal HALF_UP) and
    // DuckDB (binary-double round) publish differently; widened to
    // DECIMAL(38,0) because cnt·d·2e4 outgrows BIGINT at corpus scale
    counts.orderBy(col("cnt").desc, col("key")).limit(topN)
      .crossJoin(broadcast(totals))
      .select(col("key"), col("cnt"),
        ExactRatio.r4(col("cnt"), col("n")).as("share"),
        ExactRatio.r4(col("cnt").cast("decimal(38,0)") * col("d"),
          col("n")).as("skew"))
      .orderBy(col("cnt").desc, col("key"))
  }

  /** Per-series least-squares trend: slope / intercept / R² of daily
    * event counts against a day index, per (event_type, user cohort).
    * This is the trend-feature step of the reference's feature
    * engineering (GluePySparkMLFeatureEngineering.ipynb builds exactly
    * such per-series summaries before DeepAR) expressed as the ANSI
    * `REGR_*` aggregate family — single-pass, map-side-combinable
    * moment sums, one exchange on the series key, no per-series sort
    * and no iteration. At 100 TB this is the cheapest possible
    * regression: the same plan shape as a SUM. */
  def linregTrend(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"), (col("user_id") % 10).as("cohort"),
        date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("event_type"), col("cohort"),
        datediff(col("day"), to_date(lit("2024-01-01"))).cast("double").as("x"),
        col("cnt").cast("double").as("y"))
      .groupBy(col("event_type"), col("cohort"))
      .agg(
        count(lit(1)).as("n_days"),
        round(regr_slope(col("y"), col("x")), 4).as("slope"),
        round(regr_intercept(col("y"), col("x")), 4).as("intercept"),
        round(regr_r2(col("y"), col("x")), 4).as("r2"))
      .orderBy(col("event_type"), col("cohort"))

  /** First-order Markov transition matrix over each user's event
    * stream — the user-journey model behind "what do users do after a
    * click?". One window pass per user pairs each event with its
    * successor (LEAD), then transition counts aggregate over the
    * R×R type grid — cell-cardinality work after a single shuffle on
    * the user key (the minimum the per-user ordering semantics
    * allow). Probabilities normalize per source state; the totals
    * side is R rows, so the normalizing join is a broadcast.
    * Ordering ties break on event_id, and the oracle orders on the
    * µs-truncated timestamp so both engines see the same sequence. */
  def markovTransitions(s: SparkSession, d: String): DataFrame =
    markovTransitionsOn(Tables.events(s, d))

  /** Same over any (user_id, ts, event_id, event_type) frame. */
  def markovTransitionsOn(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
    val cells = pairs
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = cells.groupBy(col("from_type")).agg(sum(col("n")).as("tot"))
    cells.join(broadcast(totals), "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        ExactRatio.r4(col("n"), col("tot")).as("p"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** The two arms the A/B tests (Welch, Mann-Whitney, KS) compare. */
  private val armA = "click"
  private val armB = "purchase"

  /** Welch's unequal-variance t-test between two series — the A/B
    * significance check run before trusting a mean difference. All
    * moments come from ONE conditional aggregation over a single scan
    * (sum/sum-of-squares per side as exact DECIMALs over 4dp-quantized
    * values, so the statistics are aggregation-order independent);
    * mean/variance/t/Welch–Satterthwaite dof then derive in scalar
    * double arithmetic, identical in any engine. Scalar output — the
    * plan is the same shape as a SUM at any data size. */
  def welchTTest(s: SparkSession, d: String): DataFrame =
    welchTTestOn(Tables.events(s, d), armA, armB)

  /** Same over any (event_type, value) frame. */
  def welchTTestOn(events: DataFrame, typeA: String, typeB: String): DataFrame = {
    val x = round(col("value"), 4).cast("decimal(14,4)")
    def side(t: String, tag: String) = Seq(
      sum(when(col("event_type") === t, lit(1L)).otherwise(lit(0L))).as(s"n_$tag"),
      sum(when(col("event_type") === t, x).otherwise(lit(null))).as(s"sx_$tag"),
      sum(when(col("event_type") === t, x * x).otherwise(lit(null))).as(s"sxx_$tag"))
    val aggs = side(typeA, "a") ++ side(typeB, "b")
    val m = events
      .filter(col("event_type").isin(typeA, typeB))
      .agg(aggs.head, aggs.tail: _*)
    def meanv(tag: String) =
      col(s"sx_$tag").cast("double") / col(s"n_$tag")
    def varv(tag: String) =
      (col(s"sxx_$tag").cast("double") -
        col(s"sx_$tag").cast("double") * col(s"sx_$tag").cast("double") / col(s"n_$tag")) /
        (col(s"n_$tag") - 1)
    val sea = varv("a") / col("n_a")
    val seb = varv("b") / col("n_b")
    m.select(
      col("n_a"), col("n_b"),
      round(meanv("a"), 4).as("mean_a"),
      round(meanv("b"), 4).as("mean_b"),
      round((meanv("a") - meanv("b")) / sqrt(sea + seb), 4).as("t_stat"),
      round((sea + seb) * (sea + seb) /
        (sea * sea / (col("n_a") - 1) + seb * seb / (col("n_b") - 1)), 4).as("dof"))
  }

  /** Sample-ratio-mismatch check — the integrity gate that runs
    * BEFORE any A/B readout ([[cuped]], [[welchTTest]]) is believed:
    * if the realized arm split deviates from the designed 50/50
    * beyond chance, assignment or logging is broken and every
    * downstream metric is invalid. Uses the SAME deterministic md5
    * arm assignment as [[cuped]] (so the two entries audit one
    * experiment), counts distinct users per arm, and tests the split
    * with the 1-dof χ² = (n_a − n_b)² / (n_a + n_b) — exact integer
    * operands, one double division, engine-identical. Flags when the
    * 4dp-ROUNDED χ² clears 3.8415 (95%, both engines compare the
    * same quantized value). One distinct-user aggregate + a scalar
    * reduction — costs a count distinct. */
  def srmCheck(s: SparkSession, d: String): DataFrame =
    srmCheckOn(Tables.events(s, d))

  /** Same over any (user_id, …) event frame. */
  def srmCheckOn(events: DataFrame): DataFrame =
    events.select(col("user_id")).distinct()
      .select(when(
        substring(md5(col("user_id").cast("string")), 1, 2) < "80",
        lit("a")).otherwise(lit("b")).as("arm"))
      .agg(
        sum(when(col("arm") === "a", 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === "b", 1L).otherwise(0L)).as("n_b"))
      .select(col("n_a"), col("n_b"),
        round(((col("n_a") - col("n_b")) * (col("n_a") - col("n_b")))
          .cast("double") / (col("n_a") + col("n_b")), 4).as("chi2"))
      .withColumn("srm", col("chi2") > 3.8415)

  /** CUPED variance reduction — the industry-standard upgrade to the
    * plain A/B compare ([[welchTTest]] decides significance; CUPED
    * shrinks the variance that decision fights): each user's
    * PRE-period mean is a covariate, θ = cov(x,y)/var(x) is fit
    * across users, and the post-period metric is adjusted to
    * y − θ·(x − x̄) — removing the between-user baseline variance
    * that both arms share. Reported per deterministic md5 arm
    * (the [[SampleOps]] bucketing, so assignment is reproducible and
    * engine-portable), with the global θ and the achieved variance
    * reduction beside the raw/adjusted means.
    *
    * Shape: the pre/post boundary is the exact integer midpoint of
    * the epoch-day range (one scalar agg, broadcast); per-user
    * pre/post means come from ONE conditional aggregation keyed on
    * user (4dp DECIMAL sums — order-independent), θ's moments from
    * one user-cardinality aggregate of exact decimals, and the
    * adjusted metric is a row-local expression under broadcast
    * scalars — three narrow aggregations total, nothing wide ever
    * shuffles twice. θ and x̄ round to 4dp BEFORE the adjustment and
    * each y_adj re-quantizes to DECIMAL before the final sums (the
    * rounded-metric rule: identical doubles in, identical doubles
    * out, regardless of aggregation order). */
  def cuped(s: SparkSession, d: String): DataFrame =
    cupedOn(Tables.events(s, d))

  /** Same over any (user_id, ts, value) frame.
    *
    * Cross-engine determinism is by EXACT INTEGER MICRO-UNITS end to
    * end (the r11 contract — an sf0.001 sweep caught the previous
    * round(double,4) publication flipping a 4dp half-boundary:
    * Spark rounds the shortest-decimal repr HALF_UP while DuckDB
    * rounds the binary double, so even IDENTICAL doubles can publish
    * differently under round(); floor() can not). Per-user pre/post
    * means are floor-divided 1e-4 micro BIGINTs from exact DECIMAL
    * sums; θ's moments are exact integer products (DECIMAL(38,0) —
    * a LONG Σx·y would overflow near corpus scale); θ/x̄/adjusted
    * values/arm means/variance reduction all publish through
    * floor-quantization of identical-by-construction doubles. */
  def cupedOn(events: DataFrame): DataFrame = {
    val ed = expr("unix_micros(ts) div 86400000000")
    val v = round(col("value"), 4).cast("decimal(14,4)")
    val mid = events.agg(
      expr("(min(unix_micros(ts) div 86400000000) + " +
        "max(unix_micros(ts) div 86400000000)) div 2").as("mid"))
    val perUser = events
      .crossJoin(broadcast(mid))
      .groupBy(col("user_id"))
      .agg(
        sum(when(ed <= col("mid"), v)).as("sx"),
        sum(when(ed <= col("mid"), lit(1L)).otherwise(lit(0L))).as("nx"),
        sum(when(ed > col("mid"), v)).as("sy"),
        sum(when(ed > col("mid"), lit(1L)).otherwise(lit(0L))).as("ny"))
      .filter(col("nx") > 0 && col("ny") > 0)
      // floor-mean in micro units: numerator exact (DECIMAL·10⁴ is an
      // integer), division floored over nonnegative operands
      .select(col("user_id"),
        floor(expr("cast(sx * 10000 as bigint)").cast("double") /
          col("nx")).as("xm"),
        floor(expr("cast(sy * 10000 as bigint)").cast("double") /
          col("ny")).as("ym"))
      .transform(Reuse.shared) // feeds the θ fit AND the adjusted pass
    val q4 = (c: Column) => floor(c * lit(10000.0)) / 10000.0
    val fit = perUser.agg(
      count(lit(1)).as("n"),
      sum(col("xm")).as("sx"), sum(col("ym")).as("sy"),
      sum((col("xm").cast("decimal(19,0)") * col("ym"))
        .cast("decimal(38,0)")).as("sxy"),
      sum((col("xm").cast("decimal(19,0)") * col("xm"))
        .cast("decimal(38,0)")).as("sxx"))
      .select(
        // θ is scale-invariant, so micro units cancel; floor-quantized
        q4((col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double") / col("n")) /
          (col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double") / col("n")))
          .as("theta"),
        floor(col("sx").cast("double") / col("n")).as("xbarm"))
    val adj = perUser.crossJoin(broadcast(fit))
      .select(col("user_id"), col("ym"), col("theta"),
        // adjusted metric in micro units: long − double·long, floored
        floor(col("ym") - col("theta") * (col("xm") - col("xbarm")))
          .as("am"),
        when(substring(md5(col("user_id").cast("string")), 1, 2) < "80",
          lit("a")).otherwise(lit("b")).as("arm"))
    val global = adj.agg(
      count(lit(1)).as("n"),
      sum(col("ym")).as("sy"),
      sum((col("ym").cast("decimal(19,0)") * col("ym"))
        .cast("decimal(38,0)")).as("syy"),
      sum(col("am")).as("sa"),
      sum((col("am").cast("decimal(19,0)") * col("am"))
        .cast("decimal(38,0)")).as("saa"))
      .select(q4(lit(1.0) -
        (col("saa").cast("double") -
          col("sa").cast("double") * col("sa").cast("double") / col("n")) /
        (col("syy").cast("double") -
          col("sy").cast("double") * col("sy").cast("double") / col("n")))
        .as("var_reduction"))
    adj.groupBy(col("arm"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("ym")).as("sy"), sum(col("am")).as("sa"),
        first(col("theta")).as("theta"))
      .crossJoin(broadcast(global))
      .select(col("arm"), col("n_users"),
        (floor(col("sy").cast("double") / col("n_users")) / 10000.0)
          .as("mean_post"),
        (floor(col("sa").cast("double") / col("n_users")) / 10000.0)
          .as("mean_adj"),
        col("theta"), col("var_reduction"))
      .orderBy(col("arm"))
  }

  /** Mann-Whitney U — the NONPARAMETRIC A/B test beside
    * [[welchTTest]]: no normality assumption, rank-based, robust to
    * the heavy tails that break a t-test. Rank sums come from the
    * per-distinct-VALUE count frame, never per-row ranks: a global
    * row rank is the single-partition window this repo structurally
    * forbids, while distinct 4dp values ride the shared distributed
    * [[PrefixSum]] (range partition → local sums → broadcast offsets;
    * one `Reuse.shared` frame per call). Average ranks for ties are
    * exact in HALF-RANK integer units (2·rank̄ = 2·cum_below + n + 1),
    * tie correction Σ(n³−n) likewise integer; sums go through
    * DECIMAL(38,0) so 100 TB row counts can't overflow; the
    * z-statistic and rank-biserial effect size then derive in scalar
    * double arithmetic from exact integers. One aggregation over
    * distinct values + the prefix sum — the same exchange budget as a
    * groupBy. */
  def mannWhitney(s: SparkSession, d: String): DataFrame =
    mannWhitneyOn(Tables.events(s, d), armA, armB)

  /** Same over any (event_type, value) frame. */
  def mannWhitneyOn(events: DataFrame, typeA: String,
                    typeB: String): DataFrame = {
    val g = events.filter(col("event_type").isin(typeA, typeB))
      .select(round(col("value"), 4).as("v"),
        when(col("event_type") === typeA, 1L).otherwise(0L).as("ia"))
      .groupBy(col("v"))
      .agg(sum(col("ia")).as("n1"),
        (count(lit(1)) - sum(col("ia"))).as("n2"),
        count(lit(1)).as("n"))
    val c = PrefixSum.exclusive(g, Seq(col("v")), col("n"))
    val agg = c.agg(
      sum((col("n1") * (lit(2) * col("__cum") + col("n") + 1))
        .cast("decimal(38,0)")).as("r12"),
      sum(col("n1")).as("na"), sum(col("n2")).as("nb"),
      sum((col("n") * col("n") * col("n") - col("n"))
        .cast("decimal(38,0)")).as("t"))
    val nd = col("na").cast("double") + col("nb")
    val u2 = col("r12").cast("double") - col("na") * (col("na") + 1)
    val tie = col("t").cast("double") / (nd * (nd - 1))
    val sigma = sqrt((col("na").cast("double") * col("nb") / 12) *
      ((nd + 1) - tie))
    agg.select(
      col("na").as("n_a"), col("nb").as("n_b"),
      (u2 / 2).as("u_a"),
      round((u2 - col("na").cast("double") * col("nb")) / (lit(2) * sigma), 4)
        .as("z"),
      round(lit(1) - u2 / (col("na").cast("double") * col("nb")), 4)
        .as("r_rb"))
  }

  /** Two-sample Kolmogorov-Smirnov — the DISTRIBUTION-drift test
    * beside [[mannWhitney]] (which only sees location): D = sup
    * |F̂_A − F̂_B| over the pooled support, sensitive to shape and
    * scale changes a rank or mean test misses — the check a scoring
    * pipeline runs between yesterday's and today's score columns.
    *
    * Exactness: both empirical CDFs step only at distinct 4dp values,
    * so the sup is a max over the distinct-value frame — cumulative
    * counts of BOTH samples ride ONE shared
    * [[PrefixSum.exclusiveMulti]] pass (one range exchange, one
    * checkpoint), never a per-row global rank. D publishes as
    * the exact integer cross-multiply max|F_A·n_b − F_B·n_a| over
    * n_a·n_b through [[ExactRatio.r4]]; the α=0.05 verdict is the
    * fully integer comparison 250000·D_num² > 461041·(n_a+n_b)·n_a·n_b
    * (c(0.05) = 1.358 = 679/500 exactly, both sides DECIMAL(38,0) /
    * HUGEINT — headroom to n_a·n_b ≈ 2e16, ~10⁸ rows per arm; past
    * that ANSI overflow fails loud and the z column, astronomically
    * large for any real drift at that scale, is the operative
    * readout). Only `ks_z` derives in doubles — a fixed expression
    * tree of +,·,/,√ over exact integers, bit-reproducible on both
    * engines (no libm transcendentals). Contract: both arms
    * non-empty. */
  def ksTest(s: SparkSession, d: String): DataFrame =
    ksTestOn(Tables.events(s, d), armA, armB)

  /** Same over any (event_type, value) frame. */
  def ksTestOn(events: DataFrame, typeA: String,
               typeB: String): DataFrame = {
    val dec = "decimal(38,0)"
    val g = events.filter(col("event_type").isin(typeA, typeB))
      .select(round(col("value"), 4).as("v"),
        when(col("event_type") === typeA, 1L).otherwise(0L).as("ia"))
      .groupBy(col("v"))
      .agg(sum(col("ia")).as("ca"),
        (count(lit(1)) - sum(col("ia"))).as("cb"))
    val c = PrefixSum.exclusiveMulti(g, Seq(col("v")), Seq(col("ca"), col("cb")))
      // inclusive CDF counts at each distinct value (KS's sup is
      // attained just after a jump, i.e. at an inclusive step)
      .select((col("__cum0") + col("ca")).as("fa"),
        (col("__cum1") + col("cb")).as("fb"))
    // totals = the CDF's final step — an aggregate over the
    // CHECKPOINTED ranged frame, not a second events scan
    val tot = c.agg(max(col("fa")).as("na"), max(col("fb")).as("nb"))
    val m = c.crossJoin(broadcast(tot))
      .groupBy(col("na"), col("nb"))
      .agg(max(abs(col("fa").cast(dec) * col("nb") -
        col("fb").cast(dec) * col("na"))).as("dnum"))
    val nad = col("na").cast("double")
    val nbd = col("nb").cast("double")
    m.select(
      col("na").as("n_a"), col("nb").as("n_b"),
      ExactRatio.r4(col("dnum"), col("na").cast(dec) * col("nb")).as("d"),
      round(col("dnum").cast("double") / (nad * nbd) *
        sqrt(nad * nbd / (nad + nbd)), 4).as("ks_z"),
      (col("dnum") * col("dnum") * 250000L >
        lit(461041L).cast(dec) * (col("na") + col("nb")) *
          col("na") * col("nb")).as("reject_05"))
  }

  /** Mutual information between two categorical columns — the
    * information-theoretic face of [[chi2Independence]]: how many
    * nats does knowing one label tell you about the other (χ² asks
    * "is there dependence?", MI asks "how much?"), plus the
    * √(H_a·H_b)-normalized NMI so the strength is comparable across
    * label cardinalities — the corpus-audit readout for "does source
    * determine language" before a training mix is trusted.
    *
    * Exactness: the [[typeEntropy]] posture — observed cells only
    * (a zero cell contributes 0 to MI, unlike χ²'s e term), each
    * cell's p·ln term quantized to DECIMAL(20,10) BEFORE the sum so
    * parity never rests on aggregation order or libm's last ulp;
    * margins join back broadcast (the margin frames are
    * label-cardinality-sized). Work after the one count aggregation
    * is R×C-cell-sized, not row-sized. */
  def mutualInfo(df: DataFrame, a: String, b: String): DataFrame = {
    // cells feeds SEVEN downstream branches (joint, rt/ct margins and
    // their entropies, totals); unmaterialized, each replans the
    // full scan + aggregation — measured 3.1 s vs 1.0 s at sf0.1. The
    // frame is R×C-cell-sized, so the checkpoint is label-cardinality
    // bytes
    val cells = df.groupBy(col(a), col(b)).agg(count(lit(1)).as("o"))
      .transform(Reuse.shared)
    val rt = cells.groupBy(col(a)).agg(sum(col("o")).as("ra"))
    val ct = cells.groupBy(col(b)).agg(sum(col("o")).as("cb"))
    val tot = cells.agg(sum(col("o")).as("n"))
    val q = "decimal(20,10)"
    val joint = cells.join(broadcast(rt), a).join(broadcast(ct), b)
      .crossJoin(broadcast(tot))
      .select(
        ((col("o").cast("double") / col("n")) *
          log(col("o").cast("double") * col("n") /
            (col("ra").cast("double") * col("cb")))).cast(q).as("__mi"))
      .agg(sum(col("__mi")).as("__mis"))
    val ha = rt.crossJoin(broadcast(tot))
      .select((-(col("ra").cast("double") / col("n")) *
        log(col("ra").cast("double") / col("n"))).cast(q).as("__h"),
        lit(1L).as("__k"))
      .groupBy(col("__k")).agg(sum(col("__h")).as("__ha"),
        count(lit(1)).as("n_a"))
    val hb = ct.crossJoin(broadcast(tot))
      .select((-(col("cb").cast("double") / col("n")) *
        log(col("cb").cast("double") / col("n"))).cast(q).as("__h"),
        lit(1L).as("__k"))
      .groupBy(col("__k")).agg(sum(col("__h")).as("__hb"),
        count(lit(1)).as("n_b"))
    val out = joint.crossJoin(broadcast(ha)).crossJoin(broadcast(hb))
      .crossJoin(broadcast(tot))
      .select(
        col("n").as("n_rows"),
        col("n_a").as("n_classes_a"), col("n_b").as("n_classes_b"),
        round(col("__mis").cast("double"), 4).as("mi"),
        round(col("__ha").cast("double"), 4).as("h_a"),
        round(col("__hb").cast("double"), 4).as("h_b"),
        // a one-class margin has H = 0 and carries no information:
        // define NMI = 0 there instead of 0/0
        when(col("__ha") > 0 && col("__hb") > 0,
          round(col("__mis").cast("double") /
            sqrt(col("__ha").cast("double") * col("__hb").cast("double")),
            4)).otherwise(lit(0.0)).as("nmi"))
      // ONE row: the returned plan then no longer reaches `cells`
      .transform(Reuse.barrier)
    out
  }

  /** Difference-in-differences — the quasi-experimental readout that
    * completes the A/B family (q_ttest/q_mann_whitney compare arms
    * at one time; q_cuped adjusts with a pre-period covariate; DiD
    * asks whether the TREATED arm's pre→post CHANGE exceeds the
    * control's, cancelling both arm-level level differences and
    * common time shocks). Per user: pre/post means across the
    * calendar midpoint (q_cuped's integer epoch-day midpoint), both
    * 4dp-rounded before the exact DECIMAL per-user delta (users
    * missing either period drop — documented balanced-panel
    * contract); arms from the SAME md5 assignment as
    * q_cuped/q_srm_check. Then ONE conditional-moment aggregation
    * (the q_ttest shape): per-arm n/Σy/Σy² as exact DECIMALs, DiD =
    * difference of rounded arm means, SE from sample variances,
    * zero-variance panels pin t = 0 (not ±Inf). Two user-keyed
    * aggregations + a scalar reduce — costs what a groupBy costs. */
  def diffInDiff(s: SparkSession, d: String): DataFrame =
    diffInDiffOn(Tables.events(s, d))

  /** Same over any (user_id, ts, value) frame. */
  def diffInDiffOn(events: DataFrame): DataFrame = {
    val ed = expr("unix_micros(ts) div 86400000000")
    val mid = events.agg(
      expr("(min(unix_micros(ts) div 86400000000) + " +
        "max(unix_micros(ts) div 86400000000)) div 2").as("mid"))
    val per = events.crossJoin(broadcast(mid))
      .select(col("user_id"),
        when(ed < col("mid"), lit(0)).otherwise(lit(1)).as("period"),
        round(col("value"), 4).cast("decimal(14,4)").as("v"))
      .groupBy(col("user_id"), col("period"))
      .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
    val y = per.groupBy(col("user_id"))
      .agg(sum(when(col("period") === 0, col("sv"))).as("sv0"),
        sum(when(col("period") === 0, col("n"))).as("n0"),
        sum(when(col("period") === 1, col("sv"))).as("sv1"),
        sum(when(col("period") === 1, col("n"))).as("n1"))
      .filter(col("n0").isNotNull && col("n1").isNotNull)
      .select(
        (round(col("sv1").cast("double") / col("n1"), 4)
          .cast("decimal(14,4)") -
          round(col("sv0").cast("double") / col("n0"), 4)
            .cast("decimal(14,4)")).cast("decimal(14,4)").as("y"),
        when(substring(md5(col("user_id").cast("string")), 1, 2) < "80",
          lit("a")).otherwise(lit("b")).as("arm"))
    val a = y.agg(
      sum(when(col("arm") === "a", 1L).otherwise(0L)).as("na"),
      sum(when(col("arm") === "b", 1L).otherwise(0L)).as("nb"),
      sum(when(col("arm") === "a", col("y"))).as("sa"),
      sum(when(col("arm") === "a",
        (col("y") * col("y")).cast("decimal(30,8)"))).as("saa"),
      sum(when(col("arm") === "b", col("y"))).as("sb"),
      sum(when(col("arm") === "b",
        (col("y") * col("y")).cast("decimal(30,8)"))).as("sbb"))
    val ma = round(col("sa").cast("double") / col("na"), 4)
    val mb = round(col("sb").cast("double") / col("nb"), 4)
    val va = (col("saa").cast("double") -
      col("sa").cast("double") * col("sa").cast("double") / col("na")) /
      (col("na") - 1)
    val vb = (col("sbb").cast("double") -
      col("sb").cast("double") * col("sb").cast("double") / col("nb")) /
      (col("nb") - 1)
    val se = sqrt(va / col("na") + vb / col("nb"))
    a.select(col("na").as("n_treat"), col("nb").as("n_ctrl"),
      ma.as("delta_treat"), mb.as("delta_ctrl"),
      round(ma - mb, 4).as("did"),
      round(se, 4).as("se"),
      when(se > 0, round((ma - mb) / se, 4)).otherwise(lit(0.0)).as("t_stat"))
  }

  /** Power / minimum-detectable-effect readout — the question asked
    * BEFORE an experiment runs (the rest of the A/B family reads one
    * out afterwards): given the observed user-metric variance, what
    * lift could a 50/50 split on THIS population detect at α=0.05 /
    * power 0.80, and how many users per arm would a 1%-relative lift
    * need? Unit metric = per-user mean of 4dp-rounded values (the
    * cuped recipe), moments as exact DECIMALs, then closed forms
    * under the pinned 4dp z constants (z_{.025}=1.9600, z_{.20}=
    * 0.8416, summed 2.8016 — pinned literals, not engine erf):
    * MDE = 2.8016·√(4s²/n), n_arm(1%) = ⌈2s²·2.8016²/(0.01·|ȳ|)²⌉
    * (ceil over the 4dp-rounded operand so both engines quantize
    * before the integer boundary). Degenerate populations (zero
    * variance / zero mean) pin their readouts to 0 rather than NaN.
    * One user-keyed aggregation + a scalar reduce. */
  def powerMde(s: SparkSession, d: String): DataFrame =
    powerMdeOn(Tables.events(s, d))

  /** Same over any (user_id, value) frame. */
  def powerMdeOn(events: DataFrame): DataFrame = {
    val v = round(col("value"), 4).cast("decimal(14,4)")
    val u = events.groupBy(col("user_id"))
      .agg(sum(v).as("sv"), count(lit(1)).as("n"))
      .select(round(col("sv").cast("double") / col("n"), 4)
        .cast("decimal(14,4)").as("y"))
    val a = u.agg(count(lit(1)).as("n_users"), sum(col("y")).as("sy"),
      sum((col("y") * col("y")).cast("decimal(30,8)")).as("syy"))
    val mean = round(col("sy").cast("double") / col("n_users"), 4)
    val s2 = (col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double") / col("n_users")) /
      (col("n_users") - 1)
    val zs = lit(2.8016)
    val mde = when(s2 > 0,
      round(zs * sqrt(lit(4.0) * s2 / col("n_users")), 4)).otherwise(0.0)
    a.select(col("n_users"), mean.as("mean_y"),
      when(s2 > 0, round(sqrt(s2), 4)).otherwise(0.0).as("sd_y"),
      mde.as("mde_abs"),
      when(abs(mean) > 0, round(mde / abs(mean), 4)).otherwise(0.0)
        .as("mde_rel"),
      when(s2 > 0 && abs(mean) > 0,
        ceil(round(lit(2.0) * s2 * zs * zs /
          (lit(0.01) * abs(mean) * lit(0.01) * abs(mean)), 4))
          .cast("bigint")).otherwise(0L).as("n_arm_1pct"))
  }

  /** One-way ANOVA across day-of-week groups — the k-group
    * generalization of [[welchTTest]] (two arms) asking the
    * seasonality question as a TEST: does mean value differ by
    * weekday at all? Group moments (n, Σv, Σv²) as exact DECIMALs on
    * 4dp-rounded values; each group's correction term S²/n is
    * rounded to 4dp BEFORE the cross-group sum (the rounded-metric
    * rule — at most 7 terms, but their sum order is plan-dependent
    * and doubles don't associate), so SSB/SSW are exact decimal
    * differences and F divides once in double. dow from the integer
    * epoch-day arithmetic the calendar features pinned ((ed+3) mod
    * 7 — engine dayofweek() origins vary). The significance flag
    * compares the 4dp F against the PINNED critical value 2.0986
    * (α=0.05, df1=6, df2=∞ — documented large-sample approximation,
    * never engine CDFs) and only fires when all 7 weekdays are
    * populated. Two narrow aggregations, group count ≤ 7. */
  def anovaDow(s: SparkSession, d: String): DataFrame =
    anovaDowOn(Tables.events(s, d))

  /** Same over any (ts, value) frame. */
  def anovaDowOn(events: DataFrame): DataFrame = {
    val ed = expr("unix_micros(ts) div 86400000000")
    val v = round(col("value"), 4).cast("decimal(14,4)")
    val g = events.select(((ed + 3) % 7).as("dow"), v.as("v"))
      .groupBy(col("dow"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
        sum((col("v") * col("v")).cast("decimal(30,8)")).as("ss"))
      .select(col("dow"), col("n"), col("s"), col("ss"),
        round(col("s").cast("double") * col("s").cast("double") /
          col("n"), 4).cast("decimal(30,8)").as("term"))
    val a = g.agg(count(lit(1)).as("k"), sum(col("n")).as("n"),
      sum(col("s")).as("st"), sum(col("ss")).as("sst"),
      sum(col("term")).as("terms"))
    val cf = round(col("st").cast("double") * col("st").cast("double") /
      col("n"), 4).cast("decimal(30,8)")
    val ssb = (col("terms") - cf).cast("double")
    val ssw = (col("sst") - col("terms")).cast("double")
    val f = when(col("k") > 1 && ssw > 0,
      round((ssb / (col("k") - 1)) / (ssw / (col("n") - col("k"))), 4))
      .otherwise(0.0)
    a.select(col("k"), col("n"),
      round(ssb, 4).as("ss_between"), round(ssw, 4).as("ss_within"),
      f.as("f_stat"),
      (col("k") === 7 && f > 2.0986).as("sig_05"))
  }

  /** Kaplan-Meier survival over user lifetimes — the churn readout
    * cohort retention approximates but doesn't estimate: retention
    * counts who RETURNED in week w; KM estimates the probability a
    * user's engagement SPAN exceeds t while handling the users the
    * corpus cannot yet judge (still active near the corpus edge =
    * right-censored, the thing a naive "avg lifetime" silently gets
    * wrong). Lifetime = last−first active day; censored if the last
    * day is within `graceDays` of the corpus max (one scalar
    * broadcast). The product-limit estimate runs on the AGGREGATED
    * lifetime distribution — one row per distinct lifetime, a
    * calendar-span-bounded frame, so the ordered windows (at-risk
    * prefix sums, cumulative log-survival) are single-partition over
    * ~hundreds of rows at ANY corpus scale, never the user set; the
    * per-user frame itself is one groupBy. exp/ln in double is 4dp-
    * rounded at output only (both engines' libm agree far below
    * 4dp); a level where everyone at risk dies pins survival to 0
    * via a cumulative zero-factor count, not ln(0) (Spark nulls,
    * DuckDB -inf — BOTH wrong cross-engine). */
  def survivalKm(s: SparkSession, d: String): DataFrame =
    survivalKmOn(Tables.events(s, d))

  /** Same over any (user_id, ts) frame. */
  def survivalKmOn(events: DataFrame): DataFrame = {
    val graceDays = 7
    val ed = expr("unix_micros(ts) div 86400000000")
    val users0 = events.groupBy(col("user_id"))
      .agg(min(ed).as("d0"), max(ed).as("d1"))
    val mx = users0.agg(max(col("d1")).as("mx"))
    val users = users0.crossJoin(broadcast(mx))
      .select((col("d1") - col("d0")).as("t"),
        when(col("d1") > col("mx") - graceDays, 0L).otherwise(1L)
          .as("death"))
    val dist = users.groupBy(col("t"))
      .agg(sum(col("death")).as("d"),
        sum(lit(1L) - col("death")).as("c"))
    val total = users.agg(count(lit(1)).as("n_total"))
    val wPrev = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wIncl = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, 0)
    dist.crossJoin(broadcast(total))
      .withColumn("n_risk", col("n_total") -
        coalesce(sum(col("d") + col("c")).over(wPrev), lit(0L)))
      .withColumn("f", lit(1.0) - col("d").cast("double") / col("n_risk"))
      .withColumn("survival",
        when(sum(when(col("f") <= 0, 1L).otherwise(0L)).over(wIncl) > 0,
          lit(0.0))
          .otherwise(round(exp(
            sum(when(col("f") > 0, log(col("f")))).over(wIncl)), 4)))
      .select(col("t"), col("n_risk"), col("d"), col("c"), col("survival"))
      .orderBy(col("t"))
  }

  /** q_attribution's touches, conversion and lookback, which the
    * versioned attribution audit replays. */
  private[graft] val attributionTouchTypes = Seq("view", "click")
  private[graft] val attributionConvType = "purchase"
  private[graft] val attributionWindowDays = 7

  /** Last-touch marketing attribution — which touch gets credit for
    * each conversion (the question funnel counts and session paths
    * circle but don't answer): every purchase attributes to the
    * LATEST preceding view/click by the same user within the
    * lookback window, else 'none'. The per-user as-of lookup is the
    * [[TimeSeriesOps]] asof-join shape folded into ONE window pass:
    * touches and conversions ride a single tagged frame, one
    * user-key shuffle, and `last(..., ignoreNulls)` over the
    * (µs, tag, event_id) order carries the latest touch forward —
    * no range join, no per-conversion scan. Ordering is exact
    * integer µs with tag+id tiebreaks (an equal-timestamp touch
    * sorts BEFORE the conversion and so receives credit —
    * documented contract, replayed identically in the oracle); the
    * lookback test is pure integer µs arithmetic. Output is
    * touch-type-cardinality tiny at any scale. */
  def attributionLastTouch(s: SparkSession, d: String): DataFrame =
    attributionOn(Tables.events(s, d), attributionTouchTypes,
      attributionConvType, attributionWindowDays)

  /** Same over any (user_id, event_id, event_type, ts) frame. */
  def attributionOn(events: DataFrame, touchTypes: Seq[String],
                    convType: String, windowDays: Int): DataFrame = {
    val tagged = events
      .filter(col("event_type").isin(touchTypes :+ convType: _*))
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tus"), col("event_type"),
        when(col("event_type") === convType, 1).otherwise(0).as("tag"))
    val conv = lastTouchCredit(tagged, Nil, windowDays)
    val counts = conv.groupBy(col("touch_type"))
      .agg(count(lit(1)).as("n_purchases"))
    val tot = counts.agg(sum(col("n_purchases")).as("tot"))
    counts.crossJoin(broadcast(tot))
      .select(col("touch_type"), col("n_purchases"),
        ExactRatio.r4(col("n_purchases"), col("tot")).as("share"))
      .orderBy(col("touch_type"))
  }

  /** The last-touch credit of each conversion in a tagged (user_id,
    * event_id, tus, event_type, tag) frame, tag 1 marking conversions
    * and 0 touches: per user, in (`arrival` ++ (tus, tag, event_id))
    * order, the latest touch is carried forward, and a conversion
    * credits its `touch_type` when that touch lies within `windowDays`
    * of it, else "none". Output: the `arrival` columns and
    * `touch_type`, one row per conversion. The batch face passes no
    * arrival columns; the versioned audit passes `epoch`, so the fold
    * credits by arrival order. */
  private[graft] def lastTouchCredit(tagged: DataFrame, arrival: Seq[Column],
                                     windowDays: Int): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(arrival ++ Seq(col("tus"), col("tag"), col("event_id")): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("touch_ts",
        last(when(col("tag") === 0, col("tus")), ignoreNulls = true).over(w))
      .withColumn("touch_type",
        last(when(col("tag") === 0, col("event_type")), ignoreNulls = true)
          .over(w))
      .filter(col("tag") === 1)
      .select(arrival :+ when(col("touch_ts").isNotNull &&
          col("tus") - col("touch_ts") <= lit(windowDays * 86400000000L),
          col("touch_type")).otherwise(lit("none")).as("touch_type"): _*)
  }

  /** Poisson-bootstrap confidence intervals for per-type means — THE
    * distributed bootstrap (classic resampling draws n rows WITH
    * replacement, which requires a global coordinated sample;
    * Poissonization replaces it with an independent Poisson(1) weight
    * per (row, replicate) — row-LOCAL, embarrassingly parallel, and
    * the standard way to bootstrap at 100 TB). Each row's weight for
    * replicate r inverts the Poisson(1) CDF at a uniform drawn from
    * md5(event_id, r)'s first 60 bits — a pure-integer threshold
    * compare against five precomputed CDF literals (floor(cdf·2⁶⁰)),
    * so the "randomness" replays bit-identically in any engine, runs
    * and engines can't disagree on a single weight, and the whole
    * resampling pipeline is DuckDB-oracled (the etl_sample_hash /
    * DOULION determinism posture; weights ≥ 5 truncate to 5 —
    * P ≈ 3.7e-4, a documented, engine-identical truncation).
    *
    * Plan shape: the `reps`× replicate expansion is a row-local
    * explode feeding DIRECTLY into a map-side-combinable (type,
    * replicate) aggregation — partial aggregation collapses it inside
    * the scan stage, so the shuffle carries types × reps rows, never
    * reps × corpus. Replicate means quantize to 4dp; the CI is the
    * exact interpolated [p2.5, p97.5] percentile pair over the
    * `reps` replicate means (a types × reps frame — tiny at any
    * corpus scale), and the bootstrap SE derives from exact DECIMAL
    * moments of the same 4dp means. `reps` is the accuracy dial; the
    * per-replicate means are already exact over the full corpus, so
    * modest reps (20) give usable intervals. */
  def bootstrapCi(s: SparkSession, d: String): DataFrame = {
    val reps = 20
    bootstrapCiOn(Tables.events(s, d), reps)
  }

  /** Same over any (event_id, event_type, value) frame. */
  def bootstrapCiOn(events: DataFrame, reps: Int): DataFrame = {
    // cumulative Poisson(1) CDF at k = 0..4, in floor(cdf * 2^60)
    // integer units (u < t(k) ⇔ uniform < cdf(k)); both engines
    // compare the same 60-bit md5 integer against the same literals
    val t = Seq(424136118829305344L, 848272237658610688L,
      1060340297073263360L, 1131029650211480960L, 1148701988496035328L)
    val base = events.select(col("event_type"), col("event_id"),
      round(col("value"), 4).cast("decimal(14,4)").as("v"))
    val point = base.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("v")).cast("double") / count(lit(1)), 4).as("mean"))
    val u = conv(substring(md5(concat(col("event_id").cast("string"),
      lit("_"), col("rep").cast("string"))), 1, 15), 16, 10).cast("long")
    val w = when(u < t(0), 0).when(u < t(1), 1).when(u < t(2), 2)
      .when(u < t(3), 3).when(u < t(4), 4).otherwise(5)
    val repMeans = base
      .withColumn("rep", explode(sequence(lit(0), lit(reps - 1))))
      .withColumn("w", w)
      .groupBy(col("event_type"), col("rep"))
      .agg(sum(col("w")).as("nw"),
        sum((col("w") * col("v")).cast("decimal(20,4)")).as("sv"))
      .filter(col("nw") > 0)
      .select(col("event_type"),
        round(col("sv").cast("double") / col("nw"), 4)
          .cast("decimal(14,4)").as("mr"))
    val ci = repMeans.groupBy(col("event_type"))
      .agg(count(lit(1)).as("r"),
        round(expr("percentile(CAST(mr AS DOUBLE), 0.025)"), 4).as("lo95"),
        round(expr("percentile(CAST(mr AS DOUBLE), 0.975)"), 4).as("hi95"),
        sum(col("mr")).as("smr"),
        sum((col("mr") * col("mr")).cast("decimal(30,8)")).as("smr2"))
      .select(col("event_type"), col("r"), col("lo95"), col("hi95"),
        round(sqrt((col("smr2").cast("double") -
          col("smr").cast("double") * col("smr").cast("double") / col("r")) /
          (col("r") - 1)), 4).as("se_boot"))
    point.join(ci, "event_type")
      .select(col("event_type"), col("n"), col("mean"),
        col("lo95"), col("hi95"), col("se_boot"))
      .orderBy(col("event_type"))
  }

  /** Benford first-significant-digit audit — the fraud/synthetic-data
    * smell test: natural multi-scale magnitudes follow
    * P(d) = log10(1+1/d), and a generator that doesn't is visible in
    * one 9-row table. The leading digit is extracted from the value's
    * fixed 4dp decimal rendering (format → strip zeros and the point
    * → first char), which is engine-portable where float log10-based
    * digit math is one ulp from flipping. Map-side-combinable count
    * per digit, 9-row output: constant-size whatever the corpus. */
  def benfordDigits(s: SparkSession, d: String): DataFrame =
    benfordDigitsOn(Tables.events(s, d))

  /** Same over any frame with a double `value` column. */
  def benfordDigitsOn(events: DataFrame): DataFrame = {
    val digit = substring(
      regexp_replace(format_string("%.4f", col("value")), "[0.]", ""), 1, 1)
    val counts = events
      .filter(col("value") > 0)
      .select(digit.cast("int").as("digit"))
      .filter(col("digit").isNotNull)
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).as("tot"))
    counts.crossJoin(broadcast(tot))
      .withColumn("share", ExactRatio.r4(col("n"), col("tot")))
      .withColumn("benford_p",
        round(log10(lit(1) + lit(1.0) / col("digit")), 4))
      .select(col("digit"), col("n"), col("share"), col("benford_p"),
        round(col("share") - col("benford_p"), 4).as("dev"))
      .orderBy(col("digit"))
  }

  /** k-anonymity audit over a quasi-identifier tuple — the privacy
    * gate a dataset passes before release: every row must share its
    * (type, day, user-bucket) combination with at least k−1 others.
    * One aggregation to group sizes (map-side combinable), one scalar
    * reduction over the GROUPS (cardinality = distinct QI tuples, not
    * rows) — a privacy audit at the cost of a count(*). */
  def kAnonymity(s: SparkSession, d: String): DataFrame = {
    val k = 5
    kAnonymityOn(Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"),
        (col("user_id") % 20).as("uid_bucket"))
      .agg(count(lit(1)).as("sz")), k)
  }

  /** l-diversity privacy gate — [[kAnonymity]]'s second axis: a class
    * can be k-large yet still leak (every member sharing ONE sensitive
    * value identifies it for all of them — the homogeneity attack
    * k-anonymity cannot see). Per quasi-identifier class (the SAME
    * classes the k gate audits), the distinct count of a sensitive
    * attribute (here the value column floored to integer buckets);
    * the audit reports the worst class, classes/rows below `l`, and
    * the exposed share. One map-side-combinable class aggregate (the
    * distinct rides a (QI, sensitive) pre-aggregation, never a
    * per-class set) + a class-cardinality scalar reduction — the gate
    * costs what the k gate costs. */
  def lDiversity(s: SparkSession, d: String): DataFrame = {
    val l = 3
    lDiversityOn(Tables.events(s, d)
      .select(col("event_type"), date_trunc("day", col("ts")).as("day"),
        (col("user_id") % 20).as("uid_bucket"),
        floor(col("value")).cast("long").as("sens")),
      Seq("event_type", "day", "uid_bucket"), "sens", l)
  }

  /** Same over any (QI..., sensitive) row frame. */
  def lDiversityOn(df: DataFrame, qi: Seq[String], sens: String,
                   l: Int): DataFrame = {
    val classes = df.groupBy(qi.map(col): _*)
      .agg(count(lit(1)).as("sz"),
        count_distinct(col(sens)).as("l_cnt"))
    classes.agg(
      count(lit(1)).as("n_groups"),
      sum(col("sz")).as("n_rows"),
      min(col("l_cnt")).as("l_min"),
      sum(when(col("l_cnt") < l, 1L).otherwise(0L)).as("groups_below_l"),
      sum(when(col("l_cnt") < l, col("sz")).otherwise(0L)).as("rows_below_l"))
      .select(col("n_groups"), col("n_rows"), col("l_min"),
        col("groups_below_l"), col("rows_below_l"),
        ExactRatio.r4(col("rows_below_l"), col("n_rows"))
          .as("share_below_l"))
  }

  /** t-closeness privacy gate (Li-Li-Venkatasubramanian, ICDE'07) —
    * the third axis after [[kAnonymity]] and [[lDiversity]]: a class
    * can be k-large AND l-diverse yet still leak by SKEW (a class
    * whose salary distribution sits far above the table's tells an
    * attacker plenty — the proximity attack diversity cannot see).
    * Per QI class (the SAME classes the k and l gates audit), Earth
    * Mover's Distance between the class's sensitive-value
    * distribution and the GLOBAL one; for an ordered attribute with
    * unit ground distance, EMD = Σ|cumulative(p−q)| / (m−1).
    *
    * Arithmetic leaves float-land immediately: per-bucket shares
    * quantize to integer micro-units (⌊cn·10⁶/sz⌋ vs ⌊gn·10⁶/N⌋)
    * BEFORE the cumulative sum, so the running difference is an
    * exact integer in both engines (a double cumsum is
    * order-deterministic but invites ulp drift between engines) and
    * the worst-class maximum is a total order. The full class×bucket
    * grid materializes absent buckets (p_j = 0 rows the EMD needs)
    * via a class × global-bucket cross join — classes × m rows,
    * bounded by QI cardinality, never row-cardinality. */
  def tCloseness(s: SparkSession, d: String): DataFrame = {
    val tMicro = 200000L
    tClosenessOn(Tables.events(s, d)
      .select(col("event_type"), date_trunc("day", col("ts")).as("day"),
        (col("user_id") % 20).as("uid_bucket"),
        floor(col("value") / 10.0).cast("long").as("sens")),
      Seq("event_type", "day", "uid_bucket"), "sens", tMicro)
  }

  /** Same over any (QI..., sensitive) row frame. */
  def tClosenessOn(df: DataFrame, qi: Seq[String], sens: String,
                   tMicro: Long): DataFrame = {
    // non-empty separator: ("a","bc") and ("ab","c") must not
    // alias into one class; NULLs are sentinel-encoded first —
    // concat_ws silently SKIPS nulls, which would alias distinct QI
    // tuples like (a,NULL,b) and (a,b,NULL) into one class (the
    // lDiversityOn raw-column grouping never had this trap)
    val rows = df.select(
      concat_ws("|",
        qi.map(c => coalesce(col(c).cast("string"), lit("\u0000null"))): _*)
        .as("cls"),
      col(sens).as("b"))
    val global = rows.groupBy(col("b")).agg(count(lit(1)).as("gn"))
    val tot = global.agg(sum(col("gn")).as("N"),
      count(lit(1)).as("m")).transform(Reuse.shared)
    val classes = rows.groupBy(col("cls"), col("b"))
      .agg(count(lit(1)).as("cn"))
    val sizes = classes.groupBy(col("cls")).agg(sum(col("cn")).as("sz"))
    // full grid: every class × every GLOBAL bucket (absent → cn 0)
    val grid = sizes.crossJoin(global)
      .join(classes, Seq("cls", "b"), "left")
      .na.fill(0L, Seq("cn"))
      .crossJoin(broadcast(tot))
      .select(col("cls"), col("b"), col("sz"),
        (expr("cn * 1000000L div sz") - expr("gn * 1000000L div N"))
          .as("d_micro"), col("m"))
    val cum = grid.withColumn("cum_micro",
      sum(col("d_micro")).over(Window.partitionBy(col("cls"))
        .orderBy(col("b"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val emd = cum.groupBy(col("cls"), col("sz"), col("m"))
      .agg(sum(abs(col("cum_micro"))).as("__acc"))
      .select(col("cls"), col("sz"),
        when(col("m") > 1L, expr("__acc div (m - 1)")).otherwise(0L)
          .as("t_micro"))
    emd.agg(
      count(lit(1)).as("n_classes"),
      sum(col("sz")).as("n_rows"),
      max(col("t_micro")).as("t_max_micro"),
      sum(when(col("t_micro") > tMicro, 1L).otherwise(0L))
        .as("classes_above_t"),
      sum(when(col("t_micro") > tMicro, col("sz")).otherwise(0L))
        .as("rows_above_t"))
      .select(col("n_classes"), col("n_rows"), col("t_max_micro"),
        col("classes_above_t"), col("rows_above_t"),
        ExactRatio.r4(col("rows_above_t"), col("n_rows"))
          .as("share_above_t"))
  }

  /** Same over any pre-grouped (…, sz) QI-group-size frame. */
  def kAnonymityOn(groups: DataFrame, k: Int): DataFrame = {
    groups.agg(
      count(lit(1)).as("n_groups"),
      sum(col("sz")).as("n_rows"),
      min(col("sz")).as("k_min"),
      sum(when(col("sz") < k, 1L).otherwise(0L)).as("groups_below_k"),
      sum(when(col("sz") < k, col("sz")).otherwise(0L)).as("rows_below_k"))
      .select(col("n_groups"), col("n_rows"), col("k_min"),
        col("groups_below_k"), col("rows_below_k"),
        ExactRatio.r4(col("rows_below_k"), col("n_rows"))
          .as("share_below_k"))
  }

  /** Shannon entropy / Gini impurity of the label distribution — the
    * one-row class-balance diagnostic (a skewed event-type or language
    * mix is the first thing to check before training on a corpus).
    * Per-class probability terms quantize to DECIMAL before the final
    * sum (order-independent); work after the count aggregation is
    * class-cardinality, not row-cardinality. */
  def typeEntropy(df: DataFrame, label: Column): DataFrame = {
    val counts = df.groupBy(label.as("lbl")).agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).as("tot"), count(lit(1)).as("k"))
    val p = col("n").cast("double") / col("tot")
    counts.crossJoin(broadcast(tot))
      .select(col("k"),
        (-p * log(p)).cast("decimal(20,10)").as("__h"),
        (p * p).cast("decimal(20,10)").as("__g"))
      .groupBy(col("k")).agg(sum(col("__h")).as("__hs"), sum(col("__g")).as("__gs"))
      .select(col("k").as("n_classes"),
        round(col("__hs").cast("double"), 4).as("entropy"),
        // a single class has no spread to normalize by: define 0
        when(col("k") > 1,
          round(col("__hs").cast("double") / log(col("k").cast("double")), 4))
          .otherwise(lit(0.0)).as("entropy_norm"),
        round(lit(1) - col("__gs").cast("double"), 4).as("gini"))
  }

  /** Top session paths — journey mining: split each user's stream
    * into sessions at `gapMin`-minute silences, take each session's
    * first `pathLen` event types as a path string, count paths. The
    * gap test runs on exact µs epoch integers (no float seconds), the
    * session id is a running sum over the SAME user window the gap
    * flag used, and the in-session rank's (user, sess) window is
    * satisfied by the user-hash partitioning already in place — one
    * shuffle on the user key covers all three window passes, then one
    * aggregation on (user, session) and a TakeOrdered top-N on path
    * counts. Path strings assemble by sorting the collected (rank,
    * type) structs, never relying on collect_list order. */
  def sessionPaths(s: SparkSession, d: String): DataFrame = {
    val gapMin = 2880
    val pathLen = 3
    sessionPathsOn(Tables.events(s, d), gapMin, pathLen, listTopN)
  }

  /** Same over any (user_id, ts, event_id, event_type) frame. */
  def sessionPathsOn(events: DataFrame, gapMin: Int, pathLen: Int,
                     topN: Int): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val sess = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("gap_us", unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("new_sess",
        when(col("gap_us") > gapMin * 60L * 1000000L, 1L).otherwise(0L))
      .withColumn("sess", sum(col("new_sess")).over(w))
    val ranked = sess.withColumn("rin",
      row_number().over(Window.partitionBy(col("user_id"), col("sess"))
        .orderBy(col("ts"), col("event_id"))))
      .filter(col("rin") <= pathLen)
    ranked.groupBy(col("user_id"), col("sess"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("rin"), col("event_type")))),
          x => x("event_type")), ">").as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(topN)
  }

  /** Sliding event-sequence n-gram mining — the sequential-pattern
    * complement of [[sessionPaths]] (which keeps only each session's
    * HEAD): every consecutive (e₁→e₂→e₃) window in each user's full
    * ordered stream counts, so "view>click>purchase" surfaces no
    * matter where in the visit it happens — the contiguous-sequence
    * core of PrefixSpan-style mining, and the input statistic for
    * the [[markovChains]] entry's higher-order cousin. One user-key
    * window (two lead()s, no explode), one gram-key aggregate;
    * shuffle rows = events once + distinct grams (≤ |types|³). The
    * (ts, event_id) ordering is total, so the gram stream is
    * deterministic cross-engine. */
  def eventNgrams(s: SparkSession, d: String): DataFrame =
    eventNgramsOn(Tables.events(s, d), listTopN)

  /** Same over any (user_id, ts, event_id, event_type) frame. */
  def eventNgramsOn(events: DataFrame, topN: Int): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("__t1", lead(col("event_type"), 1).over(w))
      .withColumn("__t2", lead(col("event_type"), 2).over(w))
      .filter(col("__t2").isNotNull) // complete trigrams only
      .select(concat_ws(">", col("event_type"), col("__t1"), col("__t2"))
        .as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("gram"))
      .limit(topN)
  }

  /** Per-series z-score standardization — the scale-free feature most
    * models want. Mean/std derive from exact DECIMAL moment sums over
    * 4dp-quantized values (one aggregation, order-independent) and are
    * ROUNDED before use — the repo's rounded-metric rule, so no
    * boundary row can flip between engines; the standardized value is
    * then a row-local projection after a broadcast join of the R-row
    * stats side. Two scans, one narrow aggregation, zero wide
    * shuffles of the fact table. */
  def featureScale(s: SparkSession, d: String): DataFrame =
    featureScaleOn(Tables.events(s, d))

  /** Same over any (event_id, event_type, value) frame. */
  def featureScaleOn(events: DataFrame): DataFrame = {
    val x = round(col("value"), 4).cast("decimal(14,4)")
    val stats = events
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(x).as("sx"), sum(x * x).as("sxx"))
      .select(col("event_type"),
        round(col("sx").cast("double") / col("n"), 4).as("mu"),
        round(sqrt(
          (col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double") / col("n")) /
          (col("n") - 1)), 4).as("sigma"))
    events
      .join(broadcast(stats), "event_type")
      .select(col("event_id"), col("event_type"),
        round((round(col("value"), 4) - col("mu")) / col("sigma"), 4).as("z"))
      .orderBy(col("event_id"))
  }

  /** Volume-concentration audit across users — the INEQUALITY view of
    * the key distribution ([[skewProfile]] names the heaviest keys;
    * this measures how unequal the whole distribution is): exact Gini
    * coefficient over per-user event counts plus the share of all
    * events contributed by the top 1% / 10% of users. The training-
    * data relevance: a corpus whose volume concentrates in few
    * sources/users is effectively much smaller than its row count —
    * gini + top-shares are the one-row summary of that risk.
    *
    * Plan: one map-side-combinable count per user, then ascending
    * ranks 1..n from the shared distributed [[PrefixSum]] (weight 1,
    * (cnt, user_id) order — NEVER a partition-less rank window), one
    * scalar user-count aggregate joined back, and ONE final
    * aggregation deriving everything: Gini from the rank-weighted sum
    * G = 2·Σr·c/(n·Σc) − (n+1)/n with Σr·c in DECIMAL(38,0) (exact at
    * 100 TB row counts), top-k shares from conditional sums over the
    * same ranks. Doubles appear only in the final divisions of exact
    * integers — engine-identical. */
  def giniUsers(s: SparkSession, d: String): DataFrame =
    giniUsersOn(Tables.events(s, d), col("user_id"))

  /** Same over any frame and key column. */
  def giniUsersOn(df: DataFrame, key: Column): DataFrame = {
    val counts = df.groupBy(key.as("k")).agg(count(lit(1)).as("cnt"))
    val ranked = PrefixSum.exclusive(counts, Seq(col("cnt"), col("k")),
        lit(1L))
      .withColumn("r", col("__cum") + 1) // ascending rank 1..n
    val n = counts.agg(count(lit(1)).as("n_users"))
    val top = ranked.crossJoin(broadcast(n))
    val agg = top.agg(
      first(col("n_users")).as("n_users"),
      sum(col("cnt")).as("total"),
      sum((col("r") * col("cnt")).cast("decimal(38,0)")).as("rc"),
      sum(when(col("r") > col("n_users") -
        greatest(expr("n_users div 100"), lit(1L)), col("cnt"))
        .otherwise(0L)).as("top1"),
      sum(when(col("r") > col("n_users") -
        greatest(expr("n_users div 10"), lit(1L)), col("cnt"))
        .otherwise(0L)).as("top10"))
    // the gini numerator 2*rc - (n+1)*total is >= 0 for an ascending
    // rank order (the standard identity), so the r4 contract holds
    agg.select(col("n_users"), col("total"),
      ExactRatio.r4(
        col("rc").cast("decimal(38,0)") * 2 -
          (col("n_users") + 1).cast("decimal(38,0)") * col("total"),
        col("n_users").cast("decimal(38,0)") * col("total")).as("gini"),
      ExactRatio.r4(col("top1"), col("total")).as("top1_share"),
      ExactRatio.r4(col("top10"), col("total")).as("top10_share"))
  }

  /** Market-basket affinity mining: which brand PAIRS co-occur in the
    * same order beyond what their individual popularity predicts —
    * support, confidence, and lift for the top pairs. This is the
    * co-occurrence signal behind "also bought" and behind
    * domain-mixture diagnostics (two sources that always co-occur in
    * a basket/page are one source in disguise).
    *
    * Baskets are distinct (order, brand) memberships (lineitem joined
    * to part — an AQE-decided join, part is SF-scaling); the pair
    * explode is a self-equi-join on the basket key with fanout
    * C(brands-in-basket, 2), bounded by `maxBasket` (oversized
    * baskets DROP — the [[GraphOps.trianglesOn]] cap posture; inert
    * on ≤7-item reference baskets, load-bearing in the 100 TB
    * contract). Pair counts aggregate on the pair key
    * (brand-cardinality², map-side-combinable); per-brand basket
    * counts and the total-basket scalar broadcast back, so nothing
    * wide ever shuffles twice. lift = n_ab·N / (n_a·n_b) with every
    * factor cast to double BEFORE the multiply — a Long product of
    * two count aggregates overflows silently past 2^63 at corpus
    * scale while DuckDB raises, an engine-parity trap; IEEE double
    * multiply/divide is bit-identical on both. Ordered by rounded
    * lift with pair tiebreaks under a TakeOrdered top-k. */
  def marketBasket(s: SparkSession, d: String): DataFrame = {
    val minCount = 50L
    val maxBasket = 32
    val baskets = Tables.lineitem(s, d)
      .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("basket"), col("p_brand").as("item"))
    marketBasketOn(baskets, minCount, listTopN, maxBasket)
  }

  /** Same over any (basket, item) membership list. */
  def marketBasketOn(pairs: DataFrame, minCount: Long, topN: Int,
                     maxBasket: Int): DataFrame = {
    // capped member-set staging (one aggregate) + row-local pair
    // expansion replace the previous distinct → count-window →
    // self-join shape (guide §2.4; see Baskets). The staged frame
    // feeds the basket count, item counts, and pair counts.
    val sized = Baskets.sets(pairs, maxBasket)
      .transform(Reuse.shared)
    val nBaskets = sized.agg(count(lit(1)).as("n_baskets"))
    val itemCounts = Baskets.members(sized)
      .groupBy(col("item")).agg(count(lit(1)).as("n_item"))
    val pairCounts = Baskets.pairsOf(sized)
      .groupBy(col("a").as("item_a"), col("b").as("item_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCount)
    // item-count joins are left to AQE: the item vocabulary is a
    // scaling axis in the generic face (brands here are 25 rows, but
    // a part-keyed caller has millions) — the stream_enrich rule
    pairCounts
      .join(itemCounts.withColumnRenamed("item", "item_a")
        .withColumnRenamed("n_item", "n_a"), "item_a")
      .join(itemCounts.withColumnRenamed("item", "item_b")
        .withColumnRenamed("n_item", "n_b"), "item_b")
      .crossJoin(broadcast(nBaskets))
      .select(col("item_a"), col("item_b"), col("n_ab"),
        ExactRatio.r4(col("n_ab"), col("n_baskets")).as("support"),
        ExactRatio.r4(col("n_ab"), col("n_a")).as("confidence"),
        // widen BEFORE the products: at 100 TB both factors can pass
        // 2^31.5 and a Long product overflows silently; DECIMAL(38,0)
        // holds count-product·2e4 with room to spare
        ExactRatio.r4(
          col("n_ab").cast("decimal(38,0)") * col("n_baskets"),
          col("n_a").cast("decimal(38,0)") * col("n_b"))
          .as("lift"))
      .orderBy(col("lift").desc, col("item_a"), col("item_b"))
      .limit(topN)
  }

  /** Pairwise Pearson correlation matrix over a measure set in ONE
    * aggregate pass — the feature-redundancy screen before model
    * training (collinear features waste capacity and destabilize
    * linear fits; this is the readout that says which to drop).
    * ALL k + C(k,2) + k moment columns accumulate in ONE scalar
    * aggregate over the un-expanded scan — no row explode (a first
    * cut exploded each row into its 6 pairs: 6× row allocation and a
    * 6-group exchange for identical sums, measured ~3× slower), so
    * the k² factor multiplies aggregate-buffer width, never row
    * count, and the exchange is one partial-agg row per task.
    * Moments are EXACT DECIMAL sums of 4dp-quantized values (no
    * float associativity drift under any partitioning); the long
    * (cx, cy, corr) form assembles by exploding the ONE result row.
    * The closed form evaluates in double with the same expression
    * tree the oracle replays — +,−,×,÷,sqrt are all IEEE
    * exactly-rounded, so both engines agree bit-for-bit before the
    * final 4dp round. Zero-variance measures pin corr = 0 (Spark
    * and DuckDB disagree on NaN/null propagation; a pinned sentinel
    * cannot). At 100 TB this is one scan + a scalar reduce. */
  def corrMatrix(s: SparkSession, d: String): DataFrame =
    corrMatrixOn(Tables.lineitem(s, d),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))

  /** Same over any frame and ≥2 numeric measure columns. */
  def corrMatrixOn(df: DataFrame, measures: Seq[String]): DataFrame = {
    require(measures.size >= 2, "need at least two measures")
    def dbl(c: Column): Column = c.cast("double")
    val staged = df.select(measures.map(c =>
      round(col(c).cast("double"), 4).cast("decimal(14,4)").as(c)): _*)
    val pairIdx = for {
      i <- measures.indices; j <- (i + 1) until measures.size
    } yield (i, j)
    // one wide scalar aggregate: k sums, k squares, C(k,2) products
    val aggCols =
      measures.zipWithIndex.map { case (c, i) => sum(col(c)).as(s"s$i") } ++
      measures.zipWithIndex.map { case (c, i) =>
        sum((col(c) * col(c)).cast("decimal(30,8)")).as(s"q$i") } ++
      pairIdx.map { case (i, j) =>
        sum((col(measures(i)) * col(measures(j))).cast("decimal(30,8)"))
          .as(s"p${i}_$j") }
    val one = staged.agg(count(lit(1)).as("n"), aggCols: _*)
    // long form from the single result row — a 1-row explode
    val pairs = pairIdx.map { case (i, j) =>
      struct(lit(measures(i)).as("cx"), lit(measures(j)).as("cy"),
        col(s"s$i").as("sx"), col(s"s$j").as("sy"),
        col(s"p${i}_$j").as("sxy"),
        col(s"q$i").as("sxx"), col(s"q$j").as("syy")) }
    val m = one.select(col("n"), explode(array(pairs: _*)).as("p"))
      .select(col("p.cx").as("cx"), col("p.cy").as("cy"), col("n"),
        col("p.sx").as("sx"), col("p.sy").as("sy"), col("p.sxy").as("sxy"),
        col("p.sxx").as("sxx"), col("p.syy").as("syy"))
    val num = dbl(col("n")) * dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy"))
    val den2 =
      (dbl(col("n")) * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx"))) *
      (dbl(col("n")) * dbl(col("syy")) - dbl(col("sy")) * dbl(col("sy")))
    m.select(col("cx"), col("cy"), col("n"),
      when(den2 > 0, round(num / sqrt(den2), 4)).otherwise(lit(0.0))
        .as("corr"))
      .orderBy(col("cx"), col("cy"))
  }

  /** MAU GROWTH ACCOUNTING — the decomposition product teams read
    * before any topline (the Social-Capital framework): month-over-
    * month, every active user is NEW (first month ever), RETAINED
    * (active last month too) or RESURRECTED (active before, skipped
    * last month); users active last month but silent now are
    * CHURNED. MAU(m) ≡ new+retained+resurrected and
    * MAU(m) − MAU(m−1) ≡ new+resurrected−churned — an accounting
    * identity the spec asserts, and the quick ratio
    * (new+resurrected)/churned says whether growth outruns leakage.
    * Cost: one distinct user-month frame, a min-per-user first
    * month, one (user, month)-keyed left join against the
    * shifted-forward frame (retained), one anti join (churned) —
    * everything user-month grain, ~1/30 of the event volume.
    * Calendar months via date_trunc under the UTC session (the
    * daily-aggregate parity posture); churn months clamp to the
    * corpus range (one broadcast scalar). */
  def growthAccounting(s: SparkSession, d: String): DataFrame =
    growthAccountingOn(Tables.events(s, d))

  /** Same over any (user_id, ts) frame. `unit` is the accounting
    * period — the registry runs WEEKLY so the gate corpus (a ~30-day
    * span) exercises every status including churn/resurrection;
    * monthly is the same code with unit = "month". */
  def growthAccountingOn(events: DataFrame): DataFrame = {
    val unit = "week"
    val um = events
      .select(col("user_id"), date_trunc(unit, col("ts")).as("m"))
      .distinct()
      // four consumers: first-month, marker, classify, churn
      .transform(Reuse.shared)
    val first = um.groupBy(col("user_id")).agg(min(col("m")).as("m0"))
    val marker = um.select(col("user_id"),
      (col("m") + expr(s"interval 1 $unit")).as("m"),
      lit(1L).as("was_prev"))
    val cur = um.join(first, "user_id")
      .join(marker, Seq("user_id", "m"), "left")
      .select(col("m"),
        when(col("m") === col("m0"), "new")
          .when(col("was_prev").isNotNull, "retained")
          .otherwise("resurrected").as("status"))
    val mxm = um.agg(max(col("m")).as("mxm"))
    val churn = marker.select(col("user_id"), col("m"))
      .join(um, Seq("user_id", "m"), "left_anti")
      .crossJoin(broadcast(mxm))
      .filter(col("m") <= col("mxm"))
      .select(col("m"), lit("churned").as("status"))
    cur.unionByName(churn)
      .groupBy(col("m"))
      .agg(
        sum(when(col("status") === "new", 1L).otherwise(0L)).as("n_new"),
        sum(when(col("status") === "retained", 1L).otherwise(0L))
          .as("n_retained"),
        sum(when(col("status") === "resurrected", 1L).otherwise(0L))
          .as("n_resurrected"),
        sum(when(col("status") === "churned", 1L).otherwise(0L))
          .as("n_churned"))
      .select(col("m").as("period"), col("n_new"), col("n_retained"),
        col("n_resurrected"), col("n_churned"),
        (col("n_new") + col("n_retained") + col("n_resurrected"))
          .as("mau"),
        when(col("n_churned") > 0,
          round((col("n_new") + col("n_resurrected")).cast("double") /
            col("n_churned"), 4)).as("quick_ratio"))
      .orderBy(col("period"))
  }

  /** POPULATION-STABILITY drift monitor (PSI) — the ML-monitoring
    * readout that says whether the metric's DISTRIBUTION moved
    * between the reference and current windows (means can hold while
    * the shape shifts — exactly what silently breaks trained
    * models): bins = the REFERENCE period's nine 4dp-rounded deciles
    * (the ml_decision_stump threshold posture — quantized before any
    * comparison), both periods histogram into them, PSI =
    * Σ (p−q)·ln(p/q) with additive smoothing (n+0.5)/(N+5) so an
    * empty bin can't blow the log, and the standard >0.2 alert is a
    * PINNED constant. Calendar split = the q_did integer midpoint.
    * Terms quantize to DECIMAL(12,6) before the 10-row total (the
    * rounded-metric rule — a windowed double sum's addition order is
    * engine-internal); all ten bins materialize via a generated bin
    * axis so both engines emit the same rows even when a bin is
    * empty in both periods. Cost: one scalar, one reference decile
    * aggregate, one 10-bin conditional count — two scans. */
  def psiDrift(s: SparkSession, d: String): DataFrame =
    psiDriftOn(Tables.events(s, d))

  /** Same over any (ts, value) frame. */
  def psiDriftOn(events: DataFrame): DataFrame = {
    val staged = events.select(
      expr("unix_micros(ts) div 86400000000").as("ed"),
      round(col("value"), 4).cast("double").as("x"))
    val mid = staged.agg(expr("(min(ed) + max(ed)) div 2").as("mid"))
    val st = staged.crossJoin(broadcast(mid))
      .withColumn("period", when(col("ed") < col("mid"), 0).otherwise(1))
    val counts = withPsiBin(st, col("period") === 0)
      .groupBy(col("bin"))
      .agg(sum(when(col("period") === 0, 1L).otherwise(0L)).as("n_ref"),
        sum(when(col("period") === 1, 1L).otherwise(0L)).as("n_cur"))
    psiFromCounts(counts)
  }

  /** Tags each row of a frame with a double `x` with its PSI `bin`, 0–9:
    * how many of the reference rows' (`isRef`) nine deciles — exact
    * percentiles, 4dp — `x` exceeds. */
  private[graft] def withPsiBin(staged: DataFrame, isRef: Column): DataFrame = {
    val dec = staged.filter(isRef)
      .agg(expr(
        "percentile(x, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))")
        .as("ts"))
      .select((1 to 9).map(i =>
        round(element_at(col("ts"), i), 4).as(s"t$i")): _*)
    val bin = (1 to 9).map(k =>
      (col("x") > col(s"t$k")).cast("long")).reduce(_ + _)
    staged.crossJoin(broadcast(dec)).withColumn("bin", bin)
  }

  /** The PSI arithmetic over a (bin, n_ref, n_cur) count frame, bins
    * without rows counting 0 on both sides — shared by the batch face
    * and [[graft.streaming.SketchStreams]]' versioned audit so the two
    * cannot drift. */
  private[graft] def psiFromCounts(counts: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bins = counts.sparkSession.range(10).select(col("id").as("bin"))
    val full = bins.join(counts, Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val tot = full.agg(sum(col("n_ref")).as("nr"),
      sum(col("n_cur")).as("nc"))
    val p = (col("n_ref").cast("double") + 0.5) /
      (col("nr").cast("double") + 5.0)
    val q = (col("n_cur").cast("double") + 0.5) /
      (col("nc").cast("double") + 5.0)
    // the 6dp term stays DECIMAL only INSIDE the plan (exact,
    // order-independent window sum); the published column is a
    // double — an emitted DECIMAL column is the checker-side
    // pandas-rendering class that drifts across duckdb versions
    val term = round((p - q) * log(p / q), 6).cast("decimal(12,6)")
    val w = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    full.crossJoin(broadcast(tot))
      .select(col("bin"), col("n_ref"), col("n_cur"),
        round(p, 4).as("p_ref"), round(q, 4).as("p_cur"),
        term.as("__term"))
      .withColumn("psi",
        round(sum(col("__term")).over(w).cast("double"), 4))
      .select(col("bin"), col("n_ref"), col("n_cur"),
        col("p_ref"), col("p_cur"),
        col("__term").cast("double").as("psi_term"),
        col("psi"), (col("psi") > 0.2).as("drift"))
      .orderBy(col("bin"))
  }

  /** GROUP-SEQUENTIAL A/B monitoring with O'Brien-Fleming boundaries
    * — the peeking problem solved correctly, completing the A/B
    * family ([[welchTTest]] decides once; [[srmCheck]] gates
    * validity; [[powerMde]] sizes; THIS is how you look early
    * without lying): reading the t-test daily and stopping at the
    * first |z| > 1.96 inflates false positives several-fold; the
    * group-sequential boundary spends α across K scheduled looks —
    * early looks need overwhelming evidence, the final look pays
    * nearly nominal. Boundaries derive from ONE pinned constant:
    * z_crit(k) = c_K·√(K/k) (the classical OBF shape; c_K = 2.04 ≈
    * the two-sided α=0.05 value for K=5 — a table constant, never
    * an engine CDF). Looks = K equal epoch-day windows (integer
    * bounds from one min/max scalar); arms = the [[srmCheck]] md5
    * coin; look k's z = Welch statistic over ALL data through
    * bound_k. Cumulative moments come from ONE map-side K-fold
    * support explode (each event votes for every look at or after
    * its day — the q_dau_wau pattern: K× rows map-side, K
    * aggregate rows shuffled); `is_stop` marks the FIRST crossing
    * via a K-row cumulative window. */
  def sequentialTest(s: SparkSession, d: String): DataFrame =
    sequentialTestOn(Tables.events(s, d))

  /** Same over any (user_id, ts, value) frame. */
  def sequentialTestOn(events: DataFrame): DataFrame = {
    val looks = 5
    val cK = 2.04
    val x = round(col("value"), 4).cast("decimal(14,4)")
    val base = events.select(
      expr("unix_micros(ts) div 86400000000").as("ed"),
      when(substring(md5(col("user_id").cast("string")), 1, 2) < "80",
        lit("a")).otherwise(lit("b")).as("arm"),
      x.as("v"))
    val rng = base.agg(min(col("ed")).as("mn"), max(col("ed")).as("mx"))
    val bound = expr(s"mn + ((mx - mn + 1) * k) div $looks - 1")
    val wl = base.crossJoin(broadcast(rng))
      .withColumn("k", explode(array((1 to looks).map(i =>
        lit(i.toLong)): _*)))
      .filter(col("ed") <= bound)
    def side(tag: String) = Seq(
      sum(when(col("arm") === tag, lit(1L)).otherwise(lit(0L)))
        .as(s"n_$tag"),
      sum(when(col("arm") === tag, col("v")).otherwise(lit(null)))
        .as(s"sx_$tag"),
      sum(when(col("arm") === tag, col("v") * col("v"))
        .otherwise(lit(null))).as(s"sxx_$tag"))
    val m = wl.groupBy(col("k"))
      .agg(max(bound).as("bound_day"),
        (side("a") ++ side("b")): _*)
    def meanv(tag: String) =
      col(s"sx_$tag").cast("double") / col(s"n_$tag")
    def sev(tag: String) =
      (col(s"sxx_$tag").cast("double") -
        col(s"sx_$tag").cast("double") * col(s"sx_$tag").cast("double") /
          col(s"n_$tag")) / (col(s"n_$tag") - 1) / col(s"n_$tag")
    val z = round((meanv("a") - meanv("b")) / sqrt(sev("a") + sev("b")), 4)
    val zCrit = round(lit(cK) *
      sqrt(lit(looks).cast("double") / col("k")), 4)
    val crossed = abs(z) >= zCrit
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("k"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    m.select(col("k"), col("bound_day"), col("n_a"), col("n_b"),
        round(meanv("a"), 4).as("mean_a"),
        round(meanv("b"), 4).as("mean_b"),
        z.as("z"), zCrit.as("z_crit"), crossed.as("crossed"))
      .withColumn("is_stop", col("crossed") &&
        sum(col("crossed").cast("long")).over(w) === 1)
      .orderBy(col("k"))
  }

  /** Price ELASTICITY per product brand — the log-log regression
    * economists read as "a 1% price increase moves quantity by
    * elasticity %": slope of ln(quantity) on ln(unit price), fit per
    * brand with the REGR_* moment recipe. Unit price = extended/qty
    * (double division, IEEE exactly-rounded) 4dp-rounded; BOTH log
    * transforms 6dp-round into DECIMAL BEFORE the moment sums — the
    * rounded-metric rule: ln is libm (1-ulp, not correctly rounded,
    * JVM and C runtimes may differ), so it must never feed an exact
    * cross-engine sum unrounded; quantized, the moments are exact
    * DECIMALs and partitioning can't drift them. The part join
    * projects part to (key, brand) — dimension-sized, AQE broadcasts
    * it at any realistic scale; the fit is one map-side-combinable
    * aggregate per brand, no iteration. Degenerate brands (zero
    * price variance) emit null elasticity, never a division. R² =
    * squared correlation from the same moments. */
  def elasticity(s: SparkSession, d: String): DataFrame =
    elasticityOn(Tables.lineitem(s, d), Tables.part(s, d))

  /** Same over any (l_partkey, l_quantity, l_extendedprice) fact and
    * (p_partkey, p_brand) dimension. */
  def elasticityOn(lineitem: DataFrame, part: DataFrame): DataFrame = {
    def dbl(c: Column): Column = c.cast("double")
    val staged = lineitem
      .filter(col("l_quantity") > 0 && col("l_extendedprice") > 0)
      .select(col("l_partkey"),
        round(log(round(col("l_extendedprice") / col("l_quantity"), 4)), 6)
          .cast("decimal(18,6)").as("x"),
        round(log(col("l_quantity")), 6).cast("decimal(18,6)").as("y"))
      .join(part.select(col("p_partkey").as("l_partkey"), col("p_brand")),
        "l_partkey")
    val m = staged.groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum((col("x") * col("y")).cast("decimal(30,12)")).as("sxy"),
        sum((col("x") * col("x")).cast("decimal(30,12)")).as("sxx"),
        sum((col("y") * col("y")).cast("decimal(30,12)")).as("syy"))
    val num = dbl(col("n")) * dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy"))
    val denx = dbl(col("n")) * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx"))
    val deny = dbl(col("n")) * dbl(col("syy")) - dbl(col("sy")) * dbl(col("sy"))
    m.select(col("p_brand"), col("n"),
      when(denx > 0, round(num / denx, 4)).as("elasticity"),
      when(denx > 0 && deny > 0, round(num * num / (denx * deny), 4))
        .as("r2"))
      .orderBy(col("p_brand"))
  }

  /** RFM segmentation — the classic customer-value readout (recency /
    * frequency / monetary quintile scores, 555 = best): per-customer
    * metrics from ONE order-history aggregate, then each metric's
    * quintile via the DISTRIBUTED prefix-rank ([[PrefixSum]]: range-
    * partition, local rank, broadcast per-partition offsets) — NEVER
    * a partition-less ntile window, which sorts every customer in
    * one task (the etl_assign_ids lesson; ml_feature_ntile gets away
    * with a keyed window because its partitions are event types — a
    * global customer score has no such key). Score = rank·5 div n
    * (pure BIGINT floor division, engine-portable), recency inverted
    * so 5 = most recent; ties inside a metric break on customer key,
    * so boundary customers land deterministically. Cost: one
    * order-scan aggregate + three customer-sized rank passes + three
    * customer-key joins — everything after the first aggregate is
    * customer-grain, ~1/10 of the fact table, and scales linearly. */
  def rfm(s: SparkSession, d: String): DataFrame =
    rfmOn(Tables.orders(s, d))

  /** Same over any (o_custkey, o_orderdate, o_totalprice) frame. */
  def rfmOn(orders: DataFrame): DataFrame = {
    // orders ships TIMESTAMP_NTZ; sessions run UTC, so the cast keeps
    // wall-clock values (the Tables.events parity posture)
    val ed = expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
    // monetary is summed in BIGINT 1e-4 micro-units (exact, and the
    // only output class that renders identically across checker
    // versions — a DECIMAL(24,4) sum column is the pandas-rendering
    // drift class) and converted to a 4dp double only at the face
    val per0 = orders.groupBy(col("o_custkey").as("c"))
      .agg(max(ed).as("last_day"), count(lit(1)).as("freq"),
        sum(round(col("o_totalprice") * 10000).cast("long"))
          .as("m_micro"))
    val mx = per0.agg(max(col("last_day")).as("mx"))
    // customer-grain frame; checkpointed because three rank passes +
    // the final join tree all consume it
    val per = per0.crossJoin(broadcast(mx))
      .select(col("c"), (col("mx") - col("last_day")).as("r_days"),
        col("freq"), col("m_micro"))
      .transform(Reuse.shared)
    val nCust = per.agg(count(lit(1)).as("n"))
    def rankOf(metric: String, as: String): DataFrame =
      PrefixSum.exclusive(per.select(col("c"), col(metric)),
        Seq(col(metric), col("c")), lit(1L))
        .select(col("c"), col("__cum").as(as))
    per
      .join(rankOf("r_days", "kr"), "c")
      .join(rankOf("freq", "kf"), "c")
      .join(rankOf("m_micro", "km"), "c")
      .crossJoin(broadcast(nCust))
      .select(col("c").as("custkey"), col("r_days"), col("freq"),
        round(col("m_micro") / 10000.0, 4).as("monetary"),
        expr("5 - kr * 5 div n").as("r"),
        expr("kf * 5 div n + 1").as("f"),
        expr("km * 5 div n + 1").as("m"))
      .withColumn("segment", col("r") * 100 + col("f") * 10 + col("m"))
      .orderBy(col("custkey"))
  }

  // ------------------------------------------------------------------
  // TPC-H completion block (round 11): the remaining classic decision-
  // support shapes expressible on this schema (no partsupp table, no
  // commit/receipt dates or ship modes — Q2/Q9/Q11/Q12/Q16/Q19/Q20/Q21
  // are not expressible and are documented out in SURVEY §2). All
  // revenue follows the r11 exact-arithmetic contract: per-row
  // round(·,4) → DECIMAL(18,4) → exact sum → publish as micro-BIGINT
  // / 1e4 (engine-portable, accumulation-order-independent); every
  // ratio is an integer floor division of exact integer micro sums
  // (ppm), never a double division that could split on rendering.
  // ------------------------------------------------------------------

  /** Per-row revenue in EXACT 1e-4 micro units (BIGINT). price and
    * discount are exact 2dp in this data, so the true revenue is an
    * exact 4dp decimal; the double product sits within ulps of that
    * grid point and round() snaps both engines to it identically. */
  private[ops] def revMicro: Column =
    round(revenue * 10000).cast("long")

  /** micro-BIGINT → the published 4dp double face (identical integer
    * division in both engines; the quotient is a 4dp grid value). */
  private[ops] def microFace(c: Column): Column = c / 10000.0

  /** TPC-H Q7 (volume shipping): bilateral trade volume between two
    * nations by (supplier nation, customer nation, ship year). The
    * fact spine is lineitem⋈orders⋈customer with supplier on the
    * line's suppkey; both nation legs broadcast (25 rows), and the
    * nation-pair predicate prunes BEFORE the group-by, so the shuffle
    * carries only the two nations' lines. customer/supplier join
    * strategy is left to AQE (broadcast while they fit the
    * threshold, shuffle past it — the q5 posture). */
  def nationVolume(s: SparkSession, d: String): DataFrame = {
    val nationA = "NATION_3"
    val nationB = "NATION_8"
    val n1 = Tables.nation(s, d)
      .select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(s, d)
      .select(col("n_nationkey").as("ck"), col("n_name").as("cust_nation"))
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("sk"))
      .join(broadcast(n2), col("c_nationkey") === col("ck"))
      .filter((col("supp_nation") === nationA && col("cust_nation") === nationB) ||
              (col("supp_nation") === nationB && col("cust_nation") === nationA))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(microFace(sum(revMicro)).as("rev"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** TPC-H Q8 (national market share): of all PROMO-type part sales
    * to customers in one region, what fraction (ppm) came from one
    * supplier nation, per order year? The share is an integer floor
    * division of two exact micro sums — sums can reach ~1e14 micro
    * units at sf1 and ×1e6 overflows a LONG, so the numerator widens
    * to DECIMAL(38,0) before the integral divide (the q_cuped moment-
    * product precedent). part is filtered BEFORE the join and the
    * share nation resolves through the broadcast nation dim. */
  def marketShare(s: SparkSession, d: String): DataFrame = {
    val regionName = "ASIA"
    val partType = "PROMO"
    val shareNation = "NATION_3"
    val r = Tables.region(s, d).filter(col("r_name") === regionName)
    val n = Tables.nation(s, d)
    val p = Tables.part(s, d).filter(col("p_type") === partType)
    val sn = Tables.nation(s, d).filter(col("n_name") === shareNation)
      .select(col("n_nationkey").as("share_nk"))
    Tables.lineitem(s, d)
      .join(p, col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(sn), col("s_nationkey") === col("share_nk"), "left")
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        sum(when(col("share_nk").isNotNull, revMicro).otherwise(lit(0L)))
          .as("__nat"),
        sum(revMicro).as("__tot"))
      .select(col("o_year"),
        expr("cast(cast(__nat as decimal(38,0)) * 1000000 div __tot as bigint)")
          .as("share_ppm"),
        microFace(col("__nat")).as("nation_rev"),
        microFace(col("__tot")).as("total_rev"))
      .orderBy(col("o_year"))
  }

  /** TPC-H Q14 (promotion effect): revenue share (ppm) of PROMO-type
    * parts per ship year. The p_type flag rides the broadcast-or-AQE
    * part join; one shuffle to the year grain; the ppm ratio is the
    * same exact integer floor division as marketShare. */
  def promoRevenue(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
      .groupBy(year(col("l_shipdate")).as("l_year"))
      .agg(
        sum(when(col("p_type") === "PROMO", revMicro).otherwise(lit(0L)))
          .as("__promo"),
        sum(revMicro).as("__tot"))
      .select(col("l_year"),
        expr("cast(cast(__promo as decimal(38,0)) * 1000000 div __tot " +
          "as bigint)").as("promo_ppm"),
        microFace(col("__promo")).as("promo_rev"),
        microFace(col("__tot")).as("total_rev"))
      .orderBy(col("l_year"))

  /** TPC-H Q15 (top supplier): supplier(s) with the maximum quarterly
    * revenue. The max is a 1-row scalar aggregate broadcast back onto
    * the per-supplier frame and compared as an INTEGER (micro units)
    * — exact equality, no double-rendering tie ambiguity (the
    * q_scalar_subquery posture). Ties all surface, ordered by key. */
  def topSupplier(s: SparkSession, d: String): DataFrame = {
    val perSupp = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(revMicro).as("__rev"))
    val mx = perSupp.agg(max(col("__rev")).as("__mx"))
    perSupp.crossJoin(broadcast(mx))
      .filter(col("__rev") === col("__mx"))
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        microFace(col("__rev")).as("total_rev"))
      .orderBy(col("s_suppkey"))
  }

  /** TPC-H Q17 (small-quantity-order revenue): average yearly revenue
    * lost if small-quantity orders for one brand's parts stopped.
    * The "below 20% of the part's average quantity" gate is the
    * boundary trap: 0.2·avg(double) can land exactly on an integer
    * quantity and the partial-agg ulp decides the comparison — so the
    * gate is EXACT INTEGER algebra instead: qty < 0.2·(Σq/n) ⇔
    * 5·q·n < Σq with q integral (quantities are integer-valued in
    * this data; Σ 5·q·n stays far under LONG range). Per-part stats
    * come from a self-aggregate of the brand's lines joined back on
    * partkey — the scan prunes on the broadcast part-filter FIRST,
    * so the self-join is brand-cardinality, never full lineitem². */
  def smallQtyRevenue(s: SparkSession, d: String): DataFrame = {
    val brand = "Brand#1"
    val p = Tables.part(s, d).filter(col("p_brand") === brand)
      .select(col("p_partkey"))
    val li = Tables.lineitem(s, d)
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey").as("pk"),
        col("l_quantity").cast("long").as("qc"),
        round(col("l_extendedprice") * 10000).cast("long").as("ep_micro"))
    val stats = li.groupBy(col("pk"))
      .agg(sum(col("qc")).as("sumq"), count(lit(1)).as("nq"))
    li.join(stats, "pk")
      .filter(col("qc") * 5 * col("nq") < col("sumq"))
      .agg(count(lit(1)).as("n_lines"),
        (expr("sum(ep_micro) div 7") / 10000.0).as("avg_yearly"))
  }

  /** TPC-H Q13 (customer order-count distribution): how many
    * customers placed k orders, for every k. The LEFT OUTER join
    * keeps zero-order customers (count(o_orderkey) counts only
    * matches, so they land in the k=0 bucket — this data has none,
    * but the shape must not assume that), then a second, tiny
    * aggregate over the customer-grain counts. Pure counting — no
    * doubles anywhere. */
  def orderCountDist(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"),
        "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  /** TPC-H Q19 (discounted revenue): revenue from three disjunctive
    * brand/size/quantity bands — the OR-of-ANDs predicate-pushdown
    * exercise (the disjunction reaches the part and lineitem scans
    * as per-leg bounds; the brand/size legs ride the part join).
    * One scalar row, micro-BIGINT revenue. */
  def discountBands(s: SparkSession, d: String): DataFrame = {
    val p = Tables.part(s, d)
    val band1 = col("p_brand") === "Brand#1" && col("p_size").between(1, 5) &&
      col("l_quantity").between(1, 11)
    val band2 = col("p_brand") === "Brand#2" && col("p_size").between(1, 10) &&
      col("l_quantity").between(10, 20)
    val band3 = col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
      col("l_quantity").between(20, 30)
    Tables.lineitem(s, d)
      .join(p, col("l_partkey") === col("p_partkey"))
      .filter(band1 || band2 || band3)
      .agg(count(lit(1)).as("n_lines"),
        microFace(sum(revMicro)).as("revenue"))
  }

  /** TPC-H Q22-flavored (global sales opportunity): high-balance,
    * below-average-engagement customers per country code (this data
    * has no c_phone, so cntrycode = nationkey mod 5 = the region
    * axis; and every customer has orders, so "no orders in 7 years"
    * adapts to "order count below the customer average"). BOTH gates
    * are the Q17 boundary-trap class (x > avg(double) flips on
    * partial-agg ulp order when x sits exactly on the mean) and both
    * run as EXACT INTEGER cross-multiplications instead:
    * bal_cents·n⁺ > Σ⁺_cents (positive-balance mean) and
    * cnt·n_cust < Σ_orders. The two scalar thresholds broadcast as
    * 1-row frames (the q15 posture). */
  def globalSales(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d).select(col("c_custkey"),
      (col("c_nationkey") % 5).as("cntrycode"),
      round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
    val posAvg = cust.filter(col("bal_cents") > 0)
      .agg(sum(col("bal_cents")).as("pos_sum"),
        count(lit(1)).as("pos_n"))
    val perCust = cust
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"),
        "left_outer")
      .groupBy(col("c_custkey"), col("cntrycode"), col("bal_cents"))
      .agg(count(col("o_orderkey")).as("n_ord"))
    val ordAvg = perCust.agg(sum(col("n_ord")).as("ord_sum"),
      count(lit(1)).as("cust_n"))
    perCust.crossJoin(broadcast(posAvg)).crossJoin(broadcast(ordAvg))
      .filter(col("bal_cents") * col("pos_n") > col("pos_sum") &&
        col("n_ord") * col("cust_n") < col("ord_sum"))
      .groupBy(col("cntrycode"))
      .agg(count(lit(1)).as("numcust"),
        (sum(col("bal_cents")) / 100.0).as("totacctbal"))
      .orderBy(col("cntrycode"))
  }

  /** TPC-H Q18 (large-volume customers): orders whose total quantity
    * exceeds a threshold, with their customer. The HAVING gate runs
    * on the order-grain aggregate BEFORE the customer join (the
    * shrink-then-join posture: only qualifying orders shuffle to the
    * dim side); quantities are integral so the sum and gate are exact
    * LONG arithmetic. Output ordered (o_totalprice DESC, orderkey)
    * with a top-N cap — o_totalprice is a raw 2dp column, not an
    * aggregate, so publishing it raw is rendering-safe. */
  def largeOrders(s: SparkSession, d: String): DataFrame = {
    val minQty = 250L
    val topN = 100
    val big = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
      .filter(col("sum_qty") > minQty)
    big.join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(topN)
  }
}
