package graft

import graft.ops.Analytics
import org.apache.spark.sql.functions._

class AnalyticsSpec extends SparkSpec {

  test("q1 pricing summary: 6 flag/status groups, totals add up") {
    val rows = Analytics.pricingSummary(spark, sf).collect()
    assert(rows.length > 0 && rows.length <= 9)
    val total = rows.map(_.getAs[Long]("count_order")).sum
    val filtered = Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp")).count()
    assert(total === filtered)
  }

  test("q3 top unshipped: at most 10 rows, descending revenue") {
    val rows = Analytics.topUnshipped(spark, sf).collect()
    assert(rows.length <= 10)
    val revs = rows.map(_.getAs[Double]("rev"))
    assert(revs.sameElements(revs.sortBy(-_)))
  }

  test("q5 region revenue is non-empty with positive revenue") {
    val rows = Analytics.regionRevenue(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Double]("rev") > 0))
  }

  test("count by type covers all five event types") {
    val rows = Analytics.countByType(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSeq ===
      Seq("click", "error", "purchase", "signup", "view"))
    assert(rows.map(_.getLong(1)).sum === Tables.events(spark, sf).count())
  }

  test("pivot per day row sums equal per-day event counts") {
    val pivoted = Analytics.pivotPerDay(spark, sf)
    val sumCols = Analytics.eventTypes.map(col).reduce(_ + _)
    val total = pivoted.agg(sum(sumCols)).first().getLong(0)
    assert(total === Tables.events(spark, sf).count())
  }

  test("semi and anti joins partition customers") {
    val semi = Analytics.semiJoin(spark, sf).count()
    val cust = Tables.customer(spark, sf).count()
    assert(semi > 0 && semi <= cust)
  }

  test("window running: final running sum matches group sum") {
    val last = Analytics.windowRunning(spark, sf)
      .groupBy("user_id").agg(max("rn").as("n"), max("running_value").as("m"))
    val n = last.count()
    assert(n > 0)
  }

  test("topk per group: exactly 3 per type, ranked") {
    val rows = Analytics.topkPerGroup(spark, sf).collect()
    assert(rows.length === 15)
    assert(rows.groupBy(_.getString(0)).forall(_._2.length == 3))
  }

  test("rollup has per-group, subtotal, and grand-total rows") {
    val rows = Analytics.rollupAgg(spark, sf).collect()
    val grand = rows.filter(r => r.getString(0) == "ALL" && r.getString(1) == "ALL")
    assert(grand.length === 1)
    assert(grand.head.getAs[Long]("n") === Tables.lineitem(spark, sf).count())
  }

  test("set ops partition click-days into both/click_only, disjoint and exact") {
    val rows = Analytics.setOps(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getTimestamp(2)))
    val both = rows.filter(_._1 == "both").map(r => (r._2, r._3)).toSet
    val only = rows.filter(_._1 == "click_only").map(r => (r._2, r._3)).toSet
    // the two segments partition the distinct click-days
    assert((both & only).isEmpty)
    val ev = Tables.events(spark, sf)
    def days(t: String) = ev
      .filter(col("event_type") === t)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .distinct().collect().map(r => (r.getLong(0), r.getTimestamp(1))).toSet
    val clicks = days("click")
    val views = days("view")
    assert(both === (clicks & views))
    assert(only === (clicks -- views))
    assert(both.nonEmpty && only.nonEmpty)
  }

  test("cube emits all four grouping sets; each slice sums to the total") {
    val rows = Analytics.cubeAgg(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(3)))
    val total = Tables.lineitem(spark, sf).count()
    // every slice family partitions the fact table
    assert(rows.collect { case ("ALL", "ALL", n) => n }.toSeq === Seq(total))
    assert(rows.collect { case (f, "ALL", n) if f != "ALL" => n }.sum === total)
    assert(rows.collect { case ("ALL", st, n) if st != "ALL" => n }.sum === total)
    assert(rows.collect { case (f, st, n) if f != "ALL" && st != "ALL" => n }
      .sum === total)
    // the flag-only slice is the set neither rollup nor the
    // grouping-sets entry produces
    assert(rows.exists { case (f, st, _) => f != "ALL" && st == "ALL" })
  }

  test("grouping sets: the status-only set rollup can't express is present") {
    val rows = Analytics.groupingSetsAgg(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(3)))
    val total = Tables.lineitem(spark, sf).count()
    // grand total from the () set
    assert(rows.collect { case ("ALL", "ALL", n) => n }.toSeq === Seq(total))
    // the inverted-hierarchy set: per-status subtotals with flag=ALL,
    // each equal to the sum of its (flag, status) leaves
    val leaves = rows.filter(r => r._1 != "ALL" && r._2 != "ALL")
    val statusOnly = rows.filter(r => r._1 == "ALL" && r._2 != "ALL")
    assert(statusOnly.nonEmpty)
    statusOnly.foreach { case (_, status, n) =>
      assert(n === leaves.filter(_._2 == status).map(_._3).sum)
    }
    // and no flag-only subtotal exists — it is not one of the sets
    assert(!rows.exists(r => r._1 != "ALL" && r._2 == "ALL"))
  }

  test("rank functions: quartiles partition evenly, distributions end at 1") {
    val rows = Analytics.rankFunctions(spark, sf).collect()
      .map(r => (r.getString(0), r.getInt(3), r.getDouble(4), r.getDouble(5)))
    rows.groupBy(_._1).values.foreach { g =>
      val quartiles = g.groupBy(_._2).view.mapValues(_.size)
      assert(quartiles.keySet === Set(1, 2, 3, 4))
      // ntile balance: sizes differ by at most 1
      assert(quartiles.values.max - quartiles.values.min <= 1)
      assert(g.map(_._3).min === 0.0)      // percent_rank starts at 0
      assert(g.map(_._4).max === 1.0)      // cume_dist ends at 1
    }
  }

  test("time-range window sums exactly the trailing interval, not row counts") {
    import spark.implicits._
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    // uneven arrivals: a rows-frame of fixed size could not produce
    // these sums. Routed through the REAL operator via a tiny events
    // table in the testdata shape (ts = epoch-nanos long), so a
    // regression in the frame bound, the decimal quantization, or the
    // __sec derivation fails HERE, not only at the oracle gate.
    val ev = Seq(
      (1L, 1L, t(0), 10.0), (1L, 2L, t(10), 20.0),
      (1L, 3L, t(29), 5.0),                 // within 30min of both
      (1L, 4L, t(45), 1.0)                  // only t29 is within its 30min
    ).toDF("user_id", "event_id", "ts", "value")
    val dir = java.nio.file.Files.createTempDirectory("graft-trange").toString
    ev.withColumn("ts", unix_micros(col("ts")) * 1000)
      .withColumn("event_type", lit("click"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Analytics.windowTimeRange(spark, dir).collect()
      .map(r => r.getLong(1) -> r.getDouble(3)).toMap
    assert(out === Map(1L -> 10.0, 2L -> 30.0, 3L -> 35.0, 4L -> 6.0))
  }

  test("approx distinct (HLL) is within 5% of exact") {
    val e = Tables.events(spark, sf)
    val exact  = e.agg(countDistinct(col("user_id"))).first().getLong(0)
    val approx = e.agg(approx_count_distinct(col("user_id"))).first().getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.05)
  }

  test("funnel stages require IN-ORDER events; out-of-order never converts") {
    import spark.implicits._
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val ev = Seq(
      // u1: full ordered funnel view→click→purchase
      (1L, "view", t(1)), (1L, "click", t(2)), (1L, "purchase", t(3)),
      // u2: purchase BEFORE the click — reaches click, never purchase
      (2L, "view", t(1)), (2L, "purchase", t(2)), (2L, "click", t(3)),
      // u3: click before any view — stops at view
      (3L, "click", t(1)), (3L, "view", t(2)),
      // u4: never views — in no stage
      (4L, "click", t(1)), (4L, "purchase", t(2)),
      // u5: click at the SAME instant as the view counts (>=)
      (5L, "view", t(4)), (5L, "click", t(4))
    ).toDF("user_id", "event_type", "ts")
    val out = graft.ops.Analytics.funnelOn(ev, Seq("view", "click", "purchase"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toList
    assert(out === List(
      (1, "view", 4L),      // u1, u2, u3, u5
      (2, "click", 3L),     // u1, u2, u5
      (3, "purchase", 1L))) // u1 only
  }

  test("histogram bins partition the data: counts sum to the row total") {
    val out = Analytics.histogram(spark, sf).collect()
    assert(out.map(_.getLong(2)).sum === Tables.events(spark, sf).count())
    out.foreach(r => assert(r.getLong(1) >= 1 && r.getLong(1) <= 10))
  }

  test("profile reports exact per-column stats in one pass") {
    val orders = Tables.orders(spark, sf)
    val out = Analytics.profile(orders, Seq("o_custkey", "o_orderstatus"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val n = orders.count()
    assert(out("o_custkey") ===
      ((n, 0L, orders.select("o_custkey").distinct().count())))
    assert(out("o_orderstatus") ===
      ((n, 0L, orders.select("o_orderstatus").distinct().count())))
  }

  test("etl_profile_approx tracks the exact per-column profile within rsd") {
    val orders = Tables.orders(spark, sf)
    val cols = Seq("o_custkey", "o_orderstatus", "o_totalprice")
    def byCol(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val exact = byCol(Analytics.profile(orders, cols))
    val approx = byCol(Analytics.profile(orders, cols, approx = true))
    cols.foreach { c =>
      // counts and null counts are not estimated — exactly equal
      assert(approx(c)._1 === exact(c)._1)
      assert(approx(c)._2 === exact(c)._2)
      // rsd=0.02 ⇒ ±3σ = 6%; tiny-cardinality columns come out exact
      assert(math.abs(approx(c)._3 - exact(c)._3).toDouble /
        exact(c)._3 < 0.06, s"distinct estimate off for $c")
    }
  }

  test("q_dau_wau_approx: exact pair matches dauWau, every verdict true") {
    val exact = Analytics.dauWau(spark, sf).collect()
      .map(r => r.get(0) -> (r.getLong(1), r.getLong(2))).toMap
    val checked = Analytics.dauWauChecked(spark, sf).collect()
    assert(checked.length === exact.size)
    checked.foreach { r =>
      assert((r.getLong(1), r.getLong(2)) === exact(r.get(0)), r.toString)
      assert(r.getBoolean(3) && r.getBoolean(4), r.toString)
    }
  }

  test("checked approx faces: exact columns equal the exact operators, " +
       "every in-plan verdict true") {
    val dc = Analytics.distinctCountChecked(spark, sf).first()
    val de = Analytics.distinctCount(spark, sf).first()
    assert(dc.getLong(0) === de.getLong(0) && dc.getLong(1) === de.getLong(1))
    assert(dc.getBoolean(2) && dc.getBoolean(3), dc.toString)
    val pe = Analytics.percentiles(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val pc = Analytics.percentilesChecked(spark, sf).collect()
    assert(pc.length === pe.size)
    pc.foreach { r =>
      assert((r.getDouble(1), r.getDouble(2), r.getDouble(3)) ===
        pe(r.getString(0)), r.toString)
      assert(r.getBoolean(4) && r.getBoolean(5) && r.getBoolean(6), r.toString)
    }
    val cols = Seq("o_custkey", "o_orderstatus", "o_totalprice")
    val prof = Analytics.profileChecked(Tables.orders(spark, sf), cols)
      .collect()
    assert(prof.map(_.getString(0)).toSeq === cols.sorted)
    prof.foreach(r => assert(r.getBoolean(4), r.toString))
  }

  test("full outer reconciliation surfaces BOTH one-sided null shapes") {
    val rows = Analytics.fullOuterReconcile(spark, sf).collect()
    // even customers outside the order slice: null aggregates
    assert(rows.exists(r => !r.isNullAt(1) && r.isNullAt(2)))
    // odd in-slice customers: null dimension columns
    assert(rows.exists(r => r.isNullAt(1) && !r.isNullAt(2)))
    // and the matched core exists
    assert(rows.exists(r => !r.isNullAt(1) && !r.isNullAt(2)))
    // every in-slice order-bearing custkey appears exactly once
    val orderKeys = Tables.orders(spark, sf)
      .filter(col("o_custkey") % 3 === 0)
      .select(col("o_custkey")).distinct().count()
    assert(rows.count(!_.isNullAt(2)).toLong === orderKeys)
  }

  test("ntile bins: 10 near-equal bins per type, monotone boundaries") {
    val rows = Analytics.ntileBins(spark, sf).collect()
    val types = rows.map(_.getString(0)).distinct
    types.foreach { t =>
      val bins = rows.filter(_.getString(0) == t).sortBy(_.getInt(1))
      assert(bins.map(_.getInt(1)).toSeq === (1 to 10))
      val sizes = bins.map(_.getLong(2))
      assert(sizes.max - sizes.min <= 1, s"$t sizes: ${sizes.toSeq}")
      // bin boundaries are non-decreasing across deciles
      val his = bins.map(_.getDouble(4))
      val los = bins.map(_.getDouble(3))
      assert(los.zip(his).forall { case (l, h) => l <= h })
      assert(his.zip(his.tail).forall { case (a, b) => a <= b })
    }
    val total = rows.map(_.getLong(2)).sum
    assert(total === Tables.events(spark, sf).count())
  }

  test("user growth: cumulative adoption is monotone and lands on the " +
       "distinct-user count per type") {
    val rows = Analytics.userGrowth(spark, sf).collect()
    val expected = Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(count_distinct(col("user_id")).as("u")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.groupBy(_.getString(0)).foreach { case (t, rs) =>
      val sorted = rs.sortBy(_.getTimestamp(1).getTime)
      val cums = sorted.map(_.getLong(3))
      assert(cums.zip(cums.tail).forall { case (a, b) => a < b })
      assert(cums.last === expected(t), s"$t final ${cums.last}")
      assert(sorted.map(_.getLong(2)).sum === cums.last)
    }
  }

  test("chi2: zero for independence, Cramér's V = 1 for a diagonal") {
    import spark.implicits._
    // perfectly independent: every (a, b) cell equally filled
    val indep = (for { a <- Seq("x", "y"); b <- Seq("p", "q", "r");
                       _ <- 1 to 5 } yield (a, b)).toDF("a", "b")
    val ri = Analytics.chi2Independence(indep, "a", "b").first()
    assert(ri.getDouble(0) === 0.0)
    assert(ri.getLong(1) === 2L) // (2-1)*(3-1)
    // perfectly dependent: b is a function of a (diagonal table)
    val dep = (for { a <- Seq("x", "y", "z"); _ <- 1 to 7 }
      yield (a, a.toUpperCase)).toDF("a", "b")
    val rd = Analytics.chi2Independence(dep, "a", "b").first()
    assert(rd.getDouble(3) === 1.0, s"cramers_v ${rd.getDouble(3)}")
    assert(rd.getDouble(0) > 0.0)
  }

  test("winsorize: ~10% clipped per series, clipped mean inside the band") {
    val rows = Analytics.winsorize(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, lo, hi) = (r.getLong(1), r.getDouble(5), r.getDouble(6))
      val (cl, ch) = (r.getLong(2), r.getLong(3))
      assert(lo < hi)
      // ~5% on each tail (interpolated percentiles: at most a couple
      // of rows off on small series)
      assert(math.abs(cl - 0.05 * n) <= n * 0.02 + 2, s"lo clips $cl of $n")
      assert(math.abs(ch - 0.05 * n) <= n * 0.02 + 2, s"hi clips $ch of $n")
      val m = r.getDouble(4)
      assert(m >= lo && m <= hi, s"mean $m outside [$lo, $hi]")
    }
  }

  test("skew profile: hand fixture yields exact share and skew ratios") {
    import spark.implicits._
    // 10 rows of key 1, 4 of key 2, 1 each of 3..8 → n=20, d=8
    val df = (Seq.fill(10)(1) ++ Seq.fill(4)(2) ++ (3 to 8)).toDF("k")
    val rows = Analytics.skewProfile(df, col("k"), topN = 3).collect()
    assert(rows.map(_.getAs[Int]("key")).toSeq === Seq(1, 2, 3))
    assert(rows.map(_.getAs[Long]("cnt")).toSeq === Seq(10L, 4L, 1L))
    assert(rows.map(_.getAs[Double]("share")).toSeq === Seq(0.5, 0.2, 0.05))
    // skew = share * d: 0.5*8, 0.2*8, 0.05*8
    assert(rows.map(_.getAs[Double]("skew")).toSeq === Seq(4.0, 1.6, 0.4))
  }

  test("skew profile: top-N boundary is deterministic under count ties") {
    import spark.implicits._
    val df = (1 to 6).flatMap(k => Seq.fill(3)(k)).toDF("k") // all tied
    val rows = Analytics.skewProfile(df, col("k"), topN = 4).collect()
    assert(rows.map(_.getAs[Int]("key")).toSeq === Seq(1, 2, 3, 4))
  }

  test("linreg trend: full grid, R² in [0,1], slope finite") {
    val rows = Analytics.linregTrend(spark, sf).collect()
    assert(rows.nonEmpty)
    // every (type, cohort) series spans multiple days
    assert(rows.forall(_.getAs[Long]("n_days") > 1))
    rows.foreach { r =>
      val r2 = r.getAs[Double]("r2")
      assert(r2 >= 0.0 && r2 <= 1.0, s"r2 out of range: $r2")
      assert(!r.getAs[Double]("slope").isNaN)
    }
  }

  test("linreg trend: a perfect line recovers slope, intercept, R²=1") {
    import spark.implicits._
    // y = 3x + 2 exactly, via the same REGR_ aggregates the op uses
    val df = (0 to 9).map(x => (x.toDouble, 3.0 * x + 2.0)).toDF("x", "y")
    val r = df.agg(
      round(regr_slope(col("y"), col("x")), 4).as("s"),
      round(regr_intercept(col("y"), col("x")), 4).as("i"),
      round(regr_r2(col("y"), col("x")), 4).as("r2")).first()
    assert(r.getDouble(0) === 3.0 && r.getDouble(1) === 2.0 &&
      r.getDouble(2) === 1.0)
  }

  test("markov: a deterministic chain yields exact transition probs, " +
       "and sf totals account for every non-final event") {
    import java.sql.Timestamp
    import spark.implicits._
    // user 1 cycles a->b->a->b->a; user 2 always a->a->a
    def ev(u: Long, i: Int, t: String) =
      (u, new Timestamp(i * 1000L), i.toLong, t)
    val fix = (Seq("a", "b", "a", "b", "a").zipWithIndex.map {
        case (t, i) => ev(1, i, t) } ++
      (0 to 3).map(i => ev(2, i, "a")))
      .toDF("user_id", "ts", "event_id", "event_type")
    val rows = Analytics.markovTransitionsOn(fix).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(rows(("a", "b")) === ((2L, 0.4)))  // 2 of user-1's 4 a-exits + 3 a->a
    assert(rows(("a", "a")) === ((3L, 0.6)))
    assert(rows(("b", "a")) === ((2L, 1.0)))
    assert(!rows.contains(("b", "b")))
    // sf data: every event except each user's last contributes one pair
    val sfRows = Analytics.markovTransitions(spark, sf).collect()
    val nPairs = sfRows.map(_.getLong(2)).sum
    val nEvents = Tables.events(spark, sf).count()
    val nUsers = Tables.events(spark, sf)
      .select(count_distinct(col("user_id"))).first().getLong(0)
    assert(nPairs === nEvents - nUsers)
    sfRows.groupBy(_.getString(0)).foreach { case (ft, rs) =>
      val pSum = rs.map(_.getDouble(3)).sum
      assert(math.abs(pSum - 1.0) < 0.001, s"$ft probs sum $pSum")
    }
  }

  test("mann-whitney: hand-ranked tie fixture matches the average-rank " +
       "formula; identical samples give z=0; separation gives |r_rb|=1") {
    import spark.implicits._
    // A={1,2,3}, B={2,3,4}: ranks 1, 2.5, 2.5, 4.5, 4.5, 6 →
    // R_A = 1+2.5+4.5 = 8, U_A = 8 − 3·4/2 = 2, r_rb = 1 − 4/9
    val tied = (Seq(1.0, 2.0, 3.0).map(("click", _)) ++
      Seq(2.0, 3.0, 4.0).map(("purchase", _)))
      .toDF("event_type", "value")
    val r = Analytics.mannWhitneyOn(tied, "click", "purchase").first()
    assert((r.getLong(0), r.getLong(1)) === ((3L, 3L)))
    assert(r.getDouble(2) === 2.0)     // U_A exact under ties
    assert(r.getDouble(3) < 0)         // A stochastically below B
    assert(r.getDouble(4) === 0.5556)  // 1 − 2U/(n1·n2), 4dp
    val same = (1 to 40).flatMap(i =>
      Seq(("click", i.toDouble), ("purchase", i.toDouble)))
      .toDF("event_type", "value")
    val r0 = Analytics.mannWhitneyOn(same, "click", "purchase").first()
    assert(r0.getDouble(2) === 800.0)  // U = n1·n2/2
    assert(r0.getDouble(3) === 0.0)
    assert(r0.getDouble(4) === 0.0)
    val sep = ((1 to 30).map(i => ("click", i + 1000.0)) ++
      (1 to 30).map(i => ("purchase", i.toDouble)))
      .toDF("event_type", "value")
    val r1 = Analytics.mannWhitneyOn(sep, "click", "purchase").first()
    assert(r1.getDouble(2) === 900.0)  // complete dominance: U = n1·n2
    assert(r1.getDouble(4) === -1.0)
  }

  test("ks: hand-computed fixture matches the exact integer D; " +
       "identical samples give D=0; separation gives D=1 and rejects") {
    import spark.implicits._
    // A={1,2,3}, B={3,4,5}: CDF steps (fa,fb) = (1,0)(2,0)(3,1)(3,2)
    // (3,3) → D_num = max|fa·3 − fb·3| = 6 → D = 2/3
    val small = (Seq(1.0, 2.0, 3.0).map(("click", _)) ++
      Seq(3.0, 4.0, 5.0).map(("purchase", _)))
      .toDF("event_type", "value")
    val r = Analytics.ksTestOn(small, "click", "purchase").first()
    assert((r.getLong(0), r.getLong(1)) === ((3L, 3L)))
    assert(r.getDouble(2) === 0.6667)             // (6·2e4+9) div 18 → 4dp
    assert(r.getDouble(3) === 0.8165)             // (2/3)·√(3/2)
    assert(!r.getBoolean(4))                      // 9e6 < 461041·54
    val same = (1 to 10).flatMap(i =>
      Seq(("click", i.toDouble), ("purchase", i.toDouble)))
      .toDF("event_type", "value")
    val r0 = Analytics.ksTestOn(same, "click", "purchase").first()
    assert(r0.getDouble(2) === 0.0)
    assert(r0.getDouble(3) === 0.0)
    assert(!r0.getBoolean(4))
    val sep = ((1 to 20).map(i => ("click", i.toDouble)) ++
      (1 to 20).map(i => ("purchase", i + 100.0)))
      .toDF("event_type", "value")
    val r1 = Analytics.ksTestOn(sep, "click", "purchase").first()
    assert(r1.getDouble(2) === 1.0)               // complete separation
    assert(r1.getDouble(3) === 3.1623)            // √10
    assert(r1.getBoolean(4))                      // 4e10 > 461041·16000
  }

  test("mutual info: perfect dependence gives MI=H=ln2 and NMI=1, " +
       "independence gives MI=0, a one-class margin pins NMI to 0") {
    import spark.implicits._
    val dep = (Seq.fill(10)(("a1", "b1")) ++ Seq.fill(10)(("a2", "b2")))
      .toDF("lang", "source")
    val r = Analytics.mutualInfo(dep, "lang", "source").first()
    assert(r.getLong(0) === 20L)
    assert((r.getLong(1), r.getLong(2)) === ((2L, 2L)))
    assert(r.getDouble(3) === 0.6931)             // ln 2
    assert(r.getDouble(4) === 0.6931)
    assert(r.getDouble(6) === 1.0)                // MI = √(H_a·H_b)
    val ind = (for { a <- Seq("a1", "a2"); b <- Seq("b1", "b2");
                     _ <- 1 to 5 } yield (a, b))
      .toDF("lang", "source")
    val r0 = Analytics.mutualInfo(ind, "lang", "source").first()
    assert(r0.getDouble(3) === 0.0)               // every cell ln 1
    assert(r0.getDouble(6) === 0.0)
    val onec = (Seq.fill(5)(("x", "b1")) ++ Seq.fill(5)(("x", "b2")))
      .toDF("lang", "source")
    val r1 = Analytics.mutualInfo(onec, "lang", "source").first()
    assert(r1.getDouble(4) === 0.0)               // H_a = 0
    assert(r1.getDouble(6) === 0.0)               // NMI guard, not 0/0
  }

  test("did: a planted treatment lift is recovered exactly, zero " +
       "variance pins t to 0 instead of infinity") {
    import spark.implicits._
    // every user: pre (day 0) value 10, post (day 2) value 10, plus
    // +5 post-lift for md5-arm-a users — delta_a = 5, delta_b = 0,
    // did = 5 with ZERO within-arm variance (the t guard fixture)
    def armA(u: Long): Boolean = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(u.toString.getBytes("UTF-8"))
      f"${h(0) & 0xff}%02x" < "80"
    }
    val rows = (1L to 40L).flatMap { u =>
      val lift = if (armA(u)) 5.0 else 0.0
      Seq((u, 0L, 10.0), (u, 172800L, 10.0 + lift))
    }.toDF("user_id", "sec", "value")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val r = Analytics.diffInDiffOn(rows).first()
    assert(r.getLong(0) + r.getLong(1) === 40L)
    assert(r.getLong(0) > 0 && r.getLong(1) > 0)
    assert(r.getDouble(2) === 5.0 && r.getDouble(3) === 0.0)
    assert(r.getDouble(4) === 5.0)
    assert(r.getDouble(5) === 0.0 && r.getDouble(6) === 0.0)
    // sf corpus: one finite row, both arms populated
    val s = Analytics.diffInDiff(spark, sf).first()
    assert(s.getLong(0) > 0 && s.getLong(1) > 0)
    assert(!s.getDouble(4).isNaN && !s.getDouble(6).isInfinite)
  }

  test("anova: hand two-group moments give F exactly, zero within-" +
       "variance pins F to 0, sf covers all seven weekdays") {
    import spark.implicits._
    // day 0 (epoch) values 1,2,3 vs day 1 values 7,8,9:
    // terms 12+192, CF 150 → SSB 54, SSW 4, F = 54/(4/4) = 54
    val rows = Seq((0L, 1.0), (0L, 2.0), (0L, 3.0),
      (86400L, 7.0), (86400L, 8.0), (86400L, 9.0))
      .toDF("sec", "value")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val r = Analytics.anovaDowOn(rows).first()
    assert(r.getLong(0) === 2L && r.getLong(1) === 6L)
    assert(r.getDouble(2) === 54.0 && r.getDouble(3) === 4.0)
    assert(r.getDouble(4) === 54.0)
    assert(!r.getBoolean(5)) // k != 7 never flags
    // identical values in both groups: SSW = 0 → F pinned to 0
    val z = Analytics.anovaDowOn(
      Seq((0L, 5.0), (0L, 5.0), (86400L, 5.0), (86400L, 5.0))
        .toDF("sec", "value")
        .withColumn("ts", timestamp_seconds(col("sec")))).first()
    assert(z.getDouble(4) === 0.0 && !z.getBoolean(5))
    // sf: 30 consecutive days → all 7 weekdays populated
    val s = Analytics.anovaDow(spark, sf).first()
    assert(s.getLong(0) === 7L)
    assert(!s.getDouble(4).isNaN && s.getDouble(4) >= 0.0)
  }

  test("power/MDE: hand moments exact, zero variance pins every " +
       "readout to 0") {
    import spark.implicits._
    // one event per user, values 10/12/14/16: mean 13, s² = 20/3
    val rows = Seq((1L, 10.0), (2L, 12.0), (3L, 14.0), (4L, 16.0))
      .toDF("user_id", "value")
    val r = Analytics.powerMdeOn(rows).first()
    assert(r.getLong(0) === 4L)
    assert(r.getDouble(1) === 13.0)
    assert(r.getDouble(2) === 2.582)
    assert(r.getDouble(3) === 7.2337)
    assert(r.getDouble(4) === 0.5564)
    val s2 = 20.0 / 3
    val expN = math.ceil(BigDecimal(
      2 * s2 * 2.8016 * 2.8016 / (0.01 * 13 * 0.01 * 13))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble).toLong
    assert(r.getLong(5) === expN)
    // degenerate: identical users → zero variance, all readouts 0
    val z = Analytics.powerMdeOn(
      Seq((1L, 5.0), (2L, 5.0), (3L, 5.0)).toDF("user_id", "value"))
      .first()
    assert(z.getDouble(2) === 0.0 && z.getDouble(3) === 0.0)
    assert(z.getDouble(4) === 0.0 && z.getLong(5) === 0L)
  }

  test("survival KM: hand lifetimes produce the exact product-limit " +
       "curve, censoring holds the curve flat, a full-death level " +
       "pins survival to 0 without ln(0)") {
    import spark.implicits._
    def ev(u: Long, days: Seq[Long]) =
      days.map(dd => (u, dd * 86400L))
    // A 0..10 death, B 0..30 censored, C 5..15 death, D 0..25
    // censored, E 2..4 death (max day 30, grace 7 → censor past 23)
    val rows = (ev(1, Seq(0, 10)) ++ ev(2, Seq(0, 30)) ++
      ev(3, Seq(5, 15)) ++ ev(4, Seq(0, 25)) ++ ev(5, Seq(2, 4)))
      .toDF("user_id", "sec")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val r = Analytics.survivalKmOn(rows).collect()
      .map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3), x.getDouble(4))))
      .toMap
    assert(r(2L) === ((5L, 1L, 0L, 0.8)))
    assert(r(10L) === ((4L, 2L, 0L, 0.4)))
    assert(r(25L) === ((2L, 0L, 1L, 0.4)))
    assert(r(30L) === ((1L, 0L, 1L, 0.4)))
    // X t=1 death, Y t=2 death, Z single day 20 (censored, M=20):
    // at t=2 the lone at-risk user dies → survival exactly 0
    val rows2 = (ev(1, Seq(0, 1)) ++ ev(2, Seq(3, 5)) ++
      ev(3, Seq(20)))
      .toDF("user_id", "sec")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val p = Analytics.survivalKmOn(rows2).collect()
      .map(x => x.getLong(0) -> x.getDouble(4)).toMap
    assert(p(0L) === 1.0 && p(1L) === 0.5 && p(2L) === 0.0)
    // sf corpus: curve monotone non-increasing from n_risk = all users
    val sfRows = Analytics.survivalKm(spark, sf).collect()
    assert(sfRows.head.getLong(1) ===
      Tables.events(spark, sf).select("user_id").distinct().count())
    sfRows.map(_.getDouble(4)).sliding(2).foreach { w =>
      if (w.length == 2) assert(w(0) >= w(1)) }
  }

  test("attribution: latest in-window touch wins, equal timestamps " +
       "credit the touch, stale or missing touches fall to none") {
    import spark.implicits._
    val df = Seq(
      // user 1: view then click then purchase — click (latest) wins
      (1L, 11L, "view", 100L), (1L, 12L, "click", 200L),
      (1L, 13L, "purchase", 300L),
      // user 2: touch 8 days before the purchase — outside the window
      (2L, 21L, "click", 0L), (2L, 22L, "purchase", 691200L),
      // user 3: touch at the SAME microsecond as the purchase — the
      // (ts, tag) order sorts the touch first, so it gets credit
      (3L, 31L, "view", 500L), (3L, 32L, "purchase", 500L),
      // user 4: no touch at all
      (4L, 41L, "purchase", 900L))
      .toDF("user_id", "event_id", "event_type", "sec")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val out = Analytics.attributionOn(df, Seq("view", "click"),
        "purchase", windowDays = 7).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out === Map(
      "click" -> ((1L, 0.25)), "none" -> ((2L, 0.5)),
      "view" -> ((1L, 0.25))))
    // sf corpus: shares sum to 1 over a tiny touch-type-sized output
    val sfRows = Analytics.attributionLastTouch(spark, sf).collect()
    assert(sfRows.nonEmpty && sfRows.length <= 3)
    val s = sfRows.map(_.getDouble(2)).sum
    assert(math.abs(s - 1.0) < 0.001, s"shares sum $s")
  }

  test("bootstrap ci: constant values give a degenerate interval, " +
       "reruns are bit-identical, sf intervals bracket the mean") {
    import spark.implicits._
    // every value 7 → every replicate mean is exactly 7 whatever the
    // Poisson weights drew → lo = hi = mean = 7, zero bootstrap SE
    val const = (1L to 200L).map(i => (i, "click", 7.0))
      .toDF("event_id", "event_type", "value")
    val c = Analytics.bootstrapCiOn(const, reps = 20).first()
    assert(c.getLong(1) === 200L)
    assert(c.getDouble(2) === 7.0)
    assert(c.getDouble(3) === 7.0 && c.getDouble(4) === 7.0)
    assert(c.getDouble(5) === 0.0)
    // determinism: the md5-driven weights make the WHOLE resampling
    // reproducible — two runs must agree to the bit
    val mixed = (1L to 500L).map(i =>
      (i, if (i % 2 == 0) "click" else "view", (i % 13).toDouble))
      .toDF("event_id", "event_type", "value")
    val a1 = Analytics.bootstrapCiOn(mixed, reps = 20).collect()
    val a2 = Analytics.bootstrapCiOn(mixed, reps = 20).collect()
    assert(a1.map(_.toString).toSeq === a2.map(_.toString).toSeq)
    a1.foreach { r =>
      assert(r.getDouble(3) <= r.getDouble(4))
      assert(r.getDouble(5) >= 0.0)
    }
    // sf corpus: one row per type; the bootstrap distribution centers
    // on the sample mean, so the 95% interval brackets it
    val sfRows = Analytics.bootstrapCi(spark, sf).collect()
    assert(sfRows.nonEmpty)
    sfRows.foreach { r =>
      assert(r.getDouble(3) <= r.getDouble(2) &&
        r.getDouble(2) <= r.getDouble(4),
        s"${r.getString(0)}: ${r.getDouble(3)} !<= ${r.getDouble(2)} " +
          s"!<= ${r.getDouble(4)}")
    }
  }

  test("welch t: symmetric fixture gives t=0, dof=n-2; shifted fixture " +
       "is significant") {
    import spark.implicits._
    val same = (1 to 50).flatMap(i =>
      Seq(("click", i.toDouble), ("purchase", i.toDouble)))
      .toDF("event_type", "value")
    val r0 = Analytics.welchTTestOn(same, "click", "purchase").first()
    assert(r0.getDouble(4) === 0.0)
    assert(r0.getDouble(5) === 98.0) // equal variances: dof = n1+n2-2
    val shifted = ((1 to 50).map(i => ("click", i.toDouble + 100)) ++
      (1 to 50).map(i => ("purchase", i.toDouble)))
      .toDF("event_type", "value")
    val r1 = Analytics.welchTTestOn(shifted, "click", "purchase").first()
    assert(r1.getDouble(4) > 30, s"t=${r1.getDouble(4)}")
  }

  test("benford: planted digits count exactly; sf shares sum to 1") {
    import spark.implicits._
    // 9 values with first digit 1, 1 with first digit 9, zero dropped
    val fix = (Seq.fill(9)(123.45) ++ Seq(0.0942) ++ Seq(0.0))
      .toDF("value")
    val rows = Analytics.benfordDigitsOn(fix).collect()
    val byDigit = rows.map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byDigit === Map(1 -> 9L, 9 -> 1L))
    assert(rows.forall(r => r.getDouble(3) > 0))
    val sfRows = Analytics.benfordDigits(spark, sf).collect()
    assert(sfRows.map(_.getInt(0)).toSeq.sorted === (1 to 9))
    assert(math.abs(sfRows.map(_.getDouble(2)).sum - 1.0) < 0.001)
  }

  test("k-anonymity: hand group sizes produce exact violation counts") {
    import spark.implicits._
    // groups of size 1, 2, 5, 12 with k=5: two groups below, 3 rows
    val groups = Seq(1L, 2L, 5L, 12L).toDF("sz")
    val r = Analytics.kAnonymityOn(groups, 5).first()
    assert(r.getLong(0) === 4L && r.getLong(1) === 20L)
    assert(r.getLong(2) === 1L)
    assert(r.getLong(3) === 2L && r.getLong(4) === 3L)
    assert(r.getDouble(5) === 0.15)
  }

  test("srm check: chi2 matches an independent md5 replay; imbalance flags") {
    import spark.implicits._
    def arm(id: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if (hex.substring(0, 2) < "80") "a" else "b"
    }
    // mixed population: the operator must agree with a driver-side
    // md5 replay exactly (counts, chi2, flag)
    val ids = (1L to 200L)
    val df = ids.toDF("user_id")
    val r = Analytics.srmCheckOn(df).first()
    val na = ids.count(arm(_) == "a").toLong
    val nb = ids.size - na
    assert(r.getLong(0) === na && r.getLong(1) === nb)
    val chi2 = math.rint((na - nb).toDouble * (na - nb) / (na + nb) * 10000) / 10000
    assert(r.getDouble(2) === chi2)
    assert(r.getBoolean(3) === (chi2 > 3.8415))
    // planted broken assignment: only arm-a users reach the log —
    // the gate MUST fire
    val onlyA = ids.filter(arm(_) == "a").toDF("user_id")
    val rb = Analytics.srmCheckOn(onlyA).first()
    assert(rb.getLong(1) === 0L && rb.getBoolean(3))
  }

  test("l-diversity: a k-large homogeneous class is caught, diverse " +
       "classes pass") {
    import spark.implicits._
    // class A: 6 rows but ONE sensitive value (the homogeneity attack
    // k=5 waves through); class B: 4 rows, 4 distinct values; class
    // C: 3 rows, 2 distinct values (also below l=3)
    val rows = Seq.fill(6)(("A", 7L)) ++
      (1L to 4L).map(v => ("B", v)) ++ Seq(("C", 1L), ("C", 1L), ("C", 2L))
    val df = rows.toDF("qi", "sens")
    val r = Analytics.lDiversityOn(df, Seq("qi"), "sens", 3).first()
    assert(r.getLong(0) === 3L && r.getLong(1) === 13L) // groups, rows
    assert(r.getLong(2) === 1L)                         // worst class
    assert(r.getLong(3) === 2L && r.getLong(4) === 9L)  // A + C exposed
    assert(r.getDouble(5) === math.rint(9.0 / 13 * 10000) / 10000)
  }

  test("entropy: uniform labels hit ln(k) exactly; constant labels " +
       "give zero entropy and zero gini") {
    import spark.implicits._
    val uniform = (1 to 40).map(i => s"c${i % 4}").toDF("lbl")
    val ru = Analytics.typeEntropy(uniform, col("lbl")).first()
    assert(ru.getLong(0) === 4L)
    assert(ru.getDouble(2) === 1.0) // normalized entropy
    assert(ru.getDouble(1) === math.rint(math.log(4) * 10000) / 10000)
    val const = Seq.fill(10)("only").toDF("lbl")
    val rc = Analytics.typeEntropy(const, col("lbl")).first()
    assert(rc.getDouble(1) === 0.0 && rc.getDouble(3) === 0.0)
  }

  test("session paths: a silence longer than the gap splits the " +
       "session; path order follows the event order") {
    import java.sql.Timestamp
    import spark.implicits._
    def ev(i: Int, offMin: Long, t: String) =
      (1L, new Timestamp(offMin * 60000L), i.toLong, t)
    // session 1: a,b,c,d (only first 3 kept); 3h silence; session 2: b,a
    val fix = Seq(ev(0, 0, "a"), ev(1, 1, "b"), ev(2, 2, "c"), ev(3, 3, "d"),
      ev(4, 200, "b"), ev(5, 201, "a"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val rows = Analytics.sessionPathsOn(fix, gapMin = 60, pathLen = 3,
      topN = 10).collect()
    val paths = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(paths === Map("a>b>c" -> 1L, "b>a" -> 1L))
  }

  test("feature scale: z-scores are zero-mean unit-ish per series and " +
       "reproduce (value - mu) / sigma at the rounded stats") {
    val rows = Analytics.featureScale(spark, sf).collect()
    assert(rows.length === Tables.events(spark, sf).count())
    val byType = rows.groupBy(_.getString(1))
    byType.foreach { case (t, rs) =>
      val zs = rs.map(_.getDouble(2))
      val mean = zs.sum / zs.length
      val sd = math.sqrt(zs.map(z => (z - mean) * (z - mean)).sum / (zs.length - 1))
      assert(math.abs(mean) < 0.001, s"$t z-mean $mean")
      assert(math.abs(sd - 1.0) < 0.01, s"$t z-sd $sd")
    }
  }

  test("funnelLatency: hand deltas exact, out-of-order users never convert") {
    import spark.implicits._
    import graft.ops.Analytics
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    val ev = Seq(
      // user 1: view @0s, click @+10s, purchase @+40s total
      (1L, "view", t("2024-01-01 00:00:00")),
      (1L, "click", t("2024-01-01 00:00:10")),
      (1L, "purchase", t("2024-01-01 00:00:40")),
      // user 2: view @0s, click @+20s, no purchase
      (2L, "view", t("2024-01-01 00:00:00")),
      (2L, "click", t("2024-01-01 00:00:20")),
      // user 3: purchase BEFORE view — must not convert past view
      (3L, "purchase", t("2024-01-01 00:00:00")),
      (3L, "view", t("2024-01-01 00:01:00"))
    ).toDF("user_id", "event_type", "ts")
    val out = Analytics.funnelLatencyOn(ev,
        Seq("view", "click", "purchase")).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), Option(r.get(2)), Option(r.get(3))))).toMap
    // view→click: users 1 (10s) and 2 (20s) → p50 = 15
    assert(out("view->click")._1 === 2L)
    assert(out("view->click")._2 === Some(15.0))
    // click→purchase and view→purchase: only user 1 (30s / 40s)
    assert(out("click->purchase") === ((1L, Some(30.0), Some(30.0))))
    assert(out("view->purchase") === ((1L, Some(40.0), Some(40.0))))
  }

  test("giniUsers: uniform counts score 0, concentration raises it exactly") {
    import spark.implicits._
    import graft.ops.Analytics
    // uniform: 4 users × 5 events → gini 0, top shares = their size
    val uni = (0 until 4).flatMap(u => (0 until 5).map(i => (u.toLong, i)))
      .toDF("user_id", "x")
    val g0 = Analytics.giniUsersOn(uni, col("user_id")).collect().head
    assert((g0.getLong(0), g0.getLong(1), g0.getDouble(2)) === ((4L, 20L, 0.0)))
    // counts (1,1,1,17): hand Gini = 2·74/(4·20) − 5/4 = 0.6;
    // top-1% (=1 user here) share = 17/20
    val skew = Seq.fill(1)((1L, 0)) ++ Seq.fill(1)((2L, 0)) ++
      Seq.fill(1)((3L, 0)) ++ Seq.fill(17)((4L, 0))
    val g1 = Analytics.giniUsersOn(skew.toDF("user_id", "x"),
      col("user_id")).collect().head
    assert(g1.getDouble(2) === 0.6)
    assert(g1.getDouble(3) === 0.85 && g1.getDouble(4) === 0.85)
  }

  test("marketBasket: hand lifts exact, lift ties break on item, " +
       "duplicate memberships collapse") {
    import spark.implicits._
    // 4× {A,B}, 4× {C,D}, 1× {A,C}; B duplicated in basket 0 (must
    // collapse to one membership). n=9, n_A=n_C=5, n_B=n_D=4.
    val rows = (Seq((0L, "B")) ++
      (0 until 4).flatMap(b => Seq((b.toLong, "A"), (b.toLong, "B"))) ++
      (4 until 8).flatMap(b => Seq((b.toLong, "C"), (b.toLong, "D"))) ++
      Seq((8L, "A"), (8L, "C"))).toDF("basket", "item")
    val r = Analytics.marketBasketOn(rows, minCount = 1, topN = 10,
      maxBasket = 32).collect()
    assert(r.length === 3)
    // lift(A,B) = 4·9/(5·4) = 1.8 = lift(C,D); tie breaks A before C
    assert((r(0).getString(0), r(0).getString(1)) === (("A", "B")))
    assert(r(0).getLong(2) === 4 && r(0).getDouble(5) === 1.8)
    assert(r(0).getDouble(3) === 0.4444)           // support 4/9
    assert(r(0).getDouble(4) === 0.8)              // confidence 4/5
    assert((r(1).getString(0), r(1).getString(1)) === (("C", "D")))
    // lift(A,C) = 9/25 = 0.36, support 1/9
    assert(r(2).getDouble(5) === 0.36 && r(2).getLong(2) === 1)
  }

  test("corrMatrix: perfect +/− correlation exact, zero variance pins 0") {
    import spark.implicits._
    import graft.ops.Analytics
    // a: 1..5; b = 2a (corr +1); c = −a (corr −1); k constant (corr 0)
    val df = (1 to 5).map(i =>
        (i.toDouble, 2.0 * i, -i.toDouble, 7.0))
      .toDF("a", "b", "c", "k")
    val out = Analytics.corrMatrixOn(df, Seq("a", "b", "c", "k"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(out.size === 6)                       // C(4,2) pairs
    assert(out.values.forall(_.getLong(2) === 5L))
    assert(out(("a", "b")).getDouble(3) === 1.0)
    assert(out(("a", "c")).getDouble(3) === -1.0)
    assert(out(("b", "c")).getDouble(3) === -1.0)
    // zero-variance column: pinned 0, never NaN/null
    assert(out(("a", "k")).getDouble(3) === 0.0)
    assert(out(("b", "k")).getDouble(3) === 0.0)
    assert(out(("c", "k")).getDouble(3) === 0.0)
  }

  test("growthAccounting: all four statuses land exactly; the " +
       "accounting identity holds") {
    import spark.implicits._
    import graft.ops.Analytics
    def wk(w: Int, dow: Int = 2) = java.sql.Timestamp.valueOf(
      java.time.LocalDate.of(2024, 1, 1).plusDays(7L * w + dow)
        .atStartOfDay) // 2024-01-01 is a Monday → clean week starts
    // u1: weeks 0,1,2 (new, retained, retained)
    // u2: weeks 0,2 (new, churned@1, resurrected@2)
    // u3: week 1 only (new@1, churned@2)
    val ev = Seq((1L, wk(0)), (1L, wk(1)), (1L, wk(2)),
      (2L, wk(0)), (2L, wk(2)), (3L, wk(1)))
      .toDF("user_id", "ts")
    val out = Analytics.growthAccountingOn(ev).collect()
    assert(out.length === 3)
    val rows = out.map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5)))
    assert(rows(0) === ((2L, 0L, 0L, 0L, 2L)))
    assert(rows(1) === ((1L, 1L, 0L, 1L, 2L)))
    assert(rows(2) === ((0L, 1L, 1L, 1L, 2L)))
    // identity: MAU(m) − MAU(m−1) = new + resurrected − churned
    (1 until 3).foreach { i =>
      assert(rows(i)._5 - rows(i - 1)._5 ===
        rows(i)._1 + rows(i)._3 - rows(i)._4, s"week $i")
    }
    // quick ratio: week 1 = (1+0)/1 = 1.0; week 2 = (0+1)/1 = 1.0;
    // week 0 has no churn → null
    assert(out(0).isNullAt(6))
    assert(out(1).getDouble(6) === 1.0 && out(2).getDouble(6) === 1.0)
  }

  test("psiDrift: identical periods read ~0; a full shift pushes " +
       "every current row past the last bin and trips the alert") {
    import spark.implicits._
    import graft.ops.Analytics
    def ts(dd: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDate.of(2024, 5, 1).plusDays(dd).atStartOfDay)
    // days 0..19 → midpoint splits at day 9; identical value cycles
    // in both halves → every bin's shares match → psi ≈ 0
    val same = (for (dd <- 0 until 20; i <- 0 until 50)
      yield (ts(dd), (i % 100).toDouble)).toDF("ts", "value")
    val r1 = Analytics.psiDriftOn(same).collect()
    assert(r1.length === 10)
    assert(r1.forall(!_.getBoolean(7)))
    assert(math.abs(r1.head.getDouble(6)) < 0.01)
    // current period shifted +1000: every current row exceeds every
    // reference decile → bin 9; psi blows past the pinned 0.2
    val shifted = (for (dd <- 0 until 20; i <- 0 until 50)
      yield (ts(dd),
        (i % 100).toDouble + (if (dd >= 9) 1000.0 else 0.0)))
      .toDF("ts", "value")
    val r2 = Analytics.psiDriftOn(shifted).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(r2(9L).getLong(2) > 0 &&
      (0L to 8L).forall(b => r2(b).getLong(2) === 0L),
      "all current mass must land in the top bin")
    assert(r2(0L).getBoolean(7), "drift alert must fire")
    assert(r2(0L).getDouble(6) > 0.2)
  }

  test("sequentialTest: planted effect crosses with is_stop at the " +
       "first look only; bounds split the calendar exactly") {
    import spark.implicits._
    import graft.ops.Analytics
    def armOf(u: Long): String = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(u.toString.getBytes("UTF-8"))
        .take(1).map("%02x".format(_)).mkString
      if (h < "80") "a" else "b"
    }
    def ts(dd: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDate.of(2024, 1, 1).plusDays(dd).atStartOfDay)
    // 60 users × 30 days; arm a carries a +10 effect over shared
    // small noise → overwhelming z from the very first look
    val rows = for (u <- 0L until 60L; dd <- 0 until 30) yield
      (u, ts(dd), (if (armOf(u) == "a") 10.0 else 0.0) + (u + dd) % 3)
    val out = Analytics.sequentialTestOn(
        rows.toDF("user_id", "ts", "value")).collect()
    assert(out.length === 5)
    val ed0 = out.map(r => r.getLong(1)).min - 5 // bound_1 = mn + 6 - 1
    out.zipWithIndex.foreach { case (r, i) =>
      val k = i + 1
      assert(r.getLong(0) === k.toLong)
      assert(r.getLong(1) === ed0 + 6 * k - 1, s"bound at look $k")
      // boundary: 2.04·sqrt(5/k) at 4dp
      val crit = BigDecimal(2.04 * math.sqrt(5.0 / k))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(7) === crit, s"crit at look $k")
      assert(r.getBoolean(8), s"must cross at look $k")
      assert(r.getBoolean(9) === (k == 1), s"is_stop only at look 1")
    }
    // effect size sanity: means differ by ~10
    assert(math.abs(out(4).getDouble(4) - out(4).getDouble(5) - 10.0) < 0.5)
  }

  test("elasticity: planted constant-elasticity demand recovers -2, " +
       "price-degenerate brand nulls") {
    import spark.implicits._
    import graft.ops.Analytics
    // brand 1 sits EXACTLY on ln q = 4·ln10 − 2·ln p (powers of ten:
    // the 6dp-rounded logs are still exactly collinear because
    // round(k·ln10, 6) = k·round(ln10, 6) for k ≤ 4)
    val li = Seq(
      (1L, 10000.0, 10000.0 * 1.0),   // unit price 1
      (1L, 100.0, 100.0 * 10.0),      // unit price 10
      (1L, 1.0, 1.0 * 100.0),         // unit price 100
      // brand 2: one price point (two rows, same unit price) → no
      // price variance → elasticity must be null, not a division
      (2L, 5.0, 5.0 * 7.0), (2L, 9.0, 9.0 * 7.0)
    ).toDF("l_partkey", "l_quantity", "l_extendedprice")
    val part = Seq((1L, "Brand#1"), (2L, "Brand#2")).toDF("p_partkey", "p_brand")
    val out = Analytics.elasticityOn(li, part).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("Brand#1").getLong(1) === 3L)
    assert(out("Brand#1").getDouble(2) === -2.0)
    assert(out("Brand#1").getDouble(3) === 1.0)
    assert(out("Brand#2").isNullAt(2) && out("Brand#2").isNullAt(3))
  }

  test("rfm: quintile scores partition customers evenly; " +
       "most recent/frequent/valuable customer scores 555") {
    import spark.implicits._
    import graft.ops.Analytics
    // 10 customers: customer i ordered (i+1) times, latest on day i,
    // each order worth 100·(i+1) — every metric ranks identically.
    // Recency is inverted: customer 9 (latest day) has r_days 0 →
    // r = 5; customer 0 is stalest → r = 1. So 9 scores 555, 0: 111.
    val orders = (0 until 10).flatMap { i =>
      (0 to i).map { k =>
        (i.toLong, java.sql.Timestamp.valueOf(f"2024-01-${i + 1}%02d 00:00:00"),
          100.0 * (i + 1))
      }
    }.toDF("o_custkey", "o_orderdate", "o_totalprice")
    val out = Analytics.rfmOn(orders).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.size === 10)
    // 2 customers per quintile on each metric
    for (s <- 1 to 5) {
      assert(out.values.count(_.getLong(4) === s.toLong) === 2, s"r=$s")
      assert(out.values.count(_.getLong(5) === s.toLong) === 2, s"f=$s")
      assert(out.values.count(_.getLong(6) === s.toLong) === 2, s"m=$s")
    }
    // newest + heaviest customer: 555; oldest + lightest: r=5-? —
    // customer 0: r_days largest → r 1, freq smallest → f 1, m 1
    assert(out(9L).getLong(7) === 555L)
    assert(out(0L).getLong(7) === 111L)
    assert(out(9L).getLong(2) === 10L)   // freq = 10 orders
  }

  test("distinctUnionChecked: exact inclusion-exclusion per pair, HLL " +
       "verdicts true, zero-overlap pairs kept by the left join") {
    import spark.implicits._
    val ev = Seq(
      ("A", 1L), ("A", 2L), ("A", 3L), ("A", 2L), // dup collapses
      ("B", 2L), ("B", 3L), ("B", 4L),
      ("C", 9L)
    ).toDF("event_type", "user_id")
    val out = Analytics.distinctUnionCheckedOn(ev).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(out.size === 3)
    val ab = out(("A", "B"))
    assert((ab.getLong(2), ab.getLong(3), ab.getLong(4), ab.getLong(5))
      === ((3L, 3L, 4L, 2L)))
    val ac = out(("A", "C"))
    assert((ac.getLong(4), ac.getLong(5)) === ((4L, 0L)))
    val bc = out(("B", "C"))
    assert((bc.getLong(4), bc.getLong(5)) === ((4L, 0L)))
    // at these cardinalities the sketch is exact — both flags hold
    assert(out.values.forall(r => r.getBoolean(6) && r.getBoolean(7)))
  }

  test("TPC-H Q10/Q6/Q4 faces: descending revenue top-list, single " +
       "what-if scalar, and once-per-order late counts") {
    val q10 = Analytics.returnedItemReport(spark, sf).collect()
    assert(q10.nonEmpty && q10.length <= 20)
    val revs = q10.map(_.getDouble(2))
    assert(revs.sameElements(revs.sortBy(-(_: Double))))
    val q6 = Analytics.revenueChange(spark, sf).collect()
    assert(q6.length === 1 && q6.head.getDouble(0) > 0.0)
    val q4 = Analytics.latePriorityReport(spark, sf).collect()
    assert(q4.nonEmpty)
    // the semi-join counts ORDERS: totals can never exceed the
    // quarter's order count
    val inWindow = Tables.orders(spark, sf)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-04-01").cast("timestamp")).count()
    assert(q4.map(_.getLong(1)).sum <= inWindow)
    assert(q4.map(_.getString(0)).toSeq ===
      q4.map(_.getString(0)).toSeq.sorted)
  }

  test("tCloseness: hand distributions give the exact micro-unit EMD; " +
       "a global-matching class scores 0") {
    import spark.implicits._
    // global is 50/50 over buckets {0,1}; A and B are 90/10 mirrors
    // (EMD 0.4 each), C matches the global exactly (EMD 0)
    val rows =
      (1 to 9).map(_ => ("A", 0L)) ++ Seq(("A", 1L)) ++
      Seq(("B", 0L)) ++ (1 to 9).map(_ => ("B", 1L)) ++
      (1 to 5).flatMap(_ => Seq(("C", 0L), ("C", 1L)))
    val out = Analytics.tClosenessOn(rows.toDF("cls", "b"),
      Seq("cls"), "b", tMicro = 200000L).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getLong(0) === 3L)        // n_classes
    assert(r.getLong(1) === 30L)       // n_rows
    assert(r.getLong(2) === 400000L)   // t_max = 0.4
    assert(r.getLong(3) === 2L)        // A and B above 0.2
    assert(r.getLong(4) === 20L)
    assert(r.getDouble(5) === 0.6667)
  }

  test("tCloseness: sf events — audit well-formed, t_max inside [0,1]") {
    val r = Analytics.tCloseness(spark, sf).collect().head
    assert(r.getLong(0) > 0L)
    assert(r.getLong(2) >= 0L && r.getLong(2) <= 1000000L)
    assert(r.getLong(4) <= r.getLong(1))
  }

  test("suggestRules: unique id, nullable low-card category, numeric " +
       "range — each rule fires exactly where it should") {
    import spark.implicits._
    val df = Seq(
      (1L, Some("a"), 10.5), (2L, Some("b"), -1.25),
      (3L, None, 3.0), (4L, Some("a"), 99.0)
    ).toDF("id", "cat", "v")
    val out = Analytics.suggestRules(df, Seq("id", "cat", "v"))
      .collect().map(r => r.getString(0) -> r).toMap
    val id = out("id")
    assert(id.getBoolean(4) && id.getBoolean(5) && id.getBoolean(6))
    assert(id.getDouble(7) === 1.0 && id.getDouble(8) === 4.0)
    val cat = out("cat")
    assert(!cat.getBoolean(4))          // has a null
    assert(!cat.getBoolean(5))          // 'a' repeats
    assert(cat.getBoolean(6))           // tiny vocabulary
    assert(cat.isNullAt(7) && cat.isNullAt(8)) // not numeric
    val v = out("v")
    assert(v.getBoolean(4) && v.getBoolean(5))
    assert(v.getDouble(7) === -1.25 && v.getDouble(8) === 99.0)
  }

  test("suggestRules: awkward column names (spaces, dots, quotes, " +
       "backticks) survive the generated stack expression") {
    import spark.implicits._
    val names = Seq("my col", "a.b", "it's", "tick`name")
    val df = Seq((1L, "x", 2.5, 7L), (2L, "y", 3.5, 7L))
      .toDF(names: _*)
    val out = Analytics.suggestRules(df, names)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out.keySet === names.toSet)
    assert(out("my col").getBoolean(5))       // unique longs
    assert(out("a.b").getBoolean(6))          // tiny vocabulary
    assert(out("it's").getDouble(7) === 2.5)  // numeric range lo
    assert(!out("tick`name").getBoolean(5))   // constant repeats
    // and the plain profile over the same names parses too
    val prof = Analytics.profile(df, names).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(prof("tick`name") === 1L && prof("my col") === 2L)
  }

  test("tCloseness: NULL-bearing QI tuples stay distinct classes " +
       "(concat_ws null-skip must not alias them)") {
    import spark.implicits._
    // (a, NULL) vs (NULL, a): concat_ws without sentinels renders
    // both as "a" — one aliased class instead of two
    val rows: Seq[(Option[String], Option[String], Long)] = Seq(
      (Some("a"), None, 0L), (Some("a"), None, 0L),
      (None, Some("a"), 1L), (None, Some("a"), 1L))
    val out = Analytics.tClosenessOn(rows.toDF("q1", "q2", "b"),
      Seq("q1", "q2"), "b", tMicro = 200000L).collect().head
    assert(out.getLong(0) === 2L, "two distinct QI classes")
    assert(out.getLong(1) === 4L)
  }

  test("eventNgrams: sliding trigrams count every window position, " +
       "short streams contribute nothing") {
    import spark.implicits._
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val ev = Seq(
      (1L, t(1), 1L, "A"), (1L, t(2), 2L, "B"),
      (1L, t(3), 3L, "C"), (1L, t(4), 4L, "D"),
      (2L, t(1), 5L, "A"), (2L, t(2), 6L, "B"), (2L, t(3), 7L, "C"),
      (3L, t(1), 8L, "X"), (3L, t(2), 9L, "Y") // too short
    ).toDF("user_id", "ts", "event_id", "event_type")
    val out = Analytics.eventNgramsOn(ev, topN = 20).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map("A>B>C" -> 2L, "B>C>D" -> 1L))
  }

  test("distinctUnionChecked: sf events — C(5,2) pairs, verdicts all " +
       "true, overlap bounded by the smaller segment") {
    val rows = Analytics.distinctUnionChecked(spark, sf).collect()
    assert(rows.length === 10)
    assert(rows.forall(r => r.getBoolean(6) && r.getBoolean(7)))
    assert(rows.forall(r =>
      r.getLong(5) <= math.min(r.getLong(2), r.getLong(3))))
    assert(rows.forall(r =>
      r.getLong(4) === r.getLong(2) + r.getLong(3) - r.getLong(5)))
  }
}
