package graft

import graft.ops.{Forecast, TimeSeriesOps}
import org.apache.spark.sql.functions._

class TimeSeriesSpec extends SparkSpec {

  test("resampleDaily produces a dense daily spine with zero-filled gaps") {
    val out = TimeSeriesOps.resampleDaily(spark, sf).collect()
    val days = out.map(_.getTimestamp(0).getTime)
    val diffs = days.sliding(2).map(p => p(1) - p(0)).toSet
    assert(diffs === Set(86400000L)) // every consecutive step is exactly 1 day
    val total = out.map(_.getLong(1)).sum
    assert(total === Tables.orders(spark, sf).count())
  }

  test("pivotWide browse column equals click+view totals") {
    val wide = TimeSeriesOps.pivotWide(spark, sf)
    val browse = wide.agg(sum("browse")).first().getLong(0)
    val clickView = Tables.events(spark, sf)
      .filter(col("event_type").isin("click", "view")).count()
    assert(browse === clickView)
  }

  test("trainTestSplit marks exactly the trailing days as test") {
    val out = TimeSeriesOps.trainTestSplit(spark, sf, testDays = 5).collect()
    val (test, train) = out.partition(_.getString(2) == "test")
    assert(test.length === 5)
    assert(test.map(_.getTimestamp(0)).min.after(
      train.map(_.getTimestamp(0)).max))
  }

  test("deeparExport emits one ordered series per type with valid JSON") {
    val rows = TimeSeriesOps.deeparExport(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSeq ===
      Seq("click", "error", "purchase", "signup", "view"))
    rows.foreach { r =>
      val json = r.getString(2)
      assert(json.startsWith("""{"start":"""))
      assert(json.contains(""""target":["""))
    }
  }

  test("asofJoin picks the latest right row at or before each left ts") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val quotes = Seq(
      (1L, t("2024-01-02 00:00:00"), 10.0),
      (1L, t("2024-01-04 00:00:00"), 20.0),
      (2L, t("2024-01-04 00:00:00"), 30.0)).toDF("k", "ts", "v")
    val trades = Seq(
      (1L, t("2024-01-01 00:00:00"), "before-any"),
      (1L, t("2024-01-04 00:00:00"), "tie-inclusive"),
      (1L, t("2024-01-05 00:00:00"), "after-last"),
      (2L, t("2024-01-03 00:00:00"), "no-quote-yet"),
      (3L, t("2024-01-03 00:00:00"), "unknown-key")).toDF("k", "ts", "tag")
    val got = TimeSeriesOps.asofJoin(trades, quotes, "k", "ts").collect()
      .map(r => r.getString(2) -> Option(r.get(3))).toMap
    assert(got === Map(
      "before-any" -> None,           // no right row yet
      "tie-inclusive" -> Some(20.0),  // right row AT left ts is visible
      "after-last" -> Some(20.0),     // carries forward
      "no-quote-yet" -> None,
      "unknown-key" -> None))
  }

  test("rolling/lag features: warmup rows behave (std 0, null lag)") {
    val roll = TimeSeriesOps.rollingFeatures(spark, sf).collect()
    val firstPerType = roll.groupBy(_.getString(0)).values.map(
      _.minBy(_.getTimestamp(1).getTime))
    firstPerType.foreach { r =>
      assert(r.getDouble(3) === r.getLong(2).toDouble) // mean of 1 = cnt
      assert(r.getDouble(4) === 0.0)                   // std of 1 row
    }
    val lagf = TimeSeriesOps.lagFeatures(spark, sf).collect()
    lagf.groupBy(_.getString(0)).values.foreach { rows =>
      val first = rows.minBy(_.getTimestamp(1).getTime)
      assert(first.isNullAt(3) && first.isNullAt(4) && first.isNullAt(5))
    }
  }

  test("asofJoin forward direction picks the next right row at or after") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val quotes = Seq(
      (1L, t("2024-01-02 00:00:00"), 10.0),
      (1L, t("2024-01-04 00:00:00"), 20.0)).toDF("k", "ts", "v")
    val trades = Seq(
      (1L, t("2024-01-01 00:00:00"), "before-first"),
      (1L, t("2024-01-02 00:00:00"), "tie-inclusive"),
      (1L, t("2024-01-03 00:00:00"), "between"),
      (1L, t("2024-01-05 00:00:00"), "after-last")).toDF("k", "ts", "tag")
    val got = TimeSeriesOps.asofJoin(trades, quotes, "k", "ts",
        direction = "forward").collect()
      .map(r => r.getString(2) -> Option(r.get(3))).toMap
    assert(got === Map(
      "before-first" -> Some(10.0),
      "tie-inclusive" -> Some(10.0),  // right row AT left ts is visible
      "between" -> Some(20.0),
      "after-last" -> None))
  }

  test("asofJoin tolerance nulls out stale matches") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val quotes = Seq((1L, t("2024-01-01 00:00:00"), 10.0)).toDF("k", "ts", "v")
    val trades = Seq(
      (1L, t("2024-01-01 12:00:00"), "fresh"),   // 12h old quote
      (1L, t("2024-01-03 00:00:00"), "stale")    // 2d old quote
    ).toDF("k", "ts", "tag")
    val got = TimeSeriesOps.asofJoin(trades, quotes, "k", "ts",
        toleranceSec = Some(86400L)).collect()
      .map(r => r.getString(2) -> Option(r.get(3))).toMap
    assert(got === Map("fresh" -> Some(10.0), "stale" -> None))
  }

  test("asofJoin rejects right payload names that collide with left columns") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq((1L, t("2024-01-01 00:00:00"), 1.0)).toDF("k", "ts", "v")
    val right = Seq((1L, t("2024-01-01 00:00:00"), 2.0)).toDF("k", "ts", "v")
    // without the guard this silently emitted two columns named "v"
    val e = intercept[IllegalArgumentException] {
      TimeSeriesOps.asofJoin(left, right, "k", "ts")
    }
    assert(e.getMessage.contains("v"))
  }

  test("asofJoin equals a naive cross-join reference on random data") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    def randTs() = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime +
        rng.nextInt(10 * 86400) * 1000L)
    val left = (0 until 200).map(i => (i.toLong, rng.nextInt(8).toLong, randTs()))
      .toDF("lid", "k", "ts")
    // right unique per (k, ts) — the documented determinism requirement
    val right = (0 until 150).map(i => (rng.nextInt(8).toLong, randTs(), i.toDouble))
      .groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
      .toDF("k", "ts", "v")
    val got = TimeSeriesOps.asofJoin(left, right, "k", "ts")
      .collect().map(r => r.getLong(0) -> Option(r.get(3))).toMap
    // naive: for each left row the max-ts right row with ts <= left.ts
    val naive = left.as("l").crossJoin(right.as("r"))
      .filter(col("l.k") === col("r.k") && col("r.ts") <= col("l.ts"))
      .withColumn("rk", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("lid"))
          .orderBy(col("r.ts").desc)))
      .filter(col("rk") === 1)
      .select(col("lid"), col("v")).collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    left.select("lid").collect().map(_.getLong(0)).foreach { lid =>
      assert(got(lid) === naive.getOrElse(lid, None), s"lid=$lid")
    }
  }

  test("rangeJoinBucketed equals a naive range join on inclusive bounds") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val anchors = Seq((1L, t("2024-01-01 10:00:00")), (2L, t("2024-01-01 23:58:00")))
      .toDF("aid", "ats")
    val points = (0 until 48).map(h =>
      (100L + h, new java.sql.Timestamp(
        t("2024-01-01 00:00:00").getTime + h * 1800000L))).toDF("pid", "pts")
    val got = TimeSeriesOps
      .rangeJoinBucketed(anchors, "ats", points, "pts", 3600L, 3600L, 600L)
      .select("aid", "pid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = anchors.crossJoin(points)
      .filter(abs(unix_micros(col("pts")) - unix_micros(col("ats"))) <= 3600L * 1000000L)
      .select("aid", "pid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === naive && got.nonEmpty)
  }

  test("interpolateOn fills interior gaps linearly and flags them") {
    import spark.implicits._
    def d(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    val daily = Seq(
      ("a", d("2024-01-01"), 10.0),
      ("a", d("2024-01-02"), 20.0),
      // days 3-4 missing: the 2→5 segment interpolates 30, 40
      ("a", d("2024-01-05"), 50.0),
      ("b", d("2024-01-01"), 1.0),
      // day 2 missing on an uneven segment: 1 + (4-1)*(1/2) = 2.5
      ("b", d("2024-01-03"), 4.0)).toDF("k", "day", "v")
    val out = TimeSeriesOps.interpolateOn(daily, "k", "day", "v").collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2),
        r.getBoolean(3)))
    assert(out.toSeq === Seq(
      ("a", d("2024-01-01"), 10.0, false),
      ("a", d("2024-01-02"), 20.0, false),
      ("a", d("2024-01-03"), 30.0, true),
      ("a", d("2024-01-04"), 40.0, true),
      ("a", d("2024-01-05"), 50.0, false),
      ("b", d("2024-01-01"), 1.0, false),
      ("b", d("2024-01-02"), 2.5, true),
      ("b", d("2024-01-03"), 4.0, false)))
  }

  test("seasonalNaive forecasts the holdout horizon with ordered bounds") {
    val f = Forecast.seasonalNaive(spark, sf).collect()
    assert(f.nonEmpty)
    f.foreach { r =>
      val (lo, pred, hi) = (r.getDouble(4), r.getDouble(3), r.getDouble(5))
      assert(lo <= pred && pred <= hi)
    }
  }

  test("evaluate yields per-type MAE and coverage in [0,1]") {
    val e = Forecast.evaluate(spark, sf).collect()
    assert(e.nonEmpty)
    e.foreach { r =>
      assert(r.getDouble(1) >= 0)
      val cov = r.getDouble(2)
      assert(cov >= 0 && cov <= 1)
    }
  }

  test("arForecast nails a planted 3-cycle that seasonal-naive misreads") {
    import spark.implicits._
    def d(s: String) = java.sql.Timestamp.valueOf(s"2024-01-$s 00:00:00")
    // y cycles 10,20,30 with period 3: AR(2) represents it EXACTLY
    // (y_t = 60 − y_{t−1} − y_{t−2}), while seasonal-naive's
    // hardcoded lag-7 sees the phase shifted by 7 mod 3 = 1 every
    // day and lands off by 30 on one day in three
    val events = (1 to 21).flatMap { i =>
      Seq.fill(Seq(10, 20, 30)((i - 1) % 3))(("cyc", d(f"$i%02d")))
    }.toDF("event_type", "ts")
    val dir = java.nio.file.Files.createTempDirectory("graft-ar").toString
    events.withColumn("ts", unix_micros(col("ts")) * 1000)
      .withColumn("event_id", monotonically_increasing_id())
      .withColumn("user_id", lit(1L)).withColumn("value", lit(1.0))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val ar = Forecast.arForecast(spark, dir).collect()
    assert(ar.length === 7) // days 15..21
    ar.foreach(r => assert(math.abs(r.getDouble(3) - r.getLong(2)) < 1e-6,
      r.toString))
    // the forecast_eval comparison row: AR's MAE strictly beats snaive
    val maeAr = ar.map(r => math.abs(r.getDouble(3) - r.getLong(2))).sum / 7
    val sn = Forecast.seasonalNaive(spark, dir).collect()
    assert(sn.length === 7)
    val maeSn = sn.map(r => math.abs(r.getDouble(3) - r.getLong(2))).sum / 7
    assert(maeAr < maeSn && maeSn > 5.0, s"maeAr=$maeAr maeSn=$maeSn")
  }

  test("croston: hand recursion exact on planted intermittent " +
       "demand, no-demand series forecasts zero") {
    import spark.implicits._
    def d(s: String) = java.sql.Timestamp.valueOf(s"2024-01-$s 00:00:00")
    // 21 days; 'spiky' demands (value 400 > threshold 300) on days
    // 1(×4), 4(×2), 10(×6) in train and 18(×3) in holdout; one
    // background value-1.0 event per day per type anchors the span.
    // Hand recursion (α=0.3): z=4,p=1 → z=3.4,p=1.6 (q=3) →
    // z=4.18,p=2.92 (q=6) → f = 4.18/2.92 → 1.4315
    val demands = Map(1 -> 4, 4 -> 2, 10 -> 6, 18 -> 3)
    val events = (1 to 21).flatMap { i =>
      val dd = d(f"$i%02d")
      Seq(("spiky", dd, 1.0), ("flat", dd, 1.0)) ++
        Seq.fill(demands.getOrElse(i, 0))(("spiky", dd, 400.0))
    }.toDF("event_type", "ts", "value")
    val dir = java.nio.file.Files.createTempDirectory("graft-cro").toString
    events.withColumn("ts", unix_micros(col("ts")) * 1000)
      .withColumn("event_id", monotonically_increasing_id())
      .withColumn("user_id", lit(1L))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val fc = Forecast.croston(spark, dir).collect()
    val spiky = fc.filter(_.getString(0) == "spiky")
    assert(spiky.length === 7)
    val want = BigDecimal(4.18 / 2.92)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    spiky.foreach(r => assert(r.getDouble(3) === want, r.toString))
    assert(spiky.map(_.getLong(2)).sum === 3L) // the day-18 demand
    val flat = fc.filter(_.getString(0) == "flat")
    assert(flat.length === 7)
    flat.foreach { r =>
      assert(r.getDouble(3) === 0.0 && r.getLong(2) === 0L)
    }
    // sf corpus: 5 series × 7 holdout days, finite nonneg rates
    val sfRows = Forecast.croston(spark, sf).collect()
    assert(sfRows.length === 35)
    sfRows.foreach(r => assert(r.getDouble(3) >= 0.0))
  }

  test("fourier features: phase-0 pins (0,1), hand angles exact, " +
       "all terms bounded") {
    val rows = TimeSeriesOps.fourierFeatures(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      Seq(4, 5, 6, 7).foreach(i => assert(math.abs(r.getDouble(i)) <= 1.0))
      val t = r.getInt(3); val ph = t % 7
      if (ph == 0) {
        assert(r.getDouble(4) === 0.0 && r.getDouble(5) === 1.0)
        assert(r.getDouble(6) === 0.0 && r.getDouble(7) === 1.0)
      }
      // replay the exact angle arithmetic for every row
      def w(k: Int, f: Double => Double) = BigDecimal(
        f(2.0 * math.Pi * k * ph / 7))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(4) === w(1, math.sin))
      assert(r.getDouble(5) === w(1, math.cos))
      assert(r.getDouble(6) === w(2, math.sin))
      assert(r.getDouble(7) === w(2, math.cos))
    }
  }

  test("thetaForecast: exact fit on a ramp, b/2 damped drift, replay match") {
    import spark.implicits._
    def d(s: String) = java.sql.Timestamp.valueOf(s"2024-01-$s 00:00:00")
    // y = 10 + 5·t: the least-squares fit recovers a = 10, b = 5
    // EXACTLY (integer-valued moments, exactly representable
    // quotients), and the theta signature is visible in closed form —
    // consecutive horizon steps differ by exactly b/2 = 2.5 (the
    // Hyndman-Billah equivalence: theta ≡ SES with drift b/2, the
    // deliberate trend damping that won M3)
    val events = (1 to 21).flatMap { i =>
      Seq.fill(10 + 5 * (i - 1))(("ramp", d(f"$i%02d")))
    }.toDF("event_type", "ts")
    val dir = java.nio.file.Files.createTempDirectory("graft-theta").toString
    events.withColumn("ts", unix_micros(col("ts")) * 1000)
      .withColumn("event_id", monotonically_increasing_id())
      .withColumn("user_id", lit(1L)).withColumn("value", lit(1.0))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val th = Forecast.thetaForecast(spark, dir).collect()
      .sortBy(_.getTimestamp(1).getTime)
    assert(th.length === 7) // days 15..21
    val preds = th.map(_.getDouble(3))
    preds.sliding(2).foreach(p => assert(math.abs(p(1) - p(0) - 2.5) < 1e-3))
    // driver-side replay of the same fit + SES recursion (14 train
    // days, t = 0..13) — the spec's independent sequential reference
    val ys = (1 to 14).map(i => (10 + 5 * (i - 1)).toDouble)
    val n = ys.length
    var (st, sy, stt, sty) = (0.0, 0.0, 0.0, 0.0)
    ys.indices.foreach { t =>
      st += t; sy += ys(t); stt += t.toDouble * t; sty += t * ys(t)
    }
    val den = n * stt - st * st
    val b = (n * sty - st * sy) / den
    val a = (sy - b * st) / n
    assert(a === 10.0 && b === 5.0)
    var e = 0.0; var first = true
    ys.indices.foreach { t =>
      val z = 2.0 * ys(t) - (a + b * t)
      e = if (first) { first = false; z } else 0.3 * z + (1.0 - 0.3) * e
    }
    th.zipWithIndex.foreach { case (r, i) =>
      val h = i + 1
      val want = BigDecimal(0.5 * (a + b * (n - 1 + h)) + 0.5 * e)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(3) === want, s"h=$h")
    }
  }

  test("forecast comparison crowns the structurally right model per fixture") {
    import spark.implicits._
    def d(s: String) = java.sql.Timestamp.valueOf(s"2024-01-$s 00:00:00")
    def write(events: org.apache.spark.sql.DataFrame): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft-cmp").toString
      events.withColumn("ts", unix_micros(col("ts")) * 1000)
        .withColumn("event_id", monotonically_increasing_id())
        .withColumn("user_id", lit(1L)).withColumn("value", lit(1.0))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      dir
    }
    // the 3-cycle AR(2) represents exactly: ar2 must be champion at
    // mae 0 while lag-7 snaive misreads the phase
    val cyc = write((1 to 21).flatMap { i =>
      Seq.fill(Seq(10, 20, 30)((i - 1) % 3))(("cyc", d(f"$i%02d")))
    }.toDF("event_type", "ts"))
    val c = Forecast.compareModels(spark, cyc).collect()
    assert(c.length === 3)
    val cBest = c.filter(_.getBoolean(4))
    assert(cBest.length === 1 && cBest.head.getString(1) === "ar2")
    assert(cBest.head.getDouble(2) === 0.0)
    // a pure ramp makes snaive EXACT (lag-7 residual is constant 35,
    // so pred = lag + median resid = truth) while theta damps the
    // trend to b/2 — snaive must be champion at mae 0
    val ramp = write((1 to 21).flatMap { i =>
      Seq.fill(10 + 5 * (i - 1))(("ramp", d(f"$i%02d")))
    }.toDF("event_type", "ts"))
    val r = Forecast.compareModels(spark, ramp).collect()
    val rBest = r.filter(_.getBoolean(4))
    assert(rBest.length === 1 && rBest.head.getString(1) === "snaive")
    assert(rBest.head.getDouble(2) === 0.0)
  }

  test("forecast ensemble: scored on the common holdout with the " +
       "Jensen bound holding, one best per series, deterministic") {
    import spark.implicits._
    def d(s: String) = java.sql.Timestamp.valueOf(s"2024-01-$s 00:00:00")
    val dir = java.nio.file.Files.createTempDirectory("graft-ens").toString
    // a ramp + weekly wobble: no member is exact, so the ensemble has
    // real errors to average
    (1 to 21).flatMap { i =>
      Seq.fill(10 + 3 * (i - 1) + Seq(0, 2, 1, 0, 3, 1, 2)((i - 1) % 7))(
        ("mix", d(f"$i%02d")))
    }.toDF("event_type", "ts")
      .withColumn("ts", unix_micros(col("ts")) * 1000)
      .withColumn("event_id", monotonically_increasing_id())
      .withColumn("user_id", lit(1L)).withColumn("value", lit(1.0))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = Forecast.ensembleForecast(spark, dir).collect()
    // four models on the SAME day count
    assert(rows.length === 4)
    assert(rows.map(_.getLong(3)).distinct.length === 1)
    assert(rows.count(_.getBoolean(4)) === 1)
    val mae = rows.map(r => r.getString(1) -> r.getDouble(2)).toMap
    // Jensen: MAE(mean of preds) <= mean of member MAEs (+ 4dp slack
    // for the ensemble's own rounding)
    val memberMean = (mae("snaive") + mae("ar2") + mae("theta")) / 3
    assert(mae("ensemble") <= memberMean + 0.0002,
      s"ens ${mae("ensemble")} vs member mean $memberMean")
    val again = Forecast.ensembleForecast(spark, dir).collect()
    assert(rows.toSeq === again.toSeq)
  }

  test("anomaly z-scores: planted spike flags, flat series never does") {
    import spark.implicits._
    def d(s: String) = java.sql.Timestamp.valueOf(s"2024-01-$s 00:00:00")
    // build a synthetic daily frame through the same shape the op
    // aggregates to, via raw events: 9 quiet days then a 100x spike,
    // and a perfectly flat series that must yield z = 0 (not NaN)
    val events = (
      (1 to 9).flatMap(i => Seq.fill(10)(("spiky", d(f"$i%02d")))) ++
        Seq.fill(1000)(("spiky", d("10"))) ++
        (1 to 10).flatMap(i => Seq.fill(5)(("flat", d(f"$i%02d"))))
      ).toDF("event_type", "ts")
    val dir = java.nio.file.Files.createTempDirectory("graft-anom").toString
    // route through the real operator by writing a tiny events table
    // in the testdata's shape: ts stored as epoch-NANOS long (what
    // Tables.events truncates back to micros)
    events.withColumn("ts", unix_micros(col("ts")) * 1000)
      .withColumn("event_id", monotonically_increasing_id())
      .withColumn("user_id", lit(1L)).withColumn("value", lit(1.0))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = TimeSeriesOps.anomalyZScore(spark, dir).collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(3), r.getBoolean(4)))
    // warm-up: first 6 days of each series emit nothing
    assert(out.count(_._1 == "spiky") === 4)
    assert(out.count(_._1 == "flat") === 4)
    // the spike day flags, its quiet predecessors don't
    val spikeDay = out.filter(t => t._1 == "spiky" && t._2 == d("10"))
    assert(spikeDay.length === 1 && spikeDay.head._4 && spikeDay.head._3 > 2)
    assert(out.filter(t => t._1 == "spiky" && t._2 != d("10")).forall(!_._4))
    // flat series: zero variance pins z = 0, never NaN, never a flag
    assert(out.filter(_._1 == "flat").forall(t => t._3 === 0.0 && !t._4))
  }

  test("holtWinters matches a driver-side replay of the same recursion") {
    import org.apache.spark.sql.functions.{col, count, date_trunc, lit}
    val out = Forecast.holtWinters(spark, sf).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val daily = Tables.events(spark, sf)
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("cnt")).collect()
      .map(r => (r.getString(1), r.getTimestamp(0).getTime, r.getLong(2)))
    val types = daily.map(_._1).distinct.sorted
    // horizon rows per series, for every series long enough
    assert(out.keys.map(_._1).toSet === types.toSet)
    assert(out.size === types.length * 7)
    // independent sequential replay for one series
    val t0 = types.head
    val ys = daily.filter(_._1 == t0).sortBy(_._2).map(_._3.toDouble)
    assert(ys.length >= 14)
    var level = ys.take(7).sum / 7
    var trend = (ys.slice(7, 14).sum / 7 - level) / 7
    val seas = Array.tabulate(7)(i => ys(i) - level)
    for (t <- 7 until ys.length) {
      val y = ys(t); val sOld = seas(t % 7)
      val nl = 0.3 * (y - sOld) + (1 - 0.3) * (level + trend)
      trend = 0.1 * (nl - level) + (1 - 0.1) * trend
      seas(t % 7) = 0.2 * (y - nl) + (1 - 0.2) * sOld
      level = nl
    }
    (1 to 7).foreach { h =>
      val want = BigDecimal(level + h * trend + seas((ys.length + h - 1) % 7))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(out((t0, h)) === want, s"h=$h")
    }
  }

  test("intermittencyClassify: quadrant/recommended mapping is " +
       "consistent; sparse spike series route to croston") {
    val out = graft.ops.Forecast.intermittencyClassify(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (np, nd) = (r.getLong(1), r.getLong(2))
      val adi = r.getDouble(3)
      val quad = r.getString(5); val rec = r.getString(6)
      assert(nd > 0 && nd <= np)
      assert(adi >= 1.0)
      assert(r.isNullAt(4) === (nd < 2), "cv2 null iff insufficient")
      val want = quad match {
        case "intermittent" | "lumpy" => "croston"
        case "smooth" => "snaive"
        case "erratic" => "ewma"
        case _ => "naive"
      }
      assert(rec === want, s"${r.getString(0)}: $quad -> $rec")
      if (nd >= 2) {
        val cv2 = r.getDouble(4)
        val wantQuad =
          if (adi < 1.32 && cv2 < 0.49) "smooth"
          else if (adi >= 1.32 && cv2 < 0.49) "intermittent"
          else if (adi < 1.32) "erratic" else "lumpy"
        assert(quad === wantQuad)
      }
    }
    // (which quadrants appear depends on the SF — at sf0.1 two of
    // five series route to croston; here we only pin the mapping)
  }

  test("reconcileForecast: single series is coherent (gap 0); " +
       "multi-series nonlinear fits genuinely diverge from bottom-up") {
    import spark.implicits._
    def day(i: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDate.of(2024, 3, 1).plusDays(i).atStartOfDay)
    // one series: the __total pseudo-series IS the series → the same
    // AR fit on both → gap exactly 0 on every holdout day. The (i²%5)
    // wobble keeps the lag design non-degenerate (a pure ramp or pure
    // alternation makes x2 affine in x1 → det = 0 → series dropped)
    val one = (0 until 25).map(i => ("a", day(i), 10L + i % 4 + (i * i) % 5))
      .toDF("event_type", "day", "cnt")
    val r1 = graft.ops.Forecast.reconcileForecastOn(one, 7).collect()
    assert(r1.nonEmpty)
    r1.foreach { r =>
      assert(r.getLong(2) === 1L)
      assert(r.getDouble(3) === r.getDouble(4))
      assert(r.getDouble(5) === 0.0)
    }
    // two series with different dynamics: the AR coefficients are
    // RATIOS of moments — nonlinear in the series — so direct ≠
    // bottom-up somewhere; gap must always equal direct − bottom_up
    val two = ((0 until 25).map(i =>
        ("up", day(i), 10L + 3L * i + (i * i) % 5)) ++
      (0 until 25).map(i => ("seesaw", day(i),
        (if (i % 2 == 0) 40L else 2L) + i % 3)))
      .toDF("event_type", "day", "cnt")
    val r2 = graft.ops.Forecast.reconcileForecastOn(two, 7).collect()
    assert(r2.nonEmpty)
    r2.foreach { r =>
      assert(r.getLong(2) === 2L, "both series must survive the fit")
      val want = BigDecimal(r.getDouble(3)) - BigDecimal(r.getDouble(4))
      assert(BigDecimal(r.getDouble(5)) === want)
    }
    assert(r2.exists(r => math.abs(r.getDouble(5)) > 0.01),
      "nonlinear fits on divergent series must show a coherence gap")
  }

  test("backtestRolling: periodic series scores 0 at every origin; " +
       "a level shift surfaces only in the origins that cross it") {
    import spark.implicits._
    // series "p": exact weekly pattern over 35 days → snaive MAE 0
    // at all 3 origins. series "s": weekly pattern with +10 level
    // shift on the last 7 days → origin 1 (test = last week,
    // trained on pre-shift) reads MAE 10; origins 2-3 pre-shift
    // → 0.
    val pat = Array(5L, 8L, 2L, 9L, 4L, 7L, 6L)
    val rows =
      (0 until 35).map(i => ("p", 1000L + i, pat(i % 7))) ++
      (0 until 35).map(i => ("s", 1000L + i,
        pat(i % 7) + (if (i >= 28) 10L else 0L)))
    val out = graft.ops.Forecast.backtestRollingOn(
        rows.toDF("event_type", "ed", "cnt"), period = 7, nOrigins = 3)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out.size === 6)
    (1L to 3L).foreach { k =>
      val (o, n, mae) = out(("p", k))
      assert(n === 7L && mae === 0.0, s"p origin $k")
      assert(o === 1034L - k * 7 + 1)
    }
    assert(out(("s", 1L))._3 === 10.0) // shift week vs pre-shift lag
    assert(out(("s", 2L))._3 === 0.0)
    assert(out(("s", 3L))._3 === 0.0)
  }

  test("holtDamped matches a driver replay; damping asymptotes the trend") {
    import org.apache.spark.sql.functions.{col, count, date_trunc, lit}
    val out = Forecast.holtDamped(spark, sf).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val daily = Tables.events(spark, sf)
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("cnt")).collect()
      .map(r => (r.getString(1), r.getTimestamp(0).getTime, r.getLong(2)))
    val types = daily.map(_._1).distinct.sorted
    assert(out.keys.map(_._1).toSet === types.toSet)
    assert(out.size === types.length * 7)
    val t0 = types.head
    val ys = daily.filter(_._1 == t0).sortBy(_._2).map(_._3.toDouble)
    var level = ys(0)
    var trend = ys(1) - ys(0)
    for (t <- 1 until ys.length) {
      val nl = 0.3 * ys(t) + (1 - 0.3) * (level + 0.9 * trend)
      trend = 0.1 * (nl - level) + (1 - 0.1) * (0.9 * trend)
      level = nl
    }
    var phipow = 0.9; var phisum = 0.9
    (1 to 7).foreach { h =>
      if (h > 1) { phipow = phipow * 0.9; phisum = phisum + phipow }
      val want = BigDecimal(level + phisum * trend)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(out((t0, h)) === want, s"h=$h")
    }
    // the damped step SHRINKS with h (|Δ_h| = φ^h·|trend| decreasing):
    // successive forecast increments decay toward the asymptote
    val diffs = (1 to 6).map(h => math.abs(out((t0, h + 1)) - out((t0, h))))
    assert(diffs.zip(diffs.tail).forall { case (a, b) => b <= a + 1e-9 })
  }

  test("acf peaks at the planted period and matches a driver replica") {
    import spark.implicits._
    def day(i: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDate.of(2023, 5, 1).plusDays(i).atStartOfDay)
    // period-3 impulse train: acf(3) must dominate acf(1), acf(2)
    val ys = (0 until 12).map(i => if (i % 3 == 0) 10L else 0L)
    val daily = ys.zipWithIndex.map { case (y, i) => ("a", day(i), y) }
      .toDF("event_type", "day", "cnt")
    val out = TimeSeriesOps.acfOn(daily, maxLag = 3).collect()
      .map(r => r.getInt(1) -> r.getDouble(2)).toMap
    // driver replica of the same formula
    val mu = ys.sum.toDouble / ys.length
    val den = ys.map(y => (y - mu) * (y - mu)).sum
    def expected(l: Int) = BigDecimal(
      (l until ys.length).map(t => (ys(t) - mu) * (ys(t - l) - mu)).sum / den)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    (1 to 3).foreach(l => assert(out(l) === expected(l), s"lag $l"))
    assert(out(3) > out(1) && out(3) > out(2))
    assert(out(3) === 0.75) // closed form: 9 of 12 matched dev² terms
  }

  test("changepoints flag a planted level shift once, spikes never") {
    import spark.implicits._
    def day(i: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDate.of(2023, 3, 1).plusDays(i).atStartOfDay)
    // series "shift": 100±1 alternating for 14 days, then 200±1 — a
    // sustained regime change; series "spike": 50±1 with one 58
    // outlier — a ~14-sigma single-point anomaly (anomalyZScore's
    // prey) whose 7-day mean moves only 8/7 ≈ 2σ, below the
    // changepoint bar: the two detectors see disjoint events
    val shift = (0 until 28).map(i =>
      ("shift", day(i), if (i < 14) 100L + (i % 2) else 200L + (i % 2)))
    val spike = (0 until 28).map(i =>
      ("spike", day(i), if (i == 14) 58L else 50L + (i % 2)))
    val outAll = TimeSeriesOps
      .changepointsOn((shift ++ spike).toDF("event_type", "day", "cnt"),
        w = 7, minScore = 3.0)
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getBoolean(6)))
    // full-window trim: days 7..21 survive per series
    assert(outAll.count(_._1 == "shift") === 15)
    val flagged = outAll.filter(_._3).map(r => (r._1, r._2)).toSet
    // the shift series flags around the boundary (pre/post windows
    // straddling day 14) and nowhere else; the max-score day IS the
    // boundary
    assert(flagged.nonEmpty)
    assert(flagged.forall { case (s2, t) =>
      s2 == "shift" &&
        math.abs(java.time.Duration.between(
          day(14).toLocalDateTime, t.toLocalDateTime).toDays) <= 6
    }, flagged.toString)
    assert(!flagged.exists(_._1 == "spike"))
  }

  test("seasonality strength: pure signal scores 1, flat series scores 0") {
    import spark.implicits._
    def mk(f: Int => Long): org.apache.spark.sql.DataFrame =
      (0 until 28).map { i =>
        val day = java.sql.Timestamp.valueOf(
          java.time.LocalDate.of(2023, 1, 1).plusDays(i).atStartOfDay)
        val phase = java.time.LocalDate.of(2023, 1, 1).plusDays(i)
          .toEpochDay % 7
        ("a", day, f(phase.toInt))
      }.toDF("event_type", "day", "cnt")
    // pure periodic signal: resid ≡ 0 ⇒ var(resid) = 0 ⇒ seasonal
    // strength exactly 1 (and trend strength 1 by the same zero)
    val pattern = Seq(7L, -3L, 0L, 14L, -7L, -11L, 0L)
    val pure = TimeSeriesOps.seasonalStrengthOn(
      TimeSeriesOps.seasonalDecomposeOn(mk(p => 100L + pattern(p)), 7))
      .collect()
    assert(pure.length === 1)
    assert(pure.head.getDouble(2) === 1.0)
    // flat series: every component variance is 0 — the zero-denominator
    // guard must pin both strengths to 0, never NaN
    val flat = TimeSeriesOps.seasonalStrengthOn(
      TimeSeriesOps.seasonalDecomposeOn(mk(_ => 100L), 7)).collect()
    assert(flat.head.getDouble(2) === 0.0 && flat.head.getDouble(3) === 0.0)
    // sf corpus: strengths are proper fractions for every series
    val sf01 = TimeSeriesOps.seasonalStrength(spark, sf).collect()
    assert(sf01.nonEmpty)
    sf01.foreach { r =>
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0)
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
  }

  test("seasonal decomposition recovers a planted periodic signal exactly") {
    import spark.implicits._
    // y(t) = 100 + pattern[t mod 7], zero noise: every centered
    // 7-window sums the whole pattern once, so trend ≡ 100 + mean,
    // seasonal ≡ pattern − mean, resid ≡ 0 — closed form, no slack
    val pattern = Seq(7L, -3L, 0L, 14L, -7L, -11L, 0L)
    val mean = pattern.sum.toDouble / 7 // = 0.0 by construction
    assert(mean === 0.0)
    val days = (0 until 28).map { i =>
      val day = java.sql.Timestamp.valueOf(
        java.time.LocalDate.of(2023, 1, 1).plusDays(i).atStartOfDay)
      // phase key is epoch-day mod 7, NOT i mod 7 — recompute it
      val phase = java.time.LocalDate.of(2023, 1, 1).plusDays(i).toEpochDay % 7
      ("a", day, 100L + pattern(phase.toInt))
    }
    val out = TimeSeriesOps
      .seasonalDecomposeOn(days.toDF("event_type", "day", "cnt"), period = 7)
      .collect()
    assert(out.length === 28 - 6) // 3 warm-up rows lost at each edge
    out.foreach { r =>
      val (cnt, trend, seasonal, resid) =
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(trend === 100.0, s"trend $trend")
      assert(seasonal === (cnt - 100L).toDouble, s"seasonal $seasonal vs $cnt")
      assert(resid === 0.0, s"resid $resid")
    }
  }

  test("seasonal decomposition reconstructs y and keys seasonal by phase") {
    val out = TimeSeriesOps.seasonalDecompose(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val recon = r.getDouble(3) + r.getDouble(4) + r.getDouble(5)
      assert(math.abs(recon - r.getLong(2)) < 3e-4,
        s"cnt=${r.getLong(2)} trend+seasonal+resid=$recon")
    }
    // seasonal must be a pure function of (series, epoch-day mod 7)
    val byPhase = out.groupBy(r =>
      (r.getString(0), r.getTimestamp(1).toLocalDateTime.toLocalDate.toEpochDay % 7))
    byPhase.foreach { case (k, rows) =>
      assert(rows.map(_.getDouble(4)).distinct.length === 1, s"phase $k")
    }
  }

  test("cross-correlation peaks at the planted lead-lag shift") {
    import spark.implicits._
    // series b IS series a shifted 2 days later: xcorr(a,b,2) must
    // dominate every other lag of that pair
    val base = (0 until 30).map(t => 10.0 + 8 * math.sin(t / 2.5))
    val rows =
      base.zipWithIndex.map { case (v, t) => ("a", t, v.round) } ++
      base.zipWithIndex.map { case (v, t) => ("b", t + 2, v.round) }
    val daily = rows.toDF("event_type", "dd", "cnt")
    val out = TimeSeriesOps.crossCorrOn(daily, maxLag = 3).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)) ->
        r.getDouble(3)).toMap
    val ab = (0 to 3).map(l => l -> out(("a", "b", l))).toMap
    assert(ab(2) > 0.9, s"lag-2 xcorr ${ab(2)}")
    assert((0 to 3).filter(_ != 2).forall(l => ab(l) < ab(2)),
      s"lag profile $ab")
  }

  test("pit join: each fact sees the version valid AT ITS time, once") {
    import spark.implicits._
    def t(n: Int) = java.sql.Timestamp.valueOf(f"2024-01-$n%02d 00:00:00")
    val dim = Seq(
      (1L, "A", t(1), Option(t(3))),
      (1L, "B", t(3), Option.empty[java.sql.Timestamp]),
      (2L, "C", t(2), Option.empty[java.sql.Timestamp])
    ).toDF("user_id", "state", "valid_from", "valid_to")
    val facts = Seq(
      (10L, 1L, t(1)),  // boundary: version starts AT the fact → A
      (11L, 1L, t(2)),  // inside [1,3) → A
      (12L, 1L, t(3)),  // boundary: old closes, new opens → B
      (13L, 1L, t(9)),  // open-ended current → B
      (14L, 2L, t(1)),  // before user 2's first version → null
      (15L, 3L, t(5))   // user with no versions at all → null
    ).toDF("event_id", "user_id", "ts")
    val out = TimeSeriesOps.pitJoin(facts, dim, Seq("user_id")).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) null else r.getString(3))).toMap
    assert(out === Map(10L -> "A", 11L -> "A", 12L -> "B", 13L -> "B",
      14L -> null, 15L -> null))
    // exactly one row per fact: the interval partition cannot fan out
    assert(TimeSeriesOps.pitJoin(facts, dim, Seq("user_id")).count() ===
      facts.count())
  }

  test("ewma: one row per series-day, hand recursion reproduced") {
    val out = TimeSeriesOps.ewma(spark, sf).collect()
    val daily = Tables.events(spark, sf)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1))).count()
    assert(out.length.toLong === daily)
    // replay the recursion per series on the collected rows
    out.groupBy(_.getString(0)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getTimestamp(1).getTime)
      var e = 0.0
      sorted.zipWithIndex.foreach { case (r, i) =>
        val y = r.getLong(2)
        e = if (i == 0) y.toDouble else 0.3 * y + (1 - 0.3) * e
        assert(math.abs(r.getDouble(3) - e) < 5e-5,
          s"${r.getString(0)} ${r.getTimestamp(1)}: ${r.getDouble(3)} vs $e")
      }
    }
    // first day of each series smooths to itself
    out.groupBy(_.getString(0)).foreach { case (k, rows) =>
      val first = rows.minBy(_.getTimestamp(1).getTime)
      assert(first.getDouble(3) === first.getLong(2).toDouble, s"series $k")
    }
  }

  test("daily percentile bands are ordered p50 ≤ p90 ≤ p99 ≤ max and " +
       "cover every event") {
    val rows = TimeSeriesOps.dailyPercentiles(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (p50, p90, p99, mx) =
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(p50 <= p90 && p90 <= p99 && p99 <= mx, r.toString)
    }
    assert(rows.map(_.getLong(1)).sum === Tables.events(spark, sf).count())
  }

  test("dailyPercentilesChecked: exact columns equal dailyPercentiles, " +
       "every sketch verdict true") {
    val exact = TimeSeriesOps.dailyPercentiles(spark, sf).collect()
      .map(r => r.getTimestamp(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5))).toMap
    val checked = TimeSeriesOps.dailyPercentilesChecked(spark, sf).collect()
    assert(checked.length === exact.size)
    checked.foreach { r =>
      assert((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
        r.getDouble(5)) === exact(r.getTimestamp(0)), r.toString)
      assert(r.getBoolean(6) && r.getBoolean(7) && r.getBoolean(8),
        r.toString)
    }
  }

  test("outlierMadChecked: exact med/MAD equal outlierMad's thresholds, " +
       "both sketch verdicts true") {
    val exact = TimeSeriesOps.outlierMad(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(3), r.getDouble(4))).toMap
    val checked = TimeSeriesOps.outlierMadChecked(spark, sf).collect()
    assert(checked.length === exact.size)
    checked.foreach { r =>
      assert((r.getDouble(2), r.getDouble(3)) === exact(r.getString(0)),
        r.toString)
      assert(r.getBoolean(4) && r.getBoolean(5), r.toString)
    }
  }

  test("outlierMad flags a planted spike and a flat series scores zero") {
    import spark.implicits._
    import java.sql.Timestamp
    def d(i: Int) = Timestamp.valueOf(f"2024-01-${i}%02d 00:00:00")
    // series a: 9 days at 10 plus one 100x spike; series b: constant
    val rows = (1 to 9).map(i => ("a", d(i), 10L)) ++
      Seq(("a", d(10), 1000L)) ++
      (1 to 10).map(i => ("b", d(i), 7L))
    val daily = rows.toDF("event_type", "day", "cnt")
    val out = TimeSeriesOps.outlierMadOn(daily, k = 3.5).collect()
    val a = out.filter(_.getString(0) == "a")
    // median 10, MAD 0? 9 of 10 values identical → mad = 0 — adjust:
    // make series a vary a little so MAD is positive
    val rows2 = (1 to 9).map(i => ("a", d(i), 8L + i)) ++
      Seq(("a", d(10), 1000L))
    val out2 = TimeSeriesOps
      .outlierMadOn(rows2.toDF("event_type", "day", "cnt"), k = 3.5)
      .collect()
    val flagged = out2.filter(_.getBoolean(6)).map(_.getLong(2))
    assert(flagged.toSeq === Seq(1000L)) // only the spike trips the gate
    // the flat series: MAD = 0 → robust_z pinned to 0, nothing flagged
    val b = out.filter(_.getString(0) == "b")
    assert(b.forall(r => r.getDouble(5) == 0.0 && !r.getBoolean(6)))
    assert(a.length === 10 && b.length === 10)
  }

  test("calendarFeatures integer dow matches known dates") {
    val out = TimeSeriesOps.calendarFeatures(spark, sf).collect()
    out.foreach { r =>
      val day = r.getTimestamp(1).toLocalDateTime.toLocalDate
      val expectDow = day.getDayOfWeek.getValue - 1 // java: MON=1 → 0
      assert(r.getInt(3) === expectDow, s"dow mismatch at $day")
      assert(r.getBoolean(4) === (expectDow >= 5))
      assert(r.getInt(5) === day.getMonthValue)
      assert(r.getInt(6) === day.getDayOfMonth)
      assert(r.getBoolean(7) === (day.getDayOfMonth === day.lengthOfMonth))
    }
  }

  test("dtwMicro: identical series 0, one-step shift warps to 0, " +
       "hand DP values exact") {
    import graft.ops.TimeSeriesOps.dtwMicro
    assert(dtwMicro(Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)) === 0L)
    // a spike shifted by one position: warping absorbs it entirely
    assert(dtwMicro(Seq(0L, 0L, 10000L, 0L), Seq(0L, 10000L, 0L, 0L)) === 0L)
    // degenerate lengths: pure accumulation
    assert(dtwMicro(Seq(0L), Seq(5L)) === 5L)
    assert(dtwMicro(Seq(0L, 3L), Seq(0L)) === 3L)
    // Euclidean would read the shifted spike as 2*10000
    assert(dtwMicro(Seq(7L, 7L), Seq(9L, 9L)) === 4L)
  }

  test("dtwPairs: fixture pairs score hand values; sf pairs are " +
       "complete, symmetric-free, and non-negative") {
    import spark.implicits._
    def t(dd: Int) = java.sql.Timestamp.valueOf(f"2024-01-${dd}%02d 00:00:00")
    val daily = Seq(
      ("A", t(1), 0L), ("A", t(2), 0L), ("A", t(3), 10000L), ("A", t(4), 0L),
      ("B", t(1), 0L), ("B", t(2), 10000L), ("B", t(3), 0L), ("B", t(4), 0L),
      ("C", t(1), 5L), ("C", t(2), 5L)
    ).toDF("event_type", "day", "v_micro")
    val out = graft.ops.TimeSeriesOps.dtwPairsOn(daily).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(4)).toMap
    assert(out(("A", "B")) === 0L, "shifted spike must warp to zero")
    // C=[5,5] vs A=[0,0,10000,0]: best path 5+5+9995+5 = 10010
    assert(out(("A", "C")) === 10010L)
    val sf1 = graft.ops.TimeSeriesOps.dtwPairs(spark, sf).collect()
    assert(sf1.length === 10) // C(5,2) pairs
    assert(sf1.forall(_.getLong(4) >= 0L))
    assert(sf1.forall(r => r.getString(0) < r.getString(1)))
  }

  test("dtw Sakoe-Chiba band: band=inf equals the unbanded face; a " +
       "shifted spike's distance survives a tight band") {
    import graft.ops.TimeSeriesOps.dtwMicro
    val a = Seq(0L, 0L, 10000L, 0L, 0L)
    val b = Seq(0L, 10000L, 0L, 0L, 0L)
    // band wide enough to cover the whole grid ≡ unbanded (band < 0)
    assert(dtwMicro(a, b, band = 100) === dtwMicro(a, b))
    assert(dtwMicro(Seq(7L, 7L, 1L), Seq(9L, 9L, 2L), band = 100)
      === dtwMicro(Seq(7L, 7L, 1L), Seq(9L, 9L, 2L)))
    // the one-step-shifted spike warps to 0 with band >= 1 ...
    assert(dtwMicro(a, b) === 0L)
    assert(dtwMicro(a, b, band = 1) === 0L)
    // ... but band=0 forbids the off-diagonal alignment: the spike
    // meets a zero at (1,1) and (2,2) — distance 2*10000 survives
    assert(dtwMicro(a, b, band = 0) === 20000L)
    // unequal lengths: r = max(band, |n−m|) keeps a feasible path
    assert(dtwMicro(Seq(0L, 3L), Seq(0L), band = 0) === 3L)
    // registered banded face: same pair/shape contract as ts_dtw,
    // and banded distance >= unbanded (the band can only remove paths)
    val full = graft.ops.TimeSeriesOps.dtwPairs(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(4)).toMap
    val banded = graft.ops.TimeSeriesOps.dtwPairs(spark, sf, band = 7)
      .collect()
    assert(banded.length === full.size)
    banded.foreach { r =>
      assert(r.getLong(4) >= full((r.getString(0), r.getString(1))))
    }
  }

  test("matrix profile: a planted repeated week scores distance 0 at " +
       "both copies; invariants hold; short series emit nothing") {
    import spark.implicits._
    def t(dd: Int) = java.sql.Timestamp.valueOf(f"2024-01-$dd%02d 00:00:00")
    val week = Seq(10L, 20L, 30L, 40L, 50L, 60L, 70L).map(_ * 10000)
    // days 1-7 = week A, 8-14 flat, 15-21 week A again, 22-28 flat
    val vals = week ++ Seq.fill(7)(50000L) ++ week ++ Seq.fill(7)(50000L)
    val daily = vals.zipWithIndex.map { case (v, i) =>
      ("A", t(i + 1), v)
    }.toDF("event_type", "day", "v_micro")
    val out = graft.ops.TimeSeriesOps.matrixProfileOn(daily, m = 7)
      .collect()
      .map(r => r.getLong(1) -> (r.getLong(2), r.getDouble(3),
        r.getBoolean(4), r.getBoolean(5))).toMap
    assert(out.size === 22) // P = n - m + 1
    // the repeated week: pos 1 matches pos 15 exactly (and vice versa)
    assert(out(1L)._1 === 15L && out(1L)._2 === 0.0)
    assert(out(15L)._1 === 1L && out(15L)._2 === 0.0)
    // motif flag lands on the smallest zero-distance position
    assert(out(1L)._3 === true)
    assert(out.count(_._2._3) === 1 && out.count(_._2._4) === 1)
    // invariants: exclusion zone respected, nn in range, dist >= 0
    out.foreach { case (pos, (nn, dist, _, _)) =>
      assert(math.abs(nn - pos) >= 7 && nn >= 1 && nn <= 22)
      assert(dist >= 0.0)
    }
    // the discord is a genuine outlier week: its distance is the max
    val discordDist = out.values.collect { case (_, d, _, true) => d }.head
    assert(discordDist === out.values.map(_._2).max)
    // a series shorter than 3m-1 emits nothing (no NULL profile cells)
    val short = (1 to 19).map(i => ("B", t(i), i.toLong * 10000))
      .toDF("event_type", "day", "v_micro")
    assert(graft.ops.TimeSeriesOps.matrixProfileOn(short, m = 7)
      .count() === 0L)
    // sf face: one row per admissible window, flags one motif and one
    // discord per series
    val sf1 = graft.ops.TimeSeriesOps.matrixProfile(spark, sf).collect()
    val byType = sf1.groupBy(_.getString(0))
    byType.foreach { case (_, rows) =>
      assert(rows.count(_.getBoolean(4)) === 1)
      assert(rows.count(_.getBoolean(5)) === 1)
    }
  }

  test("banded matrix profile: band >= P-1 reproduces the unbanded " +
       "profile cell for cell; a tight horizon re-picks the partner") {
    import spark.implicits._
    def t(dd: Int) = java.sql.Timestamp.valueOf(f"2024-01-$dd%02d 00:00:00")
    val week = Seq(10L, 20L, 30L, 40L, 50L, 60L, 70L).map(_ * 10000)
    val vals = week ++ Seq.fill(7)(50000L) ++ week ++ Seq.fill(7)(50000L)
    val daily = vals.zipWithIndex.map { case (v, i) =>
      ("A", t(i + 1), v)
    }.toDF("event_type", "day", "v_micro")
    def rows(band: Int) =
      graft.ops.TimeSeriesOps.matrixProfileOn(daily, m = 7, band = band)
        .collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3),
          r.getBoolean(4), r.getBoolean(5))).toSeq
    // the ts_dtw_banded contract shape: a band wide enough to admit
    // every partner IS the unbanded profile, cell for cell
    val full = rows(-1)
    assert(rows(100) === full)
    assert(rows(21) === full) // P - 1 exactly (P = 22)
    // tight horizon: window 1's global partner is the repeated week
    // at 15 (|1-15| = 14) — band 10 excludes it, so the banded face
    // re-picks a nearer-in-time partner at a REAL positive distance
    val banded = rows(10).map(r => r._1 -> r).toMap
    val fullBy = full.map(r => r._1 -> r).toMap
    assert(fullBy(1L)._2 === 15L && fullBy(1L)._3 === 0.0)
    assert(banded(1L)._2 !== 15L)
    assert(math.abs(banded(1L)._2 - 1L) <= 10)
    assert(banded(1L)._3 > 0.0)
    // the band can only REMOVE partners: banded distance dominates
    banded.values.foreach { case (pos, _, d, _, _) =>
      assert(d >= fullBy(pos)._3, s"pos $pos banded < unbanded")
    }
    // registered face at sf: same shape contract as the full profile
    val sfBanded = graft.ops.TimeSeriesOps
      .matrixProfile(spark, sf, band = 14).collect()
    val sfFull = graft.ops.TimeSeriesOps.matrixProfile(spark, sf).collect()
    assert(sfBanded.length === sfFull.length)
    sfBanded.groupBy(_.getString(0)).foreach { case (_, rs) =>
      assert(rs.count(_.getBoolean(4)) === 1)
      assert(rs.count(_.getBoolean(5)) === 1)
      rs.foreach(r =>
        assert(math.abs(r.getLong(2) - r.getLong(1)) <= 14))
    }
  }

  test("periodogram: a planted 7-day cycle dominates at period 7; a " +
       "flat series has ~zero power everywhere") {
    import spark.implicits._
    def t(dd: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDate.of(2024, 1, 1).plusDays(dd.toLong).atStartOfDay())
    val daily =
      (0 until 56).map { dd =>
        ("wave", t(dd), 100L + (if (dd % 7 == 0) 70L else 0L)) } ++
      (0 until 56).map { dd => ("flat", t(dd), 50L) }
    val out = graft.ops.TimeSeriesOps.periodogramOn(
      daily.toDF("event_type", "day", "cnt"), 2, 14).collect()
    val wave = out.filter(_.getString(0) == "wave")
    assert(wave.length === 13)
    val dom = wave.filter(_.getBoolean(3))
    assert(dom.length === 1 && dom.head.getInt(1) === 7,
      s"dominant ${dom.map(_.getInt(1)).toSeq}")
    // the 7-cycle's power must tower over the non-harmonic periods
    val p7 = wave.find(_.getInt(1) === 7).get.getDouble(2)
    val p5 = wave.find(_.getInt(1) === 5).get.getDouble(2)
    assert(p7 > 10 * math.max(p5, 1.0), s"p7=$p7 p5=$p5")
    // flat series: demeaned to ~0 everywhere, no power anywhere
    val flat = out.filter(_.getString(0) == "flat")
    assert(flat.forall(_.getDouble(2) < 1.0))
  }

  test("pacf: an AR(1) chain's PACF cuts off after lag 1; white-ish " +
       "noise stays small at every lag; sf runs end to end") {
    import graft.ops.TimeSeriesOps.durbinLevinson
    // pure AR(1) with rho=0.5 ⇒ acf(k)=0.5^k ⇒ pacf = (0.5, 0, 0, …)
    val r = Array(0.5, 0.25, 0.125, 0.0625)
    val p = durbinLevinson(r)
    assert(p(0) === 0.5)
    assert(p.drop(1).forall(x => math.abs(x) < 1e-4), p.toSeq.toString)
    // degenerate unit-correlation guard: v hits 0, later lags emit 0
    val unit = durbinLevinson(Array(1.0, 1.0))
    assert(unit(0) === 1.0 && unit(1) === 0.0)
    val sfRows = graft.ops.TimeSeriesOps.pacf(spark, sf).collect()
    assert(sfRows.nonEmpty)
    assert(sfRows.forall(r => math.abs(r.getDouble(2)) <= 1.000001))
    // lag-1 pacf equals lag-1 acf (quantized) by construction
    val acf1 = graft.ops.TimeSeriesOps.acf(spark, sf).collect()
      .filter(_.getInt(1) == 1)
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    sfRows.filter(_.getInt(1) == 1).foreach { r =>
      assert(math.abs(r.getDouble(2) - acf1(r.getString(0))) < 2e-6)
    }
  }

  test("conformalForecast: bands are symmetric around the lag-7 point, " +
       "coverage flags re-derive, and the band is a valid interval") {
    val rows = graft.ops.Forecast.conformalForecast(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (actual, pred, lo, hi) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(hi - pred === pred - lo, "band must be symmetric = ±qhat")
      assert(hi >= lo)
      assert(r.getBoolean(6) === (actual >= lo && actual <= hi))
    }
    // with 90% nominal coverage the holdout should mostly be covered
    val cov = rows.count(_.getBoolean(6)).toDouble / rows.length
    assert(cov >= 0.5, s"empirical coverage $cov suspiciously low")
  }

  test("theil-sen: hand-computed 3-day fixture; a planted outlier day " +
       "is fully rejected; the 1/160 half-boundary publishes half-up") {
    import spark.implicits._
    import graft.ops.TimeSeriesOps
    // dd 0,1,2 / cnt 1,3,4 → pair slopes {2, 3/2, 1} → median 3/2;
    // residuals ×2: {2, 3, 2} → median 2 → intercept 1
    val tiny = Seq(("a", 0, 1L), ("a", 1, 3L), ("a", 2, 4L))
      .toDF("event_type", "dd", "cnt")
    val r = TimeSeriesOps.theilSenOn(tiny).first()
    assert(r.getLong(1) === 3L && r.getLong(2) === 3L) // n_days, n_pairs
    assert(r.getDouble(3) === 1.5)
    assert(r.getDouble(4) === 1.0)
    // 4 clean days on y = 2x + 10 plus one wild outlier: 6 of 10
    // pair slopes are clean → slope 2, intercept 10, outlier ignored
    val out = Seq(("a", 0, 10L), ("a", 1, 12L), ("a", 2, 14L),
      ("a", 3, 16L), ("a", 4, 1000L))
      .toDF("event_type", "dd", "cnt")
    val r1 = TimeSeriesOps.theilSenOn(out).first()
    assert(r1.getDouble(3) === 2.0)
    assert(r1.getDouble(4) === 10.0)
    // slope 1/160 = .00625 — a TRUE 4dp half-boundary (and not
    // exactly representable): r4s publishes the half-up .0063 where
    // plain round() on the double splits engines
    val hb = Seq(("a", 0, 10L), ("a", 160, 11L))
      .toDF("event_type", "dd", "cnt")
    val r2 = TimeSeriesOps.theilSenOn(hb).first()
    assert(r2.getDouble(3) === 0.0063)
    assert(r2.getDouble(4) === 10.0)
    // a falling series: the signed path (negative numerators) is exact
    val neg = Seq(("a", 0, 5L), ("a", 1, 3L))
      .toDF("event_type", "dd", "cnt")
    val r3 = TimeSeriesOps.theilSenOn(neg).first()
    assert(r3.getDouble(3) === -2.0)
    assert(r3.getDouble(4) === 5.0)
  }
}
