package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Reuse

/** Distributed quantile forecasting — the capability the reference
  * delegates to SageMaker DeepAR (GluePySparkMLFeatureEngineering
  * cells 49-57: context_length=14, prediction_length, quantile
  * predictions [0.1, 0.5, 0.9]) re-expressed as a Spark-native
  * seasonal-naive model with empirical residual quantiles: per
  * series, pred(t) = value(t - period) + q50(residuals), with
  * [q10, q90] as the prediction interval. Everything is windows +
  * exact `percentile` aggregates — one shuffle per stage, scales
  * with series count, no driver state.
  */
object Forecast {

  /** The per-(day, event_type) count series every member model fits —
    * derived once per single-model entry; [[compareModels]] and
    * [[ensembleForecast]] stage it through one checkpoint so their
    * member fits share a single corpus pass. */
  private def dailyOf(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))

  /** The settings the forecast faces share: the holdout horizon
    * (days), the weekly season, the exponential-smoothing factors,
    * and the event value above which the intermittent-demand faces
    * count an event as a demand. */
  private val horizonDays = 7
  private val seasonDays = 7
  private val levelAlpha = 0.3
  private val trendBeta = 0.1
  private val sparseThreshold = 300.0

  /** Forecast the last `horizonDays` days of each event_type series.
    * Output: event_type, day, actual, pred, lo, hi. */
  def seasonalNaive(s: SparkSession, d: String): DataFrame =
    seasonalNaiveOn(dailyOf(s, d), seasonDays, horizonDays)

  /** Same over any (day, event_type, cnt) daily frame. */
  def seasonalNaiveOn(daily: DataFrame,
                      period: Int, horizon: Int): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val lagged = daily.withColumn("lagp", lag(col("cnt"), period).over(w))
    val mx = daily.agg(max(col("day")).as("mx"))
    val t = lagged.crossJoin(broadcast(mx))

    val train = t
      .filter(col("day") <= col("mx") - expr(s"interval $horizon day") &&
              col("lagp").isNotNull)
      .withColumn("resid", col("cnt") - col("lagp"))
    val qs = train.groupBy(col("event_type")).agg(
      expr("percentile(resid, 0.1)").as("q10"),
      expr("percentile(resid, 0.5)").as("q50"),
      expr("percentile(resid, 0.9)").as("q90"))

    t.filter(col("day") > col("mx") - expr(s"interval $horizon day"))
      .join(broadcast(qs), Seq("event_type"))
      .select(col("event_type"), col("day"),
        col("cnt").as("actual"),
        round(col("lagp") + col("q50"), 4).as("pred"),
        round(col("lagp") + col("q10"), 4).as("lo"),
        round(col("lagp") + col("q90"), 4).as("hi"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Split-conformal prediction intervals around seasonal-naive —
    * the DISTRIBUTION-FREE upgrade of [[seasonalNaive]]'s quantile
    * bands: empirical residual percentiles promise nothing, while
    * the conformal quantile (the ⌈(1−α)(n+1)⌉-th smallest absolute
    * calibration residual — the (n+1) is the finite-sample
    * correction) guarantees ≥ 1−α marginal coverage for exchangeable
    * residuals (Vovk et al.; Lei et al. JASA'18). The band is what a
    * capacity planner actually consumes: "the count will be within
    * ±q̂ of the forecast, 90% of the time, by construction".
    *
    * Everything is INTEGER: counts, lag-7 point forecasts, absolute
    * residuals, the order statistic (row_number over a (|resid|,
    * day) total order — duplicates count, as the statistic requires),
    * the rank k = ⌈keep·(n+1)/100⌉ computed as (keep·(n+1)+99) div 100
    * (no float ceil), and the ±q̂ band. k > n clamps to the max residual
    * (the finite-sample "infinite interval" case, surfaced by the
    * clamped flag rather than silently). One series-key shuffle for
    * the lag window, one calibration aggregate, one broadcast join
    * back — the snaive plan plus an order statistic. */
  def conformalForecast(s: SparkSession, d: String): DataFrame = {
    val alphaPct = 10
    val daily = Tables.events(s, d)
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val lagged = daily.withColumn("lagp", lag(col("cnt"), seasonDays).over(w))
    val mx = daily.agg(max(col("day")).as("mx"))
    val t = Reuse.shared(lagged.crossJoin(broadcast(mx)))
    val train = t
      .filter(col("day") <= col("mx") - expr(s"interval $horizonDays day") &&
        col("lagp").isNotNull)
      .select(col("event_type"),
        abs(col("cnt") - col("lagp")).as("ar"), col("day"))
    val ranked = train.withColumn("rn",
        row_number().over(Window.partitionBy(col("event_type"))
          .orderBy(col("ar"), col("day"))))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy(col("event_type"))))
    val keep = 100 - alphaPct
    val qhat = ranked
      .withColumn("k",
        least(expr(s"($keep * (n + 1) + 99) div 100"), col("n")))
      .filter(col("rn") === col("k"))
      .select(col("event_type"), col("ar").as("qhat"),
        (expr(s"($keep * (n + 1) + 99) div 100") > col("n"))
          .as("clamped"))
    t.filter(col("day") > col("mx") - expr(s"interval $horizonDays day") &&
        col("lagp").isNotNull)
      .join(broadcast(qhat), Seq("event_type"))
      .select(col("event_type"), col("day"), col("cnt").as("actual"),
        col("lagp").as("pred"),
        (col("lagp") - col("qhat")).as("lo"),
        (col("lagp") + col("qhat")).as("hi"),
        col("cnt").between(col("lagp") - col("qhat"),
          col("lagp") + col("qhat")).as("covered"),
        col("clamped"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Additive Holt-Winters (triple exponential smoothing) per series
    * — the classical-model step up from seasonal-naive: level, trend,
    * and a rotating seasonal vector updated by one recursion over the
    * observed days, then `horizonDays` point forecasts
    * level + h·trend + seas[(n+h-1) mod period].
    *
    * The recursion is inherently sequential PER SERIES, so it runs in
    * `flatMapGroups` — one task per series, state O(period), series
    * count = parallelism: exactly the work shape a driver-side loop
    * would serialize and this keeps distributed. Initialization is
    * the classical one (level = first-season mean, trend =
    * season-mean difference / period, seas = first-season residuals);
    * series shorter than two seasons emit nothing.
    *
    * Cross-engine determinism: the oracle replays the SAME recursion
    * in a DuckDB recursive CTE with the arithmetic written
    * identically — including `(1 - 0.3)` kept as a subtraction, since
    * the double literal 0.7 is NOT the same IEEE value — so the 4dp
    * forecasts match bit-for-bit. Output: (event_type, h, pred). */
  def holtWinters(s: SparkSession, d: String): DataFrame = {
    val gamma = 0.2
    perSeries(Tables.events(s, d)
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))) { ys =>
      val n = ys.length
      if (n < 2 * seasonDays) Iterator.empty
      else {
        var level = ys.take(seasonDays).sum / seasonDays
        val m2 = ys.slice(seasonDays, 2 * seasonDays).sum / seasonDays
        var trend = (m2 - level) / seasonDays
        val seas = Array.tabulate(seasonDays)(i => ys(i) - level)
        var t = seasonDays
        while (t < n) {
          val y = ys(t)
          val sOld = seas(t % seasonDays)
          val newLevel = levelAlpha * (y - sOld) + (1 - levelAlpha) * (level + trend)
          trend = trendBeta * (newLevel - level) + (1 - trendBeta) * trend
          seas(t % seasonDays) = gamma * (y - newLevel) + (1 - gamma) * sOld
          level = newLevel
          t += 1
        }
        (1 to horizonDays).iterator.map { h =>
          (h, level + h * trend + seas((n + h - 1) % seasonDays))
        }
      }
    }
  }

  /** The per-series staging of the recursive smoothers: each event
    * type's daily counts in day order go to `fit` (one task per
    * series), whose (h, pred) forecasts publish as
    * (event_type, h, pred) at 4dp. */
  private def perSeries(daily: DataFrame)(
      fit: Array[Double] => Iterator[(Int, Double)]): DataFrame = {
    val s = daily.sparkSession
    import s.implicits._
    daily.select(col("event_type"), col("day"), col("cnt"))
      .as[(String, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (k: String, it: Iterator[(String, java.sql.Timestamp, Long)]) =>
        fit(it.toArray.sortBy(_._2.getTime).map(_._3.toDouble))
          .map { case (h, pred) => (k, h, pred) }
      }
      .toDF("event_type", "h", "pred")
      .select(col("event_type"), col("h"), round(col("pred"), 4).as("pred"))
      .orderBy(col("event_type"), col("h"))
  }

  // Cramer's rule for the AR(2) normal equations — the 3×3 symmetric
  // system [[n,s1,s2],[s1,s11,s12],[s2,s12,s22]]·[c0,a1,a2] =
  // [sy,s1y,s2y]. The formula strings are SQL both engines parse, and
  // the oracle repeats them CHARACTER FOR CHARACTER: every operand is
  // an integer-valued double (exact, order-independent sums), so
  // keeping the expression trees identical makes the IEEE results —
  // and thus the forecasts — bit-identical cross-engine.
  private val arDet =
    "n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + s2*(s1*s12 - s11*s2)"
  private val arDet0 =
    "sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y) + s2*(s1y*s12 - s11*s2y)"
  private val arDet1 =
    "n*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2) + s2*(s1*s2y - s1y*s2)"
  private val arDet2 =
    "n*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2) + sy*(s1*s12 - s11*s2)"

  /** Per-series AR(2) forecaster — the autoregressive step past
    * seasonal-naive/Holt-Winters toward the reference's neural
    * forecaster (DeepAR conditions on lagged targets;
    * GluePySparkMLFeatureEngineering cell 52): y_t fit as
    * c0 + a1·y_{t−1} + a2·y_{t−2} per series by least squares.
    *
    * The fit is the cheapest distributed shape a regression can
    * take: lags come from one keyed window pass, the normal-equation
    * moments are plain map-side-combinable SUMs (the REGR_* moment
    * recipe, ml_linreg_trend's plan with two features), and the 3×3
    * solve is closed-form Cramer arithmetic ON COLUMNS — no
    * iteration, no driver state, one shuffle on the series key. The
    * `horizon` recursive forecasts unroll as nested column
    * expressions (p_h = c0 + a1·p_{h−1} + a2·p_{h−2}); the oracle
    * replays the same recursion in a recursive CTE, and every
    * arithmetic node matches the Spark tree, so values match at 4dp
    * bit-for-bit (the forecast_hw contract). Series whose train
    * moments are degenerate (det = 0, e.g. constant) drop out rather
    * than divide by zero — identically in both engines.
    *
    * Output: (event_type, day, actual, pred) over the holdout days,
    * the [[seasonalNaive]] shape minus the quantile band (an AR point
    * model has no residual-quantile interval by construction). */
  def arForecast(s: SparkSession, d: String): DataFrame =
    arForecastOn(dailyOf(s, d), horizonDays)

  /** Same over any (day, event_type, cnt) daily frame. */
  def arForecastOn(daily: DataFrame, horizon: Int): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val lagged = daily
      .withColumn("l1", lag(col("cnt"), 1).over(w))
      .withColumn("l2", lag(col("cnt"), 2).over(w))
    val mx = daily.agg(max(col("day")).as("mx"))
    val train = lagged.crossJoin(broadcast(mx))
      .filter(col("day") <= col("mx") - expr(s"interval $horizon day") &&
              col("l2").isNotNull)
      .select(col("event_type"), col("day"),
        col("cnt").cast("double").as("y"),
        col("l1").cast("double").as("x1"),
        col("l2").cast("double").as("x2"))
    val sums = train.groupBy(col("event_type")).agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("y")).as("sy"),
      sum(col("x1")).as("s1"),
      sum(col("x2")).as("s2"),
      sum(col("x1") * col("x1")).as("s11"),
      sum(col("x1") * col("x2")).as("s12"),
      sum(col("x2") * col("x2")).as("s22"),
      sum(col("x1") * col("y")).as("s1y"),
      sum(col("x2") * col("y")).as("s2y"),
      // forecast anchors: the last two train values (days are unique
      // per series, so max_by is unambiguous)
      max_by(col("y"), col("day")).as("y0"),
      max_by(col("x1"), col("day")).as("ym1"),
      max(col("day")).as("tday"))
    val coef = sums
      .withColumn("det", expr(arDet))
      .filter(col("n") >= 4 && col("det") =!= 0.0)
      .withColumn("c0", expr(arDet0) / col("det"))
      .withColumn("a1", expr(arDet1) / col("det"))
      .withColumn("a2", expr(arDet2) / col("det"))
    // unroll the recursive point forecasts into column expressions
    var p1 = col("y0"); var p2 = col("ym1")
    val preds = (1 to horizon).map { _ =>
      val p = col("c0") + col("a1") * p1 + col("a2") * p2
      p2 = p1; p1 = p
      p
    }
    withActuals(coef.select(col("event_type"), col("tday"),
        posexplode(array(preds: _*)).as(Seq("h0", "pred")))
      .select(col("event_type"),
        expr("timestampadd(DAY, h0 + 1, tday)").as("day"),
        round(col("pred"), 4).as("pred")), daily)
  }

  /** Holdout predictions (event_type, day, pred) beside the actual
    * counts of `daily`, in (event_type, day) order. */
  private def withActuals(preds: DataFrame, daily: DataFrame): DataFrame =
    preds.join(daily.select(col("event_type"), col("day"),
        col("cnt").as("actual")), Seq("event_type", "day"))
      .select(col("event_type"), col("day"), col("actual"), col("pred"))
      .orderBy(col("event_type"), col("day"))

  /** The holdout fit of the theta and Croston forecasters: each
    * series' rows of `daily` up to `horizon` days before `span`'s
    * `mx`, in day order, go to `fit` (one task per series), whose
    * (h, pred) forecasts from the last train day publish as
    * (event_type, day, pred) at 4dp. */
  private def holdoutFit(daily: DataFrame, span: DataFrame, horizon: Int)(
      fit: Array[(String, java.sql.Timestamp, Long)] =>
        Iterator[(Int, Double)]): DataFrame = {
    val s = daily.sparkSession
    import s.implicits._
    daily.crossJoin(broadcast(span))
      .filter(col("day") <= col("mx") - expr(s"interval $horizon day"))
      .select(col("event_type"), col("day"), col("cnt"))
      .as[(String, java.sql.Timestamp, Long)]
      .groupByKey(_._1).flatMapGroups {
        (k: String, it: Iterator[(String, java.sql.Timestamp, Long)]) =>
          val rows = it.toArray.sortBy(_._2.getTime)
          val tday = rows.last._2
          fit(rows).map { case (h, pred) => (k, tday, h, pred) }
      }
      .toDF("event_type", "tday", "h", "pred")
      .select(col("event_type"),
        expr("timestampadd(DAY, h, tday)").as("day"),
        round(col("pred"), 4).as("pred"))
  }

  /** Theta-lite forecaster per series — the trend-capable classical
    * model beside [[seasonalNaive]] (pure seasonality), [[holtWinters]]
    * (level/trend/season smoothing) and [[arForecast]] (lag
    * conditioning): the theta decomposition (Assimakopoulos &
    * Nikolopoulos 2000; M3's winning family) splits the series into
    * the θ=0 line (the least-squares trend, extrapolated exactly) and
    * the θ=2 line z_t = 2·y_t − (a + b·t) (double local curvature,
    * flattened by simple exponential smoothing), and averages the two
    * forecasts — trend persistence from the fit, level adaptivity
    * from the SES.
    *
    * Distributed shape = the family's established split: the holdout
    * filter and daily aggregation stay in-plan; the per-series work
    * (exact linear fit from four moment sums + the inherently
    * sequential SES recursion) runs in `flatMapGroups` — one task per
    * series, O(1) state, series count = parallelism (the
    * [[holtWinters]] execution pattern). Cross-engine determinism by
    * the forecast_hw contract: the oracle replays fit and recursion
    * with every arithmetic node written identically (incl. `(1 − α)`
    * kept as a subtraction), so 4dp forecasts match bit-for-bit.
    *
    * Output: (event_type, day, actual, pred) over the holdout days —
    * the [[arForecast]] shape. */
  def thetaForecast(s: SparkSession, d: String): DataFrame =
    thetaForecastOn(dailyOf(s, d), horizonDays, levelAlpha)

  /** Same over any (day, event_type, cnt) daily frame. */
  def thetaForecastOn(daily: DataFrame, horizon: Int,
                      alpha: Double): DataFrame = {
    val mx = daily.agg(max(col("day")).as("mx"))
    withActuals(holdoutFit(daily, mx, horizon) { rows =>
      val ys = rows.map(_._3.toDouble)
      val n = ys.length
      if (n < 2) Iterator.empty
      else {
        // linear-fit moments: t and y are integer-valued, so the
        // sums are EXACT doubles — aggregation-order independent
        var st = 0.0; var sy = 0.0; var stt = 0.0; var sty = 0.0
        var t = 0
        while (t < n) {
          val ti = t.toDouble
          st += ti; sy += ys(t); stt += ti * ti; sty += ti * ys(t)
          t += 1
        }
        val nn = n.toDouble
        val den = nn * stt - st * st // > 0 for n ≥ 2 distinct days
        if (den == 0.0) Iterator.empty
        else {
          val b = (nn * sty - st * sy) / den
          val a = (sy - b * st) / nn
          // SES over the θ=2 line, e_0 = z_0 — sequential per series
          var e = 0.0
          var first = true
          var t2 = 0
          while (t2 < n) {
            val z = 2.0 * ys(t2) - (a + b * t2)
            e = if (first) { first = false; z }
                else alpha * z + (1.0 - alpha) * e
            t2 += 1
          }
          (1 to horizon).iterator.map { h =>
            (h, 0.5 * (a + b * (n - 1 + h)) + 0.5 * e)
          }
        }
      }
    }, daily)
  }

  /** The 0-filled sparse daily spine (days with `value` above
    * [[sparseThreshold]], gap days as explicit zeros) — shared by
    * [[croston]] and [[intermittencyClassify]] so the forecaster and
    * its router see the identical series. */
  private def sparseSpine(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(date_trunc("day", col("ts")).as("day"), col("event_type"),
        col("value"))
    val span = ev.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
    val types = ev.select(col("event_type")).distinct()
    val sparse = ev.filter(col("value") > sparseThreshold)
      .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("cnt"))
    types.crossJoin(broadcast(span))
      .select(col("event_type"),
        explode(expr("sequence(mn, mx, interval 1 day)")).as("day"))
      .join(sparse, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
  }

  /** Croston's method (1972) — the INTERMITTENT-demand forecaster the
    * rest of the family cannot handle: on a series that is mostly
    * zeros (spike/incident counts — here, daily events with value
    * above [[sparseThreshold]], 2-6 of 30 days at the gate SF), SES
    * smooths toward zero between demands and seasonal-naive copies
    * noise.
    * Croston maintains TWO exponential estimates — nonzero demand
    * SIZE z and inter-demand INTERVAL p (smoothed only on demand
    * days, from the pre-reset gap counter) — and forecasts the flat
    * demand RATE z/p. The series is the 0-FILLED calendar per type
    * (the zeros are the signal; a sparse frame would hide the
    * intervals), anchored on the full corpus span so the holdout
    * boundary matches the family convention.
    *
    * Distributed shape = the family's split: calendar fill and
    * holdout actuals in-plan, the inherently sequential two-state
    * recursion in `flatMapGroups` (one task per series, O(1) state).
    * Cross-engine: the oracle replays the recursion node-for-node
    * (incl. `(1 − α)` as a subtraction and the pre-reset interval in
    * the p update); series with no train demand forecast 0. Output:
    * (event_type, day, actual, pred) over the holdout days, actuals
    * 0-filled. */
  def croston(s: SparkSession, d: String): DataFrame = {
    // NOT checkpointed, deliberately (r16 A/B): materializing the
    // spine measured slower (0.76 → 1.17 s) — cheap subtrees, AQE
    // exchange reuse, barrier jobs not amortized at this cost class
    val filled = sparseSpine(s, d)
    val span = filled.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
    withActuals(holdoutFit(filled, span, horizonDays) { rows =>
      var q = 1.0; var z = 0.0; var p = 1.0; var first = true
      rows.foreach { r =>
        val y = r._3.toDouble
        if (y > 0) {
          if (first) { z = y; p = q; first = false }
          else {
            z = levelAlpha * y + (1.0 - levelAlpha) * z
            p = levelAlpha * q + (1.0 - levelAlpha) * p
          }
          q = 1.0
        } else q += 1.0
      }
      val f = if (first) 0.0 else z / p
      (1 to horizonDays).iterator.map(h => (h, f))
    }, filled)
  }

  /** HIERARCHICAL forecast RECONCILIATION audit — the coherence
    * question aggregate dashboards hit immediately: forecast each
    * series AND the total, and the bottom-up sum of per-series
    * forecasts will NOT equal the directly-forecast total for any
    * model whose fit is nonlinear in the series. The model choice is
    * the analytic point: snaive, Holt(-damped), and theta are all
    * LINEAR maps of the input values (sum of forecasts ≡ forecast of
    * sums — a first cut on damped Holt measured the gap at rounding
    * noise, exactly as the algebra predicts), so the audit runs
    * [[arForecastOn]], whose fitted coefficients are RATIOS of
    * moments — nonlinear, and genuinely incoherent across the
    * hierarchy. The per-day gap is the number a reporting pipeline
    * must reconcile away (bottom-up, top-down, or MinT) before
    * publishing. ONE plan: the total appends as a `__total`
    * pseudo-series (one extra groupBy), the shared AR fit runs over
    * everything in a single pass, and the output pivots direct vs
    * bottom-up per holdout day with the realized total beside them.
    * `n_series` counts the types actually fit that day — a type
    * dropped by the det/n guard would silently hollow the bottom-up
    * sum, so the audit surfaces it. */
  def reconcileForecast(s: SparkSession, d: String): DataFrame =
    reconcileForecastOn(Tables.events(s, d)
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("cnt")), horizonDays)

  /** Same over any (day, event_type, cnt) daily frame. */
  def reconcileForecastOn(daily: DataFrame, horizon: Int): DataFrame = {
    val total = daily.groupBy(col("day"))
      .agg(sum(col("cnt")).as("cnt"))
      .select(col("day"), lit("__total").as("event_type"), col("cnt"))
    val preds = arForecastOn(
      daily.select(col("day"), col("event_type"), col("cnt"))
        .unionByName(total), horizon)
    // preds are 4dp-rounded per series — sum as exact DECIMALs so the
    // bottom-up total can't drift with aggregation order
    preds.groupBy(col("day"))
      .agg(
        max(when(col("event_type") === "__total", col("actual")))
          .as("actual_total"),
        sum(when(col("event_type") === "__total",
          col("pred").cast("decimal(14,4)"))).as("direct"),
        sum(when(col("event_type") =!= "__total",
          col("pred").cast("decimal(14,4)"))).as("bottom_up"),
        sum(when(col("event_type") =!= "__total", 1L).otherwise(0L))
          .as("n_series"))
      .select(col("day"), col("actual_total"), col("n_series"),
        round(col("direct").cast("double"), 4).as("direct"),
        round(col("bottom_up").cast("double"), 4).as("bottom_up"),
        round((col("direct") - col("bottom_up")).cast("double"), 4)
          .as("gap"))
      .orderBy(col("day"))
  }

  /** ROLLING-ORIGIN backtest of the seasonal-naive forecaster — the
    * forecasting counterpart of ml_cv_accuracy's k-fold: one holdout
    * ([[evaluate]]) says how the model did ONCE; successive origins
    * say whether that error is STABLE or drifting, which is what
    * decides if the model can be trusted next week. Origin k
    * forecasts the `period` days starting at max_day − k·period + 1;
    * with horizon = period, snaive's prediction for test day d is
    * y(d − period), which lies strictly BEFORE the origin for every
    * test day — leakage-free by construction, no per-origin refit.
    * All origins run in ONE plan: the ≤nOrigins-row origin frame
    * broadcasts onto the calendar-bounded daily series, predictions
    * come from one (type, day) self-join of the shifted series, and
    * MAE terms sum as exact DECIMALs (integer counts — no float
    * drift). Days whose lag-`period` source is absent predict 0
    * (the gap-day posture, mirrored in the oracle). */
  def backtestRolling(s: SparkSession, d: String): DataFrame = {
    val nOrigins = 3
    backtestRollingOn(
      Tables.events(s, d)
        .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("event_type"),
          expr("unix_micros(day) div 86400000000").as("ed"), col("cnt")),
      seasonDays, nOrigins)
  }

  /** Same over any (event_type, ed, cnt) daily series. */
  def backtestRollingOn(daily: DataFrame, period: Int,
                        nOrigins: Int): DataFrame = {
    val s = daily.sparkSession
    val mx = daily.agg(max(col("ed")).as("mx"))
    val origins = s.range(1, nOrigins + 1).select(col("id").as("k"))
      .crossJoin(broadcast(mx))
      .select(col("k"), (col("mx") - col("k") * period + 1).as("origin"))
    val test = daily.crossJoin(broadcast(origins))
      .filter(col("ed") >= col("origin") &&
        col("ed") < col("origin") + period)
    val pred = daily.select(col("event_type"),
      (col("ed") + period).as("ed"), col("cnt").as("pred"))
    test.join(pred, Seq("event_type", "ed"), "left")
      .select(col("event_type"), col("k"), col("origin"), col("cnt"),
        coalesce(col("pred"), lit(0L)).as("pred"))
      .groupBy(col("event_type"), col("k"))
      .agg(min(col("origin")).as("origin_day"),
        count(lit(1)).as("n_days"),
        (sum(abs(col("cnt") - col("pred")).cast("decimal(20,4)"))
          .cast("double") / count(lit(1))).as("__m"))
      .select(col("event_type"), col("k").as("origin_k"),
        col("origin_day"), col("n_days"), round(col("__m"), 4).as("mae"))
      .orderBy(col("event_type"), col("origin_k"))
  }

  /** Damped-trend Holt (Gardner & McKenzie) — the dial the
    * [[holtWinters]] face lacks: an undamped linear trend
    * extrapolates to ±∞ with the horizon, which is exactly how batch
    * forecasts embarrass themselves at h ≫ 1; damping multiplies
    * each further trend step by φ < 1, so the forecast asymptotes at
    * level + φ/(1−φ)·trend — the robust long-horizon default in the
    * M-competition literature. Same execution pattern as
    * [[holtWinters]]: per-series `flatMapGroups` recursion over the
    * day-ordered counts (state = 2 doubles; series fit in memory by
    * the calendar bound), one shuffle on the series key.
    *
    * l_t = α·y_t + (1−α)(l_{t−1} + φ·b_{t−1});
    * b_t = β·(l_t − l_{t−1}) + (1−β)·φ·b_{t−1};
    * ŷ_{n+h} = l_n + (Σ_{i=1..h} φ^i)·b_n.
    *
    * Cross-engine determinism: the recursion replays node-for-node
    * in a DuckDB recursive CTE (the forecast_hw contract), and the
    * φ-power sum is built by REPEATED MULTIPLICATION in both engines
    * (a second tiny h-recursion in the oracle) — never pow(), whose
    * libm results are only 1-ulp-accurate and may differ between
    * JVM and C runtimes. */
  def holtDamped(s: SparkSession, d: String): DataFrame = {
    val phi = 0.9
    holtDampedOn(Tables.events(s, d)
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("event_type"), col("day"), col("cnt")),
      horizonDays, levelAlpha, trendBeta, phi)
  }

  /** Same over any (event_type, day, cnt) daily frame. */
  def holtDampedOn(dailyDf: DataFrame, horizon: Int,
                   alpha: Double, beta: Double, phi: Double): DataFrame =
    perSeries(dailyDf) { ys =>
      val n = ys.length
      if (n < 2) Iterator.empty
      else {
        var level = ys(0)
        var trend = ys(1) - ys(0)
        var t = 1
        while (t < n) {
          val y = ys(t)
          val newLevel = alpha * y + (1 - alpha) * (level + phi * trend)
          trend = beta * (newLevel - level) + (1 - beta) * (phi * trend)
          level = newLevel
          t += 1
        }
        // Σφ^i by repeated multiplication — mirrored in the oracle's
        // h-recursion (phipow·φ appears twice there: same value,
        // same tree) — never pow()
        val phisums = new Array[Double](horizon + 1)
        var phipow = phi
        phisums(1) = phi
        var h = 2
        while (h <= horizon) {
          phipow = phipow * phi
          phisums(h) = phisums(h - 1) + phipow
          h += 1
        }
        (1 to horizon).iterator.map(i => (i, level + phisums(i) * trend))
      }
    }

  /** INTERMITTENCY CLASSIFICATION (Syntetos-Boylan quadrants) — the
    * ROUTER in front of [[croston]]: Croston beats snaive only on
    * series that are actually intermittent, and the standard test is
    * two numbers per series over the SAME 0-filled spine the
    * forecaster reads ([[sparseSpine]] — router and forecaster can't
    * disagree about the series): ADI = periods per demand (how often
    * anything happens) and CV² = squared coefficient of variation of
    * the NONZERO demand sizes (how wild the sizes are), against the
    * PINNED 1.32 / 0.49 cutoffs (Syntetos-Boylan 2005 — table
    * constants, never fitted). smooth → seasonal models; erratic →
    * level models; intermittent/lumpy → Croston. Moments are exact
    * integer sums per series (one aggregate over the calendar-bounded
    * spine); series with < 2 demands report null CV² and route to
    * 'insufficient'. */
  def intermittencyClassify(s: SparkSession, d: String): DataFrame = {
    def dbl(c: Column): Column = c.cast("double")
    val m = sparseSpine(s, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_periods"),
        sum(when(col("cnt") > 0, 1L).otherwise(0L)).as("n_demands"),
        sum(col("cnt")).as("sd_sum"),
        sum(col("cnt") * col("cnt")).as("sd_sq"))
    val adi = round(dbl(col("n_periods")) / col("n_demands"), 4)
    val mean = dbl(col("sd_sum")) / col("n_demands")
    val variance = (dbl(col("sd_sq")) -
      dbl(col("sd_sum")) * dbl(col("sd_sum")) / col("n_demands")) /
      (col("n_demands") - 1)
    val cv2 = round(variance / (mean * mean), 4)
    m.filter(col("n_demands") > 0)
      .select(col("event_type"), col("n_periods"), col("n_demands"),
        adi.as("adi"),
        when(col("n_demands") >= 2, cv2).as("cv2"),
        when(col("n_demands") < 2, "insufficient")
          .when(adi < 1.32 && cv2 < 0.49, "smooth")
          .when(adi >= 1.32 && cv2 < 0.49, "intermittent")
          .when(adi < 1.32 && cv2 >= 0.49, "erratic")
          .otherwise("lumpy").as("quadrant"))
      .withColumn("recommended",
        when(col("quadrant").isin("intermittent", "lumpy"), "croston")
          .when(col("quadrant") === "smooth", "snaive")
          .when(col("quadrant") === "erratic", "ewma")
          .otherwise("naive"))
      .orderBy(col("event_type"))
  }

  /** Backtest MODEL SELECTION — the question the single-model entries
    * leave open: per series, which forecaster actually wins the
    * holdout? Runs the three holdout-evaluated models
    * ([[seasonalNaive]], [[arForecast]], [[thetaForecast]]) over the
    * SAME holdout days, computes each (series, model) MAE, and flags
    * the champion — the per-series routing table a production
    * forecasting pipeline derives before committing to a model
    * (different series genuinely prefer different structure:
    * seasonality vs lag conditioning vs damped trend).
    *
    * Plan cost = the three entries' plans + one small union/agg: MAE
    * terms are 4dp-exact by construction (preds round 4dp, actuals
    * integer), so they sum as exact DECIMAL(20,4) — aggregation-order
    * independent — and divide once in double (the q_ttest recipe);
    * champion = rank-1 on (mae, model) per series, deterministic
    * cross-engine. */
  def compareModels(s: SparkSession, d: String): DataFrame = {
    // ONE daily aggregate feeds all three member fits (r16 backlog
    // item #1): the members previously each re-derived it from
    // events — 3 corpus scans+aggregates per entry for a frame of
    // days × event_types rows.
    val daily = Reuse.shared(dailyOf(s, d))
    val sn = seasonalNaiveOn(daily, seasonDays, horizonDays)
      .select(col("event_type"), col("actual"), col("pred"))
      .withColumn("model", lit("snaive"))
    val ar = arForecastOn(daily, horizonDays)
      .select(col("event_type"), col("actual"), col("pred"))
      .withColumn("model", lit("ar2"))
    val th = thetaForecastOn(daily, horizonDays, levelAlpha)
      .select(col("event_type"), col("actual"), col("pred"))
      .withColumn("model", lit("theta"))
    maeTable(sn.unionByName(ar).unionByName(th))
  }

  /** Per-series, per-model MAE over (event_type, model, actual, pred)
    * holdout rows — |actual − pred| summed as an exact DECIMAL — with
    * the rank-1 (mae, model) `best` flag. */
  private def maeTable(preds: DataFrame): DataFrame = {
    val mae = preds
      .groupBy(col("event_type"), col("model"))
      .agg(
        (sum(abs(col("actual") - col("pred")).cast("decimal(20,4)"))
          .cast("double") / count(lit(1))).as("__m"),
        count(lit(1)).as("n_days"))
      .select(col("event_type"), col("model"),
        round(col("__m"), 4).as("mae"), col("n_days"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("mae").asc, col("model").asc)
    mae.withColumn("best", row_number().over(w) === 1)
      .orderBy(col("event_type"), col("model"))
  }

  /** Forecast ENSEMBLE — the classic free lunch beside
    * [[compareModels]]' champion pick: the equal-weight mean of
    * diverse models usually beats most members (Bates & Granger
    * 1969; every M-competition since), because member errors are
    * imperfectly correlated and averaging cancels them. Per series
    * and common holdout day, p_ens = (snaive + ar2 + theta)/3; the
    * published table scores all FOUR models on the SAME
    * intersection-of-holdouts day set (members can differ in which
    * days they can forecast — lag warm-ups — and comparing on
    * different day sets would be a category error), with the same
    * exact-DECIMAL MAE recipe and rank-1 best flag.
    *
    * Exactness: member preds are 4dp by their own contracts; the
    * mean-of-three rounds at 4dp SAFELY — a third of the 1e-4 grid
    * can never land on a 5e-5 half-boundary (k/3e4 = (2j+1)/2e4
    * forces k = 1.5(2j+1), not an integer), so round() agrees
    * cross-engine wherever the double tree does, and the tree is
    * written identically. Plan = the three members' plans + one
    * day-keyed join + one lazily-checkpointed frame feeding the four
    * scoring legs + one aggregate. */
  def ensembleForecast(s: SparkSession, d: String): DataFrame = {
    // shared checkpointed daily frame — see compareModels
    val daily = Reuse.shared(dailyOf(s, d))
    val sn = seasonalNaiveOn(daily, seasonDays, horizonDays)
      .select(col("event_type"), col("day"), col("actual"),
        col("pred").as("p_sn"))
    val ar = arForecastOn(daily, horizonDays)
      .select(col("event_type"), col("day"), col("pred").as("p_ar"))
    val th = thetaForecastOn(daily, horizonDays, levelAlpha)
      .select(col("event_type"), col("day"), col("pred").as("p_th"))
    val j = sn.join(ar, Seq("event_type", "day"))
      .join(th, Seq("event_type", "day"))
      .withColumn("p_ens",
        round((col("p_sn") + col("p_ar") + col("p_th")) / 3, 4))
      .transform(Reuse.shared) // holdout-sized; four scoring legs read it
    def leg(name: String, p: Column): DataFrame =
      j.select(col("event_type"), col("actual"), p.as("pred"),
        lit(name).as("model"))
    maeTable(leg("snaive", col("p_sn"))
      .unionByName(leg("ar2", col("p_ar")))
      .unionByName(leg("theta", col("p_th")))
      .unionByName(leg("ensemble", col("p_ens"))))
  }

  /** Forecast evaluation: per-series MAE and interval coverage —
    * the capability of TestingForecastResults.ipynb's quantile
    * plots, as a metric table. */
  def evaluate(s: SparkSession, d: String): DataFrame =
    seasonalNaive(s, d)
      .groupBy(col("event_type"))
      .agg(
        round(avg(abs(col("actual") - col("pred"))), 4).as("mae"),
        round(avg(when(col("actual") >= col("lo") &&
                       col("actual") <= col("hi"), 1.0d).otherwise(0.0d)), 4)
          .as("coverage"))
      .orderBy(col("event_type"))

  // -------------------------------------------------------------------
  // DuckDB oracle builders (the adaboostOracleSql discipline): the
  // three holdout member forecasters (seasonal-naive / AR(2) / theta)
  // are ONE shared CTE chain consumed by both forecast_compare and
  // forecast_ensemble, so an edit to a member's fit lands in both
  // oracles atomically instead of silently diverging. Every member's
  // final CTE carries (event_type, day, actual, pred) — the superset
  // both tails need.

  /** WITH RECURSIVE chain ending at `sn`, `arx`, `thx` — each
    * (event_type, day, actual, pred) on the 7-day holdout. */
  private def memberChainOracleSql: String =
    """WITH RECURSIVE daily AS (
      |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
      |         count(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |mx AS (SELECT max(day) AS mx FROM daily),
      |ls AS (SELECT daily.*, lag(cnt, 7) OVER
      |        (PARTITION BY event_type ORDER BY day) AS lagp
      |      FROM daily),
      |train_s AS (
      |  SELECT ls.event_type, cnt - lagp AS resid FROM ls, mx
      |  WHERE day <= mx - INTERVAL 7 DAY AND lagp IS NOT NULL),
      |qs AS (
      |  SELECT event_type, quantile_cont(resid, 0.5) AS q50
      |  FROM train_s GROUP BY event_type),
      |sn AS (
      |  SELECT ls.event_type, ls.day, cnt AS actual,
      |         round(lagp + q50, 4) AS pred
      |  FROM ls, mx, qs
      |  WHERE day > mx - INTERVAL 7 DAY AND qs.event_type = ls.event_type),
      |la AS (SELECT daily.*,
      |        lag(cnt, 1) OVER (PARTITION BY event_type ORDER BY day) AS l1,
      |        lag(cnt, 2) OVER (PARTITION BY event_type ORDER BY day) AS l2
      |      FROM daily),
      |train_a AS (
      |  SELECT event_type, day, CAST(cnt AS DOUBLE) AS y,
      |         CAST(l1 AS DOUBLE) AS x1, CAST(l2 AS DOUBLE) AS x2
      |  FROM la, mx WHERE day <= mx - INTERVAL 7 DAY AND l2 IS NOT NULL),
      |sums_a AS (
      |  SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
      |    sum(y) AS sy, sum(x1) AS s1, sum(x2) AS s2,
      |    sum(x1 * x1) AS s11, sum(x1 * x2) AS s12, sum(x2 * x2) AS s22,
      |    sum(x1 * y) AS s1y, sum(x2 * y) AS s2y,
      |    arg_max(y, day) AS y0, arg_max(x1, day) AS ym1,
      |    max(day) AS tday
      |  FROM train_a GROUP BY 1),
      |cf_a AS (
      |  SELECT *,
      |    n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + s2*(s1*s12 - s11*s2)
      |      AS det
      |  FROM sums_a),
      |c2_a AS (
      |  SELECT event_type, tday, y0, ym1,
      |    (sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y) + s2*(s1y*s12 - s11*s2y)) / det AS c0,
      |    (n*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2) + s2*(s1*s2y - s1y*s2)) / det AS a1,
      |    (n*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2) + sy*(s1*s12 - s11*s2)) / det AS a2
      |  FROM cf_a WHERE n >= 4 AND det <> 0),
      |f_a AS (
      |  SELECT event_type, tday, c0, a1, a2, 0 AS h, y0 AS p1, ym1 AS p2
      |  FROM c2_a
      |  UNION ALL
      |  SELECT event_type, tday, c0, a1, a2, h + 1,
      |         c0 + a1 * p1 + a2 * p2, p1
      |  FROM f_a WHERE h < 7),
      |arx AS (
      |  SELECT f_a.event_type, daily.day, cnt AS actual, round(p1, 4) AS pred
      |  FROM f_a JOIN daily ON daily.event_type = f_a.event_type
      |                AND daily.day = tday + INTERVAL 1 DAY * h
      |  WHERE h >= 1),
      |train_t AS (
      |  SELECT event_type, day, CAST(cnt AS DOUBLE) AS y,
      |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY day) - 1
      |         AS DOUBLE) AS t
      |  FROM daily, mx WHERE day <= mx - INTERVAL 7 DAY),
      |sums_t AS (
      |  SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
      |    sum(t) AS st, sum(y) AS sy, sum(t * t) AS stt, sum(t * y) AS sty,
      |    max(day) AS tday
      |  FROM train_t GROUP BY 1),
      |bb_t AS (
      |  SELECT event_type, n, tday, st, sy,
      |    (n * sty - st * sy) / (n * stt - st * st) AS b
      |  FROM sums_t WHERE n >= 2 AND (n * stt - st * st) <> 0),
      |ab_t AS (SELECT event_type, n, tday, b, (sy - b * st) / n AS a
      |         FROM bb_t),
      |z_t AS (
      |  SELECT tr.event_type, tr.t, 2 * tr.y - (ab_t.a + ab_t.b * tr.t) AS z,
      |         ab_t.a, ab_t.b, ab_t.n, ab_t.tday
      |  FROM train_t tr JOIN ab_t ON tr.event_type = ab_t.event_type),
      |ses_t AS (
      |  SELECT event_type, t, z AS e, a, b, n, tday FROM z_t WHERE t = 0
      |  UNION ALL
      |  SELECT z_t.event_type, z_t.t, 0.3 * z_t.z + (1 - 0.3) * ses_t.e,
      |         z_t.a, z_t.b, z_t.n, z_t.tday
      |  FROM z_t JOIN ses_t ON z_t.event_type = ses_t.event_type
      |                     AND z_t.t = ses_t.t + 1),
      |fin_t AS (SELECT * FROM ses_t WHERE t = n - 1),
      |f_t AS (SELECT event_type, tday, a, b, n, e,
      |               unnest(range(1, 8)) AS h
      |        FROM fin_t),
      |thx AS (
      |  SELECT p.event_type, p.day, d.cnt AS actual, p.pred
      |  FROM (SELECT event_type, tday + INTERVAL 1 DAY * h AS day,
      |          round(0.5 * (a + b * (n - 1 + h)) + 0.5 * e, 4) AS pred
      |        FROM f_t) p
      |  JOIN daily d ON d.event_type = p.event_type AND d.day = p.day)"""
      .stripMargin

  /** Shared MAE/best tail over an `allp(event_type, actual, pred,
    * model)` CTE — exact DECIMAL(20,4) sums divided once in double. */
  private def maeTailOracleSql: String =
    """mae AS (
      |  SELECT event_type, model,
      |    round(CAST(sum(CAST(abs(actual - pred) AS DECIMAL(20,4)))
      |          AS DOUBLE) / count(*), 4) AS mae,
      |    count(*) AS n_days
      |  FROM allp GROUP BY 1, 2)
      |SELECT event_type, model, mae, n_days,
      |  row_number() OVER (PARTITION BY event_type ORDER BY mae, model) = 1
      |    AS best
      |FROM mae ORDER BY event_type, model""".stripMargin

  /** Oracle for [[compareModels]]: the three members stacked. */
  private[graft] def compareOracleSql: String =
    memberChainOracleSql + ",\n" +
      """allp AS (
        |  SELECT event_type, actual, pred, 'snaive' AS model FROM sn
        |  UNION ALL SELECT event_type, actual, pred, 'ar2' FROM arx
        |  UNION ALL SELECT event_type, actual, pred, 'theta' FROM thx),
        |""".stripMargin + maeTailOracleSql

  /** Oracle for [[ensembleForecast]]: the members day-joined and the
    * mean-of-three scored beside them on the common holdout. */
  private[graft] def ensembleOracleSql: String =
    memberChainOracleSql + ",\n" +
      """joined AS (
        |  SELECT sn.event_type, sn.day, sn.actual,
        |    sn.pred AS p_sn, arx.pred AS p_ar, thx.pred AS p_th,
        |    round((sn.pred + arx.pred + thx.pred) / 3, 4) AS p_ens
        |  FROM sn
        |  JOIN arx ON arx.event_type = sn.event_type AND arx.day = sn.day
        |  JOIN thx ON thx.event_type = sn.event_type AND thx.day = sn.day),
        |allp AS (
        |  SELECT event_type, actual, p_sn AS pred, 'snaive' AS model
        |    FROM joined
        |  UNION ALL SELECT event_type, actual, p_ar, 'ar2' FROM joined
        |  UNION ALL SELECT event_type, actual, p_th, 'theta' FROM joined
        |  UNION ALL SELECT event_type, actual, p_ens, 'ensemble'
        |    FROM joined),
        |""".stripMargin + maeTailOracleSql
}
