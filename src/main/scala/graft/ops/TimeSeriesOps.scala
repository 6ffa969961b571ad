package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Reuse

/** Time-series feature engineering — the reference's resample /
  * pivot / split pipeline (GluePySparkMLFeatureEngineering.ipynb
  * cells 10-20), re-expressed fully distributed: the reference pulls
  * min/max epoch to the driver and builds a `spark.range` reference
  * frame; here the spine comes from `sequence()` + `explode` inside
  * the plan, so the same code runs with millions of series and no
  * driver round-trip.
  */
object TimeSeriesOps {
  import graft.streaming.Versions.{epochs, retainedSql}

  /** Daily gap-filled resample of orders counts (reference cell 10:
    * epoch-truncate → reference range → left join → zero-fill). */
  def resampleDaily(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val spine = daily
      .agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"), expr("interval 1 day"))).as("day"))
    spine.join(daily, Seq("day"), "left")
      .select(col("day"), coalesce(col("cnt"), lit(0L)).as("cnt"))
      .orderBy(col("day"))
  }

  /** Per-day latency-band series — the SLO dashboard query (p50/p90/
    * p99/max per day): one exact-percentile aggregation keyed on the
    * day (map-side partial buffers, one exchange — the q_percentiles
    * plan shape with the calendar as the group key, so output is
    * calendar-sized and the per-group distinct-value buffer is
    * day-bounded). The percentile definition (sort, p·(n−1) index,
    * linear interpolation) is shared with DuckDB's quantile_cont;
    * outputs round to 4dp. At 100 TB the same entry runs with
    * percentile_approx — the declared q_percentiles_approx trade. */
  def dailyPercentiles(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"),
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.9)"), 4).as("p90"),
        round(expr("percentile(value, 0.99)"), 4).as("p99"),
        round(max(col("value")), 4).as("max_value"))
      .orderBy(col("day"))

  /** The sketch-vs-exact verdict both checked faces below share: GK
    * guarantees RANK error (|rank(sketch) − p·n| ≤ n/accuracy), and
    * the sketch returns a data ELEMENT while the exact quantile
    * interpolates — so a VALUE bracket (exact quantiles at p ± δ)
    * breaks whenever one inter-element gap exceeds the δ rank window
    * (daily groups are ~33 values at sf0.001; the MAD face's series
    * are CALENDAR-bounded at ~30 days at EVERY scale, caught by the
    * small-SF sweep). The rank-count verdict is the guarantee
    * itself, discreteness- and tie-safe at any n: the sketch
    * element's true rank interval is [count(< a)+1, count(≤ a)], and
    * it must intersect [p·n − (δ·n + 1), p·n + (δ·n + 1)] — the +1
    * is the element discreteness, δ = 0.005 ≫ the 1e-4 GK bound. */
  private def rankVerdict(lt: Column, le: Column, n: Column, p: Double,
                          delta: Double): Column = {
    val slack = lit(delta) * n + lit(1.0)
    (lt.cast("double") <= lit(p) * n + slack) &&
      (le.cast("double") >= lit(p) * n - slack)
  }

  /** The GK sketch accuracy and the rank slack δ of both checked
    * percentile faces. */
  private val accuracy = 10000
  private val rankSlack = 0.005

  /** Driver-checkable SCALE face of [[dailyPercentiles]] (the
    * declared q_percentiles_approx trade, applied to the daily SLO
    * family): the GK sketch (percentile_approx — fixed-size mergeable
    * buffers, the 100 TB aggregate) computed BESIDE the exact
    * interpolated percentiles, collapsed to the exact values plus
    * IN-PLAN [[rankVerdict]]s. Two passes: the day-keyed aggregate
    * fixes each sketch value, then the events rejoin the
    * day-cardinality result (broadcast) so ONE conditional-count
    * aggregate establishes each sketch's true rank interval. The
    * oracle replays the exact side with literal TRUE flags — a
    * sketch outside its rank guarantee breaks the cross-engine hash,
    * promoting the approx tier from rows-only to a real correctness
    * gate ([[Analytics.percentilesChecked]]'s contract, rank-form). */
  def dailyPercentilesChecked(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(date_trunc("day", col("ts")).as("day"), col("value"))
    val agg = ev.groupBy(col("day"))
      .agg(count(lit(1)).as("n"),
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.9)"), 4).as("p90"),
        round(expr("percentile(value, 0.99)"), 4).as("p99"),
        round(max(col("value")), 4).as("max_value"),
        expr(s"percentile_approx(value, 0.5, $accuracy)").as("__a50"),
        expr(s"percentile_approx(value, 0.9, $accuracy)").as("__a90"),
        expr(s"percentile_approx(value, 0.99, $accuracy)").as("__a99"))
    def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
    ev.join(broadcast(agg), "day")
      .groupBy(col("day"), col("n"), col("p50"), col("p90"), col("p99"),
        col("max_value"), col("__a50"), col("__a90"), col("__a99"))
      .agg(
        cnt(col("value") < col("__a50")).as("__lt50"),
        cnt(col("value") <= col("__a50")).as("__le50"),
        cnt(col("value") < col("__a90")).as("__lt90"),
        cnt(col("value") <= col("__a90")).as("__le90"),
        cnt(col("value") < col("__a99")).as("__lt99"),
        cnt(col("value") <= col("__a99")).as("__le99"))
      .select(col("day"), col("n"), col("p50"), col("p90"), col("p99"),
        col("max_value"),
        rankVerdict(col("__lt50"), col("__le50"), col("n"), 0.5, rankSlack)
          .as("p50_within_tol"),
        rankVerdict(col("__lt90"), col("__le90"), col("n"), 0.9, rankSlack)
          .as("p90_within_tol"),
        rankVerdict(col("__lt99"), col("__le99"), col("n"), 0.99, rankSlack)
          .as("p99_within_tol"))
      .orderBy(col("day"))
  }

  /** Linear gap-fill interpolation over a daily per-series frame —
    * the resample's missing-data companion (zero-fill is right for
    * counts; a sensor/price level wants the line between its
    * neighbors). Fully distributed: each series' day spine is built
    * inside the plan (sequence + explode, bounds from a per-key
    * aggregate), and the surrounding non-null neighbors come from
    * ONE ordered window per key evaluated with two frames
    * (last-before / first-after, ignoreNulls) — a single shuffle on
    * the series key, no self-join, any key cardinality. Spine ends
    * are the series' own min/max observed days, so every gap is
    * interior and the interpolation is total. Emits an
    * `interpolated` audit flag per row. */
  def interpolateOn(df: DataFrame, key: String, day: String,
                    value: String): DataFrame = {
    val spine = df.groupBy(col(key))
      .agg(min(col(day)).as("lo"), max(col(day)).as("hi"))
      .select(col(key),
        explode(sequence(col("lo"), col("hi"), expr("interval 1 day"))).as(day))
    val joined = spine.join(df, Seq(key, day), "left")
    val w = Window.partitionBy(col(key)).orderBy(col(day))
    val before = w.rowsBetween(Window.unboundedPreceding, -1)
    val after = w.rowsBetween(1, Window.unboundedFollowing)
    val pd = last(when(col(value).isNotNull, col(day)), ignoreNulls = true)
      .over(before)
    val pv = last(col(value), ignoreNulls = true).over(before)
    val nd = first(when(col(value).isNotNull, col(day)), ignoreNulls = true)
      .over(after)
    val nv = first(col(value), ignoreNulls = true).over(after)
    // evaluation order pinned (pv + (nv-pv) * (d1/d2)) so the IEEE
    // result is bit-identical in the SQL oracle
    val frac = datediff(col(day), pd).cast("double") /
      datediff(nd, pd).cast("double")
    // interpolated values publish FLOOR-quantized to 4dp: floor of an
    // identical double is engine-identical, while round() splits on
    // the rounding rule at a 4dp half-boundary (caught by the r11
    // sf0.001 sweep). Observed values pass through UNTOUCHED — a
    // floor re-quantization could step an already-4dp double down.
    val interp = floor((pv + (nv - pv) * frac) * lit(10000.0)) / 10000.0
    joined.select(col(key), col(day),
        coalesce(col(value), interp).as(value),
        col(value).isNull.as("interpolated"))
      .orderBy(col(key), col(day))
  }

  /** Wide day × type matrix with a combined column — mirrors the
    * notebook's pivot + `full_fhv = fhv + fhvhv` combine + drop
    * (GluePySparkMLFeatureEngineering cells 14, 40): here
    * browse = click + view. */
  def pivotWide(s: SparkSession, d: String): DataFrame =
    Analytics.pivotPerDay(s, d)
      .withColumn("browse", col("click") + col("view"))
      .select(col("day"), col("error"), col("purchase"), col("signup"), col("browse"))
      .orderBy(col("day"))

  /** Time-based train/test split: last `testDays` days are 'test'
    * (reference cell 20: end_training = index[-n_weeks*14]). The max
    * bound joins in as a broadcast single-row frame. */
  def trainTestSplit(s: SparkSession, d: String, testDays: Int = 14): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val mx = daily.agg(max(col("day")).as("mx"))
    daily.crossJoin(broadcast(mx))
      .select(col("day"), col("cnt"),
        when(col("day") > col("mx") - expr(s"interval $testDays day"), "test")
          .otherwise("train").as("split"))
      .orderBy(col("day"))
  }

  /** As-of join: enrich every left row with the nearest right row
    * (per `key`, by `ts`) at or before the left timestamp
    * (`direction = "backward"`, the default) or at or after it
    * (`"forward"`) — the trade→quote / event→dimension-state
    * primitive Spark has no native operator for. Implemented as a
    * tagged union + ONE ordered window per key: a single shuffle on
    * the key, no range-condition row explosion, scales to any key
    * cardinality. Right rows sort before left rows at equal
    * timestamps, so a right row exactly at the left ts is visible
    * (ASOF's inclusive match). `toleranceSec` bounds staleness: a
    * match farther than that from the left timestamp nulls out, the
    * same contract as pandas merge_asof's tolerance. For
    * deterministic results the right side should be unique per
    * (key, ts) — pre-aggregate if it isn't. */
  def asofJoin(left: DataFrame, right: DataFrame,
               key: String, ts: String,
               direction: String = "backward",
               toleranceSec: Option[Long] = None): DataFrame = {
    require(direction == "backward" || direction == "forward",
      s"asofJoin: direction must be backward|forward, got $direction")
    val rPayload = right.columns.filterNot(c => c == key || c == ts).toSeq
    val lCols = left.columns.toSeq
    // a right payload name already present on the left would emit two
    // identically-named output columns; a left column matching an
    // internal tag would corrupt the union — fail loud instead
    val clash = rPayload.intersect(lCols)
    require(clash.isEmpty,
      s"asofJoin: right payload column(s) ${clash.mkString(", ")} collide " +
        "with left columns — rename one side before joining")
    val tagged = lCols.filter(c => c == "__is_left" || c.startsWith("__r"))
    require(tagged.isEmpty,
      s"asofJoin: left column(s) ${tagged.mkString(", ")} collide with " +
        "internal tag columns (__is_left, __r)")
    // The matched right row travels as ONE struct (payloads + its own
    // ts for the tolerance predicate): filling per-column with
    // ignoreNulls would let a NULL payload value fall through to an
    // OLDER right row than the one the timestamp came from — the
    // match must be atomic. One struct also means one window pass
    // instead of one per payload column.
    val carried = rPayload :+ ts
    val rStructType = org.apache.spark.sql.types.StructType(
      carried.map(c => right.schema(c)))
    val lU = left.select(
      lCols.map(col) :+ lit(null).cast(rStructType).as("__r") :+
        lit(1).as("__is_left"): _*)
    val rU = right.select(
      lCols.map(c =>
        if (c == key || c == ts) col(c)
        else lit(null).cast(left.schema(c).dataType).as(c)) :+
        struct(carried.map(col): _*).as("__r") :+
        lit(0).as("__is_left"): _*)
    // forward = the same traversal over reversed time; at equal ts the
    // right row still sorts first, keeping the inclusive match
    val ordered =
      if (direction == "backward") Window.partitionBy(col(key))
        .orderBy(col(ts), col("__is_left"))
      else Window.partitionBy(col(key))
        .orderBy(col(ts).desc, col("__is_left"))
    val w = ordered.rowsBetween(Window.unboundedPreceding, 0)
    val filled = lU.unionByName(rU)
      .withColumn("__r", last(col("__r"), ignoreNulls = true).over(w))
    val matchTs = col("__r").getField(ts)
    val fresh = toleranceSec match {
      case None => lit(true)
      case Some(t) =>
        val age =
          if (direction == "backward") unix_micros(col(ts)) - unix_micros(matchTs)
          else unix_micros(matchTs) - unix_micros(col(ts))
        matchTs.isNotNull && age <= t * 1000000L
    }
    filled.filter(col("__is_left") === 1)
      .select(lCols.map(col) ++
        rPayload.map(c => when(fresh, col("__r").getField(c))
          .otherwise(lit(null)).as(c)): _*)
  }

  /** Rolling-window features per series: the 7-day trailing mean and
    * sample stddev of daily event counts — the smoothing features a
    * forecasting pipeline derives before training. One shuffle on the
    * series key; the rolling frame is rows-based over the gapless
    * daily aggregate. */
  def rollingFeatures(s: SparkSession, d: String): DataFrame = {
    val windowDays = 7
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-(windowDays - 1), 0)
    daily
      .withColumn("roll_mean", round(avg(col("cnt")).over(w), 4))
      .withColumn("roll_std",
        round(coalesce(stddev_samp(col("cnt")).over(w), lit(0.0)), 4))
      .orderBy(col("event_type"), col("day"))
  }

  /** The anomaly monitor's trailing window (days) and |z| threshold,
    * read by [[anomalyZScore]] and both anomaly oracles. */
  private val anomalyWindowDays = 7
  private val anomalyThreshold = 2.0

  /** Per-series anomaly detection: z-score of each day's count
    * against its TRAILING window (the only window an online monitor
    * has — a centered window would peek at the future). Days whose
    * window isn't full yet emit no judgment (z needs a stable std),
    * and a zero-variance window yields z = 0 rather than a NaN
    * division. One shuffle on the series key, same partitioning as
    * every other per-series feature — at scale this composes with
    * them into a single window stage. */
  def anomalyZScore(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-(anomalyWindowDays - 1), 0)
    val wN = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val z = when(col("__sd") === 0, lit(0.0))
      .otherwise((col("cnt") - col("__mean")) / col("__sd"))
    daily
      .withColumn("__n", row_number().over(wN))
      .withColumn("__mean", avg(col("cnt")).over(w))
      .withColumn("__sd", coalesce(stddev_samp(col("cnt")).over(w), lit(0.0)))
      .filter(col("__n") >= anomalyWindowDays)
      .select(col("event_type"), col("day"), col("cnt"),
        round(z, 4).as("z"),
        (abs(z) >= anomalyThreshold).as("is_anomaly"))
      .orderBy(col("event_type"), col("day"))
  }

  /** POINT-IN-TIME join — the feature-store correctness primitive:
    * each fact row joins the dimension VERSION that was valid at the
    * fact's own timestamp (`valid_from ≤ ts < valid_to`, open-ended
    * current version matches everything after its start). Training
    * data built with a plain dim join leaks the future (every fact
    * sees today's attributes); the PIT join is what makes offline
    * features match what was known online.
    *
    * Plan shape: the version key(s) stay equi-join predicates, so
    * Catalyst plans a keyed join (shuffle or broadcast per AQE) with
    * the interval test as a join filter — per-key version lists are
    * short, so the filter scans a handful of rows per match; never a
    * cartesian. SCD2 intervals partition time per key, so each fact
    * matches AT MOST one version; facts before the first version
    * null-fill (left join), which is the honest answer, not a row
    * drop. */
  def pitJoin(facts: DataFrame, dim: DataFrame,
              keys: Seq[String]): DataFrame = {
    val factTs = "ts"
    val from = "valid_from"
    val to = "valid_to"
    val f = facts.as("f")
    val dm = dim.as("d")
    val cond = keys.map(k => col(s"f.$k") === col(s"d.$k")).reduce(_ && _) &&
      col(s"f.$factTs") >= col(s"d.$from") &&
      (col(s"d.$to").isNull || col(s"f.$factTs") < col(s"d.$to"))
    val dimCols = dim.columns.filterNot(keys.contains)
    f.join(dm, cond, "left")
      .select(facts.columns.map(c => col(s"f.$c")) ++
        dimCols.map(c => col(s"d.$c")): _*)
  }

  /** The smoothing factor of [[ewma]] and both EWMA oracles. */
  private val ewmaAlpha = 0.3

  /** Exponentially weighted moving average per series — the smoothing
    * that weights recent observations most (the single-parameter
    * sibling of [[graft.ops.Forecast.holtWinters]]): e₁ = y₁,
    * eₜ = α·yₜ + (1−α)·eₜ₋₁. The recursion is inherently sequential
    * WITHIN a series, so it runs as a sorted per-series fold
    * (`flatMapGroups`, the Holt-Winters pattern) — one shuffle on the
    * series key, and at 100 TB parallelism comes from series count
    * (each group is one time series of bounded length), not from
    * splitting a series.
    *
    * Cross-engine determinism: the oracle replays the SAME recursion
    * in a DuckDB recursive CTE with the arithmetic written
    * identically — `(1 - 0.3)` kept as a subtraction, counts promoted
    * long→double (exact). The final 4dp quantization is the explicit
    * `floor(x·10⁴ + 0.5)/10⁴` on BOTH sides, NOT each engine's
    * round(): the recursion lands values exactly on rounding
    * boundaries where Spark's decimal-string HALF_UP and DuckDB's
    * float round disagree by one ulp — the explicit form is four IEEE
    * ops and bit-identical by construction. */
  def ewma(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("event_type"), col("day"), col("cnt"))
      .as[(String, java.sql.Timestamp, Long)]
    daily.groupByKey(_._1)
      .flatMapGroups { (k: String, it: Iterator[(String, java.sql.Timestamp, Long)]) =>
        val rows = it.toArray.sortBy(_._2.getTime)
        var e = 0.0
        rows.iterator.zipWithIndex.map { case ((_, day, y), i) =>
          e = if (i == 0) y.toDouble else ewmaAlpha * y + (1 - ewmaAlpha) * e
          (k, day, y, e)
        }
      }
      .toDF("event_type", "day", "cnt", "ewma")
      .select(col("event_type"), col("day"), col("cnt"),
        (floor(col("ewma") * lit(10000.0) + lit(0.5)) / lit(10000.0))
          .as("ewma"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Additive seasonal decomposition (STL-lite): y = trend + seasonal
    * + resid, per series. Trend is the centered `period`-row moving
    * average, emitted only where the full window exists (edges have
    * no honest centered mean); seasonal is the per-(series, phase)
    * mean of the detrended values, where phase = epoch-day mod
    * `period` — pure integer arithmetic, engine-portable, unlike
    * day-of-week functions whose 0/1 origin differs across engines;
    * resid is the remainder.
    *
    * Determinism at scale: the trend divides an EXACT long window sum
    * once; detrended values are quantized to DECIMAL(20,10) before
    * the seasonal mean so the aggregation is order-independent
    * (double partial sums would differ run to run at 1000 executors).
    * One shuffle on the series key — the same partitioning every
    * other per-series feature uses — plus a broadcast-sized phase
    * join back. */
  def seasonalDecompose(s: SparkSession, d: String,
                        period: Int = 7): DataFrame =
    seasonalDecomposeOn(
      Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt")),
      period)

  /** The weekly season of the strength and Fourier faces. */
  private val seasonPeriod = 7

  /** Per-series trend/seasonality STRENGTH (the STL feature pair of
    * Wang-Smith-Hyndman / the tsfeatures literature): F_seasonal =
    * max(0, 1 − var(resid)/var(seasonal+resid)) and F_trend likewise
    * against (trend+resid) — the one-row-per-series summary that
    * ROUTES model choice (strong seasonality → the lag-period family,
    * strong trend → theta/AR; `forecast_compare` then confirms on the
    * holdout). Computed from [[seasonalDecompose]]'s own 4dp
    * components, so the feature is consistent with the decomposition
    * it summarizes: each term re-quantizes to DECIMAL(20,4), moment
    * sums are exact (aggregation-order independent), variances derive
    * in double once (the q_ttest recipe), zero-variance denominators
    * define strength 0. Cost = the decompose plan + one series-key
    * aggregate. */
  def seasonalStrength(s: SparkSession, d: String): DataFrame =
    seasonalStrengthOn(seasonalDecompose(s, d, seasonPeriod))

  /** Same over any (event_type, …, trend, seasonal, resid) frame. */
  def seasonalStrengthOn(dec: DataFrame): DataFrame = {
    val r = col("resid").cast("decimal(20,4)")
    val sr = (col("seasonal") + col("resid")).cast("decimal(20,4)")
    val tr = (col("trend") + col("resid")).cast("decimal(20,4)")
    val agg = dec.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      sum(r).as("s_r"), sum(r * r).as("ss_r"),
      sum(sr).as("s_sr"), sum(sr * sr).as("ss_sr"),
      sum(tr).as("s_tr"), sum(tr * tr).as("ss_tr"))
    def variance(ss: Column, s0: Column): Column =
      (ss.cast("double") -
        s0.cast("double") * s0.cast("double") / col("n")) / (col("n") - 1)
    val vr = variance(col("ss_r"), col("s_r"))
    val vsr = variance(col("ss_sr"), col("s_sr"))
    val vtr = variance(col("ss_tr"), col("s_tr"))
    agg.filter(col("n") >= 2)
      .select(col("event_type"), col("n").as("n_days"),
        round(greatest(lit(0.0),
          when(vsr === 0.0, lit(0.0)).otherwise(lit(1.0) - vr / vsr)), 4)
          .as("seasonal_strength"),
        round(greatest(lit(0.0),
          when(vtr === 0.0, lit(0.0)).otherwise(lit(1.0) - vr / vtr)), 4)
          .as("trend_strength"))
      .orderBy(col("event_type"))
  }

  /** Same decomposition over any (event_type, day, cnt) daily frame. */
  def seasonalDecomposeOn(daily: DataFrame, period: Int): DataFrame = {
    require(period >= 3 && period % 2 == 1,
      s"period must be odd >= 3 for a centered window: $period")
    val half = period / 2
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-half, half)
    val detrended = daily
      .withColumn("__wn", count(lit(1)).over(w))
      .withColumn("__trend", sum(col("cnt")).over(w).cast("double") / period)
      .filter(col("__wn") === period)
      .withColumn("__pos", expr(s"datediff(day, DATE '1970-01-01') % $period"))
      .withColumn("__det", (col("cnt") - col("__trend")).cast("decimal(20,10)"))
    val seasonal = detrended.groupBy(col("event_type"), col("__pos"))
      .agg((sum(col("__det")).cast("double") / count(lit(1))).as("__seasonal"))
    detrended.join(broadcast(seasonal), Seq("event_type", "__pos"))
      .select(col("event_type"), col("day"), col("cnt"),
        round(col("__trend"), 4).as("trend"),
        round(col("__seasonal"), 4).as("seasonal"),
        round(col("cnt") - col("__trend") - col("__seasonal"), 4).as("resid"))
      .orderBy(col("event_type"), col("day"))
  }

  /** The changepoint scan's window (days) and minimum score, read by
    * [[changepoints]], both changepoint oracles and the versioned
    * changepoint audit. */
  private[graft] val changepointWindow = 7
  private[graft] val changepointMinScore = 3.0

  /** Per-series CHANGEPOINT detection — the offline two-window scan:
    * at each day, compare the mean of the `w` days strictly BEFORE
    * against the mean of the `w` days FROM here (the candidate new
    * regime), normalized by the pre-window's spread. A genuine level
    * shift scores |shift|/sd ≫ 1 exactly once — at the boundary —
    * where single-point detectors ([[anomalyZScore]]) fire on spikes
    * but stay silent on sustained shifts (the mean moves WITH the
    * shift). Both windows must be full (edges have no honest
    * two-sample compare); zero-variance pre-windows pin the score by
    * the raw shift so a flat series that jumps still flags. Two rows
    * frames on ONE (series, day) shuffle — composes with the other
    * per-series features into a single window stage. */
  def changepoints(s: SparkSession, d: String): DataFrame =
    changepointsOn(
      Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt")),
      changepointWindow, changepointMinScore)

  /** Same scan over any (event_type, day, cnt) daily frame. */
  def changepointsOn(daily: DataFrame, w: Int,
                     minScore: Double): DataFrame = {
    require(w >= 2, s"window must be >= 2: $w")
    val ord = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val wPre = ord.rowsBetween(-w, -1)
    val wPost = ord.rowsBetween(0, w - 1)
    // sd = 0 (flat pre-window): an exactly-repeating series has no
    // noise scale, so ANY nonzero shift is infinitely significant —
    // score by the raw shift instead of 0/0
    val score = when(col("__sd") === 0, col("__shift"))
      .otherwise(col("__shift") / col("__sd"))
    daily
      .withColumn("__npre", count(lit(1)).over(wPre))
      .withColumn("__npost", count(lit(1)).over(wPost))
      .withColumn("__pre", avg(col("cnt")).over(wPre))
      .withColumn("__post", avg(col("cnt")).over(wPost))
      .withColumn("__sd", coalesce(stddev_samp(col("cnt")).over(wPre), lit(0.0)))
      .withColumn("__shift", col("__post") - col("__pre"))
      .filter(col("__npre") === w && col("__npost") === w)
      .select(col("event_type"), col("day"), col("cnt"),
        round(col("__pre"), 4).as("pre_mean"),
        round(col("__post"), 4).as("post_mean"),
        round(score, 4).as("score"),
        (abs(score) >= minScore).as("is_change"))
      .orderBy(col("event_type"), col("day"))
  }

  /** The daily-count + trailing-window CTE chain both anomaly faces
    * share — ONE text for the plain entry and the versioned audit,
    * so the two oracles cannot drift (the dtwOracleSql convention). */
  private def anomalyCoreSql(windowDays: Int): String =
    s"""WITH daily AS (
       |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       |         count(*) AS cnt
       |  FROM events GROUP BY 1, 2),
       |f AS (
       |  SELECT event_type, day, cnt,
       |    row_number() OVER wn AS n,
       |    avg(cnt) OVER w AS mean,
       |    coalesce(stddev_samp(cnt) OVER w, 0.0) AS sd
       |  FROM daily
       |  WINDOW wn AS (PARTITION BY event_type ORDER BY day),
       |         w AS (PARTITION BY event_type ORDER BY day
       |               ROWS BETWEEN ${windowDays - 1} PRECEDING
       |                 AND CURRENT ROW))""".stripMargin

  /** DuckDB replica of [[anomalyZScore]] (the ts_anomaly oracle):
    * trailing-window z-score, shared stddev_samp parity, the
    * zero-variance window pins z = 0, warm-up days emit nothing. */
  private[graft] def anomalyOracleSql: String =
    anomalyCoreSql(anomalyWindowDays) +
      s"""
         |SELECT event_type, day, cnt,
         |  round(CASE WHEN sd = 0 THEN 0.0 ELSE (cnt - mean) / sd END, 4)
         |    AS z,
         |  (abs(CASE WHEN sd = 0 THEN 0.0 ELSE (cnt - mean) / sd END)
         |    >= $anomalyThreshold) AS is_anomaly
         |FROM f WHERE n >= $anomalyWindowDays
         |ORDER BY event_type, day""".stripMargin

  /** DuckDB replica of the versioned anomaly-monitor audit
    * ([[graft.streaming.EventStreams.anomalyVersionsBatch]]) — the
    * cdc_snapshot_versions pattern: the day timeline splits into
    * `epochs` contiguous chunks (arrival order IS day order —
    * finalized days arrive monotonically), and version k holds every
    * row the monitor has emitted once all days of epochs ≤ k are in:
    * the trailing window scores a day the moment it
    * arrives, so version k = the batch rows whose day sits in epochs
    * ≤ k — re-derived here through the SAME window chain. */
  private[graft] def anomalyVersionsOracleSql: String =
    anomalyCoreSql(anomalyWindowDays) +
      s""",
         |ep AS (SELECT day,
         |    ((row_number() OVER (ORDER BY day) - 1) * $epochs)
         |      // (count(*) OVER ()) AS epoch
         |  FROM (SELECT DISTINCT day FROM daily)),
         |v AS (SELECT unnest($retainedSql)
         |        AS version)
         |SELECT CAST(version AS BIGINT) AS version, event_type, day, cnt,
         |  round(CASE WHEN sd = 0 THEN 0.0 ELSE (cnt - mean) / sd END, 4)
         |    AS z,
         |  (abs(CASE WHEN sd = 0 THEN 0.0 ELSE (cnt - mean) / sd END)
         |    >= $anomalyThreshold) AS is_anomaly
         |FROM f JOIN ep USING (day) CROSS JOIN v
         |WHERE n >= $anomalyWindowDays AND epoch <= version
         |ORDER BY version, event_type, day""".stripMargin

  /** The shared changepoint CTE chain (through the filtered `g`) —
    * one text for ts_changepoint and the versioned audit. */
  private def changepointCoreSql(w: Int): String =
    s"""WITH daily AS (
       |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       |         count(*) AS cnt
       |  FROM events GROUP BY 1, 2),
       |f AS (
       |  SELECT event_type, day, cnt,
       |    count(*) OVER pre AS npre, count(*) OVER post AS npost,
       |    avg(cnt) OVER pre AS pre_mean, avg(cnt) OVER post AS post_mean,
       |    coalesce(stddev_samp(cnt) OVER pre, 0.0) AS sd
       |  FROM daily
       |  WINDOW pre AS (PARTITION BY event_type ORDER BY day
       |                 ROWS BETWEEN $w PRECEDING AND 1 PRECEDING),
       |         post AS (PARTITION BY event_type ORDER BY day
       |                  ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING)),
       |g AS (
       |  SELECT event_type, day, cnt, pre_mean, post_mean,
       |    CASE WHEN sd = 0 THEN post_mean - pre_mean
       |         ELSE (post_mean - pre_mean) / sd END AS score
       |  FROM f WHERE npre = $w AND npost = $w)""".stripMargin

  /** DuckDB replica of [[changepoints]] (the ts_changepoint oracle). */
  private[graft] def changepointOracleSql: String =
    changepointCoreSql(changepointWindow) +
      s"""
         |SELECT event_type, day, cnt,
         |  round(pre_mean, 4) AS pre_mean, round(post_mean, 4) AS post_mean,
         |  round(score, 4) AS score, (abs(score) >= $changepointMinScore) AS is_change
         |FROM g ORDER BY event_type, day""".stripMargin

  /** DuckDB replica of the versioned changepoint-monitor audit
    * ([[graft.streaming.EventStreams.changepointVersionsBatch]]): the
    * statistic is FORWARD-looking, so day D's row is emitted only
    * when day at per-series rank rank(D)+w−1 — its TRIGGER day —
    * has finalized; version k therefore holds the batch rows whose
    * trigger day sits in epochs ≤ k, the inherent w−1-day emission
    * lag made an oracled value instead of a disclaimer. */
  private[graft] def changepointVersionsOracleSql: String =
    changepointCoreSql(changepointWindow) +
      s""",
         |trig AS (SELECT event_type, day,
         |    lead(day, ${changepointWindow - 1}) OVER (PARTITION BY event_type
         |      ORDER BY day) AS trigger_day
         |  FROM daily),
         |ep AS (SELECT day AS eday,
         |    ((row_number() OVER (ORDER BY day) - 1) * $epochs)
         |      // (count(*) OVER ()) AS epoch
         |  FROM (SELECT DISTINCT day FROM daily)),
         |v AS (SELECT unnest($retainedSql)
         |        AS version)
         |SELECT CAST(version AS BIGINT) AS version, g.event_type, g.day,
         |  cnt, round(pre_mean, 4) AS pre_mean,
         |  round(post_mean, 4) AS post_mean,
         |  round(score, 4) AS score, (abs(score) >= $changepointMinScore) AS is_change
         |FROM g
         |JOIN trig ON trig.event_type = g.event_type AND trig.day = g.day
         |JOIN ep ON ep.eday = trig.trigger_day
         |CROSS JOIN v
         |WHERE epoch <= version
         |ORDER BY version, g.event_type, g.day""".stripMargin

  /** The EWMA recursion chain through per-day rows — shared by the
    * plain ts_ewma oracle and the versioned audit (one recursive-CTE
    * text, two tails). */
  private def ewmaCoreSql(alpha: Double): String =
    s"""WITH RECURSIVE daily AS (
       |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       |         count(*) AS cnt
       |  FROM events GROUP BY 1, 2),
       |ser AS (
       |  SELECT event_type, list(day ORDER BY day) AS ds,
       |         list(cnt ORDER BY day) AS ys, count(*) AS n
       |  FROM daily GROUP BY 1),
       |step AS (
       |  SELECT event_type, ds, ys, n, 1 AS t,
       |         [CAST(ys[1] AS DOUBLE)] AS es
       |  FROM ser
       |  UNION ALL
       |  SELECT event_type, ds, ys, n, t + 1,
       |         list_append(es, CAST($alpha AS DOUBLE) * ys[t+1] +
       |           (1.0 - CAST($alpha AS DOUBLE)) * es[t])
       |  FROM step WHERE t < n),
       |fin AS (SELECT * FROM step WHERE t = n),
       |rows_ AS (SELECT event_type, ds[i] AS day, ys[i] AS cnt,
       |    floor(es[i] * 10000.0 + 0.5) / 10000.0 AS ewma
       |  FROM fin, LATERAL (SELECT unnest(range(1, n + 1)) AS i))""".stripMargin

  /** DuckDB replica of [[ewma]] (the ts_ewma oracle): the identical
    * recursion in a recursive CTE, the shared explicit 4dp floor
    * quantization. */
  private[graft] def ewmaOracleSql: String =
    ewmaCoreSql(ewmaAlpha) +
      """
        |SELECT event_type, day, cnt, ewma
        |FROM rows_ ORDER BY event_type, day""".stripMargin

  /** DuckDB replica of the versioned EWMA-smoother audit
    * ([[graft.streaming.EventStreams.ewmaVersionsBatch]]): eₜ depends only
    * on days ≤ t and published values never revise, so version k =
    * the batch rows whose day sits in epochs ≤ k — the anomaly
    * audit's emission rule with the O(1)-state fold's values. */
  private[graft] def ewmaVersionsOracleSql: String =
    ewmaCoreSql(ewmaAlpha) +
      s""",
         |ep AS (SELECT day AS eday,
         |    ((row_number() OVER (ORDER BY day) - 1) * $epochs)
         |      // (count(*) OVER ()) AS epoch
         |  FROM (SELECT DISTINCT day FROM daily)),
         |v AS (SELECT unnest($retainedSql)
         |        AS version)
         |SELECT CAST(version AS BIGINT) AS version, event_type, r.day,
         |  cnt, ewma
         |FROM rows_ r JOIN ep ON ep.eday = r.day CROSS JOIN v
         |WHERE epoch <= version
         |ORDER BY version, event_type, r.day""".stripMargin

  /** The largest lag of [[acf]], [[pacf]] and the pacf oracle. */
  private val acfMaxLag = 7

  /** Per-series AUTOCORRELATION function at lags 1..`maxLag` — the
    * seasonality detector: a weekly series shows acf(7) ≫ acf(1..6),
    * which is how a pipeline CHOOSES the period it hands to
    * [[seasonalDecomposeOn]] or [[Forecast]] instead of assuming 7.
    * acf(l) = Σ(y_t−μ)(y_{t−l}−μ) / Σ(y_t−μ)², row-based lags over
    * the day order (standard sample ACF, denominator over the full
    * series).
    *
    * Determinism: μ divides one exact long sum; every product is
    * quantized to DECIMAL(20,10) before summing, so partial-agg order
    * can't move the 4th decimal — same discipline as the centroid and
    * decompose operators. One series-key shuffle for the lag window,
    * one for the #series×#lags aggregate. */
  def acf(s: SparkSession, d: String): DataFrame =
    acfOn(
      Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt")),
      acfMaxLag)

  /** Same over any (event_type, day, cnt) daily frame. */
  def acfOn(daily: DataFrame, maxLag: Int): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1: $maxLag")
    val mu = daily.groupBy(col("event_type"))
      .agg((sum(col("cnt")).cast("double") / count(lit(1))).as("mu"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val lagged = (1 to maxLag).foldLeft(daily) { (df, l) =>
      df.withColumn(s"__lag$l", lag(col("cnt"), l).over(w))
    }.join(broadcast(mu), "event_type")
    val dev = col("cnt") - col("mu")
    val pairs = lagged.select(col("event_type"), col("mu"), col("cnt"),
        posexplode(array((1 to maxLag).map(l => col(s"__lag$l")): _*))
          .as(Seq("__i", "__ylag")))
      .filter(col("__ylag").isNotNull)
      .withColumn("lag", col("__i") + 1)
    val num = pairs.groupBy(col("event_type"), col("lag"))
      .agg(sum((dev * (col("__ylag") - col("mu")))
        .cast("decimal(20,10)")).as("__num"))
    val den = lagged.groupBy(col("event_type"))
      .agg(sum((dev * dev).cast("decimal(20,10)")).as("__den"))
    num.join(broadcast(den), "event_type")
      .select(col("event_type"), col("lag"),
        round(col("__num").cast("double") / col("__den").cast("double"), 4)
          .as("acf"))
      .orderBy(col("event_type"), col("lag"))
  }

  /** Partial autocorrelation (Durbin-Levinson) — the Box-Jenkins AR
    * order selector the toolkit was missing: ACF says "lag k
    * correlates", PACF says "lag k correlates AFTER the shorter lags
    * are accounted for" — the cutoff lag is the p an AR(p) forecaster
    * (forecast_ar) should use. Inputs are [[acfOn]]'s ROUNDED 4dp
    * autocorrelations (already cross-engine-deterministic), so the
    * recursion runs on identical doubles in both engines; every
    * intermediate (φ_kk, the updated φ_kj row, the variance v_k)
    * FLOOR-quantizes to 1e-6 (the ml_logreg_gd contract — recursions
    * amplify boundary hits; floor of identical doubles can never
    * disagree), sums accumulate left-associatively in lag order, and
    * the output rounds at the SAME 6dp the state is quantized to
    * (grid-point recovery is exact in both engines; a coarser output
    * rounding would re-introduce half-boundary risk). Work: the acf
    * aggregate + a K²-step scalar recursion per series — series-count
    * parallel, calendar-bounded. */
  def pacf(s: SparkSession, d: String): DataFrame =
    pacfOn(Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt")), acfMaxLag)

  /** Same over any (event_type, day, cnt) daily frame. */
  def pacfOn(daily: DataFrame, maxLag: Int): DataFrame = {
    val ss = daily.sparkSession
    import ss.implicits._
    acfOn(daily, maxLag)
      .groupBy(col("event_type"))
      .agg(transform(array_sort(collect_list(struct(col("lag"), col("acf")))),
        x => x.getField("acf")).as("rs"))
      .as[(String, Seq[Double])]
      .flatMap { case (tp, rs) =>
        val ps = durbinLevinson(rs.toArray)
        ps.indices.map(i => (tp, i + 1, ps(i)))
      }
      .toDF("event_type", "lag", "pacf")
      .select(col("event_type"), col("lag"), round(col("pacf"), 6).as("pacf"))
      .orderBy(col("event_type"), col("lag"))
  }

  /** Floor-quantized Durbin-Levinson; `r` holds acf(1..K). */
  private[graft] def durbinLevinson(r: Array[Double]): Array[Double] = {
    def q(x: Double) = math.floor(x * 1e6) / 1e6
    val k0 = r.length
    val out = new Array[Double](k0)
    var prev = new Array[Double](k0 + 1) // φ_{k−1, j}
    var v = 0.0
    for (k <- 1 to k0) {
      val akk =
        if (k == 1) q(r(0))
        else if (v == 0.0) 0.0
        else {
          var acc = 0.0
          for (j <- 1 until k) acc = acc + prev(j) * r(k - j - 1)
          q((r(k - 1) - acc) / v)
        }
      val cur = new Array[Double](k0 + 1)
      cur(k) = akk
      for (j <- 1 until k) cur(j) = q(prev(j) - akk * prev(k - j))
      v = if (k == 1) q(1.0 - akk * akk) else q(v * (1.0 - akk * akk))
      out(k - 1) = akk
      prev = cur
    }
    out
  }

  /** The unrolled DuckDB replay of [[pacfOn]] over the events face —
    * built programmatically (the ml_logreg_gd posture) so recursion
    * depth and replay cannot drift apart. */
  private[graft] def pacfOracleSql: String = {
    val q = (e: String) => s"floor(($e) * 1e6) / 1e6"
    val sb = new StringBuilder
    sb ++= s"""WITH daily AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
      |         count(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |m AS (SELECT event_type, CAST(sum(cnt) AS DOUBLE) / count(*) AS mu
      |      FROM daily GROUP BY 1),
      |r0 AS (SELECT d.event_type, day, cnt, mu,
      |        row_number() OVER (PARTITION BY d.event_type ORDER BY day) AS rn
      |      FROM daily d JOIN m USING (event_type)),
      |p AS (SELECT a.event_type, k.lg, a.cnt, a.mu, b.cnt AS ylag
      |      FROM r0 a
      |      CROSS JOIN (SELECT unnest(range(1, ${acfMaxLag + 1})) AS lg) k
      |      JOIN r0 b ON b.event_type = a.event_type AND b.rn = a.rn - k.lg),
      |num AS (SELECT event_type, lg,
      |          sum(CAST((cnt - mu) * (ylag - mu) AS DECIMAL(20,10))) AS nm
      |        FROM p GROUP BY 1, 2),
      |den AS (SELECT event_type,
      |          sum(CAST((cnt - mu) * (cnt - mu) AS DECIMAL(20,10))) AS dn
      |        FROM r0 GROUP BY 1),
      |acf AS (SELECT num.event_type AS event_type, lg,
      |          round(CAST(nm AS DOUBLE) / CAST(dn AS DOUBLE), 4) AS acf
      |        FROM num JOIN den USING (event_type)),
      |rp AS (SELECT event_type,
      |""".stripMargin
    sb ++= (1 to acfMaxLag).map(k =>
      s"  max(CASE WHEN lg = $k THEN acf END) AS r$k").mkString(",\n")
    sb ++= "\n  FROM acf GROUP BY 1),\n"
    // s1: φ11 and v1. Every recursion CTE is MATERIALIZED: left to
    // its default, DuckDB INLINES the single-reference chain and the
    // nested φ expressions expand combinatorially in the PLANNER —
    // measured as an out-of-memory at ~100 GB on a 35-row result,
    // at every SF (it is planner memory, not data). Materialization
    // pins each step to its computed columns; values are identical.
    sb ++= s"s1 AS MATERIALIZED (SELECT *, ${q("r1")} AS p1_1,\n"
    sb ++= s"  ${q(s"1.0 - (${q("r1")}) * (${q("r1")})")} AS v1 FROM rp)"
    for (k <- 2 to acfMaxLag) {
      val acc = (1 until k).map(j => s"p${k - 1}_$j * r${k - j}")
        .mkString(" + ")
      sb ++= s",\ns${k}a AS MATERIALIZED (SELECT *, CASE WHEN v${k - 1} = 0 THEN 0.0\n"
      sb ++= s"  ELSE ${q(s"(r$k - ($acc)) / v${k - 1}")} END AS p${k}_$k\n"
      sb ++= s"  FROM s${k - 1}),\n"
      val cols = (1 until k).map(j =>
        s"  ${q(s"p${k - 1}_$j - p${k}_$k * p${k - 1}_${k - j}")} AS p${k}_$j")
      sb ++= s"s$k AS MATERIALIZED (SELECT *,\n"
      sb ++= (cols :+
        s"  ${q(s"v${k - 1} * (1.0 - p${k}_$k * p${k}_$k)")} AS v$k")
        .mkString(",\n")
      sb ++= s"\n  FROM s${k}a)"
    }
    sb ++= "\nSELECT event_type, CAST(lag AS INT) AS lag,\n"
    sb ++= "  round(pk, 6) AS pacf FROM (\n"
    sb ++= (1 to acfMaxLag).map(k =>
      s"  SELECT event_type, $k AS lag, p${k}_$k AS pk FROM s$acfMaxLag")
      .mkString("\n  UNION ALL\n")
    sb ++= ")\nWHERE pk IS NOT NULL ORDER BY event_type, lag"
    sb.toString
  }

  /** Cross-correlation between series — lead-lag discovery (does one
    * event type's activity lead another's by l days?), the
    * multi-series sibling of [[acfOn]]: for each ordered type pair
    * (a, b) and lag l, r_l = Σ(a_t−ā)(b_{t+l}−b̄) / √(Σ(a−ā)²·Σ(b−b̄)²)
    * with full-series means and denominators (the standard
    * normalization; the overlap-only variant renormalizes per lag —
    * same plan shape if ever needed). xcorr(a,b,0) is plain Pearson
    * correlation of the two series.
    *
    * Determinism and scale: deviations quantize to DECIMAL before
    * every sum (aggregation-order independent, the ts_acf contract);
    * the pair join is an EQUI-join on the shifted day index (b.dd =
    * a.dd + lag — Catalyst keys on the computed expression, never a
    * range scan), and the lag explode multiplies only the small daily
    * frame, not raw events. */
  def crossCorr(s: SparkSession, d: String): DataFrame = {
    val maxLag = 3
    crossCorrOn(Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("event_type"),
        datediff(col("day"), to_date(lit("2024-01-01"))).as("dd"),
        col("cnt")), maxLag)
  }

  /** Same over any (event_type, dd, cnt) day-indexed frame. */
  def crossCorrOn(daily: DataFrame, maxLag: Int): DataFrame = {
    // NOT checkpointed, deliberately (r16 A/B): materializing the
    // daily/centered frames measured slower (0.79 → 1.01 s) — the
    // re-derived subtrees are one cheap aggregate whose exchanges
    // AQE reuses; the barrier jobs cost more than the recompute.
    val mu = daily.groupBy(col("event_type"))
      .agg((sum(col("cnt")).cast("double") / count(lit(1))).as("mu"))
    val wm = daily.join(broadcast(mu), "event_type")
      .select(col("event_type"), col("dd"),
        (col("cnt") - col("mu")).as("dev"))
    val den = wm.groupBy(col("event_type"))
      .agg(sum((col("dev") * col("dev")).cast("decimal(20,10)")).as("den"))
    val aL = wm.select(col("event_type").as("ta"), col("dd"),
        col("dev").as("da"),
        explode(sequence(lit(0), lit(maxLag))).as("lag"))
    val b = wm.select(col("event_type").as("tb"), col("dd").as("dd_b"),
      col("dev").as("db"))
    val num = aL.join(b,
        col("dd_b") === col("dd") + col("lag") && col("ta") =!= col("tb"))
      .groupBy(col("ta"), col("tb"), col("lag"))
      .agg(sum((col("da") * col("db")).cast("decimal(20,10)")).as("num"))
    num
      .join(broadcast(den.select(col("event_type").as("ta"),
        col("den").as("dena"))), "ta")
      .join(broadcast(den.select(col("event_type").as("tb"),
        col("den").as("denb"))), "tb")
      .select(col("ta"), col("tb"), col("lag"),
        round(col("num").cast("double") /
          sqrt(col("dena").cast("double") * col("denb").cast("double")), 4)
          .as("xcorr"))
      .orderBy(col("ta"), col("tb"), col("lag"))
  }

  /** Lag/delta features per series: previous-day count, day-over-day
    * delta, and percent change — the residual features the reference's
    * seasonal-naive forecast builds on. Same single shuffle shape. */
  def lagFeatures(s: SparkSession, d: String): DataFrame = {
    val lag_ = 1
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    daily
      .withColumn("prev_cnt", lag(col("cnt"), lag_).over(w))
      .withColumn("delta", col("cnt") - col("prev_cnt"))
      .withColumn("pct_change",
        round((col("cnt") - col("prev_cnt")) * 100.0 / col("prev_cnt"), 4))
      .orderBy(col("event_type"), col("day"))
  }

  /** Key-less range join: pair every left row with the right rows
    * whose timestamp lies in [left.ts - before, left.ts + after]
    * (bounds inclusive, seconds). With no equi key a naive range join
    * is a cartesian product; bucketing time into `bucketSec`-wide
    * cells, exploding each left window over the cells it covers, and
    * equi-joining on the cell id keeps candidate volume at
    * |windows| × density instead of |L| × |R|. Each right row lives in
    * exactly one cell, so no dedup pass is needed. */
  def rangeJoinBucketed(left: DataFrame, lTs: String,
                        right: DataFrame, rTs: String,
                        beforeSec: Long, afterSec: Long,
                        bucketSec: Long = 600L): DataFrame = {
    val bucketUs = bucketSec * 1000000L
    val lo = unix_micros(col(lTs)) - beforeSec * 1000000L
    val hi = unix_micros(col(lTs)) + afterSec * 1000000L
    val lb = left
      .withColumn("__lo", lo).withColumn("__hi", hi)
      .withColumn("__cell",
        explode(sequence(floor(col("__lo") / bucketUs).cast("long"),
          floor(col("__hi") / bucketUs).cast("long"))))
    val rb = right
      .withColumn("__rts", unix_micros(col(rTs)))
      .withColumn("__cell", floor(col("__rts") / bucketUs).cast("long"))
    lb.join(rb, Seq("__cell"))
      .filter(col("__rts") >= col("__lo") && col("__rts") <= col("__hi"))
      .drop("__cell", "__lo", "__hi", "__rts")
  }

  /** Robust per-series outlier detection via median/MAD — the
    * heavy-tail-safe sibling of [[anomalyZScore]]: mean/stddev are
    * themselves dragged by the outliers they're meant to find, while
    * the median and the median absolute deviation have a 50%
    * breakdown point. robust_z = 0.6745·(x − med)/MAD (the standard
    * consistency constant makes it comparable to a z-score under
    * normality); a zero-MAD series (over half the points identical)
    * pins robust_z = 0 rather than NaN.
    *
    * Plan: two exact-percentile aggregations on the series key (the
    * per-group buffer is day-bounded like [[dailyPercentiles]]) and
    * one thresholds join back onto the daily frame — the thresholds
    * side is series-cardinality-sized, so AQE broadcasts it and the
    * daily frame never shuffles twice. med and MAD are ROUNDED to 4dp
    * BEFORE the score (the repo's rounded-metric rule: raw
    * interpolated percentiles can sit one ulp apart across engines
    * and flip a boundary row). At 100 TB the same shape runs with
    * percentile_approx — the declared q_percentiles_approx trade. */
  def outlierMad(s: SparkSession, d: String): DataFrame = {
    val k = 3.5
    outlierMadOn(
      Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt")),
      k)
  }

  /** Same over any (event_type, day, cnt) daily frame. */
  def outlierMadOn(daily: DataFrame, k: Double): DataFrame = {
    val med = daily.groupBy(col("event_type"))
      .agg(round(expr("percentile(cnt, 0.5)"), 4).as("med"))
    val dev = daily.join(med, "event_type")
      .withColumn("adev", abs(col("cnt") - col("med")))
    val mad = dev.groupBy(col("event_type"))
      .agg(round(expr("percentile(adev, 0.5)"), 4).as("mad"))
    val z = when(col("mad") === 0, lit(0.0))
      .otherwise(lit(0.6745) * (col("cnt") - col("med")) / col("mad"))
    dev.join(mad, "event_type")
      .select(col("event_type"), col("day"), col("cnt"),
        col("med"), col("mad"),
        round(z, 4).as("robust_z"),
        (abs(round(z, 4)) >= k).as("is_outlier"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Driver-checkable SCALE face of [[outlierMad]] (the declared
    * percentile_approx trade for the MAD thresholds): per series,
    * both stages' medians run as GK sketches BESIDE the exact
    * percentiles, published as the exact med/MAD plus IN-PLAN
    * rank-error verdicts. Stage 1 brackets the sketched count-median
    * between the exact 0.5 ± δ quantiles of cnt; stage 2 is subtler —
    * the approx tier's deviations are |cnt − med_sketch| (NOT
    * |cnt − med_exact|), so its bracket is the exact 0.5 ± δ
    * quantiles OF THAT SAME sketched-deviation distribution, computed
    * in the second aggregation pass. The oracle replays the exact
    * med/MAD ([[outlierMad]]'s own first two stages) with literal
    * TRUE flags: either sketch drifting past its rank-error bracket
    * breaks the cross-engine hash. Day-level outlier flags stay the
    * exact entry's contract — flag agreement is NOT rank-bounded (a
    * boundary day can flip within tolerance), so this face verifies
    * the THRESHOLDS a 100 TB run would actually compute. */
  def outlierMadChecked(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
      // three passes read the calendar×series-sized day frame
      // (median fix, deviation build, rank counts)
      .transform(Reuse.barrier)
    val med = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        round(expr("percentile(cnt, 0.5)"), 4).as("med"),
        expr(s"percentile_approx(cnt, 0.5, $accuracy)").as("__amed"))
    // deviations from BOTH medians in one frame: adev feeds the exact
    // MAD, adev_a is the sketched tier's own deviation distribution
    // (its rank verdict must come from the distribution the sketch
    // saw); the rank counts for the stage-1 sketch ride along
    val dev = daily.join(broadcast(med), "event_type")
      .withColumn("adev", abs(col("cnt") - col("med")))
      .withColumn("adev_a", abs(col("cnt") - col("__amed")))
    def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
    val st2 = dev.groupBy(col("event_type"), col("n_days"), col("med"),
        col("__amed"))
      .agg(
        round(expr("percentile(adev, 0.5)"), 4).as("mad"),
        expr(s"percentile_approx(adev_a, 0.5, $accuracy)").as("__amad"),
        cnt(col("cnt") < col("__amed")).as("__ltm"),
        cnt(col("cnt") <= col("__amed")).as("__lem"))
    // the stage-2 sketch's rank interval needs one more pass over the
    // deviation distribution it came from
    dev.select(col("event_type"), col("adev_a"))
      .join(broadcast(st2), "event_type")
      .groupBy(col("event_type"), col("n_days"), col("med"), col("mad"),
        col("__amad"), col("__ltm"), col("__lem"))
      .agg(
        cnt(col("adev_a") < col("__amad")).as("__lta"),
        cnt(col("adev_a") <= col("__amad")).as("__lea"))
      .select(col("event_type"), col("n_days"), col("med"), col("mad"),
        rankVerdict(col("__ltm"), col("__lem"), col("n_days"), 0.5, rankSlack)
          .as("med_within_tol"),
        rankVerdict(col("__lta"), col("__lea"), col("n_days"), 0.5, rankSlack)
          .as("mad_within_tol"))
      .orderBy(col("event_type"))
  }

  /** Theil-Sen robust trend per series — the median-of-pairwise-
    * slopes line beside the least-squares trend (`ml_linreg_trend`):
    * one anomalous day (a backfill spike, an outage zero) drags an
    * OLS slope arbitrarily far; the Theil-Sen estimator tolerates up
    * to ~29% corrupted points. Slope = median over day pairs of
    * Δcnt/Δday; intercept = median over days of the residual
    * cnt − slope·day (the full Theil-Sen line).
    *
    * Scale shape: pairs = days² PER SERIES — bounded by CALENDAR,
    * not data (the ts_dtw/ts_cross_corr class); both rank windows
    * partition by series over calendar- or calendar²-sized frames,
    * never data-sized ones. Contract: ≥ 2 days per series (a 1-day
    * series has no pair and drops, matching the oracle's inner
    * join).
    *
    * Exactness: the medians are selected and COMBINED as exact
    * integer RATIONALS — slope = (num, den) with num = Δcnt,
    * den = Δday; an even pair count averages as (n₁d₂ + n₂d₁,
    * 2d₁d₂); every residual in a series shares the slope's
    * denominator, so the intercept median is a median of INTEGER
    * numerators. The double `sl` column exists only as the ordering
    * key (nearest-double is monotonic, and distinct slope rationals
    * with calendar-bounded denominators sit far beyond a double ulp
    * apart, so the double order IS the rational order); publication
    * goes through [[ExactRatio.r4s]] — signed exact half-up — never
    * `round()` on a computed double, because an averaged slope like
    * 1/160 = .00625 is a true 4dp half-boundary where engine
    * rounding styles split. */
  def theilSen(s: SparkSession, d: String): DataFrame =
    theilSenOn(Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("event_type"),
        datediff(col("day"), to_date(lit("2024-01-01"))).as("dd"),
        col("cnt")))

  /** Same over any (event_type, dd, cnt) day-indexed frame. */
  def theilSenOn(daily0: DataFrame): DataFrame = {
    // the calendar-sized daily frame feeds FOUR branches (both
    // self-join sides, the residual join, and the slope chain)
    val daily = Reuse.barrier(daily0)
    val a = daily.select(col("event_type"),
      col("dd").as("di"), col("cnt").as("yi"))
    val b = daily.select(col("event_type"),
      col("dd").as("dj"), col("cnt").as("yj"))
    val pairs = a.join(b, Seq("event_type")).filter(col("dj") > col("di"))
      .select(col("event_type"), col("di"), col("dj"),
        (col("yj") - col("yi")).cast("long").as("num"),
        (col("dj") - col("di")).cast("long").as("den"))
      .withColumn("sl", col("num").cast("double") / col("den"))
    val wp = Window.partitionBy(col("event_type"))
      .orderBy(col("sl"), col("di"), col("dj"))
    val ranked = pairs.withColumn("rk", row_number().over(wp))
      .withColumn("m", count(lit(1)).over(Window.partitionBy(col("event_type"))))
    // median rank(s): odd m selects one row twice ((m+1) div 2 =
    // m div 2 + 1), even m selects the two middle rows to average
    val slope = ranked
      .filter(col("rk") === expr("(m + 1) div 2") ||
        col("rk") === expr("m div 2 + 1"))
      .groupBy(col("event_type"), col("m"))
      .agg(count(lit(1)).as("k"),
        min(struct(col("rk"), col("num"), col("den"))).as("lo"),
        max(struct(col("rk"), col("num"), col("den"))).as("hi"))
      .select(col("event_type"), col("m").as("n_pairs"),
        when(col("k") === 1, col("lo.num"))
          .otherwise(col("lo.num") * col("hi.den") +
            col("hi.num") * col("lo.den")).as("snum"),
        when(col("k") === 1, col("lo.den"))
          .otherwise(lit(2L) * col("lo.den") * col("hi.den")).as("sden"))
    // every residual shares the series' slope denominator: the
    // intercept median works on integer numerators alone
    val res = daily.join(slope, "event_type")
      .select(col("event_type"), col("dd"), col("n_pairs"),
        col("snum"), col("sden"),
        (col("cnt") * col("sden") - col("snum") * col("dd")).as("rnum"))
    val wr = Window.partitionBy(col("event_type"))
      .orderBy(col("rnum"), col("dd"))
    val rranked = res.withColumn("rk", row_number().over(wr))
      .withColumn("nd", count(lit(1)).over(Window.partitionBy(col("event_type"))))
    rranked
      .filter(col("rk") === expr("(nd + 1) div 2") ||
        col("rk") === expr("nd div 2 + 1"))
      .groupBy(col("event_type"), col("nd"), col("n_pairs"),
        col("snum"), col("sden"))
      .agg(count(lit(1)).as("k2"),
        min(col("rnum")).as("r1"), max(col("rnum")).as("r2"))
      .select(col("event_type"), col("nd").as("n_days"), col("n_pairs"),
        ExactRatio.r4s(col("snum"), col("sden")).as("slope"),
        ExactRatio.r4s(
          when(col("k2") === 1, col("r1")).otherwise(col("r1") + col("r2")),
          when(col("k2") === 1, col("sden"))
            .otherwise(lit(2L) * col("sden"))).as("intercept"))
      .orderBy(col("event_type"))
  }

  /** Calendar feature derivation on the gap-filled daily series — the
    * classic enrichment before a demand forecaster (the reference's
    * taxi pipeline forecasts daily rides; day-of-week and month are
    * the first features any such model earns). Every feature is
    * derived with PURE INTEGER arithmetic or engine-portable date
    * functions: dow comes from the epoch-day count ((ed + 3) mod 7,
    * 0 = Monday — dayofweek()'s origin varies by engine/locale, an
    * integer mod doesn't), month/day-of-month/last-day agree across
    * engines by construction. Row-local over the resampled frame —
    * zero additional shuffles at any scale. */
  def calendarFeatures(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val ed = datediff(col("day"), to_date(lit("1970-01-01")))
    val dow = (ed + 3) % 7
    daily
      .withColumn("dow", dow.cast("int"))
      .withColumn("is_weekend", col("dow") >= 5)
      .withColumn("month", month(col("day")))
      .withColumn("dom", dayofmonth(col("day")))
      .withColumn("is_month_end",
        to_date(col("day")) === last_day(col("day")))
      .orderBy(col("event_type"), col("day"))
  }

  /** Fourier seasonal basis — the regression-ready encoding of
    * weekly seasonality beside [[calendarFeatures]]' categorical dow
    * (K sin/cos pairs give a CONTINUOUS, smoothly-extrapolating
    * basis — the standard seasonal regressors for harmonic
    * regression and the feature set tree/linear forecasters consume
    * instead of 6 dow dummies). t = day index from the corpus start
    * (one scalar broadcast); the angle is built from the REDUCED
    * phase t mod period, so sin/cos arguments stay in [0, 2πK) —
    * large-argument range reduction is where libm implementations
    * drift, small arguments agree to ~1 ulp and round identically
    * at 4dp. Row-local over the daily frame; zero extra shuffles. */
  def fourierFeatures(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val mn = daily.agg(min(col("day")).as("mn"))
    def term(k: Int): Column =
      lit(2.0) * lit(math.Pi) * lit(k) * col("ph") / lit(seasonPeriod)
    daily.crossJoin(broadcast(mn))
      .withColumn("t",
        datediff(col("day"), to_date(col("mn"))).cast("int"))
      .withColumn("ph", col("t") % seasonPeriod)
      .select(col("event_type"), col("day"), col("cnt"), col("t"),
        round(sin(term(1)), 4).as("sin7_1"),
        round(cos(term(1)), 4).as("cos7_1"),
        round(sin(term(2)), 4).as("sin7_2"),
        round(cos(term(2)), 4).as("cos7_2"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Periodogram — WHICH period? The seasonal faces (decompose,
    * strength, fourier, snaive) all ASSUME period=7; this is the
    * detector that earns that assumption: DFT power at every
    * candidate period p ∈ [pMin, pMax] over the demeaned daily
    * series, dominant period flagged per series. Power at p =
    * (Σ x_t cos(2πt/p))² + (Σ x_t sin(2πt/p))², scaled by 1/n.
    *
    * Determinism: the trig argument uses the REDUCED phase t mod p
    * (the ts_fourier_features lesson — large-argument libm range
    * reduction is where engines drift; power is shift-invariant so
    * the global-min epoch also cancels), per-term products round to
    * 6dp and sum as DECIMAL(20,6) (order-independent), the mean is
    * rounded before subtraction (rounded-metric rule), and dominance
    * ranks on a (power desc, period) total order. Work: days ×
    * candidate-periods rows per series — calendar-bounded, the
    * pre-aggregation to daily counts is the only data-sized pass. */
  def periodogram(s: SparkSession, d: String): DataFrame = {
    val pMin = 2
    val pMax = 14
    periodogramOn(Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt")), pMin, pMax)
  }

  /** Same over any (event_type, day, cnt) daily frame. */
  def periodogramOn(daily: DataFrame, pMin: Int, pMax: Int): DataFrame = {
    val mn = daily.agg(min(col("day")).as("mn"))
    val mu = daily.groupBy(col("event_type"))
      .agg(round(avg(col("cnt")), 4).as("mu"))
    val ang = lit(2.0) * lit(math.Pi) * col("ph") / col("p")
    val x = col("cnt").cast("double") - col("mu")
    val terms = daily.crossJoin(broadcast(mn)).join(mu, "event_type")
      .withColumn("t", datediff(col("day"), to_date(col("mn"))).cast("int"))
      .withColumn("p",
        explode(sequence(lit(pMin), lit(pMax))))
      .withColumn("ph", col("t") % col("p"))
      .select(col("event_type"), col("p"),
        round(x * cos(ang), 6).cast("decimal(20,6)").as("tc"),
        round(x * sin(ang), 6).cast("decimal(20,6)").as("ts"))
    val pw = terms.groupBy(col("event_type"), col("p"))
      .agg(sum(col("tc")).as("sc"), sum(col("ts")).as("ss"),
        count(lit(1)).as("n"))
      .select(col("event_type"), col("p").as("period"),
        round((col("sc").cast("double") * col("sc").cast("double") +
          col("ss").cast("double") * col("ss").cast("double")) /
          col("n"), 2).as("power"))
    pw.withColumn("is_dominant",
        row_number().over(Window.partitionBy(col("event_type"))
          .orderBy(col("power").desc, col("period"))) === 1)
      .orderBy(col("event_type"), col("period"))
  }

  /** DeepAR-style dataset export: one row per series with
    * {start, target[], json} — the reference's series_to_jsonline
    * (GluePySparkMLFeatureEngineering cell 45), built with an
    * order-preserving sorted collect per group instead of a driver
    * loop over pandas columns. */
  def deeparExport(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("event_type"))
      .agg(
        date_format(min(col("day")), "yyyy-MM-dd HH:mm:ss").as("start"),
        transform(array_sort(collect_list(struct(col("day"), col("cnt")))),
          x => x.getField("cnt")).as("target"))
      .withColumn("json", to_json(struct(col("start"), col("target"))))
      // the jsonline IS the export format; the raw array stays internal
      // (array-typed result columns are also hostile to the oracle gate)
      .select(col("event_type"), col("start"), col("json"))
      .orderBy(col("event_type"))

  /** Dynamic-time-warping distance between every pair of per-type
    * daily series — the series-similarity measure behind shape-based
    * clustering and "which metrics move together, allowing for lag
    * and stretch" (Euclidean alignment reads a one-day phase shift
    * as maximal distance; DTW warps it away — the spec proves a
    * shifted spike scores 0). Sakoe-Chiba banding is the knob at
    * long horizons; for calendar-bounded daily series the full DP is
    * ≤ 365² integer cells per pair, and pairs parallelize — the cost
    * axis at 100 TB is the pre-aggregation to daily points, which is
    * one map-side-combinable pass.
    *
    * Cross-engine contract: daily values quantize to 1e-4 micro
    * units as exact DECIMAL sums BEFORE the DP, so every DP cell is
    * an INTEGER and the distance is formulation-independent — the
    * Scala row-rolling DP here and the oracle's anti-diagonal
    * RECURSIVE-CTE wavefront (cells on diagonal d depend only on
    * d−1, d−2 — no intra-step dependency, so list_transform can
    * evaluate a whole diagonal functionally) provably compute the
    * same table. The per-pair recursion is the flatMap-recursion
    * class the repo reserves mapPartitions for (Forecast posture). */
  def dtwPairs(s: SparkSession, d: String, band: Int = -1): DataFrame =
    dtwPairsOn(Tables.events(s, d)
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).as("day"))
      .agg((sum(round(col("value"), 4).cast("decimal(14,4)")) * 10000)
        .cast("long").as("v_micro")), band)

  /** Same over any (event_type, day, v_micro) daily frame.
    * `band` < 0 ⇒ full (unbanded) DP. */
  def dtwPairsOn(daily: DataFrame, band: Int = -1): DataFrame = {
    val ss = daily.sparkSession
    import ss.implicits._
    val ser = daily.groupBy(col("event_type"))
      .agg(transform(
        array_sort(collect_list(struct(col("day"), col("v_micro")))),
        x => x.getField("v_micro")).as("vs"))
    val pairs = ser.as("a").join(ser.as("b"),
        col("a.event_type") < col("b.event_type"))
      .select(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"),
        col("a.vs").as("va"), col("b.vs").as("vb"))
      .as[(String, String, Seq[Long], Seq[Long])]
    pairs.map { case (ta, tb, va, vb) =>
        val dist = dtwMicro(va, vb, band)
        (ta, tb, va.length.toLong, vb.length.toLong, dist,
          dist / (va.length + vb.length))
      }
      .toDF("type_a", "type_b", "n_a", "n_b", "dtw_micro",
        "dtw_per_step_micro")
      .orderBy(col("type_a"), col("type_b"))
  }

  /** The subsequence length of [[matrixProfile]] and its oracle. */
  private val subseqLen = 7

  /** MATRIX PROFILE (Yeh et al., ICDM 2016) over each per-type daily
    * series — the all-pairs subsequence-similarity index behind motif
    * discovery ("which week-shaped pattern repeats?") and discord
    * detection ("which week is unlike every other?"): for every
    * length-`m` window of a series, the minimum distance to any
    * non-overlapping window of the SAME series, with its position.
    * `is_motif` marks the series' best-matched window, `is_discord`
    * its least-matched — the two questions the profile exists to
    * answer, read off the same column.
    *
    * Determinism (the emb_standardize argument, applied per series):
    * the series is globally z-normalized on an integer lattice —
    * exact integer mean (Σv div n) and variance (Σdx² div n, HUGEINT
    * sums), z-codes floor((dx·1e6)/√varQ) through one identical
    * multiply/sqrt/divide/floor chain per engine (identical integers
    * in ⇒ identical codes out; a zero-variance series pins z = 0) —
    * then window distances are EXACT integer sums of squared code
    * differences, order-free and bit-identical, and the published
    * distance is one sqrt + division + 4dp round of an identical
    * integer. (Per-window z-normalization — the MASS inner loop —
    * would put a float μ/σ inside every pair; the global-z + integer
    * ED profile keeps the whole O(P²·m) core on the lattice.)
    *
    * Scale shape: series are calendar-bounded (≤366 daily points),
    * so each series' profile is ONE row-local nested-lambda
    * evaluation over its collected array (P²·m integer ops, ~2M for
    * a year at m=7) and series parallelize — the dtwPairs posture.
    * Trivial matches are excluded by |i−j| ≥ m (overlapping windows
    * of a smooth series always match); series shorter than 3m−1 emit
    * nothing — that is the shortest length at which EVERY window has
    * at least one admissible partner (a middle window of anything
    * shorter has no j with |i−j| ≥ m, and a NULL profile cell is
    * worse than an absent series). Stated contract, oracle-matched. */
  def matrixProfile(s: SparkSession, d: String, band: Int = -1): DataFrame =
    matrixProfileOn(Tables.events(s, d)
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).as("day"))
      .agg((sum(round(col("value"), 4).cast("decimal(14,4)")) * 10000)
        .cast("long").as("v_micro")), subseqLen, band)

  /** Same over any (event_type, day, v_micro) daily frame.
    * `band` > 0 bounds the partner search to |i−j| ≤ band — the
    * horizon tier for long (sub-daily) series: the full core is
    * O(P²·m) per series, which is fine calendar-bounded (~2M integer
    * ops for a year at m=7) but quadratic the moment a caller feeds
    * minute-grain data; the band makes it O(P·band·m), linear in P,
    * and band ≥ P−1 reproduces the unbanded profile cell for cell
    * (spec-pinned — the ts_dtw_banded contract shape). */
  def matrixProfileOn(daily: DataFrame, m: Int = 7,
                      band: Int = -1): DataFrame = {
    require(m >= 2, "window m >= 2")
    require(band <= 0 || band >= m,
      s"a band below m admits no partner at all: band=$band m=$m")
    val d38 = "decimal(38,0)"
    val ser = daily.groupBy(col("event_type"))
      .agg(transform(
        array_sort(collect_list(struct(col("day"), col("v_micro")))),
        x => x.getField("v_micro")).as("vs"))
      .withColumn("n", size(col("vs")))
      .filter(col("n") >= 3 * m - 1)
    // integer global z-codes: mean/var by floor division, HUGEINT-
    // exact sums, one identical double chain per code
    val zed = ser
      .withColumn("mu", expr("aggregate(vs, CAST(0 AS BIGINT), " +
        "(a, v) -> a + v) div n"))
      .withColumn("varq", expr(
        s"CAST(aggregate(vs, CAST(0 AS $d38), (a, v) -> " +
          s"a + CAST(v - mu AS $d38) * CAST(v - mu AS $d38)) " +
          "div n AS BIGINT)"))
      .withColumn("z", expr(
        "transform(vs, v -> CASE WHEN varq = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE CAST(floor(CAST(v - mu AS DOUBLE) * 1000000.0 " +
          "/ sqrt(CAST(varq AS DOUBLE))) AS BIGINT) END)"))
      .select(col("event_type"), col("n"), col("z"))
    // the O(P²·m) exact-integer core runs as a row-local Scala fold
    // (the dtwPairs per-pair-recursion posture — the class the repo
    // reserves typed maps for): interpreted Catalyst lambdas evaluate
    // the same arithmetic ~1000× slower (measured 32 s vs sub-second
    // at sf0.1), and pure integer ops are engine-agnostic anyway —
    // the oracle replays the identical sums relationally
    val ss = daily.sparkSession
    import ss.implicits._
    val prof = zed.select(col("event_type"), col("z"))
      .as[(String, Seq[Long])]
      .flatMap { case (t, z) =>
        mpCore(z.toIndexedSeq, m, band)
          .map { case (p, nn, md) => (t, p, nn, md) }
      }
      .toDF("event_type", "pos", "nn_pos", "md")
      .select(col("event_type"), col("pos"), col("nn_pos"),
        round(sqrt(col("md").cast("double")) / 1000000.0, 4)
          .as("nn_dist"))
    val wMin = Window.partitionBy(col("event_type"))
      .orderBy(col("nn_dist"), col("pos"))
    val wMax = Window.partitionBy(col("event_type"))
      .orderBy(col("nn_dist").desc, col("pos"))
    prof
      .withColumn("is_motif", row_number().over(wMin) === 1)
      .withColumn("is_discord", row_number().over(wMax) === 1)
      .orderBy(col("event_type"), col("pos"))
  }

  /** The exact-integer profile core: per window i (1-based), the
    * minimum ED² over admissible j (m ≤ |i−j|, and |i−j| ≤ `band`
    * when `band` > 0 — the partner-window horizon of the banded
    * tier) and the SMALLEST j attaining it (strict `<` keeps the
    * first candidate — the oracle's min(j)-at-the-min contract).
    * Pure long arithmetic: value-identical to any engine's integer
    * replay. `band` ≤ 0 ⇒ unbounded (the dtw band convention); a
    * band bounds the scan to O(P·band·m) — the tier that keeps a
    * sub-daily (long-P) series affordable. */
  private[graft] def mpCore(z: IndexedSeq[Long], m: Int,
                            band: Int = -1): Seq[(Long, Long, Long)] = {
    val p = z.length - m + 1
    (1 to p).map { i =>
      var best = Long.MaxValue
      var bj = -1
      // banded: only j within the horizon are ever visited — the
      // loop bounds ARE the band, not a filter inside a full scan
      val (lo, hi) =
        if (band > 0) (math.max(1, i - band), math.min(p, i + band))
        else (1, p)
      var j = lo
      while (j <= hi) {
        if (math.abs(j - i) >= m) {
          var d = 0L
          var k = 0
          while (k < m) {
            val df = z(i - 1 + k) - z(j - 1 + k)
            d += df * df
            k += 1
          }
          if (d < best) { best = d; bj = j }
        }
        j += 1
      }
      (i.toLong, bj.toLong, best)
    }.filter(_._2 > 0)
  }

  /** DuckDB replay of [[matrixProfileOn]] — the identical lattice:
    * integer mean/variance, the same z-code chain, the same integer
    * pair distances computed relationally (hits → min → smallest-j
    * argmin). `band` > 0 adds the horizon predicate to the hits CTE
    * — ONE shared chain for the full and banded faces, the
    * dtwOracleSql convention. */
  private[graft] def matrixProfileOracleSql(band: Int = -1): String = {
    val d2 = (i: String, j: String) =>
      s"list_sum(list_transform(range(0, $subseqLen), k -> " +
        s"(z[$i + k] - z[$j + k]) * (z[$i + k] - z[$j + k])))"
    s"""WITH daily AS (SELECT event_type,
       |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP_US))
       |      AS TIMESTAMP) AS day,
       |    CAST(sum(CAST(round(value, 4) AS DECIMAL(14,4))) * 10000
       |      AS BIGINT) AS v
       |  FROM events GROUP BY 1, 2),
       |ser AS (SELECT event_type, list(v ORDER BY day) AS vs,
       |    CAST(count(*) AS BIGINT) AS n FROM daily GROUP BY 1),
       |big AS (SELECT * FROM ser WHERE n >= ${3 * subseqLen - 1}),
       |st AS (SELECT event_type, n, vs,
       |    CAST(list_sum(vs) AS BIGINT) // n AS mu FROM big),
       |vq AS (SELECT event_type, n, vs, mu,
       |    CAST(list_sum(list_transform(vs, v ->
       |        CAST(v - mu AS HUGEINT) * CAST(v - mu AS HUGEINT)))
       |      // n AS BIGINT) AS varq
       |  FROM st),
       |zc AS (SELECT event_type, n,
       |    list_transform(vs, v -> CASE WHEN varq = 0
       |      THEN CAST(0 AS BIGINT)
       |      ELSE CAST(floor(CAST(v - mu AS DOUBLE) * 1000000.0
       |        / sqrt(CAST(varq AS DOUBLE))) AS BIGINT) END) AS z
       |  FROM vq),
       |pos AS (SELECT event_type, n, z,
       |    unnest(range(1, n - ${subseqLen - 2})) AS i FROM zc),
       |hits AS (SELECT event_type, i, j, ${d2("i", "j")} AS d2
       |  FROM (SELECT event_type, z, i,
       |          unnest(range(1, n - ${subseqLen - 2})) AS j FROM pos)
       |  WHERE abs(j - i) >= $subseqLen${
        if (band > 0) s" AND abs(j - i) <= $band" else ""}),
       |mins AS (SELECT event_type, i, min(d2) AS md
       |         FROM hits GROUP BY 1, 2),
       |rows_ AS (SELECT h.event_type, CAST(h.i AS BIGINT) AS pos,
       |    CAST(min(h.j) AS BIGINT) AS nn_pos,
       |    round(sqrt(CAST(mn.md AS DOUBLE)) / 1000000.0, 4) AS nn_dist
       |  FROM hits h JOIN mins mn
       |    ON mn.event_type = h.event_type AND mn.i = h.i
       |   AND h.d2 = mn.md
       |  GROUP BY 1, 2, mn.md)
       |SELECT event_type, pos, nn_pos, nn_dist,
       |  row_number() OVER (PARTITION BY event_type
       |    ORDER BY nn_dist, pos) = 1 AS is_motif,
       |  row_number() OVER (PARTITION BY event_type
       |    ORDER BY nn_dist DESC, pos) = 1 AS is_discord
       |FROM rows_ ORDER BY event_type, pos""".stripMargin
  }

  /** Out-of-band / padding cell value — the SAME sentinel the oracle
    * wavefront uses (2.5e17): any SENT-contaminated path stays ≥
    * 2.5e17 while a real path over a calendar-bounded pair is ≤
    * ~(n+m)·max|Δ| ≈ 7e14, so the published (feasible) cell is never
    * sentinel-tainted and no chain of sentinel+cost additions (≤
    * SENT + (n+m)·max|Δ|) approaches Long overflow. */
  private[graft] val DtwSent = 250000000000000000L

  /** Exact integer DTW (|·| cost, unit steps), two rolling rows,
    * optionally Sakoe-Chiba banded (Sakoe & Chiba 1978): cells with
    * |i−j| > r are excluded (value [[DtwSent]]), where r =
    * max(band, |n−m|) so the band always admits a monotone feasible
    * path and the published distance is a real-path value. band < 0
    * ⇒ unbanded (r = ∞), bit-identical to the pre-band face. The
    * banded DP is the declared long-horizon knob: per-pair work
    * drops from n·m cells to O(r·(n+m)) — on multi-year or
    * sub-daily series the O(n²) full table is the term that breaks
    * first, and a calendar-meaningful band (±7 days) is also the
    * MODELING choice that stops DTW from "explaining away" a
    * quarter-long regime shift as warp. Cell-for-cell equal to the
    * oracle's banded anti-diagonal wavefront: out-of-band cells are
    * exactly SENT in both engines, in-band cells read the same three
    * neighbors (SENT included, uncapped), so even sentinel-region
    * arithmetic agrees. */
  private[graft] def dtwMicro(a: Seq[Long], b: Seq[Long],
                              band: Int = -1): Long = {
    require(a.nonEmpty && b.nonEmpty, "DTW needs two non-empty series")
    val n = a.length; val m = b.length
    val r: Long =
      if (band < 0) Long.MaxValue
      else math.max(band.toLong, math.abs(n - m).toLong)
    @inline def in(i: Int, j: Int): Boolean = math.abs(i - j).toLong <= r
    var prev = new Array[Long](m)
    prev(0) = math.abs(a(0) - b(0))
    for (j <- 1 until m)
      prev(j) =
        if (in(0, j)) prev(j - 1) + math.abs(a(0) - b(j)) else DtwSent
    for (i <- 1 until n) {
      val cur = new Array[Long](m)
      cur(0) =
        if (in(i, 0)) prev(0) + math.abs(a(i) - b(0)) else DtwSent
      for (j <- 1 until m)
        cur(j) =
          if (in(i, j))
            math.abs(a(i) - b(j)) +
              math.min(cur(j - 1), math.min(prev(j), prev(j - 1)))
          else DtwSent
      prev = cur
    }
    prev(m - 1)
  }

  /** DuckDB replay of [[dtwPairs]] — the anti-diagonal RECURSIVE-CTE
    * wavefront (diagonal d depends only on d−1/d−2, so
    * list_transform evaluates a whole diagonal functionally), shared
    * builder for the unbanded (`band` < 0) and Sakoe-Chiba-banded
    * faces: the band masks cells by |i−j| = |2i−(d+1)| > r to the
    * same sentinel the padding uses, with r = greatest(band, |n−m|)
    * carried on the pair row — exactly [[dtwMicro]]'s grid. */
  private[graft] def dtwOracleSql(band: Int = -1): String = {
    val sent = DtwSent.toString
    val rCol =
      if (band < 0) ""
      else s",\n    greatest(CAST($band AS BIGINT), abs(a.n - b.n)) AS r"
    val rCarry = if (band < 0) "" else " r,"
    val mask = if (band < 0) "" else " AND abs(2 * i - (d + 1)) <= r"
    s"""WITH RECURSIVE
       |daily AS (SELECT event_type,
       |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP_US))
       |      AS TIMESTAMP) AS day,
       |    CAST(sum(CAST(round(value, 4) AS DECIMAL(14,4))) * 10000
       |      AS BIGINT) AS v
       |  FROM events GROUP BY 1, 2),
       |ser AS (SELECT event_type, list(v ORDER BY day) AS vs,
       |    CAST(count(*) AS BIGINT) AS n FROM daily GROUP BY 1),
       |pairs AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
       |    a.vs AS va, b.vs AS vb, a.n AS n, b.n AS m$rCol
       |  FROM ser a JOIN ser b ON a.event_type < b.event_type),
       |dp AS (
       |  SELECT type_a, type_b, va, vb, n, m,$rCarry CAST(0 AS BIGINT) AS d,
       |    list_transform(range(0, n), i -> CASE WHEN i = 0
       |      THEN abs(va[1] - vb[1])
       |      ELSE $sent END) AS cur,
       |    CAST(NULL AS BIGINT[]) AS prev
       |  FROM pairs
       |  UNION ALL
       |  SELECT type_a, type_b, va, vb, n, m,$rCarry d + 1,
       |    list_transform(range(0, n), i -> CASE
       |      WHEN d + 1 - i BETWEEN 0 AND m - 1$mask THEN
       |        abs(va[i + 1] - vb[d + 2 - i]) + least(
       |          CASE WHEN d - i >= 0 THEN cur[i + 1]
       |            ELSE $sent END,
       |          CASE WHEN i >= 1 THEN cur[i]
       |            ELSE $sent END,
       |          CASE WHEN i >= 1 AND d - i >= 0
       |            THEN coalesce(prev[i], $sent)
       |            ELSE $sent END)
       |      ELSE $sent END) AS cur,
       |    cur AS prev
       |  FROM dp WHERE d < n + m - 2)
       |SELECT type_a, type_b, n AS n_a, m AS n_b,
       |  cur[n] AS dtw_micro, cur[n] // (n + m) AS dtw_per_step_micro
       |FROM dp WHERE d = n + m - 2
       |ORDER BY type_a, type_b""".stripMargin
  }
}
