package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Reuse

/** Stream-shaped operators over the events table, run in batch and
  * checked by the oracle: windowed aggregates, stream-static and
  * stream-stream joins, a windowed quality monitor and
  * sessionization, each a shared transform that works on batch and
  * streaming frames alike; plus versioned audits of per-key folds
  * (funnel, attribution, anomaly, changepoint, EWMA, conformal band)
  * that split the events into `epochs` arrival micro-batches and
  * emit, per retained version, everything the fold has published
  * through that epoch.
  */
object EventStreams {
  import Versions.{epochs, retained, retainedSql, stack}
  import graft.ops.Analytics.{attributionConvType, attributionTouchTypes,
    attributionWindowDays, funnelStageNames}
  import graft.ops.TimeSeriesOps.{changepointMinScore, changepointWindow}

  // ---- tumbling-window aggregate --------------------------------------

  /** Batch face: tumbling 1-hour windows of count + value sum. */
  def windowCountsBatch(s: SparkSession, d: String): DataFrame =
    windowCounts(Tables.events(s, d))

  /** The shared transform: window() works identically on batch and
    * streaming frames. */
  def windowCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total_value"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"),
        col("total_value"))
      .orderBy(col("ws"), col("event_type"))

  // ---- sliding-window aggregate ---------------------------------------

  /** Shared transform: SLIDING windows (each event lands in
    * window/slide overlapping windows) — the smoothing shape
    * dashboards want when tumbling windows are too jumpy. State cost
    * scales with the overlap factor; the slide, not the window,
    * decides the output cadence. */
  def slidingCounts(events: DataFrame): DataFrame = {
    val win = "10 minutes"
    val slide = "5 minutes"
    events
      .groupBy(window(col("ts"), win, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"))
  }

  /** Batch face for the oracle gate. */
  def slidingCountsBatch(s: SparkSession, d: String): DataFrame =
    slidingCounts(Tables.events(s, d)).orderBy(col("ws"), col("event_type"))

  // ---- stream-static dimension enrichment -----------------------------

  /** Shared transform: enrich events with a static dimension keyed by
    * user — the stream-static JOIN, the lookup shape every live
    * pipeline runs (attach segment/account/geo to each arriving
    * event). LEFT join: an event with no dimension row passes through
    * null-filled rather than silently dropping (losing fact rows to a
    * stale dimension is the classic enrichment bug).
    *
    * DIMENSION-SIZE CONTRACT — `broadcastDim` picks between the two
    * honest regimes; the hint is forced rather than left to AQE
    * because streaming re-plans the static side every micro-batch and
    * per-batch join-strategy flips are not a property a live pipeline
    * wants:
    *  - `true` (default): the dimension is broadcast, the per-batch
    *    join is map-side and the STREAM never shuffles — the only
    *    shape that holds at ingest rates, valid while the dimension
    *    fits comfortably in executor memory (the working bound is a
    *    few hundred MB serialized — the same order as
    *    `spark.sql.autoBroadcastJoinThreshold` tuned up; the
    *    broadcast re-ships per batch, so its cost also recurs with
    *    the trigger cadence).
    *  - `false`: a SHUFFLE_HASH equi-join (hash table built on the
    *    dimension side) for the dimension that outgrows broadcast —
    *    pinned, not left to size estimates, for the same
    *    no-per-batch-flips reason as above. The stream side pays a
    *    per-batch exchange; store the dimension BUCKETED on the key
    *    and the dimension side reads exchange-free each batch.
    *    Beyond that regime the
    *    shape is a keyed state-store lookup (mapGroupsWithState over
    *    a CDC feed of the dimension), which is a different operator,
    *    not a flag.
    */
  def enrich(events: DataFrame, dim: DataFrame,
             broadcastDim: Boolean = true): DataFrame = {
    val key = "user_id"
    if (broadcastDim) events.join(broadcast(dim), Seq(key), "left")
    else events.join(dim.hint("shuffle_hash"), Seq(key), "left")
  }

  /** Batch face for the oracle gate: segment lookup against the even
    * half of the customer dimension (the odd half's absence makes the
    * left join's null-fill face bite in the checked output). */
  def enrichBatch(s: SparkSession, d: String): DataFrame =
    enrich(
      Tables.events(s, d).select(col("event_id"), col("user_id")),
      customerDim(s, d))
      .orderBy(col("event_id"))

  /** The dimension [[enrichBatch]] joins. */
  def customerDim(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .filter(col("c_custkey") % 2 === 0)
      .select(col("c_custkey").as("user_id"),
        col("c_mktsegment").as("segment"))

  // ---- stream-stream join ---------------------------------------------

  /** Shared transform: attribute each click to the views that
    * preceded it within `within` for the same user — the
    * STREAM-STREAM inner join, the attribution shape (view→click,
    * impression→purchase) that needs state on BOTH sides: either
    * stream's row may arrive before its partner. The condition is an
    * equi-key plus an event-time range, which is exactly what lets
    * Structured Streaming bound that state: the range + watermark
    * tell the engine when a buffered view can never match a future
    * click and can be dropped. Keyed on user_id, so the state and
    * the shuffle shard by user at any width. */
  def clickViewJoin(clicks: DataFrame, views: DataFrame): DataFrame = {
    val within = "4 hours"
    clicks.alias("c").join(views.alias("v"),
      col("c.user_id") === col("v.user_id") &&
        col("v.ts") >= col("c.ts") - expr(s"INTERVAL $within") &&
        col("v.ts") <= col("c.ts"))
      .select(col("c.user_id").as("user_id"),
        col("c.event_id").as("click_id"), col("c.ts").as("click_ts"),
        col("v.event_id").as("view_id"), col("v.ts").as("view_ts"))
  }

  /** Batch face for the oracle gate. */
  def clickViewJoinBatch(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
    clickViewJoin(
      ev.filter(col("event_type") === "click").drop("event_type"),
      ev.filter(col("event_type") === "view").drop("event_type"))
      .orderBy(col("click_id"), col("view_id"))
  }

  // ---- windowed data-quality monitor ----------------------------------

  /** The rule set the monitor entry and specs share — ONE definition
    * with the batch publish gate, see [[graft.etl.Mapping.eventQualityRules]]. */
  def defaultQualityRules: Seq[(String, org.apache.spark.sql.Column)] =
    graft.etl.Mapping.eventQualityRules

  /** Shared transform: per tumbling window, total rows plus each
    * rule's violation count — Mapping.expectations' semantics on the
    * time axis, which is how a live ingest watches its quality drift
    * window by window instead of discovering it at publish time. One
    * map-side-combinable conditional-count aggregate; wide output
    * (one column per rule — long format would need a post-aggregate
    * explode in the streaming plan for no benefit). Rule names
    * become columns via Alias directly, never a parsed SQL string.
    * NO final sort: streaming append mode forbids it (sort only in
    * complete mode), and the monitor's consumers key on `ws` anyway —
    * the batch face adds the ordering for the oracle. */
  def qualityMonitor(events: DataFrame,
                     rules: Seq[(String, org.apache.spark.sql.Column)])
      : DataFrame = {
    val win = "1 hour"
    val reserved = Set("ws", "window", "n_rows")
    require(rules.map(_._1).distinct.length == rules.length &&
        !rules.exists(r => reserved(r._1)),
      s"rule names must be unique and none of $reserved")
    val aggs = count(lit(1)).as("n_rows") +: rules.map { case (name, pred) =>
      sum(when(coalesce(pred, lit(false)), 0L).otherwise(1L)).as(name)
    }
    events.groupBy(window(col("ts"), win))
      .agg(aggs.head, aggs.tail: _*)
      // rule columns ride along untouched — referencing them by name
      // here would re-introduce identifier parsing of caller input
      .withColumn("ws", col("window.start"))
      .drop("window")
  }

  /** Batch face for the oracle gate (ordered for the compare). */
  def qualityMonitorBatch(s: SparkSession, d: String): DataFrame =
    qualityMonitor(Tables.events(s, d), defaultQualityRules).orderBy(col("ws"))

  // ---- funnel fold, versioned ------------------------------------------

  /** Versioned audit of a per-user greedy funnel fold
    * ([[graft.ops.Analytics.funnelOn]]'s stages: stage k = the
    * earliest stage-k event at or after the stage-(k−1) timestamp),
    * folded in arrival order — the attribution audit's epoch-major
    * fold applied to the greedy stage machine: events split into
    * `epochs` micro-batches by `event_id % epochs`, and the arrival
    * order is the lexicographic tuple (epoch, µs, stageIdx,
    * event_id) — the batch sort with epoch prepended. The greedy
    * fold then IS a chain of min-tuple selections: the user's
    * stage-k advance happens at the FIRST stage-k event (in fold
    * order) processed after the stage-(k−1) advance whose EVENT time
    * also satisfies the µs ≥ gate — both conditions explicit,
    * because with epochs prepended, later-in-fold no longer implies
    * later-in-time (an early-time event in a late epoch can advance
    * the stage; an early-epoch event can never advance a stage
    * reached later — late data made an oracled value, the
    * attribution posture). Version k publishes q_funnel's per-stage
    * user counts over every advance EMITTED through epoch k, i.e.
    * advances whose fold tuple sits in epochs ≤ k. Each stage's
    * advance frame computes once (checkpointed) and every retained
    * version adds one filtered count. */
  def funnelVersionsBatch(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .filter(col("event_type").isin(funnelStageNames: _*))
      .select(col("user_id"), col("event_type"),
        (col("event_id") % epochs).as("epoch"),
        unix_micros(col("ts")).as("tus"), col("event_id"))
    def tup(stageIdx: Int) = struct(col("epoch"), col("tus"),
      lit(stageIdx).as("sidx"), col("event_id"))
    // stage 1: the first qualifying event in FOLD order
    val first = ev.filter(col("event_type") === funnelStageNames.head)
      .groupBy(col("user_id")).agg(min(tup(0)).as("__t"))
    val reached = funnelStageNames.tail.zipWithIndex.scanLeft(first) {
      case (prev, (stage, i)) =>
        ev.filter(col("event_type") === stage)
          .join(prev.select(col("user_id"), col("__t").as("__pt")),
            "user_id")
          // processed after the previous advance AND event time at or
          // past it — the stream's two gates, both explicit
          .filter(tup(i + 1) > col("__pt") &&
            col("tus") >= col("__pt.tus"))
          .groupBy(col("user_id")).agg(min(tup(i + 1)).as("__t"))
    }.map(Reuse.shared) // every retained version counts each frame
    stack(retained) { k =>
      funnelStageNames.zip(reached).zipWithIndex.map { case ((stage, users), i) =>
        users.filter(col("__t.epoch") <= k)
          .agg(count(lit(1)).as("n_users"))
          .select(lit(k.toLong).as("version"),
            lit(i + 1).as("stage"), lit(stage).as("event_type"),
            col("n_users"))
      }.reduce(_ unionAll _)
    }.orderBy(col("version"), col("stage"))
  }

  /** DuckDB replica of [[funnelVersionsBatch]], generated from the
    * constants the Scala face reads ([[Versions]] and
    * [[graft.ops.Analytics.funnelStageNames]]), so the two cannot
    * disagree on a setting. One CTE
    * per stage: stage k's advance is the min fold tuple (epoch, µs,
    * sidx, id) among stage-k events past the stage-(k−1) advance
    * that also pass the event-time gate; each retained version
    * counts the advances whose tuple sits in epochs ≤ version. */
  private[graft] def funnelVersionsOracleSql: String = {
    val inList = funnelStageNames.map(st => s"'$st'").mkString(", ")
    def tup(i: Int) =
      s"{'epoch': epoch, 'tus': tus, 'sidx': $i, 'event_id': event_id}"
    val first =
      s"""s1 AS (SELECT user_id, min(${tup(0)}) AS t
         |  FROM ev WHERE event_type = '${funnelStageNames.head}' GROUP BY 1)""".stripMargin
    val rest = funnelStageNames.tail.zipWithIndex.map { case (st, i) =>
      s"""s${i + 2} AS (SELECT e.user_id, min(${tup(i + 1)}) AS t
         |  FROM ev e JOIN s${i + 1} ON e.user_id = s${i + 1}.user_id
         |  WHERE e.event_type = '$st'
         |    AND ${tup(i + 1)} > s${i + 1}.t
         |    AND tus >= (s${i + 1}.t).tus
         |  GROUP BY 1)""".stripMargin
    }
    val branches = funnelStageNames.zipWithIndex.map { case (st, i) =>
      s"""  SELECT version, ${i + 1} AS stage, '$st' AS event_type,
         |    count(*) FILTER (WHERE (t).epoch <= version) AS n_users
         |  FROM s${i + 1} CROSS JOIN v GROUP BY version""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH ev AS (SELECT user_id, event_type, event_id % $epochs AS epoch,
       |    epoch_us(CAST(ts AS TIMESTAMP_US)) AS tus, event_id
       |  FROM events WHERE event_type IN ($inList)),
       |${(first +: rest).mkString(",\n")},
       |v AS (SELECT unnest($retainedSql)
       |      AS version)
       |SELECT CAST(version AS BIGINT) AS version, stage, event_type,
       |  n_users
       |FROM (
       |$branches)
       |ORDER BY version, stage""".stripMargin
  }

  // ---- last-touch attribution fold, versioned ----------------------------

  /** Versioned audit of a last-touch attribution fold — the
    * `cdc_snapshot_versions` pattern applied to
    * [[graft.ops.Analytics.attributionLastTouch]]: each purchase is
    * credited to the user's latest preceding view/click within
    * `windowDays` ('none' otherwise). Events split into `epochs`
    * micro-batches by `event_id % epochs`, and for each RETAINED
    * version k (the newest `keepVersions`) the PUBLISHED credit
    * table — `q_attribution`'s (touch_type, n_purchases, share)
    * summary over every conversion credited through epoch k — is
    * derived in arrival order.
    *
    * Arrival order is epoch-major: epoch order, with the batch
    * contract's (µs, tag, id) sort inside each micro-batch — so the
    * one-touch fold state is exactly a carry-forward last over the
    * (epoch, µs, tag, id)
    * lexicographic order, ONE keyed window (q_attribution's window
    * with epoch prepended). Where event time interleaves across
    * epochs, the fold credits by arrival, not by global time — the
    * late-data effect, here made an oracled value. One windowed pass
    * is shared by all versions (checkpointed conversion frame); each
    * version adds one filtered aggregate over it. */
  def attributionVersionsBatch(s: SparkSession, d: String): DataFrame = {
    val tagged = Tables.events(s, d)
      .filter(col("event_type")
        .isin(attributionTouchTypes :+ attributionConvType: _*))
      .select(col("user_id"), col("event_id"),
        (col("event_id") % epochs).as("epoch"),
        unix_micros(col("ts")).as("tus"), col("event_type"),
        when(col("event_type") === attributionConvType, 1).otherwise(0).as("tag"))
    // every retained version aggregates this one pass
    val conv = graft.ops.Analytics
      .lastTouchCredit(tagged, Seq(col("epoch")), attributionWindowDays)
      .transform(Reuse.shared)
    stack(retained) { k =>
      val cnt = conv.filter(col("epoch") <= k)
        .groupBy(col("touch_type")).agg(count(lit(1)).as("n_purchases"))
      val tot = cnt.agg(sum(col("n_purchases")).as("tot"))
      cnt.crossJoin(broadcast(tot))
        .select(lit(k.toLong).as("version"), col("touch_type"),
          col("n_purchases"),
          graft.ops.ExactRatio.r4(col("n_purchases"), col("tot"))
            .as("share"))
    }.orderBy(col("version"), col("touch_type"))
  }

  // ---- daily monitors, versioned ----------------------------------------

  /** The day-timeline epoch map both versioned monitor audits share:
    * the global distinct-day timeline splits into `epochs` contiguous
    * chunks (epoch of the day at global rank r, 1-based, is
    * ((r−1)·epochs) div n) — day order IS the arrival order
    * (finalized days arrive monotonically), so "epochs ≤ k have
    * arrived" is exactly a day-prefix. The partition-less window runs
    * on the DISTINCT-DAY frame — calendar-bounded (≤366 rows/year),
    * the PSI-bins class of documented bounded global windows. */
  private def dayEpochs(days: DataFrame): DataFrame = {
    val n = days.agg(count(lit(1)).as("__n"))
    days.withColumn("__rn",
        row_number().over(Window.orderBy(col("day"))))
      .crossJoin(broadcast(n))
      .select(col("day"),
        expr(s"((CAST(__rn AS BIGINT) - 1) * $epochs) div __n")
          .as("epoch"))
  }

  /** Versioned audit of a daily z-score monitor — the
    * cdc_snapshot_versions pattern applied to
    * [[graft.ops.TimeSeriesOps.anomalyZScore]]: the day timeline
    * splits into `epochs` contiguous chunks and, for each RETAINED
    * version k (the newest `keepVersions`), the monitor's cumulative
    * published rows are derived through the batch window chain. The
    * trailing window scores a day the moment it finalizes, so
    * version k = the batch rows whose day sits in epochs ≤ k — one
    * batch pass checkpointed, one filtered projection per
    * version. */
  def anomalyVersionsBatch(s: SparkSession, d: String): DataFrame = {
    val days = graft.Tables.events(s, d)
      .select(date_trunc("day", col("ts")).as("day")).distinct()
    val scored = graft.ops.TimeSeriesOps.anomalyZScore(s, d)
      .join(broadcast(dayEpochs(days)), Seq("day"))
      .transform(Reuse.shared) // every retained version filters this one pass
    stack(retained) { k =>
      scored.filter(col("epoch") <= k)
        .select(lit(k.toLong).as("version"), col("event_type"),
          col("day"), col("cnt"), col("z"), col("is_anomaly"))
    }.orderBy(col("version"), col("event_type"), col("day"))
  }

  /** Versioned audit of a daily changepoint monitor
    * ([[graft.ops.TimeSeriesOps.changepoints]]): the forward-looking
    * statistic can only score day D
    * once day D+w−1 — D's TRIGGER day, the (w−1)-lead on the
    * per-series day order — has finalized, so version k holds the
    * batch rows ([[graft.ops.TimeSeriesOps.changepointsOn]]) whose
    * trigger day sits in epochs ≤ k: the monitor's inherent
    * emission lag as an oracled value. Same shared [[dayEpochs]]
    * timeline, one checkpointed scored pass, one filtered projection
    * per retained version. */
  def changepointVersionsBatch(s: SparkSession, d: String): DataFrame = {
    val daily = graft.Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val trig = daily.select(col("event_type"), col("day"),
      lead(col("day"), changepointWindow - 1)
        .over(Window.partitionBy(col("event_type")).orderBy(col("day")))
        .as("__trigger"))
    val ep = dayEpochs(daily.select(col("day")).distinct())
      .withColumnRenamed("day", "__trigger")
    val scored = graft.ops.TimeSeriesOps
      .changepointsOn(daily, changepointWindow, changepointMinScore)
      .join(trig, Seq("event_type", "day"))
      .join(broadcast(ep), Seq("__trigger"))
      .transform(Reuse.shared) // every retained version filters this one pass
    stack(retained) { k =>
      scored.filter(col("epoch") <= k)
        .select(lit(k.toLong).as("version"), col("event_type"),
          col("day"), col("cnt"), col("pre_mean"), col("post_mean"),
          col("score"), col("is_change"))
    }.orderBy(col("version"), col("event_type"), col("day"))
  }

  /** Versioned audit of a daily EWMA smoother
    * ([[graft.ops.TimeSeriesOps.ewma]]): eₜ folds only days ≤ t and a
    * published value never revises, so version k = the batch rows
    * whose day sits in epochs ≤ k — the [[anomalyVersionsBatch]]
    * emission rule carried onto the O(1)-state smoother. Shared
    * [[dayEpochs]] timeline, one checkpointed batch pass, one
    * filtered projection per retained version. */
  def ewmaVersionsBatch(s: SparkSession, d: String): DataFrame = {
    val days = graft.Tables.events(s, d)
      .select(date_trunc("day", col("ts")).as("day")).distinct()
    val scored = graft.ops.TimeSeriesOps.ewma(s, d)
      .join(broadcast(dayEpochs(days)), Seq("day"))
      .transform(Reuse.shared) // every retained version filters this one pass
    stack(retained) { k =>
      scored.filter(col("epoch") <= k)
        .select(lit(k.toLong).as("version"), col("event_type"),
          col("day"), col("cnt"), col("ewma"))
    }.orderBy(col("version"), col("event_type"), col("day"))
  }

  /** The conformal band's seasonal lag (days), miscoverage (%),
    * calibration window and minimum calibration count, read by both
    * conformal faces and both oracles. */
  private val seasonLag = 7
  private val alphaPct = 10
  private val calibrationWindow = 50
  private val calibrationMin = 10

  /** A ROLLING conformal band over daily counts — an adaptive fold
    * (seasonal-naive reference + FIFO calibration window), not the
    * one-shot split of
    * `forecast_conformal`: per series day t (rank order), pred =
    * the count `seasonLag` days back (row lag), residuals enter a
    * FIFO window of the last `calibrationWindow`, and the day emits once
    * `calibrationMin` residuals have accumulated, with q̂ = the
    * ⌈keep·(n+1)/100⌉-th smallest calibration residual — integer
    * rank arithmetic on INTEGER residuals, so every published value
    * (pred, lo, hi, covered, n_cal) is
    * exact cross-engine. Shape: two per-series windows (the lag and
    * the bounded preceding-frame residual list) on ONE series-key
    * shuffle — the calibration list is ≤ `calibrationWindow` longs per row,
    * a bounded frame, never history. */
  def conformalMonitorBatch(s: SparkSession, d: String): DataFrame = {
    val keep = 100 - alphaPct
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val withPred = daily
      .withColumn("pred", lag(col("cnt"), seasonLag).over(w))
      .filter(col("pred").isNotNull) // t > seasonLag: the residual rows
      .withColumn("resid", abs(col("cnt") - col("pred")))
    // every residual row carries one, so the bounded preceding frame
    // over THIS subframe is exactly the FIFO calibration window
    val wCal = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-calibrationWindow, -1)
    val n = col("__ncal")
    // the exact rank arithmetic: k = min(⌈keep(n+1)/100⌉, n)
    val k = expr(s"least(((__ncal + 1) * $keep + 99) div 100, __ncal)")
    withPred
      .withColumn("__cal", collect_list(col("resid")).over(wCal))
      .withColumn("__ncal", size(col("__cal")).cast("long"))
      .filter(n >= calibrationMin)
      .withColumn("__qhat",
        element_at(sort_array(col("__cal")), k.cast("int")))
      .select(col("event_type"), col("day"), col("cnt"), col("pred"),
        (col("pred") - col("__qhat")).as("lo"),
        (col("pred") + col("__qhat")).as("hi"),
        (col("cnt") >= col("pred") - col("__qhat") &&
          col("cnt") <= col("pred") + col("__qhat")).as("covered"),
        n.as("n_cal"))
      .orderBy(col("event_type"), col("day"))
  }

  /** The versioned audit of the conformal band: bands publish on day
    * arrival and never revise (q̂ reads only PRIOR residuals), so version k =
    * [[conformalMonitorBatch]]'s rows whose day sits in epochs ≤ k —
    * the anomaly/ewma emission rule on the bounded-state band. */
  def conformalVersionsBatch(s: SparkSession, d: String): DataFrame = {
    val days = graft.Tables.events(s, d)
      .select(date_trunc("day", col("ts")).as("day")).distinct()
    val scored = conformalMonitorBatch(s, d)
      .join(broadcast(dayEpochs(days)), Seq("day"))
      .transform(Reuse.shared) // every retained version filters this one pass
    stack(retained) { k =>
      scored.filter(col("epoch") <= k)
        .select(lit(k.toLong).as("version"), col("event_type"),
          col("day"), col("cnt"), col("pred"), col("lo"), col("hi"),
          col("covered"), col("n_cal"))
    }.orderBy(col("version"), col("event_type"), col("day"))
  }

  /** The rolling-band CTE chain both conformal oracles share:
    * seasonal-naive lag, residual subframe, the FIFO preceding-frame
    * calibration list, the integer rank — every value an
    * exact integer, so the band replays bit for bit. */
  private def conformalCoreSql(period: Int, keep: Int, calWindow: Int,
                               minCal: Int): String =
    s"""WITH daily AS (
       |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       |         count(*) AS cnt
       |  FROM events GROUP BY 1, 2),
       |p AS (SELECT event_type, day, cnt,
       |    lag(cnt, $period) OVER (PARTITION BY event_type ORDER BY day)
       |      AS pred
       |  FROM daily),
       |r AS (SELECT event_type, day, cnt, pred, abs(cnt - pred) AS resid
       |  FROM p WHERE pred IS NOT NULL),
       |c AS (SELECT event_type, day, cnt, pred,
       |    list(resid) OVER (PARTITION BY event_type ORDER BY day
       |      ROWS BETWEEN $calWindow PRECEDING AND 1 PRECEDING) AS cal
       |  FROM r),
       |e AS (SELECT event_type, day, cnt, pred,
       |    CAST(len(cal) AS BIGINT) AS n_cal,
       |    list_sort(cal)[CAST(least(((len(cal) + 1) * $keep + 99) // 100,
       |      len(cal)) AS BIGINT)] AS qhat
       |  FROM c WHERE len(cal) >= $minCal)""".stripMargin

  /** DuckDB replica of [[conformalMonitorBatch]]. */
  private[graft] def conformalMonitorOracleSql: String =
    conformalCoreSql(seasonLag, 100 - alphaPct, calibrationWindow, calibrationMin) +
      """
        |SELECT event_type, day, cnt, pred, pred - qhat AS lo,
        |  pred + qhat AS hi,
        |  (cnt >= pred - qhat AND cnt <= pred + qhat) AS covered, n_cal
        |FROM e ORDER BY event_type, day""".stripMargin

  /** DuckDB replica of [[conformalVersionsBatch]]: the same chain
    * under the shared day-epoch timeline. */
  private[graft] def conformalVersionsOracleSql: String =
    conformalCoreSql(seasonLag, 100 - alphaPct, calibrationWindow, calibrationMin) +
      s""",
         |ep AS (SELECT day AS eday,
         |    ((row_number() OVER (ORDER BY day) - 1) * $epochs)
         |      // (count(*) OVER ()) AS epoch
         |  FROM (SELECT DISTINCT day FROM daily)),
         |v AS (SELECT unnest($retainedSql)
         |        AS version)
         |SELECT CAST(version AS BIGINT) AS version, event_type, e.day,
         |  cnt, pred, pred - qhat AS lo, pred + qhat AS hi,
         |  (cnt >= pred - qhat AND cnt <= pred + qhat) AS covered, n_cal
         |FROM e JOIN ep ON ep.eday = e.day CROSS JOIN v
         |WHERE epoch <= version
         |ORDER BY version, event_type, e.day""".stripMargin

  // ---- sessionization --------------------------------------------------

  val sessionGapSec: Long = 1800L

  /** Batch face: session = maximal run of per-user events with gaps
    * ≤ 30 min, assigned via lag + running sum of session-breaks —
    * two window passes, one shuffle on user_id. */
  def sessionizeBatch(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val prevTs = lag(col("ts"), 1).over(w)
    val isNew = when(prevTs.isNull ||
      (unix_micros(col("ts")) - unix_micros(prevTs)) > sessionGapSec * 1000000L, 1L)
      .otherwise(0L)
    Tables.events(s, d)
      .withColumn("new_sess", isNew)
      .withColumn("session_id",
        sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"))
      .orderBy(col("user_id"), col("session_id"))
  }
}
