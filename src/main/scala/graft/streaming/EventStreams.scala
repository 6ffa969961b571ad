package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming surface over the events table. Each operator has two
  * faces with identical semantics:
  *  - a batch face (used by the correctness oracle), and
  *  - a Structured Streaming face (readStream → transform →
  *    writeStream), spec-driven via the memory sink.
  * The batch face IS the streaming computation — same expressions —
  * so correctness checked on one transfers to the other.
  */
object EventStreams {

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

  /** Streaming face: a parquet directory source (files appear over
    * time in production; the spec stages a static copy) with an
    * event-time watermark bounding aggregate state. */
  def windowCountsStream(s: SparkSession, sourceDir: String,
                         schema: org.apache.spark.sql.types.StructType): DataFrame =
    s.readStream.schema(schema).parquet(sourceDir)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total_value"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"),
        col("total_value"))

  // ---- sliding-window aggregate ---------------------------------------

  /** Shared transform: SLIDING windows (each event lands in
    * window/slide overlapping windows) — the smoothing shape
    * dashboards want when tumbling windows are too jumpy. State cost
    * scales with the overlap factor; the slide, not the window,
    * decides the output cadence. */
  def slidingCounts(events: DataFrame, win: String = "10 minutes",
                    slide: String = "5 minutes"): DataFrame =
    events
      .groupBy(window(col("ts"), win, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"))

  /** Batch face for the oracle gate. */
  def slidingCountsBatch(s: SparkSession, d: String): DataFrame =
    slidingCounts(Tables.events(s, d)).orderBy(col("ws"), col("event_type"))

  /** Streaming face, watermark-bounded like the tumbling one. */
  def slidingCountsStream(s: SparkSession, sourceDir: String,
                          schema: org.apache.spark.sql.types.StructType): DataFrame =
    slidingCounts(
      s.readStream.schema(schema).parquet(sourceDir)
        .withWatermark("ts", "2 hours"))

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
    *    ([[graft.sources.Sources.writeBucketed]]) and the dimension
    *    side reads exchange-free each batch. Beyond that regime the
    *    shape is a keyed state-store lookup (mapGroupsWithState over
    *    a CDC feed of the dimension), which is a different operator,
    *    not a flag.
    */
  def enrich(events: DataFrame, dim: DataFrame,
             key: String = "user_id",
             broadcastDim: Boolean = true): DataFrame =
    if (broadcastDim) events.join(broadcast(dim), Seq(key), "left")
    else events.join(dim.hint("shuffle_hash"), Seq(key), "left")

  /** Batch face for the oracle gate: segment lookup against the even
    * half of the customer dimension (the odd half's absence makes the
    * left join's null-fill face bite in the checked output). */
  def enrichBatch(s: SparkSession, d: String): DataFrame =
    enrich(
      Tables.events(s, d).select(col("event_id"), col("user_id")),
      customerDim(s, d))
      .orderBy(col("event_id"))

  /** The dimension both faces share. */
  def customerDim(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .filter(col("c_custkey") % 2 === 0)
      .select(col("c_custkey").as("user_id"),
        col("c_mktsegment").as("segment"))

  /** Streaming face: same transform over a file stream; no watermark
    * needed — the join is stateless (the static side is re-planned
    * per micro-batch, which is also how dimension updates between
    * batches become visible). */
  def enrichStream(s: SparkSession, sourceDir: String,
                   schema: org.apache.spark.sql.types.StructType,
                   dim: DataFrame,
                   broadcastDim: Boolean = true): DataFrame =
    enrich(
      s.readStream.schema(schema).parquet(sourceDir)
        .select(col("event_id"), col("user_id")),
      dim, broadcastDim = broadcastDim)

  /** THIRD REGIME — keyed state-store lookup, for the dimension past
    * both broadcast (regime 1) and per-batch shuffle (regime 2): the
    * dimension is loaded ONCE into the query's keyed state store
    * (`flatMapGroupsWithState` initial state, seeded from the
    * dimension table — store it bucketed on the key and the seed scan
    * is exchange-free), and from then on each micro-batch pays only
    * the stream side's exchange on the key; the dimension is never
    * rescanned, reshuffled, or reshipped per batch. State shards by
    * key with the stream's partitioning and persists in the state
    * store across batches (checkpoint-backed in production), so the
    * per-batch marginal cost is O(batch), independent of dimension
    * size — the only regime where that holds.
    *
    * Trade vs regime 1/2: dimension updates between batches are no
    * longer visible (the static-join faces re-plan the dim every
    * batch); refreshing state means feeding a CDC stream of dim
    * upserts through the same keyed function — a composition of this
    * operator with [[graft.streaming.ChangeStreams]], not a flag.
    * Semantics match [[enrich]]'s left join exactly: every event
    * emits once, null-filled when its key has no dimension row. */
  def enrichStateStream(s: SparkSession, sourceDir: String,
                        schema: org.apache.spark.sql.types.StructType,
                        dim: DataFrame): DataFrame = {
    import s.implicits._
    val initial = dim
      .select(col("user_id"), col("segment"))
      .as[(Long, String)]
      .groupByKey(_._1)
      .mapValues(_._2)
    s.readStream.schema(schema).parquet(sourceDir)
      .select(col("event_id"), col("user_id"))
      .as[(Long, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout, initial) {
        (uid: Long, rows: Iterator[(Long, Long)],
         state: GroupState[String]) =>
          val seg = state.getOption.orNull
          rows.map { case (eid, _) => (eid, uid, seg) }
      }
      .toDF("event_id", "user_id", "segment")
  }

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
  def clickViewJoin(clicks: DataFrame, views: DataFrame,
                    within: String = "4 hours"): DataFrame =
    clicks.alias("c").join(views.alias("v"),
      col("c.user_id") === col("v.user_id") &&
        col("v.ts") >= col("c.ts") - expr(s"INTERVAL $within") &&
        col("v.ts") <= col("c.ts"))
      .select(col("c.user_id").as("user_id"),
        col("c.event_id").as("click_id"), col("c.ts").as("click_ts"),
        col("v.event_id").as("view_id"), col("v.ts").as("view_ts"))

  /** Batch face for the oracle gate. */
  def clickViewJoinBatch(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
    clickViewJoin(
      ev.filter(col("event_type") === "click").drop("event_type"),
      ev.filter(col("event_type") === "view").drop("event_type"))
      .orderBy(col("click_id"), col("view_id"))
  }

  /** Streaming face: two file streams over the same source, each
    * watermarked — inner stream-stream joins require a watermark +
    * time constraint to expire buffered rows; the watermark delay
    * must cover the join range (a view stays joinable for `within`
    * after its own event time, so the delay is range + reorder
    * slack). */
  def clickViewJoinStream(s: SparkSession, sourceDir: String,
                          schema: org.apache.spark.sql.types.StructType,
                          within: String = "4 hours"): DataFrame = {
    def side(t: String) = s.readStream.schema(schema).parquet(sourceDir)
      .filter(col("event_type") === t)
      .select(col("event_id"), col("user_id"), col("ts"))
      .withWatermark("ts", "5 hours")
    clickViewJoin(side("click"), side("view"), within)
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
                     rules: Seq[(String, org.apache.spark.sql.Column)],
                     win: String = "1 hour"): DataFrame = {
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

  // ---- streaming funnel ------------------------------------------------

  case class FunnelEvent(user_id: Long, event_type: String,
                         ts: java.sql.Timestamp, event_id: Long)
  case class FunnelState(stage: Int, lastTsMicros: Long)
  case class FunnelRow(user_id: Long, stage: Int, event_type: String,
                       ts: java.sql.Timestamp)

  /** Streaming face of [[graft.ops.Analytics.funnelOn]]: per-user
    * stage state advanced by an in-order fold. The batch definition
    * (stage k = EARLIEST qualifying event at or after the stage-k−1
    * timestamp) is exactly what a greedy fold over the user's events
    * in event-time order computes, so the state is two fields (stage
    * index + its timestamp) — no buffered history. Within a
    * micro-batch events arrive unordered → sort by (ts, stage rank,
    * event_id); the stage rank in the tie-break mirrors the batch
    * face's `>=`: a click at the SAME instant as the view converts,
    * so same-timestamp events must fold funnel-order first. Emits one
    * row per stage ADVANCE (append mode); conversion counts are a
    * grouBy away. Late data beyond the source's delivery order is the
    * documented caveat — reordered cross-batch arrivals can under-
    * count conversions the batch face would find, the standard
    * trade of per-event streaming funnels. */
  def funnelStream(events: Dataset[FunnelEvent],
                   stages: Seq[String] = Seq("view", "click", "purchase")): Dataset[FunnelRow] = {
    import events.sparkSession.implicits._
    val stageIdx = stages.zipWithIndex.toMap
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId, it, state: GroupState[FunnelState]) =>
          def micros(e: FunnelEvent): Long =
            Math.floorDiv(e.ts.getTime, 1000L) * 1000000L + e.ts.getNanos / 1000L
          val sorted = it.toSeq.sortBy(e =>
            (micros(e), stageIdx.getOrElse(e.event_type, Int.MaxValue), e.event_id))
          var st = state.getOption.getOrElse(FunnelState(0, Long.MinValue))
          val out = scala.collection.mutable.ArrayBuffer.empty[FunnelRow]
          sorted.foreach { e =>
            if (st.stage < stages.length && e.event_type == stages(st.stage) &&
                (st.stage == 0 || micros(e) >= st.lastTsMicros)) {
              st = FunnelState(st.stage + 1, micros(e))
              out += FunnelRow(userId, st.stage, e.event_type, e.ts)
            }
          }
          state.update(st)
          out.iterator
      }
  }

  /** The ORACLED batch face of [[funnelStream]]'s versioned
    * contract — the attribution audit's epoch-major fold applied to
    * the greedy stage machine: events split into `epochs`
    * micro-batches by `event_id % epochs`, and the stream's arrival
    * order is the lexicographic tuple (epoch, µs, stageIdx,
    * event_id) — the batch sort with epoch prepended. The greedy
    * fold then IS a chain of min-tuple selections: the user's
    * stage-k advance happens at the FIRST stage-k event (in fold
    * order) processed after the stage-(k−1) advance whose EVENT time
    * also satisfies the µs ≥ gate — both conditions explicit,
    * because with epochs prepended, later-in-fold no longer implies
    * later-in-time (an early-time event in a late epoch can advance
    * the stage; an early-epoch event can never advance a stage
    * reached later — the funnelStream late-data caveat made an
    * oracled value, the attribution posture). Version k publishes
    * q_funnel's per-stage user counts over every advance EMITTED
    * through epoch k, i.e. advances whose fold tuple sits in epochs
    * ≤ k. Each stage's advance frame computes once (checkpointed) and
    * every retained version adds one filtered count.
    * StreamingSpec replays the identical epochs through
    * [[funnelStream]] and asserts the per-stage cumulative emitted
    * rows match these counts exactly. */
  def funnelVersionsBatch(s: SparkSession, d: String, epochs: Int = 5,
                          keepVersions: Int = 3,
                          stages: Seq[String] =
                            Seq("view", "click", "purchase")): DataFrame = {
    require(epochs >= 1 && keepVersions >= 1 && keepVersions <= epochs,
      s"need 1 <= keepVersions <= epochs: $keepVersions/$epochs")
    require(stages.nonEmpty, "funnel needs at least one stage")
    val ev = Tables.events(s, d)
      .filter(col("event_type").isin(stages: _*))
      .select(col("user_id"), col("event_type"),
        (col("event_id") % epochs).as("epoch"),
        unix_micros(col("ts")).as("tus"), col("event_id"))
    def tup(stageIdx: Int) = struct(col("epoch"), col("tus"),
      lit(stageIdx).as("sidx"), col("event_id"))
    // stage 1: the first qualifying event in FOLD order
    val first = ev.filter(col("event_type") === stages.head)
      .groupBy(col("user_id")).agg(min(tup(0)).as("__t"))
    val reached = stages.tail.zipWithIndex.scanLeft(first) {
      case (prev, (stage, i)) =>
        ev.filter(col("event_type") === stage)
          .join(prev.select(col("user_id"), col("__t").as("__pt")),
            "user_id")
          // processed after the previous advance AND event time at or
          // past it — the stream's two gates, both explicit
          .filter(tup(i + 1) > col("__pt") &&
            col("tus") >= col("__pt.tus"))
          .groupBy(col("user_id")).agg(min(tup(i + 1)).as("__t"))
    }.map(_.localCheckpoint(false)) // every retained version counts each frame
    (epochs - keepVersions until epochs).flatMap { k =>
      stages.zip(reached).zipWithIndex.map { case ((stage, users), i) =>
        users.filter(col("__t.epoch") <= k)
          .agg(count(lit(1)).as("n_users"))
          .select(lit(k.toLong).as("version"),
            lit(i + 1).as("stage"), lit(stage).as("event_type"),
            col("n_users"))
      }
    }.reduce(_ unionAll _).orderBy(col("version"), col("stage"))
  }

  /** DuckDB replica of [[funnelVersionsBatch]], generated from the
    * SAME (epochs, keepVersions, stages) parameters the Scala face
    * takes — changing a default can no longer silently desynchronize
    * the gate (ADVICE r15; the sibling anomaly/ewma/changepoint/
    * conformal version oracles set the builder precedent). One CTE
    * per stage: stage k's advance is the min fold tuple (epoch, µs,
    * sidx, id) among stage-k events past the stage-(k−1) advance
    * that also pass the event-time gate; each retained version
    * counts the advances whose tuple sits in epochs ≤ version. */
  private[graft] def funnelVersionsOracleSql(
      epochs: Int = 5, keepVersions: Int = 3,
      stages: Seq[String] = Seq("view", "click", "purchase")): String = {
    require(epochs >= 1 && keepVersions >= 1 && keepVersions <= epochs,
      s"need 1 <= keepVersions <= epochs: $keepVersions/$epochs")
    require(stages.nonEmpty, "funnel needs at least one stage")
    val inList = stages.map(st => s"'$st'").mkString(", ")
    def tup(i: Int) =
      s"{'epoch': epoch, 'tus': tus, 'sidx': $i, 'event_id': event_id}"
    val first =
      s"""s1 AS (SELECT user_id, min(${tup(0)}) AS t
         |  FROM ev WHERE event_type = '${stages.head}' GROUP BY 1)""".stripMargin
    val rest = stages.tail.zipWithIndex.map { case (st, i) =>
      s"""s${i + 2} AS (SELECT e.user_id, min(${tup(i + 1)}) AS t
         |  FROM ev e JOIN s${i + 1} ON e.user_id = s${i + 1}.user_id
         |  WHERE e.event_type = '$st'
         |    AND ${tup(i + 1)} > s${i + 1}.t
         |    AND tus >= (s${i + 1}.t).tus
         |  GROUP BY 1)""".stripMargin
    }
    val branches = stages.zipWithIndex.map { case (st, i) =>
      s"""  SELECT version, ${i + 1} AS stage, '$st' AS event_type,
         |    count(*) FILTER (WHERE (t).epoch <= version) AS n_users
         |  FROM s${i + 1} CROSS JOIN v GROUP BY version""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH ev AS (SELECT user_id, event_type, event_id % $epochs AS epoch,
       |    epoch_us(CAST(ts AS TIMESTAMP_US)) AS tus, event_id
       |  FROM events WHERE event_type IN ($inList)),
       |${(first +: rest).mkString(",\n")},
       |v AS (SELECT unnest(range(${epochs - keepVersions}, $epochs))
       |      AS version)
       |SELECT CAST(version AS BIGINT) AS version, stage, event_type,
       |  n_users
       |FROM (
       |$branches)
       |ORDER BY version, stage""".stripMargin
  }

  // ---- streaming last-touch attribution ----------------------------------

  case class TouchState(touchTsMicros: Long, touchType: String)
  case class AttributionRow(user_id: Long, event_id: Long,
                            touch_type: String)

  /** Streaming face of [[graft.ops.Analytics.attributionLastTouch]]:
    * credit each purchase to the user's LATEST preceding view/click
    * within the lookback window, live. The batch face's keyed window
    * (carry-forward last touch in (µs, tag, id) order) is exactly a
    * greedy fold over per-user events in event-time order, so the
    * state is ONE touch (timestamp + type) — no history. Within a
    * micro-batch events sort by (µs, tag, id) with touches (tag 0)
    * before conversions at the same instant — the equal-timestamp
    * touch receives credit, the batch contract. Cross-batch state
    * carries a batch-0 touch to a batch-N conversion; stale touches
    * (beyond `windowDays`) and touchless users credit 'none'. Emits
    * one row per conversion (append mode) — the batch face's share
    * table is a groupBy away. Shares [[FunnelEvent]]'s shape; the
    * funnelStream late-data caveat applies (delivery-order reorder
    * across batches can mis-credit vs the batch replay). */
  def attributionStream(events: Dataset[FunnelEvent],
                        touchTypes: Seq[String] = Seq("view", "click"),
                        convType: String = "purchase",
                        windowDays: Int = 7): Dataset[AttributionRow] = {
    import events.sparkSession.implicits._
    val touches = touchTypes.toSet
    events
      .filter(e => touches.contains(e.event_type) || e.event_type == convType)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TouchState, AttributionRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId, it, state: GroupState[TouchState]) =>
          def micros(e: FunnelEvent): Long =
            Math.floorDiv(e.ts.getTime, 1000L) * 1000000L + e.ts.getNanos / 1000L
          val sorted = it.toSeq.sortBy(e =>
            (micros(e), if (e.event_type == convType) 1 else 0, e.event_id))
          var st = state.getOption.getOrElse(TouchState(Long.MinValue, null))
          val out = scala.collection.mutable.ArrayBuffer.empty[AttributionRow]
          sorted.foreach { e =>
            if (e.event_type == convType) {
              val credit =
                if (st.touchType != null &&
                    micros(e) - st.touchTsMicros <= windowDays * 86400000000L)
                  st.touchType
                else "none"
              out += AttributionRow(userId, e.event_id, credit)
            } else st = TouchState(micros(e), e.event_type)
          }
          state.update(st)
          out.iterator
      }
  }

  /** The ORACLED batch face of [[attributionStream]]'s versioned
    * contract — the `cdc_snapshot_versions` pattern applied to the
    * live attribution fold: events split into `epochs` micro-batches
    * by `event_id % epochs`, and for each RETAINED version k (the
    * newest `keepVersions`) the PUBLISHED credit table — the batch
    * twin `q_attribution`'s (touch_type, n_purchases, share) summary
    * over every conversion the stream has emitted through epoch k —
    * is re-derived through the stream's OWN fold semantics.
    *
    * Those semantics are epoch-major: the stream's arrival order IS
    * epoch order, with the batch contract's (µs, tag, id) sort
    * inside each micro-batch — so the greedy one-touch state is
    * exactly a carry-forward last over the (epoch, µs, tag, id)
    * lexicographic order, ONE keyed window (q_attribution's window
    * with epoch prepended). Where event time interleaves across
    * epochs, the fold credits by arrival, not by global time — the
    * documented late-data caveat, here made an oracled value instead
    * of a disclaimer. One windowed pass is shared by all versions
    * (checkpointed conversion frame); each version adds one filtered
    * aggregate over it. StreamingSpec replays the identical epochs
    * through [[attributionStream]] and asserts each version's
    * cumulative emitted rows aggregate to exactly these audit rows. */
  def attributionVersionsBatch(s: SparkSession, d: String,
                               epochs: Int = 5, keepVersions: Int = 3,
                               touchTypes: Seq[String] = Seq("view", "click"),
                               convType: String = "purchase",
                               windowDays: Int = 7): DataFrame = {
    require(epochs >= 1 && keepVersions >= 1 && keepVersions <= epochs,
      s"need 1 <= keepVersions <= epochs: $keepVersions/$epochs")
    val tagged = Tables.events(s, d)
      .filter(col("event_type").isin(touchTypes :+ convType: _*))
      .select(col("user_id"), col("event_id"),
        (col("event_id") % epochs).as("epoch"),
        unix_micros(col("ts")).as("tus"), col("event_type"),
        when(col("event_type") === convType, 1).otherwise(0).as("tag"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("epoch"), col("tus"), col("tag"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val conv = tagged
      .withColumn("touch_ts",
        last(when(col("tag") === 0, col("tus")), ignoreNulls = true).over(w))
      .withColumn("touch_type",
        last(when(col("tag") === 0, col("event_type")), ignoreNulls = true)
          .over(w))
      .filter(col("tag") === 1)
      .select(col("epoch"),
        when(col("touch_ts").isNotNull &&
            col("tus") - col("touch_ts") <=
              lit(windowDays * 86400000000L),
          col("touch_type")).otherwise(lit("none")).as("touch_type"))
      // every retained version aggregates this one pass
      .localCheckpoint(false)
    (epochs - keepVersions until epochs).map { k =>
      val cnt = conv.filter(col("epoch") <= k)
        .groupBy(col("touch_type")).agg(count(lit(1)).as("n_purchases"))
      val tot = cnt.agg(sum(col("n_purchases")).as("tot"))
      cnt.crossJoin(broadcast(tot))
        .select(lit(k.toLong).as("version"), col("touch_type"),
          col("n_purchases"),
          graft.ops.ExactRatio.r4(col("n_purchases"), col("tot"))
            .as("share"))
    }.reduce(_ unionAll _).orderBy(col("version"), col("touch_type"))
  }

  // ---- streaming anomaly monitor ----------------------------------------

  case class DailyCount(event_type: String, day: java.sql.Timestamp, cnt: Long)
  case class AnomalyState(seen: Long, recent: List[Long])
  case class AnomalyRow(event_type: String, day: java.sql.Timestamp,
                        cnt: Long, z: Double, is_anomaly: Boolean)

  /** Streaming face of [[graft.ops.TimeSeriesOps.anomalyZScore]]: the
    * live monitor that scores each FINALIZED day's count against the
    * trailing `windowDays`-day window as soon as the day closes. In
    * production the input is the watermark-finalized output of the
    * daily windowed count (append mode emits each (type, day, cnt)
    * exactly once); state per series is the last `windowDays − 1`
    * counts plus a seen-counter — O(windowDays) longs, not history.
    * Same contract as the batch face: warm-up days (fewer than
    * `windowDays` observed) emit nothing, zero-variance windows pin
    * z = 0, the window is ROW-based (calendar gaps don't widen it),
    * and the trailing window never peeks at the future. Within a
    * micro-batch days fold in event-time order; finalized days arrive
    * monotonically per series because the upstream watermark is. */
  def anomalyStream(daily: Dataset[DailyCount], windowDays: Int = 7,
                    threshold: Double = 2.0): Dataset[AnomalyRow] = {
    import daily.sparkSession.implicits._
    daily
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[AnomalyState, AnomalyRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (typ, it, state: GroupState[AnomalyState]) =>
          val sorted = it.toSeq.sortBy(_.day.getTime)
          var st = state.getOption.getOrElse(AnomalyState(0L, Nil))
          val out = scala.collection.mutable.ArrayBuffer.empty[AnomalyRow]
          sorted.foreach { e =>
            val win = (st.recent :+ e.cnt).takeRight(windowDays)
            st = AnomalyState(st.seen + 1,
              (st.recent :+ e.cnt).takeRight(windowDays - 1))
            if (st.seen >= windowDays) {
              // counts are integers ≤ 2^53: the double sums below are
              // EXACT, so mean/variance match the batch face's window
              // aggregates to rounding
              val n = win.length
              val mean = win.map(_.toDouble).sum / n
              val m2 = win.map(c => { val d = c - mean; d * d }).sum
              val sd = if (n > 1) math.sqrt(m2 / (n - 1)) else 0.0
              val z = if (sd == 0) 0.0 else (e.cnt - mean) / sd
              out += AnomalyRow(typ, e.day, e.cnt,
                BigDecimal(z).setScale(4, BigDecimal.RoundingMode.HALF_UP)
                  .toDouble,
                math.abs(z) >= threshold)
            }
          }
          state.update(st)
          out.iterator
      }
  }

  /** The day-timeline epoch map both versioned monitor audits share:
    * the global distinct-day timeline splits into `epochs` contiguous
    * chunks (epoch of the day at global rank r, 1-based, is
    * ((r−1)·epochs) div n) — day order IS the stream's arrival order
    * (finalized days arrive monotonically), so "epochs ≤ k have
    * arrived" is exactly a day-prefix. The partition-less window runs
    * on the DISTINCT-DAY frame — calendar-bounded (≤366 rows/year),
    * the PSI-bins class of documented bounded global windows. */
  private def dayEpochs(days: DataFrame, epochs: Int): DataFrame = {
    val n = days.agg(count(lit(1)).as("__n"))
    days.withColumn("__rn",
        row_number().over(Window.orderBy(col("day"))))
      .crossJoin(broadcast(n))
      .select(col("day"),
        expr(s"((CAST(__rn AS BIGINT) - 1) * $epochs) div __n")
          .as("epoch"))
  }

  /** The ORACLED batch face of [[anomalyStream]]'s versioned
    * contract — the cdc_snapshot_versions pattern applied to the
    * live z-score monitor: the day timeline splits into `epochs`
    * contiguous chunks and, for each RETAINED version k (the newest
    * `keepVersions`), the monitor's cumulative published rows are
    * re-derived through the batch twin's own window chain
    * ([[graft.ops.TimeSeriesOps.anomalyZScore]]). The trailing
    * window scores a day the moment it finalizes, so version k =
    * the batch rows whose day sits in epochs ≤ k — one batch pass
    * checkpointed, one filtered projection per version. StreamingSpec
    * replays the identical epochs through [[anomalyStream]] and
    * asserts each version's cumulative emitted rows equal exactly
    * these audit rows. */
  def anomalyVersionsBatch(s: SparkSession, d: String, epochs: Int = 5,
                           keepVersions: Int = 3, windowDays: Int = 7,
                           threshold: Double = 2.0): DataFrame = {
    require(epochs >= 1 && keepVersions >= 1 && keepVersions <= epochs,
      s"need 1 <= keepVersions <= epochs: $keepVersions/$epochs")
    val days = graft.Tables.events(s, d)
      .select(date_trunc("day", col("ts")).as("day")).distinct()
    val scored = graft.ops.TimeSeriesOps
      .anomalyZScore(s, d, windowDays, threshold)
      .join(broadcast(dayEpochs(days, epochs)), Seq("day"))
      .localCheckpoint(false) // every retained version filters this one pass
    (epochs - keepVersions until epochs).map { k =>
      scored.filter(col("epoch") <= k)
        .select(lit(k.toLong).as("version"), col("event_type"),
          col("day"), col("cnt"), col("z"), col("is_anomaly"))
    }.reduce(_ unionAll _)
      .orderBy(col("version"), col("event_type"), col("day"))
  }

  case class CpState(buf: List[(Long, Long)])
  case class ChangepointRow(event_type: String, day: java.sql.Timestamp,
                            cnt: Long, pre_mean: Double, post_mean: Double,
                            score: Double, is_change: Boolean)

  /** Streaming face of [[graft.ops.TimeSeriesOps.changepoints]]: the
    * live regime-shift monitor over watermark-finalized daily counts.
    * The batch statistic is FORWARD-looking (a candidate day is
    * scored by its own w-day window against the w days before it), so
    * the stream can only score day D once day D+w−1 has finalized —
    * emission lags the newest closed day by w−1 days, the inherent
    * latency of a two-sided statistic (the anomaly monitor's one-
    * sided z has no such lag; that is the trade between them). State
    * per series is a ring of the last 2w−1 (day, count) pairs —
    * O(w), not history. Arithmetic matches the batch face's window
    * aggregates (integer counts ⇒ exact double sums; sample sd;
    * zero-variance pre-window scores by the raw shift), so a corpus
    * replay reproduces the batch rows at 4dp exactly (spec'd).
    * Within a micro-batch days fold in event-time order; finalized
    * days arrive monotonically per series because the upstream
    * watermark is. */
  def changepointStream(daily: Dataset[DailyCount], w: Int = 7,
                        minScore: Double = 3.0): Dataset[ChangepointRow] = {
    require(w >= 2, s"window must be >= 2: $w")
    import daily.sparkSession.implicits._
    daily
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[CpState, ChangepointRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (typ, it, state: GroupState[CpState]) =>
          val sorted = it.toSeq.sortBy(_.day.getTime)
          var buf = state.getOption.map(_.buf).getOrElse(Nil)
          val out = scala.collection.mutable.ArrayBuffer.empty[ChangepointRow]
          def r4(x: Double): Double =
            BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
          sorted.foreach { d =>
            buf = buf :+ (d.day.getTime, d.cnt)
            if (buf.length == 2 * w) {
              val pre = buf.take(w)
              val post = buf.slice(w, 2 * w)
              val preMean = pre.map(_._2.toDouble).sum / w
              val postMean = post.map(_._2.toDouble).sum / w
              val m2 = pre.map(c => { val dd = c._2 - preMean; dd * dd }).sum
              val sd = math.sqrt(m2 / (w - 1))
              val shift = postMean - preMean
              val score = if (sd == 0) shift else shift / sd
              val (dayMs, cnt) = buf(w)
              out += ChangepointRow(typ, new java.sql.Timestamp(dayMs), cnt,
                r4(preMean), r4(postMean), r4(score),
                math.abs(score) >= minScore)
              buf = buf.drop(1)
            }
          }
          state.update(CpState(buf))
          out.iterator
      }
  }

  /** The ORACLED batch face of [[changepointStream]]'s versioned
    * contract: the forward-looking statistic can only score day D
    * once day D+w−1 — D's TRIGGER day, the (w−1)-lead on the
    * per-series day order — has finalized, so version k holds the
    * batch rows ([[graft.ops.TimeSeriesOps.changepointsOn]]) whose
    * trigger day sits in epochs ≤ k: the monitor's inherent
    * emission lag promoted from a scaladoc disclaimer to an oracled
    * value. Same shared [[dayEpochs]] timeline, one checkpointed scored
    * pass, one filtered projection per retained version;
    * StreamingSpec replays the epochs through the live stream and
    * asserts cumulative-emitted ≡ audit per version. */
  def changepointVersionsBatch(s: SparkSession, d: String,
                               epochs: Int = 5, keepVersions: Int = 3,
                               w: Int = 7,
                               minScore: Double = 3.0): DataFrame = {
    require(epochs >= 1 && keepVersions >= 1 && keepVersions <= epochs,
      s"need 1 <= keepVersions <= epochs: $keepVersions/$epochs")
    val daily = graft.Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val trig = daily.select(col("event_type"), col("day"),
      lead(col("day"), w - 1).over(Window.partitionBy(col("event_type"))
        .orderBy(col("day"))).as("__trigger"))
    val ep = dayEpochs(daily.select(col("day")).distinct(), epochs)
      .withColumnRenamed("day", "__trigger")
    val scored = graft.ops.TimeSeriesOps.changepointsOn(daily, w, minScore)
      .join(trig, Seq("event_type", "day"))
      .join(broadcast(ep), Seq("__trigger"))
      .localCheckpoint(false) // every retained version filters this one pass
    (epochs - keepVersions until epochs).map { k =>
      scored.filter(col("epoch") <= k)
        .select(lit(k.toLong).as("version"), col("event_type"),
          col("day"), col("cnt"), col("pre_mean"), col("post_mean"),
          col("score"), col("is_change"))
    }.reduce(_ unionAll _)
      .orderBy(col("version"), col("event_type"), col("day"))
  }

  case class EwmaState(seen: Long, e: Double)
  case class EwmaRow(event_type: String, day: java.sql.Timestamp,
                     cnt: Long, ewma: Double)

  /** Streaming face of [[graft.ops.TimeSeriesOps.ewma]]: the live
    * smoother over watermark-finalized daily counts. EWMA is the
    * ideal streaming statistic — the ENTIRE history folds into one
    * double per series (e₁ = y₁, eₜ = α·yₜ + (1−α)·eₜ₋₁), so state is
    * O(1) regardless of stream age, unlike the anomaly monitor's
    * O(window) ring. The recursion is written term-for-term as the
    * batch face's fold (`alpha * y + (1 - alpha) * e`), so replaying
    * a corpus through this face reproduces the batch values at 4dp
    * EXACTLY (spec'd). Within a micro-batch days fold in event-time
    * order; finalized days arrive monotonically per series because
    * the upstream watermark is. */
  def ewmaStream(daily: Dataset[DailyCount],
                 alpha: Double = 0.3): Dataset[EwmaRow] = {
    import daily.sparkSession.implicits._
    daily
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[EwmaState, EwmaRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (typ, it, state: GroupState[EwmaState]) =>
          val sorted = it.toSeq.sortBy(_.day.getTime)
          var st = state.getOption.getOrElse(EwmaState(0L, 0.0))
          val out = sorted.map { d =>
            val e = if (st.seen == 0L) d.cnt.toDouble
                    else alpha * d.cnt + (1 - alpha) * st.e
            st = EwmaState(st.seen + 1, e)
            // same explicit 4dp quantization as the batch face (floor
            // arithmetic, not BigDecimal) so face equality is exact
            EwmaRow(typ, d.day, d.cnt,
              math.floor(e * 10000.0 + 0.5) / 10000.0)
          }
          state.update(st)
          out.iterator
      }
  }

  /** The ORACLED batch face of [[ewmaStream]]'s versioned contract:
    * eₜ folds only days ≤ t and a published value never revises, so
    * version k = the batch twin's rows
    * ([[graft.ops.TimeSeriesOps.ewma]]) whose day sits in epochs
    * ≤ k — the [[anomalyVersionsBatch]] emission rule carried onto
    * the O(1)-state smoother. Shared [[dayEpochs]] timeline, one
    * checkpointed batch pass, one filtered projection per retained
    * version; StreamingSpec replays the epochs live and pins
    * cumulative-output equality. */
  def ewmaVersionsBatch(s: SparkSession, d: String, epochs: Int = 5,
                        keepVersions: Int = 3,
                        alpha: Double = 0.3): DataFrame = {
    require(epochs >= 1 && keepVersions >= 1 && keepVersions <= epochs,
      s"need 1 <= keepVersions <= epochs: $keepVersions/$epochs")
    val days = graft.Tables.events(s, d)
      .select(date_trunc("day", col("ts")).as("day")).distinct()
    val scored = graft.ops.TimeSeriesOps.ewma(s, d, alpha)
      .join(broadcast(dayEpochs(days, epochs)), Seq("day"))
      .localCheckpoint(false) // every retained version filters this one pass
    (epochs - keepVersions until epochs).map { k =>
      scored.filter(col("epoch") <= k)
        .select(lit(k.toLong).as("version"), col("event_type"),
          col("day"), col("cnt"), col("ewma"))
    }.reduce(_ unionAll _)
      .orderBy(col("version"), col("event_type"), col("day"))
  }

  case class ConformalState(lastP: List[Long], cal: List[Long],
                            lastDayMs: Long = Long.MinValue)
  case class ConformalRow(event_type: String, day: java.sql.Timestamp,
                          cnt: Long, pred: Long, lo: Long, hi: Long,
                          covered: Boolean, n_cal: Int)

  /** Streaming face of [[graft.ops.Forecast.conformalForecast]]: the
    * live finite-sample band monitor. Where the EWMA/z-score monitor
    * promises nothing about its alert rate, the conformal band's
    * miss rate is ≤ α by construction (for exchangeable residuals) —
    * the difference between "this looks unusual" and "this is
    * outside the 90% band".
    *
    * Per series the state is BOUNDED whatever the stream age: the
    * trailing `period` counts (the seasonal-naive reference) and a
    * FIFO calibration window of the last `calWindow` absolute
    * residuals. q̂ recomputes per finalized day as the
    * ⌈keep·(n+1)/100⌉-th smallest calibration residual — the SAME
    * integer rank arithmetic as the batch face ((keep(n+1)+99) div
    * 100, clamped to n), so a corpus replayed through this face
    * reproduces the batch q̂ exactly once the calibration windows
    * align. The rolling window also makes the band ADAPTIVE — a
    * variance regime change ages out of q̂ in `calWindow` days,
    * which the one-shot batch face cannot do. Emission starts after
    * `minCal` residuals; earlier days only calibrate.
    *
    * ORDERING GUARD: days sort within a micro-batch, but a day that
    * arrives in a LATER batch than its successor would append to the
    * seasonal reference and calibration window out of order,
    * silently corrupting both. The state carries the last finalized
    * day per key and DROPS such late arrivals (the same
    * at-the-state's-frontier contract the other stateful faces
    * document) — a dropped day is a visibly missing output row, not
    * a silently wrong band. */
  def conformalStream(daily: Dataset[DailyCount], period: Int = 7,
                      alphaPct: Int = 10, calWindow: Int = 50,
                      minCal: Int = 10): Dataset[ConformalRow] = {
    import daily.sparkSession.implicits._
    val keep = 100 - alphaPct
    daily
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[ConformalState, ConformalRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (typ, it, state: GroupState[ConformalState]) =>
          val sorted = it.toSeq.sortBy(_.day.getTime)
          var st = state.getOption.getOrElse(ConformalState(Nil, Nil))
          val out = scala.collection.mutable.ArrayBuffer.empty[ConformalRow]
          sorted.foreach { d =>
            if (d.day.getTime <= st.lastDayMs) {
              // cross-batch straggler behind the state frontier:
              // folding it in would corrupt the reference/calibration
            } else {
            st = st.copy(lastDayMs = d.day.getTime)
            if (st.lastP.length >= period) {
              val pred = st.lastP.head // the count `period` days back
              val resid = math.abs(d.cnt - pred)
              if (st.cal.length >= minCal) {
                val n = st.cal.length
                val k = math.min((keep * (n + 1) + 99) / 100, n)
                val qhat = st.cal.sorted.apply(k - 1)
                out += ConformalRow(typ, d.day, d.cnt, pred,
                  pred - qhat, pred + qhat,
                  d.cnt >= pred - qhat && d.cnt <= pred + qhat, n)
              }
              st = st.copy(cal = (st.cal :+ resid).takeRight(calWindow))
            }
            st = st.copy(lastP = (st.lastP :+ d.cnt).takeRight(period))
            }
          }
          state.update(st)
          out.iterator
      }
  }

  /** The ORACLED batch face of [[conformalStream]]'s ROLLING band —
    * the stream's own adaptive fold (seasonal-naive reference +
    * FIFO calibration window), not the one-shot split of
    * `forecast_conformal`: per series day t (rank order), pred =
    * the count `period` days back (row lag), residuals enter a
    * FIFO window of the last `calWindow`, and the day emits once
    * `minCal` residuals have accumulated, with q̂ = the
    * ⌈keep·(n+1)/100⌉-th smallest calibration residual — the SAME
    * integer rank arithmetic as the stream, on INTEGER residuals,
    * so every published value (pred, lo, hi, covered, n_cal) is
    * exact cross-engine. Shape: two per-series windows (the lag and
    * the bounded preceding-frame residual list) on ONE series-key
    * shuffle — the calibration list is ≤ `calWindow` longs per row,
    * a bounded frame, never history. */
  def conformalMonitorBatch(s: SparkSession, d: String, period: Int = 7,
                            alphaPct: Int = 10, calWindow: Int = 50,
                            minCal: Int = 10): DataFrame = {
    val keep = 100 - alphaPct
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val withPred = daily
      .withColumn("pred", lag(col("cnt"), period).over(w))
      .filter(col("pred").isNotNull) // t > period: the residual rows
      .withColumn("resid", abs(col("cnt") - col("pred")))
    // every residual row carries one, so the bounded preceding frame
    // over THIS subframe is exactly the stream's FIFO window
    val wCal = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-calWindow, -1)
    val n = col("__ncal")
    // the stream's exact rank arithmetic: k = min(⌈keep(n+1)/100⌉, n)
    val k = expr(s"least(((__ncal + 1) * $keep + 99) div 100, __ncal)")
    withPred
      .withColumn("__cal", collect_list(col("resid")).over(wCal))
      .withColumn("__ncal", size(col("__cal")).cast("long"))
      .filter(n >= minCal)
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

  /** The versioned audit of the conformal monitor — the LAST live
    * face in the promotion series: bands publish on day arrival and
    * never revise (q̂ reads only PRIOR residuals), so version k =
    * [[conformalMonitorBatch]]'s rows whose day sits in epochs ≤ k —
    * the anomaly/ewma emission rule on the bounded-state band. */
  def conformalVersionsBatch(s: SparkSession, d: String, epochs: Int = 5,
                             keepVersions: Int = 3, period: Int = 7,
                             alphaPct: Int = 10, calWindow: Int = 50,
                             minCal: Int = 10): DataFrame = {
    require(epochs >= 1 && keepVersions >= 1 && keepVersions <= epochs,
      s"need 1 <= keepVersions <= epochs: $keepVersions/$epochs")
    val days = graft.Tables.events(s, d)
      .select(date_trunc("day", col("ts")).as("day")).distinct()
    val scored = conformalMonitorBatch(s, d, period, alphaPct,
        calWindow, minCal)
      .join(broadcast(dayEpochs(days, epochs)), Seq("day"))
      .localCheckpoint(false) // every retained version filters this one pass
    (epochs - keepVersions until epochs).map { k =>
      scored.filter(col("epoch") <= k)
        .select(lit(k.toLong).as("version"), col("event_type"),
          col("day"), col("cnt"), col("pred"), col("lo"), col("hi"),
          col("covered"), col("n_cal"))
    }.reduce(_ unionAll _)
      .orderBy(col("version"), col("event_type"), col("day"))
  }

  /** The rolling-band CTE chain both conformal oracles share:
    * seasonal-naive lag, residual subframe, the FIFO preceding-frame
    * calibration list, the stream's integer rank — every value an
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
  private[graft] def conformalMonitorOracleSql(
      period: Int = 7, alphaPct: Int = 10, calWindow: Int = 50,
      minCal: Int = 10): String =
    conformalCoreSql(period, 100 - alphaPct, calWindow, minCal) +
      """
        |SELECT event_type, day, cnt, pred, pred - qhat AS lo,
        |  pred + qhat AS hi,
        |  (cnt >= pred - qhat AND cnt <= pred + qhat) AS covered, n_cal
        |FROM e ORDER BY event_type, day""".stripMargin

  /** DuckDB replica of [[conformalVersionsBatch]]: the same chain
    * under the shared day-epoch timeline. */
  private[graft] def conformalVersionsOracleSql(
      epochs: Int = 5, keepVersions: Int = 3, period: Int = 7,
      alphaPct: Int = 10, calWindow: Int = 50,
      minCal: Int = 10): String =
    conformalCoreSql(period, 100 - alphaPct, calWindow, minCal) +
      s""",
         |ep AS (SELECT day AS eday,
         |    ((row_number() OVER (ORDER BY day) - 1) * $epochs)
         |      // (count(*) OVER ()) AS epoch
         |  FROM (SELECT DISTINCT day FROM daily)),
         |v AS (SELECT unnest(range(${epochs - keepVersions}, $epochs))
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

  // Streaming face: arbitrary stateful processing. State is the
  // last-seen timestamp + running session counter per user.
  case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, event_id: Long)
  case class SessionState(lastTsMicros: Long, sessionId: Long)
  case class SessionRow(user_id: Long, session_id: Long, n_events: Long,
                        start_ts: java.sql.Timestamp, end_ts: java.sql.Timestamp)

  /** flatMapGroupsWithState sessionizer. Within a micro-batch the
    * group's events arrive unordered — sort, then fold with the
    * carried state so sessions continue across micro-batches. */
  def sessionizeStream(events: Dataset[SessionEvent]): Dataset[SessionRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId, it, state: GroupState[SessionState]) =>
          val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var st = state.getOption.getOrElse(SessionState(Long.MinValue, 0L))
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, SessionEvent)]
          sorted.foreach { e =>
            // full µs precision (getTime alone drops sub-ms nanos) so
            // the gap predicate matches the batch face's unix_micros
            val tsMicros =
              Math.floorDiv(e.ts.getTime, 1000L) * 1000000L + e.ts.getNanos / 1000L
            val sid =
              if (st.lastTsMicros == Long.MinValue ||
                  tsMicros - st.lastTsMicros > sessionGapSec * 1000000L)
                st.sessionId + 1
              else st.sessionId
            st = SessionState(tsMicros, sid)
            out += ((sid, e))
          }
          state.update(st)
          out.groupBy(_._1).iterator.map { case (sid, evts) =>
            val ts = evts.map(_._2.ts)
            SessionRow(userId, sid, evts.size.toLong,
              ts.minBy(_.getTime), ts.maxBy(_.getTime))
          }
      }
  }
}
