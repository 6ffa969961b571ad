package graft

import graft.streaming.EventStreams
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {

  test("streaming windowed counts equal the batch face (memory sink)") {
    val staged = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val events = Tables.events(spark, sf)
    events.write.mode("overwrite").parquet(staged)
    val q = EventStreams.windowCountsStream(spark, staged, events.schema)
      .writeStream.outputMode("complete")
      .format("memory").queryName("wc_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("wc_out")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
          r.getDouble(3))).toSet
      val batch = EventStreams.windowCountsBatch(spark, sf)
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
          r.getDouble(3))).toSet
      assert(streamed === batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("streaming enrichment equals the batch face, left-join null-fill bites") {
    val staged = java.nio.file.Files.createTempDirectory("graft-enrich").toString
    val events = Tables.events(spark, sf)
    events.write.mode("overwrite").parquet(staged)
    val q = EventStreams.enrichStream(spark, staged, events.schema,
        EventStreams.customerDim(spark, sf))
      .writeStream.outputMode("append")
      .format("memory").queryName("enrich_out")
      .start()
    try {
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[Long]("event_id"), r.getAs[Long]("user_id"),
          Option(r.getAs[String]("segment")))
      val streamed = spark.table("enrich_out").collect().map(key).toSet
      val batch = EventStreams.enrichBatch(spark, sf).collect().map(key).toSet
      assert(streamed === batch)
      // no fact rows lost to the dimension, and the null-fill face is
      // real: odd users have no dim row
      assert(streamed.size === events.count())
      assert(streamed.exists(_._3.isEmpty))
      assert(streamed.exists(_._3.nonEmpty))
      streamed.foreach { case (_, uid, seg) =>
        assert(seg.isEmpty === (uid % 2 != 0), s"user $uid segment $seg")
      }
    } finally q.stop()
  }

  test("non-broadcast enrichment (big-dimension regime) matches the " +
      "broadcast face, streaming and batch") {
    // the broadcastDim=false contract: same rows, different physical
    // shape — the fallback for a dimension past the broadcast bound
    val dim = EventStreams.customerDim(spark, sf)
    val ev = Tables.events(spark, sf).select(col("event_id"), col("user_id"))
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("event_id"), r.getAs[Long]("user_id"),
        Option(r.getAs[String]("segment")))
    val bc = EventStreams.enrich(ev, dim).collect().map(key).toSet
    val shuffled = EventStreams.enrich(ev, dim, broadcastDim = false)
      .collect().map(key).toSet
    assert(shuffled === bc)
    // and the physical plans really differ: the default broadcasts,
    // the fallback plans an equi-join that can shuffle/bucket the dim
    val bcPlan = EventStreams.enrich(ev, dim)
      .queryExecution.sparkPlan.toString
    val shPlan = EventStreams.enrich(ev, dim, broadcastDim = false)
      .queryExecution.sparkPlan.toString
    assert(bcPlan.contains("BroadcastHashJoin"), bcPlan)
    assert(shPlan.contains("ShuffledHashJoin") &&
      !shPlan.contains("BroadcastHashJoin"), shPlan)
    // the streaming face honors the flag end to end
    val staged = java.nio.file.Files.createTempDirectory("graft-enrich2").toString
    val events = Tables.events(spark, sf)
    events.write.mode("overwrite").parquet(staged)
    val q = EventStreams.enrichStream(spark, staged, events.schema, dim,
        broadcastDim = false)
      .writeStream.outputMode("append")
      .format("memory").queryName("enrich_nb_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("enrich_nb_out").collect().map(key).toSet
      assert(streamed === bc)
    } finally q.stop()
  }

  test("state-store enrichment (huge-dimension regime) matches the batch " +
      "face and never replans the dimension per batch") {
    val dim = EventStreams.customerDim(spark, sf)
    val staged = java.nio.file.Files.createTempDirectory("graft-enrich3").toString
    val events = Tables.events(spark, sf)
    // split the facts across two batches: batch 2 arriving AFTER the
    // seed proves state persists rather than being rebuilt per batch
    val half1 = events.filter(col("event_id") % 2 === 0)
    val half2 = events.filter(col("event_id") % 2 =!= 0)
    half1.write.mode("overwrite").parquet(staged)
    val stream = EventStreams.enrichStateStream(spark, staged, events.schema, dim)
    // the physical shape IS the contract of this regime: a stateful
    // keyed operator, no join operator re-planning the dim each batch
    val plan = stream.queryExecution.analyzed.toString
    assert(plan.contains("FlatMapGroupsWithState"), plan)
    assert(!plan.toLowerCase.contains("join"), plan)
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("enrich_ss_out")
      .start()
    try {
      q.processAllAvailable()
      half2.write.mode("append").parquet(staged)
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[Long]("event_id"), r.getAs[Long]("user_id"),
          Option(r.getAs[String]("segment")))
      val streamed = spark.table("enrich_ss_out").collect().map(key).toSet
      val batch = EventStreams.enrichBatch(spark, sf).collect().map(key).toSet
      assert(streamed === batch)
      // both batches enriched — including keys whose only events came
      // in batch 2, which only state (not a per-batch dim scan) serves
      val b2 = half2.select(col("event_id")).collect().map(_.getLong(0)).toSet
      assert(streamed.exists(t => b2(t._1) && t._3.nonEmpty))
      // and the query really ran state: the progress reports a
      // stateful operator with keys in the store
      val st = q.lastProgress.stateOperators
      assert(st.nonEmpty && st.exists(_.numRowsTotal > 0),
        q.lastProgress.toString)
    } finally q.stop()
  }

  test("stream-stream join pairs equal the batch face's attribution set") {
    val staged = java.nio.file.Files.createTempDirectory("graft-ssjoin").toString
    val events = Tables.events(spark, sf)
    events.write.mode("overwrite").parquet(staged)
    val q = EventStreams.clickViewJoinStream(spark, staged, events.schema)
      .writeStream.outputMode("append")
      .format("memory").queryName("ssjoin_out")
      .start()
    try {
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[Long]("click_id"), r.getAs[Long]("view_id"))
      val streamed = spark.table("ssjoin_out").collect().map(key).toSet
      val batch = EventStreams.clickViewJoinBatch(spark, sf).collect()
      assert(streamed === batch.map(key).toSet)
      assert(streamed.nonEmpty)
      // the range is real: every pair's view precedes its click by
      // at most the window
      batch.foreach { r =>
        val gap = r.getAs[java.sql.Timestamp]("click_ts").getTime -
          r.getAs[java.sql.Timestamp]("view_ts").getTime
        assert(gap >= 0 && gap <= 4L * 3600 * 1000, s"gap $gap ms")
      }
    } finally q.stop()
  }

  test("streaming sliding counts equal the batch face, 2 windows per event") {
    val staged = java.nio.file.Files.createTempDirectory("graft-slide").toString
    val events = Tables.events(spark, sf)
    events.write.mode("overwrite").parquet(staged)
    val q = EventStreams.slidingCountsStream(spark, staged, events.schema)
      .writeStream.outputMode("complete")
      .format("memory").queryName("slide_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("slide_out")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      val batch = EventStreams.slidingCountsBatch(spark, sf)
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      assert(streamed === batch)
      // overlap invariant: summed window counts = 2x the event count
      assert(batch.toSeq.map(_._3).sum === 2 * events.count())
    } finally q.stop()
  }

  test("streaming quality monitor emits batch-identical windows in APPEND mode") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Tables.events(spark, sf)
      .select("ts", "event_type", "value")
    val rows = events.collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getDouble(2)))
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(java.sql.Timestamp, String, Double)]
    // append mode is the point: the monitor must be sortless and
    // watermark-finalized, not a complete-mode snapshot whose state
    // never expires on a live ingest
    val q = EventStreams.qualityMonitor(
        mem.toDF().toDF("ts", "event_type", "value")
          .withWatermark("ts", "2 hours"),
        EventStreams.defaultQualityRules)
      .writeStream.outputMode("append")
      .format("memory").queryName("qmon_out")
      .start()
    try {
      mem.addData(rows.toIndexedSeq)
      q.processAllAvailable()
      // a far-future advancer pushes the watermark past every real
      // window so their final counts emit; its own window stays open
      val advancer = new java.sql.Timestamp(
        rows.map(_._1.getTime).max + 10L * 3600 * 1000)
      mem.addData((advancer, "click", 1.0))
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[java.sql.Timestamp]("ws"), r.getAs[Long]("n_rows"),
          r.getAs[Long]("ts_in_range"), r.getAs[Long]("type_known"),
          r.getAs[Long]("value_in_range"))
      val streamed = spark.table("qmon_out").collect().map(key).toSet
      val batch = EventStreams.qualityMonitorBatch(spark, sf).collect()
        .map(key).toSet
      assert(streamed === batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("streaming attribution credits the latest in-window touch " +
      "across micro-batches and matches the batch share table") {
    import graft.streaming.EventStreams.{FunnelEvent, attributionStream}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    def td(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-$d%02d 00:00:00")
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[FunnelEvent]
    val q = attributionStream(mem.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("attr_mb").start()
    try {
      // batch 0: u1 view then click (click is latest); u2 purchases
      // with no touch → none
      mem.addData(
        FunnelEvent(1L, "view", t(1), 1L), FunnelEvent(1L, "click", t(2), 2L),
        FunnelEvent(2L, "purchase", t(3), 3L))
      q.processAllAvailable()
      // batch 1: u1 purchase — the batch-0 click crossed the gap;
      // u3 view+purchase at the SAME instant → the touch credits;
      // u4 view on day 1, purchase on day 20 → stale → none
      mem.addData(
        FunnelEvent(1L, "purchase", t(5), 4L),
        FunnelEvent(3L, "view", t(7), 5L),
        FunnelEvent(3L, "purchase", t(7), 6L),
        FunnelEvent(4L, "view", td(1), 7L))
      q.processAllAvailable()
      mem.addData(FunnelEvent(4L, "purchase", td(20), 8L))
      q.processAllAvailable()
      val rows = spark.table("attr_mb").collect()
        .map(r => r.getLong(1) -> r.getString(2)).toMap
      assert(rows === Map(3L -> "none", 4L -> "click", 6L -> "view",
        8L -> "none"))
    } finally q.stop()

    // corpus-level: single-pass replay equals the oracled batch face
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .as[FunnelEvent]
    val mem2 = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[FunnelEvent]
    val q2 = attributionStream(mem2.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("attr_corpus").start()
    try {
      mem2.addData(ev.collect().toIndexedSeq: _*)
      q2.processAllAvailable()
      val streamed = spark.table("attr_corpus").groupBy(col("touch_type"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val batch = graft.ops.Analytics.attributionLastTouch(spark, sf)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(streamed === batch)
    } finally q2.stop()
  }

  test("attribution versioned audit: the live fold's cumulative " +
      "output per retained epoch equals the oracled batch audit") {
    import graft.streaming.EventStreams.{FunnelEvent, attributionStream}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val audit = graft.streaming.EventStreams
      .attributionVersionsBatch(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .as[FunnelEvent].collect()
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[FunnelEvent]
    val q = attributionStream(mem.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("attr_versions").start()
    try {
      (0 until 5).foreach { k =>
        // one micro-batch per epoch — the audit's fold order
        val batch = ev.filter(_.event_id % 5 == k)
        if (batch.nonEmpty) mem.addData(batch.toIndexedSeq: _*)
        q.processAllAvailable()
        if (k >= 2) { // the retained versions
          val counts = spark.table("attr_versions")
            .groupBy(col("touch_type")).agg(count(lit(1)).as("n"))
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          val expected = audit.collect {
            case ((v, tt), (n, _)) if v == k => tt -> n
          }.toMap
          assert(counts === expected, s"version $k diverged")
        }
      }
      // shares re-derive from the counts (half-up 4dp) per version
      audit.foreach { case ((v, _), (n, share)) =>
        val tot = audit.collect {
          case ((v2, _), (n2, _)) if v2 == v => n2
        }.sum
        assert(share === ((n * 20000L + tot) / (2 * tot)) / 10000.0)
      }
    } finally q.stop()
  }

  test("anomaly versioned audit: the live monitor's cumulative output " +
      "per retained day-epoch equals the oracled batch audit") {
    import graft.streaming.EventStreams.{DailyCount, anomalyStream}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val audit = graft.streaming.EventStreams
      .anomalyVersionsBatch(spark, sf).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(r =>
        (r.getString(1), r.getTimestamp(2), r.getLong(3),
          r.getDouble(4), r.getBoolean(5))).toSet).toMap
    val daily = Tables.events(spark, sf)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt")).as[DailyCount].collect()
    // the audit's epoch rule on the global distinct-day timeline
    val days = daily.map(_.day).distinct.sortBy(_.getTime)
    def epoch(d: java.sql.Timestamp): Long =
      days.indexWhere(_ == d).toLong * 5 / days.length
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[DailyCount]
    val q = anomalyStream(mem.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("anomaly_versions").start()
    try {
      (0 until 5).foreach { k =>
        // one micro-batch per day-epoch — the audit's arrival order
        val batch = daily.filter(e => epoch(e.day) == k)
        if (batch.nonEmpty) mem.addData(batch.toIndexedSeq: _*)
        q.processAllAvailable()
        if (k >= 2) { // the retained versions
          val got = spark.table("anomaly_versions").collect()
            .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2),
              r.getDouble(3), r.getBoolean(4))).toSet
          assert(got === audit(k.toLong), s"version $k diverged")
        }
      }
    } finally q.stop()
  }

  test("changepoint versioned audit: cumulative output per retained " +
      "epoch equals the batch audit — emission lags by the trigger day") {
    import graft.streaming.EventStreams.{DailyCount, changepointStream}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val audit = graft.streaming.EventStreams
      .changepointVersionsBatch(spark, sf).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(r =>
        (r.getString(1), r.getTimestamp(2), r.getLong(3),
          r.getDouble(4), r.getDouble(5), r.getDouble(6),
          r.getBoolean(7))).toSet).toMap
    val daily = Tables.events(spark, sf)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt")).as[DailyCount].collect()
    val days = daily.map(_.day).distinct.sortBy(_.getTime)
    def epoch(d: java.sql.Timestamp): Long =
      days.indexWhere(_ == d).toLong * 5 / days.length
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[DailyCount]
    val q = changepointStream(mem.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("cp_versions").start()
    try {
      (0 until 5).foreach { k =>
        val batch = daily.filter(e => epoch(e.day) == k)
        if (batch.nonEmpty) mem.addData(batch.toIndexedSeq: _*)
        q.processAllAvailable()
        if (k >= 2) {
          val got = spark.table("cp_versions").collect()
            .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2),
              r.getDouble(3), r.getDouble(4), r.getDouble(5),
              r.getBoolean(6))).toSet
          assert(got === audit(k.toLong), s"version $k diverged")
        }
      }
    } finally q.stop()
  }

  test("ewma versioned audit: cumulative output per retained day-epoch " +
      "equals the batch audit — values never revise") {
    import graft.streaming.EventStreams.{DailyCount, ewmaStream}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val audit = graft.streaming.EventStreams
      .ewmaVersionsBatch(spark, sf).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(r =>
        (r.getString(1), r.getTimestamp(2), r.getLong(3),
          r.getDouble(4))).toSet).toMap
    val daily = Tables.events(spark, sf)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt")).as[DailyCount].collect()
    val days = daily.map(_.day).distinct.sortBy(_.getTime)
    def epoch(d: java.sql.Timestamp): Long =
      days.indexWhere(_ == d).toLong * 5 / days.length
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[DailyCount]
    val q = ewmaStream(mem.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("ewma_versions").start()
    try {
      (0 until 5).foreach { k =>
        val batch = daily.filter(e => epoch(e.day) == k)
        if (batch.nonEmpty) mem.addData(batch.toIndexedSeq: _*)
        q.processAllAvailable()
        if (k >= 2) {
          val got = spark.table("ewma_versions").collect()
            .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2),
              r.getDouble(3))).toSet
          assert(got === audit(k.toLong), s"version $k diverged")
        }
      }
    } finally q.stop()
  }

  test("funnel versioned audit: per-stage cumulative emitted rows per " +
      "retained epoch equal the oracled batch audit") {
    import graft.streaming.EventStreams.{FunnelEvent, funnelStream}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val audit = graft.streaming.EventStreams
      .funnelVersionsBatch(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getString(2), r.getLong(3))).toMap
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .as[FunnelEvent].collect()
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[FunnelEvent]
    val q = funnelStream(mem.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("funnel_versions").start()
    try {
      (0 until 5).foreach { k =>
        // one micro-batch per epoch — the audit's fold order
        val batch = ev.filter(_.event_id % 5 == k)
        if (batch.nonEmpty) mem.addData(batch.toIndexedSeq: _*)
        q.processAllAvailable()
        if (k >= 2) { // the retained versions
          val counts = spark.table("funnel_versions")
            .groupBy(col("stage")).agg(count(lit(1)).as("n"))
            .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
          (1 to 3).foreach { stage =>
            val (_, expected) = audit((k.toLong, stage))
            assert(counts.getOrElse(stage, 0L) === expected,
              s"version $k stage $stage diverged")
          }
        }
      }
    } finally q.stop()
  }

  test("conformal rolling band: corpus replay through the stream equals " +
      "the oracled batch face; versioned audit matches per epoch") {
    import graft.streaming.EventStreams.{DailyCount, conformalStream}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getTimestamp(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6), r.getLong(7))
    val batch = graft.streaming.EventStreams
      .conformalMonitorBatch(spark, sf).collect().map(key).toSet
    val audit = graft.streaming.EventStreams
      .conformalVersionsBatch(spark, sf).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(r =>
        (r.getString(1), r.getTimestamp(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getBoolean(7),
          r.getLong(8))).toSet).toMap
    val daily = Tables.events(spark, sf)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt")).as[DailyCount].collect()
    val days = daily.map(_.day).distinct.sortBy(_.getTime)
    def epoch(d: java.sql.Timestamp): Long =
      days.indexWhere(_ == d).toLong * 5 / days.length
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[DailyCount]
    val q = conformalStream(mem.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("conformal_versions_mb").start()
    try {
      (0 until 5).foreach { k =>
        val b = daily.filter(e => epoch(e.day) == k)
        if (b.nonEmpty) mem.addData(b.toIndexedSeq: _*)
        q.processAllAvailable()
        if (k >= 2) {
          val got = spark.table("conformal_versions_mb").collect()
            .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2),
              r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6),
              r.getInt(7).toLong)).toSet
          assert(got === audit(k.toLong), s"version $k diverged")
        }
      }
      // the full replay equals the oracled batch face row for row
      val streamed = spark.table("conformal_versions_mb").collect()
        .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6),
          r.getInt(7).toLong)).toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("streaming funnel advances per-user stages across micro-batches " +
      "and matches the batch conversion counts") {
    import graft.streaming.EventStreams.{FunnelEvent, funnelStream}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[FunnelEvent]
    val q = funnelStream(mem.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("funnel_mb").start()
    try {
      // batch 0: u1 views+clicks; u2 purchases (no view — ignored)
      mem.addData(
        FunnelEvent(1L, "view", t(1), 1L), FunnelEvent(1L, "click", t(2), 2L),
        FunnelEvent(2L, "purchase", t(1), 3L))
      q.processAllAvailable()
      // batch 1: u1 purchases — stage state crossed the batch gap;
      // u2 views (stage 1 starts late); same-instant view+click for
      // u3 converts both (the >= edge, funnel-order tie-break)
      mem.addData(
        FunnelEvent(1L, "purchase", t(3), 4L),
        FunnelEvent(2L, "view", t(4), 5L),
        FunnelEvent(3L, "click", t(5), 6L), FunnelEvent(3L, "view", t(5), 7L))
      q.processAllAvailable()
      val rows = spark.table("funnel_mb").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      assert(rows === Set(
        (1L, 1, "view"), (1L, 2, "click"), (1L, 3, "purchase"),
        (2L, 1, "view"),
        (3L, 1, "view"), (3L, 2, "click")))
    } finally q.stop()

    // corpus-level: single-pass replay equals the oracled batch face
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .as[FunnelEvent]
    val mem2 = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[FunnelEvent]
    val q2 = funnelStream(mem2.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("funnel_corpus").start()
    try {
      mem2.addData(ev.collect().toIndexedSeq: _*)
      q2.processAllAvailable()
      val streamed = spark.table("funnel_corpus").groupBy(col("stage"))
        .agg(countDistinct(col("user_id")).as("n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val batch = graft.ops.Analytics.funnel(spark, sf).collect()
        .map(r => r.getInt(0) -> r.getLong(2)).toMap
      assert(streamed === batch)
    } finally q2.stop()
  }

  test("streaming anomaly monitor matches the batch z-scores across batches") {
    import graft.streaming.EventStreams.{DailyCount, anomalyStream}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def day(n: Int) = java.sql.Timestamp.valueOf(f"2024-01-$n%02d 00:00:00")
    // planted series: 7 flat days (warm-up emits nothing until day 7,
    // zero variance pins z = 0), then a spike across the batch gap
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[DailyCount]
    val q = anomalyStream(mem.toDS(), windowDays = 7, threshold = 2.0)
      .writeStream.outputMode("append").format("memory")
      .queryName("anomaly_mb").start()
    try {
      mem.addData((1 to 7).map(i => DailyCount("a", day(i), 10L)): _*)
      q.processAllAvailable()
      val warm = spark.table("anomaly_mb").collect()
        .map(r => (r.getTimestamp(1), r.getDouble(3), r.getBoolean(4)))
      assert(warm.toSeq === Seq((day(7), 0.0, false))) // days 1-6 silent
      // batch 2: the spike — state carried the 6 trailing flat days
      mem.addData(DailyCount("a", day(8), 100L))
      q.processAllAvailable()
      val rows = spark.table("anomaly_mb").collect()
        .map(r => (r.getTimestamp(1), r.getLong(2), r.getBoolean(4))).toSet
      assert(rows.contains((day(8), 100L, true)), rows)
    } finally q.stop()

    // corpus replay (two batches split mid-month) equals the batch face
    val daily = Tables.events(spark, sf)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
      .as[DailyCount].collect().sortBy(_.day.getTime)
    val (b1, b2) = daily.partition(_.day.getTime <= day(7).getTime)
    val mem2 = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[DailyCount]
    val q2 = anomalyStream(mem2.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("anomaly_corpus").start()
    try {
      mem2.addData(b1.toIndexedSeq: _*)
      q2.processAllAvailable()
      mem2.addData(b2.toIndexedSeq: _*)
      q2.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getString(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3),
          r.getBoolean(4))
      val streamed = spark.table("anomaly_corpus").collect().map(key).toSet
      val batch = graft.ops.TimeSeriesOps.anomalyZScore(spark, sf)
        .collect().map(key).toSet
      assert(streamed === batch)
    } finally q2.stop()
  }

  test("streaming changepoint scores a regime shift across batches and " +
       "matches the batch face on a corpus replay") {
    import graft.streaming.EventStreams.{DailyCount, changepointStream}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def day(n: Int) = java.sql.Timestamp.valueOf(f"2024-01-$n%02d 00:00:00")
    // planted regime: 7 days at 10, then 7 at 50 — split MID-shift so
    // the pre-window state must survive the batch gap; day 8 (first
    // day of the new regime) is the changepoint, and scoring it
    // requires waiting for days 8..14 (the forward window)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[DailyCount]
    val q = changepointStream(mem.toDS(), w = 7, minScore = 3.0)
      .writeStream.outputMode("append").format("memory")
      .queryName("cp_mb").start()
    try {
      mem.addData((1 to 10).map(i =>
        DailyCount("a", day(i), if (i <= 7) 10L else 50L)): _*)
      q.processAllAvailable()
      // only day 8 has a full forward window buffered? no — days
      // 8,9,10 are buffered but scoring day 8 needs day 14: nothing
      // emitted yet for the shift; day 8's turn comes in batch 2
      val early = spark.table("cp_mb").collect()
      assert(early.isEmpty) // first scoreable day is day 8 (needs 14)
      mem.addData((11 to 14).map(i => DailyCount("a", day(i), 50L)): _*)
      q.processAllAvailable()
      val rows = spark.table("cp_mb").collect()
        .map(r => r.getTimestamp(1) ->
          ((r.getDouble(3), r.getDouble(4), r.getBoolean(6)))).toMap
      // day 8: pre = 7×10, post = 7×50, sd(pre) = 0 → score = raw
      // shift 40, flagged
      assert(rows(day(8)) === ((10.0, 50.0, true)))
    } finally q.stop()

    // corpus replay (two batches) equals the batch face exactly
    val daily = Tables.events(spark, sf)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
      .as[DailyCount].collect().sortBy(_.day.getTime)
    val (b1, b2) = daily.partition(_.day.getTime <= day(7).getTime)
    val mem2 = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[DailyCount]
    val q2 = changepointStream(mem2.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("cp_corpus").start()
    try {
      mem2.addData(b1.toIndexedSeq: _*)
      q2.processAllAvailable()
      mem2.addData(b2.toIndexedSeq: _*)
      q2.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getString(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3),
          r.getDouble(4), r.getDouble(5), r.getBoolean(6))
      val streamed = spark.table("cp_corpus").collect().map(key).toSet
      val batch = graft.ops.TimeSeriesOps.changepoints(spark, sf)
        .collect().map(key).toSet
      assert(streamed === batch)
    } finally q2.stop()
  }

  test("streaming EWMA carries one double of state and matches batch at 4dp") {
    import graft.streaming.EventStreams.{DailyCount, ewmaStream}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def day(n: Int) = java.sql.Timestamp.valueOf(f"2024-01-$n%02d 00:00:00")
    // planted: first value seeds e, later values smooth across the
    // batch boundary (state = one double, no ring buffer)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[DailyCount]
    val q = ewmaStream(mem.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("ewma_mb").start()
    try {
      mem.addData(DailyCount("a", day(1), 10L), DailyCount("a", day(2), 20L))
      q.processAllAvailable()
      mem.addData(DailyCount("a", day(3), 30L)) // crosses the batch gap
      q.processAllAvailable()
      val got = spark.table("ewma_mb").collect()
        .map(r => (r.getTimestamp(1), r.getDouble(3))).toMap
      assert(got(day(1)) === 10.0)
      assert(got(day(2)) === 13.0)   // 0.3·20 + 0.7·10
      assert(got(day(3)) === 18.1)   // 0.3·30 + 0.7·13
    } finally q.stop()

    // corpus replay split across two batches equals the batch face
    val daily = Tables.events(spark, sf)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
      .as[DailyCount].collect().sortBy(_.day.getTime)
    val (b1, b2) = daily.partition(_.day.getTime <= day(15).getTime)
    val mem2 = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[DailyCount]
    val q2 = ewmaStream(mem2.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("ewma_corpus").start()
    try {
      mem2.addData(b1.toIndexedSeq: _*)
      q2.processAllAvailable()
      mem2.addData(b2.toIndexedSeq: _*)
      q2.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getString(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3))
      val streamed = spark.table("ewma_corpus").collect().map(key).toSet
      val batch = graft.ops.TimeSeriesOps.ewma(spark, sf)
        .collect().map(key).toSet
      assert(streamed === batch)
    } finally q2.stop()
  }

  test("flatMapGroupsWithState sessionizer matches the batch sessionizer") {
    import spark.implicits._
    val eventsDs = Tables.events(spark, sf)
      .select(col("user_id"), col("ts"), col("event_id"))
      .as[EventStreams.SessionEvent]

    // Drive the stateful operator through a real streaming query over
    // the same rows (single micro-batch via the in-memory source).
    implicit val sqlCtx = spark.sqlContext
    val memStream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[EventStreams.SessionEvent]
    memStream.addData(eventsDs.collect().toIndexedSeq)
    val q = EventStreams.sessionizeStream(memStream.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("sess_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = EventStreams.sessionizeBatch(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed === batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("batch sessionize: session event counts sum to total events") {
    val sess = EventStreams.sessionizeBatch(spark, sf)
    val total = sess.agg(sum("n_events")).first().getLong(0)
    assert(total === Tables.events(spark, sf).count())
  }

  test("streaming dedup keeps first arrival per distinct text across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    case object T { val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00") }
    def ts(m: Int) = new java.sql.Timestamp(T.base.getTime + m * 60000L)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = graft.streaming.DedupStreams
      .dedupStream(mem.toDF().toDF("doc_id", "ts", "text"))
      .select("doc_id", "text")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      // batch 1: two distinct texts, one in-batch duplicate
      mem.addData((1L, ts(0), "alpha"), (2L, ts(1), "alpha"), (3L, ts(2), "beta"))
      q.processAllAvailable()
      // batch 2: cross-batch duplicate of alpha + one new text
      mem.addData((4L, ts(3), "alpha"), (5L, ts(4), "gamma"))
      q.processAllAvailable()
      val out = spark.table("dedup_out").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(out.values.toSet === Set("alpha", "beta", "gamma"))
      assert(out.keySet === Set(1L, 3L, 5L)) // first arrival wins, state spans batches
    } finally q.stop()
  }

  test("streaming decontamination flags the same pairs as the batch operator") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // deliberately the CORRECTNESS-gate scale (sf0.01, 500 docs), not
    // the suite default: this replays the exact corpus and split the
    // oracled dedup_decontaminate entry runs, so the streaming face
    // cannot drift from the batch face at the scale the driver checks
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val reference = docs.filter(col("doc_id") % 2 =!= 0)
    val (bandIndex, refSets) =
      graft.streaming.DedupStreams.referenceIndex(reference)
    // stage the corpus as a stream with synthetic event times
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val rows = corpus.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), new java.sql.Timestamp(base + r.getLong(0)),
        r.getString(1)))
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, String)]
    mem.addData(rows.toIndexedSeq)
    val q = graft.streaming.DedupStreams
      .decontaminateStream(mem.toDF().toDF("doc_id", "ts", "text"),
        bandIndex, refSets)
      .writeStream.outputMode("append")
      .format("memory").queryName("decon_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("decon_out").collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))).toSet
      val batch = graft.ops.DedupOps.decontaminate(corpus, reference)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(streamed === batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("streaming near-dup dedup flags the batch pair set on the sf0.01 corpus") {
    // replay the sf0.01 corpus (arrival order = doc_id order, ts
    // monotone in doc_id) and assert exactly-once emission of exactly
    // the oracled batch pair set
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val d = "/root/testdata/sf0.01"
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val rows = Tables.documents(spark, d).select("doc_id", "text").collect()
      .sortBy(_.getLong(0))
      .map(r => (r.getLong(0), new java.sql.Timestamp(base + r.getLong(0)),
        r.getString(1)))
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, String)]
    mem.addData(rows.toIndexedSeq)
    val q = graft.streaming.DedupStreams
      .nearDedupStream(mem.toDF().toDF("doc_id", "ts", "text"))
      .writeStream.outputMode("append")
      .format("memory").queryName("neardup_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("neardup_out").collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
      // exactly-once: no pair may be emitted twice across buckets
      assert(streamed.length === streamed.distinct.length)
      val batch = graft.streaming.DedupStreams.nearDedupBatch(spark, d)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(streamed.toSet === batch.toSet)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("near-dup stream state spans micro-batches and expires with the horizon") {
    // cross-batch bucket state, redelivery no-op, out-of-order
    // orientation, horizon expiry
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val text = "the quick brown fox jumps over the lazy dog again and again"
    def ts(m: Int) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime + m * 60000L)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = graft.streaming.DedupStreams
      .nearDedupStream(mem.toDF().toDF("doc_id", "ts", "text"),
        horizon = java.time.Duration.ofMinutes(10))
      .writeStream.outputMode("append")
      .format("memory").queryName("neardup_mb").start()
    try {
      // docs 7/8 have < 3 tokens → no shingles: they must be dropped
      // before state (shared null-fed signatures would bucket every
      // shingle-less doc together and the 0/0 jaccard used to throw)
      mem.addData((1L, ts(0), text), (2L, ts(1), "completely unrelated words"),
        (7L, ts(0), "hi there"), (8L, ts(1), "ok bye"))
      q.processAllAvailable()
      // batch 2: near-dup of doc 1 arrives in a LATER micro-batch —
      // the flag must come from cross-batch bucket state
      mem.addData((3L, ts(2), text))
      q.processAllAvailable()
      // batch 3: advance the watermark far past the horizon, then a
      // duplicate of the (expired) doc 1 — no flag may be emitted
      // redelivery: doc 1 arrives AGAIN (at-least-once upstream) — a
      // known member is a no-op, so no pair may be re-emitted
      mem.addData((1L, ts(0), text))
      q.processAllAvailable()
      // out-of-order: doc 6's event time lands BETWEEN docs 1 and 3
      // but it arrives after both — pairs must still orient
      // later-flags-earlier by event time: (6,1) and (3,6)
      mem.addData((6L, ts(1), text))
      q.processAllAvailable()
      // advance the watermark far past the horizon, then a duplicate
      // of the (expired) doc 1 — no flag may be emitted
      // the advancer needs >= 3 tokens: shingle-less docs are dropped
      // BEFORE the watermark node and advance nothing
      mem.addData((4L, ts(60), "the watermark advancing document"))
      q.processAllAvailable()
      mem.addData((5L, ts(61), text))
      q.processAllAvailable()
      val out = spark.table("neardup_mb").collect()
        .map(r => (r.getLong(0), r.getLong(2)))
      assert(out.toSet === Set((3L, 1L), (6L, 1L), (3L, 6L)))
      assert(out.length === 3) // exactly-once even under redelivery
    } finally q.stop()
  }

  test("streaming CDC apply maintains the snapshot the batch merge defines") {
    import graft.streaming.ChangeStreams
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-cdc").toString
    val (snap, ckpt) = (s"$root/snap", s"$root/ckpt")
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, String, Long)]
    val q = ChangeStreams.applyChangesStream(
      mem.toDF().toDF("k", "v", "op", "seq"), snap, ckpt,
      keys = Seq("k"), ord = Seq("seq"), keepVersions = 2)
    try {
      // batch 0: pure inserts
      mem.addData((1L, "a", "U", 1L), (2L, "b", "U", 1L))
      q.processAllAvailable()
      def state(): Map[Long, String] = ChangeStreams.readSnapshot(spark, snap)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(state() === Map(1L -> "a", 2L -> "b"))
      // batch 1: update 2, delete 1, insert 3 — and an update-then-
      // delete on 3 within the SAME batch must resolve to delete
      mem.addData((2L, "b2", "U", 2L), (1L, "x", "D", 2L),
        (3L, "c", "U", 2L), (3L, "c2", "D", 3L))
      q.processAllAvailable()
      assert(state() === Map(2L -> "b2"))
      // batch 2: re-insert a deleted key
      mem.addData((1L, "a2", "U", 4L))
      q.processAllAvailable()
      assert(state() === Map(1L -> "a2", 2L -> "b2"))
      // retention: only the latest keepVersions=2 versions survive,
      // and the older retained one is still readable (time travel)
      val vs = ChangeStreams.versions(spark, snap)
      assert(vs.length === 2 && vs === vs.sorted.reverse)
      val prev = ChangeStreams.readSnapshot(spark, snap, version = vs(1))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(prev === Map(2L -> "b2"))
    } finally q.stop()

    // retention below 2 removes concurrent readers' headroom — refused
    intercept[IllegalArgumentException] {
      ChangeStreams.applyChangesStream(
        mem.toDF().toDF("k", "v", "op", "seq"), snap, s"$root/ckpt1",
        keys = Seq("k"), ord = Seq("seq"), keepVersions = 1)
    }

    // a FRESH checkpoint over the existing snapshot restarts batch
    // ids at 0, behind the newest version — the lineage mismatch must
    // fail the query loudly, never silently freeze the snapshot
    val mem2 = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, String, Long)](
        org.apache.spark.sql.Encoders.product[(Long, String, String, Long)],
        spark.sqlContext)
    val q2 = ChangeStreams.applyChangesStream(
      mem2.toDF().toDF("k", "v", "op", "seq"), snap, s"$root/ckpt2",
      keys = Seq("k"), ord = Seq("seq"))
    try {
      mem2.addData((9L, "z", "U", 9L))
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
    } finally q2.stop()
  }

  test("snapshot version audit: the stream's retained batch= dirs " +
       "reproduce the batch fold's audit rows, markers stay paired") {
    import graft.streaming.ChangeStreams
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // three epochs exercising update, delete, re-insert, and a
    // same-batch double-upsert (latest event_id must win)
    val epochRows: Seq[Seq[(Long, Long, String, Long)]] = Seq(
      Seq((1L, 10L, "U", 1L), (2L, 20L, "U", 2L), (3L, 30L, "U", 3L)),
      Seq((2L, 25L, "U", 4L), (1L, 0L, "D", 5L), (4L, 40L, "U", 6L),
        (4L, 45L, "U", 7L)),
      Seq((1L, 11L, "U", 8L), (3L, 0L, "D", 9L)))
    val changes = epochRows.zipWithIndex.flatMap { case (rows, k) =>
      rows.map { case (u, v, op, id) => (u, v, op, k.toLong, id) }
    }.toDF("user_id", "v_micro", "op", "epoch", "event_id")
    val audit = ChangeStreams.snapshotVersionsOn(changes,
        epochs = 3, keepVersions = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getLong(3)))
    assert(audit.toSeq === Seq((1L, 3L, 0.01, 4L), (2L, 3L, 0.0081, 4L)))
    // replay the identical epochs through the STREAMING face
    val root = java.nio.file.Files.createTempDirectory("graft-sva").toString
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, String, Long)]
    val q = ChangeStreams.applyChangesStream(
      mem.toDF().toDF("user_id", "v_micro", "op", "event_id"),
      s"$root/snap", s"$root/ckpt",
      keys = Seq("user_id"), ord = Seq("event_id"), keepVersions = 2)
    try {
      epochRows.foreach { rows => mem.addData(rows); q.processAllAvailable() }
      val vs = ChangeStreams.versions(spark, s"$root/snap")
      assert(vs.sorted === Seq(1L, 2L)) // version 0 pruned
      val streamAudit = vs.sorted.map { v =>
        val r = ChangeStreams.readSnapshot(spark, s"$root/snap", v)
          .agg(count(lit(1)), sum(col("v_micro")), max(col("user_id")))
          .collect().head
        (v, r.getLong(0),
          math.rint(r.getLong(1) / 10000.0 * 1e4) / 1e4, r.getLong(2))
      }
      assert(streamAudit === audit.toSeq)
      // marker-first publication: every batch= dir has its marker and
      // every marker its dir — no orphan on either side
      val names = new java.io.File(s"$root/snap").listFiles()
        .map(_.getName).toSet
      val dirs = names.filter(_.startsWith("batch=")).map(_.drop(6))
      val marks = names.filter(_.startsWith("_done_")).map(_.drop(6))
      assert(dirs === marks)
    } finally q.stop()
  }

  test("streaming MG sketch keeps heavy hitters with the merged bound") {
    import graft.streaming.{ChangeStreams, SketchStreams}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-mgs").toString
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[String]
    val q = SketchStreams.topkStream(
      mem.toDF().toDF("term"), s"$root/sk", s"$root/ckpt",
      capacity = 8, keepVersions = 2)
    try {
      // three batches whose term frequencies are known exactly; the
      // heavy terms recur ACROSS batches, so their mass must survive
      // the per-batch summarize + cross-batch merge
      val mk = (spec: Seq[(String, Int)]) =>
        spec.flatMap { case (t, n) => Seq.fill(n)(t) }
      val b0 = mk(Seq("hot" -> 40, "warm" -> 20, "a" -> 2, "b" -> 2,
        "c" -> 2, "d" -> 2, "e" -> 2, "f" -> 2, "g" -> 2, "h" -> 2))
      val b1 = mk(Seq("hot" -> 35, "warm" -> 25, "i" -> 3, "j" -> 3,
        "k" -> 3, "m" -> 3))
      val b2 = mk(Seq("hot" -> 25, "warm" -> 15, "n" -> 4, "p" -> 4))
      val truth = (b0 ++ b1 ++ b2).groupBy(identity).view.mapValues(_.size)
      val n = (b0 ++ b1 ++ b2).size
      mem.addData(b0); q.processAllAvailable()
      mem.addData(b1); q.processAllAvailable()
      mem.addData(b2); q.processAllAvailable()
      val sk = ChangeStreams.readSnapshot(spark, s"$root/sk")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // bounded state: never more than capacity counters
      assert(sk.size <= 8)
      val bound = n / 8
      // the mergeable-summaries contract across the whole stream:
      // estimates undercount by at most n/capacity, and anything
      // heavier than the bound is PRESENT
      sk.foreach { case (t, est) =>
        assert(est <= truth(t), s"$t overcounts")
        assert(truth(t) - est <= bound, s"$t beyond bound")
      }
      truth.filter(_._2 > bound).foreach { case (t, _) =>
        assert(sk.contains(t), s"heavy $t missing")
      }
      // the dominant terms' ordering survives summarization
      assert(sk("hot") > sk("warm"))
      // retention: keepVersions honored, newest first
      val vs = ChangeStreams.versions(spark, s"$root/sk")
      assert(vs.length === 2 && vs === vs.sorted.reverse)
    } finally q.stop()
  }

  test("streaming CM sketch: lossless grid merge equals the whole-stream " +
       "counts, probes never undercount, state stays d x w") {
    import graft.streaming.{ChangeStreams, SketchStreams}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-cms").toString
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[String]
    val q = SketchStreams.countMinStream(
      mem.toDF().toDF("term"), s"$root/sk", s"$root/ckpt",
      depth = 4, width = 64, keepVersions = 2)
    try {
      val mk = (spec: Seq[(String, Int)]) =>
        spec.flatMap { case (t, n) => Seq.fill(n)(t) }
      val b0 = mk(Seq("hot" -> 30, "warm" -> 10, "a" -> 3, "b" -> 2))
      val b1 = mk(Seq("hot" -> 20, "cold" -> 5, "c" -> 1))
      val truth = (b0 ++ b1).groupBy(identity).view.mapValues(_.size.toLong)
      mem.addData(b0); q.processAllAvailable()
      mem.addData(b1); q.processAllAvailable()
      // bounded state: the grid never exceeds d x w cells, and its
      // total mass is exactly depth x arrivals (lossless merge)
      val grid = ChangeStreams.readSnapshot(spark, s"$root/sk").collect()
      assert(grid.length <= 4 * 64)
      assert(grid.map(_.getLong(2)).sum === 4L * (b0.size + b1.size))
      // probes: overcount-only for seen terms; an unseen term may
      // only report collision mass (>= 0)
      val est = SketchStreams.countMinEstimate(spark, s"$root/sk",
        truth.keys.toSeq :+ "never", depth = 4, width = 64)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      truth.foreach { case (t, n) =>
        assert(est(t) >= n, s"$t undercounts: ${est(t)} < $n")
      }
      assert(est("never") >= 0L)
      // cross-face parity: the streamed grid's estimates match the
      // batch face run over the SAME rows (merge is lossless)
      val batchEst = graft.ops.TextOps.countMinOn(
        (b0 ++ b1).zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text"),
        depth = 4, width = 64, k = 10)
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
      batchEst.foreach { case (t, e) =>
        assert(est(t) === e, s"$t stream ${est(t)} != batch $e")
      }
      val vs = ChangeStreams.versions(spark, s"$root/sk")
      assert(vs.length === 2 && vs === vs.sorted.reverse)
    } finally q.stop()
  }

  test("streaming HLL fold: deterministic union tracks the one-shot " +
       "sketch within rsd; state is sketches, never the distinct set") {
    import graft.streaming.{ChangeStreams, SketchStreams}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-hll").toString
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Long)]
    val q = SketchStreams.hllStream(
      mem.toDF().toDF("event_type", "user_id"), s"$root/sk", s"$root/ckpt",
      lgK = 12, keepVersions = 2)
    try {
      // overlapping user sets across batches: union must dedupe
      val b0 = (0L until 300L).map(u => ("view", u)) ++
        (0L until 50L).map(u => ("click", u))
      val b1 = (150L until 450L).map(u => ("view", u)) ++
        (25L until 60L).map(u => ("click", u))
      mem.addData(b0); q.processAllAvailable()
      mem.addData(b1); q.processAllAvailable()
      val est = SketchStreams.hllEstimate(spark, s"$root/sk").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // the union fold is deterministic but NOT bit-identical to the
      // one-shot sketch (coupon-mode promotion differs through a
      // union); both must sit within the lgK=12 rsd band of the batch
      // face and of the exact counts (450 / 60)
      val batchFace = (b0 ++ b1).toDF("event_type", "user_id")
        .groupBy(col("event_type"))
        .agg(hll_sketch_estimate(
          hll_sketch_agg(col("user_id"), 12)).as("e"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      est.foreach { case (t, e) =>
        val b = batchFace(t)
        assert(math.abs(e - b) <= math.max(3, b * 0.05),
          s"$t stream $e vs batch $b")
      }
      assert(math.abs(est("view") - 450L) <= 450 * 0.05)
      assert(math.abs(est("click") - 60L) <= math.max(3, 60 * 0.05))
      // determinism of the fold itself: re-reading the snapshot gives
      // the same published estimates
      val est2 = SketchStreams.hllEstimate(spark, s"$root/sk").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(est2 === est)
      val vs = ChangeStreams.versions(spark, s"$root/sk")
      assert(vs.length === 2 && vs === vs.sorted.reverse)
    } finally q.stop()
  }

  test("streaming PSI monitor: in-distribution batches stay calm, a " +
       "shifted batch trips the cumulative alert, faces share math") {
    import graft.streaming.{ChangeStreams, SketchStreams}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-psi").toString
    val ref = (0 until 1000).map(i => (i % 100).toDouble).toDF("x")
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Double]
    val q = SketchStreams.psiStream(mem.toDF().toDF("x"), ref,
      s"$root/sk", s"$root/ckpt", keepVersions = 2)
    try {
      // batch 0: the reference distribution → psi near 0
      mem.addData((0 until 500).map(i => (i % 100).toDouble): _*)
      q.processAllAvailable()
      val calm = ChangeStreams.readSnapshot(spark, s"$root/sk").collect()
      assert(calm.length === 10)
      assert(calm.forall(!_.getBoolean(7)), "no drift on matching data")
      assert(math.abs(calm.head.getDouble(6)) < 0.01)
      // batch 1: everything shifted past the top decile → the
      // CUMULATIVE histogram drifts and the alert latches
      mem.addData((0 until 2000).map(_ => 1e6): _*)
      q.processAllAvailable()
      val hot = ChangeStreams.readSnapshot(spark, s"$root/sk").collect()
        .sortBy(_.getLong(0))
      assert(hot.forall(_.getBoolean(7)), "drift must fire")
      assert(hot.head.getDouble(6) > 0.2)
      // the shifted mass sits in bin 9 on top of batch 0's spread
      assert(hot(9).getLong(2) >= 2000L)
      // face parity: the published table IS psiFromCounts over the
      // cumulative counts (shared code), so recomputing from the
      // published (bin, n_ref, n_cur) reproduces psi exactly
      val full = hot.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq.toDF("bin", "n_ref", "n_cur")
      val re = graft.ops.Analytics.psiFromCounts(full).collect()
        .sortBy(_.getLong(0))
      assert(re.map(_.getDouble(6)).toSeq === hot.map(_.getDouble(6)).toSeq)
      val vs = ChangeStreams.versions(spark, s"$root/sk")
      assert(vs.length === 2 && vs === vs.sorted.reverse)
    } finally q.stop()
  }

  test("sketch_psi_versions: the live psi stream over the same epoch " +
       "slices reproduces every retained audit version verbatim") {
    import graft.streaming.{ChangeStreams, SketchStreams}
    import org.apache.spark.sql.functions.{col, round}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-psiv").toString
    val staged = Tables.events(spark, sf).select(
      (col("event_id") % 5).as("epoch"),
      round(col("value"), 4).cast("double").as("x"))
    val ref = staged.filter(col("epoch") === 0).select("x")
    val slices = (1 to 4).map(e =>
      staged.filter(col("epoch") === e).select("x").as[Double].collect().toSeq)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Double]
    val q = SketchStreams.psiStream(mem.toDF().toDF("x"), ref,
      s"$root/sk", s"$root/ckpt", keepVersions = 3)
    try {
      slices.foreach { sl => mem.addData(sl: _*); q.processAllAvailable() }
      assert(ChangeStreams.versions(spark, s"$root/sk").sorted
        === Seq(1L, 2L, 3L))
      val audit = SketchStreams.psiVersionsBatch(spark, sf).collect()
      assert(audit.map(_.getLong(0)).distinct.sorted.toSeq
        === Seq(2L, 3L, 4L))
      // audit version v folds current epochs 1..v = stream batch v−1
      (2 to 4).foreach { v =>
        val live = spark.read.parquet(s"$root/sk/batch=${v - 1}")
          .select("bin", "n_ref", "n_cur", "p_ref", "p_cur",
            "psi_term", "psi", "drift")
          .collect().map(_.toSeq).toSet
        val aud = audit.filter(_.getLong(0) == v)
          .map(_.toSeq.drop(1)).toSet
        assert(live === aud, s"version $v")
      }
    } finally q.stop()
  }

  test("stream_dedup batch face: one first-arrival row per key, min event time") {
    val out = graft.streaming.DedupStreams.dedupBatch(spark, sf)
    val ev = Tables.events(spark, sf)
    // exactly one row per distinct (user_id, event_type)
    assert(out.count() ===
      ev.select("user_id", "event_type").distinct().count())
    // and each row carries that key's earliest event time
    val mins = ev.groupBy("user_id", "event_type")
      .agg(min("ts").as("mn")).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getTimestamp(2)).toMap
    out.collect().foreach { r =>
      assert(r.getTimestamp(3) === mins((r.getLong(0), r.getString(1))))
    }
  }

  test("incremental ingest: bookmark semantics — new files only, idempotent") {
    import graft.streaming.IncrementalIngest
    val root = java.nio.file.Files.createTempDirectory("graft-ingest")
    val (src, sink, ckpt) = (s"$root/src", s"$root/sink", s"$root/ckpt")
    val events = Tables.events(spark, sf)
    val (batch1, batch2) = (
      events.filter(col("event_id") % 2 === 0),
      events.filter(col("event_id") % 2 =!= 0))

    // run 1: only batch1's files exist
    batch1.write.mode("append").parquet(src)
    IncrementalIngest.ingestOnce(spark, src, events.schema, sink, ckpt,
      Seq("event_type"))
    val sunk1 = spark.read.parquet(sink).count()
    assert(sunk1 === batch1.count())

    // run 2: nothing new — the checkpoint bookmark makes it a no-op
    IncrementalIngest.ingestOnce(spark, src, events.schema, sink, ckpt,
      Seq("event_type"))
    assert(spark.read.parquet(sink).count() === sunk1)

    // run 3: batch2's files land; only their rows are appended (exactly once)
    batch2.write.mode("append").parquet(src)
    IncrementalIngest.ingestOnce(spark, src, events.schema, sink, ckpt,
      Seq("event_type"))
    val sunk3 = spark.read.parquet(sink)
    assert(sunk3.count() === events.count())
    // and the partitioned sink dedups nothing away: per-key parity
    val got = sunk3.groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = events.groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === want)
  }

  test("bookmark crash injection: a checkpoint rolled back to BEFORE " +
       "a tick whose sink write already committed (the crash window " +
       "between sink commit and checkpoint commit) never double-appends") {
    import graft.streaming.IncrementalIngest
    def copyDir(from: String, to: String): Unit = {
      val src = java.nio.file.Paths.get(from)
      val dst = java.nio.file.Paths.get(to)
      val it = java.nio.file.Files.walk(src).iterator()
      while (it.hasNext) {
        val p = it.next()
        val t = dst.resolve(src.relativize(p))
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(p, t,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
    def rmDir(dir: String): Unit = {
      def go(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(go)); f.delete(); ()
      }
      go(new java.io.File(dir))
    }
    val root = java.nio.file.Files.createTempDirectory("graft-crash")
    val (src, sink, ckpt, snap) =
      (s"$root/src", s"$root/sink", s"$root/ckpt", s"$root/ckpt_snap")
    val events = Tables.events(spark, sf)
    val b1 = events.filter(col("event_id") % 2 === 0)
    val b2 = events.filter(col("event_id") % 2 =!= 0)
    b1.write.mode("append").parquet(src)
    IncrementalIngest.ingestOnce(spark, src, events.schema, sink, ckpt,
      Seq("event_type"))
    // snapshot the bookmark as of tick 1
    copyDir(ckpt, snap)
    b2.write.mode("append").parquet(src)
    IncrementalIngest.ingestOnce(spark, src, events.schema, sink, ckpt,
      Seq("event_type"))
    val full = spark.read.parquet(sink).count()
    assert(full === events.count())
    // CRASH INJECTION: the sink holds tick 2's files AND its own
    // _spark_metadata commit, but the restored bookmark claims tick 2
    // never ran — exactly the state a crash between the sink's commit
    // and the checkpoint's commit leaves behind
    rmDir(ckpt); copyDir(snap, ckpt)
    IncrementalIngest.ingestOnce(spark, src, events.schema, sink, ckpt,
      Seq("event_type"))
    // a naive non-transactional sink would re-append batch 2 here and
    // double b2's rows; the file sink's batch-id metadata log must
    // recognize the replayed batch and skip it
    val recovered = spark.read.parquet(sink)
    assert(recovered.count() === full,
      s"recovery double-appended: ${recovered.count()} vs $full")
    // per-key parity with the raw table — nothing lost either
    val got = recovered.groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = events.groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === want)
    // and the recovered bookmark is caught up: one more tick drains
    // nothing
    IncrementalIngest.ingestOnce(spark, src, events.schema, sink, ckpt,
      Seq("event_type"))
    assert(spark.read.parquet(sink).count() === full)
  }

  test("state-store enrichment staleness contract: a dimension " +
       "update AFTER seeding is NOT visible (stale serve), while the " +
       "static-join face sees it — the declared regime-3 trade") {
    val dimDir = java.nio.file.Files
      .createTempDirectory("graft-enrich-dim").toString
    val staged = java.nio.file.Files
      .createTempDirectory("graft-enrich-stale").toString
    val dimV1 = EventStreams.customerDim(spark, sf)
    dimV1.write.mode("overwrite").parquet(dimDir)
    val dimRef = spark.read.parquet(dimDir)
    val events = Tables.events(spark, sf)
    val half1 = events.filter(col("event_id") % 2 === 0)
    val half2 = events.filter(col("event_id") % 2 =!= 0)
    half1.write.mode("overwrite").parquet(staged)
    val q = EventStreams
      .enrichStateStream(spark, staged, events.schema, dimRef)
      .writeStream.outputMode("append")
      .format("memory").queryName("enrich_stale_out")
      .start()
    try {
      q.processAllAvailable() // batch 1 seeds the state from dim v1
      // the dimension CHANGES after seeding: every segment renamed
      dimV1.withColumn("segment", concat(col("segment"), lit("_v2")))
        .write.mode("overwrite").parquet(dimDir)
      half2.write.mode("append").parquet(staged)
      q.processAllAvailable() // batch 2 arrives AFTER the dim update
      val served = spark.table("enrich_stale_out").collect()
        .flatMap(r => Option(r.getAs[String]("segment"))).toSet
      // stale serve IS the contract: no batch-2 row sees "_v2" —
      // state was seeded once and is never re-read (refreshing means
      // composing a CDC upsert stream, not a flag)
      assert(served.nonEmpty)
      assert(served.forall(!_.endsWith("_v2")),
        s"state-store face served post-seed dimension values: $served")
      // while the static-join face re-plans the dim per batch and
      // DOES see the update — the regimes differ exactly here
      val fresh = EventStreams.enrich(
        half2.select(col("event_id"), col("user_id")),
        spark.read.parquet(dimDir)).collect()
        .flatMap(r => Option(r.getAs[String]("segment"))).toSet
      assert(fresh.nonEmpty && fresh.forall(_.endsWith("_v2")))
    } finally q.stop()
  }

  test("conformalStream: a perfect weekly cycle collapses the band to " +
       "a point and covers; an injected shift misses; qhat equals the " +
       "batch rank formula on a planted residual set") {
    import graft.streaming.EventStreams.{DailyCount, conformalStream}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val d0 = java.time.LocalDate.of(2024, 1, 1)
    def day(n: Int) = java.sql.Timestamp.valueOf(
      d0.plusDays(n.toLong).atStartOfDay())
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[DailyCount]
    val q = conformalStream(mem.toDS(), period = 7, alphaPct = 10,
      calWindow = 50, minCal = 10)
      .writeStream.outputMode("append").format("memory")
      .queryName("conformal_mb").start()
    try {
      // 35 days of an exact weekly pattern: residuals are all 0 once
      // the first period passes, so qhat = 0 and lo = pred = hi
      val cycle = Array(10L, 20L, 30L, 40L, 50L, 60L, 70L)
      mem.addData((0 until 35).map(i =>
        DailyCount("a", day(i), cycle(i % 7))): _*)
      q.processAllAvailable()
      val rows = spark.table("conformal_mb").collect()
      // first emission: period warm-up (7) + minCal residuals (10)
      assert(rows.nonEmpty)
      assert(rows.forall(_.getBoolean(6)), "pure cycle must stay covered")
      assert(rows.forall(r => r.getLong(4) === r.getLong(3) &&
        r.getLong(5) === r.getLong(3)), "zero residuals collapse the band")
      // a level shift across the batch boundary: outside the 0-width band
      mem.addData(DailyCount("a", day(35), cycle(0) + 25L))
      q.processAllAvailable()
      val shifted = spark.table("conformal_mb").collect()
        .filter(_.getTimestamp(1) == day(35))
      assert(shifted.length === 1 && !shifted.head.getBoolean(6))
      assert(shifted.head.getLong(3) === cycle(0)) // pred = lag-7 count
    } finally q.stop()

    // planted residuals: flat preds at 100, counts = 100 ± residuals
    // {1..12} in arrival order; at the 13th scored day n=12,
    // k = min((90*13+99)/100, 12) = 12 ⇒ qhat = 12th smallest = 12...
    // verify against the emitted band half-width directly
    val mem2 = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[DailyCount]
    val q2 = conformalStream(mem2.toDS(), period = 1, alphaPct = 10,
      calWindow = 50, minCal = 12)
      .writeStream.outputMode("append").format("memory")
      .queryName("conformal_mb2").start()
    try {
      // period=1: pred = yesterday's count. Feed 100, then
      // 100+1, 100-? ... construct residuals 1..12 then a probe day
      var cur = 100L
      val feed = scala.collection.mutable.ArrayBuffer(
        DailyCount("b", day(0), cur))
      for (r <- 1 to 12) { cur = cur + r; feed += DailyCount("b", day(r), cur) }
      feed += DailyCount("b", day(13), cur) // probe: resid 0, n_cal=12
      mem2.addData(feed.toSeq: _*)
      q2.processAllAvailable()
      val probe = spark.table("conformal_mb2").collect()
        .filter(_.getTimestamp(1) == day(13))
      assert(probe.length === 1)
      val r = probe.head
      assert(r.getInt(7) === 12) // n_cal
      // k = min((90*13+99)/100, 12) = min(12, 12) = 12 ⇒ qhat = 12
      assert(r.getLong(5) - r.getLong(3) === 12L,
        s"qhat ${r.getLong(5) - r.getLong(3)}")
      assert(r.getBoolean(6))
    } finally q2.stop()
  }

  test("conformalStream: a cross-batch straggler behind the state " +
       "frontier is dropped, not folded in out of order") {
    import graft.streaming.EventStreams.{DailyCount, conformalStream}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val d0 = java.time.LocalDate.of(2024, 3, 1)
    def day(n: Int) = java.sql.Timestamp.valueOf(
      d0.plusDays(n.toLong).atStartOfDay())
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[DailyCount]
    val q = conformalStream(mem.toDS(), period = 1, alphaPct = 10,
      calWindow = 50, minCal = 1)
      .writeStream.outputMode("append").format("memory")
      .queryName("conformal_ooo").start()
    try {
      mem.addData(DailyCount("c", day(0), 100L),
        DailyCount("c", day(1), 110L), DailyCount("c", day(2), 120L))
      q.processAllAvailable()
      // batch 2: day(1) arrives AGAIN (behind the frontier) alongside
      // day(3); the straggler must not shift the seasonal reference
      mem.addData(DailyCount("c", day(1), 999L),
        DailyCount("c", day(3), 130L))
      q.processAllAvailable()
      val rows = spark.table("conformal_ooo").collect()
      // no emission may carry the straggler day twice or at all anew
      assert(rows.count(_.getTimestamp(1) == day(1)) === 0)
      val d3 = rows.filter(_.getTimestamp(1) == day(3))
      assert(d3.length === 1)
      // pred for day(3) = day(2)'s count — NOT the straggler's 999
      assert(d3.head.getLong(3) === 120L)
    } finally q.stop()
  }

  // ------------------------------------------------------------------
  // Versioned-snapshot AUDIT parity (the cdc_snapshot_versions
  // pattern): replay the oracled audit entries' epoch slices through
  // the LIVE sketch streams and assert the retained published
  // versions line up with the batch audit's rows — version ids,
  // exactly-replayable values (CM), and guarantee verdicts (MG, HLL).
  // ------------------------------------------------------------------

  /** The audit entries' replay input: terms of the sf docs corpus in
    * epoch order (epoch = doc_id % 5 — the same slicing the oracled
    * batch faces use). */
  private def epochTermSlices(epochs: Int): Seq[Seq[String]] = {
    val tok = Tables.spread(Tables.documents(spark, sf))
      .select((org.apache.spark.sql.functions.col("doc_id") % epochs)
          .as("epoch"),
        org.apache.spark.sql.functions.explode(
          org.apache.spark.sql.functions.split(
            org.apache.spark.sql.functions.trim(
              org.apache.spark.sql.functions.lower(
                org.apache.spark.sql.functions.col("text"))), "\\s+"))
          .as("term"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    (0 until epochs).map(e => tok.filter(_._1 == e).map(_._2).toSeq)
  }

  test("sketch_cm_versions: the stream's retained grids REPLAY the audit " +
       "rows exactly (lossless merge at version grain)") {
    import graft.streaming.{ChangeStreams, SketchStreams}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-cmv").toString
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[String]
    val q = SketchStreams.countMinStream(
      mem.toDF().toDF("term"), s"$root/sk", s"$root/ckpt",
      depth = 4, width = 256, keepVersions = 3)
    try {
      epochTermSlices(5).foreach { slice =>
        mem.addData(slice); q.processAllAvailable()
      }
      val vs = ChangeStreams.versions(spark, s"$root/sk")
      assert(vs.sorted === Seq(2L, 3L, 4L))
      val audit = graft.streaming.SketchStreams
        .countMinVersionsBatch(spark, sf).collect()
      assert(audit.map(_.getLong(0)).distinct.sorted.toSeq
        === Seq(2L, 3L, 4L))
      audit.groupBy(_.getLong(0)).foreach { case (v, rows) =>
        val grid = spark.read.parquet(s"$root/sk/batch=$v")
        // census parity: the live version's grid is the audit's
        val Seq(nCells, gridTotal) = grid
          .agg(org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)),
            org.apache.spark.sql.functions.sum(
              org.apache.spark.sql.functions.col("cnt")))
          .collect().head.toSeq.map(_.asInstanceOf[Long]).toSeq
        assert(rows.forall(r => r.getAs[Long]("n_cells") === nCells &&
          r.getAs[Long]("grid_total") === gridTotal), s"census v$v")
        // probe parity: the stream grid estimates the audit's terms
        // at exactly the audit's est_n
        val est = SketchStreams.countMinEstimate(spark, s"$root/sk/",
            rows.map(_.getString(1)).toSeq, depth = 4, width = 256)
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        // countMinEstimate reads the NEWEST version; only check v=4
        if (v == 4L)
          rows.foreach(r =>
            assert(est(r.getString(1)) === r.getAs[Long]("est_n"),
              s"probe ${r.getString(1)} v$v"))
      }
    } finally q.stop()
  }

  test("sketch_topk_versions: stream summaries satisfy the audit verdicts " +
       "at every retained version") {
    import graft.streaming.{ChangeStreams, SketchStreams}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-mgv").toString
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[String]
    val q = SketchStreams.topkStream(
      mem.toDF().toDF("term"), s"$root/sk", s"$root/ckpt",
      capacity = 64, keepVersions = 3)
    try {
      val slices = epochTermSlices(5)
      slices.foreach { slice => mem.addData(slice); q.processAllAvailable() }
      assert(ChangeStreams.versions(spark, s"$root/sk").sorted
        === Seq(2L, 3L, 4L))
      val audit = graft.streaming.SketchStreams
        .topkVersionsBatch(spark, sf).collect()
      // the batch audit's verdicts all hold (what the oracle pins)
      assert(audit.forall(r => r.getBoolean(3) && r.getBoolean(4) &&
        r.getBoolean(5)))
      // and the LIVE summaries satisfy the same MG contract per
      // retained version against the exact prefix counts
      (2 to 4).foreach { v =>
        val sk = spark.read.parquet(s"$root/sk/batch=$v").collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val prefix = slices.take(v + 1).flatten
        val truth = prefix.groupBy(identity).view.mapValues(_.size.toLong)
        val bound = prefix.size / 64
        sk.foreach { case (t, est) =>
          assert(est <= truth(t), s"v$v $t overcounts")
          assert(truth(t) - est <= bound, s"v$v $t beyond bound")
        }
        truth.filter(_._2 > bound).foreach { case (t, _) =>
          assert(sk.contains(t), s"v$v heavy $t missing")
        }
      }
    } finally q.stop()
  }

  test("sketch_hll_versions: stream estimates at every retained version " +
       "sit inside the audit's tolerance of the exact prefix distincts") {
    import graft.streaming.{ChangeStreams, SketchStreams}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-hlv").toString
    val ev = Tables.events(spark, sf)
      .select((org.apache.spark.sql.functions.col("event_id") % 5)
          .as("epoch"),
        org.apache.spark.sql.functions.col("event_type"),
        org.apache.spark.sql.functions.col("user_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Long)]
    val q = SketchStreams.hllStream(
      mem.toDF().toDF("event_type", "user_id"), s"$root/sk",
      s"$root/ckpt", lgK = 12, keepVersions = 3)
    try {
      (0 until 5).foreach { e =>
        mem.addData(ev.filter(_._1 == e).map(t => (t._2, t._3)).toSeq: _*)
        q.processAllAvailable()
      }
      assert(ChangeStreams.versions(spark, s"$root/sk").sorted
        === Seq(2L, 3L, 4L))
      val audit = graft.streaming.SketchStreams
        .hllVersionsBatch(spark, sf).collect()
      assert(audit.nonEmpty && audit.forall(_.getBoolean(3)))
      (2 to 4).foreach { v =>
        val est = spark.read.parquet(s"$root/sk/batch=$v")
          .select("event_type", "estimate").collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val exact = ev.filter(_._1 <= v).map(t => (t._2, t._3)).distinct
          .groupBy(_._1).view.mapValues(_.size.toLong)
        exact.foreach { case (t, n) =>
          assert(math.abs(est(t) - n) <= math.max(5.0, 5 * 0.01625 * n),
            s"v$v $t: ${est(t)} vs $n")
        }
      }
    } finally q.stop()
  }
}
