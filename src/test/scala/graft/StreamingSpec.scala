package graft

import graft.streaming.EventStreams
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {

  /** Stage the events table as a parquet directory. */
  private def stageEvents(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    Tables.events(spark, sf).write.mode("overwrite").parquet(dir)
    dir
  }

  /** A file stream over a staged events directory. */
  private def eventStream(dir: String) =
    spark.readStream.schema(Tables.events(spark, sf).schema).parquet(dir)

  test("streaming windowed counts equal the batch face (memory sink)") {
    // the shared transform over a file stream: window() works
    // identically on batch and streaming frames
    val q = EventStreams.windowCounts(eventStream(stageEvents("graft-stream")))
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
    val events = Tables.events(spark, sf)
    val q = EventStreams.enrich(
        eventStream(stageEvents("graft-enrich"))
          .select(col("event_id"), col("user_id")),
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
    // the flag holds end to end over a file stream too
    val q = EventStreams.enrich(
        eventStream(stageEvents("graft-enrich2"))
          .select(col("event_id"), col("user_id")),
        dim, broadcastDim = false)
      .writeStream.outputMode("append")
      .format("memory").queryName("enrich_nb_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("enrich_nb_out").collect().map(key).toSet
      assert(streamed === bc)
    } finally q.stop()
  }

  test("stream-stream join pairs equal the batch face's attribution set") {
    val staged = stageEvents("graft-ssjoin")
    // two watermarked file streams over the same source: inner
    // stream-stream joins need a watermark + time constraint to expire
    // buffered rows, and the delay must cover the 4 h join range
    def side(t: String) = eventStream(staged)
      .filter(col("event_type") === t)
      .select(col("event_id"), col("user_id"), col("ts"))
      .withWatermark("ts", "5 hours")
    val q = EventStreams.clickViewJoin(side("click"), side("view"))
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
    val events = Tables.events(spark, sf)
    val q = EventStreams.slidingCounts(eventStream(stageEvents("graft-slide")))
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

  test("batch sessionize: session event counts sum to total events") {
    val sess = EventStreams.sessionizeBatch(spark, sf)
    val total = sess.agg(sum("n_events")).first().getLong(0)
    assert(total === Tables.events(spark, sf).count())
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

  test("snapshot version audit: hand-built epochs fold to the retained " +
       "versions' audit rows") {
    import graft.streaming.ChangeStreams
    import spark.implicits._
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
    // version 1 = {2→25, 3→30, 4→45}; version 2 = {1→11, 2→25, 4→45}
    assert(audit.toSeq === Seq((1L, 3L, 0.01, 4L), (2L, 3L, 0.0081, 4L)))
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
}
