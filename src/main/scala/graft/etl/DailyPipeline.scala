package graft.etl

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's ACTUAL automation, composed end-to-end — the 2am
  * scheduled re-run (reference: etl-cfn-2am-trigger.json, the cron
  * trigger; etl/2019reinvent_green.py:23, the `transformation_ctx`
  * job bookmark) as ONE chained, oracled run:
  *
  *   1. BOOKMARKED INGEST — today's newly-arrived event files drain
  *      through a checkpointed `Trigger.AvailableNow` file stream
  *      ([[graft.streaming.IncrementalIngest.ingestOnce]]) into a
  *      partitioned parquet sink; the checkpoint IS the bookmark.
  *      The tick runs TWICE: the second run must drain nothing — if
  *      the bookmark failed and rows double-ingested, every
  *      downstream checksum breaks.
  *   2. INCREMENTAL AGGREGATE MAINTENANCE — the stored daily rollup
  *      (history side) merges with the aggregate of the INGESTED
  *      read-back ([[Mapping.incrementalAggMerge]]): the merge never
  *      touches history's fact rows.
  *   3. INCREMENTAL DEDUP FOLD — the persisted near-dup index
  *      round-trip ([[graft.ops.DedupOps.incrementalIndexPersisted]]):
  *      band index + pair table written to parquet, read back,
  *      today's documents folded from the read-back state.
  *
  * The published row per stage is a [[Mapping.tableChecksum]]
  * signature (n_rows + order-free XOR and SUM of a 60-bit md5 row
  * canon), and the ORACLE recomputes each signature FROM THE RAW
  * TABLES — it knows nothing of the file boundary, the bookmark, the
  * base/delta split, or the persisted state — so hash equality is a
  * cross-engine proof that the whole chain is lossless across every
  * boundary it crosses. Scale shape: the delta is day-sized (the only
  * data the ingest and the merge's delta side touch), the merge is
  * O(aggregate rows), and the fold is the bounded incremental fold —
  * nothing in the chain rescans history.
  */
object DailyPipeline {

  /** Run the 2am chain on the `d` corpus; returns the three-stage
    * checksum audit (tbl, n_rows, xor_sig, sum_sig). Working state
    * lands in a fresh per-invocation temp directory — the
    * incrementalIndexPersisted concurrency posture — reclaimed
    * BEFORE returning (the audit is materialized first), so repeated
    * invocations in a long-lived process hold no disk. */
  def dailyE2e(s: SparkSession, d: String): DataFrame =
    graft.TempDirs.collected("graft_daily_e2e_")(dailyE2eOn(s, d, _))

  /** The chain body over the working directory `tmp`; the returned
    * 3-row checksum audit (one row per stage) reads the ingest sink
    * and the fold's parquet state under `tmp` lazily. */
  private def dailyE2eOn(s: SparkSession, d: String,
                         tmp: String): DataFrame = {
    val src = s"$tmp/incoming"
    val sink = s"$tmp/ingested"
    val ckpt = s"$tmp/checkpoint"
    // the etl_incremental_agg staging: epoch-day ints and BIGINT
    // micro-units render identically in every engine
    val staged = Tables.events(s, d).select(col("event_id"),
      col("user_id"), col("event_type"),
      expr("unix_micros(ts)").as("tus"), col("value"))
    val cutDf = staged
      .agg((max(expr("tus div 86400000000")) - 1).as("cut"))
    val st = staged.crossJoin(broadcast(cutDf))
      .withColumn("ed", expr("tus div 86400000000"))
    // "today's arrivals": the last two days land as raw files in the
    // incoming directory — what the upstream producer drops
    val delta = st.filter(col("ed") >= col("cut"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("tus"), col("value"))
    delta.write.mode("overwrite").parquet(src)
    val schema = s.read.parquet(src).schema
    graft.streaming.IncrementalIngest.ingestOnce(
      s, src, schema, sink, ckpt, Seq("event_type"))
    // the bookmark proof: a second scheduler tick with no new files
    // must drain NOTHING — a broken bookmark double-appends and the
    // ingested/aggregate checksums diverge from the raw-table oracle
    graft.streaming.IncrementalIngest.ingestOnce(
      s, src, schema, sink, ckpt, Seq("event_type"))
    val ingested = s.read.parquet(sink)
      .withColumn("ed", expr("tus div 86400000000"))
      .withColumn("v", round(col("value") * 10000).cast("long"))
    // stage 2: merge the stored rollup with the INGESTED read-back's
    // aggregate — the delta side never sees the raw frame again
    val hist = st.filter(col("ed") < col("cut"))
      .withColumn("v", round(col("value") * 10000).cast("long"))
    val merged = Mapping.incrementalAggMerge(
      Mapping.aggDaily(hist.select(col("event_type"), col("ed"), col("v"))),
      Mapping.aggDaily(
        ingested.select(col("event_type"), col("ed"), col("v"))))
    // stage 3: the persisted incremental dedup fold — its parquet
    // state routed under THIS invocation's temp dir so the whole
    // chain's disk footprint reclaims together
    val pairs = graft.ops.DedupOps.incrementalIndexPersisted(s, d,
        stateDir = s"$tmp/dedup_state")
      .withColumn("j4", round(col("jaccard") * 10000).cast("long"))
    Mapping.tableChecksum(ingested,
        Seq(col("event_id"), col("user_id"), col("event_type"),
          col("ed"), col("v")), "ingested_delta")
      .unionByName(Mapping.tableChecksum(merged,
        Seq(col("event_type"), col("ed"), col("n"), col("sv")),
        "daily_agg"))
      .unionByName(Mapping.tableChecksum(pairs,
        Seq(col("id1"), col("id2"), col("j4")), "dedup_pairs"))
      .orderBy(col("tbl"))
  }

  /** DuckDB oracle: each stage's checksum recomputed from the RAW
    * tables (the etl_table_checksum md5-polynomial posture), knowing
    * nothing of the bookmark, the parquet boundaries, or the splits.
    * The dedup stage nests the shared split-agnostic recompute
    * ([[graft.ops.DedupOps.minhashRecomputeOracleSql]]) verbatim. */
  private[graft] def dailyE2eOracleSql: String = {
    val poly =
      """CAST(list_sum([(strpos('0123456789abcdef', h[i]) - 1) *
        |      (CAST(1 AS BIGINT) << (4*(15 - i))) for i in range(1, 16)])
        |      AS BIGINT) AS hv""".stripMargin
    val ed = "epoch_us(CAST(ts AS TIMESTAMP_US)) // 86400000000"
    s"""WITH ing AS (SELECT $poly
       |    FROM (SELECT md5(concat_ws('|',
       |        coalesce(CAST(event_id AS VARCHAR), 'null'),
       |        coalesce(CAST(user_id AS VARCHAR), 'null'),
       |        coalesce(event_type, 'null'),
       |        coalesce(CAST($ed AS VARCHAR), 'null'),
       |        coalesce(CAST(CAST(round(value * 10000) AS BIGINT)
       |          AS VARCHAR), 'null'))) AS h
       |      FROM events
       |      WHERE $ed >= (SELECT max($ed) - 1 FROM events))),
       |agg AS (SELECT $poly
       |    FROM (SELECT md5(concat_ws('|',
       |        coalesce(event_type, 'null'),
       |        coalesce(CAST(ed AS VARCHAR), 'null'),
       |        coalesce(CAST(n AS VARCHAR), 'null'),
       |        coalesce(CAST(sv AS VARCHAR), 'null'))) AS h
       |      FROM (SELECT event_type, $ed AS ed,
       |          CAST(count(*) AS BIGINT) AS n,
       |          CAST(sum(CAST(round(value * 10000) AS BIGINT))
       |            AS BIGINT) AS sv
       |        FROM events GROUP BY 1, 2))),
       |dp AS (SELECT $poly
       |    FROM (SELECT md5(concat_ws('|',
       |        coalesce(CAST(id1 AS VARCHAR), 'null'),
       |        coalesce(CAST(id2 AS VARCHAR), 'null'),
       |        coalesce(CAST(CAST(round(jaccard * 10000) AS BIGINT)
       |          AS VARCHAR), 'null'))) AS h
       |      FROM (
       |${graft.ops.DedupOps.minhashRecomputeOracleSql})))
       |SELECT 'daily_agg' AS tbl, count(*) AS n_rows,
       |  bit_xor(hv) AS xor_sig,
       |  CAST(sum(CAST(hv AS HUGEINT)) AS VARCHAR) AS sum_sig FROM agg
       |UNION ALL
       |SELECT 'dedup_pairs', count(*), bit_xor(hv),
       |  CAST(sum(CAST(hv AS HUGEINT)) AS VARCHAR) FROM dp
       |UNION ALL
       |SELECT 'ingested_delta', count(*), bit_xor(hv),
       |  CAST(sum(CAST(hv AS HUGEINT)) AS VARCHAR) FROM ing
       |ORDER BY tbl""".stripMargin
  }
}
