package graft.streaming

import graft.Tables
import graft.etl.Mapping
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Reuse

/** Versioned CDC snapshots: fold a change feed, epoch by epoch,
  * into a snapshot through [[Mapping.applyChanges]]
  * (latest-change-wins upsert/delete) and audit the retained
  * versions. Version k is the snapshot after folding epochs 0..k;
  * only the newest `keepVersions` are retained, the time-travel
  * window a versioned store keeps. */
object ChangeStreams {

  /** Deterministic change feed for the versioned-snapshot audit:
    * events become CDC rows keyed on `user_id` — an `error` event is
    * a DELETE of its user, anything else an upsert carrying the
    * event's 1e-4 micro-unit value (exact BIGINT; a double survives
    * no cross-engine sum) — split into `epochs` micro-batches by
    * `event_id % epochs`, ordered within a batch by `event_id`. */
  private[graft] def eventChanges(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      col("user_id"),
      round(col("value") * 10000).cast("long").as("v_micro"),
      when(col("event_type") === "error", lit("D")).otherwise(lit("U"))
        .as("op"),
      (col("event_id") % Versions.epochs).as("epoch"),
      col("event_id"))

  /** The ORACLED versioned-snapshot audit: fold the change epochs
    * through [[Mapping.applyChanges]] and emit one audit row per
    * RETAINED version (the newest `keepVersions`) — version id, row
    * count, 4dp value total (BIGINT micro-units until the face), max
    * key. The fold is lazy plan composition end to end: each
    * version's snapshot is the previous version's plan + one window
    * over its (1/epochs-sized) change slice + one AQE-broadcast anti
    * join, so nothing here collects or materializes driver-side, and
    * the audit aggregates are single-row reductions. */
  def snapshotVersionsBatch(s: SparkSession, d: String): DataFrame =
    snapshotVersionsOn(eventChanges(s, d), Versions.epochs,
      Versions.keepVersions)

  /** Same over any (user_id, v_micro, op, epoch, event_id) change
    * frame. */
  def snapshotVersionsOn(changes: DataFrame, epochs: Int,
                         keepVersions: Int): DataFrame = {
    require(epochs >= 1 && keepVersions >= 1 && keepVersions <= epochs,
      s"need 1 <= keepVersions <= epochs: $keepVersions/$epochs")
    // each retained version's audit re-reads its whole fold prefix;
    // checkpoint the shared leaf so the epoch slices scan it once
    val ch = Reuse.shared(changes)
    val base0 = ch.select(col("user_id"), col("v_micro")).limit(0)
    // snaps(k) = snapshot AFTER folding epoch k (version id k).
    // Each snapshot is a round cut: version k+1's fold and version
    // k's audit then read ONE materialized copy — the uncut chain
    // re-evaluated the whole fold prefix per retained version (12
    // applyChanges windows for 5 epochs × 3 versions instead of 5).
    // Still zero driver-side collection (cdc_snapshot_versions at
    // sf0.001: 14 jobs to build, 5 with AQE off).
    val snaps = (0 until epochs).scanLeft(base0) { (base, k) =>
      Mapping.applyChanges(base, ch.filter(col("epoch") === k),
        keys = Seq("user_id"), opCol = "op", ord = Seq("event_id"))
        .transform(Reuse.roundCut)
    }.drop(1)
    Versions.stack(epochs - keepVersions until epochs) { k =>
      snaps(k).agg(
          count(lit(1)).as("n_rows"),
          sum(col("v_micro")).as("__sv"),
          max(col("user_id")).as("max_key"))
        .select(lit(k.toLong).as("version"), col("n_rows"),
          round(col("__sv") / 10000.0, 4).as("sum_v"), col("max_key"))
    }.orderBy(col("version"))
  }
}

/** The one fold every versioned audit replays — the CDC snapshots,
  * the sketch and event-stream audits and their DuckDB replicas:
  * events split into `epochs` arrival micro-batches and the newest
  * `keepVersions` versions are retained (1 <= keepVersions <= epochs;
  * the PSI audit also needs epochs >= 2, epoch 0 being its
  * reference). */
private[graft] object Versions {
  val epochs = 5
  val keepVersions = 3

  /** The retained versions, oldest first. */
  val retained: Range = epochs - keepVersions until epochs

  /** [[retained]] as a DuckDB table function, for the oracles. */
  val retainedSql: String = s"range(${retained.start}, ${retained.end})"

  /** One audit frame per version of `versions`, stacked in version
    * order. */
  def stack(versions: Seq[Int])(audit: Int => DataFrame): DataFrame =
    versions.map(audit).reduce(_ unionAll _)
}
