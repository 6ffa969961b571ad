package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Arrival-order dedup as oracled batch entries: what a dedup over a
  * feed replayed in event-time order emits, expressed deterministically
  * so a SQL oracle can check it. */
object DedupStreams {

  /** Near-dup flags in arrival order: with arrival order = doc_id
    * order, each later document of a verified near-dup pair is flagged
    * against the earlier one — exactly the minhash LSH pair set
    * ([[graft.ops.DedupOps.minhashLsh]]) reoriented as
    * (doc_id = later, dup_of = earlier). */
  def nearDedupBatch(s: SparkSession, d: String): DataFrame =
    graft.ops.DedupOps.minhashLsh(s, d)
      .select(col("id2").as("doc_id"), col("id1").as("dup_of"), col("jaccard"))
      .orderBy(col("doc_id"), col("dup_of"))

  /** The first arrival — by event time, event_id tiebreak — of each
    * (user_id, event_type) key over the events table: what an
    * arrival-order dedup keeps when the feed is replayed in event-time
    * order. Expressing the "first" deterministically (min over the
    * time order, not dropDuplicates' arbitrary partition order) is
    * what makes it cross-engine checkable. One shuffle on the dedup
    * key. */
  def dedupBatch(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts").as("first_ts"))
      .orderBy(col("user_id"), col("event_type"))
  }
}
