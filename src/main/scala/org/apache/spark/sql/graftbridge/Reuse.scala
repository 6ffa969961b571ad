package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame

/** The one way operators reuse an intermediate, named by why a site
  * reuses it. All three are local checkpoints:
  *  - [[shared]] (lazy): a subtree the plan being built reads more
  *    than once;
  *  - [[roundCut]] (lazy): a fixed-point loop's state, cut each round;
  *  - [[barrier]] (eager): a frame that must exist now, because a
  *    driver-side decision reads it next or its input is deleted
  *    after the call.
  *
  * Under AQE a lazy checkpoint still runs the frame's shuffle stages
  * when it is built. Blocks live until the checkpoint RDD is
  * garbage-collected or `graft.Bench.clearStorage` unpersists them,
  * and blocks on a lost executor cannot be recomputed.
  *
  * Spark names a call site by the last Spark method and the first
  * frame outside Spark, and counts all of `org.apache.spark.sql` as
  * Spark. From this package, plans read `at shared at
  * GraphOps.scala:88`: the intent and the operator's own line. */
object Reuse {
  def shared(df: DataFrame): DataFrame = df.localCheckpoint(false)
  def roundCut(df: DataFrame): DataFrame = df.localCheckpoint(false)
  def barrier(df: DataFrame): DataFrame = df.localCheckpoint(true)
}
