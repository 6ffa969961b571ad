package graft

/** Storage hygiene for timed runs: the benchmark harness
  * (`perfbench/`) calls [[clearStorage]] before every timed step. */
object Bench {
  /** Cold storage state for a timed entry: drop the SQL cache AND
    * every persistent RDD block left behind by earlier entries.
    * Operators reuse intermediates through `graftbridge.Reuse`
    * (`shared`, `roundCut`, `barrier`: all local checkpoints), whose
    * blocks the returned plan cannot unpersist; `clearCache()` only
    * drops catalog-tracked Dataset caches, so checkpoint blocks piled
    * up across a ~280-entry run and later heavy entries paid earlier
    * entries' eviction/GC churn (r13's in-run graph_triangles read
    * 2.9–5.0× its pin). BLOCKING unpersist: the wait
    * lands here, BEFORE the caller starts its timer, so block
    * removal and its GC churn never run concurrently with the timed
    * query — an async removal would reintroduce exactly the
    * nondeterministic noise this sweep exists to remove. */
  private[graft] def clearStorage(
      spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }
}
