package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Reuse

/** The distributed prefix sum shared by sequence packing
  * (TextOps.packOn), token-budget curation (CurateOps.tokenBudget),
  * and dense id assignment (Mapping.assignIds): a global running
  * total in `keys` order WITHOUT the single-partition global window a
  * naive cumsum plans (the whole table sorting in one task — the
  * classic scale-killer). Range-partition on the keys,
  * partition-local running sums, then one broadcast cumulative offset
  * per partition; the only partition-less window runs over ONE row
  * per partition.
  *
  * CORRECTNESS GUARD — why the ranged frame is checkpointed: the
  * result joins two plan branches (the rows and the per-partition
  * offsets) that both descend from the range exchange, and
  * `spark_partition_id` is evaluated independently in each physical
  * instance. Range boundaries come from SAMPLING, seeded per physical
  * exchange — with exchange reuse on (the default) the planner
  * collapses the two branches onto one exchange, but with reuse
  * disabled (or any rule that makes the branch plans non-identical)
  * each branch would sample its OWN boundaries, a row could land in
  * partition p on one side and p+1 on the other, and every offset
  * downstream would be silently wrong. The checkpoint pins one
  * materialized partitioning that both branches read, making
  * correctness independent of the exchange-reuse optimization.
  *
  * One `Reuse.shared` frame per call (row-count-sized: keys + one
  * long). Building it also runs the range exchange's
  * boundary-sampling job (q_mann_whitney at sf0.001: 4 jobs to build,
  * 2 with AQE off).
  */
private[graft] object PrefixSum {

  /** Appends `__cum` — the EXCLUSIVE running sum of `value` (cast to
    * long) over `keys` order — plus the `__pid` staging column.
    * Exclusive means the row's own value is not included: the first
    * row in the global order gets 0. Callers derive their shape from
    * it: inclusive = `__cum` + value; dense rank = `__cum` of
    * value 1. Ties on `keys` each book their own slot (explicit rows
    * frame) in an arbitrary but valid order — pass unique keys for
    * cross-run determinism. */
  def exclusive(df: DataFrame, keys: Seq[Column], value: Column): DataFrame =
    exclusiveMulti(df, keys, Seq(value))
      .withColumnRenamed("__cum0", "__cum")

  /** [[exclusive]] over SEVERAL value columns at once, appending
    * `__cum0..__cumN` — ONE range exchange, one checkpointed ranged
    * frame, and one broadcast offset row per partition shared by
    * every column, where N separate [[exclusive]] calls would pay N
    * exchanges and N checkpoints (and, worse, could range-sample
    * different partition boundaries per call). A caller needing the running
    * totals of two interleaved samples in the same global order — the
    * two-sample CDF comparison behind the KS test — is the motivating
    * shape. */
  def exclusiveMulti(df: DataFrame, keys: Seq[Column],
                     values: Seq[Column]): DataFrame = {
    val parts = df.repartitionByRange(keys: _*)
      .withColumn("__pid", spark_partition_id())
      .transform(Reuse.shared)
    val wLocal = Window.partitionBy(col("__pid")).orderBy(keys: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = values.zipWithIndex.foldLeft(parts) { case (acc, (v, i)) =>
      acc.withColumn(s"__lcum$i",
        coalesce(sum(v.cast("long")).over(wLocal), lit(0L)))
    }
    val wOff = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ptots = values.zipWithIndex.map { case (v, i) =>
      sum(v.cast("long")).as(s"__ptot$i")
    }
    val offsets = parts.groupBy(col("__pid"))
      .agg(ptots.head, ptots.tail: _*)
      .select(col("__pid") +: values.indices.map(i =>
        coalesce(sum(col(s"__ptot$i")).over(wOff), lit(0L)).as(s"__off$i")): _*)
    values.indices.foldLeft(local.join(broadcast(offsets), "__pid")) {
      (acc, i) =>
        acc.withColumn(s"__cum$i", col(s"__lcum$i") + col(s"__off$i"))
          .drop(s"__lcum$i", s"__off$i")
    }
  }
}
