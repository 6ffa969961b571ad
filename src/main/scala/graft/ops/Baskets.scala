package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Capped-basket staging via ONE basket-keyed aggregate: collect_set
  * dedups members, the size filter applies the hostile-basket cap,
  * and the sorted array expands to canonical a < b pairs ROW-LOCALLY
  * with fanout ≤ C(maxBasket, 2) per basket — one fewer exchange than
  * the distinct → count-window → self-join shape (guide §2.4).
  *
  * WHERE IT WINS AND WHERE IT LOSES (r16 A/B, recorded in
  * OPTIMIZATION_r16.md): the aggregate is an ObjectHashAggregate and
  * the pair expansion allocates per-row arrays/structs, so on loads
  * where the window+join pipeline is fully codegen (the graph edge
  * derivation, item-item cosine over raw parts) this measured SLOWER
  * despite the saved exchange — those operators deliberately keep
  * the window shape. It wins when several consumers need the staged
  * members/pairs/basket-count together (market-basket lift: one
  * staged frame feeds all three, measured faster).
  */
private[ops] object Baskets {

  /** (basket, it): sorted distinct member array per basket, baskets
    * over `maxBasket` DROPPED (the standing cap posture — inert on
    * reference-sized baskets, load-bearing against power-law data).
    * sort_array sits INSIDE the aggregate projection so downstream
    * pair lambdas reference a stored attribute, never re-sorting per
    * element (the docShingleSets CollapseProject trap). */
  def sets(pairs: DataFrame, maxBasket: Int): DataFrame =
    pairs.groupBy(col("basket"))
      .agg(sort_array(collect_set(col("item"))).as("it"))
      .filter(size(col("it")) <= maxBasket)
      // AQE sizes the post-aggregate partitions by the ARRAY bytes and
      // coalesces them (to 1 at small scale) — but the next operator
      // explodes ≤ C(maxBasket,2) pairs per row, so the downstream
      // pair shuffle's map side would run nearly serial. Re-spread to
      // the session's parallelism BEFORE the explode: the exchanged
      // bytes are the small staged arrays, and the fanout then runs
      // on every core (scale-adaptive — defaultParallelism, never a
      // constant).
      .repartition(pairs.sparkSession.sparkContext.defaultParallelism)

  /** Canonical member pairs (basket, a, b) with a < b, expanded
    * row-locally from a [[sets]] frame. `sequence(2, 1)` would
    * DESCEND rather than be empty, so size-1 baskets are guarded to
    * an empty index list explicitly. */
  def pairsOf(sets: DataFrame): DataFrame =
    sets.select(col("basket"), explode(flatten(transform(
        when(size(col("it")) >= 2, sequence(lit(2), size(col("it"))))
          .otherwise(array().cast("array<int>")),
      j => transform(slice(col("it"), lit(1), j - 1),
        a => struct(a.as("a"), element_at(col("it"), j).as("b")))))).as("e"))
      .select(col("basket"), col("e.a").as("a"), col("e.b").as("b"))

  /** Membership rows (basket, item) — the distinct capped member list
    * the window+join shape used to produce. */
  def members(sets: DataFrame): DataFrame =
    sets.select(col("basket"), explode(col("it")).as("item"))
}
