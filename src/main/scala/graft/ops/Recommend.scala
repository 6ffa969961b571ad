package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Reuse

/** Item-item collaborative filtering over co-occurrence baskets — the
  * "users who bought X also bought Y" neighbor lists that power
  * retrieval-free recommendation and related-item panels.
  *
  * Two faces, one arithmetic:
  *
  *  - [[itemCosineOn]] — EXACT binary cosine: for items i,j with
  *    occurrence counts n_i, n_j and co-occurrence count n_ij,
  *    cos(i,j) = n_ij / √(n_i·n_j). Pair generation is the bounded
  *    per-basket explode every basket-shaped operator here uses
  *    (cap ≤ maxBasket members, the q_market_basket /
  *    graph_triangles contract against hostile power-law baskets),
  *    so work is O(Σ min(|b|, cap)²) — linear in baskets, never
  *    items². Exact all-pairs is still quadratic in the ITEM
  *    vocabulary in the worst case, which is why the scale tier
  *    exists.
  *
  *  - [[itemCosineDimsumOn]] — the DIMSUM sampling tier (Zadeh &
  *    Goel, "Dimension Independent Similarity Computation", JMLR
  *    2013; shipped in Spark as RowMatrix.columnSimilarities): each
  *    co-occurrence instance survives with probability
  *    p_ij = min(1, γ/√(n_i·n_j)), so hot items — exactly the pairs
  *    whose exact counting explodes — are sampled hardest while the
  *    estimator cnt/γ (or cnt/√(n_i·n_j) when p=1 keeps everything)
  *    stays unbiased. Shuffle volume drops from Σ|b|² to ~γ·(#pairs
  *    with cos>ε): DIMENSION-independent, the 100 TB face. The coin
  *    is a DETERMINISTIC md5-prefix hash of (basket,i,j) — not
  *    `rand()` — so the estimate is reproducible run to run AND the
  *    entire computation (sampling included) replays in the DuckDB
  *    oracle: fully value-oracled, no tolerance band needed (the
  *    DOULION precedent, GraphOps.trianglesSampledOn).
  *
  * Cross-engine parity: norms multiply as DOUBLE before the sqrt
  * (BIGINT n_i·n_j wraps at corpus scale where DuckDB raises — the
  * q_market_basket lesson), cosine rounds to 4dp before ranking, and
  * every ordering carries a total (value, id...) tiebreak.
  */
object Recommend {

  /** The co-occurrence floor, neighbor-list length and basket-size
    * cap of the item-cosine faces; DIMSUM shares the cap. */
  private val pairFloor = 2L
  private val neighborCount = 5
  private val basketCap = 16

  /** Exact neighbor lists over order→part baskets (lineitem). */
  def itemCosine(s: SparkSession, d: String): DataFrame =
    itemCosineOn(Tables.lineitem(s, d)
      .select(col("l_orderkey").as("basket"), col("l_partkey").as("item")),
      pairFloor, neighborCount, basketCap)

  /** Capped distinct membership — shared by both faces so exact and
    * sampled read the identical basket universe. Kept as distinct →
    * count-window DELIBERATELY: the r16 pass A/B-tested the
    * collect_set + row-local pair expansion ([[Baskets]]) here and
    * measured it consistently slower (rec_item_cosine_dimsum
    * 2.6 → 4.0 s, rec_user_items 3.8 → 5.6 s) — object-aggregate and
    * generator churn outweigh the saved exchange (guide §1.2). */
  private def cappedMembers(pairs: DataFrame, maxBasket: Int): DataFrame =
    pairs.select(col("basket"), col("item")).distinct()
      .withColumn("__bsz",
        count(lit(1)).over(Window.partitionBy(col("basket"))))
      .filter(col("__bsz") <= maxBasket)
      .drop("__bsz")

  /** Exact face over any (basket, item) membership list: symmetric
    * top-k cosine neighbors per item. */
  def itemCosineOn(pairs: DataFrame, minCount: Long, topK: Int,
                   maxBasket: Int): DataFrame =
    symNeighbors(pairs, minCount, topK, maxBasket)
      .orderBy(col("item"), col("rank"))

  /** The ranked symmetric neighbor frame both recommendation faces
    * read: (item, neighbor, n_ab, cosine, rank ≤ topK). */
  private[ops] def symNeighbors(pairs: DataFrame, minCount: Long,
                                topK: Int, maxBasket: Int): DataFrame = {
    val members = cappedMembers(pairs, maxBasket)
      .transform(Reuse.shared) // feeds item counts + both sides of the pair join
    val counts = members.groupBy(col("item")).agg(count(lit(1)).as("n"))
    val pairCounts = members.as("x").join(members.as("y"), "basket")
      .filter(col("x.item") < col("y.item"))
      .groupBy(col("x.item").as("ia"), col("y.item").as("ib"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCount)
    // item-count joins left to AQE: the item vocabulary is the scale
    // axis (2k parts here, millions for a generic caller)
    val scored = pairCounts
      .join(counts.select(col("item").as("ia"), col("n").as("n_a")), "ia")
      .join(counts.select(col("item").as("ib"), col("n").as("n_b")), "ib")
      .select(col("ia"), col("ib"), col("n_ab"),
        // cast-BEFORE-multiply: Long n_a*n_b wraps at corpus scale
        round(col("n_ab").cast("double") /
          sqrt(col("n_a").cast("double") * col("n_b").cast("double")), 4)
          .as("cosine"))
    // symmetrize so "neighbors of i" sees both directions, then rank
    // on the ROUNDED cosine (ranking an unrounded double invites
    // last-ulp rank flips between engines) with an id tiebreak.
    // Row-local explode, not unionAll-of-two-selects: `scored` is the
    // basket self-join + pair-count + two count joins, and the union
    // form evaluated that whole chain once per arm (the checkpointed
    // `members` hides the re-run from a parquet-scan sweep) — one
    // generator pass emits the same row bag from one evaluation.
    val sym = scored.select(explode(array(
        struct(col("ia").as("item"), col("ib").as("neighbor"),
          col("n_ab"), col("cosine")),
        struct(col("ib").as("item"), col("ia").as("neighbor"),
          col("n_ab"), col("cosine")))).as("e"))
      .select(col("e.item").as("item"), col("e.neighbor").as("neighbor"),
        col("e.n_ab").as("n_ab"), col("e.cosine").as("cosine"))
    sym.withColumn("rank", row_number().over(Window.partitionBy(col("item"))
        .orderBy(col("cosine").desc, col("neighbor"))))
      .filter(col("rank") <= topK)
  }

  /** Per-customer recommendations COMPOSED from the neighbor lists —
    * the end-to-end "customers also bought" face: each customer's
    * owned item set pulls its items' top-k neighbors, neighbor
    * scores SUM across the owned evidence (as exact DECIMAL — a
    * double sum across partitions is order-dependent), owned items
    * are excluded by an anti-join, and the top `topN` per customer
    * survive on a (score desc, item) total order. Work is bounded by
    * |ownership| · topK candidate rows — the neighbor lists cap the
    * fan-out, which is what makes the compose scale (an uncapped
    * item-similarity join would be ownership × co-item). */
  def userItems(s: SparkSession, d: String): DataFrame = {
    val topN = 3
    val owned = Tables.orders(s, d)
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_partkey").as("item"))
      .distinct()
    val neighbors = symNeighbors(Tables.lineitem(s, d)
      .select(col("l_orderkey").as("basket"), col("l_partkey").as("item")),
      pairFloor, neighborCount, basketCap)
    val cand = owned.join(neighbors, "item")
      .groupBy(col("cust"), col("neighbor").as("rec_item"))
      .agg(sum(col("cosine").cast("decimal(14,4)")).as("__score"),
        count(lit(1)).as("n_sources"))
    val fresh = cand.join(
      owned.select(col("cust"), col("item").as("rec_item")),
      Seq("cust", "rec_item"), "left_anti")
    fresh.withColumn("rank",
        row_number().over(Window.partitionBy(col("cust"))
          .orderBy(col("__score").desc, col("rec_item"))))
      .filter(col("rank") <= topN)
      .select(col("cust"), col("rec_item"),
        round(col("__score").cast("double"), 4).as("score"),
        col("n_sources"), col("rank"))
      .orderBy(col("cust"), col("rank"))
  }

  /** DIMSUM tier over order→part baskets. */
  def itemCosineDimsum(s: SparkSession, d: String): DataFrame = {
    val gamma = 16
    val topN = 50
    itemCosineDimsumOn(Tables.lineitem(s, d)
      .select(col("l_orderkey").as("basket"), col("l_partkey").as("item")),
      gamma, topN, basketCap)
  }

  /** DIMSUM-sampled top-N strongest estimated pairs. Norms join the
    * membership BEFORE pair generation (DIMSUM needs ‖c_i‖ up
    * front); the per-co-occurrence coin thresholds an md5 prefix at
    * ⌊10⁶·γ/√(n_i·n_j)⌋, so the kept-pair stream shrinks exactly
    * where the exact face blows up. */
  def itemCosineDimsumOn(pairs: DataFrame, gamma: Int, topN: Int,
                         maxBasket: Int): DataFrame = {
    require(gamma >= 1, s"gamma must be positive: $gamma")
    val members = cappedMembers(pairs, maxBasket)
      .transform(Reuse.shared)
    val counts = members.groupBy(col("item")).agg(count(lit(1)).as("n"))
    val withN = members
      .join(counts, "item") // AQE picks broadcast when the vocab is small
      .select(col("basket"), col("item"), col("n"))
    val joined = withN.as("x").join(withN.as("y"), "basket")
      .filter(col("x.item") < col("y.item"))
      .select(col("basket"), col("x.item").as("ia"), col("y.item").as("ib"),
        col("x.n").as("n_a"), col("y.n").as("n_b"))
    // deterministic per-instance coin (the DOULION idiom): md5 prefix
    // of (basket,i,j) → uniform in [0,1e6); keep when below the
    // DIMSUM threshold — identical expression replays in DuckDB
    val thr = least(lit(1000000L),
      floor(lit(gamma.toDouble * 1e6) /
        sqrt(col("n_a").cast("double") * col("n_b").cast("double"))))
    val coin = conv(substring(md5(concat(
        col("basket").cast("string"), lit("_"),
        col("ia").cast("string"), lit("_"),
        col("ib").cast("string"))), 1, 15), 16, 10).cast("long") % 1000000L
    val kept = joined.filter(coin < thr)
      .groupBy(col("ia"), col("ib"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("cnt"))
    // unbiased estimator: cnt/γ in the sampled regime, exact
    // cnt/√(n_a·n_b) where p=1 kept everything
    val est = kept.select(col("ia"), col("ib"), col("cnt"),
      round(when(
        lit(gamma.toDouble) >=
          sqrt(col("n_a").cast("double") * col("n_b").cast("double")),
        col("cnt").cast("double") /
          sqrt(col("n_a").cast("double") * col("n_b").cast("double")))
        .otherwise(col("cnt").cast("double") / gamma.toDouble), 4)
        .as("cos_est"))
    est.orderBy(col("cos_est").desc, col("ia"), col("ib")).limit(topN)
  }
}
