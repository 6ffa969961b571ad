package graft

import graft.ops.Recommend

class RecommendSpec extends SparkSpec {

  // hand-built baskets: x and y always co-occur (cosine 1), z joins
  // half of them (cosine 1/√2 ≈ 0.7071 vs each), w appears alone
  private def fixture = {
    import spark.implicits._
    Seq(
      (1L, "x"), (1L, "y"), (1L, "z"),
      (2L, "x"), (2L, "y"), (2L, "z"),
      (3L, "x"), (3L, "y"),
      (4L, "x"), (4L, "y"),
      (5L, "w")
    ).toDF("basket", "item")
  }

  test("itemCosineOn: exact binary cosine, symmetric top-k, rounded rank keys") {
    val rows = Recommend.itemCosineOn(fixture, minCount = 2, topK = 5,
      maxBasket = 16).collect()
    // pairs (x,y): 4/√(4·4)=1.0; (x,z),(y,z): 2/√(4·2)=0.7071; w drops
    val m = rows.map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(m(("x", "y")) === 1.0 && m(("y", "x")) === 1.0)
    assert(m(("x", "z")) === 0.7071 && m(("z", "x")) === 0.7071)
    assert(!m.keySet.exists(p => p._1 == "w" || p._2 == "w"))
    // per-item rank 1 is the strongest neighbor, neighbor-id tiebreak
    val xRows = rows.filter(_.getString(0) == "x").sortBy(_.getInt(4))
    assert(xRows.head.getString(1) === "y") // 1.0 beats 0.7071
    // z sees both x and y at equal cosine → tiebreak on neighbor id
    val zRows = rows.filter(_.getString(0) == "z").sortBy(_.getInt(4))
    assert(zRows.map(_.getString(1)).toSeq === Seq("x", "y"))
  }

  test("itemCosineOn: basket cap drops hostile baskets before the pair explode") {
    import spark.implicits._
    val hostile = (1 to 40).map(i => (99L, s"i$i")).toDF("basket", "item")
    val rows = Recommend.itemCosineOn(fixture.unionAll(hostile),
      minCount = 2, topK = 5, maxBasket = 16).collect()
    assert(!rows.exists(_.getString(0).startsWith("i")))
  }

  test("itemCosineDimsum: p=1 regime reproduces the exact cosine; " +
       "sampled regime estimator stays near truth on a planted corpus") {
    import spark.implicits._
    // small norms (n≤4) with γ=16 ⇒ √(n_a·n_b) ≤ 4 < γ: every
    // co-occurrence kept, estimator = exact cosine
    val all = Recommend.itemCosineDimsumOn(fixture, gamma = 16,
      topN = 50, maxBasket = 16).collect()
    val m = all.map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(m(("x", "y")) === 1.0)
    assert(m(("x", "z")) === 0.7071)
    // planted corpus: a,b co-occur in 400 baskets of 500 each ⇒
    // cosine 0.8, γ=16 ⇒ p=16/500 bites hard; the deterministic-coin
    // estimate must stay within ~5·√(cos/γ)≈0.9... use a looser
    // statistical band: expected emissions 400·16/500 = 12.8
    val planted = (1 to 500).flatMap { b =>
      val both = b <= 400
      if (both) Seq((1000L + b, "a"), (1000L + b, "b"))
      else Seq((1000L + b, "a"), (2000L + b, "b"))
    }.toDF("basket", "item")
    val est = Recommend.itemCosineDimsumOn(planted, gamma = 16,
      topN = 50, maxBasket = 16).collect()
    val ab = est.find(r => r.getString(0) == "a" && r.getString(1) == "b").get
    assert(math.abs(ab.getDouble(3) - 0.8) < 0.45,
      s"cos_est ${ab.getDouble(3)} vs 0.8")
  }

  test("userItems: recommendations exclude owned items, rank by summed " +
       "evidence, and cap at 3 per customer") {
    val rows = Recommend.userItems(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getInt(4) <= 3))
    // no recommendation may be an owned item
    val owned = Tables.orders(spark, sf)
      .join(Tables.lineitem(spark, sf),
        org.apache.spark.sql.functions.col("o_orderkey") ===
          org.apache.spark.sql.functions.col("l_orderkey"))
      .select(org.apache.spark.sql.functions.col("o_custkey"),
        org.apache.spark.sql.functions.col("l_partkey"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows.forall(r => !owned((r.getLong(0), r.getLong(1)))))
    // within a customer, scores are non-increasing with rank
    rows.groupBy(_.getLong(0)).values.foreach { rs =>
      val sorted = rs.sortBy(_.getInt(4))
      assert(sorted.sliding(2).forall { w =>
        w.length < 2 || w(0).getDouble(2) >= w(1).getDouble(2)
      })
    }
  }

  test("rec entries run on sf and agree in shape with their oracles") {
    val exact = Recommend.itemCosine(spark, sf).collect()
    assert(exact.nonEmpty)
    assert(exact.forall(_.getInt(4) <= 5))
    // symmetric: every (item, neighbor) has the reverse pair scored
    // identically in the underlying sym frame (rank may differ)
    val dimsum = Recommend.itemCosineDimsum(spark, sf).collect()
    assert(dimsum.nonEmpty && dimsum.length <= 50)
    // estimates are valid similarities
    assert(dimsum.forall(r => r.getDouble(3) >= 0.0))
  }
}
