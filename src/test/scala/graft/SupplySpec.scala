package graft

import graft.ops.Supply
import org.apache.spark.sql.functions._

/** Invariants for the round-12 TPC-H supply block (Q2/Q9/Q11/Q16/Q20
  * over the derived partsupp dim). The oracle gate does the
  * value-exact cross-engine compare at five scales; these pin the
  * SEMANTICS — the dim's shape, the min/threshold gates, the set
  * semantics — so a refactor can't silently change what the queries
  * mean. */
class SupplySpec extends SparkSpec {

  test("derived partsupp: 4 real suppliers per part, closed-form columns in range") {
    val ps = Supply.partsupp(spark, sf).localCheckpoint(false)
    val nPart = Tables.part(spark, sf).count()
    assert(ps.count() === nPart * 4)
    // distinct (part, supplier) pairs — the stride never collides
    assert(ps.select("ps_partkey", "ps_suppkey").distinct.count() === nPart * 4)
    // every derived suppkey is a REAL supplier (the rank contract)
    val phantom = ps.join(Tables.supplier(spark, sf),
      col("ps_suppkey") === col("s_suppkey"), "left_anti")
    assert(phantom.count() === 0)
    val bad = ps.filter(!col("ps_availqty").between(1, 9999) ||
      !col("ps_cost_cents").between(1, 99999))
    assert(bad.count() === 0)
  }

  test("q2: every published cost is the true per-part min over region suppliers") {
    val rows = Supply.minCostSupplier(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 100)
    // recompute the min independently for each published part
    val regSupp = Tables.supplier(spark, sf)
      .join(Tables.nation(spark, sf), col("s_nationkey") === col("n_nationkey"))
      .filter(col("n_regionkey") === 3) // EUROPE
      .select(col("s_suppkey")).collect().map(_.getLong(0)).toSet
    val ps = Supply.partsupp(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("ps_cost_cents")))
    val minByPart = ps.filter(t => regSupp(t._2)).groupBy(_._1)
      .map { case (pk, ts) => pk -> ts.map(_._3).min }
    rows.foreach { r =>
      val pk = r.getAs[Long]("p_partkey")
      val cents = math.round(r.getAs[Double]("ps_supplycost") * 100)
      assert(cents === minByPart(pk), s"part $pk")
    }
    // acctbal descending with the documented tiebreaks
    val keys = rows.map(r => (-r.getAs[Double]("s_acctbal"),
      r.getAs[String]("n_name"), r.getAs[String]("s_name"),
      r.getAs[Long]("p_partkey")))
    assert(keys.sameElements(keys.sorted))
  }

  test("q9: profit for one (nation, year) matches an independent recomputation") {
    val rows = Supply.productTypeProfit(spark, sf).collect()
    assert(rows.nonEmpty)
    val r0 = rows.head
    val (nn, yy) = (r0.getAs[String]("n_name"), r0.getAs[Int]("o_year"))
    val ps = Supply.partsuppOn(spark, sf, Tables.part(spark, sf)
      .filter(col("p_name").contains("red")))
    val expect = Tables.lineitem(spark, sf)
      .join(ps, col("l_partkey") === col("ps_partkey") &&
        col("l_suppkey") === col("ps_suppkey"))
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .filter(year(col("o_orderdate")) === yy)
      .join(Tables.supplier(spark, sf), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.nation(spark, sf).filter(col("n_name") === nn),
        col("s_nationkey") === col("n_nationkey"))
      .select(((round(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * 10000).cast("long"))
        - col("ps_cost_cents") * 100 * col("l_quantity").cast("long"))
          .as("m"))
      .agg(sum(col("m"))).collect()(0).getLong(0)
    assert(math.round(r0.getAs[Double]("sum_profit") * 10000) === expect)
  }

  test("q11: every published part clears the 1e-4 concentration gate") {
    val rows = Supply.valueConcentration(spark, sf).collect()
    assert(rows.nonEmpty)
    val natSupp = Tables.supplier(spark, sf)
      .join(Tables.nation(spark, sf).filter(col("n_name") === "NATION_8"),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey")).collect().map(_.getLong(0)).toSet
    val perPart = Supply.partsupp(spark, sf).collect()
      .filter(r => natSupp(r.getLong(1)))
      .groupBy(_.getLong(0))
      .map { case (pk, rs) =>
        pk -> rs.map(r => BigInt(r.getAs[Long]("ps_cost_cents")) *
          r.getAs[Long]("ps_availqty")).sum }
    val total = perPart.values.sum
    // published set == the exact gate, value face == cents/100
    val published = rows.map(r => r.getAs[Long]("ps_partkey") ->
      BigInt(math.round(r.getAs[Double]("value") * 100))).toMap
    val expect = perPart.filter { case (_, v) => v * 10000 > total }
    assert(published === expect)
  }

  test("q16: excluded brand/type/suppliers never appear; counts are distinct-supplier") {
    val rows = Supply.supplierCounts(spark, sf).collect()
    assert(rows.nonEmpty)
    val sizes = Set(49, 14, 23, 45, 19, 3, 36, 9)
    rows.foreach { r =>
      assert(r.getAs[String]("p_brand") !== "Brand#1")
      assert(r.getAs[String]("p_type") !== "PROMO")
      assert(sizes(r.getAs[Int]("p_size")))
      assert(r.getAs[Long]("supplier_cnt") >= 1)
    }
    // order: cnt desc then keys
    val keys = rows.map(r => (-r.getAs[Long]("supplier_cnt"),
      r.getAs[String]("p_brand"), r.getAs[String]("p_type"),
      r.getAs[Int]("p_size")))
    assert(keys.sameElements(keys.sorted))
  }

  test("q20: published suppliers are nation members with a qualifying excess-stock part") {
    val rows = Supply.qtyThresholdSuppliers(spark, sf).collect()
    assert(rows.nonEmpty)
    val nat = Tables.supplier(spark, sf)
      .join(Tables.nation(spark, sf).filter(col("n_name") === "NATION_8"),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey")).collect().map(_.getLong(0)).toSet
    assert(rows.forall(r => nat(r.getAs[Long]("s_suppkey"))))
    // recompute the qualifying set exactly
    val shipped = Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity").cast("long")).as("sq"))
    val qual = Supply.partsuppOn(spark, sf, Tables.part(spark, sf)
        .filter(col("p_name").startsWith("red")))
      .join(shipped, col("ps_partkey") === col("l_partkey") &&
        col("ps_suppkey") === col("l_suppkey"))
      .filter(col("ps_availqty") * 2 > col("sq"))
      .select(col("ps_suppkey")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(rows.map(_.getAs[Long]("s_suppkey")).toSet === (nat & qual))
  }
}
