package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The TPC-H supply-side family (Q2/Q9/Q11/Q16/Q20) over a DERIVED
  * partsupp dim — the five classic shapes SURVEY.md documented out
  * because the driver's read-only testdata carries no partsupp
  * table. Every partsupp column is a CLOSED FORM of the key pair, so
  * both engines derive the IDENTICAL dim in-plan and the cross-engine
  * oracle gate applies unchanged:
  *
  *  - each part gets 4 suppliers, selected by supplier RANK
  *    (the ⌊S/4⌋+1 modular stride spreads them across the rank
  *    space; ranks are distinct per part for S ≥ 8). Rank — not the
  *    raw key modulus — so the derivation lands on REAL suppliers
  *    for ANY supplier key set (the driver's dense 0..S−1 keys and
  *    the ScaleUp-derived dirs' sparse offset-block keys alike; on
  *    dense keys rank ≡ key). The rank rides [[PrefixSum]] over the
  *    supplier dim — dim-sized, never a data-sized global window.
  *  - ps_availqty   = (partkey·7  + suppkey·11) % 9999  + 1
  *  - ps_cost_cents = (partkey·31 + suppkey·17) % 99999 + 1
  *    (1..999.99 dollars in integer CENTS — every cost comparison,
  *    min, and value product below is exact integer arithmetic; the
  *    /100.0 dollar face forms once at publication, where both
  *    engines divide the same integer and render the same double).
  *
  * Scale posture: the dim is part-cardinality×4 and derives by
  * projection + one rank join (supplier-dim-sized); no query below
  * self-joins a fact. Fact-side money stays on the exact micro-BIGINT
  * revenue contract ([[Analytics.revMicro]]).
  */
object Supply {

  private val dec = "decimal(38,0)"

  /** (rk, sk): dense 0-based supplier rank by suppkey — PrefixSum,
    * not a global row_number window (the dim is small today, but the
    * derivation must not carry a single-partition sort at 100 TB). */
  private def suppRank(s: SparkSession, d: String): DataFrame =
    PrefixSum.exclusive(
        Tables.supplier(s, d).select(col("s_suppkey")),
        Seq(col("s_suppkey").asc), lit(1))
      .select(col("__cum").as("rk"), col("s_suppkey").as("sk"))

  /** The derived partsupp dim for `parts` (pass a pre-filtered part
    * frame: the derivation is per-part, so pruning parts FIRST prunes
    * the dim for free). Columns: ps_partkey, ps_suppkey, ps_availqty,
    * ps_cost_cents. */
  private[graft] def partsuppOn(s: SparkSession, d: String,
                                parts: DataFrame): DataFrame = {
    val sc = Tables.supplier(s, d).agg(count(lit(1)).as("__s"))
    parts.select(col("p_partkey")).crossJoin(broadcast(sc))
      .select(col("p_partkey"),
        explode(expr("array(0,1,2,3)")).as("__i"), col("__s"))
      .withColumn("__rk",
        (col("p_partkey") + col("__i") * (expr("__s div 4") + lit(1L)))
          % col("__s"))
      .join(suppRank(s, d), col("__rk") === col("rk"))
      .select(col("p_partkey").as("ps_partkey"),
        col("sk").as("ps_suppkey"))
      .select(col("ps_partkey"), col("ps_suppkey"),
        ((col("ps_partkey") * 7 + col("ps_suppkey") * 11) % 9999 + 1)
          .as("ps_availqty"),
        ((col("ps_partkey") * 31 + col("ps_suppkey") * 17) % 99999 + 1)
          .as("ps_cost_cents"))
  }

  def partsupp(s: SparkSession, d: String): DataFrame =
    partsuppOn(s, d, Tables.part(s, d))

  /** The shared DuckDB CTE deriving the identical dim (row_number
    * rank over suppkey; same stride, same integer hashes). */
  private[graft] val psCte: String =
    """sc AS (SELECT count(*) AS s FROM supplier),
      |sr AS (SELECT row_number() OVER (ORDER BY s_suppkey) - 1 AS rk,
      |         s_suppkey AS sk FROM supplier),
      |ps AS (
      |  SELECT ps_partkey, ps_suppkey,
      |    (ps_partkey * 7 + ps_suppkey * 11) % 9999 + 1 AS ps_availqty,
      |    (ps_partkey * 31 + ps_suppkey * 17) % 99999 + 1 AS ps_cost_cents
      |  FROM (SELECT p_partkey AS ps_partkey, sk AS ps_suppkey
      |        FROM part, sc, (VALUES (0),(1),(2),(3)) i(i), sr
      |        WHERE (p_partkey + i.i * (s // 4 + 1)) % s = rk))""".stripMargin

  /** TPC-H Q2 (minimum-cost supplier): for parts in a size band of
    * one type, the EUROPE supplier(s) quoting the per-part minimum
    * cost. The correlated min runs as a per-part integer-cents
    * aggregate over the region-filtered candidates joined back on
    * EQUAL cents — exact, so cost ties all surface (this schema has
    * no p_mfgr; p_brand takes its output slot). nation/region
    * broadcast; the part filter prunes the derived dim BEFORE the
    * supplier join; top-100 via TakeOrderedAndProject on the unique
    * (acctbal desc, n_name, s_name, p_partkey) order — never a full
    * sort. */
  def minCostSupplier(s: SparkSession, d: String): DataFrame = {
    val regionName = "EUROPE"
    val sizeLo = 10
    val sizeHi = 30
    val partType = "LARGE"
    val p = Tables.part(s, d)
      .filter(col("p_size").between(sizeLo, sizeHi) &&
        col("p_type") === partType)
      .select(col("p_partkey"), col("p_brand"))
    val regSupp = Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)
          .filter(col("r_name") === regionName)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
        col("n_name"))
    val cand = partsuppOn(s, d, p)
      .join(regSupp, col("ps_suppkey") === col("s_suppkey"))
    val minc = cand.groupBy(col("ps_partkey"))
      .agg(min(col("ps_cost_cents")).as("__mc"))
    cand.join(minc, "ps_partkey")
      .filter(col("ps_cost_cents") === col("__mc"))
      .join(p, col("ps_partkey") === col("p_partkey"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_brand"),
        (col("ps_cost_cents") / 100.0).as("ps_supplycost"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
        col("p_partkey"))
      .limit(100)
  }

  /** TPC-H Q9 (product-type profit): profit by supplier nation ×
    * order year over parts whose name carries one word. Profit per
    * line = revenue − supplycost·quantity, ALL in exact micro-BIGINT
    * (cents×100 = micro; quantities are integral here), summed then
    * published once — no per-row double ever forms, so partial-agg
    * order can't move the face. The name filter prunes part AND the
    * derived dim before any fact join; nation broadcasts; the
    * lineitem⋈ps composite-key join and the orders join are left to
    * AQE. */
  def productTypeProfit(s: SparkSession, d: String): DataFrame = {
    val nameWord = "red"
    val p = Tables.part(s, d)
      .filter(col("p_name").contains(nameWord))
      .select(col("p_partkey"))
    val ps = partsuppOn(s, d, p)
    Tables.lineitem(s, d)
      .join(ps, col("l_partkey") === col("ps_partkey") &&
        col("l_suppkey") === col("ps_suppkey"))
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), year(col("o_orderdate")).as("o_year"))
      .agg(Analytics.microFace(sum(Analytics.revMicro -
        col("ps_cost_cents") * lit(100L) *
          col("l_quantity").cast("long"))).as("sum_profit"))
      .orderBy(col("n_name"), col("o_year").desc)
  }

  /** The nation of the Q11 and Q20 faces. */
  private val nationName = "NATION_8"

  /** TPC-H Q11 (value concentration): parts whose supply value held
    * by one nation's suppliers exceeds fraction 1e-4 of that nation's
    * total. Value is integer CENTS (cost_cents·availqty ≤ ~1e9/row);
    * the threshold gate is the exact cross-multiplication
    * value·10000 > total with BOTH sides widened to DECIMAL(38,0)
    * (HUGEINT in the oracle) — corpus-scale totals outgrow BIGINT
    * long before 100 TB. The total is a 1-row aggregate broadcast
    * back (the q15 scalar posture). */
  def valueConcentration(s: SparkSession, d: String): DataFrame = {
    val natSupp = Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)
          .filter(col("n_name") === nationName)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val perPart = partsupp(s, d)
      .join(natSupp, col("ps_suppkey") === col("s_suppkey"))
      .groupBy(col("ps_partkey"))
      .agg(sum(col("ps_cost_cents").cast("long") * col("ps_availqty"))
        .as("__v"))
    val tot = perPart.agg(sum(col("__v").cast(dec)).as("__tot"))
    perPart.crossJoin(broadcast(tot))
      .filter(col("__v").cast(dec) * 10000 > col("__tot"))
      .select(col("ps_partkey"), (col("__v") / 100.0).as("value"))
      .orderBy(col("value").desc, col("ps_partkey"))
  }

  /** TPC-H Q16 (supplier counts): distinct-supplier counts per
    * (brand, type, size) over eight sizes, excluding one brand, one
    * type, and blacklisted suppliers (no s_comment in this schema —
    * negative account balance is the complaints analog). The
    * blacklist is an ANTI join (never NOT IN's null trap); the
    * count(DISTINCT) shuffles (key, suppkey) pairs — dim-bounded,
    * 4/part. Group keys make the (cnt desc, brand, type, size) order
    * total. */
  def supplierCounts(s: SparkSession, d: String): DataFrame = {
    val exclBrand = "Brand#1"
    val exclType = "PROMO"
    val sizes = Seq(49, 14, 23, 45, 19, 3, 36, 9)
    val p = Tables.part(s, d)
      .filter(col("p_brand") =!= exclBrand && col("p_type") =!= exclType &&
        col("p_size").isin(sizes.map(Integer.valueOf): _*))
      .select(col("p_partkey"), col("p_brand"), col("p_type"),
        col("p_size"))
    val bad = Tables.supplier(s, d).filter(col("s_acctbal") < 0)
      .select(col("s_suppkey"))
    partsuppOn(s, d, p)
      .join(p, col("ps_partkey") === col("p_partkey"))
      .join(bad, col("ps_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("ps_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  /** TPC-H Q20 (excess-stock suppliers): one nation's suppliers
    * holding availqty above half of what they actually shipped of a
    * name-prefixed part in one year. The per-(part,supplier) shipped
    * sum aggregates lineitem FIRST (year filter pushed to the scan),
    * joins the pruned derived dim on the composite key, gates with
    * the exact integer 2·availqty > Σqty (quantities integral — no
    * 0.5·double boundary), and reaches supplier as a SEMI join: a
    * supplier with many qualifying parts counts once. */
  def qtyThresholdSuppliers(s: SparkSession, d: String): DataFrame = {
    val namePrefix = "red"
    val yr = 1996
    val p = Tables.part(s, d)
      .filter(col("p_name").startsWith(namePrefix))
      .select(col("p_partkey"))
    val shipped = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit(s"$yr-01-01").cast("timestamp") &&
        col("l_shipdate") < lit(s"${yr + 1}-01-01").cast("timestamp"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity").cast("long")).as("__sq"))
    val qual = partsuppOn(s, d, p)
      .join(shipped, col("ps_partkey") === col("l_partkey") &&
        col("ps_suppkey") === col("l_suppkey"))
      .filter(col("ps_availqty") * 2 > col("__sq"))
      .select(col("ps_suppkey"))
    Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)
          .filter(col("n_name") === nationName)),
        col("s_nationkey") === col("n_nationkey"))
      .join(qual, col("s_suppkey") === col("ps_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
      .orderBy(col("s_suppkey"))
  }
}
