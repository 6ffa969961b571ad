package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TPC-H Q12/Q21 over DERIVED shipping columns — the last two classic
  * shapes SURVEY.md documented out because the driver's read-only
  * lineitem carries no commit/receipt dates or ship modes (reference:
  * the workshop's Athena/Glue SQL layer exposes the full TPC-H
  * surface; DataDiscoveryAndConversation.ipynb cells 14-37 establish
  * the schema-adapted-TPC-H posture). The [[Supply]] precedent
  * applied to the shipping axis: every missing column is a CLOSED
  * FORM of the lineitem keys (and the real l_shipdate), so both
  * engines derive the IDENTICAL columns in-plan and the cross-engine
  * oracle gate applies unchanged:
  *
  *  - commit_off  = (l_orderkey·13 + l_suppkey·7 + l_linenumber·3)
  *                  % 61 − 30 ∈ [−30, 30]: l_commitdate =
  *                  l_shipdate + commit_off days (a commitment the
  *                  shipment beat when commit_off > 0 — both Q12
  *                  branches populated by construction).
  *  - receipt_off = (l_orderkey·11 + l_partkey·3 + l_linenumber·7)
  *                  % 30 + 1 ∈ [1, 30]: l_receiptdate = l_shipdate +
  *                  receipt_off days (receipt strictly after ship).
  *  - l_shipmode  = MODES[(l_orderkey·3 + l_partkey·5 +
  *                  l_linenumber) % 7] — the seven TPC-H modes.
  *
  * Date COMPARISONS between derived dates reduce to exact integer
  * offset comparisons (commitdate < receiptdate ⟺ commit_off <
  * receipt_off; shipdate < commitdate ⟺ commit_off > 0) — no
  * timestamp arithmetic can disagree across engines there; the one
  * real date computation (Q12's receipt year) adds whole days to the
  * shared l_shipdate timestamp identically on both sides.
  *
  * Scale posture: both queries are single-pass over lineitem — Q21
  * especially: the classic three-self-join EXISTS/NOT-EXISTS shape
  * is re-expressed as ONE per-order aggregate (countDistinct
  * suppliers, countDistinct late suppliers, and — exactly when the
  * late-supplier count is 1 — max() recovers WHO), which is the
  * shrink-then-join plan that survives 100 TB where the textbook
  * triple lineitem scan does not.
  */
object Shipping {

  private[graft] val MODES =
    Seq("REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB")

  private def commitOff: Column =
    (col("l_orderkey") * 13 + col("l_suppkey") * 7 +
      col("l_linenumber") * 3) % 61 - 30

  private def receiptOff: Column =
    (col("l_orderkey") * 11 + col("l_partkey") * 3 +
      col("l_linenumber") * 7) % 30 + 1

  private def shipMode: Column =
    element_at(
      array(MODES.map(lit): _*),
      ((col("l_orderkey") * 3 + col("l_partkey") * 5 +
        col("l_linenumber")) % 7).cast("int") + 1)

  /** lineitem + the derived shipping columns (offsets kept as
    * integers; dates form only where a query needs a calendar
    * value). */
  private[graft] def withShipping(li: DataFrame): DataFrame =
    li.withColumn("__commit_off", commitOff)
      .withColumn("__receipt_off", receiptOff)
      .withColumn("l_shipmode", shipMode)

  /** The shared DuckDB derivation (identical integer hashes; DuckDB's
    * % on positive BIGINTs matches Spark's). */
  private[graft] val shipCte: String =
    """ls AS (
      |  SELECT *,
      |    (l_orderkey * 13 + l_suppkey * 7 + l_linenumber * 3) % 61 - 30
      |      AS commit_off,
      |    (l_orderkey * 11 + l_partkey * 3 + l_linenumber * 7) % 30 + 1
      |      AS receipt_off,
      |    ['REG AIR','AIR','RAIL','SHIP','TRUCK','MAIL','FOB']
      |      [CAST((l_orderkey * 3 + l_partkey * 5 + l_linenumber) % 7
      |         AS INT) + 1] AS l_shipmode
      |  FROM lineitem)""".stripMargin

  /** TPC-H Q12 (shipping modes and order priority): for two cheap
    * modes and one receipt year, how many CRITICAL (1-URGENT/2-HIGH)
    * vs other orders' lines arrived late against their commitment
    * but were shipped before it (commitdate < receiptdate AND
    * shipdate < commitdate) — the "did cheap shipping hurt urgent
    * orders" audit. Offset-integer gates reach the lineitem scan as
    * pushed predicates BEFORE the orders join; counting is exact
    * LONG. One shuffle to the 2-row mode grain. */
  def shipmodePriority(s: SparkSession, d: String): DataFrame = {
    val modeA = "SHIP"
    val modeB = "RAIL"
    val year = 1997
    val li = withShipping(Tables.lineitem(s, d))
      .filter(col("l_shipmode").isin(modeA, modeB) &&
        col("__commit_off") < col("__receipt_off") &&
        col("__commit_off") > 0 &&
        expr("year(timestampadd(DAY, __receipt_off, l_shipdate))")
          === year)
      .select(col("l_orderkey"), col("l_shipmode"))
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    li.join(Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_shipmode"))
      .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy(col("l_shipmode"))
  }

  /** TPC-H Q21 (suppliers who kept orders waiting): suppliers from
    * one nation whose line was the ONLY late one (receiptdate >
    * commitdate) on a finished multi-supplier order. The EXISTS
    * ("another supplier on the order") and NOT EXISTS ("no other
    * supplier was also late") fold into one per-order aggregate:
    * n_supps ≥ 2 ∧ n_late_supps = 1, with max(late supplier)
    * recovering the culprit exactly when the count is 1. numwait =
    * count of such orders per supplier (each order counts once —
    * stated contract; the textbook row-count variant differs only by
    * per-order line multiplicity). Orders filtered to status F
    * BEFORE the join; supplier/nation broadcast onto the
    * supplier-grain result; top-100 TakeOrderedAndProject on
    * (numwait desc, s_name). */
  def suppliersWaiting(s: SparkSession, d: String,
                       nationName: String = "NATION_7"): DataFrame = {
    val late = col("__receipt_off") > col("__commit_off")
    val fOrders = Tables.orders(s, d)
      .filter(col("o_orderstatus") === "F").select(col("o_orderkey"))
    // two-level aggregate instead of per-order countDistinct×2: the
    // multiple-distinct form plans an Expand that triples the joined
    // lineitem through the exchange; pre-aggregating to (order,
    // supplier, any-line-late) combines map-side and shuffles at most
    // one narrow row per pair — same values, no 3× shuffle volume
    val perSupp = withShipping(Tables.lineitem(s, d))
      .join(fOrders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(when(late, 1L).otherwise(0L)).as("__late"))
    val perOrder = perSupp
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("__n_supps"),
        sum(col("__late")).as("__n_late"),
        max(when(col("__late") === 1L, col("l_suppkey")))
          .as("__late_supp"))
      .filter(col("__n_supps") >= 2 && col("__n_late") === 1)
    val culprit = perOrder.groupBy(col("__late_supp").as("s_key"))
      .agg(count(lit(1)).as("numwait"))
    culprit
      .join(Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d)
              .filter(col("n_name") === nationName)),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("s_name")),
        col("s_key") === col("s_suppkey"))
      .select(col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(100)
  }
}
