package graft

import graft.ops.SkewOps
import org.apache.spark.sql.functions._

class SkewSpec extends SparkSpec {

  test("saltedJoin returns exactly the plain join's rows") {
    val events = Tables.events(spark, sf)
    val dim = Tables.events(spark, sf)
      .select(col("user_id")).distinct()
      .withColumn("segment", concat(lit("seg_"), col("user_id") % 3))
    val plain = events.join(dim, Seq("user_id"))
      .select("event_id", "segment").orderBy("event_id").collect()
    val salted = SkewOps.saltedJoin(events, dim, "user_id",
        uniqueCol = "event_id", saltFactor = 8)
      .select("event_id", "segment").orderBy("event_id").collect()
    assert(plain.length === salted.length)
    assert(plain.map(_.toString).sameElements(salted.map(_.toString)))
  }

  test("bloomSemiJoin equals the plain semi join, probe inside the plan") {
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_linenumber"))
    val urgent = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") === "1-URGENT").select(col("o_orderkey"))
    val bloomedDf = SkewOps.bloomSemiJoin(li, urgent, "l_orderkey", "o_orderkey")
    val bloomed = bloomedDf.collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val plain = li.join(urgent, col("l_orderkey") === col("o_orderkey"),
        "left_semi").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(bloomed === plain)
    assert(bloomed.nonEmpty)
    val plan = bloomedDf.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      "expected the Bloom probe to survive optimization as a scan filter")
  }

  test("bloomSemiJoin survives an absurd false-positive rate unchanged") {
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_linenumber"))
    val urgent = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") === "1-URGENT").select(col("o_orderkey"))
    val sloppy = SkewOps
      .bloomSemiJoin(li, urgent, "l_orderkey", "o_orderkey", fpp = 0.5)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val plain = li.join(urgent, col("l_orderkey") === col("o_orderkey"),
        "left_semi").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(sloppy === plain)
  }
}
