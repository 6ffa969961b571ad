package graft

import graft.ops.{Analytics, DedupOps, SimilarityOps, TextOps, TimeSeriesOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Plan-shape audits: the properties that decide whether a query
  * survives a 100× scale-up — filter pushdown into the scan, column
  * pruning, broadcast joins for dimension tables, and the absence of
  * cartesian products — asserted on the EXECUTED plan (post-AQE), so
  * a regression in any of them fails loudly instead of surfacing as
  * a mystery slowdown at scale. These tests pin entry-specific
  * shapes; the registry-wide "no CartesianProduct" check runs on
  * every entry in IsolationSpec's sweep.
  */
class PlanSpec extends SparkSpec {

  /** Run the frame THROUGH ITS OWN QueryExecution (collect, not a
    * separate write command, which would plan and execute a different
    * QueryExecution and leave this one un-executed), then return the
    * final adaptive plan — after execution the AdaptiveSparkPlan
    * string shows the runtime-reoptimized plan, which is the one
    * these properties must hold on. */
  private def executedPlan(df: DataFrame): String = {
    df.collect()
    // AdaptiveSparkPlan prints "== Final Plan ==" followed by
    // "== Initial Plan ==" — keep only the final section so operator
    // counts aren't doubled by the initial copy
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  test("anomaly filter is pushed down into the parquet scan") {
    val plan = executedPlan(Analytics.anomalyFilter(spark, sf))
    // the predicate must reach the source, not run post-scan only
    assert(plan.contains("PushedFilters:") &&
      plan.contains("GreaterThanOrEqual(l_shipdate"), plan)
  }

  test("token counting prunes the scan to the referenced columns") {
    val plan = executedPlan(TextOps.tokenCounts(spark, sf))
    // documents carries lang/n_chars/text; only doc_id+text may be read
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema:"))
      .getOrElse(fail(s"no ReadSchema in plan:\n$plan"))
    assert(readSchema.contains("doc_id") && readSchema.contains("text"))
    assert(!readSchema.contains("lang") && !readSchema.contains("n_chars"))
  }

  test("star join q5 broadcasts its dimension sides") {
    val plan = executedPlan(Analytics.regionRevenue(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("key-less range join never plans a cartesian product") {
    val ev = Tables.events(spark, sf).select(col("event_id"), col("ts"), col("value"))
    val anchors = ev.orderBy(col("value").desc, col("event_id")).limit(10)
      .select(col("event_id").as("anchor_id"), col("ts").as("anchor_ts"))
    val plan = executedPlan(TimeSeriesOps.rangeJoinBucketed(
      anchors, "anchor_ts", ev.select(col("event_id").as("near_id"), col("ts")),
      "ts", 300L, 300L))
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("brute-force ANN broadcasts the query side, not the corpus") {
    val plan = executedPlan(SimilarityOps.bruteForceTopK(spark, sf))
    // the corpus×queries product must be a broadcast nested loop with
    // the (tiny) query set as the broadcast side
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("LSH embedding dedup joins on buckets — no product, no broadcast of the corpus") {
    val plan = executedPlan(DedupOps.embeddingPairsLsh(spark, sf,
      threshold = 0.45, nBits = 4, nTables = 4))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("cross-corpus decontamination joins on band signatures — no product") {
    val docs = Tables.documents(spark, sf)
    val plan = executedPlan(DedupOps.decontaminate(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 =!= 0)))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("broadcast decontamination never shuffles the corpus") {
    val docs = Tables.documents(spark, sf)
    val plan = executedPlan(graft.ops.DedupOps.decontaminateBroadcast(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 =!= 0)))
    // both candidate and verify joins must be broadcast — a sort-merge
    // or shuffled-hash join here means the corpus went through an
    // exchange, the thing this variant exists to avoid
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("curate pipeline stays product-free end to end") {
    val docs = Tables.documents(spark, sf)
    val plan = executedPlan(graft.ops.CurateOps.curate(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 =!= 0)))
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("interpolation runs ONE window pass and shuffles only on the series key") {
    import spark.implicits._
    def d(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    val daily = Seq(("a", d("2024-01-01"), 1.0), ("a", d("2024-01-04"), 4.0),
      ("b", d("2024-01-01"), 2.0)).toDF("k", "day", "v")
    val plan = executedPlan(TimeSeriesOps.interpolateOn(daily, "k", "day", "v"))
    // all four neighbor columns (two ignoreNulls frames) must land in
    // ONE Window operator over one partitioning of the series key — a
    // second Window would mean a second sort/scan of every series
    val windows = "\\bWindow\\b".r.findAllIn(plan).size
    assert(windows === 1, s"expected exactly 1 Window operator, got $windows:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("containment joins the inverted index on shingle equality — no product") {
    val docs = Tables.documents(spark, sf)
    val plan = executedPlan(DedupOps.containmentOn(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 =!= 0)))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("reference e2e readback pushes the anomaly filter into the scan") {
    // the chain body's lazy frame: the registry face returns the
    // collected matrix, whose plan no longer shows the readback scan
    val dir = graft.TempDirs.create("plan_spec_reference_")
    val plan =
      try executedPlan(graft.etl.ReferencePipeline.runOn(spark, sf, dir.toString))
      finally graft.TempDirs.delete(dir)
    // the final pivot reads the curated PARQUET (not the staged CSV),
    // and the notebook's timestamp gate must reach that scan — an
    // unpushed filter here means the whole curated table streams
    // through the filter operator at 100 TB
    // the returned frame derives only from the parquet readback (the
    // CSV staging is materialized before it), so every scan with
    // pushable filters in this plan is a curated scan
    val scanLines = plan.linesIterator.filter(_.contains("PushedFilters:")).toSeq
    assert(scanLines.nonEmpty, s"no parquet scan with PushedFilters in:\n$plan")
    scanLines.foreach { l =>
      assert(l.contains("LessThan(ts"), s"ts bound not pushed: $l")
    }
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("corpus-wide line dedup aggregates ownership — no per-line window") {
    import spark.implicits._
    val docs = Seq((1L, "h\nb1\nf"), (2L, "h\nb2\nf"), (3L, "h\nf"))
      .toDF("doc_id", "text")
    val plan = executedPlan(TextOps.dedupLinesGlobalOn(docs))
    // the first-occurrence owner must be the map-side-combinable
    // min-struct aggregate: a Window partitioned by the line would
    // funnel a billion-copy boilerplate line through one reducer
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("dau/wau support explode stays equi-keyed — no day-grid nested loop") {
    val plan = executedPlan(Analytics.dauWau(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("dau/wau checked face keeps the equi-keyed shape with HLL beside " +
       "the exact distinct") {
    val plan = executedPlan(Analytics.dauWauChecked(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("scd2 runs both windows on ONE exchange of the key partitioning") {
    val plan = executedPlan(graft.etl.Mapping.scd2(
      Tables.events(spark, sf).select(col("user_id"), col("event_type"),
        col("ts"), col("event_id")),
      keys = Seq("user_id"), attrs = Seq("event_type"),
      ts = "ts", tie = Seq("event_id")))
    // the change-collapse window and the validity-interval window
    // share (key, order): a second hashpartitioning exchange on the
    // key would mean the reuse regressed to a double shuffle
    val keyExchanges = "Exchange hashpartitioning\\(user_id".r
      .findAllIn(plan).size
    assert(keyExchanges === 1,
      s"expected 1 user_id exchange, got $keyExchanges:\n$plan")
  }

  test("grouping sets expand map-side: one shuffle, no per-set re-scan") {
    val plan = executedPlan(Analytics.groupingSetsAgg(spark, sf))
    // one Expand over one scan feeding one aggregation exchange — the
    // union-of-aggregates shape would show one scan+exchange per set
    assert("\\bExpand\\b".r.findAllIn(plan).size === 1, plan)
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans === 1, s"expected 1 scan, got $scans:\n$plan")
  }

  test("streaming near-dup batch face stays product-free") {
    val plan = executedPlan(
      graft.streaming.DedupStreams.nearDedupBatch(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("correlated scalar subqueries decorrelate: no per-row subquery, no product") {
    val plan = executedPlan(SparkEntry.queries("q_scalar_subquery")(spark, sf))
    // Assert the decorrelated shape POSITIVELY: the correlated scalars
    // must have been rewritten into a grouped aggregate on the
    // correlation key joined back to the outer side. (A blanket
    // "no node named *Subquery*" is brittle — InSubqueryExec /
    // SubqueryBroadcast appear in legitimately decorrelated plans
    // under AQE/DPP configurations.)
    val keyAggs = "HashAggregate\\(keys=\\[c_nationkey".r.findAllIn(plan).size
    assert(keyAggs >= 2, // partial + final of the decorrelated aggregate
      s"expected the decorrelated per-nation aggregate, got $keyAggs:\n$plan")
    assert(plan.contains("Join") || plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("sequence packing never runs a partition-less window over the corpus") {
    import spark.implicits._
    val docs = (1L to 200L).map(i => (i, s"tok a b c d $i")).toDF("doc_id", "text")
    val plan = executedPlan(TextOps.packOn(docs, ctxLen = 16))
    // the naive formulation is ONE global cumsum window (empty
    // partition spec ⇒ the whole corpus sorts in a single task); the
    // distributed prefix sum must leave every windowspecdefinition
    // with a partition column
    // first argument of a windowspecdefinition is its first partition
    // column, or — when the partition spec is empty — the ORDER
    // column itself (doc_id ASC / pid ASC)
    val specs = "windowspecdefinition\\(([^,]*)".r
      .findAllMatchIn(plan).map(_.group(1).trim).toSeq
    assert(specs.nonEmpty, plan)
    specs.foreach { first =>
      assert(!first.startsWith("doc_id"),
        s"corpus-wide partition-less window (spec head '$first') — the " +
          s"cumsum went through one task:\n$plan")
    }
    assert(specs.exists(_.startsWith("__pid")), specs.mkString(", "))
  }

  test("asofJoin plans exactly one shuffle over the unioned input") {
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("ts"))
    val ord = Tables.orders(spark, sf)
      .groupBy(col("o_custkey").as("user_id"), col("o_orderdate").as("ts"))
      .agg(round(max(col("o_totalprice")), 4).as("last_total"))
    val plan = executedPlan(TimeSeriesOps.asofJoin(ev, ord, "user_id", "ts"))
    // the fill runs in ONE window operator (the struct carry means
    // payload count never multiplies window passes) over ONE
    // hashpartitioning exchange; the only other exchange is the right
    // side's pre-aggregation — a range-join row explosion or
    // per-payload re-shuffle would add more of either
    val windows = "\\bWindow\\b".r.findAllIn(plan).size
    assert(windows === 1, s"expected exactly 1 Window operator, got $windows:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 2, s"expected <=2 shuffles, got $exchanges:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("session paths: all three windows ride one user-key exchange, " +
       "top paths via TakeOrdered") {
    val plan = executedPlan(Analytics.sessionPaths(spark, sf))
    // gap flag, session id, and in-session rank all partition by the
    // user key (the (user, sess) window is satisfied by the user-hash
    // partitioning already in place — only a Sort is allowed); a
    // second user_id exchange means the window reuse regressed
    val userExchanges = "Exchange hashpartitioning\\(user_id".r
      .findAllIn(plan).size
    assert(userExchanges === 1,
      s"expected 1 user_id exchange, got $userExchanges:\n$plan")
    // total shuffles: the user window + the path-count aggregation
    // (the (user, sess) path aggregation rides the window partitioning)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges === 2, s"expected 2 shuffles, got $exchanges:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("bm25: term statistics collapse to the query terms before any " +
       "join — the corpus never self-joins or broadcasts") {
    val plan = executedPlan(TextOps.bm25(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    // the query-sized idf side must come in as a broadcast hash join
    // on the term key (the single-row avgdl scalar rides the allowed
    // broadcast nested loop); a shuffle join on term would mean the
    // statistics stayed vocabulary-sized
    assert(plan.contains("BroadcastHashJoin [term"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("top-k entries plan TakeOrdered, never a global sort of all rows") {
    // skew profile: top-N keys out of a counts frame; weighted sample:
    // top-k of the whole corpus. Both MUST be per-partition heaps
    // merged on the driver (TakeOrderedAndProject) — a global
    // Sort+Limit materializes and sorts every row on one timeline and
    // is exactly what dies first at 100 TB.
    val skew = executedPlan(Analytics.skewProfile(
      Tables.events(spark, sf), col("user_id")))
    assert(skew.contains("TakeOrderedAndProject"), skew)
    val weighted = executedPlan(graft.ops.SampleOps.sampleWeighted(
      Tables.documents(spark, sf).select(col("doc_id"), col("n_chars")),
      "doc_id", col("n_chars"), k = 50))
    assert(weighted.contains("TakeOrderedAndProject"), weighted)
    // and neither sorts the full input: the only Sort allowed is the
    // final presentation sort AFTER the take (skew profile re-orders
    // its ≤N rows; the weighted sample has none)
    assert(!weighted.replaceAll("TakeOrderedAndProject[^\\n]*", "")
      .contains("Sort "), weighted)
  }

  test("mmr shortlist stage: the query set is broadcast onto the " +
       "corpus scan, never a cartesian or shuffled scoring join") {
    // the re-rank's own shortlist stage is checkpoint-hidden from its
    // final plan, but it shares bruteForceTopK's scoring shape — and
    // the greedy stage's plan must stay cartesian-free end to end
    val shortlist = executedPlan(SimilarityOps.bruteForceTopK(spark, sf,
      k = 20, nQueries = 10))
    assert(shortlist.contains("BroadcastNestedLoopJoin") ||
      shortlist.contains("BroadcastHashJoin"), shortlist)
    assert(!shortlist.contains("CartesianProduct"), shortlist)
    val greedy = executedPlan(SimilarityOps.mmrRerank(spark, sf))
    assert(!greedy.contains("CartesianProduct"), greedy)
  }

  test("adaboost base scan reads only its two feature columns") {
    // the localCheckpointed base hides the scan from the FINAL plan,
    // so audit the base frame's own execution: pruning to
    // (o_totalprice, o_orderstatus) is what halves the scan bytes
    val base = Tables.orders(spark, sf).select(
      round(col("o_totalprice"), 4).cast("double").as("x"),
      when(col("o_orderstatus") === "F", 1.0).otherwise(-1.0).as("y"))
    val plan = executedPlan(base)
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema:"))
      .getOrElse(fail(s"no ReadSchema in plan:\n$plan"))
    assert(readSchema.contains("o_totalprice") &&
      readSchema.contains("o_orderstatus"), plan)
    assert(!readSchema.contains("o_orderdate") &&
      !readSchema.contains("o_orderpriority"), plan)
    // and the boosted rounds themselves never cartesian-join their
    // one-row state frames
    val fit = executedPlan(graft.ops.MlOps.adaboostStumps(spark, sf))
    assert(!fit.contains("CartesianProduct"), fit)
  }

  test("curation funnel plans zero cartesian products") {
    val plan = executedPlan(graft.ops.CurateOps.curateFunnel(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
  }
}
