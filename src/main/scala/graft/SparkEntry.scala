package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.etl.Mapping
import graft.ops._
import scala.util.chaining._

/** Driver contract — see /root/repo/SURVEY.md §2 (inventory) and §5
  * (correctness protocol). Every implemented operator has a
  * `queries` entry; SQL-expressible ones also carry a DuckDB oracle
  * in `oracleSql` with identical column names/rounding.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Analytics.pricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.2 SQL analytics
    "q1_pricing_summary" -> (Analytics.pricingSummary _),
    "q3_top_unshipped"   -> (Analytics.topUnshipped _),
    "q5_region_revenue"  -> (Analytics.regionRevenue _),
    // Q10 churn outreach: quarter of returns per customer, DECIMAL
    // revenue, nation broadcast, pushed returnflag+date filters
    "q10_returned_items" -> ((s, d) => Analytics.returnedItemReport(s, d)),
    // Q6 what-if scan: one pushed-filter pass, scalar DECIMAL agg
    "q6_revenue_change"  -> (Analytics.revenueChange _),
    // Q4-flavored: EXISTS semi-join so multi-late orders count once
    "q4_priority_late"   -> (Analytics.latePriorityReport _),
    // TPC-H completion block (r11): the remaining classic shapes this
    // schema can express — bilateral volume, market-share and promo
    // ppm ratios (exact integer floor division of micro sums), the
    // scalar-max top supplier, the exact-integer small-qty gate, and
    // the shrink-then-join large-orders HAVING
    "q7_nation_volume"   -> ((s, d) => Analytics.nationVolume(s, d)),
    "q8_market_share"    -> ((s, d) => Analytics.marketShare(s, d)),
    "q14_promo_revenue"  -> (Analytics.promoRevenue _),
    "q15_top_supplier"   -> (Analytics.topSupplier _),
    "q17_small_qty_revenue" -> ((s, d) => Analytics.smallQtyRevenue(s, d)),
    "q18_large_orders"   -> ((s, d) => Analytics.largeOrders(s, d)),
    "q13_order_counts"   -> (Analytics.orderCountDist _),
    "q19_discount_bands" -> (Analytics.discountBands _),
    "q22_global_sales"   -> (Analytics.globalSales _),
    // TPC-H supply block (r12): Q2/Q9/Q11/Q16/Q20 over the DERIVED
    // partsupp dim (graft.ops.Supply) — closed-form columns of the
    // key pair, identical on both engines, so the oracle gate applies
    "q2_min_cost_supplier"   -> ((s, d) => Supply.minCostSupplier(s, d)),
    "q9_product_profit"      -> ((s, d) => Supply.productTypeProfit(s, d)),
    "q11_value_concentration" -> ((s, d) => Supply.valueConcentration(s, d)),
    "q16_supplier_counts"    -> ((s, d) => Supply.supplierCounts(s, d)),
    "q20_qty_threshold"      -> ((s, d) => Supply.qtyThresholdSuppliers(s, d)),
    // round 12: Q12/Q21 over DERIVED commit/receipt offsets + ship
    // modes (ops/Shipping.scala — the Supply posture on the shipping
    // axis), closing the TPC-H family this schema can express
    "q12_shipmode_priority"  -> ((s, d) => Shipping.shipmodePriority(s, d)),
    "q21_suppliers_waiting"  -> ((s, d) => Shipping.suppliersWaiting(s, d)),
    "q_count_by_type"    -> (Analytics.countByType _),
    "q_union_counts"     -> (Analytics.unionCounts _),
    "q_per_day_type"     -> (Analytics.perDayType _),
    "q_pivot_per_day"    -> (Analytics.pivotPerDay _),
    "q_anomaly_filter"   -> (Analytics.anomalyFilter _),
    "q_json_extract"     -> (Analytics.jsonExtract _),
    "q_semi_join"        -> (Analytics.semiJoin _),
    "q_anti_join"        -> (Analytics.antiJoin _),
    "q_window_running"   -> (Analytics.windowRunning _),
    "q_rank_functions"   -> (Analytics.rankFunctions _),
    "q_window_time_range" -> ((s, d) => Analytics.windowTimeRange(s, d)),
    // melt = the inverse of the wide pivot: zero-shuffle map-side
    // expansion, not a UNION of per-column re-scans
    "etl_melt" -> ((s, d) => Mapping.melt(
      graft.ops.TimeSeriesOps.pivotWide(s, d), ids = Seq("day"),
      values = Seq("error", "purchase", "signup", "browse"),
      varName = "event_type", valueName = "cnt")
      .orderBy(col("day"), col("event_type"))),
    "q_topk_per_group"   -> (Analytics.topkPerGroup _),
    // ordered-stage conversion: stage k = earliest qualifying event AT
    // OR AFTER the user's stage-k-1 timestamp — out-of-order events
    // never convert; per-stage min aggregates chained on the user key
    "q_funnel" -> ((s, d) => Analytics.funnel(s, d)),
    // day-N stickiness: cohort = first-ever event day, cells count
    // distinct members active at each day offset
    "q_cohort_retention" -> (Analytics.cohortRetention _),
    // DAU + trailing-7-day WAU via a 7x support explode (equi-keyed,
    // map-side-combinable — never a day-range nested loop)
    "q_dau_wau" -> (Analytics.dauWau _),
    // the declared 100 TB face: HLL over the same support explode,
    // checked in-plan against the exact pair (q_distinct_approx
    // pattern — oracle asserts the tolerance verdicts are TRUE)
    "q_dau_wau_approx" -> ((s, d) => Analytics.dauWauChecked(s, d)),
    // segment-overlap algebra on MERGEABLE DataSketches HLL: build
    // once per segment, union per pair, inclusion-exclusion overlap —
    // checked in-plan against the exact user-keyed self-join
    "q_distinct_union" -> ((s, d) => Analytics.distinctUnionChecked(s, d)),
    "q_set_ops"          -> (Analytics.setOps _),
    "q_rollup"           -> (Analytics.rollupAgg _),
    "q_grouping_sets"    -> (Analytics.groupingSetsAgg _),
    "q_cube"             -> (Analytics.cubeAgg _),
    "q_distinct_count"   -> (Analytics.distinctCount _),
    "q_percentiles"      -> (Analytics.percentiles _),
    // sketch variants — the aggregates that actually run at 100 TB.
    // The entries run the CHECKED faces: sketch beside exact, an
    // in-plan tolerance verdict, oracle asserts verdict = TRUE — so
    // the estimator-specific values are cross-engine-gated after all
    "q_distinct_approx"   -> ((s, d) => Analytics.distinctCountChecked(s, d)),
    "q_percentiles_approx" -> ((s, d) => Analytics.percentilesChecked(s, d)),
    "q_histogram"  -> ((s, d) => Analytics.histogram(s, d)),
    // full-outer reconciliation: both one-sided null shapes surface
    "q_full_outer" -> (Analytics.fullOuterReconcile _),
    // bias audit: is language independent of source? χ² + Cramér's V
    // over the contingency cells (cell-cardinality work, one scan)
    "q_chi2" -> ((s, d) => Analytics.chi2Independence(
      Tables.documents(s, d), "lang", "source")),
    // χ²'s information-theoretic face: HOW MUCH does source tell you
    // about language — observed-cell p·ln terms DECIMAL-quantized
    // before the sum, √(H_a·H_b)-normalized NMI
    "q_mutual_info" -> ((s, d) => Analytics.mutualInfo(
      Tables.documents(s, d), "lang", "source")),
    // per-type adoption curve: first-seen fold + calendar-sized
    // running sum (never a per-day cumulative count-distinct)
    "q_user_growth" -> (Analytics.userGrowth _),
    // NTILE decile binning over a deterministic total order
    "ml_feature_ntile" -> ((s, d) => Analytics.ntileBins(s, d)),
    // per-series [p05,p95] clipping with rounded thresholds and
    // DECIMAL-quantized means — robust feature prep
    "ml_feature_winsorize" -> ((s, d) => Analytics.winsorize(s, d)),
    // group-mean imputation over PLANTED nulls (every 7th event), fill
    // is a reproducible 4dp constant per group, rows keep an audit flag
    "etl_impute" -> ((s, d) => Mapping.imputeMean(
      Tables.events(s, d).select(col("event_id"), col("event_type"),
        when(col("event_id") % 7 === 0, lit(null).cast("double"))
          .otherwise(col("value")).as("value")),
      "event_type", "value").orderBy(col("event_id"))),
    // collocation mining: adjacent-pair PMI — the phrase detector /
    // phrase-merge prep of tokenizer training
    "text_collocations" -> ((s, d) => TextOps.collocations(s, d)),
    // BPE-style merge training: 3 rounds of corpus-wide top-pair
    // fuse-and-rewrite, each a map-side-combinable pair count + 1-row
    // broadcast + row-local replace; fully oracled (unrolled rounds)
    "text_bpe_merges" -> ((s, d) => TextOps.bpeMerges(s, d)),
    // the tokenizer's APPLY face: merges trained on the even half
    // only, replayed on the held-out odd half — per-doc compression
    // where it matters (text the trainer never saw)
    "text_bpe_encode" -> ((s, d) => TextOps.bpeEncode(s, d)),
    // first-order user-journey transition matrix: one user-key window
    // pass, then cell-cardinality normalization over a broadcast
    "q_markov" -> (Analytics.markovTransitions _),
    // Welch's t between two series from ONE conditional moment
    // aggregation (exact DECIMAL sums; scalar derivation after)
    "q_ttest" -> ((s, d) => Analytics.welchTTest(s, d)),
    // first-digit law audit via fixed 4dp decimal rendering (float
    // log-digit math is one ulp from flipping; strings aren't)
    "q_benford" -> (Analytics.benfordDigits _),
    // privacy gate: QI-tuple group sizes vs k — group-cardinality
    // reduction after one map-side-combinable count
    "q_kanonymity" -> ((s, d) => Analytics.kAnonymity(s, d)),
    // the k gate's second axis: class-size safety says nothing about
    // the homogeneity attack — audit sensitive-value diversity too
    "q_ldiversity" -> ((s, d) => Analytics.lDiversity(s, d)),
    // the third privacy axis: per-class EMD vs the global sensitive
    // distribution in integer micro-units (proximity/skew attack)
    "q_tcloseness" -> ((s, d) => Analytics.tCloseness(s, d)),
    // one-row class-balance diagnostic: entropy / normalized / Gini
    // with DECIMAL-quantized per-class terms
    "q_entropy" -> ((s, d) =>
      Analytics.typeEntropy(Tables.documents(s, d), col("lang"))),
    // session-path mining: gap-split sessions and their first-3-type
    // journeys — all three window passes ride one user-key shuffle
    "q_session_paths" -> ((s, d) => Analytics.sessionPaths(s, d)),
    // sliding trigram mining over each user's FULL ordered stream —
    // the sequential-pattern complement of the session-head paths
    "q_event_ngrams" -> ((s, d) => Analytics.eventNgrams(s, d)),
    // per-series z-score with rounded (mu, sigma) — broadcast stats
    // join back, row-local standardization
    "ml_feature_scale" -> (Analytics.featureScale _),
    // BM25 top-k retrieval: query-sized term statistics, broadcast
    // corpus scalars, DECIMAL-quantized contributions, TakeOrdered
    "text_bm25" -> ((s, d) => TextOps.bm25(s, d)),
    // fully-oracled multinomial NB language classifier — the model IS
    // three aggregations; scoring joins through the term key
    "ml_naive_bayes" -> ((s, d) => TextOps.naiveBayes(s, d)),
    // reliability-by-confidence over the same scored frame: top-two
    // margin as exact decimal, integer-unit value bands, accuracy per
    // band — does the model's confidence mean anything?
    "ml_calibration" -> ((s, d) => TextOps.nbCalibration(s, d)),
    // one-vs-rest ROC AUC per class over the same scored frame:
    // Mann-Whitney rank form on the shared distributed prefix sum —
    // threshold-free discrimination beside the calibration table
    "ml_auc" -> ((s, d) => TextOps.nbAuc(s, d)),
    // PageRank over the order↔supplier bipartite graph: fixed lazy
    // power iteration, one node-key shuffle per round, DECIMAL
    // contributions + 10dp re-rounding for engine-identical ranks
    "q_pagerank" -> ((s, d) => graft.ops.GraphOps.pageRank(s, d)),
    // triangle count + clustering coefficient via degree-ordered wedge
    // enumeration (oriented out-degree ≤ O(√m) caps hub work); edges =
    // part co-occurrence in orders, basket-capped
    "graph_triangles" -> ((s, d) => graft.ops.GraphOps.triangles(s, d)),
    // the scale-free audit behind the degree-orientation/cap choices:
    // log2-binned degree histogram via integer binary-string length
    "graph_degree_dist" -> ((s, d) => graft.ops.GraphOps.degreeDist(s, d)),
    // k-core peeling: fixed-round degree filter + induced subgraph,
    // one node-key count + two left-semi joins per round
    "graph_kcore" -> ((s, d) => graft.ops.GraphOps.kCore(s, d)),
    // label-propagation communities: sync fixed rounds, one edge-join
    // + two map-side aggs per round, size-histogram output
    "graph_lpa" -> ((s, d) => graft.ops.GraphOps.lpa(s, d)),
    // the exact count's scale tier: DOULION edge sampling on a
    // deterministic md5 coin — sampling replays in the oracle, so
    // the estimate itself is value-checked cross-engine
    "graph_triangles_sampled" -> ((s, d) =>
      graft.ops.GraphOps.trianglesSampledOn(
        Tables.lineitem(s, d).select(col("l_orderkey").as("basket"),
          col("l_partkey").as("item")), 16, 300)),
    // brand-pair support/confidence/lift over order baskets: bounded
    // pair explode per basket, exact-integer lift, TakeOrdered top-k
    "q_market_basket" -> ((s, d) => Analytics.marketBasket(s, d)),
    // DeepWalk sampling primitive: md5-coin neighbor choice over the
    // ranked adjacency — walks reproducible AND oracle-replayable;
    // one frontier join per step, dead ends park via coalesce
    "graph_random_walk" -> ((s, d) => graft.ops.GraphOps.randomWalks(s, d)),
    // item-item CF neighbor lists: exact binary cosine over capped
    // baskets, ranked on the rounded value (total tiebreak)
    "rec_item_cosine" -> ((s, d) => Recommend.itemCosine(s, d)),
    // the DIMSUM sampling tier: per-instance md5 coin at
    // p=min(1,γ/√(n_i·n_j)) — hot items sampled hardest, estimator
    // unbiased, and the coin replays in the oracle (value-checked)
    "rec_item_cosine_dimsum" -> ((s, d) => Recommend.itemCosineDimsum(s, d)),
    // the composed "customers also bought": owned items pull their
    // capped neighbor lists, evidence sums as exact DECIMAL, owned
    // excluded by anti-join, top-3 per customer on a total order
    "rec_user_items" -> ((s, d) => Recommend.userItems(s, d)),
    // CUPED variance-reduced A/B readout: pre-period covariate fit
    // (θ = cov/var over per-user means), md5 arms, rounded-metric
    // adjustment, achieved variance reduction beside the means
    "q_cuped" -> ((s, d) => Analytics.cuped(s, d)),
    // the integrity gate before any A/B readout is believed: χ² on
    // the realized arm split under the same md5 assignment as cuped
    "q_srm_check" -> ((s, d) => Analytics.srmCheck(s, d)),
    // order-independent XOR+SUM row-hash signature per table — the
    // "did anything change" audit at the cost of a count(*)
    // incremental aggregate maintenance: base+delta monoid merge; the
    // oracle recomputes from scratch — hash equality proves merge ≡
    // recompute
    "etl_incremental_agg" -> ((s, d) => Mapping.incrementalAgg(s, d)),
    // the 2am chain END-TO-END (round 15, VERDICT r14 ask #2):
    // bookmarked file-stream ingest (run twice — the second tick
    // must drain nothing) -> incremental aggregate merge over the
    // INGESTED read-back -> the persisted incremental dedup fold;
    // one checksum row per stage, each recomputed by the oracle
    // from the RAW tables — chain losslessness across the bookmark
    // and state boundaries IS the hash equality
    "etl_daily_e2e" -> (graft.etl.DailyPipeline.dailyE2e _),
    "etl_table_checksum" -> ((s, d) => {
      val o = Mapping.tableChecksum(Tables.orders(s, d), Seq(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_orderpriority"),
        expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")),
        "orders")
      val c = Mapping.tableChecksum(Tables.customer(s, d), Seq(
        col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_mktsegment")), "customer")
      val p = Mapping.tableChecksum(Tables.supplier(s, d), Seq(
        col("s_suppkey"), col("s_name"), col("s_nationkey")), "supplier")
      o.union(c).union(p).orderBy(col("tbl"))
    }),
    // the layout family's oracled gate (round 16): range-sorted +
    // manifested lineitem read through the PRUNED path vs the plain
    // filtered scan — both checksums must equal the oracle's
    // raw-table recompute of the same band
    "layout_pruned_checksum" ->
      ((s, d) => graft.sources.Sources.prunedChecksum(s, d)),
    // GDPR erasure dry run: two chained semi joins size the cascade
    // (subjects → orders → line items), one audit row per table
    "etl_erasure" -> ((s, d) => graft.etl.Mapping.erasureCascade(
      Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d),
      Tables.customer(s, d).filter(col("c_custkey") % 97 === 0)
        .select(col("c_custkey")))),
    // per-day p50/p90/p99/max latency bands — the SLO dashboard series
    "ts_percentiles_daily" -> ((s, d) => TimeSeriesOps.dailyPercentiles(s, d)),
    "ts_percentiles_daily_approx" ->
      ((s, d) => TimeSeriesOps.dailyPercentilesChecked(s, d)),
    // snapshot reconciliation with PLANTED drift: old = orders minus
    // the %41 keys (→ added) plus negative-key ghosts (→ removed);
    // new bumps %37 totalprice and flips %29 status (→ changed, with
    // per-column counts) — both snapshots derive deterministically
    // from the same table, mirrored in the oracle
    "etl_diff_snapshots" -> ((s, d) => {
      val base = Tables.orders(s, d)
      val oldSnap = base.filter(col("o_orderkey") % 41 =!= 0)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        .union(base.filter(col("o_orderkey") % 43 === 0)
          .select((-col("o_orderkey")).as("o_orderkey"),
            col("o_totalprice"), col("o_orderstatus")))
      val newSnap = base.select(col("o_orderkey"),
        when(col("o_orderkey") % 37 === 0, col("o_totalprice") + 1.0)
          .otherwise(col("o_totalprice")).as("o_totalprice"),
        when(col("o_orderkey") % 29 === 0, lit("X"))
          .otherwise(col("o_orderstatus")).as("o_orderstatus"))
      graft.etl.Mapping.diffSnapshots(oldSnap, newSnap, "o_orderkey",
        Seq("o_totalprice", "o_orderstatus"))
    }),
    // conversion latency per funnel leg: exact integer-µs deltas
    // floored to seconds, percentiles over frames that shrink with
    // funnel depth
    "q_funnel_latency" -> ((s, d) => Analytics.funnelLatency(s, d)),
    // nested-JSON flatten: planted array-of-structs payload parsed
    // against a declared schema and exploded row-locally; the oracle
    // rebuilds the planted values in CLOSED FORM (curate_web
    // precedent), so hash equality proves the parse path lossless
    "etl_json_flatten" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"),
        concat(lit("{\"a\":"), col("event_id") % 7,
          lit(",\"items\":[{\"sku\":\"s"), col("event_id") % 13,
          lit("\",\"qty\":"), col("event_id") % 5,
          lit("},{\"sku\":\"s"), col("event_id") % 11,
          lit("\",\"qty\":"), col("event_id") % 3,
          lit("}]}")).as("payload"))
      graft.etl.Mapping.flattenJson(ev, "payload",
        "a BIGINT, items ARRAY<STRUCT<sku: STRING, qty: BIGINT>>", "items")
        .orderBy(col("event_id"), col("item_idx"))
    }),
    // generalize-then-suppress k-anonymity repair: the ladder is one
    // map-side explode, the level choice adapts to data volume
    "etl_generalize_k" -> ((s, d) => graft.etl.Mapping.generalizeK(
      Tables.customer(s, d), "c_mktsegment", "c_acctbal",
      k = 10L, maxSuppress = 0.2)),
    // volume concentration across users: exact Gini + top-1%/10%
    // shares from PrefixSum ranks — the inequality view of the key
    // distribution beside q_skew_profile's heavy-hitter view
    "q_gini" -> ((s, d) => Analytics.giniUsers(s, d)),
    // GDPR pseudonymization (erasure's keep-the-data sibling):
    // deterministic sha2 tokens over customer+orders keys, then a
    // per-nation join ON TOKENS — the output proves referential
    // integrity survives the rewrite (counts match the raw-key join)
    // and min-token sampling proves the token VALUES agree cross-engine
    "etl_pseudonymize" -> ((s, d) => {
      val cust = graft.etl.Mapping.pseudonymize(
        Tables.customer(s, d), Seq("c_custkey"), "pepper")
      val ord = graft.etl.Mapping.pseudonymize(
        Tables.orders(s, d), Seq("o_custkey"), "pepper")
      cust.join(ord, cust("c_custkey") === ord("o_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(countDistinct(cust("c_custkey")).as("n_customers"),
          count(lit(1)).as("n_orders"),
          min(cust("c_custkey")).as("sample_token"))
        .orderBy(col("c_nationkey"))
    }),
    // Lloyd's k-means in fixed-point integer arithmetic — the fully
    // oracled counterpart to the MLlib ml_cluster fit
    "ml_kmeans_plan" -> ((s, d) => MlOps.kmeansPlan(s, d)),
    // Matryoshka truncation eval: recall@5 of 16/32-dim prefixes vs
    // the full 64-dim top-k — is the 4x storage cut free?
    "emb_mrl_recall" -> ((s, d) => SimilarityOps.mrlRecall(s, d)),
    // the 32x extreme of the compression ladder: recall@5 of the
    // sign-bit hamming ranking vs exact cosine (integer distances)
    "emb_binary_recall" -> ((s, d) => SimilarityOps.binaryRecall(s, d)),
    // transparent logistic regression: fixed-round batch GD as a lazy
    // composed plan (one-row broadcast state, no driver loop), every
    // term floor-quantized so the trained weights value-replay
    "ml_logreg_gd" -> ((s, d) => MlOps.logregGd(s, d)),
    // AdaBoost over the stump's fixed decile grid: per-round best
    // reweighted stump, q6'd alpha/multipliers, ensemble margin as
    // plain double sums — the per-round table IS the training curve
    "ml_adaboost_stumps" -> ((s, d) => MlOps.adaboostStumps(s, d)),
    // L2 gradient boosting (Friedman): per-round best residual stump
    // on the same decile grid, shrunk leaf steps, post-round MSE —
    // the regression training curve as the table
    "ml_gbt_stumps" -> ((s, d) => MlOps.gbtStumps(s, d)),
    // retrieval scoreboard: MRR/DCG/NDCG@10/recall over the exact
    // ranking, label-agreement relevance; per-hit gains quantize to
    // integer micro-units BEFORE summing (order-independent)
    "ml_eval_ranking" -> ((s, d) => SimilarityOps.rankingEval(s, d)),
    // sentence segmentation stats (RE2-safe split, planted sentence
    // tails — the corpus itself carries no punctuation)
    "text_sentences" -> ((s, d) => TextOps.sentenceStats(s, d)),
    // nonparametric A/B: rank sums over distinct 4dp VALUES ride the
    // shared PrefixSum — never a per-row global rank window
    "q_mann_whitney" -> ((s, d) => Analytics.mannWhitney(s, d)),
    // distribution drift: two-sample KS over the shared
    // PrefixSum-multi CDF pass — exact integer D and α=0.05 verdict
    "q_ks_test" -> ((s, d) => Analytics.ksTest(s, d)),
    // Poisson-bootstrap CIs: md5-deterministic Poisson(1) weights
    // (integer CDF thresholds), replicate explode collapsed by
    // map-side partial agg — the distributed bootstrap, fully oracled
    "q_bootstrap_ci" -> ((s, d) => Analytics.bootstrapCi(s, d)),
    // last-touch attribution: the as-of lookup folded into ONE keyed
    // window pass over a tagged union — no range join, tiny output
    "q_attribution" -> ((s, d) => Analytics.attributionLastTouch(s, d)),
    // difference-in-differences: balanced-panel per-user deltas across
    // the calendar midpoint, md5 arms, one conditional-moment agg
    "q_did" -> ((s, d) => Analytics.diffInDiff(s, d)),
    // power/MDE: closed forms from one user-keyed agg + scalar reduce
    "q_power_mde" -> ((s, d) => Analytics.powerMde(s, d)),
    // one-way ANOVA across weekday groups: two narrow aggs, k ≤ 7
    "q_anova" -> ((s, d) => Analytics.anovaDow(s, d)),
    // Kaplan-Meier over user lifetimes; product-limit on the
    // calendar-bounded lifetime distribution, censoring at corpus edge
    "q_survival_km" -> ((s, d) => Analytics.survivalKm(s, d)),
    // pairwise Pearson matrix: C(k,2) pair explode collapsed by
    // map-side partials, DECIMAL moments, IEEE-exact closed form
    "q_corr_matrix" -> ((s, d) => Analytics.corrMatrix(s, d)),
    // RFM quintiles via the distributed prefix-rank — never a
    // partition-less ntile; BIGINT floor-division scores
    "q_rfm" -> ((s, d) => Analytics.rfm(s, d)),
    // log-log price elasticity per brand: libm logs 6dp-quantized
    // BEFORE the exact DECIMAL moment sums (the rounded-metric rule)
    "q_elasticity" -> ((s, d) => Analytics.elasticity(s, d)),
    // group-sequential OBF monitoring: K-look support explode, one
    // pinned constant derives every boundary, first-crossing flag
    "q_sequential_test" -> ((s, d) => Analytics.sequentialTest(s, d)),
    // PSI distribution drift: reference-decile bins, smoothed terms
    // quantized to DECIMAL before the 10-row total, pinned 0.2 alert
    "q_psi_drift" -> ((s, d) => Analytics.psiDrift(s, d)),
    // MAU growth accounting: new/retained/resurrected/churned at
    // user-month grain; the accounting identity is spec-asserted
    "q_growth_accounting" -> ((s, d) => Analytics.growthAccounting(s, d)),
    // content-defined chunking (Rabin/FastCDC over tokens): row-local
    // boundary derivation + one chunk-hash aggregate; planted footer
    "dedup_cdc_chunks" -> ((s, d) => DedupOps.cdcChunkStats(s, d)),
    // hierarchical coherence audit: per-type + __total series through
    // ONE damped-Holt pass; direct vs bottom-up gap per horizon
    "ts_forecast_reconcile" -> ((s, d) => Forecast.reconcileForecast(s, d)),
    // damped-trend Holt: per-series 2-double recursion; phi-power sums
    // by repeated multiplication (never pow) — replayed node-for-node
    "forecast_holt_damped" -> ((s, d) => Forecast.holtDamped(s, d)),
    // rolling-origin snaive backtest: all origins in ONE plan via a
    // broadcast origin frame + one shifted self-join; DECIMAL MAE
    "ts_backtest_rolling" -> ((s, d) => Forecast.backtestRolling(s, d)),
    // Syntetos-Boylan quadrants over croston's own spine: ADI + CV2
    // vs pinned 1.32/0.49 cutoffs — the model router
    "ts_intermittency" -> ((s, d) => Forecast.intermittencyClassify(s, d)),
    // hashing-trick featurization: row-local md5 buckets + sign bit,
    // one (doc, bucket) aggregate — no vocabulary pass, fixed width
    "ml_feature_hashing" -> ((s, d) => TextOps.featureHash(s, d)),
    // link prediction: capped-center wedge join + anti join on the
    // canonical edge; jaccard over full degrees; TakeOrdered top-N
    "graph_link_predict" -> ((s, d) => graft.ops.GraphOps.linkPredict(s, d)),
    // fixed-round BFS: frontier-proportional joins + empty-frontier
    // short-circuit; hop-distance histogram output
    "graph_bfs" -> ((s, d) => graft.ops.GraphOps.bfs(s, d)),
    // multivariate OLS per group via normal equations: one 10-moment
    // agg + in-plan 3×3 Cramer solve — no iteration at any scale
    "ml_linreg_multi" -> ((s, d) => MlOps.linregMulti(s, d)),
    // leakage-safe out-of-fold target encoding with md5 folds and
    // prior shrinkage — output is the broadcastable encoding table
    "ml_target_encoding" -> ((s, d) => MlOps.targetEncode(s, d)),
    // depth-1 tree split search: 9 decile candidates as conditional
    // sums in ONE wide aggregate pass; Gini winner over 9 rows
    "ml_decision_stump" -> ((s, d) => MlOps.decisionStump(s, d)),
    // k-fold CV without retraining: every fold's NB model from
    // complement aggregates off ONE (lang, term, fold) count
    "ml_cv_accuracy" -> ((s, d) => TextOps.cvNaiveBayes(s, d)),
    // RAKE salient phrases: two explode+groupBy passes and one
    // phrase-key join; top-N is a TakeOrdered
    "text_rake" -> ((s, d) => TextOps.rake(s, d)),
    // the pre-join diagnostic: heaviest keys with share + skew ratio
    // vs uniform — what decides between plain, salted, and broadcast
    "q_skew_profile" -> ((s, d) =>
      Analytics.skewProfile(Tables.events(s, d), col("user_id"))),
    // per-series least-squares trend via the ANSI REGR_* aggregates —
    // single-pass moment sums, the same plan shape as a SUM
    "ml_linreg_trend" -> (Analytics.linregTrend _),
    // the skew path as a first-class query: salted equi-join (hot keys
    // spread over 8 reducers) feeding a per-segment aggregate — the
    // result contract is exactly the plain join's
    // correlated scalar subqueries (customers above their nation's
    // average balance), written in the correlated form so Catalyst's
    // decorrelation is what runs — never one subquery per row; the
    // filter cross-multiplies in exact DECIMAL so neither engine's
    // division rounding decides a boundary row
    "q_scalar_subquery" -> ((s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("customer_v")
      s.sql("""
        SELECT c_custkey, c_acctbal,
               round(CAST(nation_sum AS DOUBLE) / nation_n, 4) AS nation_avg
        FROM (
          SELECT c_custkey, c_acctbal,
            (SELECT sum(CAST(c2.c_acctbal AS DECIMAL(20,10)))
             FROM customer_v c2
             WHERE c2.c_nationkey = c1.c_nationkey) AS nation_sum,
            (SELECT count(*) FROM customer_v c3
             WHERE c3.c_nationkey = c1.c_nationkey) AS nation_n
          FROM customer_v c1)
        WHERE CAST(c_acctbal AS DECIMAL(20,10)) * nation_n > nation_sum
        ORDER BY c_custkey""")
    }),
    // the generic runtime-filter shape: urgent-order keys folded into
    // a Bloom filter probed inside the lineitem scan, exact semi join
    // over the survivors — contract identical to a plain semi join
    "q_semi_join_bloom" -> ((s, d) =>
      SkewOps.bloomSemiJoin(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_linenumber")),
        Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey")),
        "l_orderkey", "o_orderkey")
      .orderBy(col("l_orderkey"), col("l_linenumber"))),
    "q_salted_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val dim = ev.select(col("user_id")).distinct()
        .withColumn("segment", concat(lit("seg_"), col("user_id") % 3))
      SkewOps.saltedJoin(ev, dim, "user_id", uniqueCol = "event_id",
          saltFactor = 8)
        .groupBy(col("segment"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total_value"))
        .orderBy(col("segment"))
    }),
    // deterministic consistent sampling/splitting: md5-bucket on the
    // key, literal-identical predicate in the oracle — the
    // reproducible, cross-table-consistent alternative to rand()
    "etl_sample_hash" -> ((s, d) => SampleOps
      .sampleByHash(Tables.documents(s, d).select(col("doc_id")), "doc_id", 64)
      .orderBy(col("doc_id"))),
    // dataset mixing toward a 6:3:1 target composition over three of
    // the twenty sources (rest dropped): src0's allocation exceeds
    // its count → keep-all clamp; the others keep a hash-bucket cut
    // derived in pure BIGINT arithmetic (engine-portable, no floats)
    "etl_mix_domains" -> ((s, d) => SampleOps
      .mixDomains(Tables.documents(s, d), "doc_id", "source",
        Map("src0" -> 6L, "src1" -> 3L, "src2" -> 1L), totalBudget = 60L)
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))),
    "etl_hash_split" -> ((s, d) => SampleOps
      .hashSplit(Tables.documents(s, d).select(col("doc_id")), "doc_id")
      .orderBy(col("doc_id"))),
    // quality-weighted sampling without replacement (A-ES exponential
    // keys, md5-derived u) — longer docs win preferentially but not
    // certainly; reproducible, so cross-engine checkable
    "etl_sample_weighted" -> ((s, d) => SampleOps
      .sampleWeighted(Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars")),
        "doc_id", col("n_chars"), k = 100)),
    // class-skew rebalancing: keep every error, a quarter of clicks,
    // no views, half of everything else — deterministic per key
    "etl_sample_stratified" -> ((s, d) => SampleOps
      .sampleStratified(
        Tables.events(s, d).select(col("event_id"), col("event_type")),
        "event_id", "event_type",
        Map("error" -> 256, "click" -> 64, "view" -> 0),
        defaultBuckets = 128)
      .orderBy(col("event_id"))),
    "etl_profile"  -> ((s, d) => Analytics.profile(
      Tables.orders(s, d), Seq("o_custkey", "o_orderstatus", "o_totalprice"))),
    // format-preserving masking: digits→digits, letters→same-case
    // letters via md5-derived per-char rotation — parsers and
    // fixed-width schemas still accept the masked value
    "etl_mask_format" -> ((s, d) =>
      Mapping.maskFormat(Tables.customer(s, d)
        .select(col("c_custkey"), col("c_name")), Seq("c_name"), "pep")
        .orderBy(col("c_custkey"))),
    // profile → SUGGEST: observed stats become candidate constraints
    // (NOT_NULL/UNIQUE/IN_SET/RANGE) for etl_expectations to enforce
    "etl_suggest_rules" -> ((s, d) => Analytics.suggestRules(
      Tables.orders(s, d),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"))),
    // publish-gate validation: named rules in one aggregate pass;
    // null predicate results count as violations on both engines.
    // Two rules intentionally bite on this corpus (ts window, value
    // cap) so the oracle verifies real violation counts, not a
    // pass-through; two hold, covering the passing side.
    "etl_expectations" -> ((s, d) => Mapping.expectations(Tables.events(s, d),
      Mapping.eventQualityRules :+
        (("user_present", col("user_id").isNotNull)))),
    // the 100 TB profiling face: HLL++ distinct sketches instead of
    // the exact multi-distinct expansion; the entry runs the CHECKED
    // face (sketch + exact + in-plan verdict) so the driver's oracle
    // gates the sketch path too
    "etl_profile_approx" -> ((s, d) => Analytics.profileChecked(
      Tables.orders(s, d), Seq("o_custkey", "o_orderstatus", "o_totalprice"))),
    // SCD2 dimension reconstruction from the events change log:
    // per-user versions of event_type with validity intervals,
    // no-op changes collapsed
    "etl_scd2" -> ((s, d) => Mapping.scd2(
      Tables.events(s, d).select(col("user_id"), col("event_type"),
        col("ts"), col("event_id")),
      keys = Seq("user_id"), attrs = Seq("event_type"),
      ts = "ts", tie = Seq("event_id"))),
    // MERGE/upsert: a deterministic CDC batch derived from orders —
    // %5 keys update, %10 keys ALSO delete afterwards (last change
    // wins), %7 keys re-enter as inserts in a shifted key space
    "etl_apply_changes" -> ((s, d) => {
      val base = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val upd = base.filter(col("o_orderkey") % 5 === 0).select(
        col("o_orderkey"), col("o_custkey"),
        (col("o_totalprice") + 1000).as("o_totalprice"),
        lit("U").as("op"), lit(1L).as("seq"))
      val del = base.filter(col("o_orderkey") % 10 === 0).select(
        col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        lit("D").as("op"), lit(2L).as("seq"))
      val ins = base.filter(col("o_orderkey") % 7 === 0).select(
        (col("o_orderkey") + 1000000000L).as("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), lit("U").as("op"), lit(1L).as("seq"))
      Mapping.applyChanges(base, upd.union(del).union(ins),
        keys = Seq("o_orderkey"), ord = Seq("seq"))
        .orderBy(col("o_orderkey"))
    }),
    // §2.1 ETL operators
    // the reference's WHOLE pipeline composed end to end: staged raw
    // CSV sources → ApplyMapping → ResolveChoice → DropNullFields →
    // type tag → partitioned parquet → readback → day×type pivot;
    // the oracle recomputes from events directly, so a lossy stage
    // anywhere in the chain breaks the hash
    "etl_reference_e2e" -> (graft.etl.ReferencePipeline.run _),
    "etl_apply_mapping" -> ((s, d) =>
      Mapping.applyMapping(Tables.orders(s, d), Seq(
        ("o_orderkey", "orderkey", "string"),
        ("o_custkey", "custkey", "long"),
        ("o_orderdate", "order_date", "timestamp"),
        ("o_totalprice", "total", "double")))
        .orderBy(col("custkey"), col("orderkey"))),
    "etl_resolve_choice" -> ((s, d) =>
      Mapping.resolveChoice(
        Tables.documents(s, d).select(col("doc_id"), col("lang"), col("n_chars")),
        Seq(("n_chars", "n_chars_int", "int"), ("lang", "lang_long", "bigint")))
        .orderBy(col("doc_id"))),
    "etl_resolve_struct" -> ((s, d) => {
      // mixed column: even doc_ids carry a numeric string, odd ones a
      // language tag — the ambiguous-type shape make_struct resolves
      val mixed = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 2 === 0, col("n_chars").cast("string"))
          .otherwise(col("lang")).as("mixed"))
      Mapping.resolveChoiceStruct(mixed, Seq("mixed" -> Seq("bigint", "string")))
        .select(col("doc_id"), col("mixed.bigint").as("mixed_long"),
          col("mixed.string").as("mixed_str"))
        .orderBy(col("doc_id"))
    }),
    "etl_drop_null_fields" -> ((s, d) =>
      Mapping.dropNullFields(
        Mapping.resolveChoice(
          Tables.documents(s, d).select(col("doc_id"), col("lang"), col("n_chars")),
          Seq(("n_chars", "n_chars_int", "int"), ("lang", "lang_long", "bigint"))))
        .orderBy(col("doc_id"))),
    "etl_canonicalize" -> ((s, d) =>
      Mapping.canonicalize(Seq(
        "orders"   -> Tables.orders(s, d).select(col("o_orderdate").as("event_ts")),
        "lineitem" -> Tables.lineitem(s, d).select(col("l_shipdate").as("event_ts")),
        "events"   -> Tables.events(s, d).select(col("ts").as("event_ts"))))
        .groupBy(col("src"))
        .agg(count(lit(1)).as("n"),
             min(col("event_ts")).as("first_ts"),
             max(col("event_ts")).as("last_ts"))
        .orderBy(col("src"))),
    // deterministic dense surrogate keys 0..n-1 in doc_id order via
    // the distributed prefix sum — monotonically_increasing_id is
    // neither dense nor run-stable; a global row_number sorts the
    // table in one task
    "etl_assign_ids" -> ((s, d) =>
      Mapping.assignIds(Tables.documents(s, d).select(col("doc_id")), "doc_id")
        .orderBy(col("doc_id"))),
    "etl_dedup_rows" -> ((s, d) =>
      Mapping.dedupRows(Tables.lineitem(s, d), Seq("l_suppkey", "l_returnflag"))
        .orderBy(col("l_suppkey"), col("l_returnflag"))),
    // §2.3 time series + forecast
    "ts_resample_daily" -> (TimeSeriesOps.resampleDaily _),
    "ts_rolling"        -> ((s, d) => TimeSeriesOps.rollingFeatures(s, d)),
    "ts_anomaly"        -> ((s, d) => TimeSeriesOps.anomalyZScore(s, d)),
    // robust median/MAD outliers — the heavy-tail-safe sibling of the
    // z-score monitor (mean/stddev are dragged by the outliers they
    // hunt; the median isn't); thresholds rounded before the score
    "ts_outlier_mad" -> ((s, d) => TimeSeriesOps.outlierMad(s, d)),
    "ts_outlier_mad_approx" ->
      ((s, d) => TimeSeriesOps.outlierMadChecked(s, d)),
    // Theil-Sen robust trend: median-of-pairwise-slopes line with
    // the medians selected and combined as exact integer rationals,
    // published through signed exact half-up division (r4s)
    "ts_theil_sen" -> ((s, d) => TimeSeriesOps.theilSen(s, d)),
    // calendar features on the daily series (dow/weekend/month/...):
    // pure integer + engine-portable date arithmetic, row-local
    "ts_calendar_features" -> ((s, d) => TimeSeriesOps.calendarFeatures(s, d)),
    // Fourier weekly basis: reduced-phase angles, row-local over daily
    "ts_fourier_features" -> ((s, d) => TimeSeriesOps.fourierFeatures(s, d)),
    // per-series EWMA smoothing — sequential within a series, so a
    // sorted per-series fold; parallelism = series count
    "ts_ewma"           -> ((s, d) => TimeSeriesOps.ewma(s, d)),
    // additive STL-lite: centered-window trend, integer-phase
    // seasonal means over DECIMAL-quantized detrended values, resid
    "ts_seasonal_decompose" -> ((s, d) => TimeSeriesOps.seasonalDecompose(s, d)),
    // the STL feature pair that routes model choice: strengths from
    // the decompose components' exact DECIMAL moments
    "ts_seasonal_strength" -> ((s, d) => TimeSeriesOps.seasonalStrength(s, d)),
    // sustained level shifts (not spikes): two-window mean compare
    // normalized by the pre-window spread, full windows only
    "ts_changepoint" -> ((s, d) => TimeSeriesOps.changepoints(s, d)),
    // sample ACF at lags 1..7 — how a pipeline DETECTS the period it
    // hands to decompose/forecast; DECIMAL-quantized product sums
    "ts_acf" -> ((s, d) => TimeSeriesOps.acf(s, d)),
    // lead-lag discovery between series: Pearson at lag 0, shifted
    // equi-join for lags 1..3 — the multi-series sibling of ts_acf
    "ts_cross_corr" -> ((s, d) => TimeSeriesOps.crossCorr(s, d)),
    // AR order selection: Durbin-Levinson over the rounded acf with
    // floor-quantized state — the recursion replays in an unrolled
    // oracle built by the same code (ml_logreg_gd posture)
    "ts_pacf" -> ((s, d) => TimeSeriesOps.pacf(s, d)),
    // WHICH period: DFT power per candidate period over the demeaned
    // daily series, reduced-phase trig, DECIMAL term sums, dominant
    // flag on a total order — the detector behind every period=7 face
    "ts_periodogram" -> ((s, d) => TimeSeriesOps.periodogram(s, d)),
    // shape-based series similarity: integer DTW over micro-quantized
    // daily series — the Scala rolling DP and the oracle's recursive
    // anti-diagonal wavefront provably compute the same table
    "ts_dtw" -> ((s, d) => TimeSeriesOps.dtwPairs(s, d)),
    // the declared long-horizon knob on the same DP: Sakoe-Chiba band
    // (±7 days of warp on daily series) masks |i−j|>r cells to the
    // shared sentinel — O(r·(n+m)) cells per pair instead of n·m
    "ts_dtw_banded" -> ((s, d) => TimeSeriesOps.dtwPairs(s, d, band = 7)),
    // matrix profile: per length-7 window, the nearest non-overlapping
    // window of the same series — motif + discord flags off one column
    "ts_matrix_profile" -> ((s, d) => TimeSeriesOps.matrixProfile(s, d)),
    // the partner-horizon tier (round 15, the ts_dtw_banded shape):
    // |i-j| <= 2m bounds the scan to O(P*band*m) — linear in series
    // length, the tier a sub-daily (long-P) series ships on
    "ts_matrix_profile_banded" -> ((s, d) =>
      TimeSeriesOps.matrixProfile(s, d, band = 14)),
    "ts_lag_features"   -> ((s, d) => TimeSeriesOps.lagFeatures(s, d)),
    // daily mean value per type with synthetic outage days planted
    // (every day-of-month divisible by 5 removed, identically in the
    // oracle) — the gap pattern the linear interpolation reconstructs.
    // The mean is a floor-divided micro BIGINT from an exact DECIMAL
    // sum, NOT round(avg(double)): the r11 sf0.001 sweep caught avg's
    // 4dp publication landing on a half-boundary where the two
    // engines' rounding rules split
    "ts_interpolate"    -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(sum(round(col("value"), 4).cast("decimal(14,4)")).as("sv"),
          count(col("value")).as("nv"))
        .select(col("event_type"), col("day"),
          (floor(expr("cast(sv * 10000 as bigint)").cast("double") /
            col("nv")) / 10000.0).as("v"))
        .filter(dayofmonth(col("day")) % 5 =!= 0)
      TimeSeriesOps.interpolateOn(daily, "event_type", "day", "v")
    }),
    "ts_pivot_wide"     -> (TimeSeriesOps.pivotWide _),
    // feature-store point-in-time correctness: every 10th event joins
    // the SCD2 state version valid AT ITS OWN timestamp — a plain dim
    // join here would leak the future into training features
    "ts_pit_join" -> ((s, d) => {
      val dim = Mapping.scd2(
        Tables.events(s, d).select(col("user_id"), col("event_type"),
          col("ts"), col("event_id")),
        keys = Seq("user_id"), attrs = Seq("event_type"),
        ts = "ts", tie = Seq("event_id"))
        .select(col("user_id"), col("event_type").as("state"),
          col("valid_from"), col("valid_to"))
      val probe = Tables.events(s, d).filter(col("event_id") % 10 === 0)
        .select(col("event_id"), col("user_id"), col("ts"))
      TimeSeriesOps.pitJoin(probe, dim, Seq("user_id"))
        .orderBy(col("event_id"))
    }),
    "ts_train_test"     -> ((s, d) => TimeSeriesOps.trainTestSplit(s, d)),
    "ts_deepar_export"  -> (TimeSeriesOps.deeparExport _),
    "ts_range_join" -> ((s, d) => {
      // events within ±5 min of the 10 highest-value events — a
      // key-less window join, bucketized so it never goes cartesian
      val ev = Tables.events(s, d).select(col("event_id"), col("ts"), col("value"))
      val anchors = ev.orderBy(col("value").desc, col("event_id")).limit(10)
        .select(col("event_id").as("anchor_id"), col("ts").as("anchor_ts"))
      TimeSeriesOps.rangeJoinBucketed(anchors, "anchor_ts",
          ev.select(col("event_id").as("near_id"), col("ts")), "ts",
          beforeSec = 300L, afterSec = 300L)
        .select(col("anchor_id"), col("near_id"))
        .orderBy(col("anchor_id"), col("near_id"))
    }),
    "ts_asof_join" -> ((s, d) => {
      // each event enriched with the user's most recent order total
      val ev = Tables.events(s, d).select(col("event_id"), col("user_id"), col("ts"))
      val ord = Tables.orders(s, d)
        .groupBy(col("o_custkey").as("user_id"), col("o_orderdate").as("ts"))
        .agg(round(max(col("o_totalprice")), 4).as("last_total"))
      TimeSeriesOps.asofJoin(ev, ord, "user_id", "ts")
        .orderBy(col("user_id"), col("ts"), col("event_id"))
    }),
    "forecast_snaive"   -> ((s, d) => Forecast.seasonalNaive(s, d)),
    // split-conformal band around snaive: the ⌈(1-α)(n+1)⌉-th
    // smallest |calibration residual| — finite-sample coverage by
    // construction, every number an integer
    "forecast_conformal" -> ((s, d) => Forecast.conformalForecast(s, d)),
    "forecast_eval"     -> (Forecast.evaluate _),
    // Holt-Winters: the per-series recursion replays EXACTLY in a
    // DuckDB recursive CTE (identical IEEE expression order), so even
    // this sequential classical model is hash-oracled
    "forecast_hw"       -> ((s, d) => Forecast.holtWinters(s, d)),
    // AR(2) by closed-form least squares: REGR-style moment sums +
    // Cramer solve as column arithmetic, horizon recursion unrolled
    // in-plan; the oracle replays the identical IEEE expression trees
    "forecast_ar"       -> ((s, d) => Forecast.arForecast(s, d)),
    // theta decomposition (M3's winning family): least-squares trend
    // line averaged with an SES-flattened θ=2 line; fit + recursion
    // replayed node-for-node in the oracle (the forecast_hw contract)
    "forecast_theta"    -> ((s, d) => Forecast.thetaForecast(s, d)),
    // Croston intermittent-demand: 0-filled calendar, two-state SES
    // recursion per series in flatMapGroups, flat z/p rate forecast
    "forecast_croston"  -> ((s, d) => Forecast.croston(s, d)),
    // backtest model selection: per series, which of the three
    // holdout forecasters wins — the routing table before committing
    "forecast_compare"  -> ((s, d) => Forecast.compareModels(s, d)),
    // equal-weight ensemble of the three holdout forecasters scored
    // beside its members on the COMMON holdout day set — the
    // Bates-Granger free lunch as an oracled table
    "forecast_ensemble" -> ((s, d) => Forecast.ensembleForecast(s, d)),
    // §2.4 deduplication
    "dedup_exact"         -> (DedupOps.exact _),
    // blocked entity resolution over constructed names: word-word-id
    // with a char-deleted variant planted for every 5th id; pairs =
    // same (first char + last-3) block — both components survive the
    // deletion noise model — length-filter, levenshtein ≤ 2. Planted
    // typos (dist 1) and deterministic near-id collisions (dist 2)
    // must surface. 8-digit id padding keeps names unique at derived
    // 10x+ scales
    "dedup_fuzzy" -> ((s, d) => {
      val w1 = Seq("alpha", "bravo", "charlie", "delta", "echo", "foxtrot")
      val w2 = Seq("north", "south", "east", "west", "upper", "lower", "central")
      val base = Tables.documents(s, d).select(col("doc_id").as("id"),
        concat(
          element_at(typedLit(w1), (col("doc_id") % 6).cast("int") + 1),
          lit("-"),
          element_at(typedLit(w2), (col("doc_id") % 7).cast("int") + 1),
          lit("-"),
          lpad(col("doc_id").cast("string"), 8, "0")).as("name"))
      val dirty = base.filter(col("id") % 5 === 0)
        .select((col("id") + 100000000L).as("id"),
          concat(substring(col("name"), 1, 1),
            substring(col("name"), 3, 1000000)).as("name"))
      DedupOps.fuzzyPairsOn(base.union(dirty), maxDist = 2, blockSuffix = 3)
    }),
    // span-level duplication on the corpus as-is (the generator's
    // near-dup docs share long word runs, so the signal is rich); the
    // oracle replays the whole n-gram inverted index in DuckDB over
    // the gram STRINGS — Spark's 64-bit gram hashing must agree with
    // hash-free grouping or collisions/logic diverge
    "dedup_substring" -> ((s, d) =>
      DedupOps.substringDupStats(Tables.documents(s, d))),
    // the ACTION the span stats drive: cut every cross-doc duplicated
    // 10-gram span out of the text, keep the original prose
    "text_trim_dup_spans" -> ((s, d) =>
      DedupOps.trimDupSpans(Tables.documents(s, d))),
    "dedup_minhash"       -> ((s, d) => DedupOps.minhashLsh(s, d)),
    // verify-by-signature: banded candidates scored by component
    // agreement (E[est]=J) — the shingle sets are never re-read, so
    // the exact verifier's second corpus pass is gone
    "dedup_minhash_est"   -> ((s, d) =>
      DedupOps.minhashEstPairs(Tables.documents(s, d))),
    // incremental index fold: every 4th doc is "today's crawl"; the
    // oracle recomputes from the FULL corpus, knowing nothing of the
    // split (the etl_incremental_agg merged≡recomputed proof)
    "dedup_incremental_index" -> ((s, d) => DedupOps.incrementalIndex(s, d)),
    // the same fold with the state crossing a REAL parquet boundary:
    // band index + pair table written, read back, folded — the 2am
    // re-run's actual load path, same split-agnostic oracle
    "dedup_incremental_index_persisted" -> ((s, d) =>
      DedupOps.incrementalIndexPersisted(s, d)),
    // the hot-bucket-capped face, REGISTERED SEPARATELY with the
    // weaker declared contract: equal to the recompute oracle when
    // no (band, bsig) bucket exceeds the cap (true of this corpus —
    // the oracle checks it); on a hot bucket, capped-out docs pair
    // only against bucket minima (linear, DedupSpec pins the strict-
    // subset behavior). The uncapped entries above never cap.
    "dedup_incremental_index_capped" -> ((s, d) =>
      DedupOps.incrementalIndex(s, d, maxBucket = 1000)),
    // checked face: 60-bit md5-prefix SimHash — the oracle re-derives
    // the complete pair list (sigs, hamming, jaccard) cross-engine
    "dedup_simhash"       -> ((s, d) =>
      DedupOps.simhashPairsCheckedOn(Tables.documents(s, d))),
    // the corpus-scale band width: 3 bands of 20 bits (hamming ≤ 5)
    // — 32× fewer random band collisions than 4×15, the measured
    // n²/2^15 term's dial (SCALING round 13)
    "dedup_simhash_wide"  -> ((s, d) =>
      DedupOps.simhashPairsCheckedOn(Tables.documents(s, d),
        maxHamming = 5, bands = 3)),
    "dedup_ngram_jaccard" -> ((s, d) => DedupOps.ngramJaccard(s, d)),
    // train/eval decontamination: even doc_ids play the training
    // corpus, odd ones the held-out benchmark — a SQL-expressible
    // split so the cross-corpus contract gets a full oracle
    "dedup_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      DedupOps.decontaminate(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 =!= 0))
    }),
    // asymmetric containment |A∩R|/|R|: the benchmark-contamination
    // metric — catches short eval items pasted inside long training
    // docs that symmetric Jaccard structurally misses
    "dedup_containment" -> ((s, d) => DedupOps.containment(s, d)),
    // the span LOCATOR a cleanup job consumes: for each corpus doc
    // sharing a 10-gram with a reference doc, WHERE the leak sits —
    // maximal covered word intervals + the leaked slice itself
    "dedup_decontaminate_spans" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      DedupOps.decontaminateSpans(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 =!= 0))
    }),
    // the eval-set owner's view: per reference doc, how much of it
    // leaked (gram fraction) and how widely (carrier count) — the
    // "which benchmark items are burned" report
    "dedup_decontaminate_report" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      DedupOps.decontaminateReport(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 =!= 0))
    }),
    // the CUT face the locator's report drives: rebuild every corpus
    // doc without words covered by a 10-gram any reference doc
    // carries — the cross-corpus analog of text_trim_dup_spans
    "dedup_decontaminate_cut" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      DedupOps.decontaminateCut(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 =!= 0))
    }),
    // the tiny-reference production shape: broadcast index, corpus
    // never shuffled — same verified-pair contract, same oracle
    "dedup_decontaminate_bcast" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      DedupOps.decontaminateBroadcast(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 =!= 0))
    }),
    // the span LOCATOR in the same tiny-reference regime: map-side
    // gram probe + broadcast span slice, the corpus never exchanged —
    // identical values, same oracle as dedup_decontaminate_spans
    "dedup_decontaminate_spans_bcast" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      DedupOps.decontaminateSpansBroadcast(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 =!= 0))
    }),
    // the middle regime: reference band keys folded into a broadcast
    // Bloom filter, probed by a codegen'd might_contain inside the
    // corpus scan — non-candidates never reach the shuffle; exact
    // verify makes FPs cost work, not correctness (same oracle)
    "dedup_decontaminate_bloom" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      DedupOps.decontaminateBloom(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 =!= 0))
    }),
    // pairs → clusters: connected components over the verified
    // near-dup graph; cluster id = the canonical keep document
    "dedup_clusters" -> ((s, d) =>
      DedupOps.connectedComponents(DedupOps.minhashLsh(s, d))),
    // keep-BEST per near-dup cluster (not min-id): highest quality
    // survives, doc_id tiebreak — one max_by aggregate per cluster
    "curate_canonical" -> ((s, d) =>
      CurateOps.canonicalPerCluster(
        DedupOps.connectedComponents(DedupOps.minhashLsh(s, d)),
        Tables.documents(s, d))),
    "dedup_embedding"     -> ((s, d) => DedupOps.embeddingPairs(s, d, threshold = 0.45)),
    // the scale path: multi-table hyperplane LSH instead of all-pairs;
    // fixed-seed planes make it exactly SQL-replicable, so unusually
    // for ANN-style ops it carries a full oracle. Bit width is
    // corpus-adaptive (occupancy-pinned) on BOTH engines: the oracle
    // derives the same width from count(*) over prefix-stable planes
    "dedup_embedding_lsh" -> ((s, d) =>
      DedupOps.embeddingPairsLsh(s, d, threshold = 0.45, nTables = 4)),
    // SemDeDup: k-means cells confine the cosine quadratic to
    // fixed-size clusters (candidate pairs LINEAR in the corpus);
    // assignment + gate are pure integer arithmetic, fully oracled
    "dedup_semantic" -> ((s, d) => DedupOps.semanticDedup(s, d)),
    // §2.5 similarity search
    "ann_bruteforce_topk" -> ((s, d) => SimilarityOps.bruteForceTopK(s, d)),
    // MMR diversified re-rank: shortlist via the broadcast-query
    // scan, then config-bounded greedy rounds on exact 1e-4 integer
    // similarities (score = 7·rel − 3·maxsim in 1e-5 units)
    "ann_mmr_rerank" -> ((s, d) => SimilarityOps.mmrRerank(s, d)),
    // the dial's Scale face as its own oracled entry (the registry
    // norm: both tier faces verified): IVF shortlist, same greedy
    "ann_mmr_rerank_ivf" -> ((s, d) => SimilarityOps.mmrRerankIvf(s, d)),
    // per-label centroids: float sums are order-dependent, so both
    // engines sum in exact DECIMAL then divide/round in double once
    "emb_centroids" -> ((s, d) => SimilarityOps.labelCentroids(s, d)),
    // PQ: 32x-compressed codes + ADC shortlist + exact rescore; the
    // fit/encode/ADC pipeline is bit-stable (4dp + float-cast means +
    // DECIMAL partial sums), so the whole tier is SQL-replicable
    "ann_pq_topk" -> ((s, d) => SimilarityOps.pqTopK(s, d)),
    "ann_lsh_topk"        -> ((s, d) => SimilarityOps.lshTopK(s, d)),
    "ann_ivf_topk"        -> ((s, d) => SimilarityOps.ivfTopK(s, d)),
    // the bounded-build IVF face: md5-bucket-capped sample fit,
    // PINNED cell count past the cap, ONE linear corpus assignment —
    // the linear-build rung of the ANN ladder
    "ann_ivf_topk_sampled" -> ((s, d) => SimilarityOps.ivfTopKSampled(s, d)),
    // the routed ANN tier's recall@k MEASURED against the exact face
    // (both on the quantized cosine grid) — audit operator
    "ann_ivf_recall"      -> ((s, d) => SimilarityOps.ivfRecall(s, d)),
    "ann_lsh_recall"      -> ((s, d) => SimilarityOps.lshRecall(s, d)),
    "ann_pq_recall"       -> ((s, d) => SimilarityOps.pqRecall(s, d)),
    "ann_ivfpq_recall"    -> ((s, d) => SimilarityOps.ivfPqRecall(s, d)),
    "ann_ivf_sampled_recall" -> ((s, d) => SimilarityOps.ivfSampledRecall(s, d)),
    // IVF·PQ composed (the FAISS IVFPQ shape): cell-gated candidates
    // scored by ADC over 8-byte codes, exact rescore of the shortlist
    "ann_ivfpq_topk"      -> ((s, d) => SimilarityOps.ivfPqTopK(s, d)),
    // diversity sampling: IVF cells as semantic regions, per-cell
    // closest-to-centroid exemplars with region mass beside them
    "emb_diversity_sample" -> ((s, d) => SimilarityOps.diversitySample(s, d)),
    // embedding drift: half-centroid cosine + mean-norm delta per
    // label — direction AND scale regressions, two corpus scans
    "emb_centroid_drift" -> ((s, d) => SimilarityOps.centroidDrift(s, d)),
    // §2.6 text analysis
    "text_tokens"      -> (TextOps.tokenCounts _),
    "text_quality"     -> (TextOps.qualityScores _),
    // the Gopher gate battery: row-local regex/split primitives only
    "text_gopher_gates" -> (TextOps.gopherGates _),
    "text_langid"      -> (TextOps.langId _),
    // checked face: winnowing over a 60-bit md5-prefix hash both
    // engines compute — the oracle replays every signature VALUE
    "text_fingerprint" -> ((s, d) => TextOps.fingerprintsChecked(s, d)),
    // per-doc k-gram novelty vs the odd-parity reference: the
    // synthetic-data QA metric (novelty≈0 = paraphrased seed corpus);
    // one gram equi-join on uniform keys, never a doc×doc product
    "text_novelty" -> ((s, d) => TextOps.novelty(s, d)),
    "text_tfidf"       -> ((s, d) => TextOps.tfidfTopTerms(s, d)),
    "text_top_terms"   -> ((s, d) => TextOps.topTerms(s, d)),
    "text_chunk"       -> ((s, d) => TextOps.chunk(s, d)),
    "text_pack"        -> ((s, d) => TextOps.pack(s, d)),
    // Misra-Gries sketch face: rows-only (estimates are merge-order-
    // dependent within the n/capacity bound; TextOpsSpec pins it)
    // checked face: exact top-k + in-plan Misra–Gries guarantee
    // verdicts (presence / undercount / N-over-capacity bound) — the
    // cross-engine hash gates the sketch through the flags
    "text_top_terms_sketch" -> ((s, d) => TextOps.topTermsSketchChecked(s, d)),
    // Count-Min point queries: md5-hashed d x w counter grid built in
    // ONE map-side-combinable aggregation — the whole sketch (build,
    // probe, min, verdict) replays value-for-value in the oracle
    "text_count_min" -> ((s, d) => TextOps.countMin(s, d)),
    // the synthetic corpus is PII-free, so a plain pass over it would
    // verify only a pass-through; the entry plants one deterministic
    // instance of every PII category, derived from doc_id identically
    // here and in the SQL oracle, so the cross-engine check covers
    // nonzero counts AND placeholder substitution (RedactSpec
    // additionally hand-checks each category in isolation)
    "text_redact"      -> ((s, d) => {
      val id = col("doc_id").cast("string")
      TextOps.redactOn(Tables.documents(s, d).withColumn("text",
        concat(col("text"),
          lit(" mail-"), id, lit("@example.com"),
          lit(" http://host.example/p/"), id,
          lit(" 10.0."), (col("doc_id") % 200).cast("string"), lit(".7"),
          lit(" acct 9900"), id, lit("77"))))
    }),
    "text_repetition"  -> (TextOps.repetitionScores _),
    "text_lm_score"    -> (TextOps.lmScore _),
    // bigram LM with stupid backoff, trained on the even-doc_id half:
    // shuffled-word spam scores high on unigrams but backs off here
    "text_lm_bigram"   -> (TextOps.lmScoreBigram _),
    // CCNet head/middle/tail terciles per language over the lm score;
    // rank via the distributed PrefixSum, never a hot-language window
    "text_ccnet_buckets" -> (TextOps.ccnetBuckets _),
    // intra-doc line dedup: the corpus has no newlines, so the entry
    // PLANTS a boilerplate line (the doc's first 40 chars) twice after
    // the body — mirrored in the oracle — making the dedup bite on
    // every row instead of passing text through untouched
    "text_dedup_lines" -> ((s, d) => TextOps.dedupLinesOn(
      Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"), lit("\n"), substring(col("text"), 1, 40),
          lit("\n"), substring(col("text"), 1, 40)).as("text")))),
    // CORPUS-WIDE line dedup (C4-style boilerplate removal): plants a
    // per-source header line + a global footer line around each body,
    // so only the first doc of each source keeps its header and only
    // the corpus-first doc keeps the footer — intra-doc dedup would
    // keep them all
    "text_dedup_lines_global" -> ((s, d) => TextOps.dedupLinesGlobalOn(
      Tables.documents(s, d).select(col("doc_id"), concat_ws("\n",
        concat(lit("shared header for "), col("source")),
        col("text"),
        lit("standard legal footer applies to all documents"))
        .as("text")))),
    // URL canonicalization over PLANTED messy URLs: doc_id drives
    // scheme case, port (incl. the https:443-on-http keep case),
    // trailing slash, tracking params, and fragments — every rule
    // provably fires; the oracle builds the identical raw strings
    "text_url_canonical" -> ((s, d) => {
      val id = col("doc_id")
      val messy = concat(
        when(id % 2 === 0, lit("HTTP")).otherwise(lit("https")),
        lit("://ExAmple.COM"),
        when(id % 3 === 0, lit(":80"))
          .when(id % 3 === 1, lit(":443")).otherwise(lit(":8080")),
        lit("/Products/"), (id % 7).cast("string"),
        when(id % 2 === 0, lit("/")).otherwise(lit("")),
        lit("?id="), id.cast("string"),
        when(id % 4 === 0, lit("&utm_source=news&gclid=abc")).otherwise(lit("")),
        when(id % 5 === 0, lit("#frag")).otherwise(lit("")))
      Tables.documents(s, d)
        .select(col("doc_id"), messy.as("url"))
        .withColumn("canonical", TextOps.canonicalUrl(col("url")))
        .orderBy(col("doc_id"))
    }),
    // composed end-to-end curation: quality gate → exact dedup →
    // decontamination vs the odd-parity reference corpus
    "curate_corpus" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      CurateOps.curate(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 =!= 0))
    }),
    // data-constrained training: keep the highest-quality documents
    // until a global token budget is exhausted — the running total is
    // text_pack's distributed prefix sum over the quality ranking
    "curate_token_budget" -> ((s, d) =>
      CurateOps.tokenBudget(Tables.documents(s, d), budgetTokens = 20000L)),
    // the curation FUNNEL: the curate_corpus chain + a token budget,
    // published as per-stage (docs, tokens) survivors — hash equality
    // proves every stage's survivor SET, not just the final ids
    "curate_funnel" -> ((s, d) => CurateOps.curateFunnel(s, d)),
    // web curation: canonicalize → first-doc-per-page → quality →
    // exact dedup, over planted URLs where every 3 consecutive docs
    // are the same page dressed in different tracking params / ports /
    // fragments / trailing slashes — the canonical form has a CLOSED
    // FORM, so the oracle verifies the real parser's output without
    // replaying it
    "curate_web" -> ((s, d) => {
      val id = col("doc_id")
      val messy = concat(
        lit("HTTP://ExAmple.COM:80/p/"), expr("doc_id div 3").cast("string"),
        when(id % 3 === 0, lit("/")).otherwise(lit("")),
        lit("?utm_source=news"),
        when(id % 5 === 0, lit("&gclid=x&utm_medium=m")).otherwise(lit("")),
        when(id % 4 === 0, lit("#frag")).otherwise(lit("")))
      CurateOps.curateWeb(Tables.documents(s, d)
        .select(col("doc_id"), col("text"), messy.as("url")))
    }),
    // DSIR importance resampling toward the English slice: hashed
    // unigram log-ratios → exact micro-unit weights → Gumbel top-1/4
    "curate_dsir" -> ((s, d) => CurateOps.dsirSample(s, d)),
    // temperature (T=2) source mixing: sqrt-flattened quotas, md5
    // coin order per source, PrefixSum ranks — the recipe sampler
    "curate_mix_temperature" -> ((s, d) => CurateOps.mixTemperature(s, d)),
    // the export step: balanced shards + deterministic pseudo-random
    // within-shard order (md5 coin) — the reproducible global shuffle
    "curate_shard_export" -> ((s, d) =>
      CurateOps.shardExport(Tables.documents(s, d))),
    // sequence packing (the GPT-style packed-pretraining layout):
    // per-doc token interval + first/last sequence + boundary flag;
    // the engine-side prefix sum is the distributed two-level form
    "curate_pack_sequences" -> ((s, d) => CurateOps.packSequences(s, d)),
    // the pack map at sequence grain: docs touched, fill, fullness
    "curate_pack_stats" -> ((s, d) => CurateOps.packStats(s, d)),
    // packing at the TOKENIZER grain (round 15): the held-out half's
    // post-BPE token stream (text_bpe_encode's n_after) through the
    // SAME shared packing core — the intervals a training job reads
    "curate_pack_bpe" -> ((s, d) => CurateOps.packSequencesBpe(s, d)),
    // its per-sequence audit: fills tile the post-BPE token count
    "curate_pack_bpe_stats" -> ((s, d) => CurateOps.packStatsBpe(s, d)),
    // §2.7 multimodal — REAL codec work: synthesize byte-level
    // WAV/BMP payloads deterministically from doc_id, parse them with
    // the header-walking decoders; features have closed forms so the
    // whole decode path is DuckDB-oracled
    "mm_extract" -> (MultimodalOps.extractReal _),
    // the curation gate that chains the codec-closed transforms INTO
    // decode: clip [2ms,6ms) → RMS gate for audio, 2×2 thumbnail →
    // green-mean gate for images — promotes clip/resize from
    // spec-tested to cross-engine oracled (probed samples have
    // closed forms)
    "mm_gate" -> ((s, d) => MultimodalOps.mediaGate(s, d)),
    // video frame sampling: header walk → every-3rd-frame decode →
    // exact-integer luma + shot-cut flags; closed-form oracled
    "mm_video_sample" -> ((s, d) => MultimodalOps.videoSample(s, d)),
    // perceptual image near-dup: brightness-shifted re-encodes (bytes
    // differ, exact dedup blind) collide on the integer-threshold
    // aHash; row-local synth+hash, one hash-key count + equi-join
    "dedup_image_phash" -> ((s, d) => MultimodalOps.phashNearDup(s, d)),
    // its WAV sibling: volume-changed takes (every byte differs)
    // collide on the gain-invariant energy-envelope fingerprint
    // (integer energy-ratio quantization — c² cancels exactly)
    "dedup_audio_fp" -> ((s, d) => MultimodalOps.audioFpNearDup(s, d)),
    // brightness-shifted clip re-encodes collide on the luma-delta
    // sequence fingerprint — the GV01 member of the perceptual trio
    "dedup_video_fp" -> ((s, d) => MultimodalOps.videoFpNearDup(s, d)),
    // §2.10 MLlib pipelines
    // checked faces: MLlib fits aren't replayable cross-engine, so
    // the entries re-derive the scoring contract in-plan (argmin over
    // fitted centroids / argmax over the probability vector) and the
    // oracle asserts the per-row verdicts
    "ml_cluster"  -> ((s, d) => MlOps.clusterChecked(s, d)),
    "ml_classify" -> (MlOps.classifyChecked _),
    // the non-parametric classification baseline, fully
    // SQL-expressible: every 10th vector held out, majority vote of
    // its 5 nearest labeled neighbors, double-deterministic ties
    "ml_knn_classify" -> ((s, d) => SimilarityOps.knnClassify(s, d)),
    // per-class confusion-matrix metrics over the kNN predictions —
    // the classification counterpart of forecast_eval; the class axis
    // is the FULL union of true+predicted labels (a never-predicted
    // class still gets its precision-0 row)
    "ml_eval_classification" -> ((s, d) =>
      MlOps.evalClassification(SimilarityOps.knnClassify(s, d))),
    // the classifier's scale tier as runnable code, not documentation:
    // the SAME vote over an IVF shortlist (query side deliberately
    // un-broadcast — it grows with the corpus; AQE decides the join)
    "ml_knn_classify_ivf" -> ((s, d) => SimilarityOps.knnClassifyIvf(s, d)),
    // int8 scalar quantization with measured per-vector fidelity —
    // the 4x compression tier between raw float32 and PQ's 32x
    "emb_quantize_int8" -> (SimilarityOps.quantizeInt8 _),
    // JL random projection 64→8 — the dimensionality tier of the
    // compression ladder; runs before the ANN tiers at scale
    "emb_project_rp" -> ((s, d) => SimilarityOps.randomProject(s, d)),
    // top principal component by fixed-point power iteration over an
    // in-plan covariance grid — the variance-structure probe that
    // decides the compression ladder; d²-row exchanges only
    "emb_pca_power" -> ((s, d) => SimilarityOps.pcaPower(s, d)),
    // the probe's ACTION: project every embedding onto the fitted top
    // component — fit is grid-sized, apply is one narrow map
    "emb_pca_project" -> ((s, d) => SimilarityOps.pcaProject(s, d)),
    // all-but-the-top: subtract the fat axis, keep the isotropic
    // residual — the retrieval post-processing the ev_share probe earns
    "emb_pca_remove_top" -> ((s, d) => SimilarityOps.pcaRemoveTop(s, d)),
    // per-dimension z-scoring (diagonal whitening) on the same
    // integer lattice, diagonal-only — no d² grid
    "emb_standardize" -> ((s, d) => SimilarityOps.standardize(s, d)),
    // §2.8 stream-shaped operators, run in batch (transforms that work
    // on batch and streaming frames alike)
    "stream_window_counts" -> (graft.streaming.EventStreams.windowCountsBatch _),
    "stream_sliding_counts" -> (graft.streaming.EventStreams.slidingCountsBatch _),
    // stream-static dimension lookup: LEFT join against the even half
    // of the customer dim (odd users null-fill), dim broadcast so the
    // per-micro-batch join never shuffles the stream
    "stream_enrich" -> (graft.streaming.EventStreams.enrichBatch _),
    // stream-stream attribution join: each click paired with the same
    // user's views in the trailing 4 h — equi-key + event-time range,
    // the condition shape that lets streaming bound both state sides
    "stream_join" -> (graft.streaming.EventStreams.clickViewJoinBatch _),
    // referential integrity: parents filtered by a deterministic
    // predicate PLANT real orphans in two relationships (the third
    // stays clean, covering the passing side) — mirrored in the
    // oracle so the gate provably bites
    "etl_fk_check" -> ((s, d) => Mapping.fkCheck(Seq(
      ("lineitem->orders", Tables.lineitem(s, d), "l_orderkey",
        Tables.orders(s, d).filter(col("o_orderkey") % 31 =!= 0), "o_orderkey"),
      ("orders->customer", Tables.orders(s, d), "o_custkey",
        Tables.customer(s, d), "c_custkey"),
      ("lineitem->part", Tables.lineitem(s, d), "l_partkey",
        Tables.part(s, d).filter(col("p_partkey") % 53 =!= 0), "p_partkey")))
      .orderBy(col("relationship"))),
    "stream_sessionize"    -> (graft.streaming.EventStreams.sessionizeBatch _),
    "stream_dedup"         -> (graft.streaming.DedupStreams.dedupBatch _),
    // within-stream NEAR-dup dedup in arrival (doc_id) order: each
    // later doc flagged against the earlier one of every verified
    // minhash LSH pair
    "stream_dedup_near"    -> (graft.streaming.DedupStreams.nearDedupBatch _),
    // windowed data-quality drift: etl_expectations' rules on the
    // time axis, the live-ingest monitoring shape
    "stream_expectations"  -> (graft.streaming.EventStreams.qualityMonitorBatch _),
    // versioned-snapshot audit: change epochs folded through
    // applyChanges, one audit row per retained version
    "cdc_snapshot_versions" -> ((s, d) =>
      graft.streaming.ChangeStreams.snapshotVersionsBatch(s, d)),
    // the attribution fold's versioned audit (the cdc pattern):
    // per retained version, the published credit table derived
    // in epoch-major arrival order
    "attribution_versions" -> ((s, d) =>
      graft.streaming.EventStreams.attributionVersionsBatch(s, d)),
    // the anomaly monitor's versioned audit (the cdc pattern, round
    // 15): per retained day-epoch version, the cumulative published
    // z-rows re-derived through the batch twin's window chain — the
    // trailing window scores a day the moment it finalizes, so
    // version k = rows with day in epochs <= k
    "anomaly_versions" -> ((s, d) =>
      graft.streaming.EventStreams.anomalyVersionsBatch(s, d)),
    // the changepoint monitor's versioned audit: the forward-looking
    // statistic emits day D only once its TRIGGER day (per-series
    // rank(D)+w-1) finalizes — version k = rows whose trigger day
    // sits in epochs <= k, the emission lag made an oracled value
    "changepoint_versions" -> ((s, d) =>
      graft.streaming.EventStreams.changepointVersionsBatch(s, d)),
    // the EWMA smoother's versioned audit: values fold only days <= t
    // and never revise, so version k = batch rows with day in epochs
    // <= k — the anomaly rule on the O(1)-state monitor
    "ewma_versions" -> ((s, d) =>
      graft.streaming.EventStreams.ewmaVersionsBatch(s, d)),
    // the funnel fold's versioned audit (the attribution posture):
    // the greedy stage machine folded in epoch-major arrival order —
    // chained min-tuple selections with the two explicit gates
    // (processed-after + event-time >=); version k counts advances
    // emitted through epoch k
    "funnel_versions" -> ((s, d) =>
      graft.streaming.EventStreams.funnelVersionsBatch(s, d)),
    // the conformal monitor's ORACLED rolling band: an adaptive fold
    // (seasonal-naive lag + FIFO calibration + the exact integer
    // rank), not forecast_conformal's one-shot split — every
    // published value an exact integer
    "stream_conformal" -> ((s, d) =>
      graft.streaming.EventStreams.conformalMonitorBatch(s, d)),
    // and its versioned audit: bands publish on arrival and never
    // revise, so version k = rows with day in epochs <= k
    "conformal_versions" -> ((s, d) =>
      graft.streaming.EventStreams.conformalVersionsBatch(s, d)),
    // sketch-fold versioned-snapshot audits (the cdc pattern): each
    // retained version derived through the sketch's merge — MG
    // guarantee verdicts, the exactly-replayable CM grid+probes, HLL
    // union-fold tolerance verdicts
    "sketch_topk_versions" -> ((s, d) =>
      graft.streaming.SketchStreams.topkVersionsBatch(s, d)),
    "sketch_cm_versions" -> ((s, d) =>
      graft.streaming.SketchStreams.countMinVersionsBatch(s, d)),
    "sketch_hll_versions" -> ((s, d) =>
      graft.streaming.SketchStreams.hllVersionsBatch(s, d)),
    // the PSI histogram fold is lossless, so every published value
    // (bin counts, smoothed shares, terms, PSI, drift verdict)
    // replays value-for-value per retained version
    "sketch_psi_versions" -> ((s, d) =>
      graft.streaming.SketchStreams.psiVersionsBatch(s, d)),
  )

  /** The kNN classifier's vote pipeline WITHOUT the final ORDER BY —
    * shared verbatim by the ml_knn_classify oracle and (as a nested
    * CTE) the ml_eval_classification oracle, so the two can't drift:
    * the eval metrics are checked over exactly the prediction set the
    * classifier entry checks. */
  private val knnVoteOracleCore: String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb,
      |             label AS true_label
      |           FROM embeddings WHERE vec_id % 10 = 0),
      |scored AS (
      |  SELECT q_id, true_label, e.vec_id AS vec_id, e.label AS label,
      |    round(${graft.ops.SimilarityOps.qcosSql("q_emb", "e.embedding")}, 4) AS cosine
      |  FROM embeddings e, q WHERE e.vec_id % 10 <> 0),
      |top AS (SELECT *, row_number() OVER (PARTITION BY q_id
      |          ORDER BY cosine DESC, vec_id) AS r FROM scored),
      |votes AS (SELECT q_id, true_label, label, count(*) AS votes
      |          FROM top WHERE r <= 5 GROUP BY 1, 2, 3),
      |best AS (SELECT *, row_number() OVER (PARTITION BY q_id
      |           ORDER BY votes DESC, label) AS vr FROM votes)
      |SELECT q_id, true_label, label AS pred_label, votes
      |FROM best WHERE vr = 1""".stripMargin

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 4) AS sum_qty,
        | round(sum(l_extendedprice), 4) AS sum_base_price,
        | round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
        | round(avg(l_quantity), 4) AS avg_qty,
        | round(avg(l_discount), 4) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_top_unshipped" ->
      """SELECT o_orderkey,
        | round(sum(l_extendedprice * (1 - l_discount)), 4) AS rev,
        | o_orderdate, o_orderpriority
        |FROM customer
        |JOIN orders   ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate  > TIMESTAMP '1998-01-01'
        |GROUP BY o_orderkey, o_orderdate, o_orderpriority
        |ORDER BY rev DESC, o_orderkey
        |LIMIT 10""".stripMargin,
    "q5_region_revenue" ->
      """SELECT n_name,
        | round(sum(l_extendedprice * (1 - l_discount)), 4) AS rev
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate <  TIMESTAMP '1998-01-01'
        |GROUP BY n_name
        |ORDER BY rev DESC, n_name""".stripMargin,
    // per-row DECIMAL quantization before the sum — exact in both
    // engines regardless of partial-aggregate order
    "q10_returned_items" ->
      """SELECT c_custkey, c_name,
        |  round(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount), 4)
        |    AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue,
        |  c_acctbal, n_name
        |FROM customer, orders, lineitem, nation
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND c_nationkey = n_nationkey AND l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate <  TIMESTAMP '1996-04-01'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q6_revenue_change" ->
      """SELECT round(CAST(sum(CAST(round(l_extendedprice * l_discount, 4)
        |    AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    "q4_priority_late" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate <  TIMESTAMP '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // TPC-H completion block (r11). Shared arithmetic contract with
    // the Spark faces: per-row revenue micro units are
    // CAST(round(l_extendedprice*(1-l_discount)*10000) AS BIGINT)
    // (price/discount are exact 2dp, so the product is an exact 4dp
    // grid value both engines snap to identically); group sums are
    // BIGINT-exact; ratios are integer floor divisions widened to
    // HUGEINT (the BIGINT·1e6 product overflows at per-year sf1
    // magnitudes) and cast back to BIGINT so pandas renders int64.
    "q7_nation_volume" ->
      """WITH rev AS (
        |  SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
        |    EXTRACT(year FROM l_shipdate) AS l_year,
        |    CAST(round(l_extendedprice * (1 - l_discount) * 10000)
        |      AS BIGINT) AS rm
        |  FROM lineitem, orders, customer, supplier, nation ns, nation nc
        |  WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        |    AND l_suppkey = s_suppkey
        |    AND s_nationkey = ns.n_nationkey
        |    AND c_nationkey = nc.n_nationkey
        |    AND l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate <  TIMESTAMP '1998-01-01'
        |    AND ((ns.n_name = 'NATION_3' AND nc.n_name = 'NATION_8') OR
        |         (ns.n_name = 'NATION_8' AND nc.n_name = 'NATION_3')))
        |SELECT supp_nation, cust_nation, l_year,
        |  sum(rm) / 10000.0 AS rev
        |FROM rev GROUP BY 1, 2, 3
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,
    "q8_market_share" ->
      """WITH rev AS (
        |  SELECT EXTRACT(year FROM o_orderdate) AS o_year,
        |    CAST(round(l_extendedprice * (1 - l_discount) * 10000)
        |      AS BIGINT) AS rm,
        |    (SELECT n_nationkey FROM nation
        |     WHERE n_name = 'NATION_3') = s_nationkey AS is_share
        |  FROM lineitem, part, orders, customer, supplier,
        |       nation n, region
        |  WHERE l_partkey = p_partkey AND l_orderkey = o_orderkey
        |    AND o_custkey = c_custkey AND l_suppkey = s_suppkey
        |    AND c_nationkey = n.n_nationkey
        |    AND n.n_regionkey = r_regionkey
        |    AND r_name = 'ASIA' AND p_type = 'PROMO')
        |SELECT o_year,
        |  CAST(CAST(sum(CASE WHEN is_share THEN rm ELSE 0 END)
        |         AS HUGEINT) * 1000000 // sum(rm) AS BIGINT)
        |    AS share_ppm,
        |  sum(CASE WHEN is_share THEN rm ELSE 0 END) / 10000.0
        |    AS nation_rev,
        |  sum(rm) / 10000.0 AS total_rev
        |FROM rev GROUP BY o_year ORDER BY o_year""".stripMargin,
    "q14_promo_revenue" ->
      """WITH rev AS (
        |  SELECT EXTRACT(year FROM l_shipdate) AS l_year,
        |    CAST(round(l_extendedprice * (1 - l_discount) * 10000)
        |      AS BIGINT) AS rm,
        |    p_type = 'PROMO' AS is_promo
        |  FROM lineitem, part WHERE l_partkey = p_partkey)
        |SELECT l_year,
        |  CAST(CAST(sum(CASE WHEN is_promo THEN rm ELSE 0 END)
        |         AS HUGEINT) * 1000000 // sum(rm) AS BIGINT)
        |    AS promo_ppm,
        |  sum(CASE WHEN is_promo THEN rm ELSE 0 END) / 10000.0
        |    AS promo_rev,
        |  sum(rm) / 10000.0 AS total_rev
        |FROM rev GROUP BY l_year ORDER BY l_year""".stripMargin,
    "q15_top_supplier" ->
      """WITH per AS (
        |  SELECT l_suppkey,
        |    sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
        |      AS BIGINT)) AS rm
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate <  TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, rm / 10000.0 AS total_rev
        |FROM per, supplier
        |WHERE l_suppkey = s_suppkey AND rm = (SELECT max(rm) FROM per)
        |ORDER BY s_suppkey""".stripMargin,
    "q17_small_qty_revenue" ->
      """WITH li AS (
        |  SELECT l_partkey AS pk, CAST(l_quantity AS BIGINT) AS qc,
        |    CAST(round(l_extendedprice * 10000) AS BIGINT) AS ep_micro
        |  FROM lineitem, part
        |  WHERE l_partkey = p_partkey AND p_brand = 'Brand#1'),
        |stats AS (
        |  SELECT pk, sum(qc) AS sumq, count(*) AS nq
        |  FROM li GROUP BY pk)
        |SELECT count(*) AS n_lines,
        |  (sum(ep_micro) // 7) / 10000.0 AS avg_yearly
        |FROM li, stats
        |WHERE li.pk = stats.pk AND qc * 5 * nq < sumq""".stripMargin,
    "q18_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING sum(CAST(l_quantity AS BIGINT)) > 250)
        |SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
        |  sum_qty
        |FROM big, orders, customer
        |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "q13_order_counts" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q19_discount_bands" ->
      """SELECT count(*) AS n_lines,
        |  sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
        |    AS BIGINT)) / 10000.0 AS revenue
        |FROM lineitem, part
        |WHERE l_partkey = p_partkey AND (
        |  (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
        |    AND l_quantity BETWEEN 1 AND 11) OR
        |  (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
        |    AND l_quantity BETWEEN 10 AND 20) OR
        |  (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
        |    AND l_quantity BETWEEN 20 AND 30))""".stripMargin,
    "q22_global_sales" ->
      """WITH cust AS (
        |  SELECT c_custkey, c_nationkey % 5 AS cntrycode,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
        |  FROM customer),
        |pos AS (
        |  SELECT CAST(sum(bal_cents) AS BIGINT) AS pos_sum,
        |    count(*) AS pos_n
        |  FROM cust WHERE bal_cents > 0),
        |per AS (
        |  SELECT c.c_custkey, c.cntrycode, c.bal_cents,
        |    count(o_orderkey) AS n_ord
        |  FROM cust c LEFT OUTER JOIN orders ON c.c_custkey = o_custkey
        |  GROUP BY 1, 2, 3),
        |oa AS (
        |  SELECT CAST(sum(n_ord) AS BIGINT) AS ord_sum,
        |    count(*) AS cust_n
        |  FROM per)
        |SELECT cntrycode, count(*) AS numcust,
        |  sum(bal_cents) / 100.0 AS totacctbal
        |FROM per, pos, oa
        |WHERE bal_cents * pos_n > pos_sum AND n_ord * cust_n < ord_sum
        |GROUP BY cntrycode ORDER BY cntrycode""".stripMargin,
    "q2_min_cost_supplier" ->
      s"""WITH ${Supply.psCte}
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
        |  ps_cost_cents / 100.0 AS ps_supplycost
        |FROM ps, part, supplier, nation, region
        |WHERE ps_partkey = p_partkey AND ps_suppkey = s_suppkey
        |  AND p_size BETWEEN 10 AND 30 AND p_type = 'LARGE'
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'EUROPE'
        |  AND ps_cost_cents = (
        |    SELECT min(ps2.ps_cost_cents)
        |    FROM ps ps2, supplier s2, nation n2, region r2
        |    WHERE ps2.ps_partkey = p_partkey
        |      AND ps2.ps_suppkey = s2.s_suppkey
        |      AND s2.s_nationkey = n2.n_nationkey
        |      AND n2.n_regionkey = r2.r_regionkey
        |      AND r2.r_name = 'EUROPE')
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin,
    "q9_product_profit" ->
      s"""WITH ${Supply.psCte}
        |SELECT n_name, EXTRACT(year FROM o_orderdate) AS o_year,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
        |        AS BIGINT)
        |      - ps_cost_cents * 100 * CAST(l_quantity AS BIGINT))
        |    AS BIGINT) / 10000.0 AS sum_profit
        |FROM lineitem, ps, part, supplier, nation, orders
        |WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
        |  AND p_partkey = l_partkey AND p_name LIKE '%red%'
        |  AND s_suppkey = l_suppkey AND n_nationkey = s_nationkey
        |  AND o_orderkey = l_orderkey
        |GROUP BY 1, 2 ORDER BY n_name, o_year DESC""".stripMargin,
    "q11_value_concentration" ->
      s"""WITH ${Supply.psCte},
        |nps AS (
        |  SELECT ps_partkey,
        |    sum(ps_cost_cents * CAST(ps_availqty AS BIGINT)) AS v
        |  FROM ps, supplier, nation
        |  WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
        |    AND n_name = 'NATION_8'
        |  GROUP BY 1)
        |SELECT ps_partkey, CAST(v AS BIGINT) / 100.0 AS value
        |FROM nps
        |WHERE v * 10000 > (SELECT sum(v) FROM nps)
        |ORDER BY value DESC, ps_partkey""".stripMargin,
    "q16_supplier_counts" ->
      s"""WITH ${Supply.psCte}
        |SELECT p_brand, p_type, p_size,
        |  count(DISTINCT ps_suppkey) AS supplier_cnt
        |FROM ps, part
        |WHERE p_partkey = ps_partkey AND p_brand <> 'Brand#1'
        |  AND p_type <> 'PROMO'
        |  AND p_size IN (49, 14, 23, 45, 19, 3, 36, 9)
        |  AND ps_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "q20_qty_threshold" ->
      s"""WITH ${Supply.psCte},
        |shipped AS (
        |  SELECT l_partkey, l_suppkey,
        |    sum(CAST(l_quantity AS BIGINT)) AS sq
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-01-01'
        |  GROUP BY 1, 2),
        |qual AS (
        |  SELECT DISTINCT ps_suppkey
        |  FROM ps, part, shipped
        |  WHERE ps_partkey = p_partkey AND p_name LIKE 'red%'
        |    AND ps_partkey = l_partkey AND ps_suppkey = l_suppkey
        |    AND ps_availqty * 2 > sq)
        |SELECT s_suppkey, s_name
        |FROM supplier, nation, qual
        |WHERE s_nationkey = n_nationkey AND n_name = 'NATION_8'
        |  AND s_suppkey = ps_suppkey
        |ORDER BY s_suppkey""".stripMargin,
    // q12/q21: the derived-shipping CTE (Shipping.shipCte) mirrors the
    // integer offset/mode hashes; date comparisons between derived
    // dates stay in offset space, and the one calendar value (q12's
    // receipt year) adds whole days to the shared timestamp on both
    // engines
    "q12_shipmode_priority" ->
      s"""WITH ${Shipping.shipCte}
        |SELECT l_shipmode,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM ls JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipmode IN ('SHIP', 'RAIL')
        |  AND commit_off < receipt_off AND commit_off > 0
        |  AND date_part('year',
        |    l_shipdate + receipt_off * INTERVAL '1 day') = 1997
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q21_suppliers_waiting" ->
      s"""WITH ${Shipping.shipCte},
        |po AS (
        |  SELECT l_orderkey,
        |    count(DISTINCT l_suppkey) AS n_supps,
        |    count(DISTINCT CASE WHEN receipt_off > commit_off
        |      THEN l_suppkey END) AS n_late,
        |    max(CASE WHEN receipt_off > commit_off
        |      THEN l_suppkey END) AS late_supp
        |  FROM ls JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'
        |  GROUP BY 1),
        |culprit AS (
        |  SELECT late_supp, CAST(count(*) AS BIGINT) AS numwait
        |  FROM po WHERE n_supps >= 2 AND n_late = 1
        |  GROUP BY 1)
        |SELECT s_name, numwait
        |FROM culprit, supplier, nation
        |WHERE late_supp = s_suppkey AND s_nationkey = n_nationkey
        |  AND n_name = 'NATION_7'
        |ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin,
    "q_count_by_type" ->
      """SELECT event_type, count(*) AS ride_count
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_union_counts" ->
      """SELECT * FROM (
        | SELECT 'orders' AS src, count(*) AS n FROM orders
        | UNION ALL SELECT 'lineitem', count(*) FROM lineitem
        | UNION ALL SELECT 'events', count(*) FROM events
        |) ORDER BY src""".stripMargin,
    "q_per_day_type" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        | event_type, count(*) AS cnt
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_funnel" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
        |            WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t
        |       FROM events e JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'click' AND e.ts >= s1.t GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t
        |       FROM events e JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts >= s2.t GROUP BY 1)
        |SELECT * FROM (
        | SELECT 1 AS stage, 'view' AS event_type, count(*) AS n_users FROM s1
        | UNION ALL SELECT 2, 'click', count(*) FROM s2
        | UNION ALL SELECT 3, 'purchase', count(*) FROM s3)
        |ORDER BY stage""".stripMargin,
    "q_cohort_retention" ->
      """WITH ev AS (SELECT user_id,
        |              CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
        |            FROM events),
        |c AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY 1)
        |SELECT cohort_day,
        |  date_diff('day', cohort_day, day) AS day_offset,
        |  count(DISTINCT ev.user_id) AS active_users
        |FROM ev JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_dau_wau" ->
      """WITH ud AS (SELECT DISTINCT
        |              CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |              user_id
        |            FROM events),
        |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1),
        |support AS (
        |  SELECT user_id, day + INTERVAL 1 DAY * off AS day
        |  FROM ud, LATERAL (SELECT unnest(range(0, 7)) AS off)),
        |wau AS (SELECT day, count(DISTINCT user_id) AS wau
        |        FROM support GROUP BY 1)
        |SELECT d.day AS day, dau, wau FROM dau d JOIN wau USING (day)
        |ORDER BY day""".stripMargin,
    // checked sketch face: exact DAU/WAU + literal TRUE verdicts —
    // the Spark side computes the verdicts from the live HLL beside
    // the exact distinct, so per-day drift past 5·rsd flips a flag
    // and the hash compare catches it
    "q_dau_wau_approx" ->
      """WITH ud AS (SELECT DISTINCT
        |              CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |              user_id
        |            FROM events),
        |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1),
        |support AS (
        |  SELECT user_id, day + INTERVAL 1 DAY * off AS day
        |  FROM ud, LATERAL (SELECT unnest(range(0, 7)) AS off)),
        |wau AS (SELECT day, count(DISTINCT user_id) AS wau
        |        FROM support GROUP BY 1)
        |SELECT d.day AS day, dau, wau,
        |  TRUE AS dau_within_tol, TRUE AS wau_within_tol
        |FROM dau d JOIN wau USING (day)
        |ORDER BY day""".stripMargin,
    // sketch-union checked face: the oracle replays the exact
    // per-type counts and user-keyed overlap join, with literal TRUE
    // tolerance flags — HLL drift past 5·rsd flips a Spark-side
    // verdict and the hash compare catches it
    "q_distinct_union" ->
      """WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
        |n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
        |      FROM u GROUP BY 1),
        |ov AS (SELECT x.event_type AS type_a, y.event_type AS type_b,
        |         CAST(count(*) AS BIGINT) AS overlap_exact
        |       FROM u x JOIN u y ON x.user_id = y.user_id
        |         AND x.event_type < y.event_type
        |       GROUP BY 1, 2),
        |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |        a.n AS n_a, b.n AS n_b
        |      FROM n a JOIN n b ON a.event_type < b.event_type)
        |SELECT p.type_a, p.type_b, n_a, n_b,
        |  CAST(n_a + n_b - COALESCE(overlap_exact, 0) AS BIGINT)
        |    AS union_exact,
        |  CAST(COALESCE(overlap_exact, 0) AS BIGINT) AS overlap_exact,
        |  TRUE AS union_within_tol, TRUE AS overlap_within_tol
        |FROM p LEFT JOIN ov USING (type_a, type_b)
        |ORDER BY type_a, type_b""".stripMargin,
    "q_pivot_per_day" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        | count(*) FILTER (WHERE event_type = 'click')    AS click,
        | count(*) FILTER (WHERE event_type = 'error')    AS error,
        | count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        | count(*) FILTER (WHERE event_type = 'signup')   AS signup,
        | count(*) FILTER (WHERE event_type = 'view')     AS view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_anomaly_filter" ->
      """SELECT l_orderkey, l_linenumber, l_shipdate
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '2001-01-01'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_json_extract" ->
      """SELECT k % 10 AS k_bucket, count(*) AS n,
        | round(avg(value), 4) AS avg_value
        |FROM (SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |             value
        |      FROM events)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        |ORDER BY c_custkey""".stripMargin,
    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "q_window_running" ->
      """SELECT event_id, user_id,
        | round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_value,
        | row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |FROM events ORDER BY user_id, rn""".stripMargin,
    "q_topk_per_group" ->
      """SELECT event_type, event_id, value, rk FROM (
        | SELECT event_type, event_id, value,
        |  row_number() OVER (PARTITION BY event_type
        |    ORDER BY value DESC, event_id) AS rk
        | FROM events)
        |WHERE rk <= 3 ORDER BY event_type, rk""".stripMargin,
    "q_rank_functions" ->
      """SELECT event_type, event_id, value,
        | ntile(4) OVER w AS quartile,
        | round(percent_rank() OVER w, 4) AS pct_rank,
        | round(cume_dist() OVER w, 4) AS cume
        |FROM events
        |WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
        |ORDER BY event_type, event_id""".stripMargin,
    // trailing time-RANGE frame over exact epoch-second bounds; the
    // sum runs over DECIMAL-quantized values so Spark's rebuilt
    // sliding frames and DuckDB's segment trees cannot disagree on
    // double association
    "q_window_time_range" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP_US) AS ts,
        |    CAST(floor(epoch(CAST(ts AS TIMESTAMP_US))) AS BIGINT) AS sec,
        |    CAST(value AS DECIMAL(18,6)) AS v
        |  FROM events)
        |SELECT user_id, event_id, ts,
        |  round(CAST(sum(v) OVER (PARTITION BY user_id ORDER BY sec
        |    RANGE BETWEEN 1800 PRECEDING AND CURRENT ROW) AS DOUBLE), 4)
        |    AS trailing_value
        |FROM ev ORDER BY user_id, event_id""".stripMargin,
    "etl_melt" ->
      """WITH wide AS (
        |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |   count(*) FILTER (WHERE event_type = 'error')    AS error,
        |   count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |   count(*) FILTER (WHERE event_type = 'signup')   AS signup,
        |   count(*) FILTER (WHERE event_type IN ('click', 'view')) AS browse
        |  FROM events GROUP BY 1)
        |SELECT day, event_type, cnt FROM (
        |  SELECT day, 'error' AS event_type, error AS cnt FROM wide
        |  UNION ALL SELECT day, 'purchase', purchase FROM wide
        |  UNION ALL SELECT day, 'signup', signup FROM wide
        |  UNION ALL SELECT day, 'browse', browse FROM wide)
        |ORDER BY day, event_type""".stripMargin,
    "q_set_ops" ->
      """WITH e AS (SELECT user_id,
        |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP_US)) AS TIMESTAMP) AS day,
        |    event_type FROM events),
        |c AS (SELECT DISTINCT user_id, day FROM e WHERE event_type = 'click'),
        |v AS (SELECT DISTINCT user_id, day FROM e WHERE event_type = 'view')
        |SELECT 'both' AS segment, user_id, day
        |FROM (SELECT * FROM c INTERSECT SELECT * FROM v)
        |UNION ALL
        |SELECT 'click_only' AS segment, user_id, day
        |FROM (SELECT * FROM c EXCEPT SELECT * FROM v)
        |ORDER BY segment, user_id, day""".stripMargin,
    "q_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        | coalesce(l_linestatus, 'ALL') AS status,
        | sum(CAST(round(l_extendedprice * 10000) AS BIGINT)) / 10000.0
        |   AS rev, count(*) AS n
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY flag, status""".stripMargin,
    "q_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        | coalesce(l_linestatus, 'ALL') AS status,
        | sum(CAST(round(l_extendedprice * 10000) AS BIGINT)) / 10000.0
        |   AS rev, count(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY flag, status""".stripMargin,
    "q_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        | coalesce(l_linestatus, 'ALL') AS status,
        | sum(CAST(round(l_extendedprice * 10000) AS BIGINT)) / 10000.0
        |   AS rev, count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |                        (l_linestatus), ())
        |ORDER BY flag, status""".stripMargin,
    "etl_apply_changes" ->
      """WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
        |changes AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice + 1000 AS o_totalprice,
        |         'U' AS op, 1 AS seq FROM base WHERE o_orderkey % 5 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_totalprice, 'D', 2
        |  FROM base WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 1000000000, o_custkey, o_totalprice, 'U', 1
        |  FROM base WHERE o_orderkey % 7 = 0),
        |latest AS (
        |  SELECT * FROM changes
        |  QUALIFY row_number() OVER (PARTITION BY o_orderkey
        |                             ORDER BY seq DESC) = 1)
        |SELECT o_orderkey, o_custkey, o_totalprice FROM base
        |WHERE o_orderkey NOT IN (SELECT o_orderkey FROM latest)
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice FROM latest WHERE op <> 'D'
        |ORDER BY o_orderkey""".stripMargin,
    // SCD2: both engines collapse no-op changes with a null-safe
    // lag compare (first row kept explicitly) and derive validity
    // intervals with lead over the surviving versions; events ts is
    // nanos → truncate to micros before any windowing
    // the scd2 CTE chain + the interval join; intervals partition
    // time per user, so each probe matches at most one version
    "ts_pit_join" ->
      """WITH ev AS (SELECT user_id, event_type,
        |              CAST(ts AS TIMESTAMP_US) AS ts, event_id
        |            FROM events),
        |chg AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    (row_number() OVER w = 1 OR
        |     lag(event_type) OVER w IS DISTINCT FROM event_type) AS keep
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |kept AS (SELECT user_id, event_type, ts, event_id
        |         FROM chg WHERE keep),
        |dim AS (SELECT user_id, event_type AS state, ts AS valid_from,
        |          lead(ts) OVER w2 AS valid_to
        |        FROM kept
        |        WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |probe AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP_US) AS ts
        |          FROM events WHERE event_id % 10 = 0)
        |SELECT p.event_id, p.user_id, p.ts,
        |       d.state, d.valid_from, d.valid_to
        |FROM probe p LEFT JOIN dim d
        |  ON p.user_id = d.user_id AND p.ts >= d.valid_from
        |     AND (d.valid_to IS NULL OR p.ts < d.valid_to)
        |ORDER BY event_id""".stripMargin,
    "etl_scd2" ->
      """WITH ev AS (SELECT user_id, event_type,
        |              CAST(ts AS TIMESTAMP_US) AS ts, event_id
        |            FROM events),
        |chg AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    (row_number() OVER w = 1 OR
        |     lag(event_type) OVER w IS DISTINCT FROM event_type) AS keep
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |kept AS (SELECT user_id, event_type, ts, event_id
        |         FROM chg WHERE keep)
        |SELECT user_id, event_type, ts AS valid_from,
        |  lead(ts) OVER w2 AS valid_to,
        |  (lead(ts) OVER w2 IS NULL) AS is_current
        |FROM kept
        |WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, valid_from""".stripMargin,
    "q_distinct_count" ->
      """SELECT count(DISTINCT user_id) AS users,
        | count(DISTINCT event_type) AS types
        |FROM events""".stripMargin,
    // checked sketch face: exact counts + literal TRUE verdicts — the
    // Spark side computes the verdicts from the live HLL sketch, so a
    // drift past 5·rsd flips a flag and the hash compare catches it
    "q_distinct_approx" ->
      """SELECT count(DISTINCT user_id) AS users_exact,
        | count(DISTINCT event_type) AS types_exact,
        | TRUE AS users_within_tol, TRUE AS types_within_tol
        |FROM events""".stripMargin,
    // Spark's exact `percentile` and DuckDB's quantile_cont share the
    // same definition: sort, index p·(n-1), linear interpolation.
    "q_percentiles" ->
      """SELECT event_type,
        | round(quantile_cont(value, 0.5), 4) AS p50,
        | round(quantile_cont(value, 0.95), 4) AS p95,
        | round(quantile_cont(value, 0.99), 4) AS p99
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // checked GK-sketch face: exact quantiles + TRUE verdicts; the
    // Spark side brackets each sketch value between exact p ± 0.005
    "q_percentiles_approx" ->
      """SELECT event_type,
        | round(quantile_cont(value, 0.5), 4) AS p50,
        | round(quantile_cont(value, 0.95), 4) AS p95,
        | round(quantile_cont(value, 0.99), 4) AS p99,
        | TRUE AS p50_within_tol, TRUE AS p95_within_tol,
        | TRUE AS p99_within_tol
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Same explicit arithmetic binning as the operator — IEEE
    // subtract/multiply/divide/floor are bit-identical across engines;
    // the hi = lo (constant column) case pins bin 1 on both sides.
    "q_histogram" ->
      """WITH b AS (SELECT min(value) AS lo, max(value) AS hi FROM events)
        |SELECT event_type,
        | CASE WHEN hi = lo THEN 1
        |      ELSE CAST(least(floor((value - lo) * 10 / (hi - lo)), 9)
        |             AS BIGINT) + 1 END AS bin,
        | count(*) AS n
        |FROM events, b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // same first-seen fold; the window sum widens to HUGEINT in
    // DuckDB — cast back
    "q_user_growth" ->
      """WITH fs AS (SELECT user_id, event_type,
        |    min(CAST(date_trunc('day', CAST(ts AS TIMESTAMP_US))
        |        AS TIMESTAMP)) AS day
        |  FROM events GROUP BY 1, 2),
        |pd AS (SELECT event_type, day, count(*) AS new_users
        |       FROM fs GROUP BY 1, 2)
        |SELECT event_type, day, new_users,
        |  CAST(sum(new_users) OVER (PARTITION BY event_type ORDER BY day
        |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
        |FROM pd ORDER BY event_type, day""".stripMargin,
    // identical margins, double-cast-before-multiply expected counts,
    // DECIMAL-quantized contributions
    "q_chi2" ->
      """WITH cells AS (SELECT lang, source, count(*) AS o
        |               FROM documents GROUP BY 1, 2),
        |rt AS (SELECT lang, CAST(sum(o) AS BIGINT) AS ra
        |       FROM cells GROUP BY 1),
        |ct AS (SELECT source, CAST(sum(o) AS BIGINT) AS cb
        |       FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
        |          count(DISTINCT lang) AS r, count(DISTINCT source) AS c
        |        FROM cells),
        |grid AS (SELECT lang, source, ra, cb,
        |           coalesce(o, 0) AS o
        |         FROM rt CROSS JOIN ct LEFT JOIN cells USING (lang, source)),
        |k AS (SELECT o, CAST(ra AS DOUBLE) * cb / n AS e, n, r, c
        |      FROM grid, tot),
        |agg AS (SELECT n, r, c,
        |          sum(CAST((o - e) * (o - e) / e AS DECIMAL(20,10))) AS chi2s
        |        FROM k GROUP BY 1, 2, 3)
        |SELECT round(CAST(chi2s AS DOUBLE), 4) AS chi2,
        |  (r - 1) * (c - 1) AS dof, n AS n_rows,
        |  round(sqrt(CAST(chi2s AS DOUBLE) / n / least(r - 1, c - 1)), 4)
        |    AS cramers_v
        |FROM agg""".stripMargin,
    // same observed-cell tree: (o/n)·ln(o·n/(ra·cb)) quantized to
    // DECIMAL(20,10) before the sum — parity never rests on
    // aggregation order or libm's last ulp (the q_entropy posture)
    "q_mutual_info" ->
      """WITH cells AS (SELECT lang, source, count(*) AS o
        |               FROM documents GROUP BY 1, 2),
        |rt AS (SELECT lang, CAST(sum(o) AS BIGINT) AS ra
        |       FROM cells GROUP BY 1),
        |ct AS (SELECT source, CAST(sum(o) AS BIGINT) AS cb
        |       FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
        |mi AS (SELECT sum(CAST((CAST(o AS DOUBLE) / n) *
        |           ln(CAST(o AS DOUBLE) * n / (CAST(ra AS DOUBLE) * cb))
        |           AS DECIMAL(20,10))) AS mis
        |       FROM cells JOIN rt USING (lang) JOIN ct USING (source),
        |            tot),
        |ha AS (SELECT sum(CAST(-(CAST(ra AS DOUBLE) / n) *
        |           ln(CAST(ra AS DOUBLE) / n) AS DECIMAL(20,10))) AS has,
        |         CAST(count(*) AS BIGINT) AS n_a
        |       FROM rt, tot),
        |hb AS (SELECT sum(CAST(-(CAST(cb AS DOUBLE) / n) *
        |           ln(CAST(cb AS DOUBLE) / n) AS DECIMAL(20,10))) AS hbs,
        |         CAST(count(*) AS BIGINT) AS n_b
        |       FROM ct, tot)
        |SELECT n AS n_rows, n_a AS n_classes_a, n_b AS n_classes_b,
        |  round(CAST(mis AS DOUBLE), 4) AS mi,
        |  round(CAST(has AS DOUBLE), 4) AS h_a,
        |  round(CAST(hbs AS DOUBLE), 4) AS h_b,
        |  CASE WHEN has > 0 AND hbs > 0
        |    THEN round(CAST(mis AS DOUBLE) /
        |           sqrt(CAST(has AS DOUBLE) * CAST(hbs AS DOUBLE)), 4)
        |    ELSE 0.0 END AS nmi
        |FROM mi, ha, hb, tot""".stripMargin,
    // FULL JOIN ... USING coalesces the key in both engines; count
    // and max are aggregation-order independent, so no float drift
    // can cross the outer join
    "q_full_outer" ->
      """SELECT custkey, c_name, n_orders, max_price
        |FROM (SELECT c_custkey AS custkey, c_name FROM customer
        |      WHERE c_custkey % 2 = 0) c
        |FULL JOIN (SELECT o_custkey AS custkey, count(*) AS n_orders,
        |             round(max(o_totalprice), 4) AS max_price
        |           FROM orders WHERE o_custkey % 3 = 0 GROUP BY 1) o
        |USING (custkey)
        |ORDER BY custkey""".stripMargin,
    // NTILE over the identical (value, event_id) total order — bin
    // boundaries are engine-independent given the same order
    "ml_feature_ntile" ->
      """WITH b AS (SELECT event_type, value,
        |    ntile(10) OVER (PARTITION BY event_type
        |                    ORDER BY value, event_id) AS decile
        |  FROM events)
        |SELECT event_type, decile, count(*) AS n,
        |  round(min(value), 4) AS lo, round(max(value), 4) AS hi
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // identical null plant, identical DECIMAL-quantized mean, same
    // coalesce fill — the flag column proves WHICH rows were repaired
    "etl_impute" ->
      """WITH src AS (SELECT event_id, event_type,
        |    CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS value
        |  FROM events),
        |m AS (SELECT event_type,
        |    round(CAST(sum(CAST(round(value, 4) AS DECIMAL(20,10)))
        |               AS DOUBLE) / count(value), 4) AS fill
        |  FROM src WHERE value IS NOT NULL GROUP BY 1)
        |SELECT event_id, event_type,
        |  coalesce(value, fill) AS value,
        |  (value IS NULL) AS was_imputed
        |FROM src LEFT JOIN m USING (event_type)
        |ORDER BY event_id""".stripMargin,
    // quantile_cont == Spark's exact percentile (q_percentiles
    // parity); thresholds rounded BEFORE the comparison on both
    // sides; DECIMAL-quantized sum → order-independent mean
    "ml_feature_winsorize" ->
      """WITH b AS (SELECT event_type,
        |    round(quantile_cont(value, 0.05), 4) AS lo,
        |    round(quantile_cont(value, 0.95), 4) AS hi
        |  FROM events GROUP BY 1),
        |c AS (SELECT e.event_type, e.value, b.lo, b.hi,
        |    least(greatest(e.value, b.lo), b.hi) AS clipped
        |  FROM events e JOIN b USING (event_type))
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(CASE WHEN value < lo THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clip_lo,
        |  CAST(sum(CASE WHEN value > hi THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clip_hi,
        |  round(CAST(sum(CAST(round(clipped, 4) AS DECIMAL(20,10)))
        |             AS DOUBLE) / count(*), 4) AS mean_clipped,
        |  any_value(lo) AS lo, any_value(hi) AS hi
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin,
    // same tokenizer regex, same count tables, same division order
    // inside the ln — PMI matches at 4dp
    "text_collocations" ->
      """WITH tok AS (SELECT string_split_regex(trim(text), '\s+') AS ws
        |             FROM documents),
        |uni AS (SELECT w, count(*) AS c
        |        FROM (SELECT unnest(ws) AS w FROM tok) GROUP BY 1),
        |t AS (SELECT CAST(sum(c) AS BIGINT) AS nt FROM uni),
        |nb AS (SELECT CAST(sum(len(ws) - 1) AS BIGINT) AS nb FROM tok),
        |bi AS (SELECT ws[i] AS w1, ws[i+1] AS w2, count(*) AS c12
        |       FROM tok, LATERAL (SELECT unnest(range(1, len(ws))) AS i)
        |       GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT w1, w2, c12,
        |  round(ln((c12 * 1.0 / nb) /
        |           ((u1.c * 1.0 / nt) * (u2.c * 1.0 / nt))), 4) AS pmi
        |FROM bi JOIN uni u1 ON bi.w1 = u1.w
        |        JOIN uni u2 ON bi.w2 = u2.w, t, nb
        |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin,
    // text_bpe_merges: the 3 training rounds unrolled (the
    // ml_kmeans_plan pattern). Merge application = the SAME
    // double-replace on the same chr(31)-delimited string — both
    // engines' replace() scan left-to-right non-overlapping, so the
    // rewrite is bit-identical by construction
    "text_bpe_merges" ->
      """WITH s0 AS (
        |  SELECT doc_id, chr(31) ||
        |    array_to_string(string_split_regex(trim(text), '\s+'), chr(31))
        |    || chr(31) AS s
        |  FROM documents),
        |p1 AS (
        |  SELECT ws[i] || ' ' || ws[i+1] AS pair, count(*) AS cnt
        |  FROM (SELECT list_filter(string_split(s, chr(31)), x -> x <> '')
        |          AS ws FROM s0),
        |       LATERAL (SELECT unnest(range(1, len(ws))) AS i)
        |  GROUP BY 1),
        |t1 AS (SELECT pair, cnt FROM p1 ORDER BY cnt DESC, pair LIMIT 1),
        |s1 AS (
        |  SELECT doc_id, replace(replace(s,
        |    chr(31) || replace(pair, ' ', chr(31)) || chr(31),
        |    chr(31) || replace(pair, ' ', '_') || chr(31)),
        |    chr(31) || replace(pair, ' ', chr(31)) || chr(31),
        |    chr(31) || replace(pair, ' ', '_') || chr(31)) AS s
        |  FROM s0, t1),
        |p2 AS (
        |  SELECT ws[i] || ' ' || ws[i+1] AS pair, count(*) AS cnt
        |  FROM (SELECT list_filter(string_split(s, chr(31)), x -> x <> '')
        |          AS ws FROM s1),
        |       LATERAL (SELECT unnest(range(1, len(ws))) AS i)
        |  GROUP BY 1),
        |t2 AS (SELECT pair, cnt FROM p2 ORDER BY cnt DESC, pair LIMIT 1),
        |s2 AS (
        |  SELECT doc_id, replace(replace(s,
        |    chr(31) || replace(pair, ' ', chr(31)) || chr(31),
        |    chr(31) || replace(pair, ' ', '_') || chr(31)),
        |    chr(31) || replace(pair, ' ', chr(31)) || chr(31),
        |    chr(31) || replace(pair, ' ', '_') || chr(31)) AS s
        |  FROM s1, t2),
        |p3 AS (
        |  SELECT ws[i] || ' ' || ws[i+1] AS pair, count(*) AS cnt
        |  FROM (SELECT list_filter(string_split(s, chr(31)), x -> x <> '')
        |          AS ws FROM s2),
        |       LATERAL (SELECT unnest(range(1, len(ws))) AS i)
        |  GROUP BY 1),
        |t3 AS (SELECT pair, cnt FROM p3 ORDER BY cnt DESC, pair LIMIT 1),
        |s3 AS (
        |  SELECT doc_id, replace(replace(s,
        |    chr(31) || replace(pair, ' ', chr(31)) || chr(31),
        |    chr(31) || replace(pair, ' ', '_') || chr(31)),
        |    chr(31) || replace(pair, ' ', chr(31)) || chr(31),
        |    chr(31) || replace(pair, ' ', '_') || chr(31)) AS s
        |  FROM s2, t3),
        |v AS (
        |  SELECT w AS item, count(*) AS cnt
        |  FROM (SELECT list_filter(string_split(s, chr(31)), x -> x <> '')
        |          AS ws FROM s3),
        |       LATERAL (SELECT unnest(ws) AS w)
        |  GROUP BY 1 ORDER BY cnt DESC, item LIMIT 10)
        |SELECT kind, rnd, item, cnt FROM (
        |  SELECT 'merge' AS kind, CAST(1 AS BIGINT) AS rnd,
        |         replace(pair, ' ', '_') AS item, cnt FROM t1
        |  UNION ALL SELECT 'merge', CAST(2 AS BIGINT),
        |         replace(pair, ' ', '_'), cnt FROM t2
        |  UNION ALL SELECT 'merge', CAST(3 AS BIGINT),
        |         replace(pair, ' ', '_'), cnt FROM t3
        |  UNION ALL SELECT 'token', CAST(0 AS BIGINT), item, cnt FROM v)
        |ORDER BY kind, rnd, cnt DESC, item""".stripMargin,
    // text_bpe_encode: the train CTEs unroll over the EVEN half only;
    // the identical double-replace then rewrites the held-out odd
    // half — per-doc token counts before/after prove the apply path
    "text_bpe_encode" -> graft.ops.TextOps.bpeEncodeOracleSql(),
    // same µs-truncated ordering with the event_id tiebreak, so both
    // engines pair identical successors; totals recompute per source
    "q_markov" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP_US) AS ts,
        |             event_id, event_type FROM events),
        |p AS (SELECT event_type AS from_type,
        |        lead(event_type) OVER (PARTITION BY user_id
        |          ORDER BY ts, event_id) AS to_type
        |      FROM e),
        |c AS (SELECT from_type, to_type, count(*) AS n FROM p
        |      WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS tot
        |      FROM c GROUP BY 1)
        |SELECT from_type, to_type, n,
        |  CAST((CAST(n AS HUGEINT) * 20000 + tot) // (2 * tot)
        |    AS BIGINT) / 10000.0 AS p
        |FROM c JOIN t USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin,
    // identical exact DECIMAL moment sums over 4dp-quantized values;
    // the scalar t/dof derivation repeats the same double op order
    "q_ttest" ->
      """WITH m AS (SELECT
        |  count(*) FILTER (WHERE event_type = 'click') AS n_a,
        |  sum(CAST(round(value, 4) AS DECIMAL(14,4)))
        |    FILTER (WHERE event_type = 'click') AS sx_a,
        |  sum(CAST(round(value, 4) AS DECIMAL(14,4)) *
        |      CAST(round(value, 4) AS DECIMAL(14,4)))
        |    FILTER (WHERE event_type = 'click') AS sxx_a,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS n_b,
        |  sum(CAST(round(value, 4) AS DECIMAL(14,4)))
        |    FILTER (WHERE event_type = 'purchase') AS sx_b,
        |  sum(CAST(round(value, 4) AS DECIMAL(14,4)) *
        |      CAST(round(value, 4) AS DECIMAL(14,4)))
        |    FILTER (WHERE event_type = 'purchase') AS sxx_b
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |d AS (SELECT n_a, n_b,
        |  CAST(sx_a AS DOUBLE) / n_a AS ma, CAST(sx_b AS DOUBLE) / n_b AS mb,
        |  (CAST(sxx_a AS DOUBLE) -
        |    CAST(sx_a AS DOUBLE) * CAST(sx_a AS DOUBLE) / n_a) / (n_a - 1) / n_a
        |    AS sea,
        |  (CAST(sxx_b AS DOUBLE) -
        |    CAST(sx_b AS DOUBLE) * CAST(sx_b AS DOUBLE) / n_b) / (n_b - 1) / n_b
        |    AS seb
        |  FROM m)
        |SELECT n_a, n_b, round(ma, 4) AS mean_a, round(mb, 4) AS mean_b,
        |  round((ma - mb) / sqrt(sea + seb), 4) AS t_stat,
        |  round((sea + seb) * (sea + seb) /
        |    (sea * sea / (n_a - 1) + seb * seb / (n_b - 1)), 4) AS dof
        |FROM d""".stripMargin,
    // the digit comes from the same fixed 4dp rendering in both
    // engines — no float log10 digit math anywhere near a boundary
    "q_benford" ->
      """WITH v AS (SELECT printf('%.4f', value) AS s FROM events
        |           WHERE value > 0),
        |d0 AS (SELECT regexp_replace(s, '[0.]', '', 'g') AS t FROM v),
        |dg AS (SELECT CAST(t[1] AS INT) AS digit FROM d0 WHERE len(t) > 0),
        |c AS (SELECT digit, count(*) AS n FROM dg GROUP BY 1),
        |tt AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM c)
        |SELECT digit, n,
        |  CAST((CAST(n AS HUGEINT) * 20000 + tot) // (2 * tot)
        |    AS BIGINT) / 10000.0 AS share,
        |  round(log10(1 + 1.0 / digit), 4) AS benford_p,
        |  round(CAST((CAST(n AS HUGEINT) * 20000 + tot) // (2 * tot)
        |          AS BIGINT) / 10000.0 -
        |        round(log10(1 + 1.0 / digit), 4), 4) AS dev
        |FROM c, tt ORDER BY digit""".stripMargin,
    // group sizes over the identical QI tuple; day only partitions
    // the grouping, it never crosses an engine boundary in the output
    "q_kanonymity" ->
      """WITH g AS (SELECT event_type,
        |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP_US)) AS TIMESTAMP)
        |      AS day,
        |    user_id % 20 AS uid_bucket, count(*) AS sz
        |  FROM events GROUP BY 1, 2, 3)
        |SELECT count(*) AS n_groups, CAST(sum(sz) AS BIGINT) AS n_rows,
        |  min(sz) AS k_min,
        |  CAST(sum(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS groups_below_k,
        |  CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT)
        |    AS rows_below_k,
        |  CAST((CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS HUGEINT)
        |      * 20000 + sum(sz)) // (2 * sum(sz)) AS BIGINT) / 10000.0
        |    AS share_below_k
        |FROM g""".stripMargin,
    "q_ldiversity" ->
      """WITH g AS (SELECT event_type,
        |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP_US)) AS TIMESTAMP)
        |      AS day,
        |    user_id % 20 AS uid_bucket, count(*) AS sz,
        |    count(DISTINCT CAST(floor(value) AS BIGINT)) AS l_cnt
        |  FROM events GROUP BY 1, 2, 3)
        |SELECT count(*) AS n_groups, CAST(sum(sz) AS BIGINT) AS n_rows,
        |  min(l_cnt) AS l_min,
        |  CAST(sum(CASE WHEN l_cnt < 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS groups_below_l,
        |  CAST(sum(CASE WHEN l_cnt < 3 THEN sz ELSE 0 END) AS BIGINT)
        |    AS rows_below_l,
        |  CAST((CAST(sum(CASE WHEN l_cnt < 3 THEN sz ELSE 0 END) AS HUGEINT)
        |      * 20000 + sum(sz)) // (2 * sum(sz)) AS BIGINT) / 10000.0
        |    AS share_below_l
        |FROM g""".stripMargin,
    // per-bucket shares quantize to integer micro-units BEFORE the
    // cumulative sum — the EMD is exact integer arithmetic in both
    // engines; all divisions are non-negative so div ≡ //
    "q_tcloseness" ->
      """WITH r0 AS (SELECT event_type,
        |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP_US)) AS TIMESTAMP)
        |      AS day,
        |    user_id % 20 AS uid_bucket,
        |    CAST(floor(value / 10.0) AS BIGINT) AS b
        |  FROM events),
        |g AS (SELECT b, CAST(count(*) AS BIGINT) AS gn FROM r0 GROUP BY 1),
        |t AS (SELECT CAST(sum(gn) AS BIGINT) AS N,
        |        CAST(count(*) AS BIGINT) AS m FROM g),
        |c AS (SELECT event_type, day, uid_bucket, b,
        |        CAST(count(*) AS BIGINT) AS cn FROM r0 GROUP BY 1, 2, 3, 4),
        |sz AS (SELECT event_type, day, uid_bucket,
        |         CAST(sum(cn) AS BIGINT) AS sz FROM c GROUP BY 1, 2, 3),
        |grid AS (SELECT sz.event_type, sz.day, sz.uid_bucket, g.b,
        |           sz.sz, COALESCE(c.cn, 0) AS cn, g.gn
        |         FROM sz CROSS JOIN g
        |         LEFT JOIN c ON c.event_type = sz.event_type
        |           AND c.day = sz.day AND c.uid_bucket = sz.uid_bucket
        |           AND c.b = g.b),
        |d AS (SELECT grid.*, t.m,
        |        cn * 1000000 // sz - gn * 1000000 // N AS d_micro
        |      FROM grid, t),
        |cum AS (SELECT event_type, day, uid_bucket, sz, m,
        |          CAST(sum(d_micro) OVER (PARTITION BY event_type, day,
        |            uid_bucket ORDER BY b ROWS UNBOUNDED PRECEDING)
        |            AS BIGINT) AS cum_micro
        |        FROM d),
        |emd AS (SELECT event_type, day, uid_bucket, sz,
        |          CAST(CASE WHEN m > 1
        |            THEN sum(abs(cum_micro)) // (m - 1) ELSE 0 END
        |            AS BIGINT) AS t_micro
        |        FROM cum GROUP BY event_type, day, uid_bucket, sz, m)
        |SELECT CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(sum(sz) AS BIGINT) AS n_rows,
        |  max(t_micro) AS t_max_micro,
        |  CAST(sum(CASE WHEN t_micro > 200000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS classes_above_t,
        |  CAST(sum(CASE WHEN t_micro > 200000 THEN sz ELSE 0 END)
        |    AS BIGINT) AS rows_above_t,
        |  CAST((CAST(sum(CASE WHEN t_micro > 200000 THEN sz ELSE 0 END)
        |      AS HUGEINT) * 20000 + sum(sz)) // (2 * sum(sz)) AS BIGINT)
        |    / 10000.0 AS share_above_t
        |FROM emd""".stripMargin,
    // per-class terms quantize to the same DECIMAL(20,10) before the
    // sum — entropy parity does not depend on libm's last ulp
    "q_entropy" ->
      """WITH c AS (SELECT lang AS lbl, count(*) AS n FROM documents
        |           GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot, count(*) AS k FROM c),
        |q AS (SELECT k,
        |  CAST(-(CAST(n AS DOUBLE) / tot) * ln(CAST(n AS DOUBLE) / tot)
        |    AS DECIMAL(20,10)) AS h,
        |  CAST((CAST(n AS DOUBLE) / tot) * (CAST(n AS DOUBLE) / tot)
        |    AS DECIMAL(20,10)) AS g
        |  FROM c, t),
        |a AS (SELECT k, sum(h) AS hs, sum(g) AS gs FROM q GROUP BY 1)
        |SELECT k AS n_classes, round(CAST(hs AS DOUBLE), 4) AS entropy,
        |  CASE WHEN k > 1
        |    THEN round(CAST(hs AS DOUBLE) / ln(CAST(k AS DOUBLE)), 4)
        |    ELSE 0.0 END AS entropy_norm,
        |  round(1 - CAST(gs AS DOUBLE), 4) AS gini
        |FROM a""".stripMargin,
    // exact µs epoch integers for the gap test; paths assemble via
    // ORDER BY inside string_agg — the same (rank, type) order the
    // Spark side gets from sorting collected structs
    "q_session_paths" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP_US) AS ts,
        |             event_id, event_type FROM events),
        |f AS (SELECT *, epoch_us(ts) - lag(epoch_us(ts)) OVER
        |        (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        |      FROM e),
        |s AS (SELECT *, CAST(sum(CASE WHEN gap_us > 172800000000
        |        THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
        |        ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
        |        AS BIGINT) AS sess FROM f),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id, sess
        |        ORDER BY ts, event_id) AS rin FROM s),
        |p AS (SELECT user_id, sess,
        |        string_agg(event_type, '>' ORDER BY rin) AS path
        |      FROM r WHERE rin <= 3 GROUP BY 1, 2)
        |SELECT path, count(*) AS n_sessions FROM p GROUP BY 1
        |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin,
    // the same total (ts, event_id) ordering drives both lead()s, so
    // the gram stream replays verbatim
    "q_event_ngrams" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP_US) AS ts,
        |             event_id, event_type FROM events),
        |g AS (SELECT event_type || '>' || lead(event_type, 1) OVER w
        |        || '>' || lead(event_type, 2) OVER w AS gram,
        |        lead(event_type, 2) OVER w AS t2
        |      FROM e
        |      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT gram, CAST(count(*) AS BIGINT) AS n FROM g
        |WHERE t2 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, gram LIMIT 20""".stripMargin,
    // identical DECIMAL moments, identical rounded (mu, sigma), then
    // the same row-local double standardization
    "ml_feature_scale" ->
      """WITH st AS (SELECT event_type, count(*) AS n,
        |    sum(CAST(round(value, 4) AS DECIMAL(14,4))) AS sx,
        |    sum(CAST(round(value, 4) AS DECIMAL(14,4)) *
        |        CAST(round(value, 4) AS DECIMAL(14,4))) AS sxx
        |  FROM events GROUP BY 1),
        |ms AS (SELECT event_type, round(CAST(sx AS DOUBLE) / n, 4) AS mu,
        |    round(sqrt((CAST(sxx AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / (n - 1)), 4)
        |      AS sigma
        |  FROM st)
        |SELECT e.event_id, e.event_type,
        |  round((round(e.value, 4) - mu) / sigma, 4) AS z
        |FROM events e JOIN ms ON e.event_type = ms.event_type
        |ORDER BY e.event_id""".stripMargin,
    // literals mirror the Spark expression structure (1 - 0.75,
    // 1.2 + 1) so both engines run the identical double op sequence
    "text_bm25" ->
      """WITH doc AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |dl AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl FROM doc),
        |corpus AS (SELECT count(*) AS n_docs,
        |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, term, count(*) AS tf
        |       FROM (SELECT doc_id, unnest(ws) AS term FROM doc)
        |       WHERE term IN ('spark', 'stream', 'vector') GROUP BY 1, 2),
        |idf AS (SELECT term,
        |    round(ln((n_docs - df + 0.5) / (df + 0.5) + 1), 6) AS idf
        |  FROM (SELECT term, count(*) AS df FROM tf GROUP BY 1), corpus),
        |c AS (SELECT tf.doc_id,
        |    CAST(round(idf * (tf * (1.2 + 1)) /
        |      (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)), 6)
        |      AS DECIMAL(20,10)) AS c
        |  FROM tf JOIN idf USING (term) JOIN dl USING (doc_id), corpus)
        |SELECT doc_id, round(CAST(sum(c) AS DOUBLE), 4) AS score
        |FROM c GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // the full model replay: same split, same smoothed counts, 6dp
    // log-probs as exact DECIMALs, same rounded-score argmax order
    "ml_naive_bayes" ->
      """WITH doc AS (SELECT doc_id, lang,
        |    string_split_regex(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |tr AS (SELECT * FROM doc WHERE doc_id % 10 < 8),
        |te AS (SELECT * FROM doc WHERE doc_id % 10 >= 8),
        |ctk AS (SELECT lang, term, count(*) AS ctk
        |        FROM (SELECT lang, unnest(ws) AS term FROM tr)
        |        GROUP BY 1, 2),
        |ctot AS (SELECT lang, CAST(sum(ctk) AS BIGINT) AS ct
        |         FROM ctk GROUP BY 1),
        |voc AS (SELECT DISTINCT term FROM ctk),
        |vs AS (SELECT count(*) AS v FROM voc),
        |pri AS (SELECT lang, count(*) AS nd FROM tr GROUP BY 1),
        |prl AS (SELECT lang, round(ln(CAST(nd AS DOUBLE) /
        |          (SELECT CAST(sum(nd) AS BIGINT) FROM pri)), 6)
        |          AS prior_ln FROM pri),
        |grid AS (SELECT voc.term, ctot.lang,
        |    CAST(round(ln(CAST(coalesce(ctk.ctk, 0) + 1 AS DOUBLE) /
        |      (ct + v)), 6) AS DECIMAL(12,6)) AS lp
        |  FROM voc CROSS JOIN ctot
        |  LEFT JOIN ctk ON ctk.term = voc.term AND ctk.lang = ctot.lang, vs),
        |ttf AS (SELECT doc_id, lang AS true_lang, term, count(*) AS tf
        |        FROM (SELECT doc_id, lang, unnest(ws) AS term FROM te)
        |        GROUP BY 1, 2, 3),
        |sc AS (SELECT ttf.doc_id, ttf.true_lang, grid.lang,
        |         sum(ttf.tf * grid.lp) AS s
        |       FROM ttf JOIN grid ON ttf.term = grid.term GROUP BY 1, 2, 3),
        |fin AS (SELECT sc.doc_id, sc.true_lang, sc.lang,
        |          CAST(floor((CAST(s AS DOUBLE) + prior_ln) * 10000.0) AS BIGINT) / 10000.0 AS score,
        |          row_number() OVER (PARTITION BY sc.doc_id
        |            ORDER BY CAST(floor((CAST(s AS DOUBLE) + prior_ln) * 10000.0) AS BIGINT) / 10000.0 DESC,
        |              sc.lang) AS rk
        |        FROM sc JOIN prl ON sc.lang = prl.lang)
        |SELECT doc_id, true_lang, lang AS pred_lang, score
        |FROM fin WHERE rk = 1 ORDER BY doc_id""".stripMargin,
    // ml_calibration: the SAME scored chain, then exact-decimal
    // margins banded in integer 1e-4 units
    "ml_calibration" ->
      """WITH doc AS (SELECT doc_id, lang,
        |    string_split_regex(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |tr AS (SELECT * FROM doc WHERE doc_id % 10 < 8),
        |te AS (SELECT * FROM doc WHERE doc_id % 10 >= 8),
        |ctk AS (SELECT lang, term, count(*) AS ctk
        |        FROM (SELECT lang, unnest(ws) AS term FROM tr)
        |        GROUP BY 1, 2),
        |ctot AS (SELECT lang, CAST(sum(ctk) AS BIGINT) AS ct
        |         FROM ctk GROUP BY 1),
        |voc AS (SELECT DISTINCT term FROM ctk),
        |vs AS (SELECT count(*) AS v FROM voc),
        |pri AS (SELECT lang, count(*) AS nd FROM tr GROUP BY 1),
        |prl AS (SELECT lang, round(ln(CAST(nd AS DOUBLE) /
        |          (SELECT CAST(sum(nd) AS BIGINT) FROM pri)), 6)
        |          AS prior_ln FROM pri),
        |grid AS (SELECT voc.term, ctot.lang,
        |    CAST(round(ln(CAST(coalesce(ctk.ctk, 0) + 1 AS DOUBLE) /
        |      (ct + v)), 6) AS DECIMAL(12,6)) AS lp
        |  FROM voc CROSS JOIN ctot
        |  LEFT JOIN ctk ON ctk.term = voc.term AND ctk.lang = ctot.lang, vs),
        |ttf AS (SELECT doc_id, lang AS true_lang, term, count(*) AS tf
        |        FROM (SELECT doc_id, lang, unnest(ws) AS term FROM te)
        |        GROUP BY 1, 2, 3),
        |sc AS (SELECT ttf.doc_id, ttf.true_lang, grid.lang,
        |         sum(ttf.tf * grid.lp) AS s
        |       FROM ttf JOIN grid ON ttf.term = grid.term GROUP BY 1, 2, 3),
        |fin AS (SELECT sc.doc_id, sc.true_lang, sc.lang,
        |          CAST(floor((CAST(s AS DOUBLE) + prior_ln) * 10000.0) AS BIGINT) / 10000.0 AS score,
        |          row_number() OVER (PARTITION BY sc.doc_id
        |            ORDER BY CAST(floor((CAST(s AS DOUBLE) + prior_ln) * 10000.0) AS BIGINT) / 10000.0 DESC,
        |              sc.lang) AS rk
        |        FROM sc JOIN prl ON sc.lang = prl.lang),
        |t1 AS (SELECT doc_id,
        |         CASE WHEN lang = true_lang THEN 1 ELSE 0 END AS correct,
        |         CAST(score AS DECIMAL(14,4)) AS s1
        |       FROM fin WHERE rk = 1),
        |t2 AS (SELECT doc_id, CAST(score AS DECIMAL(14,4)) AS s2
        |       FROM fin WHERE rk = 2),
        |mg AS (SELECT t1.doc_id, correct,
        |        coalesce(CAST(t1.s1 - t2.s2 AS DECIMAL(14,4)),
        |                 CAST(9999.9999 AS DECIMAL(14,4))) AS margin
        |       FROM t1 LEFT JOIN t2 ON t1.doc_id = t2.doc_id),
        |mi AS (SELECT doc_id, correct, margin,
        |         CAST(margin * 10000 AS BIGINT) AS mi
        |       FROM mg),
        |rg AS (SELECT min(mi) AS lo, max(mi) AS hi FROM mi),
        |bk AS (SELECT mi.*,
        |         least(4, ((mi.mi - lo) * 5) // (hi - lo + 1)) AS bucket
        |       FROM mi, rg)
        |SELECT bucket, count(*) AS n_docs,
        |  round(CAST(min(margin) AS DOUBLE), 4) AS min_margin,
        |  round(CAST(max(margin) AS DOUBLE), 4) AS max_margin,
        |  round(CAST(sum(correct) AS DOUBLE) / count(*), 4) AS accuracy
        |FROM bk GROUP BY 1 ORDER BY bucket""".stripMargin,
    // ml_auc: the SAME scored chain (argmax filter dropped), then the
    // Mann-Whitney rank form — per-(class, distinct 4dp score) counts,
    // exclusive within-class cumulative, half-rank-integer tie
    // handling, DECIMAL(38,0) rank sums, double division only at the
    // end in the identical op order as the Spark face
    "ml_auc" ->
      """WITH doc AS (SELECT doc_id, lang,
        |    string_split_regex(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |tr AS (SELECT * FROM doc WHERE doc_id % 10 < 8),
        |te AS (SELECT * FROM doc WHERE doc_id % 10 >= 8),
        |ctk AS (SELECT lang, term, count(*) AS ctk
        |        FROM (SELECT lang, unnest(ws) AS term FROM tr)
        |        GROUP BY 1, 2),
        |ctot AS (SELECT lang, CAST(sum(ctk) AS BIGINT) AS ct
        |         FROM ctk GROUP BY 1),
        |voc AS (SELECT DISTINCT term FROM ctk),
        |vs AS (SELECT count(*) AS v FROM voc),
        |pri AS (SELECT lang, count(*) AS nd FROM tr GROUP BY 1),
        |prl AS (SELECT lang, round(ln(CAST(nd AS DOUBLE) /
        |          (SELECT CAST(sum(nd) AS BIGINT) FROM pri)), 6)
        |          AS prior_ln FROM pri),
        |grid AS (SELECT voc.term, ctot.lang,
        |    CAST(round(ln(CAST(coalesce(ctk.ctk, 0) + 1 AS DOUBLE) /
        |      (ct + v)), 6) AS DECIMAL(12,6)) AS lp
        |  FROM voc CROSS JOIN ctot
        |  LEFT JOIN ctk ON ctk.term = voc.term AND ctk.lang = ctot.lang, vs),
        |ttf AS (SELECT doc_id, lang AS true_lang, term, count(*) AS tf
        |        FROM (SELECT doc_id, lang, unnest(ws) AS term FROM te)
        |        GROUP BY 1, 2, 3),
        |sc AS (SELECT ttf.doc_id, ttf.true_lang, grid.lang,
        |         sum(ttf.tf * grid.lp) AS s
        |       FROM ttf JOIN grid ON ttf.term = grid.term GROUP BY 1, 2, 3),
        |fin AS (SELECT sc.doc_id, sc.true_lang, sc.lang,
        |          CAST(floor((CAST(s AS DOUBLE) + prior_ln) * 10000.0) AS BIGINT) / 10000.0 AS score,
        |          row_number() OVER (PARTITION BY sc.doc_id
        |            ORDER BY CAST(floor((CAST(s AS DOUBLE) + prior_ln) * 10000.0) AS BIGINT) / 10000.0 DESC,
        |              sc.lang) AS rk
        |        FROM sc JOIN prl ON sc.lang = prl.lang),
        |t1 AS (SELECT doc_id, lang AS lang1,
        |         CAST(score AS DECIMAL(14,4)) AS s1 FROM fin WHERE rk = 1),
        |t2 AS (SELECT doc_id, CAST(score AS DECIMAL(14,4)) AS s2
        |       FROM fin WHERE rk = 2),
        |mv AS (SELECT f.doc_id, f.true_lang, f.lang,
        |         CAST(CASE WHEN f.lang = t1.lang1
        |           THEN CAST(f.score AS DECIMAL(14,4)) - coalesce(t2.s2, t1.s1)
        |           ELSE CAST(f.score AS DECIMAL(14,4)) - t1.s1
        |         END AS DECIMAL(14,4)) AS v
        |       FROM fin f JOIN t1 USING (doc_id)
        |       LEFT JOIN t2 USING (doc_id)),
        |g AS (SELECT lang, v,
        |        CAST(sum(CASE WHEN true_lang = lang THEN 1 ELSE 0 END)
        |          AS BIGINT) AS np,
        |        count(*) AS n
        |      FROM mv GROUP BY 1, 2),
        |c AS (SELECT *, coalesce(sum(n) OVER (PARTITION BY lang ORDER BY v
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumw
        |      FROM g),
        |a AS (SELECT lang,
        |        sum(CAST(np * (2 * cumw + n + 1) AS DECIMAL(38,0))) AS r12,
        |        CAST(sum(np) AS BIGINT) AS na,
        |        CAST(sum(n) - sum(np) AS BIGINT) AS nb
        |      FROM c GROUP BY 1)
        |SELECT lang, na AS n_pos, nb AS n_neg,
        |  CASE WHEN na > 0 AND nb > 0 THEN
        |    round((CAST(r12 AS DOUBLE) - CAST(na AS DOUBLE) * (na + 1)) /
        |          (2 * (CAST(na AS DOUBLE) * nb)), 4) END AS auc,
        |  CASE WHEN na > 0 AND nb > 0 THEN
        |    round(2 * round((CAST(r12 AS DOUBLE) - CAST(na AS DOUBLE) *
        |      (na + 1)) / (2 * (CAST(na AS DOUBLE) * nb)), 4) - 1, 4)
        |  END AS gini
        |FROM a ORDER BY lang""".stripMargin,
    // unrolled power iteration: DECIMAL(20,10) per-edge contributions
    // and 10dp per-round re-rounding make every iterate bit-identical;
    // CAST(0.85 AS DOUBLE) mirrors Spark's double literal arithmetic
    "q_pagerank" ->
      """WITH e1 AS (SELECT DISTINCT 'o' || l_orderkey AS src,
        |              's' || l_suppkey AS dst FROM lineitem),
        |e AS (SELECT src, dst FROM e1
        |      UNION ALL SELECT dst, src FROM e1),
        |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
        |ed AS (SELECT e.src, e.dst, deg.outdeg
        |       FROM e JOIN deg ON e.src = deg.src),
        |nodes AS (SELECT DISTINCT src AS node FROM e),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |it0 AS (SELECT node, 10000000000 // n AS r FROM nodes, nn),
        |it1 AS (SELECT ed.dst AS node,
        |    1500000000 // n + (85 * sum(r // outdeg)) // 100 AS r
        |  FROM ed JOIN it0 ON ed.src = it0.node, nn
        |  GROUP BY ed.dst, n),
        |it2 AS (SELECT ed.dst AS node,
        |    1500000000 // n + (85 * sum(r // outdeg)) // 100 AS r
        |  FROM ed JOIN it1 ON ed.src = it1.node, nn
        |  GROUP BY ed.dst, n),
        |it3 AS (SELECT ed.dst AS node,
        |    1500000000 // n + (85 * sum(r // outdeg)) // 100 AS r
        |  FROM ed JOIN it2 ON ed.src = it2.node, nn
        |  GROUP BY ed.dst, n),
        |it4 AS (SELECT ed.dst AS node,
        |    1500000000 // n + (85 * sum(r // outdeg)) // 100 AS r
        |  FROM ed JOIN it3 ON ed.src = it3.node, nn
        |  GROUP BY ed.dst, n),
        |it5 AS (SELECT ed.dst AS node,
        |    1500000000 // n + (85 * sum(r // outdeg)) // 100 AS r
        |  FROM ed JOIN it4 ON ed.src = it4.node, nn
        |  GROUP BY ed.dst, n),
        |q AS (SELECT node, (r * n + 500000) // 1000000 AS q FROM it5, nn)
        |SELECT node, CAST(q AS DOUBLE) / 10000.0 AS rank_scaled
        |FROM q ORDER BY rank_scaled DESC, node LIMIT 20""".stripMargin,
    // degree-ordered triangle enumeration replayed: orientation by
    // (deg, node) row comparison, wedges per shared low endpoint,
    // closing edge probed in stored orientation via EXISTS
    "graph_triangles" ->
      """WITH m AS (SELECT DISTINCT l_orderkey AS basket,
        |             l_partkey AS item FROM lineitem),
        |sz AS (SELECT basket, count(*) AS bsz FROM m GROUP BY 1),
        |mm AS (SELECT m.basket, m.item FROM m JOIN sz USING (basket)
        |       WHERE sz.bsz <= 16),
        |e AS (SELECT DISTINCT x.item AS a, y.item AS b
        |      FROM mm x JOIN mm y USING (basket) WHERE x.item < y.item),
        |deg AS (SELECT node, count(*) AS deg FROM (
        |          SELECT a AS node FROM e
        |          UNION ALL SELECT b AS node FROM e) GROUP BY 1),
        |o AS (SELECT
        |        CASE WHEN (da.deg, e.a) < (db.deg, e.b)
        |             THEN e.a ELSE e.b END AS lo,
        |        CASE WHEN (da.deg, e.a) < (db.deg, e.b)
        |             THEN e.b ELSE e.a END AS hi,
        |        CASE WHEN (da.deg, e.a) < (db.deg, e.b)
        |             THEN db.deg ELSE da.deg END AS dhi
        |      FROM e JOIN deg da ON e.a = da.node
        |             JOIN deg db ON e.b = db.node),
        |w AS (SELECT e1.hi AS lo, e2.hi AS hi
        |      FROM o e1 JOIN o e2 USING (lo)
        |      WHERE (e1.dhi, e1.hi) < (e2.dhi, e2.hi)),
        |tri AS (SELECT count(*) AS n_triangles FROM w
        |        WHERE EXISTS (SELECT 1 FROM o
        |                      WHERE o.lo = w.lo AND o.hi = w.hi)),
        |st AS (SELECT count(*) AS n_nodes,
        |         CAST(sum(deg) / 2 AS BIGINT) AS n_edges,
        |         CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
        |       FROM deg)
        |SELECT n_nodes, n_edges, n_wedges, n_triangles,
        |  round(3.0 * n_triangles / n_wedges, 4) AS clustering_coeff
        |FROM st, tri""".stripMargin,
    // graph_degree_dist: the same edge CTEs; the log2 bin comes from
    // the binary-string length (integer-exact — float log2 is one ulp
    // from misbinning every power of two)
    "graph_degree_dist" ->
      """WITH m AS (SELECT DISTINCT l_orderkey AS basket,
        |             l_partkey AS item FROM lineitem),
        |sz AS (SELECT basket, count(*) AS bsz FROM m GROUP BY 1),
        |mm AS (SELECT m.basket, m.item FROM m JOIN sz USING (basket)
        |       WHERE sz.bsz <= 16),
        |e AS (SELECT DISTINCT x.item AS a, y.item AS b
        |      FROM mm x JOIN mm y USING (basket) WHERE x.item < y.item),
        |deg AS (SELECT node, count(*) AS deg FROM (
        |          SELECT a AS node FROM e
        |          UNION ALL SELECT b AS node FROM e) GROUP BY 1),
        |t AS (SELECT count(*) AS n_total FROM deg),
        |b AS (SELECT CAST(length(bin(deg)) - 1 AS BIGINT) AS bin,
        |        count(*) AS n_nodes, min(deg) AS min_deg,
        |        max(deg) AS max_deg
        |      FROM deg GROUP BY 1)
        |SELECT bin, n_nodes, min_deg, max_deg,
        |  CAST((CAST(n_nodes AS HUGEINT) * 20000 + n_total)
        |    // (2 * n_total) AS BIGINT) / 10000.0 AS share
        |FROM b, t ORDER BY bin""".stripMargin,
    // the sampled tier replays the WHOLE pipeline — md5 coin, kept
    // edge set, degree orientation, wedge closure, and the integer
    // 1/p^3 scale-up — so the estimate value-matches cross-engine
    // every step's coin replays verbatim; dead ends coalesce-park
    "graph_random_walk" ->
      """WITH m AS (SELECT DISTINCT l_orderkey AS basket,
        |             l_partkey AS item FROM lineitem),
        |sz AS (SELECT basket, count(*) AS bsz FROM m GROUP BY 1),
        |mm AS (SELECT m.basket, m.item FROM m JOIN sz USING (basket)
        |       WHERE sz.bsz <= 16),
        |e0 AS (SELECT DISTINCT x.item AS a, y.item AS b
        |       FROM mm x JOIN mm y USING (basket) WHERE x.item < y.item),
        |adj AS (SELECT a AS node, b AS nbr FROM e0
        |        UNION ALL SELECT b, a FROM e0),
        |rkd AS (SELECT node, nbr,
        |          row_number() OVER (PARTITION BY node ORDER BY nbr) - 1
        |            AS rk
        |        FROM adj),
        |degs AS (SELECT node, count(*) AS deg FROM adj GROUP BY 1),
        |w0 AS (SELECT node AS start, node AS cur FROM degs),
        |i1 AS (SELECT start, cur,
        |         CAST(('0x' || substr(md5(start || '_1_' || cur), 1, 15))
        |           ::UBIGINT % deg AS BIGINT) AS idx
        |       FROM w0 JOIN degs d ON d.node = w0.cur),
        |w1 AS (SELECT start, COALESCE(r.nbr, i1.cur) AS p1
        |       FROM i1 LEFT JOIN rkd r
        |         ON r.node = i1.cur AND r.rk = i1.idx),
        |i2 AS (SELECT start, p1,
        |         CAST(('0x' || substr(md5(start || '_2_' || p1), 1, 15))
        |           ::UBIGINT % deg AS BIGINT) AS idx
        |       FROM w1 JOIN degs d ON d.node = w1.p1),
        |w2 AS (SELECT start, p1, COALESCE(r.nbr, i2.p1) AS p2
        |       FROM i2 LEFT JOIN rkd r
        |         ON r.node = i2.p1 AND r.rk = i2.idx),
        |i3 AS (SELECT start, p1, p2,
        |         CAST(('0x' || substr(md5(start || '_3_' || p2), 1, 15))
        |           ::UBIGINT % deg AS BIGINT) AS idx
        |       FROM w2 JOIN degs d ON d.node = w2.p2),
        |w3 AS (SELECT start, p1, p2, COALESCE(r.nbr, i3.p2) AS p3
        |       FROM i3 LEFT JOIN rkd r
        |         ON r.node = i3.p2 AND r.rk = i3.idx)
        |SELECT start, p1 AS path1, p2 AS path2, p3 AS path3,
        |  start || '>' || p1 || '>' || p2 || '>' || p3 AS path
        |FROM w3 ORDER BY start""".stripMargin,
    "graph_triangles_sampled" ->
      """WITH m AS (SELECT DISTINCT l_orderkey AS basket,
        |             l_partkey AS item FROM lineitem),
        |sz AS (SELECT basket, count(*) AS bsz FROM m GROUP BY 1),
        |mm AS (SELECT m.basket, m.item FROM m JOIN sz USING (basket)
        |       WHERE sz.bsz <= 16),
        |e0 AS (SELECT DISTINCT x.item AS a, y.item AS b
        |       FROM mm x JOIN mm y USING (basket) WHERE x.item < y.item),
        |e AS (SELECT a, b FROM e0
        |      WHERE ('0x' || substr(md5(a || '_' || b), 1, 15))::UBIGINT
        |              % 1000 < 300),
        |deg AS (SELECT node, count(*) AS deg FROM (
        |          SELECT a AS node FROM e
        |          UNION ALL SELECT b AS node FROM e) GROUP BY 1),
        |o AS (SELECT
        |        CASE WHEN (da.deg, e.a) < (db.deg, e.b)
        |             THEN e.a ELSE e.b END AS lo,
        |        CASE WHEN (da.deg, e.a) < (db.deg, e.b)
        |             THEN e.b ELSE e.a END AS hi,
        |        CASE WHEN (da.deg, e.a) < (db.deg, e.b)
        |             THEN db.deg ELSE da.deg END AS dhi
        |      FROM e JOIN deg da ON e.a = da.node
        |             JOIN deg db ON e.b = db.node),
        |w AS (SELECT e1.hi AS lo, e2.hi AS hi
        |      FROM o e1 JOIN o e2 USING (lo)
        |      WHERE (e1.dhi, e1.hi) < (e2.dhi, e2.hi)),
        |tri AS (SELECT count(*) AS n_triangles FROM w
        |        WHERE EXISTS (SELECT 1 FROM o
        |                      WHERE o.lo = w.lo AND o.hi = w.hi)),
        |st AS (SELECT CAST(sum(deg) / 2 AS BIGINT) AS n_edges FROM deg)
        |SELECT n_edges AS n_edges_kept,
        |  n_triangles AS n_triangles_sampled,
        |  CAST(n_triangles // 27000000 * 1000000000
        |       + (n_triangles % 27000000) * 1000000000 // 27000000
        |       AS BIGINT) AS est_triangles
        |FROM st, tri""".stripMargin,
    // support/confidence/lift in exact integers before one double
    // division; the pair explode and min-count gate replayed verbatim
    "q_market_basket" ->
      """WITH m AS (SELECT DISTINCT l_orderkey AS basket, p_brand AS item
        |           FROM lineitem JOIN part ON l_partkey = p_partkey),
        |sz AS (SELECT basket, count(*) AS bsz FROM m GROUP BY 1),
        |mm AS (SELECT m.basket, m.item FROM m JOIN sz USING (basket)
        |       WHERE sz.bsz <= 32),
        |nb AS (SELECT count(DISTINCT basket) AS n_baskets FROM mm),
        |ic AS (SELECT item, count(*) AS n_item FROM mm GROUP BY 1),
        |pc AS (SELECT x.item AS item_a, y.item AS item_b,
        |         count(*) AS n_ab
        |       FROM mm x JOIN mm y USING (basket)
        |       WHERE x.item < y.item GROUP BY 1, 2
        |       HAVING count(*) >= 50)
        |SELECT item_a, item_b, n_ab,
        |  CAST((CAST(n_ab AS HUGEINT) * 20000 + n_baskets)
        |    // (2 * n_baskets) AS BIGINT) / 10000.0 AS support,
        |  CAST((CAST(n_ab AS HUGEINT) * 20000 + a.n_item)
        |    // (2 * a.n_item) AS BIGINT) / 10000.0 AS confidence,
        |  CAST((CAST(n_ab AS HUGEINT) * n_baskets * 20000
        |      + CAST(a.n_item AS HUGEINT) * b.n_item)
        |    // (2 * CAST(a.n_item AS HUGEINT) * b.n_item) AS BIGINT)
        |    / 10000.0 AS lift
        |FROM pc JOIN ic a ON pc.item_a = a.item
        |        JOIN ic b ON pc.item_b = b.item, nb
        |ORDER BY lift DESC, item_a, item_b LIMIT 20""".stripMargin,
    // binary cosine in the same capped-basket universe; rank on the
    // ROUNDED cosine with a neighbor-id tiebreak (total order)
    "rec_item_cosine" ->
      """WITH m AS (SELECT DISTINCT l_orderkey AS basket,
        |             l_partkey AS item FROM lineitem),
        |sz AS (SELECT basket, count(*) AS bsz FROM m GROUP BY 1),
        |mm AS (SELECT m.basket, m.item FROM m JOIN sz USING (basket)
        |       WHERE sz.bsz <= 16),
        |ic AS (SELECT item, count(*) AS n FROM mm GROUP BY 1),
        |pc AS (SELECT x.item AS ia, y.item AS ib, count(*) AS n_ab
        |       FROM mm x JOIN mm y USING (basket)
        |       WHERE x.item < y.item GROUP BY 1, 2
        |       HAVING count(*) >= 2),
        |sc AS (SELECT ia, ib, n_ab,
        |         round(CAST(n_ab AS DOUBLE) /
        |           sqrt(CAST(a.n AS DOUBLE) * CAST(b.n AS DOUBLE)), 4)
        |           AS cosine
        |       FROM pc JOIN ic a ON pc.ia = a.item
        |               JOIN ic b ON pc.ib = b.item),
        |sym AS (SELECT ia AS item, ib AS neighbor, n_ab, cosine FROM sc
        |        UNION ALL
        |        SELECT ib AS item, ia AS neighbor, n_ab, cosine FROM sc),
        |r AS (SELECT *, row_number() OVER (PARTITION BY item
        |        ORDER BY cosine DESC, neighbor) AS rank FROM sym)
        |SELECT item, neighbor, n_ab, cosine, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 5 ORDER BY item, rank""".stripMargin,
    // the whole compose replayed: cosine CTEs → owned ownership →
    // DECIMAL evidence sums → anti-join → per-customer rank
    "rec_user_items" ->
      """WITH m AS (SELECT DISTINCT l_orderkey AS basket,
        |             l_partkey AS item FROM lineitem),
        |sz AS (SELECT basket, count(*) AS bsz FROM m GROUP BY 1),
        |mm AS (SELECT m.basket, m.item FROM m JOIN sz USING (basket)
        |       WHERE sz.bsz <= 16),
        |ic AS (SELECT item, count(*) AS n FROM mm GROUP BY 1),
        |pc AS (SELECT x.item AS ia, y.item AS ib, count(*) AS n_ab
        |       FROM mm x JOIN mm y USING (basket)
        |       WHERE x.item < y.item GROUP BY 1, 2
        |       HAVING count(*) >= 2),
        |sc AS (SELECT ia, ib,
        |         round(CAST(n_ab AS DOUBLE) /
        |           sqrt(CAST(a.n AS DOUBLE) * CAST(b.n AS DOUBLE)), 4)
        |           AS cosine
        |       FROM pc JOIN ic a ON pc.ia = a.item
        |               JOIN ic b ON pc.ib = b.item),
        |sym AS (SELECT ia AS item, ib AS neighbor, cosine FROM sc
        |        UNION ALL
        |        SELECT ib AS item, ia AS neighbor, cosine FROM sc),
        |r AS (SELECT * FROM (SELECT *, row_number() OVER (
        |        PARTITION BY item ORDER BY cosine DESC, neighbor)
        |        AS rank FROM sym) WHERE rank <= 5),
        |owned AS (SELECT DISTINCT o_custkey AS cust, l_partkey AS item
        |          FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |cand AS (SELECT cust, r.neighbor AS rec_item,
        |           sum(CAST(cosine AS DECIMAL(14,4))) AS score_d,
        |           CAST(count(*) AS BIGINT) AS n_sources
        |         FROM owned JOIN r ON owned.item = r.item
        |         GROUP BY 1, 2),
        |fresh AS (SELECT c.* FROM cand c LEFT JOIN owned o
        |            ON c.cust = o.cust AND c.rec_item = o.item
        |          WHERE o.item IS NULL),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY cust
        |         ORDER BY score_d DESC, rec_item) AS rank FROM fresh)
        |SELECT cust, rec_item, round(CAST(score_d AS DOUBLE), 4) AS score,
        |  n_sources, CAST(rank AS BIGINT) AS rank
        |FROM rk WHERE rank <= 3 ORDER BY cust, rank""".stripMargin,
    // the DIMSUM coin replayed verbatim: md5 prefix of (basket,i,j)
    // mod 1e6 under the ⌊1e6·γ/√(n_a·n_b)⌋ threshold, then the
    // regime-split estimator — sampling and all, value-checked
    "rec_item_cosine_dimsum" ->
      """WITH m AS (SELECT DISTINCT l_orderkey AS basket,
        |             l_partkey AS item FROM lineitem),
        |sz AS (SELECT basket, count(*) AS bsz FROM m GROUP BY 1),
        |mm AS (SELECT m.basket, m.item FROM m JOIN sz USING (basket)
        |       WHERE sz.bsz <= 16),
        |ic AS (SELECT item, count(*) AS n FROM mm GROUP BY 1),
        |wn AS (SELECT basket, mm.item, n FROM mm JOIN ic USING (item)),
        |j AS (SELECT x.basket, x.item AS ia, y.item AS ib,
        |        x.n AS n_a, y.n AS n_b
        |      FROM wn x JOIN wn y USING (basket)
        |      WHERE x.item < y.item),
        |k AS (SELECT ia, ib, n_a, n_b, count(*) AS cnt FROM j
        |      WHERE ('0x' || substr(md5(basket || '_' || ia || '_' || ib),
        |               1, 15))::UBIGINT % 1000000
        |        < least(1000000, CAST(floor(16000000.0 /
        |            sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)))
        |            AS BIGINT))
        |      GROUP BY 1, 2, 3, 4)
        |SELECT ia, ib, cnt,
        |  round(CASE WHEN 16.0 >= sqrt(CAST(n_a AS DOUBLE) *
        |                               CAST(n_b AS DOUBLE))
        |    THEN CAST(cnt AS DOUBLE) /
        |         sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
        |    ELSE CAST(cnt AS DOUBLE) / 16.0 END, 4) AS cos_est
        |FROM k ORDER BY cos_est DESC, ia, ib LIMIT 50""".stripMargin,
    // per-user pre/post means → θ fit → row-local adjustment, every
    // mean/θ/x̄ rounded 4dp before reuse and every adjusted value
    // re-quantized before summing (the rounded-metric rule)
    // q_cuped: exact integer micro-units end to end (the r11
    // contract) — floor-divided per-user micro means, DECIMAL(38,0)
    // moment products, floor-quantized θ/means/variance reduction;
    // floor is deterministic on identical doubles where round() is
    // rule-dependent (HALF_UP-on-shortest-repr vs binary)
    "q_cuped" ->
      """WITH mid AS (SELECT (min(epoch_us(CAST(ts AS TIMESTAMP_US)) // 86400000000) +
        |    max(epoch_us(CAST(ts AS TIMESTAMP_US)) // 86400000000)) // 2 AS mid
        |  FROM events),
        |pu AS (SELECT user_id,
        |    sum(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP_US)) // 86400000000
        |        <= mid THEN CAST(round(value, 4) AS DECIMAL(14,4)) END) AS sx,
        |    sum(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP_US)) // 86400000000
        |        <= mid THEN 1 ELSE 0 END) AS nx,
        |    sum(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP_US)) // 86400000000
        |        > mid THEN CAST(round(value, 4) AS DECIMAL(14,4)) END) AS sy,
        |    sum(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP_US)) // 86400000000
        |        > mid THEN 1 ELSE 0 END) AS ny
        |  FROM events, mid GROUP BY user_id, mid
        |  HAVING nx > 0 AND ny > 0 AND sx IS NOT NULL AND sy IS NOT NULL),
        |pud AS (SELECT user_id,
        |    CAST(floor(CAST(CAST(sx * 10000 AS BIGINT) AS DOUBLE) / nx)
        |      AS BIGINT) AS xm,
        |    CAST(floor(CAST(CAST(sy * 10000 AS BIGINT) AS DOUBLE) / ny)
        |      AS BIGINT) AS ym FROM pu),
        |fit AS (SELECT
        |    CAST(floor(((CAST(sum(CAST(xm AS HUGEINT) * ym) AS DOUBLE) -
        |        CAST(sum(xm) AS DOUBLE) * CAST(sum(ym) AS DOUBLE) / count(*)) /
        |      (CAST(sum(CAST(xm AS HUGEINT) * xm) AS DOUBLE) -
        |        CAST(sum(xm) AS DOUBLE) * CAST(sum(xm) AS DOUBLE) / count(*)))
        |      * 10000.0) AS BIGINT) / 10000.0 AS theta,
        |    CAST(floor(CAST(sum(xm) AS DOUBLE) / count(*)) AS BIGINT) AS xbarm
        |  FROM pud),
        |adj AS (SELECT user_id, ym, theta,
        |    CAST(floor(ym - theta * (xm - xbarm)) AS BIGINT) AS am,
        |    CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 2) < '80'
        |      THEN 'a' ELSE 'b' END AS arm
        |  FROM pud, fit),
        |gl AS (SELECT CAST(floor((1.0 -
        |    (CAST(sum(CAST(am AS HUGEINT) * am) AS DOUBLE) -
        |      CAST(sum(am) AS DOUBLE) * CAST(sum(am) AS DOUBLE) / count(*)) /
        |    (CAST(sum(CAST(ym AS HUGEINT) * ym) AS DOUBLE) -
        |      CAST(sum(ym) AS DOUBLE) * CAST(sum(ym) AS DOUBLE) / count(*)))
        |    * 10000.0) AS BIGINT) / 10000.0 AS var_reduction
        |  FROM adj)
        |SELECT arm, count(*) AS n_users,
        |  CAST(floor(CAST(sum(ym) AS DOUBLE) / count(*)) AS BIGINT)
        |    / 10000.0 AS mean_post,
        |  CAST(floor(CAST(sum(am) AS DOUBLE) / count(*)) AS BIGINT)
        |    / 10000.0 AS mean_adj,
        |  max(theta) AS theta, max(var_reduction) AS var_reduction
        |FROM adj, gl GROUP BY arm, var_reduction ORDER BY arm""".stripMargin,
    "q_srm_check" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |arms AS (
        |  SELECT CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 2) < '80'
        |           THEN 'a' ELSE 'b' END AS arm
        |  FROM u),
        |c AS (
        |  SELECT CAST(sum(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_a,
        |         CAST(sum(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_b
        |  FROM arms)
        |SELECT n_a, n_b,
        |  round(CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / (n_a + n_b), 4)
        |    AS chi2,
        |  round(CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / (n_a + n_b), 4)
        |    > 3.8415 AS srm
        |FROM c""".stripMargin,
    // the 2am chain's three-stage audit: every checksum recomputed
    // from the RAW tables — the oracle knows nothing of the
    // bookmark, the parquet boundaries, or the splits
    "etl_daily_e2e" ->
      graft.etl.DailyPipeline.dailyE2eOracleSql,
    // row canon = null-sentineled '|' join → md5 → first 15 hex as a
    // 60-bit int (list-comprehension polynomial — exact, no doubles);
    // XOR + HUGEINT SUM signatures rendered as strings
    // etl_incremental_agg: the oracle recomputes the aggregate FROM
    // SCRATCH and knows nothing about the base/delta split — hash
    // equality IS the incremental-maintenance correctness proof
    "etl_incremental_agg" ->
      """SELECT event_type,
        |  epoch_us(CAST(ts AS TIMESTAMP_US)) // 86400000000 AS ed,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(CAST(sum(CAST(round(value * 10000) AS BIGINT))
        |    AS DOUBLE) / 10000.0, 4) AS sv
        |FROM events GROUP BY 1, 2
        |ORDER BY event_type, ed""".stripMargin,
    "layout_pruned_checksum" ->
      graft.sources.Sources.prunedChecksumOracleSql,
    "etl_table_checksum" ->
      """WITH oh AS (SELECT CAST(list_sum([(strpos('0123456789abcdef', h[i]) - 1) *
        |      (CAST(1 AS BIGINT) << (4*(15 - i))) for i in range(1, 16)])
        |      AS BIGINT) AS hv
        |    FROM (SELECT md5(concat_ws('|',
        |        coalesce(CAST(o_orderkey AS VARCHAR), 'null'),
        |        coalesce(CAST(o_custkey AS VARCHAR), 'null'),
        |        coalesce(o_orderstatus, 'null'),
        |        coalesce(o_orderpriority, 'null'),
        |        coalesce(CAST(epoch_us(CAST(o_orderdate AS TIMESTAMP_US))
        |          // 86400000000 AS VARCHAR), 'null'))) AS h FROM orders)),
        |ch AS (SELECT CAST(list_sum([(strpos('0123456789abcdef', h[i]) - 1) *
        |      (CAST(1 AS BIGINT) << (4*(15 - i))) for i in range(1, 16)])
        |      AS BIGINT) AS hv
        |    FROM (SELECT md5(concat_ws('|',
        |        coalesce(CAST(c_custkey AS VARCHAR), 'null'),
        |        coalesce(c_name, 'null'),
        |        coalesce(CAST(c_nationkey AS VARCHAR), 'null'),
        |        coalesce(c_mktsegment, 'null'))) AS h FROM customer)),
        |sh AS (SELECT CAST(list_sum([(strpos('0123456789abcdef', h[i]) - 1) *
        |      (CAST(1 AS BIGINT) << (4*(15 - i))) for i in range(1, 16)])
        |      AS BIGINT) AS hv
        |    FROM (SELECT md5(concat_ws('|',
        |        coalesce(CAST(s_suppkey AS VARCHAR), 'null'),
        |        coalesce(s_name, 'null'),
        |        coalesce(CAST(s_nationkey AS VARCHAR), 'null'))) AS h
        |      FROM supplier))
        |SELECT 'orders' AS tbl, count(*) AS n_rows, bit_xor(hv) AS xor_sig,
        |  CAST(sum(CAST(hv AS HUGEINT)) AS VARCHAR) AS sum_sig FROM oh
        |UNION ALL
        |SELECT 'customer', count(*), bit_xor(hv),
        |  CAST(sum(CAST(hv AS HUGEINT)) AS VARCHAR) FROM ch
        |UNION ALL
        |SELECT 'supplier', count(*), bit_xor(hv),
        |  CAST(sum(CAST(hv AS HUGEINT)) AS VARCHAR) FROM sh
        |ORDER BY tbl""".stripMargin,
    // the whole Lloyd's loop unrolled: 1e-6-unit shifted integer
    // coordinates, integer distances/argmins/means — every iterate is
    // bit-identical to the Spark side's (the pageRank contract)
    "ml_kmeans_plan" ->
      """WITH dims AS (SELECT unnest(range(1, 65)) AS dim),
        |v AS (SELECT vec_id, label, dim,
        |    CAST(round(CAST(embedding[dim] AS DOUBLE) * 1000000, 0)
        |      AS BIGINT) + 1000000 AS v6
        |  FROM embeddings, dims),
        |c0 AS (SELECT vec_id AS cluster, dim, v6 AS c6 FROM v
        |       WHERE vec_id < 3),
        |s1 AS (SELECT v.vec_id, c.cluster,
        |         sum((v.v6 - c.c6) * (v.v6 - c.c6)) AS d2
        |       FROM v JOIN c0 c ON v.dim = c.dim GROUP BY 1, 2),
        |a1 AS (SELECT vec_id, cluster FROM (SELECT *, row_number()
        |         OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rk
        |         FROM s1) WHERE rk = 1),
        |c1 AS (SELECT a.cluster, v.dim,
        |         CAST(sum(v.v6) AS BIGINT) // count(*) AS c6
        |       FROM v JOIN a1 a ON v.vec_id = a.vec_id GROUP BY 1, 2),
        |s2 AS (SELECT v.vec_id, c.cluster,
        |         sum((v.v6 - c.c6) * (v.v6 - c.c6)) AS d2
        |       FROM v JOIN c1 c ON v.dim = c.dim GROUP BY 1, 2),
        |a2 AS (SELECT vec_id, cluster FROM (SELECT *, row_number()
        |         OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rk
        |         FROM s2) WHERE rk = 1),
        |c2 AS (SELECT a.cluster, v.dim,
        |         CAST(sum(v.v6) AS BIGINT) // count(*) AS c6
        |       FROM v JOIN a2 a ON v.vec_id = a.vec_id GROUP BY 1, 2),
        |s3 AS (SELECT v.vec_id, c.cluster,
        |         sum((v.v6 - c.c6) * (v.v6 - c.c6)) AS d2
        |       FROM v JOIN c2 c ON v.dim = c.dim GROUP BY 1, 2),
        |a3 AS (SELECT vec_id, cluster FROM (SELECT *, row_number()
        |         OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rk
        |         FROM s3) WHERE rk = 1),
        |c3 AS (SELECT a.cluster, v.dim,
        |         CAST(sum(v.v6) AS BIGINT) // count(*) AS c6
        |       FROM v JOIN a3 a ON v.vec_id = a.vec_id GROUP BY 1, 2),
        |s4 AS (SELECT v.vec_id, c.cluster,
        |         sum((v.v6 - c.c6) * (v.v6 - c.c6)) AS d2
        |       FROM v JOIN c3 c ON v.dim = c.dim GROUP BY 1, 2),
        |a4 AS (SELECT vec_id, cluster, d2 FROM (SELECT *, row_number()
        |         OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rk
        |         FROM s4) WHERE rk = 1),
        |sz AS (SELECT cluster, count(*) AS n,
        |         CAST(sum(d2 // 1000000) AS BIGINT) // count(*) AS md6
        |       FROM a4 GROUP BY 1),
        |lab AS (SELECT a.cluster, e.label, count(*) AS c
        |        FROM a4 a JOIN embeddings e ON a.vec_id = e.vec_id
        |        GROUP BY 1, 2),
        |maj AS (SELECT cluster, label AS majority_label
        |        FROM (SELECT *, row_number() OVER (PARTITION BY cluster
        |                ORDER BY c DESC, label) AS rk FROM lab)
        |        WHERE rk = 1)
        |SELECT sz.cluster, sz.n, CAST(md6 AS DOUBLE) / 1000000.0 AS mean_d2,
        |  maj.majority_label
        |FROM sz JOIN maj ON sz.cluster = maj.cluster
        |ORDER BY sz.cluster""".stripMargin,
    // same per-tier ranking with the (cosine 4dp, vec_id) tiebreak;
    // list slicing replicates the prefix truncation
    "emb_mrl_recall" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb
        |           FROM embeddings WHERE vec_id < 10),
        |sc AS (SELECT d.dims, q.q_id, e.vec_id,
        |    round(${graft.ops.SimilarityOps.qcosSql("q.q_emb[1:d.dims]", "e.embedding[1:d.dims]")}, 4) AS cos
        |  FROM embeddings e, q,
        |    (SELECT unnest([16, 32, 64]) AS dims) d
        |  WHERE e.vec_id <> q.q_id),
        |top AS (SELECT * FROM (SELECT *, row_number() OVER
        |          (PARTITION BY dims, q_id ORDER BY cos DESC, vec_id)
        |          AS rk FROM sc) WHERE rk <= 5),
        |f AS (SELECT q_id, vec_id FROM top WHERE dims = 64)
        |SELECT t.dims, t.q_id,
        |  CAST(count(f.vec_id) AS DOUBLE) / 5 AS recall
        |FROM top t LEFT JOIN f
        |  ON t.q_id = f.q_id AND t.vec_id = f.vec_id
        |WHERE t.dims <> 64
        |GROUP BY t.dims, t.q_id ORDER BY t.dims, t.q_id""".stripMargin,
    // the whole 8-round optimization unrolled programmatically —
    // oracle and iteration count cannot drift apart
    "ml_logreg_gd" -> MlOps.logregOracleSql,
    // ml_adaboost_stumps: programmatically unrolled round replay —
    // the logreg discipline, so a round-count change cannot drift
    "ml_adaboost_stumps" -> MlOps.adaboostOracleSql,
    "ml_gbt_stumps" -> MlOps.gbtOracleSql,
    // ranking metrics in integer micro-units: per-hit ⌊1e6/log2(r+1)⌋
    // gains, integer divisions for MRR/NDCG/recall — no float is
    // ever summed or compared; sums cast to BIGINT for pandas
    "ml_eval_ranking" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb,
        |             label AS q_label
        |           FROM embeddings WHERE vec_id < 20),
        |sc AS (SELECT q.q_id, e.vec_id,
        |         round(${graft.ops.SimilarityOps.qcosSql("q.q_emb", "e.embedding")}, 4)
        |           AS cos,
        |         CASE WHEN e.label = q.q_label THEN 1 ELSE 0 END AS rel
        |       FROM embeddings e, q WHERE e.vec_id <> q.q_id),
        |rt AS (SELECT q_id, CAST(sum(rel) AS BIGINT) AS n_rel
        |       FROM sc GROUP BY 1),
        |top AS (SELECT * FROM (SELECT *, row_number() OVER
        |          (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
        |        FROM sc) WHERE rank <= 10),
        |pq AS (SELECT q_id, CAST(sum(rel) AS BIGINT) AS hits,
        |         CAST(sum(CASE WHEN rel = 1
        |           THEN CAST(floor(1000000.0 / log2(rank + 1.0)) AS BIGINT)
        |           ELSE 0 END) AS BIGINT) AS dcg_micro,
        |         min(CASE WHEN rel = 1 THEN rank END) AS first_rel
        |       FROM top GROUP BY 1),
        |ic AS (SELECT q_id, CAST(sum(CAST(floor(1000000.0 / log2(r + 1.0))
        |           AS BIGINT)) AS BIGINT) AS idcg_micro
        |       FROM (SELECT q_id, unnest(range(1, least(n_rel, 10) + 1))
        |               AS r FROM rt WHERE n_rel > 0) GROUP BY 1)
        |SELECT pq.q_id, rt.n_rel, pq.hits,
        |  CAST(CASE WHEN first_rel IS NULL THEN 0
        |    ELSE 1000000 // first_rel END AS BIGINT) AS mrr_micro,
        |  pq.dcg_micro,
        |  CAST(COALESCE(ic.idcg_micro, 0) AS BIGINT) AS idcg_micro,
        |  CAST(CASE WHEN COALESCE(ic.idcg_micro, 0) = 0 THEN 0
        |    ELSE pq.dcg_micro * 1000000 // ic.idcg_micro END AS BIGINT)
        |    AS ndcg_micro,
        |  CAST(CASE WHEN rt.n_rel = 0 THEN 0
        |    ELSE pq.hits * 1000000 // rt.n_rel END AS BIGINT)
        |    AS recall_micro
        |FROM pq JOIN rt USING (q_id) LEFT JOIN ic USING (q_id)
        |ORDER BY q_id""".stripMargin,
    // emb_binary_recall: hamming distances are exact integer sign
    // mismatches, so both rankings replay verbatim
    "emb_binary_recall" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb
        |           FROM embeddings WHERE vec_id < 10),
        |sc AS (SELECT q.q_id, e.vec_id,
        |    round(${graft.ops.SimilarityOps.qcosSql("q.q_emb", "e.embedding")}, 4) AS cos,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> CASE WHEN (q.q_emb[i] > 0) <> (e.embedding[i] > 0)
        |                THEN 1 ELSE 0 END)) AS BIGINT) AS ham
        |  FROM embeddings e, q WHERE e.vec_id <> q.q_id),
        |ct AS (SELECT q_id, vec_id FROM (SELECT *, row_number() OVER
        |        (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk
        |        FROM sc) WHERE rk <= 5),
        |bt AS (SELECT q_id, vec_id FROM (SELECT *, row_number() OVER
        |        (PARTITION BY q_id ORDER BY ham ASC, vec_id) AS rk
        |        FROM sc) WHERE rk <= 5)
        |SELECT bt.q_id, CAST(count(ct.vec_id) AS DOUBLE) / 5 AS recall
        |FROM bt LEFT JOIN ct
        |  ON bt.q_id = ct.q_id AND bt.vec_id = ct.vec_id
        |GROUP BY bt.q_id ORDER BY bt.q_id""".stripMargin,
    // identical planted tails, identical RE2-safe split-and-trim
    "text_sentences" ->
      """WITH t AS (SELECT doc_id,
        |    text || '. planted tail one! tail two? ' ||
        |    repeat('end. ', CAST(doc_id % 3 AS INT)) AS text
        |  FROM documents),
        |sp AS (SELECT doc_id,
        |    list_filter(list_transform(
        |      string_split_regex(text, '[.!?]+\s*'), x -> trim(x)),
        |      x -> len(x) > 0) AS s
        |  FROM t)
        |SELECT doc_id, len(s) AS n_sentences,
        |  CASE WHEN len(s) > 0 THEN round(CAST(list_sum(list_transform(s,
        |      x -> len(string_split_regex(x, '\s+')))) AS DOUBLE)
        |      / len(s), 4) ELSE 0.0 END AS avg_sentence_tokens,
        |  coalesce(list_max(list_transform(s, x -> len(x))), 0)
        |    AS max_sentence_chars
        |FROM sp ORDER BY doc_id""".stripMargin,
    // half-rank integer units (2·rank̄ = 2·cum_below + n + 1) keep the
    // rank sums exact; only the final z / r_rb derive in doubles
    "q_mann_whitney" ->
      """WITH f AS (SELECT round(value, 4) AS v,
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ia
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |g AS (SELECT v, CAST(sum(ia) AS BIGINT) AS n1,
        |    CAST(count(*) - sum(ia) AS BIGINT) AS n2, count(*) AS n
        |  FROM f GROUP BY 1),
        |c AS (SELECT *, coalesce(sum(n) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM g),
        |a AS (SELECT
        |    sum(CAST(n1 * (2 * cum + n + 1) AS DECIMAL(38,0))) AS r12,
        |    CAST(sum(n1) AS BIGINT) AS na, CAST(sum(n2) AS BIGINT) AS nb,
        |    sum(CAST(n * n * n - n AS DECIMAL(38,0))) AS t
        |  FROM c),
        |d AS (SELECT na, nb,
        |    CAST(r12 AS DOUBLE) - na * (na + 1) AS u2,
        |    CAST(na AS DOUBLE) + nb AS nd,
        |    CAST(t AS DOUBLE) AS td
        |  FROM a)
        |SELECT na AS n_a, nb AS n_b, u2 / 2 AS u_a,
        |  round((u2 - CAST(na AS DOUBLE) * nb) /
        |    (2 * sqrt((CAST(na AS DOUBLE) * nb / 12) *
        |      ((nd + 1) - td / (nd * (nd - 1))))), 4) AS z,
        |  round(1 - u2 / (CAST(na AS DOUBLE) * nb), 4) AS r_rb
        |FROM d""".stripMargin,
    // exact integer cross-multiply D over the inclusive two-sample
    // CDF steps; the α=0.05 verdict is fully integer on both engines
    // (c = 679/500), only ks_z derives in fixed-tree doubles
    "q_ks_test" ->
      """WITH f AS (SELECT round(value, 4) AS v,
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ia
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |g AS (SELECT v, CAST(sum(ia) AS BIGINT) AS ca,
        |    CAST(count(*) - sum(ia) AS BIGINT) AS cb
        |  FROM f GROUP BY 1),
        |c AS (SELECT
        |    CAST(sum(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
        |      AS HUGEINT) AS fa,
        |    CAST(sum(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
        |      AS HUGEINT) AS fb
        |  FROM g),
        |t AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
        |        CAST(sum(cb) AS BIGINT) AS nb FROM g),
        |m AS (SELECT na, nb,
        |        max(abs(fa * nb - fb * na)) AS dnum
        |      FROM c, t GROUP BY na, nb)
        |SELECT na AS n_a, nb AS n_b,
        |  CAST((dnum * 20000 + CAST(na AS HUGEINT) * nb) //
        |    (2 * CAST(na AS HUGEINT) * nb) AS BIGINT) / 10000.0 AS d,
        |  round(CAST(dnum AS DOUBLE) /
        |      (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) *
        |    sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) /
        |      (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))), 4) AS ks_z,
        |  (dnum * dnum * 250000 >
        |    CAST(461041 AS HUGEINT) * (na + nb) * na * nb) AS reject_05
        |FROM m""".stripMargin,
    // q_bootstrap_ci: the SAME md5-60-bit uniforms inverted through
    // the SAME five integer CDF literals, replicate means 4dp, exact
    // interpolated CI percentiles, DECIMAL-moment bootstrap SE
    "q_bootstrap_ci" ->
      """WITH base AS (SELECT event_type, event_id,
        |    CAST(round(value, 4) AS DECIMAL(14,4)) AS v FROM events),
        |pt AS (SELECT event_type, count(*) AS n,
        |    round(CAST(sum(v) AS DOUBLE) / count(*), 4) AS mean
        |  FROM base GROUP BY 1),
        |r AS (SELECT base.*, rep FROM base
        |      CROSS JOIN (SELECT unnest(range(0, 20)) AS rep)),
        |wts AS (SELECT event_type, rep, v,
        |    CASE WHEN u < 424136118829305344 THEN 0
        |         WHEN u < 848272237658610688 THEN 1
        |         WHEN u < 1060340297073263360 THEN 2
        |         WHEN u < 1131029650211480960 THEN 3
        |         WHEN u < 1148701988496035328 THEN 4
        |         ELSE 5 END AS w
        |  FROM (SELECT *, ('0x' || substr(md5(CAST(event_id AS VARCHAR)
        |          || '_' || CAST(rep AS VARCHAR)), 1, 15))::UBIGINT AS u
        |        FROM r)),
        |rm AS (SELECT event_type, rep,
        |    CAST(round(CAST(sum(CAST(w * v AS DECIMAL(20,4))) AS DOUBLE) /
        |      sum(w), 4) AS DECIMAL(14,4)) AS mr
        |  FROM wts GROUP BY 1, 2 HAVING sum(w) > 0),
        |ci AS (SELECT event_type, count(*) AS r,
        |    round(quantile_cont(CAST(mr AS DOUBLE), 0.025), 4) AS lo95,
        |    round(quantile_cont(CAST(mr AS DOUBLE), 0.975), 4) AS hi95,
        |    sum(mr) AS smr,
        |    sum(CAST(mr * mr AS DECIMAL(30,8))) AS smr2
        |  FROM rm GROUP BY 1)
        |SELECT pt.event_type, pt.n, pt.mean, ci.lo95, ci.hi95,
        |  round(sqrt((CAST(smr2 AS DOUBLE) -
        |    CAST(smr AS DOUBLE) * CAST(smr AS DOUBLE) / r) / (r - 1)), 4)
        |    AS se_boot
        |FROM pt JOIN ci USING (event_type) ORDER BY event_type""".stripMargin,
    // q_did: identical midpoint/panel/rounding chain, identical
    // conditional DECIMAL moments, zero-variance t pinned to 0
    "q_did" ->
      """WITH mid AS (SELECT
        |    (min(epoch_us(CAST(ts AS TIMESTAMP_US)) // 86400000000) +
        |     max(epoch_us(CAST(ts AS TIMESTAMP_US)) // 86400000000)) // 2
        |    AS mid FROM events),
        |per AS (SELECT user_id,
        |    CASE WHEN epoch_us(CAST(ts AS TIMESTAMP_US)) // 86400000000
        |         < mid THEN 0 ELSE 1 END AS period,
        |    CAST(round(value, 4) AS DECIMAL(14,4)) AS v
        |  FROM events, mid),
        |pa AS (SELECT user_id, period, sum(v) AS sv, count(*) AS n
        |       FROM per GROUP BY 1, 2),
        |u AS (SELECT user_id,
        |    sum(CASE WHEN period = 0 THEN sv END) AS sv0,
        |    sum(CASE WHEN period = 0 THEN n END) AS n0,
        |    sum(CASE WHEN period = 1 THEN sv END) AS sv1,
        |    sum(CASE WHEN period = 1 THEN n END) AS n1
        |  FROM pa GROUP BY 1),
        |y AS (SELECT
        |    CAST(CAST(round(CAST(sv1 AS DOUBLE) / n1, 4) AS DECIMAL(14,4)) -
        |         CAST(round(CAST(sv0 AS DOUBLE) / n0, 4) AS DECIMAL(14,4))
        |      AS DECIMAL(14,4)) AS y,
        |    CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 2) < '80'
        |      THEN 'a' ELSE 'b' END AS arm
        |  FROM u WHERE n0 IS NOT NULL AND n1 IS NOT NULL),
        |agg AS (SELECT
        |    CAST(sum(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(sum(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS nb,
        |    sum(CASE WHEN arm = 'a' THEN y END) AS sa,
        |    sum(CASE WHEN arm = 'a' THEN CAST(y * y AS DECIMAL(30,8)) END)
        |      AS saa,
        |    sum(CASE WHEN arm = 'b' THEN y END) AS sb,
        |    sum(CASE WHEN arm = 'b' THEN CAST(y * y AS DECIMAL(30,8)) END)
        |      AS sbb
        |  FROM y),
        |d AS (SELECT na, nb,
        |    round(CAST(sa AS DOUBLE) / na, 4) AS ma,
        |    round(CAST(sb AS DOUBLE) / nb, 4) AS mb,
        |    (CAST(saa AS DOUBLE) -
        |     CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / na) / (na - 1) AS va,
        |    (CAST(sbb AS DOUBLE) -
        |     CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) / nb) / (nb - 1) AS vb
        |  FROM agg)
        |SELECT na AS n_treat, nb AS n_ctrl,
        |  ma AS delta_treat, mb AS delta_ctrl,
        |  round(ma - mb, 4) AS did,
        |  round(sqrt(va / na + vb / nb), 4) AS se,
        |  CASE WHEN sqrt(va / na + vb / nb) > 0
        |    THEN round((ma - mb) / sqrt(va / na + vb / nb), 4)
        |    ELSE 0.0 END AS t_stat
        |FROM d""".stripMargin,
    // q_power_mde: identical per-user metric, DECIMAL moments, pinned
    // 4dp z constants, ceil over the 4dp-rounded operand
    "q_power_mde" ->
      """WITH u AS (SELECT
        |    CAST(round(CAST(sum(CAST(round(value, 4) AS DECIMAL(14,4)))
        |      AS DOUBLE) / count(*), 4) AS DECIMAL(14,4)) AS y
        |  FROM events GROUP BY user_id),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n_users, sum(y) AS sy,
        |    sum(CAST(CAST(y AS DECIMAL(19,4)) * y AS DECIMAL(30,8))) AS syy FROM u),
        |m AS (SELECT n_users,
        |    round(CAST(sy AS DOUBLE) / n_users, 4) AS mean_y,
        |    (CAST(syy AS DOUBLE) -
        |     CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n_users) /
        |    (n_users - 1) AS s2
        |  FROM a)
        |SELECT n_users, mean_y,
        |  CASE WHEN s2 > 0 THEN round(sqrt(s2), 4) ELSE 0.0 END AS sd_y,
        |  CASE WHEN s2 > 0
        |    THEN round(2.8016 * sqrt(4 * s2 / n_users), 4)
        |    ELSE 0.0 END AS mde_abs,
        |  CASE WHEN abs(mean_y) > 0 THEN round(
        |    (CASE WHEN s2 > 0
        |       THEN round(2.8016 * sqrt(4 * s2 / n_users), 4)
        |       ELSE 0.0 END) / abs(mean_y), 4)
        |    ELSE 0.0 END AS mde_rel,
        |  CASE WHEN s2 > 0 AND abs(mean_y) > 0
        |    THEN CAST(ceil(round(2 * s2 * 2.8016 * 2.8016 /
        |      (0.01 * abs(mean_y) * 0.01 * abs(mean_y)), 4)) AS BIGINT)
        |    ELSE 0 END AS n_arm_1pct
        |FROM m""".stripMargin,
    // q_anova: identical epoch-day dow, DECIMAL group moments, each
    // S²/n term 4dp-rounded BEFORE the cross-group sum, pinned F crit
    "q_anova" ->
      """WITH g AS (SELECT
        |    (epoch_us(CAST(ts AS TIMESTAMP_US)) // 86400000000 + 3) % 7
        |      AS dow,
        |    CAST(round(value, 4) AS DECIMAL(14,4)) AS v FROM events),
        |m AS (SELECT dow, CAST(count(*) AS BIGINT) AS n, sum(v) AS s,
        |    sum(CAST(v * v AS DECIMAL(30,8))) AS ss FROM g GROUP BY 1),
        |m2 AS (SELECT dow, n, s, ss,
        |    CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n, 4)
        |      AS DECIMAL(30,8)) AS term FROM m),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(n) AS BIGINT) AS n,
        |    sum(s) AS st, sum(ss) AS sst, sum(term) AS terms FROM m2),
        |d AS (SELECT k, n,
        |    CAST(terms - CAST(round(CAST(st AS DOUBLE) *
        |      CAST(st AS DOUBLE) / n, 4) AS DECIMAL(30,8)) AS DOUBLE)
        |      AS ssb,
        |    CAST(sst - terms AS DOUBLE) AS ssw FROM a)
        |SELECT k, n, round(ssb, 4) AS ss_between,
        |  round(ssw, 4) AS ss_within,
        |  CASE WHEN k > 1 AND ssw > 0
        |    THEN round((ssb / (k - 1)) / (ssw / (n - k)), 4)
        |    ELSE 0.0 END AS f_stat,
        |  k = 7 AND (CASE WHEN k > 1 AND ssw > 0
        |    THEN round((ssb / (k - 1)) / (ssw / (n - k)), 4)
        |    ELSE 0.0 END) > 2.0986 AS sig_05
        |FROM d""".stripMargin,
    // q_survival_km: identical lifetime/censoring derivation, BIGINT
    // casts on every counting sum (HUGEINT→float64 pandas trap),
    // identical zero-factor pin instead of ln(0)
    "q_survival_km" ->
      """WITH pe AS (SELECT user_id,
        |    min(epoch_us(CAST(ts AS TIMESTAMP_US)) // 86400000000) AS d0,
        |    max(epoch_us(CAST(ts AS TIMESTAMP_US)) // 86400000000) AS d1
        |  FROM events GROUP BY 1),
        |mx AS (SELECT max(d1) AS mx FROM pe),
        |u AS (SELECT d1 - d0 AS t,
        |    CASE WHEN d1 > mx - 7 THEN 0 ELSE 1 END AS death
        |  FROM pe, mx),
        |dist AS (SELECT t, CAST(sum(death) AS BIGINT) AS d,
        |    CAST(sum(1 - death) AS BIGINT) AS c FROM u GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM u),
        |w AS (SELECT t, d, c, n_total - coalesce(
        |    CAST(sum(d + c) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) AS n_risk
        |  FROM dist, tot),
        |f AS (SELECT t, n_risk, d, c,
        |    1.0 - CAST(d AS DOUBLE) / n_risk AS f FROM w)
        |SELECT t, n_risk, d, c,
        |  CASE WHEN sum(CASE WHEN f <= 0 THEN 1 ELSE 0 END)
        |      OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) > 0 THEN 0.0
        |    ELSE round(exp(sum(CASE WHEN f > 0 THEN ln(f) END)
        |      OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)), 4)
        |  END AS survival
        |FROM f ORDER BY t""".stripMargin,
    // emb_centroid_drift: identical parity split, DECIMAL dim sums
    // 6dp-quantized before the cosine tree, per-vector norms via the
    // same fold, widened-operand DECIMAL products
    "emb_centroid_drift" ->
      """WITH e AS (SELECT vec_id % 2 AS half, label, embedding
        |  FROM embeddings),
        |dx AS (SELECT label, half, i AS pos, embedding[i] AS v
        |       FROM e, (SELECT unnest(range(1, 65)) AS i)),
        |cd AS (SELECT label, half, pos,
        |    CAST(round(CAST(sum(CAST(v AS DECIMAL(20,10))) AS DOUBLE) /
        |      count(*), 6) AS DECIMAL(16,6)) AS c
        |  FROM dx GROUP BY 1, 2, 3),
        |c0 AS (SELECT label, pos, c AS c0 FROM cd WHERE half = 0),
        |c1 AS (SELECT label, pos, c AS c1 FROM cd WHERE half = 1),
        |mom AS (SELECT c0.label,
        |    sum(CAST(CAST(c0.c0 AS DECIMAL(22,6)) * c1.c1
        |      AS DECIMAL(38,12))) AS dot,
        |    sum(CAST(CAST(c0.c0 AS DECIMAL(22,6)) * c0.c0
        |      AS DECIMAL(38,12))) AS q0,
        |    sum(CAST(CAST(c1.c1 AS DECIMAL(22,6)) * c1.c1
        |      AS DECIMAL(38,12))) AS q1
        |  FROM c0 JOIN c1 ON c1.label = c0.label AND c1.pos = c0.pos
        |  GROUP BY 1),
        |nm AS (SELECT label, half,
        |    CAST(round(sqrt(list_sum(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6)
        |      AS DECIMAL(16,6)) AS vn
        |  FROM e),
        |na AS (SELECT label, CAST(count(*) AS BIGINT) AS n_a,
        |    round(CAST(sum(vn) AS DOUBLE) / count(*), 4) AS norm_a
        |  FROM nm WHERE half = 0 GROUP BY 1),
        |nb AS (SELECT label, CAST(count(*) AS BIGINT) AS n_b,
        |    round(CAST(sum(vn) AS DOUBLE) / count(*), 4) AS norm_b
        |  FROM nm WHERE half = 1 GROUP BY 1),
        |fin AS (SELECT mom.label, n_a, n_b,
        |    CASE WHEN CAST(q0 AS DOUBLE) * CAST(q1 AS DOUBLE) > 0
        |      THEN round(CAST(dot AS DOUBLE) /
        |        sqrt(CAST(q0 AS DOUBLE) * CAST(q1 AS DOUBLE)), 4)
        |    END AS centroid_cos,
        |    norm_a, norm_b, round(norm_b - norm_a, 4) AS norm_shift
        |  FROM mom JOIN na ON na.label = mom.label
        |           JOIN nb ON nb.label = mom.label)
        |SELECT label, n_a, n_b, centroid_cos, norm_a, norm_b,
        |  norm_shift, centroid_cos < 0.98 AS drift
        |FROM fin ORDER BY label""".stripMargin,
    // dedup_cdc_chunks: identical planted footer, the fingerprint
    // gram/md5 coin, list-comprehension cut derivation, inclusive
    // slice chunking, identical summary arithmetic
    "dedup_cdc_chunks" ->
      """WITH doc0 AS (SELECT doc_id, text ||
        |    ' end of document standard footer generated by the ' ||
        |    'corpus export pipeline all rights reserved' AS text
        |  FROM documents),
        |tok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |        FROM doc0),
        |g AS (SELECT doc_id, t, len(t) AS n,
        |  CASE WHEN len(t) >= 3 THEN
        |    list_transform(range(1, len(t) - 1),
        |      i -> concat_ws(' ', t[i], t[i+1], t[i+2]))
        |  ELSE [] END AS grams FROM tok),
        |c AS (SELECT doc_id, t, n,
        |  list_sort(list_distinct([0] ||
        |    [CAST(i + 2 AS BIGINT) for i in range(1, n - 1)
        |     if ('0x' || substr(md5(grams[i]), 1, 15))::UBIGINT % 16 = 0]
        |    || [CAST(n AS BIGINT)])) AS bnds
        |  FROM g),
        |ex AS (SELECT doc_id, t, bnds,
        |         unnest(range(1, len(bnds))) AS j FROM c),
        |ck AS (SELECT
        |    md5(array_to_string(t[bnds[j]+1 : bnds[j+1]], ' ')) AS ch,
        |    CAST(bnds[j+1] - bnds[j] AS BIGINT) AS ln FROM ex),
        |cnt AS (SELECT ch, CAST(count(*) AS BIGINT) AS cnt,
        |        min(ln) AS ln FROM ck GROUP BY 1)
        |SELECT CAST(sum(cnt) AS BIGINT) AS n_chunks,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_hashes,
        |  CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT)
        |    AS dup_mass,
        |  CAST((CAST(sum(ln * cnt) AS HUGEINT) * 20000 + sum(cnt))
        |    // (2 * sum(cnt)) AS BIGINT) / 10000.0 AS mean_len,
        |  CAST((CAST(count(*) AS HUGEINT) * 20000 + sum(cnt))
        |    // (2 * sum(cnt)) AS BIGINT) / 10000.0 AS dedup_ratio
        |FROM cnt""".stripMargin,
    // q_growth_accounting: identical month truncation and interval
    // shift, marker left join + anti join, churn clamped to corpus
    "q_growth_accounting" ->
      """WITH um AS (SELECT DISTINCT user_id,
        |    date_trunc('week', CAST(ts AS TIMESTAMP_US)) AS m
        |  FROM events),
        |fst AS (SELECT user_id, min(m) AS m0 FROM um GROUP BY 1),
        |mk AS (SELECT user_id, m + INTERVAL 1 WEEK AS m,
        |         1 AS was_prev FROM um),
        |cur AS (SELECT um.m,
        |    CASE WHEN um.m = fst.m0 THEN 'new'
        |         WHEN mk.was_prev IS NOT NULL THEN 'retained'
        |         ELSE 'resurrected' END AS status
        |  FROM um JOIN fst ON fst.user_id = um.user_id
        |  LEFT JOIN mk ON mk.user_id = um.user_id AND mk.m = um.m),
        |mxm AS (SELECT max(m) AS mxm FROM um),
        |chn AS (SELECT mk.m, 'churned' AS status
        |  FROM mk, mxm
        |  WHERE mk.m <= mxm
        |    AND NOT EXISTS (SELECT 1 FROM um
        |                    WHERE um.user_id = mk.user_id
        |                      AND um.m = mk.m)),
        |u AS (SELECT * FROM cur UNION ALL SELECT * FROM chn)
        |SELECT m AS period,
        |  CAST(sum(CASE WHEN status = 'new' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_new,
        |  CAST(sum(CASE WHEN status = 'retained' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_retained,
        |  CAST(sum(CASE WHEN status = 'resurrected' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_resurrected,
        |  CAST(sum(CASE WHEN status = 'churned' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_churned,
        |  CAST(sum(CASE WHEN status IN ('new', 'retained', 'resurrected')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS mau,
        |  CASE WHEN sum(CASE WHEN status = 'churned' THEN 1 ELSE 0 END) > 0
        |    THEN round(CAST(sum(CASE WHEN status IN ('new', 'resurrected')
        |        THEN 1 ELSE 0 END) AS DOUBLE) /
        |      sum(CASE WHEN status = 'churned' THEN 1 ELSE 0 END), 4)
        |  END AS quick_ratio
        |FROM u GROUP BY 1 ORDER BY period""".stripMargin,
    // q_psi_drift: identical midpoint split, reference quantile_cont
    // deciles 4dp-rounded before binning, identical smoothing and
    // 6dp DECIMAL terms, generated 0..9 bin axis on both sides
    "q_psi_drift" ->
      """WITH st AS (SELECT
        |    epoch_us(CAST(ts AS TIMESTAMP_US)) // 86400000000 AS ed,
        |    CAST(round(value, 4) AS DOUBLE) AS x
        |  FROM events),
        |md AS (SELECT (min(ed) + max(ed)) // 2 AS mid FROM st),
        |pr AS (SELECT x, CASE WHEN ed < mid THEN 0 ELSE 1 END AS period
        |       FROM st, md),
        |dec AS (SELECT quantile_cont(x,
        |    [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS ts
        |  FROM pr WHERE period = 0),
        |bn AS (SELECT period,
        |    (CASE WHEN x > round(ts[1], 4) THEN 1 ELSE 0 END +
        |     CASE WHEN x > round(ts[2], 4) THEN 1 ELSE 0 END +
        |     CASE WHEN x > round(ts[3], 4) THEN 1 ELSE 0 END +
        |     CASE WHEN x > round(ts[4], 4) THEN 1 ELSE 0 END +
        |     CASE WHEN x > round(ts[5], 4) THEN 1 ELSE 0 END +
        |     CASE WHEN x > round(ts[6], 4) THEN 1 ELSE 0 END +
        |     CASE WHEN x > round(ts[7], 4) THEN 1 ELSE 0 END +
        |     CASE WHEN x > round(ts[8], 4) THEN 1 ELSE 0 END +
        |     CASE WHEN x > round(ts[9], 4) THEN 1 ELSE 0 END) AS bin
        |  FROM pr, dec),
        |cnt AS (SELECT bin,
        |    CAST(sum(CASE WHEN period = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_ref,
        |    CAST(sum(CASE WHEN period = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_cur
        |  FROM bn GROUP BY 1),
        |ax AS (SELECT unnest(range(0, 10)) AS bin),
        |full0 AS (SELECT ax.bin, coalesce(cnt.n_ref, 0) AS n_ref,
        |    coalesce(cnt.n_cur, 0) AS n_cur
        |  FROM ax LEFT JOIN cnt ON cnt.bin = ax.bin),
        |tot AS (SELECT CAST(sum(n_ref) AS BIGINT) AS nr,
        |    CAST(sum(n_cur) AS BIGINT) AS nc FROM full0),
        |tm AS (SELECT CAST(bin AS BIGINT) AS bin, n_ref, n_cur,
        |    round((CAST(n_ref AS DOUBLE) + 0.5) /
        |      (CAST(nr AS DOUBLE) + 5.0), 4) AS p_ref,
        |    round((CAST(n_cur AS DOUBLE) + 0.5) /
        |      (CAST(nc AS DOUBLE) + 5.0), 4) AS p_cur,
        |    CAST(round(((CAST(n_ref AS DOUBLE) + 0.5) /
        |        (CAST(nr AS DOUBLE) + 5.0) -
        |        (CAST(n_cur AS DOUBLE) + 0.5) /
        |        (CAST(nc AS DOUBLE) + 5.0)) *
        |      ln(((CAST(n_ref AS DOUBLE) + 0.5) /
        |        (CAST(nr AS DOUBLE) + 5.0)) /
        |        ((CAST(n_cur AS DOUBLE) + 0.5) /
        |        (CAST(nc AS DOUBLE) + 5.0))), 6) AS DECIMAL(12,6))
        |      AS psi_term_dec
        |  FROM full0, tot)
        |SELECT bin, n_ref, n_cur, p_ref, p_cur,
        |  CAST(psi_term_dec AS DOUBLE) AS psi_term,
        |  round(CAST(sum(psi_term_dec) OVER () AS DOUBLE), 4) AS psi,
        |  round(CAST(sum(psi_term_dec) OVER () AS DOUBLE), 4) > 0.2 AS drift
        |FROM tm ORDER BY bin""".stripMargin,
    // ts_forecast_reconcile: the forecast_ar CTE chain over the
    // per-type series UNION the __total pseudo-series; direct vs
    // bottom-up per holdout day, sums as exact DECIMALs of 4dp preds
    "ts_forecast_reconcile" ->
      """WITH RECURSIVE daily0 AS (
        |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |         event_type, count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |daily AS (
        |  SELECT * FROM daily0
        |  UNION ALL
        |  SELECT day, '__total', CAST(sum(cnt) AS BIGINT) FROM daily0
        |  GROUP BY day),
        |mx AS (SELECT max(day) AS mx FROM daily),
        |l AS (SELECT daily.*,
        |        lag(cnt, 1) OVER (PARTITION BY event_type ORDER BY day) AS l1,
        |        lag(cnt, 2) OVER (PARTITION BY event_type ORDER BY day) AS l2
        |      FROM daily),
        |train AS (
        |  SELECT event_type, day, CAST(cnt AS DOUBLE) AS y,
        |         CAST(l1 AS DOUBLE) AS x1, CAST(l2 AS DOUBLE) AS x2
        |  FROM l, mx WHERE day <= mx - INTERVAL 7 DAY AND l2 IS NOT NULL),
        |sums AS (
        |  SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
        |    sum(y) AS sy, sum(x1) AS s1, sum(x2) AS s2,
        |    sum(x1 * x1) AS s11, sum(x1 * x2) AS s12, sum(x2 * x2) AS s22,
        |    sum(x1 * y) AS s1y, sum(x2 * y) AS s2y,
        |    arg_max(y, day) AS y0, arg_max(x1, day) AS ym1,
        |    max(day) AS tday
        |  FROM train GROUP BY 1),
        |cf AS (
        |  SELECT *,
        |    n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + s2*(s1*s12 - s11*s2)
        |      AS det
        |  FROM sums),
        |c2 AS (
        |  SELECT event_type, tday, y0, ym1,
        |    (sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y) + s2*(s1y*s12 - s11*s2y)) / det AS c0,
        |    (n*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2) + s2*(s1*s2y - s1y*s2)) / det AS a1,
        |    (n*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2) + sy*(s1*s12 - s11*s2)) / det AS a2
        |  FROM cf WHERE n >= 4 AND det <> 0),
        |f AS (
        |  SELECT event_type, tday, c0, a1, a2, 0 AS h, y0 AS p1, ym1 AS p2
        |  FROM c2
        |  UNION ALL
        |  SELECT event_type, tday, c0, a1, a2, h + 1,
        |         c0 + a1 * p1 + a2 * p2, p1
        |  FROM f WHERE h < 7),
        |pj AS (
        |  SELECT f.event_type, daily.day, daily.cnt AS actual,
        |    CAST(round(p1, 4) AS DECIMAL(14,4)) AS pred
        |  FROM f JOIN daily ON daily.event_type = f.event_type
        |                AND daily.day = tday + INTERVAL 1 DAY * h
        |  WHERE h >= 1)
        |SELECT day,
        |  max(CASE WHEN event_type = '__total' THEN actual END)
        |    AS actual_total,
        |  CAST(sum(CASE WHEN event_type <> '__total' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_series,
        |  round(CAST(sum(CASE WHEN event_type = '__total' THEN pred END)
        |    AS DOUBLE), 4) AS direct,
        |  round(CAST(sum(CASE WHEN event_type <> '__total' THEN pred END)
        |    AS DOUBLE), 4) AS bottom_up,
        |  round(CAST(sum(CASE WHEN event_type = '__total' THEN pred END) -
        |    sum(CASE WHEN event_type <> '__total' THEN pred END)
        |    AS DOUBLE), 4) AS gap
        |FROM pj GROUP BY 1 ORDER BY day""".stripMargin,
    // q_sequential_test: identical look bounds (integer window math),
    // md5 arms, FILTERed cumulative moments, q_ttest Welch tree,
    // boundary from the one pinned constant, first-crossing window
    "q_sequential_test" ->
      """WITH base AS (SELECT
        |    epoch_us(CAST(ts AS TIMESTAMP_US)) // 86400000000 AS ed,
        |    CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 2) < '80'
        |      THEN 'a' ELSE 'b' END AS arm,
        |    CAST(round(value, 4) AS DECIMAL(14,4)) AS v
        |  FROM events),
        |rng AS (SELECT min(ed) AS mn, max(ed) AS mx FROM base),
        |lk AS (SELECT unnest(range(1, 6)) AS k),
        |wl AS (SELECT b.arm, b.v, lk.k,
        |         rng.mn + ((rng.mx - rng.mn + 1) * lk.k) // 5 - 1 AS bound
        |       FROM base b, rng, lk
        |       WHERE b.ed <= rng.mn + ((rng.mx - rng.mn + 1) * lk.k)
        |         // 5 - 1),
        |m AS (SELECT k, max(bound) AS bound_day,
        |    CAST(count(*) FILTER (WHERE arm = 'a') AS BIGINT) AS n_a,
        |    sum(v) FILTER (WHERE arm = 'a') AS sx_a,
        |    sum(v * v) FILTER (WHERE arm = 'a') AS sxx_a,
        |    CAST(count(*) FILTER (WHERE arm = 'b') AS BIGINT) AS n_b,
        |    sum(v) FILTER (WHERE arm = 'b') AS sx_b,
        |    sum(v * v) FILTER (WHERE arm = 'b') AS sxx_b
        |  FROM wl GROUP BY 1),
        |d AS (SELECT k, bound_day, n_a, n_b,
        |    CAST(sx_a AS DOUBLE) / n_a AS ma,
        |    CAST(sx_b AS DOUBLE) / n_b AS mb,
        |    (CAST(sxx_a AS DOUBLE) - CAST(sx_a AS DOUBLE) *
        |      CAST(sx_a AS DOUBLE) / n_a) / (n_a - 1) / n_a AS sea,
        |    (CAST(sxx_b AS DOUBLE) - CAST(sx_b AS DOUBLE) *
        |      CAST(sx_b AS DOUBLE) / n_b) / (n_b - 1) / n_b AS seb
        |  FROM m),
        |e AS (SELECT CAST(k AS BIGINT) AS k, bound_day, n_a, n_b,
        |    round(ma, 4) AS mean_a, round(mb, 4) AS mean_b,
        |    round((ma - mb) / sqrt(sea + seb), 4) AS z,
        |    round(2.04 * sqrt(CAST(5 AS DOUBLE) / k), 4) AS z_crit
        |  FROM d),
        |f AS (SELECT *, abs(z) >= z_crit AS crossed FROM e)
        |SELECT k, bound_day, n_a, n_b, mean_a, mean_b, z, z_crit,
        |  crossed,
        |  crossed AND sum(CASE WHEN crossed THEN 1 ELSE 0 END)
        |    OVER (ORDER BY k ROWS UNBOUNDED PRECEDING) = 1 AS is_stop
        |FROM f ORDER BY k""".stripMargin,
    // q_corr_matrix: identical 4dp DECIMAL quantization, identical
    // pair set (UNION ALL = the explode), moments as exact DECIMALs,
    // the same double expression tree (casts before every arithmetic
    // step), zero-variance pinned 0.0
    "q_corr_matrix" ->
      """WITH q AS (SELECT
        |    CAST(round(l_quantity, 4) AS DECIMAL(14,4)) AS c1,
        |    CAST(round(l_extendedprice, 4) AS DECIMAL(14,4)) AS c2,
        |    CAST(round(l_discount, 4) AS DECIMAL(14,4)) AS c3,
        |    CAST(round(l_tax, 4) AS DECIMAL(14,4)) AS c4
        |  FROM lineitem),
        |p AS (
        |  SELECT 'l_quantity' AS cx, 'l_extendedprice' AS cy,
        |         c1 AS vx, c2 AS vy FROM q
        |  UNION ALL SELECT 'l_quantity', 'l_discount', c1, c3 FROM q
        |  UNION ALL SELECT 'l_quantity', 'l_tax', c1, c4 FROM q
        |  UNION ALL SELECT 'l_extendedprice', 'l_discount', c2, c3 FROM q
        |  UNION ALL SELECT 'l_extendedprice', 'l_tax', c2, c4 FROM q
        |  UNION ALL SELECT 'l_discount', 'l_tax', c3, c4 FROM q),
        |m AS (SELECT cx, cy, CAST(count(*) AS BIGINT) AS n,
        |    sum(vx) AS sx, sum(vy) AS sy,
        |    sum(CAST(CAST(vx AS DECIMAL(19,4)) * vy AS DECIMAL(30,8))) AS sxy,
        |    sum(CAST(CAST(vx AS DECIMAL(19,4)) * vx AS DECIMAL(30,8))) AS sxx,
        |    sum(CAST(CAST(vy AS DECIMAL(19,4)) * vy AS DECIMAL(30,8))) AS syy
        |  FROM p GROUP BY 1, 2),
        |e AS (SELECT cx, cy, n,
        |    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
        |    (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |    (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
        |      CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) AS den2
        |  FROM m)
        |SELECT cx, cy, n,
        |  CASE WHEN den2 > 0 THEN round(num / sqrt(den2), 4)
        |       ELSE 0.0 END AS corr
        |FROM e ORDER BY cx, cy""".stripMargin,
    // ml_linreg_multi: identical DECIMAL moments, identical Cramer
    // cofactor expansion (left-associative a−b+c, casts first), CASE
    // without ELSE = Spark's otherwise-less when (null on singular)
    "ml_linreg_multi" ->
      """WITH q AS (SELECT l_returnflag AS grp,
        |    CAST(round(l_extendedprice, 4) AS DECIMAL(14,4)) AS y,
        |    CAST(round(l_quantity, 4) AS DECIMAL(14,4)) AS x1,
        |    CAST(round(l_discount, 4) AS DECIMAL(14,4)) AS x2
        |  FROM lineitem),
        |m AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
        |    sum(x1) AS s1, sum(x2) AS s2, sum(y) AS sy,
        |    sum(CAST(CAST(x1 AS DECIMAL(19,4)) * x1 AS DECIMAL(30,8))) AS s11,
        |    sum(CAST(CAST(x2 AS DECIMAL(19,4)) * x2 AS DECIMAL(30,8))) AS s22,
        |    sum(CAST(CAST(x1 AS DECIMAL(19,4)) * x2 AS DECIMAL(30,8))) AS s12,
        |    sum(CAST(CAST(x1 AS DECIMAL(19,4)) * y AS DECIMAL(30,8))) AS s1y,
        |    sum(CAST(CAST(x2 AS DECIMAL(19,4)) * y AS DECIMAL(30,8))) AS s2y,
        |    sum(CAST(CAST(y AS DECIMAL(19,4)) * y AS DECIMAL(30,8))) AS syy
        |  FROM q GROUP BY 1),
        |dd AS (SELECT grp, n,
        |    CAST(n AS DOUBLE) AS dn, CAST(s1 AS DOUBLE) AS d1,
        |    CAST(s2 AS DOUBLE) AS d2, CAST(sy AS DOUBLE) AS dy,
        |    CAST(s11 AS DOUBLE) AS d11, CAST(s22 AS DOUBLE) AS d22,
        |    CAST(s12 AS DOUBLE) AS d12, CAST(s1y AS DOUBLE) AS d1y,
        |    CAST(s2y AS DOUBLE) AS d2y, CAST(syy AS DOUBLE) AS dyy
        |  FROM m),
        |k AS (SELECT *,
        |    dn * (d11 * d22 - d12 * d12) - d1 * (d1 * d22 - d12 * d2)
        |      + d2 * (d1 * d12 - d11 * d2) AS det
        |  FROM dd),
        |b AS (SELECT *,
        |    (dy * (d11 * d22 - d12 * d12) - d1 * (d1y * d22 - d12 * d2y)
        |      + d2 * (d1y * d12 - d11 * d2y)) / det AS b0,
        |    (dn * (d1y * d22 - d12 * d2y) - dy * (d1 * d22 - d12 * d2)
        |      + d2 * (d1 * d2y - d1y * d2)) / det AS b1,
        |    (dn * (d11 * d2y - d1y * d12) - d1 * (d1 * d2y - d1y * d2)
        |      + dy * (d1 * d12 - d11 * d2)) / det AS b2
        |  FROM k)
        |SELECT grp, n,
        |  CASE WHEN det <> 0 THEN round(b0, 4) END AS b0,
        |  CASE WHEN det <> 0 THEN round(b1, 4) END AS b1,
        |  CASE WHEN det <> 0 THEN round(b2, 4) END AS b2,
        |  CASE WHEN det <> 0 AND dyy - dy * dy / dn > 0
        |    THEN round(1.0 - (dyy - b0 * dy - b1 * d1y - b2 * d2y) /
        |      (dyy - dy * dy / dn), 4) END AS r2
        |FROM b ORDER BY grp""".stripMargin,
    // q_rfm: identical epoch-day recency, monetary summed in exact
    // BIGINT 1e-4 micro-units (4dp double only at the face), ranks
    // as row_number−1 over (metric, custkey), identical BIGINT
    // floor-division score formulas
    "q_rfm" ->
      """WITH per0 AS (SELECT o_custkey AS c,
        |    max(epoch_us(CAST(o_orderdate AS TIMESTAMP_US)) // 86400000000)
        |      AS last_day,
        |    CAST(count(*) AS BIGINT) AS freq,
        |    CAST(sum(CAST(round(o_totalprice * 10000) AS BIGINT))
        |      AS BIGINT) AS m_micro
        |  FROM orders GROUP BY 1),
        |mx AS (SELECT max(last_day) AS mx FROM per0),
        |per AS (SELECT c, mx - last_day AS r_days, freq, m_micro
        |        FROM per0, mx),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM per),
        |rr AS (SELECT c, row_number() OVER (ORDER BY r_days, c) - 1 AS kr
        |       FROM per),
        |fr AS (SELECT c, row_number() OVER (ORDER BY freq, c) - 1 AS kf
        |       FROM per),
        |mr AS (SELECT c, row_number() OVER (ORDER BY m_micro, c) - 1 AS km
        |       FROM per)
        |SELECT c AS custkey, r_days, freq,
        |  round(CAST(m_micro AS DOUBLE) / 10000.0, 4) AS monetary,
        |  CAST(5 - kr * 5 // n AS BIGINT) AS r,
        |  CAST(kf * 5 // n + 1 AS BIGINT) AS f,
        |  CAST(km * 5 // n + 1 AS BIGINT) AS m,
        |  CAST((5 - kr * 5 // n) * 100 + (kf * 5 // n + 1) * 10 +
        |       (km * 5 // n + 1) AS BIGINT) AS segment
        |FROM per JOIN rr USING (c) JOIN fr USING (c) JOIN mr USING (c), nn
        |ORDER BY custkey""".stripMargin,
    // q_elasticity: identical unit-price division, identical 6dp log
    // quantization into DECIMAL before the moments, same closed form
    "q_elasticity" ->
      """WITH st AS (SELECT l_partkey,
        |    CAST(round(ln(round(l_extendedprice / l_quantity, 4)), 6)
        |      AS DECIMAL(18,6)) AS x,
        |    CAST(round(ln(l_quantity), 6) AS DECIMAL(18,6)) AS y
        |  FROM lineitem WHERE l_quantity > 0 AND l_extendedprice > 0),
        |j AS (SELECT p.p_brand, st.x, st.y
        |      FROM st JOIN part p ON st.l_partkey = p.p_partkey),
        |m AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
        |    sum(x) AS sx, sum(y) AS sy,
        |    sum(CAST(CAST(x AS DECIMAL(24,6)) * y AS DECIMAL(30,12))) AS sxy,
        |    sum(CAST(CAST(x AS DECIMAL(24,6)) * x AS DECIMAL(30,12))) AS sxx,
        |    sum(CAST(CAST(y AS DECIMAL(24,6)) * y AS DECIMAL(30,12))) AS syy
        |  FROM j GROUP BY 1),
        |e AS (SELECT p_brand, n,
        |    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
        |    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS denx,
        |    CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
        |      CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS deny
        |  FROM m)
        |SELECT p_brand, n,
        |  CASE WHEN denx > 0 THEN round(num / denx, 4) END AS elasticity,
        |  CASE WHEN denx > 0 AND deny > 0
        |    THEN round(num * num / (denx * deny), 4) END AS r2
        |FROM e ORDER BY p_brand""".stripMargin,
    // forecast_holt_damped: the fit recursion replays node-for-node
    // (the forecast_hw contract); the phi-power sum is its own tiny
    // h-recursion by repeated multiplication — never pow()
    "forecast_holt_damped" ->
      """WITH RECURSIVE daily AS (
        |  SELECT event_type,
        |         date_trunc('day', CAST(ts AS TIMESTAMP_US)) AS day,
        |         count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |ser AS (
        |  SELECT event_type, list(cnt ORDER BY day) AS ys, count(*) AS n
        |  FROM daily GROUP BY 1),
        |init AS (
        |  SELECT event_type, ys, n,
        |    CAST(ys[1] AS DOUBLE) AS level,
        |    CAST(ys[2] AS DOUBLE) - CAST(ys[1] AS DOUBLE) AS trend,
        |    1 AS t
        |  FROM ser WHERE n >= 2),
        |step AS (
        |  SELECT event_type, ys, n, level, trend, t FROM init
        |  UNION ALL
        |  SELECT event_type, ys, n,
        |    0.3*CAST(ys[t+1] AS DOUBLE) + (1 - 0.3)*(level + 0.9*trend),
        |    0.1*((0.3*CAST(ys[t+1] AS DOUBLE)
        |          + (1 - 0.3)*(level + 0.9*trend)) - level)
        |      + (1 - 0.1)*(0.9*trend),
        |    t + 1
        |  FROM step WHERE t < n),
        |fin AS (SELECT * FROM step WHERE t = n),
        |hstep AS (
        |  SELECT 1 AS h, CAST(0.9 AS DOUBLE) AS phipow,
        |         CAST(0.9 AS DOUBLE) AS phisum
        |  UNION ALL
        |  SELECT h + 1, phipow * 0.9, phisum + phipow * 0.9
        |  FROM hstep WHERE h < 7)
        |SELECT event_type, h,
        |  round(level + phisum * trend, 4) AS pred
        |FROM fin, hstep
        |ORDER BY event_type, h""".stripMargin,
    // graph_link_predict: the shared edge CTEs, the same ≤64-degree
    // center cut, NOT EXISTS = the anti join, full-degree jaccard,
    // identical (jaccard, cn, a, b) top-N order
    "graph_link_predict" ->
      """WITH m AS (SELECT DISTINCT l_orderkey AS basket,
        |             l_partkey AS item FROM lineitem),
        |sz AS (SELECT basket, count(*) AS bsz FROM m GROUP BY 1),
        |mm AS (SELECT m.basket, m.item FROM m JOIN sz USING (basket)
        |       WHERE sz.bsz <= 16),
        |e AS (SELECT DISTINCT x.item AS a, y.item AS b
        |      FROM mm x JOIN mm y USING (basket) WHERE x.item < y.item),
        |deg AS (SELECT node, count(*) AS deg FROM (
        |          SELECT a AS node FROM e
        |          UNION ALL SELECT b AS node FROM e) GROUP BY 1),
        |adj AS (SELECT n, v FROM (
        |          SELECT a AS n, b AS v FROM e
        |          UNION ALL SELECT b AS n, a AS v FROM e) z
        |        WHERE EXISTS (SELECT 1 FROM deg
        |                      WHERE deg.node = z.n AND deg.deg <= 64)),
        |w AS (SELECT x.v AS a, y.v AS b, CAST(count(*) AS BIGINT) AS cn
        |      FROM adj x JOIN adj y USING (n) WHERE x.v < y.v
        |      GROUP BY 1, 2),
        |cand AS (SELECT * FROM w
        |         WHERE NOT EXISTS (SELECT 1 FROM e
        |                           WHERE e.a = w.a AND e.b = w.b))
        |SELECT cand.a, cand.b, cn, da.deg AS da, db.deg AS db,
        |  round(CAST(cn AS DOUBLE) /
        |        CAST(da.deg + db.deg - cn AS DOUBLE), 4) AS jaccard
        |FROM cand JOIN deg da ON cand.a = da.node
        |          JOIN deg db ON cand.b = db.node
        |ORDER BY jaccard DESC, cn DESC, cand.a, cand.b
        |LIMIT 50""".stripMargin,
    // ts_intermittency: the croston spine (types × gap-filled days,
    // value threshold), integer moments, pinned SB cutoffs
    "ts_intermittency" ->
      """WITH ev AS (SELECT date_trunc('day', CAST(ts AS TIMESTAMP_US))
        |      AS day, event_type, value FROM events),
        |span AS (SELECT min(day) AS mn, max(day) AS mx FROM ev),
        |types AS (SELECT DISTINCT event_type FROM ev),
        |sparse AS (SELECT event_type, day, count(*) AS cnt
        |  FROM ev WHERE value > 300 GROUP BY 1, 2),
        |cal AS (SELECT t.event_type, g.day
        |  FROM types t, span,
        |    LATERAL (SELECT unnest(generate_series(mn, mx,
        |      INTERVAL 1 DAY)) AS day) g),
        |filled AS (SELECT cal.event_type, cal.day,
        |    coalesce(sparse.cnt, 0) AS cnt
        |  FROM cal LEFT JOIN sparse ON sparse.event_type = cal.event_type
        |                           AND sparse.day = cal.day),
        |m AS (SELECT event_type,
        |    CAST(count(*) AS BIGINT) AS n_periods,
        |    CAST(sum(CASE WHEN cnt > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_demands,
        |    CAST(sum(cnt) AS BIGINT) AS sd_sum,
        |    CAST(sum(cnt * cnt) AS BIGINT) AS sd_sq
        |  FROM filled GROUP BY 1),
        |e AS (SELECT event_type, n_periods, n_demands,
        |    round(CAST(n_periods AS DOUBLE) / n_demands, 4) AS adi,
        |    round(((CAST(sd_sq AS DOUBLE) - CAST(sd_sum AS DOUBLE) *
        |      CAST(sd_sum AS DOUBLE) / n_demands) / (n_demands - 1)) /
        |      ((CAST(sd_sum AS DOUBLE) / n_demands) *
        |       (CAST(sd_sum AS DOUBLE) / n_demands)), 4) AS cv2r
        |  FROM m WHERE n_demands > 0),
        |q AS (SELECT event_type, n_periods, n_demands, adi,
        |    CASE WHEN n_demands >= 2 THEN cv2r END AS cv2,
        |    CASE WHEN n_demands < 2 THEN 'insufficient'
        |         WHEN adi < 1.32 AND cv2r < 0.49 THEN 'smooth'
        |         WHEN adi >= 1.32 AND cv2r < 0.49 THEN 'intermittent'
        |         WHEN adi < 1.32 AND cv2r >= 0.49 THEN 'erratic'
        |         ELSE 'lumpy' END AS quadrant
        |  FROM e)
        |SELECT event_type, n_periods, n_demands, adi, cv2, quadrant,
        |  CASE WHEN quadrant IN ('intermittent', 'lumpy') THEN 'croston'
        |       WHEN quadrant = 'smooth' THEN 'snaive'
        |       WHEN quadrant = 'erratic' THEN 'ewma'
        |       ELSE 'naive' END AS recommended
        |FROM q ORDER BY event_type""".stripMargin,
    // ts_backtest_rolling: identical epoch-day series, origin grid,
    // shifted self-join, gap days predict 0, DECIMAL MAE terms
    "ts_backtest_rolling" ->
      """WITH daily AS (SELECT event_type,
        |    epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP_US)))
        |      // 86400000000 AS ed,
        |    count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |mx AS (SELECT max(ed) AS mx FROM daily),
        |org AS (SELECT k, mx - k * 7 + 1 AS origin FROM mx,
        |        (SELECT unnest(range(1, 4)) AS k)),
        |te AS (SELECT d.event_type, o.k, o.origin, d.ed, d.cnt
        |       FROM daily d, org o
        |       WHERE d.ed >= o.origin AND d.ed < o.origin + 7),
        |pr AS (SELECT event_type, ed + 7 AS ed, cnt AS pred FROM daily),
        |j AS (SELECT te.event_type, te.k, te.origin, te.cnt,
        |        coalesce(pr.pred, 0) AS pred
        |      FROM te LEFT JOIN pr ON pr.event_type = te.event_type
        |                          AND pr.ed = te.ed)
        |SELECT event_type, CAST(k AS BIGINT) AS origin_k,
        |  CAST(min(origin) AS BIGINT) AS origin_day,
        |  CAST(count(*) AS BIGINT) AS n_days,
        |  round(CAST(sum(CAST(abs(cnt - pred) AS DECIMAL(20,4)))
        |    AS DOUBLE) / count(*), 4) AS mae
        |FROM j GROUP BY 1, 2 ORDER BY event_type, origin_k""".stripMargin,
    // ml_feature_hashing: identical md5 bucket + sign-bit coins over
    // the same tokenization; zero-sum buckets drop on both sides
    "ml_feature_hashing" ->
      """WITH doc AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS ws
        |  FROM documents WHERE doc_id % 10 = 0),
        |t AS (SELECT doc_id, unnest(ws) AS term FROM doc),
        |h AS (SELECT doc_id,
        |    CAST(('0x' || substr(md5(term), 1, 8))::UBIGINT % 64
        |      AS BIGINT) AS bucket,
        |    CASE WHEN ('0x' || substr(md5(term), 9, 1))::UBIGINT % 2 = 0
        |      THEN 1 ELSE -1 END AS sgn
        |  FROM t)
        |SELECT doc_id, bucket, CAST(sum(sgn) AS BIGINT) AS value
        |FROM h GROUP BY 1, 2 HAVING sum(sgn) <> 0
        |ORDER BY doc_id, bucket""".stripMargin,
    // graph_bfs: the shared edge CTEs + four unrolled frontier
    // expansions (NOT EXISTS = the anti join); early-emptied
    // frontiers leave later rounds empty on both sides
    "graph_bfs" ->
      """WITH m AS (SELECT DISTINCT l_orderkey AS basket,
        |             l_partkey AS item FROM lineitem),
        |sz AS (SELECT basket, count(*) AS bsz FROM m GROUP BY 1),
        |mm AS (SELECT m.basket, m.item FROM m JOIN sz USING (basket)
        |       WHERE sz.bsz <= 16),
        |e AS MATERIALIZED (SELECT DISTINCT x.item AS a, y.item AS b
        |      FROM mm x JOIN mm y USING (basket) WHERE x.item < y.item),
        |adj AS MATERIALIZED (SELECT a AS n, b AS v FROM e
        |        UNION ALL SELECT b AS n, a AS v FROM e),
        |src AS (SELECT least(min(a), min(b)) AS node FROM e),
        |v0 AS MATERIALIZED (SELECT node, CAST(0 AS BIGINT) AS dist FROM src),
        |f1 AS MATERIALIZED (SELECT DISTINCT adj.v AS node FROM adj
        |       JOIN v0 ON adj.n = v0.node
        |       WHERE NOT EXISTS (SELECT 1 FROM v0 WHERE v0.node = adj.v)),
        |v1 AS MATERIALIZED (SELECT * FROM v0
        |       UNION ALL SELECT node, CAST(1 AS BIGINT) FROM f1),
        |f2 AS MATERIALIZED (SELECT DISTINCT adj.v AS node FROM adj
        |       JOIN f1 ON adj.n = f1.node
        |       WHERE NOT EXISTS (SELECT 1 FROM v1 WHERE v1.node = adj.v)),
        |v2 AS MATERIALIZED (SELECT * FROM v1
        |       UNION ALL SELECT node, CAST(2 AS BIGINT) FROM f2),
        |f3 AS MATERIALIZED (SELECT DISTINCT adj.v AS node FROM adj
        |       JOIN f2 ON adj.n = f2.node
        |       WHERE NOT EXISTS (SELECT 1 FROM v2 WHERE v2.node = adj.v)),
        |v3 AS MATERIALIZED (SELECT * FROM v2
        |       UNION ALL SELECT node, CAST(3 AS BIGINT) FROM f3),
        |f4 AS MATERIALIZED (SELECT DISTINCT adj.v AS node FROM adj
        |       JOIN f3 ON adj.n = f3.node
        |       WHERE NOT EXISTS (SELECT 1 FROM v3 WHERE v3.node = adj.v)),
        |v4 AS MATERIALIZED (SELECT * FROM v3
        |       UNION ALL SELECT node, CAST(4 AS BIGINT) FROM f4)
        |SELECT dist, CAST(count(*) AS BIGINT) AS n_nodes,
        |  min(node) AS min_node, max(node) AS max_node
        |FROM v4 GROUP BY 1 ORDER BY dist""".stripMargin,
    // ml_target_encoding: identical md5 fold coin (8 hex chars →
    // BIGINT % folds), identical leave-fold-out shrinkage formula,
    // prior 4dp-rounded before use on both sides
    "ml_target_encoding" ->
      """WITH st AS (SELECT o_orderpriority AS category,
        |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS t,
        |    CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
        |      ::UBIGINT % 5 AS BIGINT) AS fold
        |  FROM orders),
        |cf AS (SELECT category, fold, CAST(count(*) AS BIGINT) AS n_cf,
        |    CAST(sum(t) AS BIGINT) AS s_cf FROM st GROUP BY 1, 2),
        |c AS (SELECT category, CAST(sum(n_cf) AS BIGINT) AS n_c,
        |    CAST(sum(s_cf) AS BIGINT) AS s_c FROM cf GROUP BY 1),
        |p AS (SELECT round(CAST(sum(s_cf) AS DOUBLE) /
        |    CAST(sum(n_cf) AS DOUBLE), 4) AS prior FROM cf)
        |SELECT category, fold, n_cf AS n_rows, prior,
        |  round((CAST(s_c - s_cf AS DOUBLE) + 20.0 * prior) /
        |        (CAST(n_c - n_cf AS DOUBLE) + 20.0), 4) AS encoding
        |FROM cf JOIN c USING (category), p
        |ORDER BY category, fold""".stripMargin,
    // ml_cv_accuracy: the full complement-aggregate CV replayed —
    // fold vocabularies, per-fold class totals/priors (absent classes
    // drop), the fold-keyed grid, per-doc argmax, per-fold accuracy
    "ml_cv_accuracy" ->
      """WITH doc AS (SELECT doc_id, lang, doc_id % 5 AS fold,
        |    string_split_regex(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |ctkf AS (SELECT lang, term, fold, count(*) AS c
        |  FROM (SELECT lang, fold, unnest(ws) AS term FROM doc)
        |  GROUP BY 1, 2, 3),
        |ctk AS (SELECT lang, term, CAST(sum(c) AS BIGINT) AS ctk
        |        FROM ctkf GROUP BY 1, 2),
        |tt AS (SELECT term, CAST(sum(c) AS BIGINT) AS tt
        |       FROM ctkf GROUP BY 1),
        |ttf AS (SELECT term, fold, CAST(sum(c) AS BIGINT) AS ttf
        |        FROM ctkf GROUP BY 1, 2),
        |fids AS (SELECT unnest(range(0, 5)) AS fold),
        |vf AS (SELECT tt.term, fids.fold
        |       FROM tt CROSS JOIN fids
        |       LEFT JOIN ttf ON ttf.term = tt.term AND ttf.fold = fids.fold
        |       WHERE tt.tt - coalesce(ttf.ttf, 0) > 0),
        |vsz AS (SELECT fold, CAST(count(*) AS BIGINT) AS v
        |        FROM vf GROUP BY 1),
        |ctf AS (SELECT lang, fold, CAST(sum(c) AS BIGINT) AS ctf
        |        FROM ctkf GROUP BY 1, 2),
        |cf AS (SELECT ct.lang, fids.fold,
        |         ct.ct - coalesce(ctf.ctf, 0) AS ctx
        |       FROM (SELECT lang, CAST(sum(c) AS BIGINT) AS ct
        |             FROM ctkf GROUP BY 1) ct
        |       CROSS JOIN fids
        |       LEFT JOIN ctf ON ctf.lang = ct.lang AND ctf.fold = fids.fold
        |       WHERE ct.ct - coalesce(ctf.ctf, 0) > 0),
        |grid AS (SELECT vf.term, cf.lang, vf.fold,
        |    CAST(round(ln(CAST(coalesce(ctk.ctk, 0) - coalesce(c2.c, 0) + 1
        |        AS DOUBLE) / (cf.ctx + vsz.v)), 6) AS DECIMAL(12,6)) AS lp
        |  FROM vf JOIN cf ON cf.fold = vf.fold
        |  LEFT JOIN ctk ON ctk.term = vf.term AND ctk.lang = cf.lang
        |  LEFT JOIN ctkf c2 ON c2.lang = cf.lang AND c2.term = vf.term
        |                    AND c2.fold = vf.fold
        |  JOIN vsz ON vsz.fold = vf.fold),
        |ndf AS (SELECT lang, fold, count(*) AS ndf FROM doc GROUP BY 1, 2),
        |ndft AS (SELECT fold, count(*) AS ndft FROM doc GROUP BY 1),
        |ndt AS (SELECT count(*) AS ndt FROM doc),
        |pri AS (SELECT nd.lang, fids.fold,
        |    round(ln(CAST(nd.nd - coalesce(ndf.ndf, 0) AS DOUBLE) /
        |      (ndt.ndt - ndft.ndft)), 6) AS prior_ln
        |  FROM (SELECT lang, count(*) AS nd FROM doc GROUP BY 1) nd
        |  CROSS JOIN fids
        |  LEFT JOIN ndf ON ndf.lang = nd.lang AND ndf.fold = fids.fold
        |  JOIN ndft ON ndft.fold = fids.fold, ndt
        |  WHERE nd.nd - coalesce(ndf.ndf, 0) > 0),
        |tfq AS (SELECT doc_id, fold, lang AS true_lang, term,
        |         count(*) AS tf
        |  FROM (SELECT doc_id, fold, lang, unnest(ws) AS term FROM doc)
        |  GROUP BY 1, 2, 3, 4),
        |sc AS (SELECT t.doc_id, t.fold, t.true_lang, grid.lang,
        |         sum(t.tf * grid.lp) AS s
        |       FROM tfq t JOIN grid ON grid.term = t.term
        |                           AND grid.fold = t.fold
        |       GROUP BY 1, 2, 3, 4),
        |fin AS (SELECT sc.doc_id, sc.fold, sc.true_lang, sc.lang,
        |          CAST(floor((CAST(s AS DOUBLE) + prior_ln) * 10000.0) AS BIGINT) / 10000.0 AS score
        |        FROM sc JOIN pri ON pri.lang = sc.lang
        |                        AND pri.fold = sc.fold),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |         ORDER BY score DESC, lang) AS rk FROM fin)
        |SELECT fold, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN lang = true_lang THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_correct,
        |  CAST((CAST(sum(CASE WHEN lang = true_lang THEN 1 ELSE 0 END)
        |      AS HUGEINT) * 20000 + count(*)) // (2 * count(*))
        |    AS BIGINT) / 10000.0 AS accuracy
        |FROM rk WHERE rk = 1 GROUP BY 1 ORDER BY fold""".stripMargin,
    // ml_decision_stump: quantile_cont deciles 4dp-rounded before the
    // split comparisons (the interpolated value is engine-shared only
    // to ~1 ulp), identical Gini tree, rank on unrounded gini
    "ml_decision_stump" ->
      """WITH st AS (SELECT CAST(round(o_totalprice, 4) AS DOUBLE) AS x,
        |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos
        |  FROM orders),
        |dec AS (SELECT quantile_cont(x,
        |    [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS ts FROM st),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(pos) AS BIGINT) AS pos FROM st),
        |cand AS (SELECT CAST(i AS INT) AS idx, round(ts[i], 4) AS t0
        |  FROM dec, (SELECT unnest(range(1, 10)) AS i)),
        |agg AS (SELECT idx, t0,
        |    CAST(sum(CASE WHEN x <= t0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_left,
        |    CAST(sum(CASE WHEN x <= t0 THEN pos ELSE 0 END) AS BIGINT)
        |      AS pos_left
        |  FROM st, cand GROUP BY 1, 2),
        |gg AS (SELECT idx, t0, n_left, pos_left,
        |    n - n_left AS n_right, pos - pos_left AS pos_right,
        |    (CASE WHEN n_left > 0
        |      THEN (CAST(n_left AS DOUBLE) / CAST(n AS DOUBLE)) *
        |        (1.0 - (CAST(pos_left AS DOUBLE) / CAST(n_left AS DOUBLE)) *
        |               (CAST(pos_left AS DOUBLE) / CAST(n_left AS DOUBLE)) -
        |               (CAST(n_left - pos_left AS DOUBLE) /
        |                CAST(n_left AS DOUBLE)) *
        |               (CAST(n_left - pos_left AS DOUBLE) /
        |                CAST(n_left AS DOUBLE)))
        |      ELSE 0.0 END) +
        |    (CASE WHEN n - n_left > 0
        |      THEN (CAST(n - n_left AS DOUBLE) / CAST(n AS DOUBLE)) *
        |        (1.0 - (CAST(pos - pos_left AS DOUBLE) /
        |                CAST(n - n_left AS DOUBLE)) *
        |               (CAST(pos - pos_left AS DOUBLE) /
        |                CAST(n - n_left AS DOUBLE)) -
        |               (CAST((n - n_left) - (pos - pos_left) AS DOUBLE) /
        |                CAST(n - n_left AS DOUBLE)) *
        |               (CAST((n - n_left) - (pos - pos_left) AS DOUBLE) /
        |                CAST(n - n_left AS DOUBLE)))
        |      ELSE 0.0 END) AS g
        |  FROM agg, tot)
        |SELECT idx, t0 AS threshold, n_left, pos_left, n_right, pos_right,
        |  round(g, 4) AS gini,
        |  row_number() OVER (ORDER BY g, t0, idx) = 1 AS is_best
        |FROM gg ORDER BY idx""".stripMargin,
    // q_attribution: identical tagged union, identical (us, tag, id)
    // window order with IGNORE NULLS carry-forward, integer lookback
    "q_attribution" ->
      """WITH tagged AS (SELECT user_id, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP_US)) AS tus, event_type,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS tag
        |  FROM events WHERE event_type IN ('view', 'click', 'purchase')),
        |att AS (SELECT *,
        |    last_value(CASE WHEN tag = 0 THEN tus END IGNORE NULLS)
        |      OVER w AS touch_ts,
        |    last_value(CASE WHEN tag = 0 THEN event_type END IGNORE NULLS)
        |      OVER w AS touch_type
        |  FROM tagged
        |  WINDOW w AS (PARTITION BY user_id ORDER BY tus, tag, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |conv AS (SELECT CASE WHEN touch_ts IS NOT NULL
        |      AND tus - touch_ts <= 604800000000 THEN touch_type
        |      ELSE 'none' END AS touch_type
        |  FROM att WHERE tag = 1),
        |c AS (SELECT touch_type, count(*) AS n_purchases FROM conv
        |      GROUP BY 1),
        |t AS (SELECT CAST(sum(n_purchases) AS BIGINT) AS tot FROM c)
        |SELECT touch_type, n_purchases,
        |  CAST((CAST(n_purchases AS HUGEINT) * 20000 + tot) // (2 * tot)
        |    AS BIGINT) / 10000.0 AS share
        |FROM c, t ORDER BY touch_type""".stripMargin,
    // identical RE2-safe split pattern shared verbatim with the
    // operator; word scores round to 6dp, phrase sums ride DECIMAL
    "text_rake" ->
      """WITH ph0 AS (SELECT unnest(regexp_split_to_array(lower(text),
        |    '[.,;:!?]+|\b(?:the|a|and|of|to|in|is)\b')) AS p0
        |  FROM documents),
        |ph AS (SELECT trim(p0) AS phrase FROM ph0
        |       WHERE len(trim(p0)) > 0),
        |wd AS (SELECT len(string_split_regex(phrase, '\s+')) AS plen,
        |    unnest(string_split_regex(phrase, '\s+')) AS w FROM ph),
        |ws AS (SELECT w,
        |    round(CAST(sum(plen) AS DOUBLE) / count(*), 6) AS wscore
        |  FROM wd GROUP BY 1),
        |dp AS (SELECT phrase, count(*) AS n_occ FROM ph GROUP BY 1),
        |pw AS (SELECT phrase, n_occ,
        |    unnest(string_split_regex(phrase, '\s+')) AS w FROM dp),
        |sc AS (SELECT phrase, n_occ,
        |    sum(CAST(wscore AS DECIMAL(20,10))) AS s
        |  FROM pw JOIN ws USING (w) GROUP BY 1, 2)
        |SELECT phrase, n_occ, round(CAST(s AS DOUBLE), 4) AS score
        |FROM sc ORDER BY score DESC, phrase LIMIT 20""".stripMargin,
    // pure counts through the same two-step key cascade
    "etl_erasure" ->
      """WITH del AS (SELECT c_custkey AS id FROM customer
        |             WHERE c_custkey % 97 = 0),
        |delo AS (SELECT o_orderkey FROM orders
        |         WHERE o_custkey IN (SELECT id FROM del)),
        |u AS (
        |  SELECT 'customer' AS table_name, count(*) AS rows_total,
        |    count(*) FILTER (WHERE c_custkey % 97 = 0) AS rows_erased
        |  FROM customer
        |  UNION ALL
        |  SELECT 'orders', count(*),
        |    count(*) FILTER (WHERE o_custkey IN (SELECT id FROM del))
        |  FROM orders
        |  UNION ALL
        |  SELECT 'lineitem', count(*),
        |    count(*) FILTER (WHERE l_orderkey IN
        |      (SELECT o_orderkey FROM delo))
        |  FROM lineitem)
        |SELECT table_name, rows_total, rows_erased,
        |  rows_total - rows_erased AS rows_kept,
        |  CAST((CAST(rows_erased AS HUGEINT) * 20000 + rows_total)
        |    // (2 * rows_total) AS BIGINT) / 10000.0 AS erased_share
        |FROM u ORDER BY table_name""".stripMargin,
    // same planted drift, same null-safe IS DISTINCT FROM compares,
    // same single conditional-sum aggregation stacked long
    "etl_diff_snapshots" ->
      """WITH o AS (SELECT o_orderkey, o_totalprice, o_orderstatus
        |           FROM orders),
        |old AS (SELECT o_orderkey AS k, o_totalprice AS tp,
        |          o_orderstatus AS st
        |        FROM o WHERE o_orderkey % 41 <> 0
        |        UNION ALL
        |        SELECT -o_orderkey, o_totalprice, o_orderstatus
        |        FROM o WHERE o_orderkey % 43 = 0),
        |nw AS (SELECT o_orderkey AS k,
        |         CASE WHEN o_orderkey % 37 = 0 THEN o_totalprice + 1.0
        |              ELSE o_totalprice END AS tp,
        |         CASE WHEN o_orderkey % 29 = 0 THEN 'X'
        |              ELSE o_orderstatus END AS st
        |       FROM o),
        |j AS (SELECT old.k AS ok, nw.k AS nk, old.tp AS otp,
        |        nw.tp AS ntp, old.st AS ost, nw.st AS nst
        |      FROM old FULL OUTER JOIN nw ON old.k = nw.k),
        |a AS (SELECT
        |  CAST(sum(CASE WHEN ok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS added,
        |  CAST(sum(CASE WHEN nk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS removed,
        |  CAST(sum(CASE WHEN ok IS NOT NULL AND nk IS NOT NULL AND
        |    (otp IS DISTINCT FROM ntp OR ost IS DISTINCT FROM nst)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS changed,
        |  CAST(sum(CASE WHEN ok IS NOT NULL AND nk IS NOT NULL AND
        |    otp IS NOT DISTINCT FROM ntp AND ost IS NOT DISTINCT FROM nst
        |    THEN 1 ELSE 0 END) AS BIGINT) AS unchanged,
        |  CAST(sum(CASE WHEN ok IS NOT NULL AND nk IS NOT NULL AND
        |    otp IS DISTINCT FROM ntp THEN 1 ELSE 0 END) AS BIGINT)
        |    AS ch_tp,
        |  CAST(sum(CASE WHEN ok IS NOT NULL AND nk IS NOT NULL AND
        |    ost IS DISTINCT FROM nst THEN 1 ELSE 0 END) AS BIGINT)
        |    AS ch_st
        |  FROM j)
        |SELECT * FROM (
        | SELECT 'added' AS label, added AS n_rows FROM a
        | UNION ALL SELECT 'removed', removed FROM a
        | UNION ALL SELECT 'changed', changed FROM a
        | UNION ALL SELECT 'unchanged', unchanged FROM a
        | UNION ALL SELECT 'changed:o_totalprice', ch_tp FROM a
        | UNION ALL SELECT 'changed:o_orderstatus', ch_st FROM a)
        |ORDER BY label""".stripMargin,
    // same stage chain as q_funnel; delays are exact epoch-µs
    // differences floored to seconds (never datediff boundary counts)
    "q_funnel_latency" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
        |            WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t
        |       FROM events e JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'click' AND e.ts >= s1.t GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t
        |       FROM events e JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts >= s2.t GROUP BY 1),
        |d1 AS (SELECT (epoch_us(CAST(s2.t AS TIMESTAMP_US)) -
        |          epoch_us(CAST(s1.t AS TIMESTAMP_US))) // 1000000 AS dt
        |       FROM s1 JOIN s2 ON s1.user_id = s2.user_id),
        |d2 AS (SELECT (epoch_us(CAST(s3.t AS TIMESTAMP_US)) -
        |          epoch_us(CAST(s2.t AS TIMESTAMP_US))) // 1000000 AS dt
        |       FROM s2 JOIN s3 ON s2.user_id = s3.user_id),
        |d3 AS (SELECT (epoch_us(CAST(s3.t AS TIMESTAMP_US)) -
        |          epoch_us(CAST(s1.t AS TIMESTAMP_US))) // 1000000 AS dt
        |       FROM s1 JOIN s3 ON s1.user_id = s3.user_id)
        |SELECT * FROM (
        | SELECT 'view->click' AS leg, count(*) AS n_users,
        |   round(quantile_cont(dt, 0.5), 4) AS p50_s,
        |   round(quantile_cont(dt, 0.9), 4) AS p90_s FROM d1
        | UNION ALL SELECT 'click->purchase', count(*),
        |   round(quantile_cont(dt, 0.5), 4),
        |   round(quantile_cont(dt, 0.9), 4) FROM d2
        | UNION ALL SELECT 'view->purchase', count(*),
        |   round(quantile_cont(dt, 0.5), 4),
        |   round(quantile_cont(dt, 0.9), 4) FROM d3)
        |ORDER BY leg""".stripMargin,
    // the planted payload has a closed form — the oracle rebuilds the
    // flattened rows straight from event_id, never parsing JSON, so
    // the compare proves Spark's parse+explode extracted exactly what
    // was planted
    "etl_json_flatten" ->
      """SELECT event_id, event_id % 7 AS a, u.item_idx,
        |  's' || CAST(CASE WHEN u.item_idx = 0 THEN event_id % 13
        |              ELSE event_id % 11 END AS VARCHAR) AS sku,
        |  CASE WHEN u.item_idx = 0 THEN event_id % 5
        |       ELSE event_id % 3 END AS qty
        |FROM events, (SELECT unnest([0, 1]) AS item_idx) u
        |ORDER BY event_id, u.item_idx""".stripMargin,
    // same ladder, same floor()+truncating-division buckets, same
    // adaptive level choice
    "etl_generalize_k" ->
      """WITH base AS (SELECT c_mktsegment AS cat,
        |    CAST(floor(c_acctbal) AS BIGINT) AS f FROM customer),
        |lev AS (SELECT cat, u.level,
        |    CASE u.level WHEN 0 THEN f WHEN 1 THEN (f // 100) * 100
        |         WHEN 2 THEN (f // 1000) * 1000 ELSE 0 END AS bucket
        |  FROM base, (SELECT unnest([0, 1, 2, 3]) AS level) u),
        |classes AS (SELECT level, cat, bucket, count(*) AS class_size
        |            FROM lev GROUP BY 1, 2, 3),
        |ls AS (SELECT level,
        |    CAST(sum(CASE WHEN class_size < 10 THEN class_size
        |             ELSE 0 END) AS BIGINT) AS sup,
        |    CAST(sum(class_size) AS BIGINT) AS tot
        |  FROM classes GROUP BY 1),
        |ch AS (SELECT min(level) AS chosen FROM ls
        |       WHERE CAST(sup AS DOUBLE) / tot <= 0.2),
        |cs AS (SELECT CAST((CAST(l.sup AS HUGEINT) * 20000 + l.tot)
        |         // (2 * l.tot) AS BIGINT) / 10000.0
        |         AS suppressed_share, ch.chosen
        |       FROM ls l, ch WHERE l.level = ch.chosen)
        |SELECT c.level, c.cat, c.bucket, c.class_size, cs.suppressed_share
        |FROM classes c, cs
        |WHERE c.level = cs.chosen AND c.class_size >= 10
        |ORDER BY c.cat, c.bucket""".stripMargin,
    // rank-weighted Gini over per-user counts; ranks/conditional sums
    // from exact integers, doubles only in the final divisions
    "q_gini" ->
      """WITH c AS (SELECT user_id, count(*) AS cnt FROM events
        |           GROUP BY 1),
        |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt, user_id)
        |        AS r FROM c),
        |n AS (SELECT count(*) AS n_users FROM c),
        |a AS (SELECT max(n_users) AS n_users,
        |        CAST(sum(cnt) AS BIGINT) AS total,
        |        sum(CAST(r * cnt AS HUGEINT)) AS rc,
        |        CAST(sum(CASE WHEN r > n_users -
        |          greatest(n_users // 100, 1) THEN cnt ELSE 0 END)
        |          AS BIGINT) AS top1,
        |        CAST(sum(CASE WHEN r > n_users -
        |          greatest(n_users // 10, 1) THEN cnt ELSE 0 END)
        |          AS BIGINT) AS top10
        |      FROM r, n)
        |SELECT n_users, total,
        |  CAST(((CAST(rc AS HUGEINT) * 2 -
        |      CAST(n_users + 1 AS HUGEINT) * total) * 20000 +
        |      CAST(n_users AS HUGEINT) * total)
        |    // (2 * CAST(n_users AS HUGEINT) * total) AS BIGINT)
        |    / 10000.0 AS gini,
        |  CAST((CAST(top1 AS HUGEINT) * 20000 + total) // (2 * total)
        |    AS BIGINT) / 10000.0 AS top1_share,
        |  CAST((CAST(top10 AS HUGEINT) * 20000 + total) // (2 * total)
        |    AS BIGINT) / 10000.0 AS top10_share
        |FROM a""".stripMargin,
    // sha256 hex (lowercase) ≡ Spark sha2(…, 256); joining and
    // min-sampling ON TOKENS proves both the preserved referential
    // integrity and the cross-engine token equality
    "etl_pseudonymize" ->
      """WITH c AS (SELECT sha256('pepper:' || CAST(c_custkey AS VARCHAR))
        |             AS tok, c_nationkey
        |           FROM customer),
        |o AS (SELECT sha256('pepper:' || CAST(o_custkey AS VARCHAR)) AS tok
        |      FROM orders)
        |SELECT c_nationkey,
        |  CAST(count(DISTINCT c.tok) AS BIGINT) AS n_customers,
        |  count(*) AS n_orders, min(c.tok) AS sample_token
        |FROM c JOIN o ON c.tok = o.tok
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // quantile_cont shares Spark percentile's sort + p·(n−1) + linear
    // interpolation definition (the q_percentiles precedent), per day
    "ts_percentiles_daily" ->
      """SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP_US))
        |    AS TIMESTAMP) AS day,
        |  count(*) AS n,
        |  round(quantile_cont(value, 0.5), 4) AS p50,
        |  round(quantile_cont(value, 0.9), 4) AS p90,
        |  round(quantile_cont(value, 0.99), 4) AS p99,
        |  round(max(value), 4) AS max_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // the q_percentiles_approx contract on the day key: exact side
    // replayed, rank-error verdicts literal TRUE — a drifting sketch
    // breaks the hash, never the oracle
    "ts_percentiles_daily_approx" ->
      """SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP_US))
        |    AS TIMESTAMP) AS day,
        |  count(*) AS n,
        |  round(quantile_cont(value, 0.5), 4) AS p50,
        |  round(quantile_cont(value, 0.9), 4) AS p90,
        |  round(quantile_cont(value, 0.99), 4) AS p99,
        |  round(max(value), 4) AS max_value,
        |  TRUE AS p50_within_tol, TRUE AS p90_within_tol,
        |  TRUE AS p99_within_tol
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // Shares quantile_cont ≡ Spark percentile interpolation; med and
    // MAD round to 4dp BEFORE the score (rounded-metric rule), so the
    // ratio divides identical doubles on both engines.
    // ts_theil_sen: the pair/residual medians replay as the SAME
    // exact-rational selection (double `sl` is only the order key;
    // distinct calendar-denominator rationals are far beyond an ulp
    // apart), publication through the r4s signed half-up mirror
    "ts_theil_sen" ->
      """WITH daily AS (SELECT event_type,
        |    date_diff('day', DATE '2024-01-01',
        |      date_trunc('day', CAST(ts AS TIMESTAMP_US))) AS dd,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |pairs AS (SELECT a.event_type, a.dd AS di, b.dd AS dj,
        |    b.cnt - a.cnt AS num, b.dd - a.dd AS den,
        |    CAST(b.cnt - a.cnt AS DOUBLE) / (b.dd - a.dd) AS sl
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type AND b.dd > a.dd),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |      ORDER BY sl, di, dj) AS rk,
        |    count(*) OVER (PARTITION BY event_type) AS m FROM pairs),
        |sel AS (SELECT * FROM rk
        |        WHERE rk = (m + 1) // 2 OR rk = m // 2 + 1),
        |sl AS (SELECT event_type, m, count(*) AS k,
        |    min_by(num, rk) AS n1, min_by(den, rk) AS d1,
        |    max_by(num, rk) AS n2, max_by(den, rk) AS d2
        |  FROM sel GROUP BY 1, 2),
        |slope AS (SELECT event_type, m AS n_pairs,
        |    CASE WHEN k = 1 THEN n1 ELSE n1 * d2 + n2 * d1 END AS snum,
        |    CASE WHEN k = 1 THEN d1 ELSE 2 * d1 * d2 END AS sden
        |  FROM sl),
        |res AS (SELECT d.event_type, d.dd, s.n_pairs, s.snum, s.sden,
        |    d.cnt * s.sden - s.snum * d.dd AS rnum
        |  FROM daily d JOIN slope s USING (event_type)),
        |rr AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |      ORDER BY rnum, dd) AS rk,
        |    count(*) OVER (PARTITION BY event_type) AS nd FROM res),
        |isel AS (SELECT * FROM rr
        |         WHERE rk = (nd + 1) // 2 OR rk = nd // 2 + 1),
        |ii AS (SELECT event_type, any_value(nd) AS n_days,
        |    any_value(n_pairs) AS n_pairs, any_value(snum) AS snum,
        |    any_value(sden) AS sden,
        |    count(*) AS k2, min(rnum) AS r1, max(rnum) AS r2
        |  FROM isel GROUP BY 1)
        |SELECT event_type, n_days, n_pairs,
        |  CAST(((CAST(snum AS HUGEINT) + 1000000 * sden) * 20000 + sden)
        |    // (2 * sden) - 10000000000 AS BIGINT) / 10000.0 AS slope,
        |  CAST(((CAST(CASE WHEN k2 = 1 THEN r1 ELSE r1 + r2 END
        |        AS HUGEINT) +
        |      1000000 * (CASE WHEN k2 = 1 THEN sden ELSE 2 * sden END)) *
        |      20000 + (CASE WHEN k2 = 1 THEN sden ELSE 2 * sden END))
        |    // (2 * (CASE WHEN k2 = 1 THEN sden ELSE 2 * sden END))
        |    - 10000000000 AS BIGINT) / 10000.0 AS intercept
        |FROM ii ORDER BY event_type""".stripMargin,
    "ts_outlier_mad" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP_US))
        |      AS TIMESTAMP) AS day, count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |med AS (SELECT event_type, round(quantile_cont(cnt, 0.5), 4) AS med
        |        FROM daily GROUP BY 1),
        |dev AS (SELECT d.event_type, d.day, d.cnt, m.med,
        |          abs(d.cnt - m.med) AS adev
        |        FROM daily d JOIN med m USING (event_type)),
        |mad AS (SELECT event_type, round(quantile_cont(adev, 0.5), 4) AS mad
        |        FROM dev GROUP BY 1),
        |z AS (SELECT v.event_type, v.day, v.cnt, v.med, a.mad,
        |        round(CASE WHEN a.mad = 0 THEN 0.0
        |              ELSE 0.6745 * (v.cnt - v.med) / a.mad END, 4) AS robust_z
        |      FROM dev v JOIN mad a USING (event_type))
        |SELECT event_type, day, cnt, med, mad, robust_z,
        |  abs(robust_z) >= 3.5 AS is_outlier
        |FROM z ORDER BY event_type, day""".stripMargin,
    // the exact med/MAD stages replayed per series, sketch verdicts
    // literal TRUE (the checked-face contract)
    "ts_outlier_mad_approx" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP_US))
        |      AS TIMESTAMP) AS day, count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |med AS (SELECT event_type, count(*) AS n_days,
        |          round(quantile_cont(cnt, 0.5), 4) AS med
        |        FROM daily GROUP BY 1),
        |dev AS (SELECT d.event_type, abs(d.cnt - m.med) AS adev
        |        FROM daily d JOIN med m USING (event_type)),
        |mad AS (SELECT event_type, round(quantile_cont(adev, 0.5), 4) AS mad
        |        FROM dev GROUP BY 1)
        |SELECT m.event_type, m.n_days, m.med, a.mad,
        |  TRUE AS med_within_tol, TRUE AS mad_within_tol
        |FROM med m JOIN mad a USING (event_type)
        |ORDER BY m.event_type""".stripMargin,
    // dow from the epoch-day count ((ed + 3) mod 7, 0 = Monday) —
    // dayofweek()'s origin varies by engine, an integer mod doesn't;
    // the date functions used agree across engines by construction
    // ts_fourier_features: identical day-index/phase integers,
    // identical left-assoc angle arithmetic, 4dp-rounded sin/cos
    "ts_fourier_features" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP_US))
        |      AS TIMESTAMP) AS day, count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |mn AS (SELECT min(day) AS mn FROM daily),
        |f AS (SELECT event_type, day, cnt,
        |    CAST(date_diff('day', CAST(mn AS DATE), CAST(day AS DATE))
        |      AS INTEGER) AS t
        |  FROM daily, mn),
        |p AS (SELECT event_type, day, cnt, t, t % 7 AS ph FROM f)
        |SELECT event_type, day, cnt, t,
        |  round(sin(2.0 * pi() * 1 * ph / 7), 4) AS sin7_1,
        |  round(cos(2.0 * pi() * 1 * ph / 7), 4) AS cos7_1,
        |  round(sin(2.0 * pi() * 2 * ph / 7), 4) AS sin7_2,
        |  round(cos(2.0 * pi() * 2 * ph / 7), 4) AS cos7_2
        |FROM p ORDER BY event_type, day""".stripMargin,
    "ts_calendar_features" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP_US))
        |      AS TIMESTAMP) AS day, count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |f AS (SELECT event_type, day, cnt,
        |        CAST((date_diff('day', DATE '1970-01-01',
        |          CAST(day AS DATE)) + 3) % 7 AS INTEGER) AS dow
        |      FROM daily)
        |SELECT event_type, day, cnt, dow,
        |  dow >= 5 AS is_weekend,
        |  CAST(month(day) AS INTEGER) AS month,
        |  CAST(day(CAST(day AS DATE)) AS INTEGER) AS dom,
        |  CAST(day AS DATE) = last_day(CAST(day AS DATE)) AS is_month_end
        |FROM f ORDER BY event_type, day""".stripMargin,
    // Shares the operator's exact arithmetic: share/skew are integer
    // half-up divisions of the rational ((x·2e4 + n) // 2n, HUGEINT
    // like the Spark side's DECIMAL(38,0)) — round(identical_double)
    // split the engines on a true half-boundary (71/4000, sf0.004).
    "q_skew_profile" ->
      """WITH c AS (SELECT user_id AS key, count(*) AS cnt
        |           FROM events GROUP BY 1),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n, count(*) AS d FROM c)
        |SELECT key, cnt,
        |  CAST((CAST(cnt AS HUGEINT) * 20000 + n) // (2 * n) AS BIGINT)
        |    / 10000.0 AS share,
        |  CAST((CAST(cnt AS HUGEINT) * d * 20000 + n) // (2 * n) AS BIGINT)
        |    / 10000.0 AS skew
        |FROM c, t ORDER BY cnt DESC, key LIMIT 20""".stripMargin,
    // Both engines implement the ANSI REGR_* family over the same
    // (x, y) pairs; inputs are exact integer-valued doubles.
    "ml_linreg_trend" ->
      """WITH daily AS (
        |  SELECT event_type, user_id % 10 AS cohort,
        |    date_trunc('day', CAST(ts AS TIMESTAMP_US)) AS day,
        |    count(*) AS cnt
        |  FROM events GROUP BY 1, 2, 3),
        |xy AS (SELECT event_type, cohort,
        |    CAST(date_diff('day', DATE '2024-01-01', day) AS DOUBLE) AS x,
        |    CAST(cnt AS DOUBLE) AS y FROM daily)
        |SELECT event_type, cohort, count(*) AS n_days,
        |  round(regr_slope(y, x), 4) AS slope,
        |  round(regr_intercept(y, x), 4) AS intercept,
        |  round(regr_r2(y, x), 4) AS r2
        |FROM xy GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // The salted join's contract IS the plain join — the oracle needs
    // no salt concept at all.
    "q_salted_join" ->
      """WITH dim AS (
        |  SELECT DISTINCT user_id,
        |    'seg_' || CAST(user_id % 3 AS VARCHAR) AS segment
        |  FROM events)
        |SELECT segment, count(*) AS n, round(sum(value), 4) AS total_value
        |FROM events e JOIN dim USING (user_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "etl_expectations" ->
      """WITH ev AS (SELECT CAST(ts AS TIMESTAMP_US) AS ts, event_type,
        |                   user_id, value FROM events),
        |t AS (SELECT count(*) AS total FROM ev),
        |v AS (
        |  SELECT 'ts_in_range' AS rule, CAST(sum(CASE WHEN coalesce(
        |    ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-15',
        |    false) THEN 0 ELSE 1 END) AS BIGINT) AS n_violations FROM ev
        |  UNION ALL SELECT 'type_known', CAST(sum(CASE WHEN coalesce(
        |    event_type IN ('click','view','purchase','signup','error'),
        |    false) THEN 0 ELSE 1 END) AS BIGINT) FROM ev
        |  UNION ALL SELECT 'user_present', CAST(sum(CASE
        |    WHEN user_id IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT) FROM ev
        |  UNION ALL SELECT 'value_in_range', CAST(sum(CASE WHEN coalesce(
        |    value >= 0 AND value <= 250, false) THEN 0 ELSE 1 END) AS BIGINT)
        |    FROM ev)
        |SELECT rule, n_violations,
        |  round(n_violations * 1.0 / total, 4) AS violation_rate
        |FROM v CROSS JOIN t ORDER BY rule""".stripMargin,
    // The bucketing predicate is shared literally with SampleOps:
    // first two hex chars of md5(key), lexicographic cut.
    // The SAME correlated SQL modulo the view name — DuckDB
    // decorrelates it too, and the DECIMAL cross-multiplication makes
    // the boundary comparison exact on both engines.
    "q_scalar_subquery" ->
      """SELECT c_custkey, c_acctbal,
        |       round(CAST(nation_sum AS DOUBLE) / nation_n, 4) AS nation_avg
        |FROM (
        |  SELECT c_custkey, c_acctbal,
        |    (SELECT sum(CAST(c2.c_acctbal AS DECIMAL(20,10)))
        |     FROM customer c2
        |     WHERE c2.c_nationkey = c1.c_nationkey) AS nation_sum,
        |    (SELECT count(*) FROM customer c3
        |     WHERE c3.c_nationkey = c1.c_nationkey) AS nation_n
        |  FROM customer c1)
        |WHERE CAST(c_acctbal AS DECIMAL(20,10)) * nation_n > nation_sum
        |ORDER BY c_custkey""".stripMargin,
    "q_semi_join_bloom" ->
      """SELECT l_orderkey, l_linenumber FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
        |                     WHERE o_orderpriority = '1-URGENT')
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "etl_assign_ids" ->
      """SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS seq_id
        |FROM documents ORDER BY doc_id""".stripMargin,
    "etl_sample_hash" ->
      """SELECT doc_id FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '40'
        |ORDER BY doc_id""".stripMargin,
    // Mixture sizing replayed in pure BIGINT floor division (// in
    // DuckDB = div in Spark on positives); the keep-all clamp
    // compares numerically because printf('%02x', 256) is '100'.
    "etl_mix_domains" ->
      """WITH shares(source, share) AS (
        |  VALUES ('src0', 6), ('src1', 3), ('src2', 1)),
        |cnt AS (SELECT source, CAST(count(*) AS BIGINT) AS n
        |        FROM documents GROUP BY source),
        |cut AS (SELECT cnt.source,
        |  CASE WHEN (share * 60) // 10 > 0
        |       THEN greatest(1, least(256, (256 * ((share * 60) // 10)) // n))
        |       ELSE 0 END AS buckets
        |  FROM cnt JOIN shares USING (source))
        |SELECT doc_id, source FROM documents JOIN cut USING (source)
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2)
        |        < printf('%02x', buckets)
        |   OR buckets >= 256
        |ORDER BY doc_id""".stripMargin,
    "etl_sample_stratified" ->
      """SELECT event_id, event_type FROM events
        |WHERE CASE event_type
        |  WHEN 'error' THEN true
        |  WHEN 'click' THEN
        |    substring(md5(CAST(event_id AS VARCHAR)), 1, 2) < '40'
        |  WHEN 'view' THEN false
        |  ELSE substring(md5(CAST(event_id AS VARCHAR)), 1, 2) < '80' END
        |ORDER BY event_id""".stripMargin,
    "etl_hash_split" ->
      """SELECT doc_id,
        |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
        |         THEN 'train'
        |       WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
        |         THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    // same md5→uniform→pow construction; ranking on the ROUNDED key
    // (id tiebreak) so libm-pow ulp drift can't flip a boundary row
    "etl_sample_weighted" ->
      """WITH s AS (SELECT doc_id, n_chars,
        |    round(pow((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |                 ::BIGINT + 1) / 4294967297.0,
        |              1.0 / n_chars), 4) AS samp_key
        |  FROM documents)
        |SELECT doc_id, n_chars, samp_key FROM s
        |ORDER BY samp_key DESC, doc_id LIMIT 100""".stripMargin,
    // DuckDB integer sums widen to HUGEINT (pandas float64) — cast back
    "etl_profile" ->
      """SELECT * FROM (
        | SELECT 'o_custkey' AS "column", count(*) AS n_rows,
        |  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_nulls,
        |  count(DISTINCT o_custkey) AS n_distinct FROM orders
        | UNION ALL
        | SELECT 'o_orderstatus', count(*),
        |  CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  count(DISTINCT o_orderstatus) FROM orders
        | UNION ALL
        | SELECT 'o_totalprice', count(*),
        |  CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  count(DISTINCT o_totalprice) FROM orders)
        |ORDER BY "column"""".stripMargin,
    // per-char rotation replayed verbatim: same md5 nibble, same
    // modular arithmetic, same ASCII class guards
    "etl_mask_format" ->
      """SELECT c_custkey,
        |  array_to_string(list_transform(range(1, length(c_name) + 1),
        |    i -> CASE
        |      WHEN substr(c_name, i, 1) BETWEEN '0' AND '9'
        |        THEN chr(48 + (ascii(substr(c_name, i, 1)) - 48 +
        |          CAST(('0x' || substr(md5('pep:' || c_name || ':' || i),
        |            1, 1))::UBIGINT AS INTEGER) % 10) % 10)
        |      WHEN substr(c_name, i, 1) BETWEEN 'a' AND 'z'
        |        THEN chr(97 + (ascii(substr(c_name, i, 1)) - 97 +
        |          CAST(('0x' || substr(md5('pep:' || c_name || ':' || i),
        |            1, 1))::UBIGINT AS INTEGER) % 26) % 26)
        |      WHEN substr(c_name, i, 1) BETWEEN 'A' AND 'Z'
        |        THEN chr(65 + (ascii(substr(c_name, i, 1)) - 65 +
        |          CAST(('0x' || substr(md5('pep:' || c_name || ':' || i),
        |            1, 1))::UBIGINT AS INTEGER) % 26) % 26)
        |      ELSE substr(c_name, i, 1) END), '') AS c_name
        |FROM customer ORDER BY c_custkey""".stripMargin,
    // suggestion flags derive from the SAME stats both engines
    // compute exactly; string columns carry NULL range bounds
    "etl_suggest_rules" ->
      """SELECT * FROM (
        | SELECT 'o_custkey' AS "column", count(*) AS n_rows,
        |  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_nulls,
        |  count(DISTINCT o_custkey) AS n_distinct,
        |  sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) = 0
        |    AS suggest_not_null,
        |  count(DISTINCT o_custkey) = count(*) -
        |    sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
        |    AS suggest_unique,
        |  count(DISTINCT o_custkey) <= 20 AS suggest_in_set,
        |  round(CAST(min(o_custkey) AS DOUBLE), 4) AS range_lo,
        |  round(CAST(max(o_custkey) AS DOUBLE), 4) AS range_hi
        | FROM orders
        | UNION ALL
        | SELECT 'o_orderkey', count(*),
        |  CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT),
        |  count(DISTINCT o_orderkey),
        |  sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) = 0,
        |  count(DISTINCT o_orderkey) = count(*) -
        |    sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END),
        |  count(DISTINCT o_orderkey) <= 20,
        |  round(CAST(min(o_orderkey) AS DOUBLE), 4),
        |  round(CAST(max(o_orderkey) AS DOUBLE), 4)
        | FROM orders
        | UNION ALL
        | SELECT 'o_orderstatus', count(*),
        |  CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT),
        |  count(DISTINCT o_orderstatus),
        |  sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) = 0,
        |  count(DISTINCT o_orderstatus) = count(*) -
        |    sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END),
        |  count(DISTINCT o_orderstatus) <= 20,
        |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
        | FROM orders
        | UNION ALL
        | SELECT 'o_totalprice', count(*),
        |  CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT),
        |  count(DISTINCT o_totalprice),
        |  sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) = 0,
        |  count(DISTINCT o_totalprice) = count(*) -
        |    sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END),
        |  count(DISTINCT o_totalprice) <= 20,
        |  round(CAST(min(o_totalprice) AS DOUBLE), 4),
        |  round(CAST(max(o_totalprice) AS DOUBLE), 4)
        | FROM orders)
        |ORDER BY "column"""".stripMargin,
    // checked HLL face: exact profile + TRUE verdicts per column; the
    // Spark side carries the live sketch's tolerance verdict beside it
    "etl_profile_approx" ->
      """SELECT * FROM (
        | SELECT 'o_custkey' AS "column", count(*) AS n_rows,
        |  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_nulls,
        |  count(DISTINCT o_custkey) AS n_distinct,
        |  TRUE AS distinct_within_tol FROM orders
        | UNION ALL
        | SELECT 'o_orderstatus', count(*),
        |  CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  count(DISTINCT o_orderstatus), TRUE FROM orders
        | UNION ALL
        | SELECT 'o_totalprice', count(*),
        |  CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  count(DISTINCT o_totalprice), TRUE FROM orders)
        |ORDER BY "column"""".stripMargin,
    "etl_apply_mapping" ->
      """SELECT CAST(o_orderkey AS VARCHAR) AS orderkey, o_custkey AS custkey,
        | o_orderdate AS order_date, o_totalprice AS total
        |FROM orders ORDER BY custkey, orderkey""".stripMargin,
    // recomputed STRAIGHT from events — the Spark side went through
    // CSV staging, per-source ETL, and a partitioned parquet round
    // trip, so hash equality here proves the whole chain lossless;
    // the "n/a" plant (every 97th event) must null out of the sum
    "etl_reference_e2e" ->
      """WITH typed AS (
        |  SELECT event_id, ts,
        |    CASE WHEN event_type IN ('click', 'view') THEN 'clickview'
        |         WHEN event_type IN ('purchase', 'signup') THEN 'txn'
        |         ELSE 'err' END AS type,
        |    CASE WHEN event_id % 97 = 0 THEN NULL
        |         ELSE CAST(value AS DECIMAL(20,10)) END AS amount
        |  FROM events)
        |SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |  count(*) FILTER (WHERE type = 'clickview') AS clickview,
        |  count(*) FILTER (WHERE type = 'txn') AS txn,
        |  count(*) FILTER (WHERE type = 'err') AS err,
        |  round(CAST(sum(amount) AS DOUBLE), 4) AS amount_sum
        |FROM typed
        |WHERE ts < TIMESTAMP '2099-12-31'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "etl_resolve_choice" ->
      """SELECT doc_id, CAST(n_chars AS INTEGER) AS n_chars_int,
        | TRY_CAST(lang AS BIGINT) AS lang_long
        |FROM documents ORDER BY doc_id""".stripMargin,
    "etl_drop_null_fields" ->
      """SELECT doc_id, CAST(n_chars AS INTEGER) AS n_chars_int
        |FROM documents ORDER BY doc_id""".stripMargin,
    "etl_resolve_struct" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN CAST(n_chars AS VARCHAR)
        |         ELSE lang END AS mixed
        |  FROM documents)
        |SELECT doc_id, TRY_CAST(mixed AS BIGINT) AS mixed_long,
        |  CASE WHEN TRY_CAST(mixed AS BIGINT) IS NULL THEN mixed END AS mixed_str
        |FROM m ORDER BY doc_id""".stripMargin,
    "etl_canonicalize" ->
      """SELECT src, count(*) AS n, min(event_ts) AS first_ts,
        | max(event_ts) AS last_ts
        |FROM (
        | SELECT 'orders' AS src, o_orderdate AS event_ts FROM orders
        | UNION ALL SELECT 'lineitem', l_shipdate FROM lineitem
        | UNION ALL SELECT 'events', ts FROM events)
        |GROUP BY src ORDER BY src""".stripMargin,
    "etl_dedup_rows" ->
      """SELECT DISTINCT l_suppkey, l_returnflag
        |FROM lineitem ORDER BY 1, 2""".stripMargin,
    // Evaluation order of the interpolation arithmetic mirrors the
    // operator exactly (pv + (nv-pv)*(double(d1)/double(d2)), round
    // 4dp) so IEEE results agree bit-for-bit across engines.
    "ts_interpolate" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |         CAST(floor(CAST(CAST(sum(CAST(round(value, 4)
        |             AS DECIMAL(14,4))) * 10000 AS BIGINT) AS DOUBLE)
        |           / count(value)) AS BIGINT) / 10000.0 AS v
        |  FROM events GROUP BY 1, 2),
        |gapped AS (SELECT * FROM daily WHERE date_part('day', day) % 5 <> 0),
        |b AS (SELECT event_type, min(day) AS lo, max(day) AS hi
        |      FROM gapped GROUP BY 1),
        |spine AS (SELECT event_type,
        |  unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM b),
        |j AS (SELECT s.event_type, s.day, g.v
        |      FROM spine s LEFT JOIN gapped g
        |        ON s.event_type = g.event_type AND s.day = g.day),
        |wnd AS (SELECT *,
        |  last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
        |    OVER w_b AS pd,
        |  last_value(v IGNORE NULLS) OVER w_b AS pv,
        |  first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
        |    OVER w_a AS nd,
        |  first_value(v IGNORE NULLS) OVER w_a AS nv
        |  FROM j
        |  WINDOW w_b AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |  w_a AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
        |SELECT event_type, day,
        |  coalesce(v, CAST(floor((pv + (nv - pv) *
        |    (CAST(datediff('day', pd, day) AS DOUBLE) /
        |     CAST(datediff('day', pd, nd) AS DOUBLE))) * 10000.0)
        |    AS BIGINT) / 10000.0) AS v,
        |  v IS NULL AS interpolated
        |FROM wnd ORDER BY event_type, day""".stripMargin,
    "ts_resample_daily" ->
      """WITH daily AS (
        |  SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
        |         count(*) AS cnt
        |  FROM orders GROUP BY 1),
        |spine AS (
        |  SELECT unnest(generate_series(min(day), max(day), INTERVAL 1 DAY)) AS day
        |  FROM daily)
        |SELECT s.day AS day, coalesce(d.cnt, 0) AS cnt
        |FROM spine s LEFT JOIN daily d ON s.day = d.day ORDER BY day""".stripMargin,
    // Spark stddev_samp and DuckDB stddev_samp share the sample
    // variance definition; 4dp rounding absorbs accumulation-order
    // noise at these magnitudes.
    "ts_rolling" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |         count(*) AS cnt
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, day, cnt,
        | round(avg(cnt) OVER w, 4) AS roll_mean,
        | round(coalesce(stddev_samp(cnt) OVER w, 0.0), 4) AS roll_std
        |FROM daily
        |WINDOW w AS (PARTITION BY event_type ORDER BY day
        |             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, day""".stripMargin,
    // replays the identical EWMA recursion in a recursive CTE —
    // arithmetic written term-for-term as the Scala fold, so the 4dp
    // values match bit-for-bit (the forecast_hw contract)
    "ts_ewma" -> graft.ops.TimeSeriesOps.ewmaOracleSql,
    "ewma_versions" ->
      graft.ops.TimeSeriesOps.ewmaVersionsOracleSql,
    // trailing-window z-score; both engines share the stddev_samp
    // parity ts_rolling already relies on, the zero-variance window
    // pins z = 0, and warm-up days (partial window) emit nothing
    "ts_anomaly" -> graft.ops.TimeSeriesOps.anomalyOracleSql,
    // the monitor audits share the batch chains via the builders —
    // one text per statistic, plain + versioned faces cannot drift
    "anomaly_versions" ->
      graft.ops.TimeSeriesOps.anomalyVersionsOracleSql,
    "changepoint_versions" ->
      graft.ops.TimeSeriesOps.changepointVersionsOracleSql,
    // Spark's lag(l) over the day order == the row at rn−l: the
    // oracle replays it as a row-number self-join (DuckDB's lag
    // offset must be constant, the lags come from an unnested range).
    "ts_acf" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |         count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, CAST(sum(cnt) AS DOUBLE) / count(*) AS mu
        |      FROM daily GROUP BY 1),
        |r AS (SELECT d.event_type, day, cnt, mu,
        |        row_number() OVER (PARTITION BY d.event_type ORDER BY day) AS rn
        |      FROM daily d JOIN m USING (event_type)),
        |p AS (SELECT a.event_type, k.lg, a.cnt, a.mu, b.cnt AS ylag
        |      FROM r a
        |      CROSS JOIN (SELECT unnest(range(1, 8)) AS lg) k
        |      JOIN r b ON b.event_type = a.event_type AND b.rn = a.rn - k.lg),
        |num AS (SELECT event_type, lg,
        |          sum(CAST((cnt - mu) * (ylag - mu) AS DECIMAL(20,10))) AS nm
        |        FROM p GROUP BY 1, 2),
        |den AS (SELECT event_type,
        |          sum(CAST((cnt - mu) * (cnt - mu) AS DECIMAL(20,10))) AS dn
        |        FROM r GROUP BY 1)
        |SELECT num.event_type AS event_type, CAST(lg AS INT) AS lag,
        |  round(CAST(nm AS DOUBLE) / CAST(dn AS DOUBLE), 4) AS acf
        |FROM num JOIN den USING (event_type)
        |ORDER BY event_type, lag""".stripMargin,
    // same mean/deviation/DECIMAL machinery as ts_acf, pair join on
    // the shifted day index
    "ts_pacf" -> TimeSeriesOps.pacfOracleSql,
    // identical reduced-phase trig arguments, identical 6dp term
    // quantization, identical left-assoc 2.0*pi()*ph/p arithmetic
    "ts_periodogram" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP_US))
        |      AS TIMESTAMP) AS day,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |mn AS (SELECT min(day) AS mn FROM daily),
        |mu AS (SELECT event_type, round(avg(cnt), 4) AS mu
        |       FROM daily GROUP BY 1),
        |terms AS (SELECT d.event_type, p,
        |    CAST(round((CAST(cnt AS DOUBLE) - mu) *
        |      cos(2.0 * pi() * ((date_diff('day', CAST(mn AS DATE),
        |        CAST(day AS DATE))) % p) / p), 6) AS DECIMAL(20,6)) AS tc,
        |    CAST(round((CAST(cnt AS DOUBLE) - mu) *
        |      sin(2.0 * pi() * ((date_diff('day', CAST(mn AS DATE),
        |        CAST(day AS DATE))) % p) / p), 6) AS DECIMAL(20,6)) AS ts
        |  FROM daily d, mn, mu,
        |    LATERAL (SELECT unnest(range(2, 15)) AS p)
        |  WHERE mu.event_type = d.event_type),
        |pw AS (SELECT event_type, CAST(p AS INTEGER) AS period,
        |         round((CAST(sum(tc) AS DOUBLE) * CAST(sum(tc) AS DOUBLE)
        |           + CAST(sum(ts) AS DOUBLE) * CAST(sum(ts) AS DOUBLE))
        |           / count(*), 2) AS power
        |       FROM terms GROUP BY event_type, p)
        |SELECT event_type, period, power,
        |  row_number() OVER (PARTITION BY event_type
        |    ORDER BY power DESC, period) = 1 AS is_dominant
        |FROM pw ORDER BY event_type, period""".stripMargin,
    // the DP replayed as an anti-diagonal wavefront: diagonal d
    // depends only on d-1/d-2, so a recursive CTE advances one whole
    // diagonal per step via list_transform — every cell an exact
    // integer, SENT=2.5e17 pads the band edges without overflow
    "ts_dtw" -> graft.ops.TimeSeriesOps.dtwOracleSql(),
    "ts_matrix_profile" ->
      graft.ops.TimeSeriesOps.matrixProfileOracleSql(),
    "ts_matrix_profile_banded" ->
      graft.ops.TimeSeriesOps.matrixProfileOracleSql(band = 14),
    "ts_dtw_banded" -> graft.ops.TimeSeriesOps.dtwOracleSql(band = 7),
    "ts_cross_corr" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    date_diff('day', DATE '2024-01-01',
        |      date_trunc('day', CAST(ts AS TIMESTAMP_US))) AS dd,
        |    count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, CAST(sum(cnt) AS DOUBLE) / count(*) AS mu
        |      FROM daily GROUP BY 1),
        |wm AS (SELECT d.event_type, dd, cnt - mu AS dev
        |       FROM daily d JOIN m USING (event_type)),
        |den AS (SELECT event_type,
        |          sum(CAST(dev * dev AS DECIMAL(20,10))) AS dn
        |        FROM wm GROUP BY 1),
        |al AS (SELECT event_type AS ta, dd, dev AS da, k.lg AS lag
        |       FROM wm CROSS JOIN (SELECT unnest(range(0, 4)) AS lg) k),
        |num AS (SELECT ta, b.event_type AS tb, lag,
        |          sum(CAST(da * b.dev AS DECIMAL(20,10))) AS nm
        |        FROM al JOIN wm b
        |          ON b.dd = al.dd + al.lag AND b.event_type <> al.ta
        |        GROUP BY 1, 2, 3)
        |SELECT ta, tb, CAST(lag AS INT) AS lag,
        |  round(CAST(nm AS DOUBLE) /
        |        sqrt(CAST(da2.dn AS DOUBLE) * CAST(db2.dn AS DOUBLE)), 4)
        |    AS xcorr
        |FROM num
        |JOIN den da2 ON da2.event_type = num.ta
        |JOIN den db2 ON db2.event_type = num.tb
        |ORDER BY ta, tb, lag""".stripMargin,
    "ts_changepoint" -> graft.ops.TimeSeriesOps.changepointOracleSql,
    // Phase = epoch-day mod 7 (dow functions differ in origin across
    // engines); the seasonal mean divides an exact DECIMAL(20,10) sum
    // once, so partial-aggregation order can't move the 4th decimal.
    "ts_seasonal_decompose" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |         count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |t AS (
        |  SELECT event_type, day, cnt,
        |    count(*) OVER w AS wn,
        |    CAST(sum(cnt) OVER w AS DOUBLE) / 7 AS trend
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day
        |               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |det AS (
        |  SELECT event_type, day, cnt, trend,
        |    date_diff('day', DATE '1970-01-01', day) % 7 AS pos,
        |    CAST(cnt - trend AS DECIMAL(20,10)) AS dv
        |  FROM t WHERE wn = 7),
        |seas AS (
        |  SELECT event_type, pos,
        |    CAST(sum(dv) AS DOUBLE) / count(*) AS seasonal
        |  FROM det GROUP BY 1, 2)
        |SELECT det.event_type AS event_type, day, cnt,
        |  round(trend, 4) AS trend,
        |  round(seasonal, 4) AS seasonal,
        |  round(cnt - trend - seasonal, 4) AS resid
        |FROM det JOIN seas
        |  ON det.event_type = seas.event_type AND det.pos = seas.pos
        |ORDER BY event_type, day""".stripMargin,
    // ts_seasonal_strength: the decompose chain + exact DECIMAL
    // moment sums of the 4dp components, variances derived once in
    // double with the identical expression tree
    "ts_seasonal_strength" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |         count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |t AS (
        |  SELECT event_type, day, cnt,
        |    count(*) OVER w AS wn,
        |    CAST(sum(cnt) OVER w AS DOUBLE) / 7 AS trend
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day
        |               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |det AS (
        |  SELECT event_type, day, cnt, trend,
        |    date_diff('day', DATE '1970-01-01', day) % 7 AS pos,
        |    CAST(cnt - trend AS DECIMAL(20,10)) AS dv
        |  FROM t WHERE wn = 7),
        |seas AS (
        |  SELECT event_type, pos,
        |    CAST(sum(dv) AS DOUBLE) / count(*) AS seasonal
        |  FROM det GROUP BY 1, 2),
        |dc AS (
        |  SELECT det.event_type AS event_type,
        |    CAST(round(cnt - trend - seasonal, 4) AS DECIMAL(20,4)) AS r,
        |    CAST(round(seasonal, 4) + round(cnt - trend - seasonal, 4)
        |         AS DECIMAL(20,4)) AS sr,
        |    CAST(round(trend, 4) + round(cnt - trend - seasonal, 4)
        |         AS DECIMAL(20,4)) AS tr
        |  FROM det JOIN seas
        |    ON det.event_type = seas.event_type AND det.pos = seas.pos),
        |m AS (
        |  SELECT event_type, count(*) AS n,
        |    sum(r) AS s_r, sum(r * r) AS ss_r,
        |    sum(sr) AS s_sr, sum(sr * sr) AS ss_sr,
        |    sum(tr) AS s_tr, sum(tr * tr) AS ss_tr
        |  FROM dc GROUP BY 1),
        |v AS (
        |  SELECT event_type, n,
        |    (CAST(ss_r AS DOUBLE) -
        |      CAST(s_r AS DOUBLE) * CAST(s_r AS DOUBLE) / n) / (n - 1) AS vr,
        |    (CAST(ss_sr AS DOUBLE) -
        |      CAST(s_sr AS DOUBLE) * CAST(s_sr AS DOUBLE) / n) / (n - 1)
        |      AS vsr,
        |    (CAST(ss_tr AS DOUBLE) -
        |      CAST(s_tr AS DOUBLE) * CAST(s_tr AS DOUBLE) / n) / (n - 1)
        |      AS vtr
        |  FROM m WHERE n >= 2)
        |SELECT event_type, CAST(n AS BIGINT) AS n_days,
        |  round(greatest(0.0, CASE WHEN vsr = 0.0 THEN 0.0
        |                           ELSE 1.0 - vr / vsr END), 4)
        |    AS seasonal_strength,
        |  round(greatest(0.0, CASE WHEN vtr = 0.0 THEN 0.0
        |                           ELSE 1.0 - vr / vtr END), 4)
        |    AS trend_strength
        |FROM v ORDER BY event_type""".stripMargin,
    "ts_lag_features" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |         count(*) AS cnt
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, day, cnt,
        | lag(cnt, 1) OVER w AS prev_cnt,
        | cnt - lag(cnt, 1) OVER w AS delta,
        | round((cnt - lag(cnt, 1) OVER w) * 100.0 / lag(cnt, 1) OVER w, 4)
        |   AS pct_change
        |FROM daily
        |WINDOW w AS (PARTITION BY event_type ORDER BY day)
        |ORDER BY event_type, day""".stripMargin,
    "ts_pivot_wide" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        | count(*) FILTER (WHERE event_type = 'error')    AS error,
        | count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        | count(*) FILTER (WHERE event_type = 'signup')   AS signup,
        | count(*) FILTER (WHERE event_type IN ('click', 'view')) AS browse
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "ts_train_test" ->
      """WITH daily AS (
        |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, count(*) AS cnt
        |  FROM events GROUP BY 1)
        |SELECT day, cnt,
        | CASE WHEN day > (SELECT max(day) FROM daily) - INTERVAL 14 DAY
        |      THEN 'test' ELSE 'train' END AS split
        |FROM daily ORDER BY day""".stripMargin,
    // the recursion carries (level, trend, rotating seasonal LIST)
    // through a recursive CTE; every arithmetic expression is written
    // in the Scala implementation's exact order — including (1 - 0.3)
    // kept as a subtraction, because the literal 0.7 is a DIFFERENT
    // IEEE double — so the 4dp forecasts hash-match
    "forecast_hw" ->
      """WITH RECURSIVE daily AS (
        |  SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP_US)) AS day,
        |         count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |ser AS (
        |  SELECT event_type, list(cnt ORDER BY day) AS ys, count(*) AS n
        |  FROM daily GROUP BY 1),
        |init AS (
        |  SELECT event_type, ys, n,
        |    list_avg(ys[1:7]) AS level,
        |    (list_avg(ys[8:14]) - list_avg(ys[1:7])) / 7 AS trend,
        |    list_transform(range(1, 8), i -> ys[i] - list_avg(ys[1:7])) AS seas,
        |    7 AS t
        |  FROM ser WHERE n >= 14),
        |step AS (
        |  SELECT event_type, ys, n, level, trend, seas, t FROM init
        |  UNION ALL
        |  SELECT event_type, ys, n,
        |    0.3*(ys[t+1] - seas[(t % 7) + 1]) + (1 - 0.3)*(level + trend),
        |    0.1*((0.3*(ys[t+1] - seas[(t % 7) + 1]) + (1 - 0.3)*(level + trend))
        |         - level) + (1 - 0.1)*trend,
        |    list_transform(seas, (x, i) -> CASE WHEN i = (t % 7) + 1
        |      THEN 0.2*(ys[t+1] - (0.3*(ys[t+1] - seas[(t % 7) + 1])
        |                           + (1 - 0.3)*(level + trend))) + (1 - 0.2)*x
        |      ELSE x END),
        |    t + 1
        |  FROM step WHERE t < n),
        |fin AS (SELECT * FROM step WHERE t = n)
        |SELECT event_type, h,
        |  round(level + h * trend + seas[((n + h - 1) % 7) + 1], 4) AS pred
        |FROM fin, LATERAL (SELECT unnest(range(1, 8)) AS h)
        |ORDER BY event_type, h""".stripMargin,
    // AR(2): moment sums are integer-valued doubles (exact,
    // order-independent), the Cramer formulas below repeat the Spark
    // expression strings character for character, and the recursive
    // CTE replays the unrolled forecast recursion — bit-identical 4dp
    "forecast_ar" ->
      """WITH RECURSIVE daily AS (
        |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
        |         count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |mx AS (SELECT max(day) AS mx FROM daily),
        |l AS (SELECT daily.*,
        |        lag(cnt, 1) OVER (PARTITION BY event_type ORDER BY day) AS l1,
        |        lag(cnt, 2) OVER (PARTITION BY event_type ORDER BY day) AS l2
        |      FROM daily),
        |train AS (
        |  SELECT event_type, day, CAST(cnt AS DOUBLE) AS y,
        |         CAST(l1 AS DOUBLE) AS x1, CAST(l2 AS DOUBLE) AS x2
        |  FROM l, mx WHERE day <= mx - INTERVAL 7 DAY AND l2 IS NOT NULL),
        |sums AS (
        |  SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
        |    sum(y) AS sy, sum(x1) AS s1, sum(x2) AS s2,
        |    sum(x1 * x1) AS s11, sum(x1 * x2) AS s12, sum(x2 * x2) AS s22,
        |    sum(x1 * y) AS s1y, sum(x2 * y) AS s2y,
        |    arg_max(y, day) AS y0, arg_max(x1, day) AS ym1,
        |    max(day) AS tday
        |  FROM train GROUP BY 1),
        |cf AS (
        |  SELECT *,
        |    n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + s2*(s1*s12 - s11*s2)
        |      AS det
        |  FROM sums),
        |c2 AS (
        |  SELECT event_type, tday, y0, ym1,
        |    (sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y) + s2*(s1y*s12 - s11*s2y)) / det AS c0,
        |    (n*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2) + s2*(s1*s2y - s1y*s2)) / det AS a1,
        |    (n*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2) + sy*(s1*s12 - s11*s2)) / det AS a2
        |  FROM cf WHERE n >= 4 AND det <> 0),
        |f AS (
        |  SELECT event_type, tday, c0, a1, a2, 0 AS h, y0 AS p1, ym1 AS p2
        |  FROM c2
        |  UNION ALL
        |  SELECT event_type, tday, c0, a1, a2, h + 1,
        |         c0 + a1 * p1 + a2 * p2, p1
        |  FROM f WHERE h < 7)
        |SELECT f.event_type AS event_type,
        |  tday + INTERVAL 1 DAY * h AS day,
        |  cnt AS actual, round(p1, 4) AS pred
        |FROM f JOIN daily ON daily.event_type = f.event_type
        |              AND daily.day = tday + INTERVAL 1 DAY * h
        |WHERE h >= 1
        |ORDER BY event_type, day""".stripMargin,
    // forecast_compare / forecast_ensemble: the three holdout
    // members' chains are ONE shared programmatic builder in
    // Forecast (compareOracleSql/ensembleOracleSql — the
    // adaboostOracleSql discipline), so a member-fit edit lands in
    // both oracles atomically
    "forecast_ensemble" -> graft.ops.Forecast.ensembleOracleSql,
    "forecast_compare" -> graft.ops.Forecast.compareOracleSql,
    // theta-lite: linear fit from exact integer-valued moment sums
    // (expression trees repeated character for character), SES over
    // the θ=2 line as a recursive CTE with (1 - 0.3) kept as a
    // subtraction — bit-identical 4dp (the forecast_hw contract)
    // forecast_croston: identical 0-filled calendar, identical
    // two-state recursion (pre-reset interval in the p update,
    // (1 - 0.3) kept as a subtraction), flat z/p rounded at output
    "forecast_croston" ->
      """WITH RECURSIVE evd AS (
        |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |         event_type, value FROM events),
        |span AS (SELECT min(day) AS mn, max(day) AS mx FROM evd),
        |types AS (SELECT DISTINCT event_type FROM evd),
        |sparse AS (SELECT event_type, day, count(*) AS cnt FROM evd
        |  WHERE value > 300 GROUP BY 1, 2),
        |cal AS (SELECT ty.event_type,
        |    unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS day
        |  FROM types ty, span),
        |filled AS (SELECT c.event_type, c.day,
        |    coalesce(s.cnt, 0) AS cnt
        |  FROM cal c LEFT JOIN sparse s USING (event_type, day)),
        |train AS (SELECT event_type, day, CAST(cnt AS DOUBLE) AS y,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) - 1
        |      AS t
        |  FROM filled, span WHERE day <= mx - INTERVAL 7 DAY),
        |nn AS (SELECT event_type, count(*) AS n, max(day) AS tday
        |  FROM train GROUP BY 1),
        |rec AS (
        |  SELECT event_type, t,
        |    CAST(CASE WHEN y > 0 THEN y ELSE 0.0 END AS DOUBLE) AS z,
        |    CAST(1.0 AS DOUBLE) AS p,
        |    CAST(CASE WHEN y > 0 THEN 1.0 ELSE 2.0 END AS DOUBLE) AS q,
        |    CASE WHEN y > 0 THEN 0 ELSE 1 END AS first
        |  FROM train WHERE t = 0
        |  UNION ALL
        |  SELECT tr.event_type, tr.t,
        |    CASE WHEN tr.y > 0 THEN
        |        CASE WHEN r.first = 1 THEN tr.y
        |             ELSE 0.3 * tr.y + (1 - 0.3) * r.z END
        |      ELSE r.z END,
        |    CASE WHEN tr.y > 0 THEN
        |        CASE WHEN r.first = 1 THEN r.q
        |             ELSE 0.3 * r.q + (1 - 0.3) * r.p END
        |      ELSE r.p END,
        |    CASE WHEN tr.y > 0 THEN 1.0 ELSE r.q + 1.0 END,
        |    CASE WHEN tr.y > 0 THEN 0 ELSE r.first END
        |  FROM train tr JOIN rec r ON tr.event_type = r.event_type
        |    AND tr.t = r.t + 1),
        |fin AS (SELECT r.event_type,
        |    CASE WHEN r.first = 1 THEN 0.0 ELSE r.z / r.p END AS f,
        |    nn.tday
        |  FROM rec r JOIN nn ON r.event_type = nn.event_type
        |  WHERE r.t = nn.n - 1),
        |fc AS (SELECT event_type,
        |    tday + INTERVAL 1 DAY * unnest(range(1, 8)) AS day,
        |    round(f, 4) AS pred
        |  FROM fin)
        |SELECT fc.event_type AS event_type, fc.day AS day,
        |  CAST(fl.cnt AS BIGINT) AS actual, fc.pred AS pred
        |FROM fc JOIN filled fl ON fl.event_type = fc.event_type
        |  AND fl.day = fc.day
        |ORDER BY event_type, day""".stripMargin,
    "forecast_theta" ->
      """WITH RECURSIVE daily AS (
        |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
        |         count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |mx AS (SELECT max(day) AS mx FROM daily),
        |train AS (
        |  SELECT event_type, day, CAST(cnt AS DOUBLE) AS y,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY day) - 1
        |         AS DOUBLE) AS t
        |  FROM daily, mx WHERE day <= mx - INTERVAL 7 DAY),
        |sums AS (
        |  SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
        |    sum(t) AS st, sum(y) AS sy, sum(t * t) AS stt, sum(t * y) AS sty,
        |    max(day) AS tday
        |  FROM train GROUP BY 1),
        |bb AS (
        |  SELECT event_type, n, tday, st, sy,
        |    (n * sty - st * sy) / (n * stt - st * st) AS b
        |  FROM sums WHERE n >= 2 AND (n * stt - st * st) <> 0),
        |ab AS (SELECT event_type, n, tday, b, (sy - b * st) / n AS a FROM bb),
        |z AS (
        |  SELECT tr.event_type, tr.t, 2 * tr.y - (ab.a + ab.b * tr.t) AS z,
        |         ab.a, ab.b, ab.n, ab.tday
        |  FROM train tr JOIN ab ON tr.event_type = ab.event_type),
        |ses AS (
        |  SELECT event_type, t, z AS e, a, b, n, tday FROM z WHERE t = 0
        |  UNION ALL
        |  SELECT z.event_type, z.t, 0.3 * z.z + (1 - 0.3) * ses.e,
        |         z.a, z.b, z.n, z.tday
        |  FROM z JOIN ses ON z.event_type = ses.event_type
        |                 AND z.t = ses.t + 1),
        |fin AS (SELECT * FROM ses WHERE t = n - 1),
        |f AS (SELECT event_type, tday, a, b, n, e,
        |             unnest(range(1, 8)) AS h
        |      FROM fin),
        |p AS (SELECT event_type, tday + INTERVAL 1 DAY * h AS day,
        |        round(0.5 * (a + b * (n - 1 + h)) + 0.5 * e, 4) AS pred
        |      FROM f)
        |SELECT p.event_type AS event_type, p.day AS day,
        |       d.cnt AS actual, p.pred AS pred
        |FROM p JOIN daily d ON d.event_type = p.event_type
        |                   AND d.day = p.day
        |ORDER BY event_type, day""".stripMargin,
    // pure-integer conformal band: counts, lag-7 preds, |resid|
    // order statistic at rank ⌈keep(n+1)/100⌉ (integer ceil), ±q̂
    "forecast_conformal" ->
      """WITH daily AS (
        |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |         event_type, CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |mx AS (SELECT max(day) AS mx FROM daily),
        |l AS (SELECT daily.*, lag(cnt, 7) OVER (PARTITION BY event_type
        |        ORDER BY day) AS lagp FROM daily),
        |tr AS (SELECT l.event_type, abs(cnt - lagp) AS ar, day FROM l, mx
        |       WHERE day <= mx - INTERVAL 7 DAY AND lagp IS NOT NULL),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |         ORDER BY ar, day) AS rn,
        |         count(*) OVER (PARTITION BY event_type) AS n FROM tr),
        |q AS (SELECT event_type, ar AS qhat,
        |        (90 * (n + 1) + 99) // 100 > n AS clamped
        |      FROM rk WHERE rn = least((90 * (n + 1) + 99) // 100, n))
        |SELECT l.event_type AS event_type, day, cnt AS actual,
        |  lagp AS pred, lagp - qhat AS lo, lagp + qhat AS hi,
        |  cnt BETWEEN lagp - qhat AND lagp + qhat AS covered, clamped
        |FROM l, mx, q
        |WHERE day > mx - INTERVAL 7 DAY AND lagp IS NOT NULL
        |  AND q.event_type = l.event_type
        |ORDER BY event_type, day""".stripMargin,
    "forecast_snaive" ->
      """WITH daily AS (
        |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
        |         count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |mx AS (SELECT max(day) AS mx FROM daily),
        |l AS (SELECT daily.*, lag(cnt, 7) OVER (PARTITION BY event_type ORDER BY day) AS lagp
        |      FROM daily),
        |train AS (
        |  SELECT l.event_type, cnt - lagp AS resid FROM l, mx
        |  WHERE day <= mx - INTERVAL 7 DAY AND lagp IS NOT NULL),
        |qs AS (
        |  SELECT event_type, quantile_cont(resid, 0.1) AS q10,
        |         quantile_cont(resid, 0.5) AS q50, quantile_cont(resid, 0.9) AS q90
        |  FROM train GROUP BY event_type)
        |SELECT l.event_type AS event_type, day, cnt AS actual,
        |  round(lagp + q50, 4) AS pred, round(lagp + q10, 4) AS lo,
        |  round(lagp + q90, 4) AS hi
        |FROM l, mx, qs
        |WHERE day > mx - INTERVAL 7 DAY AND qs.event_type = l.event_type
        |ORDER BY event_type, day""".stripMargin,
    "forecast_eval" ->
      """WITH daily AS (
        |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
        |         count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |mx AS (SELECT max(day) AS mx FROM daily),
        |l AS (SELECT daily.*, lag(cnt, 7) OVER (PARTITION BY event_type ORDER BY day) AS lagp
        |      FROM daily),
        |train AS (
        |  SELECT l.event_type, cnt - lagp AS resid FROM l, mx
        |  WHERE day <= mx - INTERVAL 7 DAY AND lagp IS NOT NULL),
        |qs AS (
        |  SELECT event_type, quantile_cont(resid, 0.1) AS q10,
        |         quantile_cont(resid, 0.5) AS q50, quantile_cont(resid, 0.9) AS q90
        |  FROM train GROUP BY event_type),
        |f AS (
        |  SELECT l.event_type AS event_type, cnt AS actual,
        |    round(lagp + q50, 4) AS pred, round(lagp + q10, 4) AS lo,
        |    round(lagp + q90, 4) AS hi
        |  FROM l, mx, qs
        |  WHERE day > mx - INTERVAL 7 DAY AND qs.event_type = l.event_type)
        |SELECT event_type, round(avg(abs(actual - pred)), 4) AS mae,
        | round(avg(CASE WHEN actual >= lo AND actual <= hi
        |           THEN 1.0 ELSE 0.0 END), 4) AS coverage
        |FROM f GROUP BY event_type ORDER BY event_type""".stripMargin,
    "dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,
    // identical name construction + (first char + last-3) blocking +
    // length filter + levenshtein (same classic DP metric in both)
    "dedup_fuzzy" ->
      """WITH base AS (
        |  SELECT doc_id AS id,
        |    (CASE doc_id % 6 WHEN 0 THEN 'alpha' WHEN 1 THEN 'bravo'
        |       WHEN 2 THEN 'charlie' WHEN 3 THEN 'delta'
        |       WHEN 4 THEN 'echo' ELSE 'foxtrot' END) || '-' ||
        |    (CASE doc_id % 7 WHEN 0 THEN 'north' WHEN 1 THEN 'south'
        |       WHEN 2 THEN 'east' WHEN 3 THEN 'west' WHEN 4 THEN 'upper'
        |       WHEN 5 THEN 'lower' ELSE 'central' END) || '-' ||
        |    lpad(CAST(doc_id AS VARCHAR), 8, '0') AS name
        |  FROM documents),
        |recs AS (
        |  SELECT id, name FROM base
        |  UNION ALL
        |  SELECT id + 100000000, substr(name, 1, 1) || substr(name, 3)
        |  FROM base WHERE id % 5 = 0),
        |a AS (SELECT id AS id_a, name AS name_a,
        |             substr(name, 1, 1) || right(name, 3) AS blk FROM recs),
        |b AS (SELECT id AS id_b, name AS name_b,
        |             substr(name, 1, 1) || right(name, 3) AS blk FROM recs)
        |SELECT id_a, id_b, levenshtein(name_a, name_b) AS dist
        |FROM a JOIN b USING (blk)
        |WHERE id_a < id_b
        |  AND abs(length(name_a) - length(name_b)) <= 2
        |  AND levenshtein(name_a, name_b) <= 2
        |ORDER BY id_a, id_b""".stripMargin,
    // extends the dedup_substring replay: duplicated grams cover
    // their n positions, kept words rebuild in position order
    "text_trim_dup_spans" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents),
        |g AS (SELECT doc_id, i, array_to_string(ws[i:i+9], ' ') AS gram
        |      FROM w, LATERAL (SELECT unnest(range(1, len(ws) - 8)) AS i)
        |      WHERE len(ws) >= 10),
        |dup AS (SELECT gram FROM g GROUP BY gram
        |        HAVING count(DISTINCT doc_id) >= 2),
        |cov AS (SELECT DISTINCT doc_id, i + o AS wpos
        |        FROM g JOIN dup USING (gram),
        |             LATERAL (SELECT unnest(range(0, 10)) AS o)),
        |words AS (SELECT doc_id, wpos, ws[wpos] AS word
        |          FROM w, LATERAL (SELECT unnest(range(1, len(ws) + 1))
        |                           AS wpos)),
        |kept AS (SELECT doc_id, count(*) AS n_kept,
        |                string_agg(word, ' ' ORDER BY wpos) AS text_trimmed
        |         FROM words ANTI JOIN cov USING (doc_id, wpos)
        |         GROUP BY doc_id)
        |SELECT w.doc_id, CAST(len(ws) AS BIGINT) AS n_words,
        |  CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
        |  coalesce(text_trimmed, '') AS text_trimmed
        |FROM w LEFT JOIN kept USING (doc_id) ORDER BY doc_id""".stripMargin,
    // full replay of the 10-gram inverted index over gram STRINGS
    // (no hashing): dup = gram in ≥2 distinct docs, counted per
    // position per doc — exactly the operator's semantics
    "dedup_substring" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents),
        |g AS (SELECT doc_id, array_to_string(ws[i:i+9], ' ') AS gram
        |      FROM w, LATERAL (SELECT unnest(range(1, len(ws) - 8)) AS i)
        |      WHERE len(ws) >= 10),
        |dup AS (SELECT gram FROM g GROUP BY gram
        |        HAVING count(DISTINCT doc_id) >= 2),
        |d AS (SELECT doc_id, count(*) AS dup FROM g
        |      JOIN dup USING (gram) GROUP BY 1)
        |SELECT w.doc_id,
        |  CAST(greatest(len(ws) - 9, 0) AS BIGINT) AS n_ngrams,
        |  CAST(coalesce(dup, 0) AS BIGINT) AS dup_ngrams,
        |  CASE WHEN len(ws) >= 10
        |       THEN CAST((CAST(coalesce(dup, 0) AS HUGEINT) * 20000 +
        |             (len(ws) - 9)) // (2 * (len(ws) - 9)) AS BIGINT)
        |         / 10000.0
        |       ELSE 0.0 END AS dup_frac
        |FROM w LEFT JOIN d USING (doc_id) ORDER BY doc_id""".stripMargin,
    // dedup_minhash shares the exact-Jaccard oracle: LSH banding at
    // 16x4 has ~6e-4 miss probability per J≥0.8 pair and candidates
    // are exact-verified, so its output equals the exact algorithm's
    // on this corpus (asserted in DedupSpec and at sf0.01).
    // the incremental fold's oracle is the FULL recompute over the
    // undivided corpus — it knows nothing of the history/delta split,
    // so fold(state, delta) must equal recompute(history ∪ delta)
    // pair for pair (the etl_incremental_agg proof shape); text is
    // the dedup_minhash oracle verbatim
    "dedup_incremental_index" ->
      graft.ops.DedupOps.minhashRecomputeOracleSql,
    // the persisted round-trip face answers to the SAME recompute
    "dedup_incremental_index_persisted" ->
      graft.ops.DedupOps.minhashRecomputeOracleSql,
    // the capped face's DECLARED contract is weaker — "equal to the
    // recompute when no bucket exceeds the cap" — and this corpus
    // satisfies the premise (largest (band,bsig) bucket << 1000), so
    // the same recompute oracle checks the equality branch; the
    // hot-bucket branch is DedupSpec-pinned (strict subset, linear)
    "dedup_incremental_index_capped" ->
      graft.ops.DedupOps.minhashRecomputeOracleSql,
    "dedup_minhash" ->
      graft.ops.DedupOps.minhashRecomputeOracleSql,
    // complete cross-engine replay of the md5-60bit SimHash face:
    // per-token bit votes → sign-thresholded signature → all-pairs
    // hamming ≤ 7 (the oracle's shape for Spark's exact banded
    // index) → exact string-shingle Jaccard ≥ 0.8
    // both simhash band widths share one builder-generated member
    // chain (DedupOps.simhashOracleSql) — only the hamming bound
    // differs, so an edit to the signature/shingle chain cannot
    // silently diverge between the two faces
    "dedup_simhash" -> DedupOps.simhashOracleSql(maxHamming = 7),
    "dedup_simhash_wide" -> DedupOps.simhashOracleSql(maxHamming = 5),
    "dedup_ngram_jaccard" ->
      """WITH tok AS (SELECT doc_id, string_split(trim(text), ' ') AS t
        |             FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |  unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
        |    i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
        |  FROM tok WHERE len(t) >= 3),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS common
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id1, id2,
        |  round(common * 1.0 / (x.n + y.n - common), 4) AS jaccard
        |FROM pairs JOIN sz x ON x.doc_id = id1 JOIN sz y ON y.doc_id = id2
        |WHERE round(common * 1.0 / (x.n + y.n - common), 4) >= 0.8
        |ORDER BY id1, id2""".stripMargin,
    // The composed pipeline, stage for stage: the quality predicate is
    // text_quality's, the dedup keep-set is dedup_exact's, and the
    // contamination set is dedup_decontaminate's exact-Jaccard face.
    // the planted URL is built so canonicalization has a CLOSED FORM
    // (scheme/host lowercase, :80 dropped, trailing slash + fragment
    // stripped, every query param is tracking ⇒ the whole query goes):
    // canonical = http://example.com/p/(doc_id div 3). The oracle
    // derives it directly; the Spark side must get there through the
    // real parser — a rule regression breaks the hash
    "curate_web" ->
      """WITH canon AS (
        |  SELECT doc_id, text,
        |    'http://example.com/p/' || CAST(doc_id // 3 AS VARCHAR) AS canonical
        |  FROM documents),
        |first AS (SELECT min(doc_id) AS doc_id FROM canon GROUP BY canonical),
        |pages AS (SELECT c.* FROM canon c JOIN first USING (doc_id)),
        |tk AS (SELECT doc_id, canonical, text,
        |         string_split_regex(trim(text), '\s+') AS tk FROM pages),
        |good AS (
        |  SELECT doc_id, canonical, text FROM tk
        |  WHERE length(text) >= 100
        |    AND round(len(list_filter(tk,
        |      x -> list_contains(['the','a','and','of','to','in','is'], x)))
        |      * 1.0 / len(tk), 4) >= 0.01),
        |keep AS (SELECT min(doc_id) AS doc_id FROM good GROUP BY text)
        |SELECT g.doc_id, g.canonical FROM good g JOIN keep USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "curate_corpus" ->
      """WITH tok0 AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk, text
        |  FROM documents WHERE doc_id % 2 = 0),
        |good AS (
        |  SELECT doc_id, text FROM tok0
        |  WHERE length(text) >= 100
        |    AND round(len(list_filter(tk,
        |      x -> list_contains(['the','a','and','of','to','in','is'], x)))
        |      * 1.0 / len(tk), 4) >= 0.01),
        |keep AS (SELECT min(doc_id) AS doc_id FROM good GROUP BY text),
        |tok AS (SELECT doc_id, string_split(trim(text), ' ') AS t
        |        FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |  unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
        |    i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
        |  FROM tok WHERE len(t) >= 3),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |cnt AS (
        |  SELECT a.doc_id AS doc_id, b.doc_id AS ref_id, count(*) AS common
        |  FROM sh a JOIN sh b ON a.s = b.s
        |  WHERE a.doc_id IN (SELECT doc_id FROM keep) AND b.doc_id % 2 = 1
        |  GROUP BY 1, 2),
        |cont AS (
        |  SELECT DISTINCT cnt.doc_id
        |  FROM cnt JOIN sz x ON x.doc_id = cnt.doc_id
        |           JOIN sz y ON y.doc_id = ref_id
        |  WHERE round(common * 1.0 / (x.n + y.n - common), 4) >= 0.8)
        |SELECT doc_id FROM keep
        |WHERE doc_id NOT IN (SELECT doc_id FROM cont)
        |ORDER BY doc_id""".stripMargin,
    // curate_funnel: the curate_corpus stage CTEs + the token-budget
    // running sum, each stage surfaced as a (docs, tokens) row
    "curate_funnel" ->
      """WITH c0 AS (SELECT doc_id, text,
        |    string_split_regex(trim(text), '\s+') AS tk
        |  FROM documents WHERE doc_id % 2 = 0),
        |nt AS (SELECT doc_id, text, CAST(len(tk) AS BIGINT) AS nt,
        |    round(len(list_filter(tk,
        |      x -> list_contains(['the','a','and','of','to','in','is'],
        |        x))) * 1.0 / len(tk), 4) AS score
        |  FROM c0),
        |good AS (SELECT doc_id, text, nt, score FROM nt
        |  WHERE length(text) >= 100 AND score >= 0.01),
        |keep AS (SELECT min(doc_id) AS doc_id FROM good GROUP BY text),
        |s2 AS (SELECT g.doc_id, g.nt, g.score FROM good g
        |       JOIN keep USING (doc_id)),
        |tok AS (SELECT doc_id, string_split(trim(text), ' ') AS t
        |        FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |  unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
        |    i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
        |  FROM tok WHERE len(t) >= 3),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |cnt AS (
        |  SELECT a.doc_id AS doc_id, b.doc_id AS ref_id,
        |    count(*) AS common
        |  FROM sh a JOIN sh b ON a.s = b.s
        |  WHERE a.doc_id IN (SELECT doc_id FROM s2) AND b.doc_id % 2 = 1
        |  GROUP BY 1, 2),
        |cont AS (
        |  SELECT DISTINCT cnt.doc_id
        |  FROM cnt JOIN sz x ON x.doc_id = cnt.doc_id
        |           JOIN sz y ON y.doc_id = ref_id
        |  WHERE round(common * 1.0 / (x.n + y.n - common), 4) >= 0.8),
        |s3 AS (SELECT * FROM s2
        |  WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
        |bud AS (SELECT doc_id, nt FROM (
        |    SELECT doc_id, nt, CAST(sum(nt) OVER (ORDER BY score DESC,
        |      doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |    FROM s3) WHERE cum <= 20000)
        |SELECT * FROM (
        |  SELECT CAST(0 AS BIGINT) AS stage, 'raw' AS stage_name,
        |    CAST(count(*) AS BIGINT) AS docs,
        |    CAST(coalesce(sum(nt), 0) AS BIGINT) AS tokens FROM nt
        |  UNION ALL SELECT 1, 'quality_gate', CAST(count(*) AS BIGINT),
        |    CAST(coalesce(sum(nt), 0) AS BIGINT) FROM good
        |  UNION ALL SELECT 2, 'exact_dedup', CAST(count(*) AS BIGINT),
        |    CAST(coalesce(sum(nt), 0) AS BIGINT) FROM s2
        |  UNION ALL SELECT 3, 'decontaminated', CAST(count(*) AS BIGINT),
        |    CAST(coalesce(sum(nt), 0) AS BIGINT) FROM s3
        |  UNION ALL SELECT 4, 'token_budget', CAST(count(*) AS BIGINT),
        |    CAST(coalesce(sum(nt), 0) AS BIGINT) FROM bud)
        |ORDER BY stage""".stripMargin,
    // The quality ranking is text_quality's stopword_ratio (4dp,
    // hash-proven identical across engines) with a doc_id tiebreak;
    // the running total casts back to BIGINT so DuckDB's HUGEINT
    // window sum can't flip the dtype.
    "curate_token_budget" ->
      """WITH q AS (
        |  SELECT doc_id,
        |   round(len(list_filter(string_split_regex(trim(text), '\s+'),
        |     x -> list_contains(['the','a','and','of','to','in','is'], x)))
        |     * 1.0 / len(string_split_regex(trim(text), '\s+')), 4) AS score,
        |   len(string_split_regex(trim(text), '\s+')) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, score, CAST(n_tokens AS BIGINT) AS n_tokens,
        |   CAST(sum(n_tokens) OVER (ORDER BY score DESC, doc_id
        |     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |  FROM q)
        |SELECT doc_id, score, n_tokens, cum_tokens FROM c
        |WHERE cum_tokens <= 20000 ORDER BY cum_tokens""".stripMargin,
    // Transitive closure over the same exact-Jaccard pair set the
    // dedup_minhash oracle derives; cluster id = component minimum.
    "dedup_clusters" ->
      """WITH RECURSIVE tok AS (SELECT doc_id, string_split(trim(text), ' ') AS t
        |             FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |  unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
        |    i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
        |  FROM tok WHERE len(t) >= 3),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |cnt AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS common
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |p0 AS (
        |  SELECT id1, id2 FROM cnt
        |  JOIN sz x ON x.doc_id = id1 JOIN sz y ON y.doc_id = id2
        |  WHERE round(common * 1.0 / (x.n + y.n - common), 4) >= 0.8),
        |edges AS (SELECT id1 AS a, id2 AS b FROM p0
        |          UNION ALL SELECT id2, id1 FROM p0),
        |walk(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT w.a, e.b FROM walk w JOIN edges e ON w.b = e.a)
        |SELECT a AS doc_id, least(a, min(b)) AS cluster_id
        |FROM walk GROUP BY a ORDER BY doc_id""".stripMargin,
    // dedup_clusters' component closure + the quality ranking: keep =
    // argmax stopword_ratio (4dp) per cluster, doc_id tiebreak
    "curate_canonical" ->
      """WITH RECURSIVE tok AS (SELECT doc_id, string_split(trim(text), ' ') AS t
        |             FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |  unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
        |    i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
        |  FROM tok WHERE len(t) >= 3),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |cnt AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS common
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |p0 AS (
        |  SELECT id1, id2 FROM cnt
        |  JOIN sz x ON x.doc_id = id1 JOIN sz y ON y.doc_id = id2
        |  WHERE round(common * 1.0 / (x.n + y.n - common), 4) >= 0.8),
        |edges AS (SELECT id1 AS a, id2 AS b FROM p0
        |          UNION ALL SELECT id2, id1 FROM p0),
        |walk(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT w.a, e.b FROM walk w JOIN edges e ON w.b = e.a),
        |c AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
        |      FROM walk GROUP BY a),
        |tk2 AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
        |        FROM documents),
        |qual AS (SELECT doc_id,
        |  round(len(list_filter(tk,
        |    x -> list_contains(['the','a','and','of','to','in','is'], x)))
        |    * 1.0 / len(tk), 4) AS q
        |  FROM tk2),
        |r AS (SELECT c.cluster_id, c.doc_id, q,
        |        row_number() OVER (PARTITION BY cluster_id
        |          ORDER BY q DESC, c.doc_id) AS rn,
        |        count(*) OVER (PARTITION BY cluster_id) AS n_members
        |      FROM c JOIN qual USING (doc_id))
        |SELECT cluster_id, doc_id AS keep_id, q,
        |  CAST(n_members AS BIGINT) AS n_members
        |FROM r WHERE rn = 1 ORDER BY cluster_id""".stripMargin,
    // Same exact-Jaccard contract as dedup_minhash (banding misses are
    // ~6e-4 per J≥0.8 pair and candidates are exact-verified), across
    // the even/odd corpus split.
    "dedup_decontaminate" ->
      """WITH tok AS (SELECT doc_id, string_split(trim(text), ' ') AS t
        |             FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |  unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
        |    i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
        |  FROM tok WHERE len(t) >= 3),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id AS doc_id, b.doc_id AS ref_id, count(*) AS common
        |  FROM sh a JOIN sh b ON a.s = b.s
        |  WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
        |  GROUP BY 1, 2)
        |SELECT pairs.doc_id AS doc_id, ref_id,
        |  round(common * 1.0 / (x.n + y.n - common), 4) AS jaccard
        |FROM pairs JOIN sz x ON x.doc_id = pairs.doc_id
        |           JOIN sz y ON y.doc_id = ref_id
        |WHERE round(common * 1.0 / (x.n + y.n - common), 4) >= 0.8
        |ORDER BY doc_id, ref_id""".stripMargin,
    // containment divides by the REFERENCE set size only — the oracle
    // recomputes it from raw string shingles, filtering on the same
    // unrounded IEEE ratio the Spark side filters on
    "dedup_containment" ->
      """WITH tok AS (SELECT doc_id, string_split(trim(text), ' ') AS t
        |             FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |  unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
        |    i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
        |  FROM tok WHERE len(t) >= 3),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id AS doc_id, b.doc_id AS ref_id, count(*) AS common
        |  FROM sh a JOIN sh b ON a.s = b.s
        |  WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
        |  GROUP BY 1, 2)
        |SELECT pairs.doc_id AS doc_id, ref_id,
        |  round(common * 1.0 / y.n, 4) AS containment
        |FROM pairs JOIN sz y ON y.doc_id = ref_id
        |WHERE common * 1.0 / y.n >= 0.6
        |ORDER BY doc_id, ref_id""".stripMargin,
    // the span locator replays the full cross-corpus 10-gram index
    // over gram STRINGS, then the same lag-window island merge: two
    // matched grams share a span when their covered ranges touch or
    // overlap (pos ≤ prev + 10)
    "dedup_decontaminate_spans" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents),
        |g AS (SELECT doc_id, i AS pos, array_to_string(ws[i:i+9], ' ') AS gram
        |      FROM w, LATERAL (SELECT unnest(range(1, len(ws) - 8)) AS i)
        |      WHERE len(ws) >= 10),
        |m AS (SELECT DISTINCT c.doc_id, r.doc_id AS ref_id, c.pos
        |      FROM g c JOIN g r USING (gram)
        |      WHERE c.doc_id % 2 = 0 AND r.doc_id % 2 = 1),
        |s AS (SELECT doc_id, ref_id, pos,
        |        CASE WHEN lag(pos) OVER pw IS NULL
        |             OR pos > lag(pos) OVER pw + 10 THEN 1 ELSE 0 END AS brk
        |      FROM m WINDOW pw AS (PARTITION BY doc_id, ref_id ORDER BY pos)),
        |isl AS (SELECT doc_id, ref_id, pos,
        |          sum(brk) OVER (PARTITION BY doc_id, ref_id
        |                         ORDER BY pos) AS grp
        |        FROM s),
        |sp AS (SELECT doc_id, ref_id,
        |         min(pos) AS span_start, max(pos) + 9 AS span_end
        |       FROM isl GROUP BY doc_id, ref_id, grp)
        |SELECT sp.doc_id AS doc_id, ref_id,
        |  CAST(span_start AS BIGINT) AS span_start,
        |  CAST(span_end AS BIGINT) AS span_end,
        |  CAST(span_end - span_start + 1 AS BIGINT) AS span_words,
        |  array_to_string(ws[span_start:span_end], ' ') AS span_text
        |FROM sp JOIN w ON sp.doc_id = w.doc_id
        |ORDER BY sp.doc_id, ref_id, span_start""".stripMargin,
    // full replay of the checked signature construction: per-doc
    // md5("i:shingle") component minima, 16×4 banding on the
    // component lists, candidate equi-join, agreement fraction —
    // every number integer-deterministic in both engines
    "dedup_minhash_est" ->
      """WITH tok AS (SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS t FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
        |      i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
        |  FROM tok WHERE len(t) >= 3),
        |comp AS (SELECT doc_id, i,
        |    min((('0x' || substr(md5(i::VARCHAR || ':' || s), 1, 15))
        |      ::UBIGINT)::BIGINT) AS m
        |  FROM sh CROSS JOIN range(64) r(i) GROUP BY 1, 2),
        |band AS (SELECT doc_id, i // 4 AS b, list(m ORDER BY i) AS sig
        |  FROM comp GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
        |  FROM band a JOIN band b
        |    ON a.b = b.b AND a.sig = b.sig AND a.doc_id < b.doc_id),
        |agr AS (SELECT id1, id2,
        |    count(*) FILTER (WHERE x.m = y.m) AS agree
        |  FROM cand JOIN comp x ON x.doc_id = id1
        |       JOIN comp y ON y.doc_id = id2 AND y.i = x.i
        |  GROUP BY 1, 2)
        |SELECT id1, id2,
        |  CAST((CAST(agree AS HUGEINT) * 20000 + 64) // 128 AS BIGINT)
        |    / 10000.0 AS est_jaccard
        |FROM agr
        |WHERE CAST((CAST(agree AS HUGEINT) * 20000 + 64) // 128 AS BIGINT)
        |    / 10000.0 >= 0.5
        |ORDER BY id1, id2""".stripMargin,
    // the report replays the distinct-gram-set join per reference
    // doc; leak_frac uses the shared half-up 4dp integer rounding
    "dedup_decontaminate_report" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents),
        |g AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+9], ' ') AS gram
        |      FROM w, LATERAL (SELECT unnest(range(1, len(ws) - 8)) AS i)
        |      WHERE len(ws) >= 10),
        |refg AS (SELECT doc_id AS ref_id, gram FROM g WHERE doc_id % 2 = 1),
        |corp AS (SELECT doc_id, gram FROM g WHERE doc_id % 2 = 0),
        |tot AS (SELECT ref_id, count(*) AS n_grams FROM refg GROUP BY 1),
        |lk AS (SELECT ref_id, count(DISTINCT gram) AS n_leaked,
        |              count(DISTINCT corp.doc_id) AS n_carriers
        |       FROM refg JOIN corp USING (gram) GROUP BY 1)
        |SELECT w.doc_id AS ref_id,
        |  CAST(coalesce(n_grams, 0) AS BIGINT) AS n_grams,
        |  CAST(coalesce(n_leaked, 0) AS BIGINT) AS n_leaked,
        |  CASE WHEN coalesce(n_grams, 0) > 0
        |       THEN CAST((CAST(coalesce(n_leaked, 0) AS HUGEINT) * 20000
        |              + n_grams) // (2 * n_grams) AS BIGINT) / 10000.0
        |       ELSE 0.0 END AS leak_frac,
        |  CAST(coalesce(n_carriers, 0) AS BIGINT) AS n_carriers
        |FROM w LEFT JOIN tot ON tot.ref_id = w.doc_id
        |       LEFT JOIN lk ON lk.ref_id = w.doc_id
        |WHERE w.doc_id % 2 = 1 ORDER BY ref_id""".stripMargin,
    // the cut face extends the text_trim_dup_spans replay cross
    // corpus: covered = corpus gram positions whose gram appears in
    // ANY odd-parity doc; kept words rebuild in position order
    "dedup_decontaminate_cut" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents),
        |g AS (SELECT doc_id, i, array_to_string(ws[i:i+9], ' ') AS gram
        |      FROM w, LATERAL (SELECT unnest(range(1, len(ws) - 8)) AS i)
        |      WHERE len(ws) >= 10),
        |ref AS (SELECT DISTINCT gram FROM g WHERE doc_id % 2 = 1),
        |cov AS (SELECT DISTINCT doc_id, i + o AS wpos
        |        FROM g JOIN ref USING (gram),
        |             LATERAL (SELECT unnest(range(0, 10)) AS o)
        |        WHERE doc_id % 2 = 0),
        |words AS (SELECT doc_id, wpos, ws[wpos] AS word
        |          FROM w, LATERAL (SELECT unnest(range(1, len(ws) + 1))
        |                           AS wpos)
        |          WHERE doc_id % 2 = 0),
        |kept AS (SELECT doc_id, count(*) AS n_kept,
        |                string_agg(word, ' ' ORDER BY wpos) AS text_trimmed
        |         FROM words ANTI JOIN cov USING (doc_id, wpos)
        |         GROUP BY doc_id)
        |SELECT w.doc_id, CAST(len(ws) AS BIGINT) AS n_words,
        |  CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
        |  coalesce(text_trimmed, '') AS text_trimmed
        |FROM w LEFT JOIN kept USING (doc_id)
        |WHERE w.doc_id % 2 = 0 ORDER BY doc_id""".stripMargin,
    "text_tokens" ->
      """SELECT doc_id,
        | len(string_split_regex(trim(text), '\s+')) AS ws_tokens,
        | len(regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9\s]')) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    // text_gopher_gates: identical split/regex primitives; DuckDB
    // regexp_replace needs the 'g' flag to match Spark's replace-all
    "text_gopher_gates" ->
      """SELECT doc_id, n_words, mean_word_len, symbol_ratio,
        |  bullet_ratio, ellipsis_ratio, alpha_ratio, stop_hits,
        |  (n_words >= 50 AND n_words <= 100000 AND
        |   mean_word_len >= 3 AND mean_word_len <= 10 AND
        |   symbol_ratio <= 0.1 AND bullet_ratio <= 0.9 AND
        |   ellipsis_ratio <= 0.3 AND alpha_ratio >= 0.8 AND
        |   stop_hits >= 2) AS pass
        |FROM (
        |  SELECT doc_id,
        |   len(string_split_regex(trim(text), '\s+')) AS n_words,
        |   round(length(regexp_replace(trim(text), '\s+', '', 'g'))
        |     * 1.0 / len(string_split_regex(trim(text), '\s+')), 4)
        |     AS mean_word_len,
        |   round(len(regexp_extract_all(text, '[#…]')) * 1.0 /
        |     len(string_split_regex(trim(text), '\s+')), 4)
        |     AS symbol_ratio,
        |   round(len(list_filter(string_split(text, chr(10)),
        |       x -> regexp_matches(x, '^\s*[-*•]'))) * 1.0 /
        |     len(string_split(text, chr(10))), 4) AS bullet_ratio,
        |   round(len(list_filter(string_split(text, chr(10)),
        |       x -> regexp_matches(x, '(\.\.\.|…)\s*$'))) * 1.0 /
        |     len(string_split(text, chr(10))), 4) AS ellipsis_ratio,
        |   round(len(list_filter(string_split_regex(trim(text), '\s+'),
        |       x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 /
        |     len(string_split_regex(trim(text), '\s+')), 4)
        |     AS alpha_ratio,
        |   CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |       x -> list_contains(['the','be','to','of','and','that',
        |         'have','with'], x))) AS BIGINT) AS stop_hits
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      """SELECT doc_id, len, n_tokens, stopword_ratio, punct_ratio,
        | CASE WHEN len >= 100 AND stopword_ratio >= 0.01
        |      THEN 'good' ELSE 'low' END AS quality_flag
        |FROM (
        |  SELECT doc_id, length(text) AS len,
        |   len(string_split_regex(trim(text), '\s+')) AS n_tokens,
        |   round(len(list_filter(string_split_regex(trim(text), '\s+'),
        |     x -> list_contains(['the','a','and','of','to','in','is'], x)))
        |     * 1.0 / len(string_split_regex(trim(text), '\s+')), 4)
        |     AS stopword_ratio,
        |   round(len(regexp_extract_all(text, '[.,;:!?]')) * 1.0
        |     / length(text), 4) AS punct_ratio
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,
    // Exact all-pairs cosine baseline; the LSH face (embeddingPairsLsh)
    // is spec-verified on planted near-identical vectors instead.
    "dedup_embedding" ->
      s"""SELECT a.vec_id AS id1, b.vec_id AS id2,
        | round(${graft.ops.SimilarityOps.qcosSql("CAST(a.embedding AS DOUBLE[])", "CAST(b.embedding AS DOUBLE[])")}, 4) AS cosine
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE round(${graft.ops.SimilarityOps.qcosSql("CAST(a.embedding AS DOUBLE[])", "CAST(b.embedding AS DOUBLE[])")}, 4) >= 0.45
        |ORDER BY id1, id2""".stripMargin,
    // Deterministic fixed-seed LSH/IVF — replicated plane-for-plane in
    // SQL by the generators in SimilarityOps (see the precision
    // contract documented there).
    "dedup_embedding_lsh" -> graft.ops.SimilarityOps.embeddingLshOracleSql,
    // SemDeDup: the Lloyd's loop unrolled on shifted integer
    // coordinates, then the in-cluster HUGEINT cosine gate
    "dedup_semantic" -> graft.ops.DedupOps.semanticDedupOracleSql,
    "curate_dsir" -> graft.ops.CurateOps.dsirOracleSql,
    "curate_mix_temperature" ->
      graft.ops.CurateOps.mixTemperatureOracleSql,
    "curate_shard_export" ->
      graft.ops.CurateOps.shardExportOracleSql,
    "curate_pack_sequences" ->
      graft.ops.CurateOps.packSequencesOracleSql,
    "curate_pack_stats" ->
      graft.ops.CurateOps.packStatsOracleSql,
    "curate_pack_bpe" ->
      graft.ops.CurateOps.packSequencesBpeOracleSql,
    "curate_pack_bpe_stats" ->
      graft.ops.CurateOps.packStatsBpeOracleSql,
    "text_ccnet_buckets" -> graft.ops.TextOps.ccnetBucketsOracleSql,
    "ann_lsh_topk" -> graft.ops.SimilarityOps.lshOracleSql,
    "ann_ivf_topk" -> graft.ops.SimilarityOps.ivfOracleSql,
    "ann_ivf_topk_sampled" -> graft.ops.SimilarityOps.ivfSampledOracleSql,
    "ann_ivf_recall" -> graft.ops.SimilarityOps.ivfRecallOracleSql,
    "ann_ivf_sampled_recall" ->
      graft.ops.SimilarityOps.ivfSampledRecallOracleSql,
    "ann_lsh_recall" -> graft.ops.SimilarityOps.lshRecallOracleSql,
    "ann_pq_recall" -> graft.ops.SimilarityOps.pqRecallOracleSql,
    "ann_ivfpq_recall" -> graft.ops.SimilarityOps.ivfPqRecallOracleSql,
    "emb_project_rp" -> graft.ops.SimilarityOps.rpOracleSql,
    "ann_pq_topk" -> graft.ops.SimilarityOps.pqOracleSql,
    "ann_ivfpq_topk" -> graft.ops.SimilarityOps.ivfPqOracleSql,
    "emb_diversity_sample" -> graft.ops.SimilarityOps.diversityOracleSql,
    "graph_kcore" -> graft.ops.GraphOps.kCoreOracleSql,
    "graph_lpa" -> graft.ops.GraphOps.lpaOracleSql,
    // exact decimal sums make the partial-aggregation order (and the
    // engine) irrelevant; one double division + round at the end
    "emb_centroids" ->
      """WITH x AS (
        |  SELECT label, i - 1 AS pos, CAST(embedding[i] AS DECIMAL(20,10)) AS v
        |  FROM embeddings,
        |       LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i))
        |SELECT label, pos,
        |  round(CAST(sum(v) AS DOUBLE) / count(*), 4) AS mean_v,
        |  count(*) AS n
        |FROM x GROUP BY label, pos
        |ORDER BY label, pos""".stripMargin,
    // quantize→dequantize→cosine replayed step for step: float→double
    // casts are exact, the multiply/divide/round order matches the
    // operator, and the dequant pins through a FLOAT cast on both
    // engines before the double cosine
    "emb_quantize_int8" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |           FROM embeddings),
        |s AS (SELECT vec_id, emb,
        |        list_max(list_transform(emb, x -> abs(x))) AS scale
        |      FROM e),
        |q AS (SELECT vec_id, emb, scale,
        |        CAST(CAST(list_transform(emb,
        |          x -> round(x * 127.0 / scale) * scale / 127.0)
        |          AS FLOAT[]) AS DOUBLE[]) AS dq
        |      FROM s WHERE scale > 0)
        |SELECT vec_id, round(scale, 4) AS scale,
        |  round(${graft.ops.SimilarityOps.qcosSql("emb", "dq")}, 4) AS cosine_kept
        |FROM q ORDER BY vec_id""".stripMargin,
    // ann_mmr_rerank: greedy rounds unrolled with MATERIALIZED CTEs,
    // all selection arithmetic BIGINT over the shared cos·1e4 grid
    "ann_mmr_rerank" -> SimilarityOps.mmrOracleSql,
    // the IVF-shortlist face: the ann_ivf_topk assignment chain
    // verbatim, rel re-integerized from its 4dp cosine, same greedy
    "ann_mmr_rerank_ivf" -> SimilarityOps.mmrIvfOracleSql,
    "ann_bruteforce_topk" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb
        |           FROM embeddings WHERE vec_id < 10),
        |scored AS (
        |  SELECT q_id, e.vec_id AS vec_id,
        |    round(${graft.ops.SimilarityOps.qcosSql("q_emb", "e.embedding")}, 4) AS cosine
        |  FROM embeddings e, q WHERE e.vec_id <> q.q_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
        |        ORDER BY cosine DESC, vec_id) AS rank FROM scored)
        |SELECT q_id, vec_id, cosine, rank FROM r
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,
    // The whole classifier replayed relationally: neighbor ranking on
    // (cosine 4dp desc, vec_id), vote on (count desc, label) — both
    // tiebreaks total, so the argmax rows hash identically.
    "ml_knn_classify" -> (knnVoteOracleCore + " ORDER BY q_id"),
    // metric derivation over the SAME vote pipeline (nested CTE of
    // the shared core — the prediction set cannot drift between the
    // classifier entry and its eval); sums cast to BIGINT so the
    // driver's pandas layer keeps integer dtypes
    // MLlib checked faces: the oracle replays what IS cross-engine —
    // the row universe (and for classify, the deterministic split and
    // the true labels) — and asserts every in-plan scoring verdict
    "ml_cluster" ->
      """SELECT vec_id, TRUE AS cluster_in_range,
        |  TRUE AS assigned_is_argmin
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "ml_classify" ->
      """SELECT vec_id, label, TRUE AS pred_in_domain,
        |  TRUE AS prob_sums_one, TRUE AS pred_is_argmax
        |FROM embeddings WHERE vec_id % 5 = 0 ORDER BY vec_id""".stripMargin,
    "ml_eval_classification" ->
      ("WITH preds AS (" + knnVoteOracleCore + "),\n" +
        """t AS (SELECT true_label AS label,
          |        CAST(count(*) AS BIGINT) AS n_true,
          |        CAST(sum(CASE WHEN pred_label = true_label
          |                 THEN 1 ELSE 0 END) AS BIGINT) AS tp
          |      FROM preds GROUP BY 1),
          |p AS (SELECT pred_label AS label,
          |        CAST(count(*) AS BIGINT) AS n_pred
          |      FROM preds GROUP BY 1),
          |j AS (SELECT coalesce(t.label, p.label) AS label,
          |        coalesce(n_true, 0) AS n_true,
          |        coalesce(n_pred, 0) AS n_pred,
          |        coalesce(tp, 0) AS tp
          |      FROM t FULL OUTER JOIN p ON t.label = p.label),
          |m AS (SELECT label, n_true, n_pred, tp,
          |        CASE WHEN n_pred = 0 THEN 0.0
          |             ELSE CAST(tp AS DOUBLE) / n_pred END AS pr,
          |        CASE WHEN n_true = 0 THEN 0.0
          |             ELSE CAST(tp AS DOUBLE) / n_true END AS rc
          |      FROM j)
          |SELECT label, n_true, n_pred, tp,
          |  round(pr, 4) AS precision, round(rc, 4) AS recall,
          |  round(CASE WHEN pr + rc = 0 THEN 0.0
          |        ELSE 2.0 * pr * rc / (pr + rc) END, 4) AS f1
          |FROM m ORDER BY label""".stripMargin),
    // the scale tier replayed end to end: corpus-fit IVF cells →
    // multi-probe shortlist → the SAME vote (generated beside the
    // operator so fit parameters can't drift between engines)
    "ml_knn_classify_ivf" -> SimilarityOps.knnIvfOracleSql,
    // generated beside the operator: same quantization, same integer
    // covariance codes, same unrolled power rounds (HUGEINT stands in
    // for DECIMAL(38,0); both engines' integer division truncates)
    "emb_pca_power" -> SimilarityOps.pcaOracleSql,
    "emb_pca_project" -> SimilarityOps.pcaProjectOracleSql,
    "emb_pca_remove_top" -> SimilarityOps.pcaRemoveTopOracleSql,
    "emb_standardize" -> SimilarityOps.standardizeOracleSql,
    // Generated from the same pattern table the operator folds over
    // (Java regex and RE2 agree on this subset); counts on the
    // original text, replacements applied in the same fixed order.
    // The planted-PII suffix mirrors the Spark entry literal for
    // literal so the oracle verifies real substitutions, not the
    // pass-through the PII-free corpus would otherwise exercise.
    "text_redact" -> {
      val ps = graft.ops.TextOps.redactPatterns
      val countCols = ps.map { case (n, p, _) =>
        s"len(regexp_extract_all(text, '$p')) AS n_$n" }.mkString(",\n  ")
      val red = ps.foldLeft("text") { case (e, (_, p, t)) =>
        s"regexp_replace($e, '$p', '$t', 'g')" }
      s"""WITH planted AS (SELECT doc_id,
         |  concat(text, ' mail-', doc_id, '@example.com',
         |         ' http://host.example/p/', doc_id,
         |         ' 10.0.', doc_id % 200, '.7',
         |         ' acct 9900', doc_id, '77') AS text
         |  FROM documents)
         |SELECT doc_id,\n  $countCols,\n  $red AS redacted
         |FROM planted ORDER BY doc_id""".stripMargin
    },
    "text_repetition" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |           FROM documents),
        |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(t)),
        |    i -> concat_ws(' ', t[i], t[i+1]))) AS bg
        |  FROM t WHERE len(t) >= 2),
        |c AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
        |a AS (SELECT doc_id, sum(c) AS total, count(*) AS n_distinct,
        |        max(c) AS top
        |      FROM c GROUP BY 1)
        |SELECT doc_id,
        | CAST((CAST(total - n_distinct AS HUGEINT) * 20000 + total)
        |   // (2 * total) AS BIGINT) / 10000.0 AS dup_2gram_frac,
        | CAST((CAST(top AS HUGEINT) * 20000 + total) // (2 * total)
        |   AS BIGINT) / 10000.0 AS top_2gram_frac
        |FROM a ORDER BY doc_id""".stripMargin,
    // add-one unigram log-probs: (c+1)/(n+v) through the same IEEE
    // division+ln on both engines, 10dp-rounded DECIMAL terms so the
    // per-doc mean is aggregation-order independent
    "text_lm_score" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents),
        |c AS (SELECT tok, count(*) AS c FROM tok GROUP BY 1),
        |t AS (SELECT sum(c) AS n, count(*) AS v FROM c),
        |lp AS (SELECT doc_id,
        |    CAST(round(ln((c.c + 1) * 1.0 / (t.n + t.v)), 10)
        |      AS DECIMAL(20,10)) AS lp
        |  FROM tok JOIN c USING (tok), t)
        |SELECT doc_id, count(*) AS n_toks,
        |  round(CAST(sum(lp) AS DOUBLE) / count(*), 4) AS avg_logp
        |FROM lp GROUP BY 1 ORDER BY 1""".stripMargin,
    // bigram replica: positional token explode, pos+1 self-join for
    // transitions, model/ctx/uni fit on the even half, seen path
    // ln(c12/c1), unseen ln(0.4)+ln(smoothed unigram) — per-term
    // 10dp DECIMAL rounding before the per-doc mean, like the Spark op
    "text_lm_bigram" ->
      """WITH tok AS (SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS ws FROM documents),
        |tp AS (SELECT doc_id, i AS pos, ws[i] AS w
        |  FROM tok, LATERAL (SELECT unnest(range(1, len(ws) + 1)) AS i)),
        |bg AS (SELECT a.doc_id, a.w AS w1, b.w AS w2
        |  FROM tp a JOIN tp b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
        |uni AS (SELECT w, count(*) AS cu FROM tp
        |  WHERE doc_id % 2 = 0 GROUP BY 1),
        |tot AS (SELECT sum(cu) AS n, count(*) AS v FROM uni),
        |model AS (SELECT w1, w2, count(*) AS c12 FROM bg
        |  WHERE doc_id % 2 = 0 GROUP BY 1, 2),
        |ctx AS (SELECT w1, sum(c12) AS c1 FROM model GROUP BY 1),
        |sc AS (SELECT bg.doc_id,
        |    CAST(round(CASE WHEN model.c12 IS NOT NULL
        |      THEN ln(CAST(model.c12 AS DOUBLE) / ctx.c1)
        |      ELSE ln(0.4) +
        |        ln((coalesce(uni.cu, 0) + 1) * 1.0 / (tot.n + tot.v)) END,
        |      10) AS DECIMAL(20,10)) AS lp,
        |    CASE WHEN model.c12 IS NULL THEN 1 ELSE 0 END AS bo
        |  FROM bg LEFT JOIN model USING (w1, w2)
        |          LEFT JOIN ctx USING (w1)
        |          LEFT JOIN uni ON bg.w2 = uni.w, tot)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(CAST(sum(lp) AS DOUBLE) / count(*), 4) AS avg_logp,
        |  CAST((CAST(sum(bo) AS HUGEINT) * 20000 + count(*))
        |    // (2 * count(*)) AS BIGINT) / 10000.0 AS backoff_share
        |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin,
    "text_url_canonical" ->
      """WITH planted AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END) ||
        |    '://ExAmple.COM' ||
        |    (CASE WHEN doc_id % 3 = 0 THEN ':80'
        |          WHEN doc_id % 3 = 1 THEN ':443' ELSE ':8080' END) ||
        |    '/Products/' || (doc_id % 7) ||
        |    (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END) ||
        |    '?id=' || doc_id ||
        |    (CASE WHEN doc_id % 4 = 0 THEN '&utm_source=news&gclid=abc'
        |          ELSE '' END) ||
        |    (CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END) AS url
        |  FROM documents),
        |p1 AS (SELECT doc_id, url,
        |  regexp_replace(url, '#.*$', '') AS nf FROM planted),
        |p2 AS (SELECT doc_id, url,
        |  string_split(nf, '?')[1] AS pre,
        |  coalesce(string_split(nf, '?')[2], '') AS query FROM p1),
        |p3 AS (SELECT *,
        |  lower(regexp_extract(pre, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |  regexp_extract(pre, '^[A-Za-z][A-Za-z0-9+.-]*://([^/]+)', 1) AS auth,
        |  regexp_replace(regexp_replace(pre,
        |    '^[A-Za-z][A-Za-z0-9+.-]*://[^/]*', ''), '/+$', '') AS path
        |  FROM p2),
        |p4 AS (SELECT *,
        |  lower(regexp_replace(auth, ':[0-9]+$', '')) AS host,
        |  regexp_extract(auth, ':([0-9]+)$', 1) AS port,
        |  array_to_string(list_filter(string_split(query, '&'),
        |    p -> NOT regexp_matches(p, '^(utm_[A-Za-z_]+|gclid|fbclid)=')
        |         AND p <> ''), '&') AS q2
        |  FROM p3)
        |SELECT doc_id, url,
        |  scheme || '://' || host ||
        |  (CASE WHEN port <> '' AND NOT (scheme = 'http' AND port = '80')
        |             AND NOT (scheme = 'https' AND port = '443')
        |        THEN ':' || port ELSE '' END) ||
        |  path ||
        |  (CASE WHEN q2 <> '' THEN '?' || q2 ELSE '' END) AS canonical
        |FROM p4 ORDER BY doc_id""".stripMargin,
    // line dedup keeps FIRST occurrences in order: Spark's 0-based
    // filter-lambda index vs DuckDB's 1-based, hence i+1 vs i against
    // each engine's 1-based first-position function
    "text_dedup_lines" ->
      """WITH planted AS (
        |  SELECT doc_id, text || chr(10) || substr(text, 1, 40) || chr(10) ||
        |         substr(text, 1, 40) AS text
        |  FROM documents),
        |l AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM planted)
        |SELECT doc_id, len(ls) AS n_lines,
        |  len(list_filter(ls, (x, i) -> list_position(ls, x) = i)) AS n_kept,
        |  array_to_string(list_filter(ls, (x, i) -> list_position(ls, x) = i),
        |                  chr(10)) AS clean
        |FROM l ORDER BY doc_id""".stripMargin,
    // first occurrence = smallest (doc_id, idx) per distinct line —
    // the oracle's row_number replica of the Spark side's min-struct
    // aggregate; reassembly order-pinned by idx on both engines
    "text_dedup_lines_global" ->
      """WITH planted AS (
        |  SELECT doc_id,
        |    'shared header for ' || source || chr(10) || text || chr(10) ||
        |    'standard legal footer applies to all documents' AS text
        |  FROM documents),
        |l AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM planted),
        |lines AS (
        |  SELECT doc_id, i - 1 AS idx, ls[i] AS line
        |  FROM l, LATERAL (SELECT unnest(range(1, len(ls) + 1)) AS i)),
        |r AS (SELECT *, row_number() OVER (PARTITION BY line
        |        ORDER BY doc_id, idx) AS rn FROM lines),
        |kept AS (SELECT doc_id, idx, line FROM r WHERE rn = 1)
        |SELECT doc_id,
        |  string_agg(line, chr(10) ORDER BY idx) AS clean,
        |  count(*) AS n_kept
        |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Spark ln == DuckDB ln on the same doubles; scores round to 4dp
    // BEFORE ranking (term tiebreak) so rankings are engine-stable.
    // ctxLen literal mirrors TextOps.pack's ctxLen (128); the
    // oracle's single global cumsum window IS the thing the operator
    // replaces with a distributed prefix sum — same values either way
    "text_pack" ->
      """WITH tok AS (SELECT doc_id,
        |  len(string_split_regex(trim(text), '\s+')) AS n FROM documents),
        |c AS (SELECT doc_id, n, CAST(coalesce(sum(n) OVER (ORDER BY doc_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |  AS cum FROM tok),
        |x AS (SELECT doc_id, n, cum,
        |  unnest(range(cum // 128, (cum + n - 1) // 128 + 1)) AS ctx_id
        |  FROM c)
        |SELECT ctx_id, doc_id,
        |  CAST(greatest(0, ctx_id * 128 - cum) AS INT) AS from_tok,
        |  CAST(least(n, (ctx_id + 1) * 128 - cum) AS INT) AS to_tok
        |FROM x ORDER BY ctx_id, doc_id""".stripMargin,
    // chunk/overlap literals mirror TextOps.chunk's settings (64/16 →
    // stride 48); chunk_id = (start-1) integer-div stride
    "text_chunk" ->
      """WITH tok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |             FROM documents),
        |st AS (SELECT doc_id, t, len(t) AS n FROM tok),
        |x AS (SELECT doc_id, t, n, unnest(range(1, n + 1, 48)) AS s FROM st)
        |SELECT doc_id, CAST((s - 1) // 48 AS INT) AS chunk_id,
        |  array_to_string(t[s : s + 63], ' ') AS chunk,
        |  least(64, n - s + 1) AS n_tokens
        |FROM x ORDER BY doc_id, chunk_id""".stripMargin,
    "text_top_terms" ->
      """WITH tok AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents)
        |SELECT term, count(*) AS n FROM tok
        |GROUP BY 1 ORDER BY n DESC, term LIMIT 20""".stripMargin,
    // full value replay of the md5-60bit winnow: shingle → hash →
    // sliding-window min → distinct+sort, element for element
    // text_novelty: the dedup oracle's string-trigram derivation on
    // both sides, reference grams distinct, exact half-up ratio
    "text_novelty" ->
      """WITH tok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |             FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |  unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
        |    i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
        |  FROM tok WHERE len(t) >= 3),
        |cand AS (SELECT * FROM sh WHERE doc_id % 2 = 0),
        |refg AS (SELECT DISTINCT s FROM sh WHERE doc_id % 2 = 1),
        |j AS (SELECT cand.doc_id,
        |    CASE WHEN refg.s IS NULL THEN 0 ELSE 1 END AS seen
        |  FROM cand LEFT JOIN refg ON refg.s = cand.s)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(seen) AS BIGINT) AS n_seen,
        |  CAST((CAST(count(*) - sum(seen) AS HUGEINT) * 20000 +
        |    count(*)) // (2 * count(*)) AS BIGINT) / 10000.0 AS novelty
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_fingerprint" ->
      """WITH tok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |             FROM documents),
        |g AS (SELECT doc_id,
        |  CASE WHEN len(t) >= 3 THEN
        |    list_transform(range(1, len(t) - 1),
        |      i -> concat_ws(' ', t[i], t[i+1], t[i+2]))
        |  ELSE [array_to_string(t, ' ')] END AS grams FROM tok),
        |h AS (SELECT doc_id, list_transform(grams,
        |  s -> (('0x' || substr(md5(s), 1, 15))::UBIGINT)::BIGINT) AS hs
        |  FROM g),
        |w AS (SELECT doc_id,
        |  list_transform(range(1, greatest(len(hs) - 3, 1) + 1),
        |    j -> list_min(hs[j:j+3])) AS wins FROM h),
        |f AS (SELECT doc_id, list_sort(list_distinct(wins)) AS fp FROM w)
        |SELECT doc_id, array_to_string(fp, ',') AS fingerprint,
        |  len(fp) AS fp_size, fp[1] AS fp_min
        |FROM f ORDER BY doc_id""".stripMargin,
    // exact top-k replays in SQL; the sketch-side verdicts must all
    // come back TRUE for the Misra–Gries guarantees to hold
    "text_top_terms_sketch" ->
      """WITH tok AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents)
        |SELECT term, count(*) AS n,
        |  TRUE AS in_sketch_ok, TRUE AS est_lower_ok,
        |  TRUE AS est_within_bound
        |FROM tok
        |GROUP BY term ORDER BY n DESC, term LIMIT 10""".stripMargin,
    // text_count_min: the SAME md5 bucket hashes rebuild the d x w
    // grid, the same min-over-rows probe — est values replay exactly
    "text_count_min" ->
      """WITH tok AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |rows_ AS (SELECT term, i FROM tok
        |          CROSS JOIN (SELECT unnest(range(0, 4)) AS i)),
        |sk AS (SELECT i,
        |    ('0x' || substr(md5(CAST(i AS VARCHAR) || '_' || term), 1, 15))
        |      ::UBIGINT % 256 AS bucket,
        |    count(*) AS cnt
        |  FROM rows_ GROUP BY 1, 2),
        |topk AS (SELECT term, count(*) AS true_n FROM tok
        |         GROUP BY 1 ORDER BY true_n DESC, term LIMIT 10),
        |probe AS (SELECT term, true_n, i,
        |    ('0x' || substr(md5(CAST(i AS VARCHAR) || '_' || term), 1, 15))
        |      ::UBIGINT % 256 AS bucket
        |  FROM topk CROSS JOIN (SELECT unnest(range(0, 4)) AS i)),
        |est AS (SELECT term, true_n, CAST(min(cnt) AS BIGINT) AS est_n
        |        FROM probe JOIN sk USING (i, bucket) GROUP BY 1, 2)
        |SELECT term, true_n, est_n,
        |  est_n - true_n AS overcount, est_n >= true_n AS ge_true
        |FROM est ORDER BY true_n DESC, term""".stripMargin,
    "text_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, tf.term AS term,
        |    round(tf * (ln((n_docs + 1) / (df + 1)) + 1), 4) AS tfidf
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |        ORDER BY tfidf DESC, term) AS rank FROM scored)
        |SELECT doc_id, term, tfidf, rank FROM r WHERE rank <= 3
        |ORDER BY doc_id, rank""".stripMargin,
    "text_langid" ->
      """WITH t AS (SELECT doc_id, lang AS declared_lang,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |sc AS (SELECT doc_id, declared_lang,
        |  round(len(list_filter(toks, x -> list_contains(['der','die','und','das','ist','ein','zu','den','nicht','von'], x))) * 1.0 / greatest(len(toks), 1), 4) AS s_de,
        |  round(len(list_filter(toks, x -> list_contains(['the','a','and','of','to','in','is','that','it','was'], x))) * 1.0 / greatest(len(toks), 1), 4) AS s_en,
        |  round(len(list_filter(toks, x -> list_contains(['el','la','de','que','y','en','un','es','se','no'], x))) * 1.0 / greatest(len(toks), 1), 4) AS s_es,
        |  round(len(list_filter(toks, x -> list_contains(['le','les','de','et','un','est','pour','que','dans','ce'], x))) * 1.0 / greatest(len(toks), 1), 4) AS s_fr,
        |  round(len(list_filter(toks, x -> list_contains(['的','是','了','在','我','有','和','不','这','中'], x))) * 1.0 / greatest(len(toks), 1), 4) AS s_zh
        |  FROM t)
        |SELECT doc_id, declared_lang,
        |  CASE WHEN s_zh >= s_fr AND s_zh >= s_es AND s_zh >= s_en AND s_zh >= s_de AND s_zh > 0 THEN 'zh'
        |       WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de AND s_fr > 0 THEN 'fr'
        |       WHEN s_es >= s_en AND s_es >= s_de AND s_es > 0 THEN 'es'
        |       WHEN s_en >= s_de AND s_en > 0 THEN 'en'
        |       WHEN s_de > 0 THEN 'de'
        |       ELSE 'und' END AS pred_lang,
        |  greatest(s_de, s_en, s_es, s_fr, s_zh) AS score
        |FROM sc ORDER BY doc_id""".stripMargin,
    "ts_deepar_export" ->
      """WITH daily AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |    event_type, count(*) AS cnt FROM events GROUP BY 1, 2),
        |agg AS (SELECT event_type,
        |    strftime(min(day), '%Y-%m-%d %H:%M:%S') AS start,
        |    list(cnt ORDER BY day) AS target FROM daily GROUP BY event_type)
        |SELECT event_type, start,
        |  to_json(struct_pack(start := start, target := target))::VARCHAR AS json
        |FROM agg ORDER BY event_type""".stripMargin,
    // events.ts truncated to µs in the CTE (see stream_sessionize note)
    "ts_range_join" ->
      """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP_US) AS ts, value
        |            FROM events),
        |anchors AS (SELECT event_id AS anchor_id, ts AS anchor_ts
        |            FROM ev ORDER BY value DESC, event_id LIMIT 10)
        |SELECT anchor_id, e.event_id AS near_id
        |FROM anchors a JOIN ev e
        |  ON e.ts >= a.anchor_ts - INTERVAL 5 MINUTE
        | AND e.ts <= a.anchor_ts + INTERVAL 5 MINUTE
        |ORDER BY anchor_id, near_id""".stripMargin,
    "ts_asof_join" ->
      """WITH ev AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP_US) AS ts
        |            FROM events),
        |ord AS (SELECT o_custkey AS user_id, o_orderdate AS ts,
        |        round(max(o_totalprice), 4) AS last_total
        |        FROM orders GROUP BY 1, 2)
        |SELECT ev.event_id, ev.user_id, ev.ts AS ts, ord.last_total
        |FROM ev ASOF LEFT JOIN ord
        |  ON ev.user_id = ord.user_id AND ev.ts >= ord.ts
        |ORDER BY ev.user_id, ev.ts, ev.event_id""".stripMargin,
    "stream_window_counts" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ws, event_type,
        | count(*) AS n, round(sum(value), 4) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "stream_join" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP_US) AS ts,
        |             event_type FROM events),
        |c AS (SELECT * FROM e WHERE event_type = 'click'),
        |v AS (SELECT * FROM e WHERE event_type = 'view')
        |SELECT c.user_id AS user_id, c.event_id AS click_id,
        |  c.ts AS click_ts, v.event_id AS view_id, v.ts AS view_ts
        |FROM c JOIN v ON c.user_id = v.user_id
        |  AND v.ts >= c.ts - INTERVAL 4 HOUR AND v.ts <= c.ts
        |ORDER BY click_id, view_id""".stripMargin,
    "stream_enrich" ->
      """SELECT e.event_id, e.user_id, c.c_mktsegment AS segment
        |FROM events e LEFT JOIN customer c
        |  ON e.user_id = c.c_custkey AND c.c_custkey % 2 = 0
        |ORDER BY e.event_id""".stripMargin,
    // each event lands in exactly window/slide = 2 overlapping
    // 10-minute windows whose starts are its 5-minute floor and the
    // one before; Spark's window() and time_bucket share the epoch
    // alignment
    "stream_sliding_counts" ->
      """WITH ev AS (SELECT event_type, CAST(ts AS TIMESTAMP_US) AS ts
        |            FROM events),
        |x AS (
        |  SELECT event_type,
        |    time_bucket(INTERVAL '5 minutes', ts)
        |      - k * INTERVAL '5 minutes' AS ws
        |  FROM ev, LATERAL (SELECT unnest([0, 1]) AS k))
        |SELECT ws, event_type, count(*) AS n
        |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // each NOT IN subquery filters pk IS NOT NULL: one NULL parent
    // key would make NOT IN three-valued-NULL for every row and
    // silently zero the orphan count — the anti join the Spark side
    // runs has no such trap, and the two must stay semantically equal
    "etl_fk_check" ->
      """WITH r AS (
        |  SELECT 'lineitem->orders' AS relationship,
        |    (SELECT count(*) FROM lineitem) AS n_child,
        |    (SELECT count(*) FROM lineitem WHERE l_orderkey IS NOT NULL
        |      AND l_orderkey NOT IN (SELECT o_orderkey FROM orders
        |                             WHERE o_orderkey % 31 <> 0
        |                               AND o_orderkey IS NOT NULL)) AS n_orphans
        |  UNION ALL
        |  SELECT 'orders->customer',
        |    (SELECT count(*) FROM orders),
        |    (SELECT count(*) FROM orders WHERE o_custkey IS NOT NULL
        |      AND o_custkey NOT IN (SELECT c_custkey FROM customer
        |                            WHERE c_custkey IS NOT NULL))
        |  UNION ALL
        |  SELECT 'lineitem->part',
        |    (SELECT count(*) FROM lineitem),
        |    (SELECT count(*) FROM lineitem WHERE l_partkey IS NOT NULL
        |      AND l_partkey NOT IN (SELECT p_partkey FROM part
        |                            WHERE p_partkey % 53 <> 0
        |                              AND p_partkey IS NOT NULL)))
        |SELECT relationship, n_child, n_orphans,
        |  round(CASE WHEN n_child = 0 THEN 0.0
        |        ELSE n_orphans * 1.0 / n_child END, 4) AS orphan_rate
        |FROM r ORDER BY relationship""".stripMargin,
    // window(ts, '1 hour').start == date_trunc('hour'); rule bodies
    // mirror EventStreams.defaultQualityRules literally
    "stream_expectations" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ws,
        | count(*) AS n_rows,
        | CAST(sum(CASE WHEN coalesce(ts >= TIMESTAMP '2024-01-01'
        |   AND ts < TIMESTAMP '2024-01-15', false)
        |   THEN 0 ELSE 1 END) AS BIGINT) AS ts_in_range,
        | CAST(sum(CASE WHEN coalesce(event_type IN
        |   ('click','view','purchase','signup','error'), false)
        |   THEN 0 ELSE 1 END) AS BIGINT) AS type_known,
        | CAST(sum(CASE WHEN coalesce(value >= 0 AND value <= 250, false)
        |   THEN 0 ELSE 1 END) AS BIGINT) AS value_in_range
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // cdc_snapshot_versions: the sequential per-epoch latest-wins fold
    // equals one global argmax by (epoch DESC, event_id DESC) per
    // (version, key) — a key's state after folding epochs 0..k is
    // decided by its newest change, and a final 'D' removes it; value
    // totals in exact BIGINT micro-units, 4dp double only at the face
    "cdc_snapshot_versions" ->
      """WITH ch AS (SELECT user_id,
        |    CAST(round(value * 10000) AS BIGINT) AS v_micro,
        |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |    event_id % 5 AS epoch, event_id
        |  FROM events),
        |vs AS (SELECT * FROM (VALUES (2),(3),(4)) AS t(version)),
        |latest AS (SELECT vs.version, ch.user_id, ch.v_micro, ch.op,
        |    row_number() OVER (PARTITION BY vs.version, ch.user_id
        |      ORDER BY ch.epoch DESC, ch.event_id DESC) AS rn
        |  FROM vs JOIN ch ON ch.epoch <= vs.version)
        |SELECT CAST(version AS BIGINT) AS version,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  round(CAST(sum(v_micro) AS DOUBLE) / 10000.0, 4) AS sum_v,
        |  max(user_id) AS max_key
        |FROM latest WHERE rn = 1 AND op <> 'D'
        |GROUP BY version ORDER BY version""".stripMargin,
    // attribution_versions: q_attribution's window with epoch
    // prepended to the order (the stream's arrival order), one
    // summary per retained version prefix; share = ExactRatio half-up
    // the funnel audit's fold tuple is (epoch, us, stageIdx, id) —
    // the stream's arrival order; stage k = min tuple among stage-k
    // events processed after the stage-(k-1) advance whose event
    // time also passes the us >= gate (with epochs prepended,
    // later-in-fold no longer implies later-in-time, so both gates
    // are explicit); structs never cross engines, only counts do
    "stream_conformal" ->
      graft.streaming.EventStreams.conformalMonitorOracleSql,
    "conformal_versions" ->
      graft.streaming.EventStreams.conformalVersionsOracleSql,
    "funnel_versions" ->
      graft.streaming.EventStreams.funnelVersionsOracleSql,
    "attribution_versions" ->
      """WITH tagged AS (SELECT user_id, event_id,
        |    event_id % 5 AS epoch,
        |    epoch_us(CAST(ts AS TIMESTAMP_US)) AS tus, event_type,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS tag
        |  FROM events WHERE event_type IN ('view', 'click', 'purchase')),
        |att AS (SELECT *,
        |    last_value(CASE WHEN tag = 0 THEN tus END IGNORE NULLS)
        |      OVER w AS touch_ts,
        |    last_value(CASE WHEN tag = 0 THEN event_type END IGNORE NULLS)
        |      OVER w AS touch_type
        |  FROM tagged
        |  WINDOW w AS (PARTITION BY user_id
        |    ORDER BY epoch, tus, tag, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |conv AS (SELECT epoch, CASE WHEN touch_ts IS NOT NULL
        |      AND tus - touch_ts <= 604800000000 THEN touch_type
        |      ELSE 'none' END AS touch_type
        |  FROM att WHERE tag = 1),
        |vs AS (SELECT * FROM (VALUES (2),(3),(4)) t(version)),
        |c AS (SELECT version, touch_type,
        |    CAST(count(*) AS BIGINT) AS n_purchases
        |  FROM vs JOIN conv ON conv.epoch <= vs.version GROUP BY 1, 2),
        |t AS (SELECT version, CAST(sum(n_purchases) AS BIGINT) AS tot
        |      FROM c GROUP BY 1)
        |SELECT CAST(c.version AS BIGINT) AS version, touch_type,
        |  n_purchases,
        |  CAST((CAST(n_purchases AS HUGEINT) * 20000 + tot) // (2 * tot)
        |    AS BIGINT) / 10000.0 AS share
        |FROM c JOIN t ON t.version = c.version
        |ORDER BY version, touch_type""".stripMargin,
    // sketch_topk_versions: the oracle replays the exact top-k per
    // version prefix; the MG verdicts pin to literal TRUE (a violated
    // mergeable-summaries guarantee breaks the cross-engine hash)
    "sketch_topk_versions" ->
      """WITH tok AS (SELECT doc_id % 5 AS epoch,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |vs AS (SELECT * FROM (VALUES (2),(3),(4)) t(version)),
        |cnt AS (SELECT version, term, CAST(count(*) AS BIGINT) AS true_n
        |        FROM vs JOIN tok ON tok.epoch <= vs.version
        |        GROUP BY 1, 2),
        |top AS (SELECT version, term, true_n,
        |    row_number() OVER (PARTITION BY version
        |      ORDER BY true_n DESC, term) AS r
        |  FROM cnt)
        |SELECT CAST(version AS BIGINT) AS version, term, true_n,
        |  TRUE AS in_sketch_ok, TRUE AS est_lower_ok,
        |  TRUE AS est_within_bound
        |FROM top WHERE r <= 3
        |ORDER BY version, true_n DESC, term""".stripMargin,
    // sketch_cm_versions: CM merges losslessly, so the whole audit —
    // grid census and probe estimates — replays value-for-value under
    // the shared md5 bucket hashes
    "sketch_cm_versions" ->
      """WITH tok AS (SELECT doc_id % 5 AS epoch,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |vs AS (SELECT * FROM (VALUES (2),(3),(4)) t(version)),
        |rows_ AS (SELECT version, term, i
        |  FROM vs JOIN tok ON tok.epoch <= vs.version
        |  CROSS JOIN (SELECT unnest(range(0, 4)) AS i)),
        |sk AS (SELECT version, i,
        |    ('0x' || substr(md5(CAST(i AS VARCHAR) || '_' || term), 1, 15))
        |      ::UBIGINT % 256 AS bucket,
        |    count(*) AS cnt
        |  FROM rows_ GROUP BY 1, 2, 3),
        |census AS (SELECT version, CAST(count(*) AS BIGINT) AS n_cells,
        |    CAST(sum(cnt) AS BIGINT) AS grid_total
        |  FROM sk GROUP BY 1),
        |cnts AS (SELECT version, term, CAST(count(*) AS BIGINT) AS true_n
        |  FROM vs JOIN tok ON tok.epoch <= vs.version GROUP BY 1, 2),
        |top AS (SELECT version, term, true_n,
        |    row_number() OVER (PARTITION BY version
        |      ORDER BY true_n DESC, term) AS r
        |  FROM cnts),
        |probe AS (SELECT version, term, true_n, i,
        |    ('0x' || substr(md5(CAST(i AS VARCHAR) || '_' || term), 1, 15))
        |      ::UBIGINT % 256 AS bucket
        |  FROM top CROSS JOIN (SELECT unnest(range(0, 4)) AS i)
        |  WHERE r <= 3),
        |est AS (SELECT p.version, term, true_n,
        |    CAST(min(cnt) AS BIGINT) AS est_n
        |  FROM probe p JOIN sk
        |    ON sk.version = p.version AND sk.i = p.i
        |   AND sk.bucket = p.bucket
        |  GROUP BY 1, 2, 3)
        |SELECT CAST(e.version AS BIGINT) AS version, term, true_n,
        |  est_n, n_cells, grid_total
        |FROM est e JOIN census c ON c.version = e.version
        |ORDER BY version, true_n DESC, term""".stripMargin,
    // sketch_hll_versions: exact distincts per version prefix replay;
    // the union-fold estimate surfaces only through the 5·rsd verdict
    "sketch_hll_versions" ->
      """WITH ev AS (SELECT event_id % 5 AS epoch, event_type, user_id
        |  FROM events),
        |vs AS (SELECT * FROM (VALUES (2),(3),(4)) t(version))
        |SELECT CAST(version AS BIGINT) AS version, event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        |  TRUE AS within_tol
        |FROM vs JOIN ev ON ev.epoch <= vs.version
        |GROUP BY 1, 2 ORDER BY version, event_type""".stripMargin,
    // sketch_psi_versions: the histogram fold is lossless, so the
    // WHOLE per-version PSI table (smoothed shares, 6dp DECIMAL
    // terms, PSI, drift verdict) replays — the q_psi_drift tree per
    // retained version, reference = the frozen epoch-0 slice
    "sketch_psi_versions" ->
      """WITH st AS (SELECT event_id % 5 AS epoch,
        |    CAST(round(value, 4) AS DOUBLE) AS x FROM events),
        |dec AS (SELECT quantile_cont(x,
        |    [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS ts
        |  FROM st WHERE epoch = 0),
        |bn AS (SELECT epoch,
        |    (CASE WHEN x > round(ts[1], 4) THEN 1 ELSE 0 END +
        |     CASE WHEN x > round(ts[2], 4) THEN 1 ELSE 0 END +
        |     CASE WHEN x > round(ts[3], 4) THEN 1 ELSE 0 END +
        |     CASE WHEN x > round(ts[4], 4) THEN 1 ELSE 0 END +
        |     CASE WHEN x > round(ts[5], 4) THEN 1 ELSE 0 END +
        |     CASE WHEN x > round(ts[6], 4) THEN 1 ELSE 0 END +
        |     CASE WHEN x > round(ts[7], 4) THEN 1 ELSE 0 END +
        |     CASE WHEN x > round(ts[8], 4) THEN 1 ELSE 0 END +
        |     CASE WHEN x > round(ts[9], 4) THEN 1 ELSE 0 END) AS bin
        |  FROM st, dec),
        |cnt AS (SELECT epoch, bin, count(*) AS n FROM bn GROUP BY 1, 2),
        |vs AS (SELECT unnest(range(2, 5)) AS version),
        |ax AS (SELECT unnest(range(0, 10)) AS bin),
        |pv AS (SELECT vs.version, ax.bin,
        |    CAST(coalesce(sum(CASE WHEN c.epoch = 0 THEN c.n
        |      ELSE 0 END), 0) AS BIGINT) AS n_ref,
        |    CAST(coalesce(sum(CASE WHEN c.epoch > 0 THEN c.n
        |      ELSE 0 END), 0) AS BIGINT) AS n_cur
        |  FROM vs CROSS JOIN ax
        |  LEFT JOIN cnt c ON c.bin = ax.bin AND c.epoch <= vs.version
        |  GROUP BY 1, 2),
        |tot AS (SELECT version, CAST(sum(n_ref) AS BIGINT) AS nr,
        |    CAST(sum(n_cur) AS BIGINT) AS nc FROM pv GROUP BY 1),
        |tm AS (SELECT pv.version, pv.bin, n_ref, n_cur,
        |    round((CAST(n_ref AS DOUBLE) + 0.5) /
        |      (CAST(nr AS DOUBLE) + 5.0), 4) AS p_ref,
        |    round((CAST(n_cur AS DOUBLE) + 0.5) /
        |      (CAST(nc AS DOUBLE) + 5.0), 4) AS p_cur,
        |    CAST(round(((CAST(n_ref AS DOUBLE) + 0.5) /
        |        (CAST(nr AS DOUBLE) + 5.0) -
        |        (CAST(n_cur AS DOUBLE) + 0.5) /
        |        (CAST(nc AS DOUBLE) + 5.0)) *
        |      ln(((CAST(n_ref AS DOUBLE) + 0.5) /
        |        (CAST(nr AS DOUBLE) + 5.0)) /
        |        ((CAST(n_cur AS DOUBLE) + 0.5) /
        |        (CAST(nc AS DOUBLE) + 5.0))), 6) AS DECIMAL(12,6))
        |      AS psi_term_dec
        |  FROM pv JOIN tot USING (version))
        |SELECT version, bin, n_ref, n_cur, p_ref, p_cur,
        |  CAST(psi_term_dec AS DOUBLE) AS psi_term,
        |  round(CAST(sum(psi_term_dec) OVER (PARTITION BY version)
        |    AS DOUBLE), 4) AS psi,
        |  (round(CAST(sum(psi_term_dec) OVER (PARTITION BY version)
        |    AS DOUBLE), 4) > 0.2) AS drift
        |FROM tm ORDER BY version, bin""".stripMargin,
    // events.ts truncated to µs in the CTE (see stream_sessionize note)
    "stream_dedup" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP_US) AS ts
        |  FROM events),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |    ORDER BY ts, event_id) AS rn
        |  FROM ev)
        |SELECT user_id, event_type, event_id, ts AS first_ts
        |FROM r WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin,
    // The exact-Jaccard pair set (same derivation as dedup_minhash;
    // banding misses are ~6e-4 per J≥0.8 pair and candidates are
    // exact-verified) reoriented to the stream contract: the later
    // document of each pair (arrival = doc_id order) flags the earlier.
    "stream_dedup_near" ->
      """WITH tok AS (SELECT doc_id, string_split(trim(text), ' ') AS t
        |             FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |  unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
        |    i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
        |  FROM tok WHERE len(t) >= 3),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS common
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id2 AS doc_id, id1 AS dup_of,
        |  round(common * 1.0 / (x.n + y.n - common), 4) AS jaccard
        |FROM pairs JOIN sz x ON x.doc_id = id1 JOIN sz y ON y.doc_id = id2
        |WHERE round(common * 1.0 / (x.n + y.n - common), 4) >= 0.8
        |ORDER BY doc_id, dup_of""".stripMargin,
    // mm_extract: the payloads are deterministic functions of doc_id
    // (MmSynth), so the oracle recomputes every decoded feature with
    // independent arithmetic — sample i of an even doc's WAV is
    // (id*31+i*7)%256 at 8 kHz 8-bit mono over 64+id%64 frames; pixel
    // (file row r, col x) of an odd doc's BMP carries channel bytes
    // (id+5r+3x+{0,1,2})%256 over (4+id%13)×(3+id%7). Sample terms
    // ((s-128)/128)^2 are exact k/16384 binary rationals, so the sums
    // are order-independent and the 4dp-rounded features match
    // bit-for-bit across engines.
    // frame sampling: every pixel of every SAMPLED frame recomputed
    // from the synth formula over ranges — integer means, lag window
    "mm_video_sample" -> graft.ops.MultimodalOps.videoSampleOracleSql,
    // the clip probes frames [16, 48) (2ms·8kHz .. 6ms·8kHz) of the
    // synth sequence; the 2×2 thumbnail samples file rows {0, h//2} ×
    // cols {0, w//2} of the synth pixel formula — nearest-neighbor's
    // exact picks. Gates compare the 4dp-rounded metric on BOTH sides.
    "mm_gate" ->
      """WITH wav_i AS (
        |  SELECT doc_id, unnest(range(16, 48)) AS i
        |  FROM documents WHERE doc_id % 2 = 0),
        |wav_v AS (
        |  SELECT doc_id, ((doc_id*31 + i*7) % 256 - 128.0) / 128 AS v
        |  FROM wav_i),
        |wav AS (
        |  SELECT doc_id, 'wav' AS kind,
        |         round(sqrt(sum(v*v) / 32), 4) AS metric
        |  FROM wav_v GROUP BY doc_id),
        |bmp_d AS (
        |  SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h
        |  FROM documents WHERE doc_id % 2 = 1),
        |bmp_r AS (SELECT doc_id, w, unnest([0, h // 2]) AS r FROM bmp_d),
        |bmp_px AS (SELECT doc_id, r, unnest([0, w // 2]) AS x FROM bmp_r),
        |bmp AS (
        |  SELECT doc_id, 'bmp' AS kind,
        |         round(avg((doc_id + 5*r + 3*x + 1) % 256), 4) AS metric
        |  FROM bmp_px GROUP BY doc_id)
        |SELECT * FROM (
        |  SELECT * FROM wav WHERE metric >= 0.55
        |  UNION ALL SELECT * FROM bmp WHERE metric >= 128.0)
        |ORDER BY doc_id""".stripMargin,
    // dedup_image_phash: the whole pipeline — synth, the codec's
    // nearest-neighbor sampling (y*h//4, x*w//4, the resize floor
    // arithmetic), and the exact-integer mean threshold (v*16 > Σv) —
    // replays in closed form; the aHash bits must match the real
    // header-walking kernel bit for bit
    "dedup_image_phash" ->
      """WITH g AS (
        |  SELECT y, x FROM (SELECT unnest(range(0, 4)) AS y),
        |                   (SELECT unnest(range(0, 4)) AS x)),
        |px AS (
        |  SELECT d.doc_id, g.y, g.x,
        |    ((((d.doc_id - d.doc_id % 5) % 1048573) * 2654435761
        |      + ((g.y * (3 + (d.doc_id - d.doc_id % 5) % 7)) // 4) * 40503
        |      + ((g.x * (4 + (d.doc_id - d.doc_id % 5) % 13)) // 4) * 9973)
        |     % 251) + d.doc_id % 5 AS v
        |  FROM documents d, g),
        |ss AS (SELECT doc_id, sum(v) AS sv FROM px GROUP BY 1),
        |h AS (
        |  SELECT px.doc_id,
        |    CAST(sum(CASE WHEN v * 16 > sv
        |                  THEN CAST(1 AS BIGINT) << CAST(y * 4 + x AS INTEGER)
        |                  ELSE 0 END) AS BIGINT) AS phash
        |  FROM px JOIN ss ON px.doc_id = ss.doc_id GROUP BY 1),
        |f AS (SELECT phash, count(*) AS n_docs FROM h
        |      GROUP BY 1 HAVING count(*) >= 2)
        |SELECT f.phash, f.n_docs, h.doc_id
        |FROM f JOIN h ON f.phash = h.phash
        |ORDER BY f.phash, h.doc_id""".stripMargin,
    // dedup_audio_fp: synth waveform, window energies, and the
    // gain-cancelling integer ratio quantization all replay in closed
    // form — the envelope fingerprint must match the real
    // header-walking kernel exactly, volume factor included
    "dedup_audio_fp" ->
      """WITH d AS (
        |  SELECT doc_id, doc_id - doc_id % 5 AS base, 1 + doc_id % 5 AS c,
        |         (64 + (doc_id - doc_id % 5) % 64) // 16 AS w_cnt
        |  FROM documents),
        |ei AS (
        |  SELECT doc_id, c, w_cnt, i // 16 AS w,
        |    (((base % 1048573) * 2654435761 + i * 40503) % 41 - 20) AS s
        |  FROM d, LATERAL (SELECT unnest(range(0, w_cnt * 16)) AS i)),
        |ew AS (
        |  SELECT doc_id, w_cnt, w, sum((c * s) * (c * s)) AS e
        |  FROM ei GROUP BY 1, 2, 3),
        |tt AS (SELECT doc_id, sum(e) AS t FROM ew GROUP BY 1),
        |qq AS (
        |  SELECT ew.doc_id, ew.w_cnt, ew.w,
        |    CASE WHEN t = 0 THEN 0 ELSE (e * 8) // t END AS q
        |  FROM ew JOIN tt ON ew.doc_id = tt.doc_id),
        |h AS (
        |  SELECT doc_id,
        |    CAST(max(w_cnt) * 100000000 +
        |      sum(q * CAST(round(power(9, w)) AS BIGINT)) AS BIGINT) AS fp
        |  FROM qq GROUP BY 1),
        |f AS (SELECT fp, count(*) AS n_docs FROM h
        |      GROUP BY 1 HAVING count(*) >= 2)
        |SELECT f.fp, f.n_docs, h.doc_id
        |FROM f JOIN h ON f.fp = h.fp
        |ORDER BY f.fp, h.doc_id""".stripMargin,
    // dedup_video_fp: full value replay of the brightness-invariant
    // fingerprint — per-pixel synthesis (jitter INCLUDED, so the
    // invariance itself is cross-engine tested), exact truncating
    // frame means, lag deltas, and the same md5-prefix 60-bit key
    "dedup_video_fp" ->
      """WITH d AS (
        |  SELECT doc_id, doc_id - doc_id % 5 AS base, doc_id % 5 AS j
        |  FROM documents),
        |p AS (SELECT doc_id, base, j, 8 + (base % 8) AS nf FROM d),
        |f AS (SELECT doc_id, base, j, nf, fi
        |  FROM p, LATERAL (SELECT unnest(range(0, nf)) AS fi)
        |  WHERE fi % 3 = 0),
        |px AS (SELECT doc_id, nf, fi,
        |    ((base % 1048573) * 2654435761 + fi * 40503
        |      + x * 9973 + y * 7919) % 251 + j AS v
        |  FROM f, LATERAL (SELECT unnest(range(0, 8)) AS x),
        |    LATERAL (SELECT unnest(range(0, 6)) AS y)),
        |m AS (SELECT doc_id, nf, fi, sum(v) * 1000 // 48 AS luma
        |  FROM px GROUP BY 1, 2, 3),
        |dl AS (SELECT doc_id, nf, fi, luma - lag(luma) OVER
        |    (PARTITION BY doc_id ORDER BY fi) AS delta FROM m),
        |st AS (SELECT doc_id, CAST(max(nf) AS VARCHAR) || ':' ||
        |    coalesce(string_agg(CAST(delta AS VARCHAR), ','
        |      ORDER BY fi) FILTER (delta IS NOT NULL), '') AS s
        |  FROM dl GROUP BY 1),
        |h AS (SELECT doc_id,
        |    CAST(('0x' || substr(md5(s), 1, 15))::UBIGINT AS BIGINT) AS fp
        |  FROM st),
        |fam AS (SELECT fp, count(*) AS n_docs FROM h
        |  GROUP BY 1 HAVING count(*) >= 2)
        |SELECT fam.fp, fam.n_docs, h.doc_id
        |FROM fam JOIN h ON fam.fp = h.fp
        |ORDER BY fam.fp, h.doc_id""".stripMargin,
    "mm_extract" ->
      """WITH wav_t AS (
        |  SELECT doc_id, 64 + doc_id % 64 AS n,
        |         unnest(range(0, 64 + doc_id % 64)) AS i
        |  FROM documents WHERE doc_id % 2 = 0),
        |wav_v AS (
        |  SELECT doc_id, n,
        |         ((doc_id*31 + i*7) % 256 - 128.0) / 128 AS v
        |  FROM wav_t),
        |wav AS (
        |  SELECT doc_id, 'wav' AS kind, 1 AS w, 8 AS h,
        |         CAST(max(n) AS BIGINT) AS n,
        |         round(sqrt(sum(v*v) / max(n)), 4) AS m1,
        |         round(max(n) * 1000.0 / 8000, 4) AS m2,
        |         CAST(0.0 AS DOUBLE) AS m3
        |  FROM wav_v GROUP BY doc_id),
        |bmp_r AS (
        |  SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h,
        |         unnest(range(0, 3 + doc_id % 7)) AS r
        |  FROM documents WHERE doc_id % 2 = 1),
        |bmp_px AS (
        |  SELECT doc_id, w, h, r, unnest(range(0, w)) AS x FROM bmp_r),
        |bmp AS (
        |  SELECT doc_id, 'bmp' AS kind, max(w) AS w, max(h) AS h,
        |         CAST(max(w) * max(h) AS BIGINT) AS n,
        |         round(avg((doc_id + 5*r + 3*x + 2) % 256), 4) AS m1,
        |         round(avg((doc_id + 5*r + 3*x + 1) % 256), 4) AS m2,
        |         round(avg((doc_id + 5*r + 3*x) % 256), 4) AS m3
        |  FROM bmp_px GROUP BY doc_id)
        |SELECT * FROM wav UNION ALL SELECT * FROM bmp
        |ORDER BY doc_id""".stripMargin,
    // NOTE: events.parquet is TIMESTAMP(NANOS); Spark truncates to
    // micros (Tables.events), so the oracle must truncate too BEFORE
    // the gap predicate — a ns-preserving DuckDB would otherwise emit
    // ns-precision start_ts/end_ts and different session splits.
    "stream_sessionize" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP_US) AS ts, event_id
        |  FROM events),
        |g AS (
        |  SELECT user_id, ts, event_id,
        |   CASE WHEN lag(ts) OVER w IS NULL
        |          OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
        |        THEN 1 ELSE 0 END AS new_sess
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts,
        |   -- DuckDB's windowed integer sum returns HUGEINT, which the
        |   -- driver's pandas conversion renders as float64 ("1.0" vs
        |   -- Spark's int64 "1") — cast back to BIGINT so dtypes agree.
        |   CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |     AS session_id
        |  FROM g)
        |SELECT user_id, session_id, count(*) AS n_events,
        | min(ts) AS start_ts, max(ts) AS end_ts
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
  ).pipe { m =>
    // the broadcast decontamination variant shares the symmetric
    // operator's contract verbatim — one oracle, two plans
    m + ("dedup_decontaminate_bcast" -> m("dedup_decontaminate")) +
      // ...and so does the Bloom-prefiltered variant: FPs are
      // exact-verified away, so all three plans share one contract
      ("dedup_decontaminate_bloom" -> m("dedup_decontaminate")) +
      // the span locator's broadcast tier: one island-merge core,
      // two plan shapes — one oracle
      ("dedup_decontaminate_spans_bcast" ->
        m("dedup_decontaminate_spans"))
  }
}
