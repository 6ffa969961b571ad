package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Reuse

/** Graph analytics over relation-shaped data. Companion to
  * [[DedupOps.clusters]] (connected components): where clustering
  * answers "which nodes belong together", PageRank answers "which
  * nodes matter" — the influence/centrality face of the same
  * edge-list representation.
  */
object GraphOps {

  /** PageRank over the order↔supplier bipartite graph implied by
    * lineitem (an edge per distinct (order, supplier) pair). See
    * [[pageRankOn]] for the iteration design and the cross-engine
    * arithmetic contract. */
  def pageRank(s: SparkSession, d: String): DataFrame = {
    val iters = 5
    val topN = 20
    pageRankOn(Tables.lineitem(s, d)
      .select(concat(lit("o"), col("l_orderkey")).as("src"),
        concat(lit("s"), col("l_suppkey")).as("dst"))
      .distinct(), iters, topN)
  }

  /** PageRank over any (src, dst) pair list. Pairs are symmetrized
    * (both directions added), so the graph is undirected and every
    * node has in- and out-edges — no dangling-mass correction needed.
    * A FIXED `iters`-round power iteration: each round is one
    * equi-join of the rank frame to the edge list and one
    * map-side-combinable sum per destination — one shuffle on the
    * node key per round, the same O(edges) exchange GraphX's Pregel
    * would do, with Catalyst free to pick broadcast vs shuffle per
    * round. No driver-side convergence loop (contrast
    * [[DedupOps.clusters]], where rounds are data-dependent): the
    * round count is fixed, and the only driver action is the node
    * count (the clusters/IVF scalar precedent) — it folds the
    * teleport constant into each round as a literal instead of
    * re-deriving an N subtree per round.
    *
    * FIXED-POINT INTEGER arithmetic: ranks live as BIGINTs in units
    * of 1e-10 (R = r·10^10), damping as the integer pair
    * `dampingPct`/100 (teleport mass (100−dampingPct)·10^8). Double
    * or decimal iterates are one rounding-tie away from cross-engine
    * divergence (Java rounds on the double's shortest decimal
    * rendering, C engines on the binary value — chained quantizations
    * amplify a single flipped tie; both failure modes were OBSERVED
    * against DuckDB before this design), while integer division is
    * bit-identical everywhere. Truncation drops < 1e-10 mass per edge
    * per round — far below the 4dp output precision for any realistic
    * in-degree (a 10^6-degree hub accumulates ≤ ~1e-3 absolute error;
    * raise the scale constant if your graph has such hubs). Output
    * ranks scale by N (so they're O(1)) with half-up 4dp rounding
    * still in integer math, ordered with a node tiebreak under a
    * TakeOrdered top-k.
    *
    * 100 TB posture: the symmetrized edge+degree frame materializes
    * ONCE through `Reuse.shared` and every round reads that
    * copy (without it Catalyst inlines the derivation per round —
    * 104 scans in the unrolled tree; an explicit cache() measured
    * 50% slower than even that). Rounds are fixed and few; each is a
    * narrow join+agg on the node key — no all-pairs anything.
    */
  def pageRankOn(pairs: DataFrame, iters: Int, topN: Int): DataFrame = {
    val dampingPct = 85
    val teleport = (100L - dampingPct) * 100000000L // (1-d)·10^10
    // edges feed the degree aggregate AND the join side; without the
    // barrier the pairs distinct re-evaluates for each.
    // Symmetrize with a row-local explode rather than a two-arm
    // union: the union form evaluated the `pairs` subtree (a full
    // lineitem project + distinct) once PER ARM before the
    // checkpoint — one generator pass emits the identical row bag
    // from a single evaluation (guide §1.2.1).
    val edges = pairs.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .transform(Reuse.shared)
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    // each of the five rounds references the edge/degree frame and
    // Catalyst would otherwise inline its whole derivation per round
    // (measured: 104 parquet scans in the unrolled tree)
    val withDeg = Reuse.shared(edges.join(outdeg, "src"))
    val nodes = withDeg.select(col("src").as("node")).distinct()
      .transform(Reuse.shared)
    // node count as a driver scalar — the iterative-operator
    // precedent (clusters' convergence sums, IVF's cell count): the
    // teleport constant folds into the per-round expression as a
    // literal instead of re-deriving an N subtree every round
    val n = nodes.count()
    val init = nodes.select(col("node"), lit(10000000000L / n).as("r"))
    val ranks = (1 to iters).foldLeft(init) { (prev, _) =>
      withDeg.join(prev.withColumnRenamed("node", "src"), "src")
        .withColumn("__c", expr("r div outdeg"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("__c")).as("__s"))
        .select(col("node"),
          expr(s"${teleport / n} + ($dampingPct * __s) div 100").as("r"))
    }
    // N-scaled output, half-up at 4dp — still pure integer math
    // (q counts 1e-4 units), then one exact-integer-to-double cast
    ranks
      .select(col("node"),
        (expr(s"(r * $n + 500000) div 1000000").cast("double") / 10000.0)
          .as("rank_scaled"))
      .orderBy(col("rank_scaled").desc, col("node"))
      .limit(topN)
  }

  /** The basket-size cap of every co-occurrence graph face. */
  private val basketCap = 16

  /** Triangle count + global clustering coefficient over the part
    * co-occurrence graph (parts appearing in the same order are
    * connected) — the third face of the edge-list family:
    * [[DedupOps.clusters]] partitions the graph, [[pageRankOn]] ranks
    * its nodes, this measures how CLOSED its neighborhoods are (a
    * co-occurrence graph with high closure has real community
    * structure; one without is noise — the diagnostic before trusting
    * clusters as segments).
    *
    * Edges derive from baskets: distinct (order, part), self-joined
    * per order with `part1 < part2` — an equi-join whose fanout is
    * C(basket, 2), bounded by `basketCap` (oversized baskets are
    * DROPPED with the bucket-cap posture: a hostile 10^5-item basket
    * would otherwise contribute 10^10 pairs; reference baskets hold
    * ≤ 7 items, so the cap is inert on this schema and exists for the
    * 100 TB contract).
    *
    * Counting is DEGREE-ORDERED wedge enumeration (the standard
    * distributed-triangle bound): every edge orients from its
    * lower-(degree, node) endpoint — ties broken on node id, so the
    * orientation is a strict total order and acyclic — wedges
    * enumerate per shared LOW endpoint (each hub's wedge work is
    * capped by its ORIENTED out-degree ≤ O(√m), never its raw degree
    * — the reason a heavy hub doesn't go quadratic), and a final
    * equi-join against the oriented edge set closes them. Each
    * triangle is counted exactly once (its minimum-key vertex owns
    * it). Work is O(Σ outdeg²) ≤ O(m^1.5) shuffle rows — never
    * all-pairs; every join is an equi-join on node or edge keys.
    * Output is one row: nodes, edges, wedge count Σ C(d,2),
    * triangles, and the global clustering coefficient
    * 3·triangles / wedges (4dp, exact-integer inputs). */
  def triangles(s: SparkSession, d: String): DataFrame =
    trianglesOn(Tables.lineitem(s, d)
      .select(col("l_orderkey").as("basket"), col("l_partkey").as("item")),
      basketCap)

  /** Same over any (basket, item) membership list. */
  def trianglesOn(pairs: DataFrame, maxBasket: Int): DataFrame =
    // edges feed degrees, wedges, AND the closing join
    triangleCore(Reuse.shared(basketEdges(pairs, maxBasket)))

  /** The SCALE TIER of [[trianglesOn]] — the exact count's wedge join
    * is O(m^1.5) and is the registry's single heaviest query, the
    * shape that hurts first at corpus scale. DOULION edge sampling
    * (Tsourakakis et al., KDD'09): keep each edge with probability
    * p = permille/1000, count triangles on the sparsified graph,
    * estimate = count/p³ (unbiased; wedge work drops to ~p^1.5 of
    * the exact face's). The coin is a DETERMINISTIC md5-prefix hash
    * of the canonical edge key — not `rand()` — so the estimate is
    * reproducible run to run AND the entire computation (sampling
    * included) replays in the DuckDB oracle: this tier is fully
    * value-oracled, no tolerance band needed. The division scales by
    * exact integer arithmetic (quotient split so tri·10⁹ never
    * materializes as a single Long product), so both
    * engines produce the identical estimate. */
  def trianglesSampledOn(pairs: DataFrame, maxBasket: Int,
                         permille: Int): DataFrame = {
    require(permille >= 1 && permille <= 1000,
      s"permille must be in [1,1000]: $permille")
    val keep = conv(substring(md5(concat(col("a").cast("string"), lit("_"),
      col("b").cast("string"))), 1, 15), 16, 10).cast("long") % 1000
    val kept = basketEdges(pairs, maxBasket)
      .filter(keep < permille)
      .transform(Reuse.shared)
    val p3 = permille.toLong * permille * permille
    triangleCore(kept).select(
      col("n_edges").as("n_edges_kept"),
      col("n_triangles").as("n_triangles_sampled"),
      // overflow-safe 1/p^3 scale-up: split the quotient so no
      // intermediate exceeds ~1e18 even at corpus-scale triangle
      // counts (tri*1e9 alone wraps past ~9.2e9 triangles)
      expr(s"(n_triangles div ${p3}L) * 1000000000L + " +
        s"((n_triangles % ${p3}L) * 1000000000L) div ${p3}L")
        .as("est_triangles"))
  }

  /** Degree-distribution diagnostic — the scale-free audit run BEFORE
    * choosing graph strategy (it is WHY the triangle faces orient by
    * degree and why caps/salting exist: a heavy tail means hub work
    * dominates): per log2 degree bin, node count, exact degree range,
    * and share. The bin is the BINARY-STRING length − 1
    * (`length(bin(deg)) − 1` = ⌊log2 deg⌋ in pure integers — float
    * log2 is one ulp from misbinning every power of two). Cost: the
    * edge derivation + one node-key count + a bin-cardinality
    * aggregate; output is ~⌈log2 max-degree⌉ rows at any scale. */
  def degreeDist(s: SparkSession, d: String): DataFrame =
    degreeDistOn(Tables.lineitem(s, d)
      .select(col("l_orderkey").as("basket"), col("l_partkey").as("item")),
      basketCap)

  /** Same over any (basket, item) membership list. */
  def degreeDistOn(pairs: DataFrame, maxBasket: Int): DataFrame = {
    // materialize once: edges feed both union arms of the degree
    // count, and deg feeds both the bin aggregate and the total —
    // un-checkpointed, the edge derivation re-ran 4× (16 parquet
    // scans in the r16 before-plan; 2 after)
    val edges = Reuse.shared(basketEdges(pairs, maxBasket))
    val deg = edges.select(col("a").as("node"))
      .union(edges.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .transform(Reuse.shared)
    val total = deg.agg(count(lit(1)).as("n_total"))
    deg.withColumn("bin", (length(expr("bin(deg)")) - 1).cast("long"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_nodes"),
        min(col("deg")).as("min_deg"), max(col("deg")).as("max_deg"))
      .crossJoin(broadcast(total))
      .select(col("bin"), col("n_nodes"), col("min_deg"), col("max_deg"),
        ExactRatio.r4(col("n_nodes"), col("n_total")).as("share"))
      .orderBy(col("bin"))
  }

  /** Fixed-round BFS from the graph's smallest node — the
    * REACHABILITY face of the edge-list family (how much of the
    * graph is within r hops of a seed; the hop-distance histogram is
    * the small-world diagnostic beside degreeDist's tail and the
    * triangle faces' closure). FIXED `rounds` frontier expansions
    * (the q_pagerank fixed-iteration contract): each round is one
    * node-keyed equi-join of the adjacency against the CURRENT
    * frontier (work ∝ frontier edges, never the whole graph) + one
    * anti join against the visited set; a driver-side count
    * short-circuits when the frontier empties (the kCore fixpoint
    * posture — remaining rounds are free, and the oracle's unrolled
    * rounds are empty too, so early exit cannot diverge). Every
    * frame is a `Reuse.barrier`, so each round is paid once. Output:
    * per hop distance, node count + id range — rounds+1 rows at any
    * scale. */
  def bfs(s: SparkSession, d: String): DataFrame = {
    val rounds = 4
    bfsOn(Tables.lineitem(s, d)
      .select(col("l_orderkey").as("basket"), col("l_partkey").as("item")),
      rounds, basketCap)
  }

  /** Same over any (basket, item) membership list. */
  def bfsOn(pairs: DataFrame, rounds: Int, maxBasket: Int): DataFrame = {
    val edges = Reuse.shared(basketEdges(pairs, maxBasket))
    val adj = edges.select(col("a").as("n"), col("b").as("v"))
      .union(edges.select(col("b").as("n"), col("a").as("v")))
    val src = edges.agg(least(min(col("a")), min(col("b"))).as("node"))
    var visited = src.select(col("node"), lit(0L).as("dist"))
      .transform(Reuse.barrier)
    var frontier = visited.select(col("node"))
    var r = 1
    var live = true
    while (r <= rounds && live) {
      val next = adj.join(frontier.withColumnRenamed("node", "n"), "n")
        .select(col("v").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .select(col("node"), lit(r.toLong).as("dist"))
        .transform(Reuse.barrier)
      // O(1)-row driver action (the kCore convergence precedent)
      if (next.limit(1).count() == 0) live = false
      else {
        visited = Reuse.barrier(visited.union(next))
        frontier = next.select(col("node"))
      }
      r += 1
    }
    visited.groupBy(col("dist"))
      .agg(count(lit(1)).as("n_nodes"),
        min(col("node")).as("min_node"), max(col("node")).as("max_node"))
      .orderBy(col("dist"))
  }

  /** Common-neighbor / Jaccard LINK PREDICTION over the part
    * co-occurrence graph — "which items SHOULD co-occur but don't
    * yet": the recommendation face of the edge-list family (clusters
    * partition it, PageRank ranks it, triangles measure closure;
    * this proposes the missing edges closure implies). Candidates =
    * non-adjacent pairs at distance 2, generated per shared neighbor
    * — the SAME wedge shape the triangle count enumerates, with the
    * hub posture made explicit: a center of degree d contributes
    * C(d,2) candidate pairs, so centers above `maxCenterDeg` are
    * DROPPED (declared contract, mirrored in the oracle): a super-
    * hub's endorsement carries no signal (every pair shares it —
    * the stopword of graphs; Adamic-Adar downweights it toward 0,
    * we cut it exactly), and without the cap one 10⁶-degree hub is
    * 10¹² shuffle rows. Scores: common-neighbor count and Jaccard
    * cn / (da + db − cn) with FULL degrees (capping only centers
    * keeps the denominator honest while bounding work). Existing
    * edges leave via one anti join on the canonical pair; top-N by
    * (jaccard, cn, pair) is a TakeOrdered heap, never a global
    * sort. Cost: capped wedge join + one anti join + two degree
    * joins — O(Σ_{d≤cap} C(d,2)) shuffle rows, the same bound the
    * triangle count's orientation buys, chosen here by cutoff
    * because common-neighbor counting needs BOTH wedge arms. */
  def linkPredict(s: SparkSession, d: String): DataFrame = {
    val maxCenterDeg = 64
    val topN = 50
    linkPredictOn(Tables.lineitem(s, d)
      .select(col("l_orderkey").as("basket"), col("l_partkey").as("item")),
      basketCap, maxCenterDeg, topN)
  }

  /** Same over any (basket, item) membership list. */
  def linkPredictOn(pairs: DataFrame, maxBasket: Int, maxCenterDeg: Int,
                    topN: Int): DataFrame = {
    // edges feed degrees, the wedge join, AND the anti join —
    // materialize once
    val edges = Reuse.shared(basketEdges(pairs, maxBasket))
    // deg serves three consumers (center filter + both endpoint
    // degree joins); adj is self-joined — checkpoint each once
    val deg = edges.select(col("a").as("node"))
      .union(edges.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .transform(Reuse.shared)
    val adj = edges.select(col("a").as("n"), col("b").as("v"))
      .union(edges.select(col("b").as("n"), col("a").as("v")))
      .join(deg.filter(col("deg") <= maxCenterDeg)
        .select(col("node").as("n")), Seq("n"), "left_semi")
      .transform(Reuse.shared)
    val cand = adj.as("x").join(adj.as("y"), "n")
      .filter(col("x.v") < col("y.v"))
      .groupBy(col("x.v").as("a"), col("y.v").as("b"))
      .agg(count(lit(1)).as("cn"))
      .join(edges, Seq("a", "b"), "left_anti")
    cand
      .join(deg.withColumnRenamed("node", "a")
        .withColumnRenamed("deg", "da"), "a")
      .join(deg.withColumnRenamed("node", "b")
        .withColumnRenamed("deg", "db"), "b")
      .select(col("a"), col("b"), col("cn"), col("da"), col("db"),
        round(col("cn").cast("double") /
          (col("da") + col("db") - col("cn")).cast("double"), 4)
          .as("jaccard"))
      .orderBy(col("jaccard").desc, col("cn").desc, col("a"), col("b"))
      .limit(topN)
  }

  /** The k-core's minimum degree and peeling rounds, read by [[kCore]]
    * and its oracle. */
  private val kCoreK = 3
  private val kCoreRounds = 4

  /** k-core peeling — the graph-DENSITY audit beside the triangle
    * faces (clustering) and PageRank (centrality): repeatedly remove
    * nodes of degree < k; what survives round r is inside the k-core
    * after r peels, and how fast mass disappears says whether the
    * graph has a cohesive core or is all periphery (the spam-cluster
    * / community-precursor signal). FIXED `rounds` peels (the
    * q_pagerank fixed-iteration contract; after `rounds` peels the
    * output is a deterministic upper bound on the true core,
    * documented), executed as DELTA peels — work proportional to
    * what dies each round, with a driver-side fixpoint short-circuit
    * and a broadcast-anti fast path for small removed sets (see
    * [[kCoreOn]] for the three regimes and why blind re-induction
    * measured 4-5× slower on the sf1 graph, where nothing peels).
    * Edge derivation shares [[basketEdges]]'s capped basket join;
    * every materialized frame is a `Reuse.barrier`, so each round is
    * paid exactly once, in order. Output: per round,
    * surviving node/edge counts — rounds+1 rows at any scale. */
  def kCore(s: SparkSession, d: String): DataFrame =
    kCoreOn(basketEdges(Tables.lineitem(s, d)
      .select(col("l_orderkey").as("basket"), col("l_partkey").as("item")),
      basketCap), kCoreK, kCoreRounds)

  /** Same over any canonical (a < b) undirected edge frame.
    *
    * DELTA peeling, not blind re-induction: a peel's work is
    * proportional to what DIES, and on real co-occurrence graphs
    * almost nothing does (the derived sf1 basket graph loses ZERO of
    * its 200k nodes — every item's degree clears k=3 — yet a naive
    * four-round induce re-shuffles and re-materializes the 12M-edge
    * frame four times for nothing, measured 40-55s vs ~10s here).
    * Per round the REMOVED set (deg < k) is counted driver-side — an
    * O(1)-row action on the checkpointed degree frame, the same
    * adaptivity the CC convergence loop uses (DedupOps.scala:554):
    *   - removed = 0 → fixpoint; every remaining round repeats the
    *     stats row with no cluster work at all;
    *   - removed ≤ deltaMax → the induced subgraph is two broadcast
    *     ANTI joins against the small removed set (a map-side scan of
    *     the edge frame, zero shuffle; "endpoint not removed" ≡
    *     "endpoint kept" since keep ⊎ removed covers every endpoint);
    *   - removed > deltaMax (adversarial peels — a path graph halves
    *     each round) → shuffle-regime left-semi joins against the
    *     keep set, hash-hinted (the keep side is one row per node,
    *     always the small side; SMJ would sort the edge frame twice).
    * The degree frame doubles as the n_nodes stat (nodes present in
    * e_r ≡ rows of deg_r) so no separate count_distinct shuffle
    * exists. Output rows are assembled from the per-round count
    * aggregates (rounds+1 of them, O(1) rows each — never edge data
    * on the driver). */
  def kCoreOn(edges0: DataFrame, k: Int, rounds: Int,
              deltaMax: Long = 2000000L): DataFrame = {
    val sp = edges0.sparkSession
    import sp.implicits._
    def degOf(f: DataFrame): DataFrame =
      f.select(col("a").as("node")).union(f.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
        .transform(Reuse.barrier)
    var e = Reuse.barrier(edges0)
    var deg = degOf(e)
    var nNodes = deg.count()
    var nEdges = e.count()
    val stats = collection.mutable.ArrayBuffer((0, nNodes, nEdges))
    var fixpoint = false
    for (r <- 1 to rounds) {
      if (!fixpoint) {
        val removed = deg.filter(col("deg") < k).select(col("node"))
        val nRemoved = removed.count()
        if (nRemoved == 0L) fixpoint = true
        else {
          e = {
            if (nRemoved <= deltaMax)
              e.join(broadcast(removed).withColumnRenamed("node", "a"),
                  Seq("a"), "left_anti")
                .join(broadcast(removed).withColumnRenamed("node", "b"),
                  Seq("b"), "left_anti")
            else {
              val keep = deg.filter(col("deg") >= k).select(col("node"))
                .hint("shuffle_hash")
              e.join(keep.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
                .join(keep.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
            }
          }.select(col("a"), col("b")).transform(Reuse.barrier)
          deg = degOf(e)
          nNodes = deg.count()
          nEdges = e.count()
        }
      }
      stats += ((r, nNodes, nEdges))
    }
    stats.toSeq.toDF("round", "n_nodes", "n_edges").orderBy(col("round"))
  }

  /** DuckDB replica of [[kCore]]: the shared capped edge derivation,
    * then `rounds` unrolled peel CTEs (degree filter + induced
    * subgraph), stats per round — generated beside the operator so
    * parameter changes cannot drift. Every e_r is `AS MATERIALIZED`:
    * round r+1 references e_r three times (degree count + both
    * endpoint filters), so DuckDB's default CTE inlining would
    * re-evaluate the whole chain ~3^rounds times — observed as a
    * 15-minute oracle on the sf0.01 graph; materialization makes it
    * the same linear peel the Spark side runs. */
  private[graft] def kCoreOracleSql: String = {
    val peels = (1 to kCoreRounds).map { r =>
      s"""d$r AS (SELECT node, count(*) AS deg FROM (
         |  SELECT a AS node FROM e${r - 1}
         |  UNION ALL SELECT b FROM e${r - 1}) GROUP BY 1),
         |k$r AS MATERIALIZED (SELECT node FROM d$r WHERE deg >= $kCoreK),
         |e$r AS MATERIALIZED (SELECT a, b FROM e${r - 1}
         |  WHERE a IN (SELECT node FROM k$r)
         |    AND b IN (SELECT node FROM k$r))""".stripMargin
    }.mkString(",\n")
    val stats = (0 to kCoreRounds).map { r =>
      s"""SELECT $r AS round,
         |  (SELECT count(DISTINCT node) FROM (
         |     SELECT a AS node FROM e$r UNION ALL SELECT b FROM e$r))
         |    AS n_nodes,
         |  (SELECT count(*) FROM e$r) AS n_edges""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH m AS (SELECT DISTINCT l_orderkey AS basket,
       |             l_partkey AS item FROM lineitem),
       |sz AS (SELECT basket, count(*) AS bsz FROM m GROUP BY 1),
       |mm AS (SELECT m.basket, m.item FROM m JOIN sz USING (basket)
       |       WHERE sz.bsz <= $basketCap),
       |e0 AS MATERIALIZED (SELECT DISTINCT x.item AS a, y.item AS b
       |       FROM mm x JOIN mm y USING (basket) WHERE x.item < y.item),
       |$peels
       |$stats
       |ORDER BY round""".stripMargin
  }

  /** The label-propagation rounds of [[lpa]] and its oracle. */
  private val lpaRounds = 3

  /** Label-propagation communities (Raghavan et al. 2007) — the
    * partition question between [[DedupOps.clusters]] (connected
    * components: who is REACHABLE) and [[kCore]] (how DENSE is the
    * core): LPA splits a connected graph into label-coherent
    * communities, the co-purchase "product families" signal.
    * SYNCHRONOUS fixed-round propagation (the q_pagerank contract —
    * no driver-side convergence unknowable, fully replayable): every
    * node starts as its own label; each round every node adopts the
    * most frequent label among its NEIGHBORS (self excluded), ties
    * broken to the smallest label — computed as one max(struct(cnt,
    * -label)) aggregation, so argmax-with-min-tiebreak is a single
    * deterministic reduction in both engines (DuckDB replays it as
    * max-count window + min FILTER — same total order). Per round:
    * one equi-join of the label frame to the symmetrized edge list
    * (the edge side is repartitioned on src ONCE and checkpointed,
    * so every round's join reuses that exchange and only the
    * node-sized label/count frames move) + two map-side-combinable
    * aggregations. Output: the community SIZE HISTOGRAM (size →
    * n_communities) — bounded by the distinct-size count at any
    * scale, never a per-node dump. */
  def lpa(s: SparkSession, d: String): DataFrame =
    lpaOn(basketEdges(Tables.lineitem(s, d)
      .select(col("l_orderkey").as("basket"), col("l_partkey").as("item")),
      basketCap), lpaRounds)

  /** Same over any canonical (a < b) undirected edge frame. */
  def lpaOn(edges0: DataFrame, rounds: Int): DataFrame = {
    // row-local explode, not union-of-two-selects: edges0 is the
    // basketEdges chain (distinct → count-window → self-join →
    // distinct) and the union form evaluated it once per arm —
    // one generator pass emits the same row bag from one evaluation
    val bidir = edges0.select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(col("src"))
      .transform(Reuse.barrier)
    var labels = bidir.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
      .transform(Reuse.barrier)
    for (_ <- 1 to rounds) {
      labels = bidir
        .join(labels.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst"), col("lbl")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("dst"))
        .agg(max(struct(col("cnt"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("dst").as("node"), (-col("m.nl")).as("lbl"))
        .transform(Reuse.barrier)
    }
    labels.groupBy(col("lbl")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz")).agg(count(lit(1)).as("n_communities"))
      .select(col("sz").as("community_size"), col("n_communities"))
      .orderBy(col("community_size"))
  }

  /** DuckDB replica of [[lpa]]: shared capped edge derivation,
    * symmetrized, then `rounds` unrolled propagation CTEs — argmax
    * via max-count window + min-label FILTER (the same total order
    * as the Spark struct-max), every label frame MATERIALIZED (each
    * is referenced by the next round's join; default inlining would
    * re-derive the whole chain). */
  private[graft] def lpaOracleSql: String = {
    val props = (1 to lpaRounds).map { r =>
      s"""c$r AS (SELECT e.dst AS node, l.lbl AS lbl, count(*) AS cnt
         |  FROM bidir e JOIN l${r - 1} l ON e.src = l.node
         |  GROUP BY 1, 2),
         |l$r AS MATERIALIZED (SELECT node, min(lbl) AS lbl FROM (
         |    SELECT node, lbl, cnt, max(cnt) OVER (PARTITION BY node)
         |      AS mx FROM c$r)
         |  WHERE cnt = mx GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH m AS (SELECT DISTINCT l_orderkey AS basket,
       |             l_partkey AS item FROM lineitem),
       |sz AS (SELECT basket, count(*) AS bsz FROM m GROUP BY 1),
       |mm AS (SELECT m.basket, m.item FROM m JOIN sz USING (basket)
       |       WHERE sz.bsz <= $basketCap),
       |e0 AS MATERIALIZED (SELECT DISTINCT x.item AS a, y.item AS b
       |       FROM mm x JOIN mm y USING (basket) WHERE x.item < y.item),
       |bidir AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0
       |       UNION ALL SELECT b, a FROM e0),
       |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lbl
       |       FROM bidir),
       |$props,
       |csz AS (SELECT lbl, CAST(count(*) AS BIGINT) AS sz
       |        FROM l$lpaRounds GROUP BY 1)
       |SELECT sz AS community_size,
       |  CAST(count(*) AS BIGINT) AS n_communities
       |FROM csz GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Canonical (a < b) undirected edge set from basket co-membership,
    * shared by the exact and sampled triangle faces. */
  private def basketEdges(pairs: DataFrame, maxBasket: Int): DataFrame = {
    // Kept as distinct → count-window → self-join DELIBERATELY: the
    // r16 optimization pass A/B-tested the [[Baskets]] collect_set +
    // row-local pair expansion here and measured it consistently
    // SLOWER on the lineitem basket load (graph_lpa 6.3 → 10.4 s,
    // graph_triangles_sampled 8.1 → 13.0 s): the win of one fewer
    // exchange is outweighed by the ObjectHashAggregate set-building
    // and per-row array/struct generator churn, while the window and
    // self-join are whole-stage-codegen native and share one
    // exchange. Guide §1.2: per-task work matters once the shuffle
    // count is right.
    val members = pairs.select(col("basket"), col("item")).distinct()
    val sized = members
      .withColumn("__bsz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("basket"))))
      .filter(col("__bsz") <= maxBasket)
      .drop("__bsz")
    sized.as("x").join(sized.as("y"), "basket")
      .filter(col("x.item") < col("y.item"))
      .select(col("x.item").as("a"), col("y.item").as("b"))
      .distinct()
  }

  /** Degree-oriented wedge count over a materialized canonical edge
    * set — the counting core shared by both triangle faces. */
  private def triangleCore(edges: DataFrame): DataFrame = {
    // deg feeds the two orientation joins AND the stats row —
    // checkpoint so the degree aggregate runs once, not three times
    val deg = edges.select(col("a").as("node"))
      .union(edges.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .transform(Reuse.shared)
    // orient each edge low→high by (deg, node); struct comparison is
    // lexicographic in both engines (DuckDB: row comparison)
    // dlo is dead after orientation (the wedge canonicalization and
    // the closing probe read only lo/hi/dhi) — keeping it out narrows
    // the checkpointed frame and both wedge-join sides by a column
    val oriented = edges
      .join(deg.withColumnRenamed("node", "a").withColumnRenamed("deg", "da"), "a")
      .join(deg.withColumnRenamed("node", "b").withColumnRenamed("deg", "db"), "b")
      .select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          col("a")).otherwise(col("b")).as("lo"),
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          col("b")).otherwise(col("a")).as("hi"),
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          col("db")).otherwise(col("da")).as("dhi"))
      .transform(Reuse.shared)
    // wedges per shared low endpoint, canonicalized v < w by the SAME
    // (deg, node) order so the closing edge is probed in its stored
    // orientation
    val wedges = oriented.as("e1").join(oriented.as("e2"), "lo")
      .filter(struct(col("e1.dhi"), col("e1.hi")) <
        struct(col("e2.dhi"), col("e2.hi")))
      .select(col("e1.hi").as("lo"), col("e2.hi").as("hi"))
    val tri = wedges.join(oriented.select(col("lo"), col("hi")), Seq("lo", "hi"),
      "left_semi")
    val triCount = tri.agg(count(lit(1)).as("n_triangles"))
    val stats = deg.agg(
      count(lit(1)).as("n_nodes"),
      (sum(col("deg")) / 2).cast("long").as("n_edges"),
      sum(expr("deg * (deg - 1) div 2")).as("n_wedges"))
    stats.crossJoin(triCount)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        round(lit(3.0) * col("n_triangles") / col("n_wedges"), 4)
          .as("clustering_coeff"))
  }

  /** Deterministic random walks — the sampling primitive behind
    * DeepWalk/node2vec graph embeddings and neighborhood-mixing
    * estimates: from every connected node, an L-step walk whose
    * step-t neighbor CHOICE is md5(start, t, cur) mod degree over
    * the (neighbor asc)-ranked adjacency — a coin, not `rand()`
    * (the DOULION idiom), so the walks are reproducible run to run
    * AND replay verbatim in the oracle. Each step is one equi-join
    * of the walk frontier against the ranked adjacency on the
    * current-node key (the graph_bfs shuffle shape; L joins total,
    * frontier stays node-cardinality). Dead ends self-absorb via
    * the left join's coalesce — the walk parks rather than dropping
    * the row, so output stays one row per start node at any L. */
  def randomWalks(s: SparkSession, d: String): DataFrame = {
    val steps = 3
    randomWalksOn(Tables.lineitem(s, d)
      .select(col("l_orderkey").as("basket"), col("l_partkey").as("item")),
      steps, basketCap)
  }

  /** Same over any (basket, item) membership list. */
  def randomWalksOn(pairs: DataFrame, steps: Int,
                    maxBasket: Int): DataFrame = {
    require(steps >= 1 && steps <= 8, s"steps out of range: $steps")
    // adj materializes twice (ranked + degs): checkpoint the edge
    // derivation so each materialization reads it, not re-derives it
    val edges = Reuse.shared(basketEdges(pairs, maxBasket))
    val adj = edges.select(col("a").as("node"), col("b").as("nbr"))
      .unionAll(edges.select(col("b").as("node"), col("a").as("nbr")))
    // the coin must be WALKER-side: a join predicate mixing both
    // sides (rk = md5(walker…) % deg) degrades to a residual filter
    // over the full node-match product with the hash re-evaluated
    // per candidate row — measured 65s/step in the oracle engine vs
    // sub-second for the two clean equi-joins below (degree lookup →
    // walker-side idx → (node, rk) two-key join)
    val ranked = adj
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("node"))
          .orderBy(col("nbr"))) - 1)
      .transform(Reuse.shared) // every step joins this frame
    val degs = adj.groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .transform(Reuse.shared)
    var walk = degs.select(col("node").as("start")).distinct()
      .withColumn("cur", col("start"))
    val pathCols = scala.collection.mutable.ArrayBuffer[String]()
    for (t <- 1 to steps) {
      val coin = conv(substring(md5(concat(
          col("start").cast("string"), lit("_"), lit(t.toString), lit("_"),
          col("cur").cast("string"))), 1, 15), 16, 10).cast("long")
      val withIdx = walk
        .join(degs, col("node") === col("cur"), "left").drop("node")
        .withColumn("idx", coin % col("deg")).drop("deg")
      val stepped = withIdx.join(ranked,
        col("node") === col("cur") && col("rk") === col("idx"), "left")
      val keep = (col("start") +: pathCols.toSeq.map(col)) :+
        coalesce(col("nbr"), col("cur")).as(s"path$t")
      walk = stepped.select(keep: _*).withColumn("cur", col(s"path$t"))
      pathCols += s"path$t"
    }
    walk.select((col("start") +: pathCols.toSeq.map(col)) :+
        concat_ws(">", (col("start") +: pathCols.toSeq.map(col))
          .map(_.cast("string")): _*).as("path"): _*)
      .orderBy(col("start"))
  }
}
