package graft

import graft.ops.GraphOps

class GraphSpec extends SparkSpec {

  test("pagerank: star hub out-ranks its leaves, leaves tie, and the " +
       "scaled mass sums to N") {
    import spark.implicits._
    // undirected star a—{b,c,d}: the hub receives three whole leaf
    // ranks per round, each leaf a third of the hub's
    val pairs = Seq(("a", "b"), ("a", "c"), ("a", "d")).toDF("src", "dst")
    val rows = GraphOps.pageRankOn(pairs, iters = 5, topN = 10).collect()
    assert(rows.length === 4)
    val byNode = rows.map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(byNode("a") > byNode("b"))
    assert(byNode("b") === byNode("c") && byNode("c") === byNode("d"))
    // deterministic integer iteration ⇒ EXACT values: the bipartite
    // star oscillates around the fixed point (eigenvalue −d), and
    // round 5 lands at hub 0.581662 · 4 = 2.3266 (hand-iterated)
    assert(byNode("a") === 2.3266, s"hub ${byNode("a")}")
    assert(byNode("b") === 0.5578, s"leaf ${byNode("b")}")
    // total mass is conserved up to integer-truncation loss
    val mass = rows.map(_.getDouble(1)).sum
    assert(mass <= 4.0 + 1e-9 && mass > 3.99, s"mass $mass")
  }

  test("randomWalks: every step follows an edge or parks at a dead " +
       "end, components never leak, reruns are bit-identical") {
    import spark.implicits._
    // basket 1 forms triangle {10,11,12}; basket 2 the edge {20,21}
    val pairs = Seq(
      (1L, 10L), (1L, 11L), (1L, 12L),
      (2L, 20L), (2L, 21L)
    ).toDF("basket", "item")
    val out = GraphOps.randomWalksOn(pairs, steps = 3, maxBasket = 16)
      .collect()
    assert(out.length === 5)
    val edges = Set((10L, 11L), (10L, 12L), (11L, 12L), (20L, 21L))
    def adjacent(x: Long, y: Long) =
      x == y || edges((math.min(x, y), math.max(x, y)))
    out.foreach { r =>
      val p = Seq(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      p.sliding(2).foreach { w => assert(adjacent(w(0), w(1)), s"$p") }
      // triangle nodes never reach the pair component and vice versa
      assert(p.forall(_ < 20L) || p.forall(_ >= 20L), s"leak: $p")
      assert(r.getString(4) === p.mkString(">"))
    }
    // in the triangle every node has degree 2 — walks actually move
    assert(out.filter(_.getLong(0) < 20L)
      .exists(r => r.getLong(1) !== r.getLong(0)))
    val again = GraphOps.randomWalksOn(pairs, steps = 3, maxBasket = 16)
      .collect()
    assert(out.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("pagerank: sf graph ranks every supplier (the degree hubs) " +
       "above every order, descending") {
    val rows = GraphOps.pageRank(spark, sf).collect()
    assert(rows.length === 20)
    val ranks = rows.map(_.getDouble(1))
    assert(ranks.sameElements(ranks.sortBy(-_)))
    // sf0.001 has ~10 suppliers; all of them outrank every order node
    val (sups, ords) = rows.partition(_.getString(0).startsWith("s"))
    assert(sups.nonEmpty && ords.nonEmpty)
    assert(sups.map(_.getDouble(1)).min > ords.map(_.getDouble(1)).max)
    assert(sups.forall(_.getDouble(1) > 1.0)) // hubs above average
  }

  test("triangles: hand graph counts exactly — K4 basket = 4 triangles, " +
       "a pendant adds wedges but none, oversized baskets drop") {
    import spark.implicits._
    // basket 1 = {1,2,3,4} → K4: 6 edges, 4 triangles;
    // basket 2 = {4,5} → pendant edge 4—5: wedges at 4, no triangle;
    // basket 3 = 20 items → over the cap, contributes nothing
    val pairs = (Seq((1L, 1L), (1L, 2L), (1L, 3L), (1L, 4L), (2L, 4L), (2L, 5L)) ++
      (100L to 119L).map(i => (3L, i))).toDF("basket", "item")
    val r = GraphOps.trianglesOn(pairs, maxBasket = 16).collect().head
    assert(r.getLong(0) === 5, s"nodes $r")      // {1,2,3,4,5}
    assert(r.getLong(1) === 7, s"edges $r")      // K4's 6 + 4—5
    // degrees: 1,2,3 → 3; 4 → 4; 5 → 1 ⇒ wedges = 3·3 + 6 + 0 = 15
    assert(r.getLong(2) === 15, s"wedges $r")
    assert(r.getLong(3) === 4, s"triangles $r")
    assert(r.getDouble(4) === 0.8, s"coeff $r")  // 12/15
  }

  test("sampled triangles: permille=1000 degenerates to the exact face, " +
       "the md5 coin is deterministic, and the estimate lands near truth") {
    import spark.implicits._
    val pairs = (0 until 400).map { i =>
      ((i / 4).toLong, (i * 7919L + i.toLong * i * 104729L) % 40)
    }.toDF("basket", "item")
    val exact = GraphOps.trianglesOn(pairs, maxBasket = 16).collect().head
    val full = GraphOps.trianglesSampledOn(pairs, maxBasket = 16,
      permille = 1000).collect().head
    assert(full.getLong(0) === exact.getLong(1), s"edges $full vs $exact")
    assert(full.getLong(1) === exact.getLong(3), s"tris $full vs $exact")
    assert(full.getLong(2) === exact.getLong(3), s"estimate $full")
    val s1 = GraphOps.trianglesSampledOn(pairs, 16, 300).collect().head
    val s2 = GraphOps.trianglesSampledOn(pairs, 16, 300).collect().head
    assert(s1.toString === s2.toString, "hash coin must be deterministic")
    // a dense-enough graph at p=0.3: the unbiased estimate should land
    // within a loose band of truth (variance bound, not a tight check)
    val truth = exact.getLong(3)
    assert(s1.getLong(2) >= 0 && s1.getLong(2) <= truth * 5,
      s"estimate wildly off: ${s1.getLong(2)} vs $truth")
  }

  test("triangles: counting is orientation-exact — matches brute force " +
       "on a random graph") {
    import spark.implicits._
    // deterministic pseudo-random memberships: 40 baskets × 4 items
    // over 20 nodes
    val pairs = (0 until 160).map { i =>
      ((i / 4).toLong, (i * 7919L + i.toLong * i * 104729L) % 20)
    }.toDF("basket", "item")
    val r = GraphOps.trianglesOn(pairs, maxBasket = 16).collect().head
    // brute force: enumerate all node triples over the edge set
    val edges = pairs.as[(Long, Long)].collect().groupBy(_._1).values
      .flatMap(m => m.map(_._2).distinct.sorted.combinations(2))
      .map { case Array(a, b) => (a, b) }.toSet
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val brute = nodes.combinations(3).count { case Seq(a, b, c) =>
      edges((a, b)) && edges((b, c)) && edges((a, c))
    }
    assert(r.getLong(3) === brute.toLong, s"got $r, brute $brute")
    assert(r.getLong(1) === edges.size.toLong)
  }

  test("k-core: K4 survives peeling, a pendant dies in round 1, " +
       "a path dissolves completely under k=2") {
    import spark.implicits._
    // K4 on {1,2,3,4} (all degree 3) + pendant 5—1 (degree 1): k=3
    // peels the pendant in round 1 and nothing else, ever
    val k4p = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (1L, 5L)).toDF("a", "b")
    val rows = GraphOps.kCoreOn(k4p, k = 3, rounds = 4).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows(0) === ((5L, 7L)))
    (1 to 4).foreach(r => assert(rows(r) === ((4L, 6L)), s"round $r"))
    // path 1-2-3-4 under k=2: endpoints peel, then the rest — the
    // whole graph dissolves (no 2-core), and empties stay empty;
    // run BOTH regimes (delta broadcast-anti, and deltaMax=0 forcing
    // the shuffle semi-join path) — they must agree row for row
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    for (dm <- Seq(2000000L, 0L)) {
      val p = GraphOps.kCoreOn(path, k = 2, rounds = 4, deltaMax = dm)
        .collect()
        .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(p(0) === ((4L, 3L)), s"deltaMax=$dm")
      assert(p(1) === ((2L, 1L)), s"deltaMax=$dm")
      (2 to 4).foreach(r => assert(p(r) === ((0L, 0L)), s"round $r dm=$dm"))
    }
    // sf graph: monotone non-increasing survivors
    val sfRows = GraphOps.kCore(spark, sf).collect().sortBy(_.getInt(0))
    assert(sfRows.length === 5)
    sfRows.sliding(2).foreach { w =>
      assert(w(0).getLong(1) >= w(1).getLong(1))
      assert(w(0).getLong(2) >= w(1).getLong(2))
    }
  }

  test("LPA: two bridged triangles split into two size-3 " +
       "communities under deterministic min-label ties") {
    import spark.implicits._
    // triangles {1,2,3} and {4,5,6} bridged 3-4; hand-computed sync
    // rounds: L3 = {1,2,3}→1, {4,5,6}→3 — two communities of size 3
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L)).toDF("a", "b")
    val h = GraphOps.lpaOn(edges, rounds = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h === Map(3L -> 2L))
    // sf graph: histogram masses sum to the node count
    val hist = GraphOps.lpa(spark, sf).collect()
    val nodes = hist.map(r => r.getLong(0) * r.getLong(1)).sum
    assert(nodes > 0)
    assert(hist.map(_.getLong(1)).forall(_ > 0))
  }

  test("degree distribution: hand graph bins exactly by floor(log2 deg)") {
    import spark.implicits._
    // K4 basket {1,2,3,4}: four nodes of degree 3 (bin 1); pendant
    // basket {5,6}: two nodes of degree 1 (bin 0); basket {1,2} adds
    // no new edges (already in K4) so degrees stand
    val baskets = Seq(
      (10L, 1L), (10L, 2L), (10L, 3L), (10L, 4L),
      (11L, 5L), (11L, 6L), (12L, 1L), (12L, 2L))
      .toDF("basket", "item")
    val rows = graft.ops.GraphOps.degreeDistOn(baskets, 16).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    assert(rows === Map(
      0L -> ((2L, 1L, 1L, 0.3333)), // degree-1 pendants
      1L -> ((4L, 3L, 3L, 0.6667)))) // K4 members, deg 3 → bin 1
  }

  test("bfs: path graph yields exact hop distances, horizon and " +
       "disconnected nodes excluded, empty frontier short-circuits") {
    import spark.implicits._
    // path 1—2—3—4—5—6—7 (pair baskets) + isolated pair {98, 99}:
    // from source 1, rounds=4 reaches hops 0..4 (nodes 1..5); nodes
    // 6, 7 are beyond the horizon; 98/99 unreachable entirely
    val baskets = (1L to 6L).map(i => (i * 10, i)) ++
      (1L to 6L).map(i => (i * 10, i + 1)) ++ Seq((990L, 98L), (990L, 99L))
    val out = graft.ops.GraphOps.bfsOn(
        baskets.toDF("basket", "item"), rounds = 4, maxBasket = 16)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out === Map(
      0L -> ((1L, 1L, 1L)), 1L -> ((1L, 2L, 2L)), 2L -> ((1L, 3L, 3L)),
      3L -> ((1L, 4L, 4L)), 4L -> ((1L, 5L, 5L))))
    // triangle: everything lands in hops 0/1, round 2 frontier empty
    // → short-circuit leaves exactly two rows
    val tri = Seq((1L, 1L), (1L, 2L), (1L, 3L)).toDF("basket", "item")
    val t = graft.ops.GraphOps.bfsOn(tri, rounds = 4, maxBasket = 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(t === Map(0L -> 1L, 1L -> 2L))
  }

  test("linkPredict: path graph proposes the closing pair, " +
       "existing edges excluded, hub centers cut") {
    import spark.implicits._
    // path 1—2—3 (baskets {1,2}, {2,3}): only candidate is (1,3)
    // via center 2; cn=1, d1=d3=1 → jaccard 1/(1+1−1) = 1
    val path = Seq((10L, 1L), (10L, 2L), (11L, 2L), (11L, 3L))
      .toDF("basket", "item")
    val r1 = graft.ops.GraphOps.linkPredictOn(path, 16, 64, 50).collect()
    assert(r1.length === 1)
    assert((r1(0).getLong(0), r1(0).getLong(1), r1(0).getLong(2),
      r1(0).getDouble(5)) === ((1L, 3L, 1L, 1.0)))
    // triangle {1,2,3}: every distance-2 pair is already an edge —
    // the anti join must leave nothing
    val tri = Seq((10L, 1L), (10L, 2L), (10L, 3L)).toDF("basket", "item")
    assert(graft.ops.GraphOps.linkPredictOn(tri, 16, 64, 50).count() === 0)
    // star center 9 with 5 leaves: center degree 5 > cap 4 → the cut
    // drops every wedge; raising the cap to 5 restores C(5,2) pairs
    val star = (1L to 5L).map(i => (20L + i, 9L)) ++
      (1L to 5L).map(i => (20L + i, i))
    val starDf = star.toDF("basket", "item")
    assert(graft.ops.GraphOps.linkPredictOn(starDf, 16, 4, 50).count() === 0)
    assert(graft.ops.GraphOps.linkPredictOn(starDf, 16, 5, 50).count() === 10)
  }
}
