package graft

import graft.ops.SimilarityOps
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine column function matches a hand-computed value") {
    val df = Seq((Array(1.0f, 0.0f, 1.0f), Array(1.0f, 1.0f, 0.0f)))
      .toDF("a", "b")
    val got = df.select(SimilarityOps.cosine(col("a"), col("b"))).first().getDouble(0)
    assert(math.abs(got - 0.5) < 1e-9)
  }

  test("label centroids: exact per-position means, partitioning-invariant") {
    val out = SimilarityOps.labelCentroids(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getDouble(2), r.getLong(3)))
      .toMap
    // driver-side reference for one label: sequential exact mean
    val emb = Tables.embeddings(spark, sf).collect()
      .map(r => r.getInt(2) -> r.getSeq[Float](1))
    val label = emb.head._1
    val vecs = emb.filter(_._1 == label).map(_._2)
    val dims = vecs.head.length
    (0 until dims).foreach { p =>
      // same arithmetic as the operator: exact decimal sum of the
      // float values, one double division, HALF_UP 4dp
      val s = vecs.map(v => BigDecimal(v(p).toDouble)
        .setScale(10, BigDecimal.RoundingMode.HALF_UP)).sum
      val want = BigDecimal(s.toDouble / vecs.length)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val (got, n) = out((label, p))
      assert(n === vecs.length)
      assert(got === want, s"label $label pos $p")
    }
    // every (label, pos) cell exists exactly once
    val labels = emb.map(_._1).distinct
    assert(out.size === labels.length * dims)
  }

  test("PQ top-k: exact rescored scores, shape, and recall vs brute force") {
    val pq = SimilarityOps.pqTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val byQ = pq.groupBy(_._1)
    assert(byQ.size === 10)
    byQ.values.foreach { rows =>
      assert(rows.map(_._4).sorted.toSeq === (1 to 5))
      // scores are TRUE cosines (rescored), so they rank descending
      assert(rows.sortBy(_._4).map(_._3).toSeq ===
        rows.map(_._3).sorted.reverse.toSeq)
      assert(rows.forall(r => r._2 != r._1)) // no self-match
    }
    // the ADC shortlist must keep most true neighbors: measured 0.84
    // at this SF with rerank=50, asserted with margin
    val bf = SimilarityOps.bruteForceTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = pq.map(r => (r._1, r._2)).toSet
    assert((bf & hits).size.toDouble / bf.size >= 0.7)
  }

  test("IVF-PQ composed tier: ranked true-cosine output, candidates " +
       "confined to probed cells, recall measured vs brute force") {
    val out = SimilarityOps.ivfPqTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val byQ = out.groupBy(_._1)
    assert(byQ.size === 10)
    val exact = SimilarityOps.bruteForceTopK(spark, sf, k = 1000).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    byQ.values.foreach { rows =>
      assert(rows.map(_._4).sorted.toSeq === (1 to rows.length))
      assert(rows.sortBy(_._4).map(_._3).toSeq ===
        rows.map(_._3).sorted.reverse.toSeq)
      rows.foreach { r =>
        assert(r._2 != r._1)
        // rescored scores are TRUE cosines — approximation only chose
        // WHO got scored, never what a score is
        assert(exact((r._1, r._2)) === r._3)
      }
    }
    // double gating (cells ∩ ADC shortlist) keeps useful recall: the
    // top-5 of brute force found at this SF, asserted with margin
    val bf5 = SimilarityOps.bruteForceTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = out.map(r => (r._1, r._2)).toSet
    val recall = (bf5 & hits).size.toDouble / bf5.size
    assert(recall >= 0.4, s"recall $recall")
  }

  test("brute force top-k: k results per query, descending, no self-match") {
    val out = SimilarityOps.bruteForceTopK(spark, sf, k = 5, nQueries = 5).collect()
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.size === 5)
    byQ.values.foreach { rows =>
      assert(rows.length === 5)
      val cos = rows.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(cos.sameElements(cos.sortBy(-_: Double)))
      rows.foreach(r => assert(r.getLong(1) !== r.getLong(0)))
    }
  }

  test("LSH top-k results are a subset-ranking of brute force candidates") {
    val lsh = SimilarityOps.lshTopK(spark, sf, k = 3, nQueries = 5).collect()
    // approximate: each returned neighbor's cosine must equal the exact
    // cosine (we only skip candidates, never mis-score them)
    val bf = SimilarityOps.bruteForceTopK(spark, sf, k = 1000, nQueries = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    lsh.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(bf(key) === r.getDouble(2))
    }
  }

  test("IVF top-k returns ranked neighbors per query") {
    val out = SimilarityOps.ivfTopK(spark, sf, k = 3, nQueries = 5).collect()
    assert(out.nonEmpty)
    out.groupBy(_.getLong(0)).values.foreach { rows =>
      val ranks = rows.map(_.getInt(3)).sorted
      assert(ranks.toSeq === (1 to rows.length))
    }
  }

  test("IVF scores are exact for returned candidates; recall is measured") {
    val bf = SimilarityOps.bruteForceTopK(spark, sf, k = 5, nQueries = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = SimilarityOps.ivfTopK(spark, sf, k = 5, nQueries = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf intersect ivf).size.toDouble / bf.size
    info(f"IVF recall@5 vs brute force: $recall%.2f")
    assert(recall > 0.0) // approximate by design; exactness is per-score
  }

  test("IVF recall audit: 1.0 at full probe width, monotone in nProbe") {
    // probing every cell makes the candidate set the whole corpus, so
    // the IVF ranking equals the exact one and recall must be 1.0
    val full = SimilarityOps.ivfRecall(spark, sf, k = 5, nQueries = 5,
      nProbe = 1000000).collect()
    assert(full.length === 5)
    full.foreach { r =>
      assert(r.getLong(1) === 5L, s"hits ${r.getLong(1)} at full probe")
      assert(r.getDouble(2) === 1.0)
    }
    // widening the probe can only add candidates: per-query recall is
    // monotone non-decreasing in nProbe
    val p1 = SimilarityOps.ivfRecall(spark, sf, k = 5, nQueries = 5,
      nProbe = 1).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val p3 = SimilarityOps.ivfRecall(spark, sf, k = 5, nQueries = 5,
      nProbe = 3).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    p1.foreach { case (q, h1) => assert(p3(q) >= h1, s"query $q") }
  }

  test("sampled-build IVF: identical to the exact-build face below " +
       "the cap; a forced cap keeps the ranked contract and full-probe " +
       "recall stays 1.0") {
    def canon(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSeq
    // below the cap the md5 cut keeps every bucket and, with dense
    // vec_ids, the lowest-id seeds ARE ivfTopK's vec_id < cellCount
    // seeds — the faces must agree row for row
    assert(canon(SimilarityOps.ivfTopKSampled(spark, sf, k = 3,
        nQueries = 5).collect())
      === canon(SimilarityOps.ivfTopK(spark, sf, k = 3,
        nQueries = 5).collect()))
    // force the cap under the corpus (buildMaxVectors = 8 < n): the
    // fit sees only the md5 sample, yet the serving contract holds —
    // ranks 1..k per query, cosine descending
    val capped = SimilarityOps.ivfTopKSampled(spark, sf, k = 3,
      nQueries = 5, buildMaxVectors = 8).collect()
    assert(capped.nonEmpty)
    capped.groupBy(_.getLong(0)).values.foreach { rows =>
      assert(rows.map(_.getInt(3)).sorted.toSeq === (1 to rows.length))
      val cos = rows.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    }
    // full probe width: the candidate set is the whole corpus, so
    // recall is 1.0 REGARDLESS of where the capped fit put the
    // centroids — cell gating is the only recall loss
    val rec = SimilarityOps.ivfSampledRecall(spark, sf, k = 5,
      nQueries = 5, nProbe = 1000000, buildMaxVectors = 8).collect()
    assert(rec.length === 5)
    rec.foreach { r =>
      assert(r.getLong(1) === 5L, s"hits ${r.getLong(1)} at full probe")
      assert(r.getDouble(2) === 1.0)
    }
  }

  test("LSH recall is per-query monotone non-increasing in nBits; " +
       "PQ recall hits 1.0 at corpus-wide rerank") {
    // prefix-stable planes: a 4-bit bucket match implies the 2-bit
    // match, so widening nBits can only shrink the candidate set
    val b2 = SimilarityOps.lshRecall(spark, sf, k = 5, nQueries = 5,
      nBits = 2).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val b4 = SimilarityOps.lshRecall(spark, sf, k = 5, nQueries = 5,
      nBits = 4).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    b4.foreach { case (q, h4) => assert(b2(q) >= h4, s"query $q") }
    // a rerank shortlist covering the whole corpus makes PQ's exact
    // rescore the full exact ranking
    val full = SimilarityOps.pqRecall(spark, sf, k = 5, nQueries = 5,
      rerank = 1000000).collect()
    assert(full.length === 5)
    full.foreach(r => assert(r.getDouble(2) === 1.0,
      s"query ${r.getLong(0)} recall ${r.getDouble(2)}"))
  }

  test("composed IVF-PQ recall never exceeds IVF-only recall per query") {
    // an exact-top-k member inside the gated cells is always an IVF
    // hit (its global rank bounds its within-cell rank); the composed
    // tier additionally requires surviving the ADC shortlist, so its
    // hit set is a subset at matched k/nProbe
    val ivf = SimilarityOps.ivfRecall(spark, sf, k = 5, nQueries = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val comp = SimilarityOps.ivfPqRecall(spark, sf, k = 5, nQueries = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    comp.foreach { case (q, h) => assert(h <= ivf(q), s"query $q") }
  }

  test("remove-top: a planted fat axis collapses to exact zeros") {
    import spark.implicits._
    // every vector is a multiple of e0 with exactly-quantizable
    // coordinates: the top PC is e0 and the lattice subtraction
    // removes the whole vector — residuals are exactly 0
    val emb = Seq(
      (0L, Array(0.1f, 0f, 0f, 0f)), (1L, Array(0.2f, 0f, 0f, 0f)),
      (2L, Array(0.3f, 0f, 0f, 0f)), (3L, Array(0.4f, 0f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val out = SimilarityOps.pcaRemoveTopOn(emb, iters = 6).collect()
    assert(out.length === 16)
    out.foreach(r => assert(r.getDouble(2) === 0.0,
      s"vec ${r.getLong(0)} pos ${r.getInt(1)} = ${r.getDouble(2)}"))
  }

  test("remove-top residuals are lattice-orthogonal to the component") {
    // the per-dimension truncation leaves |residual . v| bounded by
    // the sum of |v_i| (one lost unit per dimension at most)
    val v6 = SimilarityOps.pcaPower(spark, sf).collect()
      .map(r => (r.getInt(0), math.round(r.getDouble(1) * 1e6)))
      .sortBy(_._1).map(_._2)
    val bound = v6.map(math.abs).sum
    val res = SimilarityOps.pcaRemoveTop(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), math.round(r.getDouble(2) * 1e6)))
      .groupBy(_._1)
    res.foreach { case (vec, rows) =>
      val dot = rows.sortBy(_._2).map(_._3).zip(v6)
        .map { case (c, v) => c * v }.sum
      assert(math.abs(dot) <= bound, s"vec $vec residual dot $dot")
    }
  }

  test("knn classifier: planted clusters classify their held-out queries") {
    import spark.implicits._
    val emb = Seq(
      (1L, Array(1f, 0f), 0), (2L, Array(0.95f, 0.05f), 0),
      (3L, Array(0.9f, 0.1f), 0),
      (11L, Array(0f, 1f), 1), (12L, Array(0.05f, 0.95f), 1),
      (13L, Array(0.1f, 0.9f), 1),
      (10L, Array(1f, 0.02f), 0), // held out (vec_id % 10 == 0)
      (20L, Array(0.02f, 1f), 1)  // held out
    ).toDF("vec_id", "embedding", "label")
    val out = SimilarityOps.knnClassifyOn(emb, k = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).toList
    // each query's 3 nearest neighbors are exactly its own cluster
    assert(out === List((10L, 0, 0, 3L), (20L, 1, 1, 3L)))
  }

  test("knn IVF face matches the brute-force face EXACTLY on clustered data") {
    import spark.implicits._
    // 4 tight clusters around orthogonal axes, ids interleaved across
    // clusters (so seed vectors cover every cluster); multiples of 10
    // are the holdout. This is IVF's real-world premise — embeddings
    // WITH cluster structure — where probing the nearest cells keeps
    // every true neighbor and the two faces must decide identically.
    val emb = (1L to 48L).map { i =>
      val c = (i % 4).toInt
      val v = Array.tabulate(8)(p =>
        (if (p == c) 1.0f else 0.0f) + 0.01f * ((i * 7 + p) % 5))
      (i, v, c)
    }.toDF("vec_id", "embedding", "label")
    val bf = SimilarityOps.knnClassifyOn(emb, k = 5).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toList
    val ivf = SimilarityOps.knnClassifyIvfOn(emb, k = 5, nProbe = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toList
    assert(bf.nonEmpty && ivf === bf)
    // and the decisions are right: every holdout recovers its cluster
    ivf.foreach { case (q, truth, pred) => assert(pred === truth, s"q=$q") }
  }

  test("knn IVF face on the unclustered corpus: full coverage, votes within " +
      "k, agreement measured vs brute force") {
    val bf = SimilarityOps.knnClassify(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    val ivf = SimilarityOps.knnClassifyIvf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    // every brute-force query gets an IVF prediction (probed cells are
    // never all empty at this SF) and votes stay within k
    assert(ivf.map(_._1).toSet === bf.keySet)
    assert(ivf.forall(r => r._4 >= 1L && r._4 <= 5L))
    // The corpus embeddings are RANDOM — no cluster structure, IVF's
    // worst case (nearest neighbors spread uniformly over cells), so
    // shortlist recall is structurally low here and the vote amplifies
    // near-ties. The floor asserts the composition still beats chance
    // (8 labels ⇒ ~0.125 + vote correlation); the clustered-data test
    // above pins the mechanism exactly, and the DuckDB oracle pins
    // every computed row cross-engine.
    val agree = ivf.count(r => bf(r._1) == r._3).toDouble / ivf.length
    info(f"IVF/brute-force prediction agreement (random corpus): $agree%.2f")
    assert(agree >= 0.3, f"agreement $agree%.2f below 0.3")
  }

  test("int8 quantization keeps near-unit fidelity on every vector") {
    val out = SimilarityOps.quantizeInt8(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(out.length === Tables.embeddings(spark, sf).count())
    out.foreach { case (id, scale, kept) =>
      assert(scale > 0, s"vec $id")
      // 127 levels per max-normalized axis loses well under 1% cosine
      assert(kept >= 0.99 && kept <= 1.0, s"vec $id kept $kept")
    }
    val worst = out.map(_._3).min
    info(f"worst per-vector cosine after int8: $worst%.4f")
  }

  test("knn vote ties break to the lowest label, rank ties to lowest id") {
    import spark.implicits._
    // all four corpus vectors have cosine 0.7071 to the query, so the
    // neighbor ranking is pure vec_id order (1, 11, 21, 31); k = 2
    // takes labels {0, 1} — a 1-1 vote that must resolve to label 0
    val emb = Seq(
      (1L, Array(1f, 0f), 0), (21L, Array(1f, 0f), 0),
      (11L, Array(0f, 1f), 1), (31L, Array(0f, 1f), 1),
      (10L, Array(1f, 1f), 9)
    ).toDF("vec_id", "embedding", "label")
    val out = SimilarityOps.knnClassifyOn(emb, k = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).toList
    assert(out === List((10L, 9, 0, 1L)))
  }

  test("random projection preserves pairwise cosine geometry (JL bound)") {
    val emb = Tables.embeddings(spark, sf).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    // long format (vec_id, pos, value) → rebuild per-vector arrays
    val proj = SimilarityOps.randomProject(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      .groupBy(_._1)
      .map { case (id, rs) => id -> rs.sortBy(_._2).map(_._3).toArray }
    assert(proj.size === emb.size)
    assert(proj.values.forall(_.length === 8))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val ids = emb.keys.toArray.sorted
    val pairs = ids.sliding(2, 2).collect { case Array(a, b) => (a, b) }.toArray
    val errs = pairs.map { case (a, b) =>
      math.abs(cos(emb(a), emb(b)) - cos(proj(a), proj(b))) }
    // expected error ~1/sqrt(8) ≈ 0.35 per pair; the MEAN must sit
    // well inside it or the planes/scale are wrong
    val mean = errs.sum / errs.length
    assert(mean < 0.4, s"mean cosine distortion $mean")
    // and the projection must not collapse: projected norms positive
    assert(proj.values.forall(p => p.map(x => x * x).sum > 0))
  }

  test("mrl recall: prefix-only signal makes truncation lossless; " +
       "padded noise dims leave recall in [0, 1]") {
    import spark.implicits._
    // vectors whose dims beyond 4 are all zero: any prefix >= 4 dims
    // ranks identically to the full vector, so recall@k must be 1.0
    val rng = new scala.util.Random(7)
    val emb = (0L until 30L).map { i =>
      val head = Array.fill(4)(rng.nextFloat() - 0.5f)
      (i, head ++ Array.fill(60)(0.0f))
    }.toDF("vec_id", "embedding")
    val rows = SimilarityOps.mrlRecallOn(emb, k = 5, nQueries = 5,
      tiers = Seq(4, 16)).collect()
    assert(rows.length === 10)
    rows.foreach(r => assert(r.getDouble(2) === 1.0, r.toString))
    // sf data: recalls are proper fractions of k
    val sf01 = SimilarityOps.mrlRecall(spark, sf).collect()
    assert(sf01.forall { r =>
      val x = r.getDouble(2); x >= 0.0 && x <= 1.0 })
  }

  test("binary recall: pure sign vectors make the hamming ranking exact " +
       "and scale-invariant; sf recalls stay proper fractions") {
    import spark.implicits._
    // ±scale pattern vectors: cosine = (64 − 2·ham)/64, exactly
    // monotone in hamming, and the per-vector scale cancels in both
    // measures — recall@5 must be 1.0 for every query. Each of 32
    // random signs is DUPLICATED so every pairwise hamming is even:
    // odd hammings put the cosine on an exact .00005 rounding
    // boundary ((odd)/32 ends in ...125/...375), where last-ulp
    // float noise flips the 4dp rounding and manufactures ties the
    // integer hamming doesn't have
    val rng = new scala.util.Random(11)
    val emb = (0L until 30L).map { i =>
      val scale = 0.5f + rng.nextFloat()
      val half = Array.fill(32)(if (rng.nextBoolean()) scale else -scale)
      (i, half.flatMap(v => Array(v, v)))
    }.toDF("vec_id", "embedding")
    val rows = SimilarityOps.binaryRecallOn(emb, k = 5, nQueries = 5)
      .collect()
    assert(rows.length === 5)
    rows.foreach(r => assert(r.getDouble(1) === 1.0, r.toString))
    // sf data: whatever signal sign bits keep, recalls are fractions
    val sf01 = SimilarityOps.binaryRecall(spark, sf).collect()
    assert(sf01.length === 10)
    assert(sf01.forall { r => val x = r.getDouble(1); x >= 0.0 && x <= 1.0 })
  }

  test("diversity sample: per-cell quotas hold, exemplars rank by " +
       "centroid sim, region masses sum to the corpus") {
    val out = SimilarityOps.diversitySample(spark, sf).collect()
    assert(out.nonEmpty)
    val byCell = out.groupBy(_.getLong(0))
    byCell.foreach { case (cell, rows) =>
      // quota ≤ perCell, ranks dense from 1, sims non-increasing in
      // rank with vec_id as the deterministic tiebreak
      assert(rows.length <= 3, s"cell $cell")
      assert(rows.map(_.getInt(2)).sorted.toSeq ===
        (1 to rows.length).toSeq, s"cell $cell")
      val sorted = rows.sortBy(_.getInt(2))
      sorted.sliding(2).foreach { w =>
        if (w.length == 2) {
          val (a, b) = (w(0), w(1))
          assert(a.getDouble(4) > b.getDouble(4) ||
            (a.getDouble(4) == b.getDouble(4) &&
              a.getLong(3) < b.getLong(3)))
        }
      }
      // cell_size constant within the cell and ≥ the quota taken
      assert(rows.map(_.getLong(1)).distinct.length === 1)
      assert(rows.head.getLong(1) >= rows.length)
    }
    // region masses cover the whole corpus exactly once
    val mass = byCell.map(_._2.head.getLong(1)).sum
    assert(mass === Tables.embeddings(spark, sf).count())
    // exemplar ids are distinct across cells (a vector lives in ONE
    // region)
    val ids = out.map(_.getLong(3))
    assert(ids.distinct.length === ids.length)
  }

  test("pcaPower recovers a planted dominant direction, deterministically") {
    import spark.implicits._
    // variance concentrated on dim 0 (spread ±0.8), light noise on the
    // other dims (±0.02·k patterns) — the top component must align
    // with e0: |loading(0)| = 1 (max-normalized) and the explained
    // share must dominate
    val emb = (0 until 40).map { i =>
      val main = ((i % 9) - 4) * 0.2f
      val noise = Array.tabulate(3)(k => (((i * (k + 3)) % 5) - 2) * 0.01f)
      (i.toLong, Array(main) ++ noise)
    }.toDF("vec_id", "embedding")
    val out = SimilarityOps.pcaPowerOn(emb, iters = 6)
      .collect()
    assert(out.length === 4)
    val loadings = out.map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(math.abs(loadings(0)) === 1.0) // dominant axis, max-normalized
    (1 to 3).foreach(k => assert(math.abs(loadings(k)) < 0.1,
      s"noise dim $k leaked: ${loadings(k)}"))
    assert(out.head.getDouble(3) > 0.9) // explained-variance share
    // eigenvalue ≈ variance of the main column (0.2-step grid)
    val mainVals = (0 until 40).map(i => ((i % 9) - 4) * 0.2)
    val mean = mainVals.sum / mainVals.size
    val varMain = mainVals.map(v => (v - mean) * (v - mean)).sum / mainVals.size
    assert(math.abs(out.head.getDouble(2) - varMain) < 0.01)
    // bit-determinism: a second run reproduces every value exactly
    val again = SimilarityOps.pcaPowerOn(emb, iters = 6).collect()
    assert(out.map(_.toString).toSeq === again.map(_.toString).toSeq)

    // the ACTION: projecting the same corpus onto the fitted component
    // reproduces the main-axis signal (|corr| ≈ 1 vs the planted
    // column) with near-zero mean (centered projection)
    val proj = SimilarityOps.pcaProjectOn(emb, iters = 6).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val mainCol = (0 until 40).map(i => i.toLong -> ((i % 9) - 4) * 0.2)
    val xs = mainCol.map(_._2); val ys = mainCol.map(p => proj(p._1))
    val (mx, my) = (xs.sum / xs.size, ys.sum / ys.size)
    val corr = xs.zip(ys).map { case (a, b) => (a - mx) * (b - my) }.sum /
      math.sqrt(xs.map(a => (a - mx) * (a - mx)).sum *
        ys.map(b => (b - my) * (b - my)).sum)
    assert(math.abs(corr) > 0.999, s"pc1 corr $corr")
    assert(math.abs(my) < 0.01, s"projection mean $my")
  }

  test("centroidDrift: stable label reads cos 1; a flipped half " +
       "alerts; a scale bug is cosine-blind but norm-visible") {
    import spark.implicits._
    def vec(seed: Int, scale: Double = 1.0): Array[Float] =
      Array.tabulate(8)(i => (scale * ((seed + i) % 5 + 1) / 10.0).toFloat)
    // label stable: both halves identical vectors → cos 1, no drift.
    // label flipped: odd half negated → centroid cos −1 → drift.
    // label scaled: odd half ×2 → cos 1 (direction identical) but
    // norm_shift ≈ +norm — the regression cosine alone cannot see.
    val rows =
      (0L until 40L).map(id => (id, vec(3), "stable")) ++
      (0L until 40L).map(id => (100L + id,
        if (id % 2 == 1) vec(3).map(-_) else vec(3), "flipped")) ++
      (0L until 40L).map(id => (200L + id,
        vec(3, if (id % 2 == 1) 2.0 else 1.0), "scaled"))
    val out = SimilarityOps.centroidDriftOn(
        rows.toDF("vec_id", "embedding", "label")).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out.size === 3)
    assert(out("stable").getDouble(3) === 1.0)
    assert(!out("stable").getBoolean(7))
    assert(out("stable").getDouble(6) === 0.0)
    assert(out("flipped").getDouble(3) === -1.0)
    assert(out("flipped").getBoolean(7))
    assert(out("scaled").getDouble(3) === 1.0)
    assert(!out("scaled").getBoolean(7), "cosine is blind to scale")
    assert(out("scaled").getDouble(6) > 0.1,
      "norm_shift must expose the scale regression")
    assert(out.values.forall(r => r.getLong(1) === 20L && r.getLong(2) === 20L))
  }

  test("rankingEval: hand-computed MRR/DCG/NDCG/recall in micro-units, " +
       "zero-relevant query well-defined") {
    import spark.implicits._
    // q0 [1,0] label 0; candidates rank 11 > 12 > 13 > {6,14 tie at
    // cos 0, id tiebreak} > 15; relevant (label 0) at ranks 1 and 3.
    // q6 [0,-1] label 9 is the only label-9 vector: n_rel = 0.
    val emb = Seq(
      (0L, Array(1f, 0f), 0), (6L, Array(0f, -1f), 9),
      (11L, Array(0.99f, 0.14f), 0), (12L, Array(0.9f, 0.44f), 1),
      (13L, Array(0.8f, 0.6f), 0), (14L, Array(0f, 1f), 1),
      (15L, Array(-1f, 0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = SimilarityOps.rankingEvalOn(emb, k = 10, nQueries = 7)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
         r.getLong(5), r.getLong(6), r.getLong(7))).toMap
    assert(out.size === 2)
    // dcg = ⌊1e6/log2(2)⌋ + ⌊1e6/log2(4)⌋ = 1500000;
    // idcg (ideal ranks 1,2) = 1000000 + ⌊1e6/log2 3⌋ = 1630929;
    // ndcg = 1.5e12 // 1630929 = 919721
    assert(out(0L) === ((2L, 2L, 1000000L, 1500000L, 1630929L,
      919721L, 1000000L)))
    assert(out(6L) === ((0L, 0L, 0L, 0L, 0L, 0L, 0L)))
  }

  test("rankingEval: sf corpus yields one row per query with metrics " +
       "inside the micro-unit domain") {
    val rows = SimilarityOps.rankingEval(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      val ndcg = r.getLong(6); val mrr = r.getLong(3)
      ndcg >= 0L && ndcg <= 1000000L && mrr >= 0L && mrr <= 1000000L &&
        r.getLong(2) <= r.getLong(1) // hits ≤ n_rel
    })
  }

  test("long-array kernels: dotLong/sqDistLong are exact integers " +
       "through the codegen path, mismatched lengths clamp") {
    import graft.functions.VectorExprs
    val df = Seq(
      (1L, Seq(3L, -2L, 1000000L), Seq(4L, 5L, 1000000L)),
      (2L, Seq(7L, 7L), Seq(7L, 7L, 999L)), // extra element ignored
      (3L, Seq.empty[Long], Seq.empty[Long])
    ).toDF("id", "a", "b")
    val got = df.select(col("id"),
        VectorExprs.dotLong(col("a"), col("b")).as("d"),
        VectorExprs.sqDistLong(col("a"), col("b")).as("s"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got(1L) === ((3L * 4 - 2 * 5 + 1000000L * 1000000L,
      1L + 49L + 0L)))
    assert(got(2L) === ((98L, 0L)))
    assert(got(3L) === ((0L, 0L)))
  }

  test("mmr: a planted near-duplicate is demoted below the diverse " +
       "candidate; lambda=1 degenerates to plain top-k order") {
    import spark.implicits._
    // query 0 sits BETWEEN cluster X (vecs 1, 2 — identical) and
    // cluster Y (vec 3): all three have equal relevance ~0.7071, so
    // pos1 = vec 1 (id tiebreak), pos2 must be the DIVERSE vec 3
    // (sim to vec 1 = 0), and the duplicate vec 2 (sim 1.0) drops
    // to pos3 — the redundancy demotion that is MMR's whole point
    val emb = Seq(
      (0L, Array(0.7071f, 0.7071f, 0f)),
      (1L, Array(1f, 0f, 0f)),
      (2L, Array(1f, 0f, 0f)),
      (3L, Array(0f, 1f, 0f)))
      .toDF("vec_id", "embedding")
    val rows = SimilarityOps
      .mmrRerankOn(emb, k = 3, shortlist = 3, nQueries = 1, lam10 = 7)
      .collect()
    assert(rows.map(r => (r.getInt(1), r.getLong(2))).toSeq
      === Seq((1, 1L), (2, 3L), (3, 2L)))
    assert(rows(0).getDouble(4) === 0.0)   // pos1 max_sim convention
    assert(rows(1).getDouble(4) === 0.0)   // vec 3 ⊥ vec 1
    assert(rows(2).getDouble(4) === 1.0)   // the duplicate's sim
    // lambda = 1.0: scores reduce to 10·rel — MMR IS the top-k order
    val sf3 = SimilarityOps.mmrRerank(spark, sf, k = 5, shortlist = 20,
      nQueries = 3, lam10 = 10).collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq).toMap
    val bf = SimilarityOps.bruteForceTopK(spark, sf, k = 5, nQueries = 3)
      .collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getInt(3)).map(_.getLong(1)).toSeq).toMap
    assert(sf3 === bf)
  }

  test("standardize: hand z-scores exact, zero-variance dims pin 0, " +
       "corpus dims come out mean~0 var~1") {
    import spark.implicits._
    // dim 0: values {0, 2} → mean 1, sd 1 → z = ∓1 exactly on the
    // lattice; dim 1: constant → zero variance → z = 0 by convention
    val emb = Seq(
      (1L, Array(0.0f, 7.5f)),
      (2L, Array(2.0f, 7.5f))).toDF("vec_id", "embedding")
    val out = SimilarityOps.standardizeOn(emb).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(out((1L, 0)) === -1.0)
    assert(out((2L, 0)) === 1.0)
    assert(out((1L, 1)) === 0.0 && out((2L, 1)) === 0.0)
    // corpus: every dimension standardizes to mean ≈ 0, var ≈ 1
    // (integer flooring of mean/var costs at most ~1e-4 here)
    val z = SimilarityOps.standardize(spark, sf).collect()
      .map(r => (r.getInt(1), r.getDouble(2)))
    val byDim = z.groupBy(_._1)
    byDim.foreach { case (dim, vs) =>
      val xs = vs.map(_._2)
      val m = xs.sum / xs.length
      val v = xs.map(x => (x - m) * (x - m)).sum / xs.length
      assert(math.abs(m) < 0.01, s"dim $dim mean $m")
      assert(math.abs(v - 1.0) < 0.05, s"dim $dim var $v")
    }
  }
}
