package graft

import graft.ops.MlOps
import org.apache.spark.sql.functions._

class MlSpec extends SparkSpec {

  test("cluster: every vector assigned, clusters are used, deterministic") {
    val out = MlOps.cluster(spark, sf).collect()
    assert(out.length === Tables.embeddings(spark, sf).count())
    val used = out.map(_.getInt(1)).distinct
    assert(used.length > 1)
    val again = MlOps.cluster(spark, sf).collect()
    assert(out.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("checked cluster face: every row's verdicts hold") {
    val rows = MlOps.clusterChecked(spark, sf).collect()
    assert(rows.length === Tables.embeddings(spark, sf).count())
    rows.foreach { r =>
      assert(r.getBoolean(1), s"cluster out of range: $r")
      assert(r.getBoolean(2), s"assignment is not the centroid argmin: $r")
    }
  }

  test("checked classify face: distribution/argmax verdicts hold on the split") {
    val rows = MlOps.classifyChecked(spark, sf).collect()
    val n = Tables.embeddings(spark, sf).filter(col("vec_id") % 5 === 0).count()
    assert(rows.length === n)
    rows.foreach { r =>
      assert(r.getBoolean(2) && r.getBoolean(3) && r.getBoolean(4),
        s"scoring contract violated: $r")
    }
  }

  // blob A at (0, 0) with label 0, blob B at (1, 1) with label 1;
  // seeds are vec_ids 0 (in A) and 1 (in B)
  private val blobs = Seq(
    (0L, 0, Array(0.0f, 0.1f)), (2L, 0, Array(0.1f, 0.0f)),
    (4L, 0, Array(0.05f, 0.05f)),
    (1L, 1, Array(1.0f, 0.9f)), (3L, 1, Array(0.9f, 1.0f)),
    (5L, 1, Array(0.95f, 0.95f)))

  test("in-plan kmeans separates two obvious blobs and reports their " +
       "true majority labels") {
    import spark.implicits._
    val emb = blobs.toDF("vec_id", "label", "embedding")
    val rows = MlOps.kmeansPlanOn(emb, k = 2, iters = 2).collect()
    assert(rows.length === 2)
    val byCluster = rows.map(r =>
      r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getInt(3)))).toMap
    assert(byCluster(0L)._1 === 3L && byCluster(0L)._3 === 0)
    assert(byCluster(1L)._1 === 3L && byCluster(1L)._3 === 1)
    // within-blob spread is tiny relative to the blob separation
    rows.foreach(r => assert(r.getDouble(2) < 0.05, r.toString))
  }

  test("in-plan kmeans seeds by id rank: ids 10..15 cluster exactly " +
       "like ids 0..5") {
    import spark.implicits._
    // the two-blob fixture, once at ids 0..5 and once shifted to
    // 10..15: seeds are the k LOWEST ids, not the ids below k, so the
    // shifted frame still gets both seeds (10 in A, 11 in B)
    def clusters(offset: Long): Seq[(Long, Long, Double, Int)] =
      MlOps.kmeansPlanOn(
          blobs.map { case (id, l, e) => (id + offset, l, e) }
            .toDF("vec_id", "label", "embedding"), k = 2, iters = 2)
        .collect().toSeq
        .map(r => (r.getLong(0) - offset, r.getLong(1), r.getDouble(2),
          r.getInt(3)))
    val dense = clusters(0L)
    assert(dense.length === 2)
    assert(clusters(10L) === dense)
  }

  test("in-plan kmeans on sf embeddings: clusters cover every vector") {
    val rows = MlOps.kmeansPlan(spark, sf).collect()
    assert(rows.map(_.getLong(1)).sum ===
      Tables.embeddings(spark, sf).count())
    assert(rows.forall(_.getDouble(2) > 0))
  }

  test("evalClassification: hand fixture incl. hallucinated + starved class") {
    import spark.implicits._
    // true classes {0, 1, 2}; class 3 is hallucinated (predicted, never
    // true), class 2 is starved (true, never predicted)
    val preds = Seq(
      (0, 0), (0, 0), (0, 1),     // class 0: 3 true, 2 tp
      (1, 1), (1, 3),             // class 1: 2 true, 1 tp
      (2, 0), (2, 3)              // class 2: 2 true, 0 tp
    ).toDF("true_label", "pred_label")
    val out = MlOps.evalClassification(preds).collect()
      .map(r => r.getInt(0) -> r).toMap
    assert(out.keySet === Set(0, 1, 2, 3)) // full union of axes
    // class 0: n_true=3 n_pred=3 tp=2 → p=r=0.6667, f1=0.6667
    assert((out(0).getLong(1), out(0).getLong(2), out(0).getLong(3)) === ((3L, 3L, 2L)))
    assert(out(0).getDouble(4) === 0.6667 && out(0).getDouble(5) === 0.6667)
    // class 1: n_pred=2, tp=1 → p=0.5, r=0.5, f1=0.5
    assert(out(1).getDouble(4) === 0.5 && out(1).getDouble(6) === 0.5)
    // starved class 2: predicted never → precision 0 (not null), recall 0
    assert((out(2).getLong(2), out(2).getDouble(4), out(2).getDouble(6)) === ((0L, 0.0, 0.0)))
    // hallucinated class 3: n_true=0 → recall 0 row still present
    assert((out(3).getLong(1), out(3).getLong(2), out(3).getDouble(5)) === ((0L, 2L, 0.0)))
  }

  test("linregMulti: exact planted plane recovered, singular group nulls") {
    import spark.implicits._
    // group "a": y = 2 + 3·x1 − 0.5·x2 EXACTLY on a non-degenerate
    // design → coefficients recovered to the digit, r2 = 1.
    // group "b": x2 ≡ 2·x1 (collinear) → det = 0 → null coefficients.
    val rows =
      Seq((0.0, 0.0), (1.0, 0.0), (0.0, 1.0), (1.0, 1.0), (2.0, 3.0),
          (4.0, 1.0)).map { case (x1, x2) =>
        ("a", 2.0 + 3.0 * x1 - 0.5 * x2, x1, x2)
      } ++ Seq((1.0, 2.0), (2.0, 4.0), (3.0, 6.0)).map { case (x1, x2) =>
        ("b", x1 + x2, x1, x2)
      }
    val out = MlOps.linregMultiOn(rows.toDF("g", "y", "x1", "x2"),
      col("g"), col("y"), col("x1"), col("x2")).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("a").getLong(1) === 6L)
    assert(out("a").getDouble(2) === 2.0)   // b0
    assert(out("a").getDouble(3) === 3.0)   // b1
    assert(out("a").getDouble(4) === -0.5)  // b2
    assert(out("a").getDouble(5) === 1.0)   // r2
    assert(out("b").isNullAt(2) && out("b").isNullAt(3) &&
      out("b").isNullAt(4) && out("b").isNullAt(5))
  }

  test("decisionStump: clean-split fixture finds the zero-Gini cut") {
    import spark.implicits._
    // x = 1..10, pos iff x ≥ 6: the median decile (5.5) separates the
    // classes perfectly → gini 0 at idx 5, and only there
    val df = (1 to 10).map(i => (i.toDouble, if (i >= 6) 1L else 0L))
      .toDF("x", "pos")
    val out = MlOps.decisionStumpOn(df, col("x"), col("pos")).collect()
      .map(r => r.getInt(0) -> r).toMap
    assert(out.size === 9)
    val best = out(5)
    assert(best.getDouble(1) === 5.5)
    assert((best.getLong(2), best.getLong(3), best.getLong(4),
      best.getLong(5)) === ((5L, 0L, 5L, 5L)))
    assert(best.getDouble(6) === 0.0 && best.getBoolean(7))
    assert(out.values.count(_.getBoolean(7)) === 1)
    // a lopsided candidate: idx 1 (t = 1.9) → left pure but tiny,
    // right 5/9 pos → weighted gini = 0.9·(1 − (5/9)² − (4/9)²)
    val g1 = BigDecimal(0.9 * (1.0 - math.pow(5.0 / 9, 2) -
      math.pow(4.0 / 9, 2))).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    assert(out(1).getDouble(6) === g1.toDouble)
  }

  test("targetEncode: leave-fold-out excludes own fold; " +
       "single-fold category degenerates to the prior") {
    import spark.implicits._
    // force folds directly through a 1-row-per-key frame whose keys
    // are chosen so md5 buckets are irrelevant: use nFolds = 1 + max
    // via explicit key planting is fragile — instead verify the
    // FORMULA on the real coin by recomputing expectations in-test
    val df = (0 until 40).map { i =>
      (i.toLong, if (i < 30) "hot" else "cold", if (i % 3 == 0) 1L else 0L)
    }.toDF("k", "cat", "t")
    val out = MlOps.targetEncodeOn(df, col("cat"), col("t"), col("k"),
      nFolds = 2, m = 10).collect()
    // recompute the coin exactly as the operator defines it
    def fold(k: Long): Long =
      java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5")
          .digest(k.toString.getBytes("UTF-8"))
          .take(4).map("%02x".format(_)).mkString, 16) % 2
    val rows = (0 until 40).map(i => (i.toLong,
      if (i < 30) "hot" else "cold", if (i % 3 == 0) 1L else 0L))
    val prior = BigDecimal(rows.map(_._3).sum.toDouble / rows.size)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    for (r <- out) {
      val (cat, fd) = (r.getString(0), r.getLong(1))
      val inCat = rows.filter(_._2 == cat)
      val own = inCat.filter(x => fold(x._1) == fd)
      assert(r.getLong(2) === own.size.toLong)
      val exp = BigDecimal(
        ((inCat.map(_._3).sum - own.map(_._3).sum).toDouble + 10 * prior) /
        ((inCat.size - own.size).toDouble + 10))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(4) === exp,
        s"encoding for ($cat, $fd) must exclude its own fold")
      assert(r.getDouble(3) === prior)
    }
    // both categories × both folds present
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSet.size === 4)
  }

  test("logregGd: separable data trains to perfect accuracy with a " +
       "positive slope; loss beats the uninformed baseline") {
    import spark.implicits._
    val data = (1 to 50).flatMap { _ => Seq((0.0, 0.0), (1.0, 1.0)) }
      .toDF("x", "y")
    val r = MlOps.logregGdOn(data, iters = 8, lr = 1.0).collect().head
    assert(r.getDouble(0) > 0.0, "w must learn the positive direction")
    assert(r.getDouble(3) === 1.0, "separable data classifies perfectly")
    assert(r.getDouble(4) < 0.6931, "loss must beat ln 2")
  }

  test("logregGd: rerun is bit-identical (floor-quantized state) and " +
       "the sf fit beats the uninformed baseline") {
    val a = MlOps.logregGd(spark, sf).collect().head
    val b = MlOps.logregGd(spark, sf).collect().head
    assert(a === b)
    assert(a.getDouble(4) < 0.6931, s"logloss ${a.getDouble(4)}")
    assert(a.getDouble(3) >= 0.5)
  }

  test("adaboost: round-1 picks the hand-computed best stump with " +
       "eps=0.1 and alpha=q6(ln 9 / 2); later rounds stay in bounds " +
       "and a rerun is bit-identical") {
    import spark.implicits._
    // x = 1..10; y = +1 on {1, 6..10}, −1 on {2..5}: the best round-1
    // stump is the median split (t5 = 5.5) with pol = −1, which only
    // misclassifies x = 1 → weighted error 1/10
    val data = (1 to 10).map(i =>
      (i.toDouble, if (i >= 6 || i == 1) 1L else 0L)).toDF("x", "t")
    val rows = MlOps.adaboostStumpsOn(data, col("x"), col("t"))
      .collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    val r1 = rows(0)
    assert(r1.getInt(1) === 5 && r1.getLong(2) === -1L)
    assert(r1.getDouble(3) === 5.5)
    assert(r1.getDouble(4) === 0.1)                // eps
    assert(r1.getDouble(5) === 1.098612)           // q6(0.5·ln 9)
    assert(r1.getDouble(6) === 0.9)                // only x=1 missed
    rows.foreach { r =>
      assert(r.getDouble(4) > 0.0 && r.getDouble(4) <= 0.5,
        s"round ${r.getLong(0)} eps ${r.getDouble(4)}")
      assert(r.getDouble(5) >= 0.0)
      assert(r.getDouble(6) >= 0.5 && r.getDouble(6) <= 1.0)
    }
    val again = MlOps.adaboostStumpsOn(data, col("x"), col("t"))
      .collect()
    assert(rows.toSeq === again.toSeq)
  }

  test("gbt stumps: a planted step function is found exactly, leaves " +
       "are residual means, MSE decays 4x per round under nu=1/2") {
    import spark.implicits._
    // y = 100 for x <= 5, 200 past it; deciles of 1..10 put t5 = 5.5
    // exactly on the step. F0 = 150, residuals ∓50 — every value in
    // the chain lands on the 1e-6 grid, so the assertions are EXACT:
    // each round re-picks the step and halves the residual (nu = 1/2),
    // so MSE = 2500 * 4^-t.
    val data = (1 to 10).map(i =>
      (i.toDouble, if (i <= 5) 100.0 else 200.0)).toDF("x", "y")
    val rows = MlOps.gbtStumpsOn(data, col("x"), col("y")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(rows.length === 3)
    assert(rows(0) === ((1L, 5, 5.5, -50.0, 50.0, 625.0)))
    assert(rows(1) === ((2L, 5, 5.5, -25.0, 25.0, 156.25)))
    assert(rows(2) === ((3L, 5, 5.5, -12.5, 12.5, 39.0625)))
    // corpus face: one row per round, training MSE never increases
    // (L2Boost with optimal leaves and nu in (0,2) — quantization
    // slack 1e-6)
    val sfRows = MlOps.gbtStumps(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(5)))
    assert(sfRows.map(_._1).toSeq === Seq(1L, 2L, 3L))
    sfRows.sliding(2).foreach { case Array((_, a), (_, b)) =>
      assert(b <= a + 1e-6, s"MSE rose: $a -> $b")
    }
  }
}
