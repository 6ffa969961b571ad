package graft.ops

import graft.Tables
import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.feature.StandardScaler
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Reuse

/** MLlib pipelines over the embeddings table — the distributed
  * counterpart of the reference's feature-engineering → model
  * workflow (GluePySparkMLFeatureEngineering.ipynb prepares features
  * in Spark, then ships to a managed trainer; here training itself
  * is Spark-native). Seeds are fixed so outputs are deterministic.
  */
object MlOps {

  private def featurized(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .withColumn("features", array_to_vector(col("embedding")))

  /** The cluster count of both MLlib k-means faces. */
  private val clusterK = 8

  /** KMeans clustering of the embedding space (fixed seed). The
    * fitted centroids are broadcast by MLlib's transform — scoring
    * is a narrow map over the corpus. */
  def cluster(s: SparkSession, d: String): DataFrame = {
    val df = Reuse.shared(featurized(s, d))
    val model = new KMeans().setK(clusterK).setSeed(42L).setMaxIter(10)
      .setFeaturesCol("features").fit(df)
    model.transform(df)
      .select(col("vec_id"), col("prediction").as("cluster"))
      .orderBy(col("vec_id"))
  }

  /** The CHECKED face of [[cluster]] (the approx-tier gating
    * pattern): an MLlib fit's assignments are seed-deterministic in
    * Spark but not replayable by another engine, so the entry
    * re-derives each row's assignment IN THE PLAN from the fitted
    * centroids — squared distance to every center via literal
    * centroid arrays (k·d doubles, trivially broadcast inside the
    * expression tree) — and emits per-row verdicts the oracle can
    * assert: the predicted cluster is in [0, k) and its distance is
    * the minimum over all centers. Tolerance is 1e-6 RELATIVE
    * because that is MLlib's own documented distance precision:
    * findClosest goes through fastSquaredDistance's norm-cached
    * ||a||²+||b||²−2ab form, which guarantees only ~1e-6 relative
    * accuracy — on a vector near-equidistant to two centroids MLlib
    * may legitimately pick the center whose exactly-recomputed
    * distance is up to that much above the true argmin, and a
    * tighter verdict would flag a correct model. A genuinely wrong
    * assignment is off by far more. The oracle is every vec_id +
    * TRUE. */
  def clusterChecked(s: SparkSession, d: String): DataFrame = {
    val df = Reuse.shared(featurized(s, d))
    val model = new KMeans().setK(clusterK).setSeed(42L).setMaxIter(10)
      .setFeaturesCol("features").fit(df)
    val centerDists = model.clusterCenters.map { c =>
      val cLit = array(c.toArray.map(lit): _*)
      aggregate(
        zip_with(col("embedding").cast("array<double>"), cLit,
          (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, v) => acc + v)
    }
    model.transform(df)
      .select(col("vec_id"), col("prediction").cast("int").as("cluster"),
        col("embedding"))
      .withColumn("__d", array(centerDists: _*))
      .select(
        col("vec_id"),
        (col("cluster") >= 0 && col("cluster") < clusterK).as("cluster_in_range"),
        (element_at(col("__d"), col("cluster") + 1) <=
          array_min(col("__d")) * (1 + 1e-6) + 1e-12)
          .as("assigned_is_argmin"))
      .orderBy(col("vec_id"))
  }

  /** Scaler → logistic-regression Pipeline predicting the label
    * column on a time-honored 80/20 split by a deterministic key,
    * checked: fitted logistic weights are not replayable
    * cross-engine, but the scoring CONTRACT is — per
    * test row the probability vector must be a distribution (sums to
    * 1), the prediction must index into it, and it must be the
    * argmax of that vector. The entry emits the deterministic split
    * keys and true labels (real data, not just flags) beside the
    * three verdicts; the oracle replays the split arithmetic and
    * labels from the embeddings table and asserts TRUE across the
    * board. A softmax bug, a stage wiring slip, or a prediction/
    * probability mismatch flips a flag on some row and breaks the
    * cross-engine hash. */
  def classifyChecked(s: SparkSession, d: String): DataFrame = {
    val df = Reuse.shared(featurized(s, d))
    val train = df.filter(col("vec_id") % 5 =!= 0)
    val test  = df.filter(col("vec_id") % 5 === 0)
    val pipeline = new Pipeline().setStages(Array(
      new StandardScaler().setInputCol("features").setOutputCol("scaled"),
      new LogisticRegression().setFeaturesCol("scaled").setLabelCol("label")
        .setMaxIter(20)))
    val model = pipeline.fit(train)
    model.transform(test)
      .select(col("vec_id"), col("label"),
        col("prediction").cast("int").as("__pred"),
        vector_to_array(col("probability")).as("__p"))
      .select(
        col("vec_id"), col("label"),
        (col("__pred") >= 0 && col("__pred") < size(col("__p")))
          .as("pred_in_domain"),
        (abs(aggregate(col("__p"), lit(0.0), (a, v) => a + v) - 1.0) < 1e-6)
          .as("prob_sums_one"),
        (element_at(col("__p"), col("__pred") + 1) >=
          array_max(col("__p")) - 1e-9).as("pred_is_argmax"))
      .orderBy(col("vec_id"))
  }

  /** Lloyd's k-means trained and scored ENTIRELY in the plan — the
    * fully-oracle-checkable counterpart to the MLlib fit above
    * (ml_cluster is rows-only; every number here replays in ANSI
    * SQL). The loop is [[kmeansAssignArr]]: broadcast array centroids,
    * a row-local integer distance and a min(struct) argmin, so per
    * round the only corpus-sized exchange is the n-row argmin
    * aggregate. A FIXED `iters` rounds (deterministic plan, no
    * convergence loop); empty clusters drop (documented — both
    * engines drop the same ones).
    *
    * FIXED-POINT INTEGER arithmetic (the [[GraphOps.pageRankOn]]
    * contract): coordinates quantize once to 1e-6 units as BIGINTs
    * ([[lattice6]]) — float-origin doubles have long
    * shortest-representations, so the single round() cannot hit a
    * Java-vs-C false tie — and are SHIFTED +1e6 so every value is
    * positive (floor vs truncate-toward-zero integer division differ
    * on negatives across engines; distances and means are
    * shift-invariant). Distances, argmins (cluster-id tiebreak),
    * centroid means, and inertia are then pure integer ops —
    * bit-identical in any engine. Per-coordinate mean truncation is
    * < 1e-6, far below the 4dp output. Output: per-cluster size, mean
    * squared distance, majority label (count-desc, label tiebreak).
    *
    * The quantized frame is `Reuse.shared`: every round references
    * it, and inlining its derivation per round is the 104-scan
    * pathology pageRank measured. */
  def kmeansPlan(s: SparkSession, d: String): DataFrame = {
    val k = 3
    val iters = 3
    kmeansPlanOn(Tables.embeddings(s, d), k, iters)
  }

  /** The 1e-6 fixed-point lattice of a float-array column: each
    * element rounded to 1e-6 units as a BIGINT and shifted +1e6 so
    * every coordinate is positive — the integer contract documented
    * on [[kmeansPlan]], shared by the k-means, PCA and
    * standardization faces. */
  private[graft] def lattice6(v: Column): Column =
    transform(v, x => round(x.cast("double") * 1000000, 0).cast("long") +
      1000000L)

  /** The Lloyd's loop itself, shared by [[kmeansPlanOn]] and
    * [[graft.ops.DedupOps.semanticDedupOn]] (SemDeDup's clustering
    * stage, k ∝ n/cell clusters). Input: (vec_id, a6) with a6 the
    * SHIFTED 1e-6-unit BIGINT coordinate array ([[lattice6]]).
    * Centroids stay arrays and BROADCAST (k·d longs), distance is the
    * codegen'd [[graft.functions.VectorKernels.sqDistLong]] kernel
    * evaluated row-locally, and the argmin is a min(struct)
    * aggregate (lexicographic struct order = the (d2, cluster)
    * tiebreak), so per round the only corpus-sized exchange is the
    * n-row argmin aggregate, which carries each member's coordinates
    * on to the k·d-row centroid update — an exploded dim-join would
    * move n·d·k rows per round (measured 77s vs 8s at derived sf1). Centroid means truncate per
    * dimension (Σv6 div n). Returns the final assignment (vec_id,
    * cluster, d2) after `iters` fixed rounds.
    *
    * Seeding contract: centroids are the rows with the min(k, n)
    * SMALLEST vec_ids, labeled by those ids — by RANK, not by the
    * raw `vec_id < k` cut, so a frame whose ids are not dense from 0
    * still gets its full seed set instead of a silently empty
    * assignment. Dense-id frames get the identical {0..k−1} seeds
    * either way (the oracle convention). */
  private[graft] def kmeansAssignArr(q: DataFrame, k: Long,
                                     iters: Int): DataFrame = {
    val seeds = PrefixSum.exclusive(q.select(col("vec_id")),
        Seq(col("vec_id").asc), lit(1))
      .filter(col("__cum") < k).select(col("vec_id"))
    val c0 = q.join(seeds, "vec_id")
      .select(col("vec_id").as("cluster"), col("a6").as("c6"))
    // the member's coordinates ride through the argmin aggregate, so
    // the centroid update reads the assignment without a join back
    def assign(cent: DataFrame): DataFrame =
      q.crossJoin(broadcast(cent))
        .select(col("vec_id"), col("a6"), col("cluster"),
          graft.functions.VectorExprs.sqDistLong(col("a6"), col("c6"))
            .as("d2"))
        .groupBy(col("vec_id"))
        .agg(min(struct(col("d2"), col("cluster"))).as("__m"),
          first(col("a6")).as("a6"))
        .select(col("vec_id"), col("__m.cluster").as("cluster"),
          col("__m.d2").as("d2"), col("a6"))
    val cFinal = (1 to iters).foldLeft(c0) { (cent, _) =>
      // k rows: checkpoint each round's centroids so round r+1's
      // plan reads a materialized copy instead of inlining every
      // prior round's assignment chain (quadratic plan growth)
      assign(cent)
        .select(col("cluster"), posexplode(col("a6")).as(Seq("dim0", "v6")))
        .groupBy(col("cluster"), col("dim0"))
        .agg(expr("sum(v6) div count(1)").as("c6d"))
        .groupBy(col("cluster"))
        .agg(collect_list(struct(col("dim0"), col("c6d"))).as("__l"))
        .select(col("cluster"),
          transform(array_sort(col("__l")), x => x.getField("c6d")).as("c6"))
        .transform(Reuse.roundCut)
    }
    assign(cFinal).drop("a6")
  }

  /** Same over any (vec_id, label, embedding) frame. */
  def kmeansPlanOn(emb: DataFrame, k: Int, iters: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = graft.Tables.spread(emb)
      .select(col("vec_id"), col("label"),
        lattice6(col("embedding")).as("a6"))
      .transform(Reuse.shared)
    // af feeds sizes AND the label majority — materialize once
    val af = kmeansAssignArr(q.select(col("vec_id"), col("a6")), k, iters)
      .transform(Reuse.shared)
    val sizes = af.groupBy(col("cluster")).agg(count(lit(1)).as("n"),
      expr("sum(d2 div 1000000) div count(1)").as("__md6"))
    val lab = af.select(col("vec_id"), col("cluster"))
      .join(q.select(col("vec_id"), col("label")), "vec_id")
      .groupBy(col("cluster"), col("label")).agg(count(lit(1)).as("__c"))
    val maj = lab.withColumn("rk", row_number().over(
        Window.partitionBy(col("cluster"))
          .orderBy(col("__c").desc, col("label"))))
      .filter(col("rk") === 1)
      .select(col("cluster"), col("label").as("majority_label"))
    sizes.join(maj, "cluster")
      .select(col("cluster"), col("n"),
        (col("__md6").cast("double") / 1000000.0).as("mean_d2"),
        col("majority_label"))
      .orderBy(col("cluster"))
  }

  /** Classifier evaluation — per-class confusion-matrix metrics over
    * any (true_label, pred_label) prediction frame: support (n_true),
    * predicted count (n_pred), true positives, precision, recall, F1.
    * The classification counterpart of forecast_eval: a pipeline that
    * trains a classifier needs the eval operator next to it, and a
    * per-class table (not one accuracy scalar) is what exposes the
    * minority classes a training-data pipeline is about to starve.
    *
    * The class axis is the FULL union of true and predicted labels
    * (the q_chi2 full-grid rule): a class the model never predicts
    * still gets its row — with precision 0, not a missing row — and a
    * hallucinated class (predicted, never true) surfaces with recall
    * 0. Degenerate denominators define the metric as 0 rather than
    * dividing (ANSI-safe). Plan: two map-side-combinable counts on
    * the class key (class-cardinality exchanges, whatever the corpus
    * size) + one full-outer join of two class-sized frames. Metrics
    * derive from exact integers in IEEE doubles, rounded once at
    * output — both engines divide the same integers.
    *
    * Scale note: the ENTRY feeds this the brute-force kNN face, so
    * its measured 10×-data ratio (11.2×, SCALING.md) is the scorer's
    * declared quadratic, not the eval's — the eval itself is
    * class-cardinality work. At scale compose it with
    * [[graft.ops.SimilarityOps.knnClassifyIvf]] (measured 3.0×):
    * the eval is scorer-agnostic, the swap is one line. */
  def evalClassification(preds: DataFrame): DataFrame = {
    val trueCol = "true_label"
    val predCol = "pred_label"
    val t = preds.groupBy(col(trueCol).as("label"))
      .agg(count(lit(1)).as("n_true"),
        sum(when(col(predCol) === col(trueCol), 1L).otherwise(0L)).as("tp"))
    val p = preds.groupBy(col(predCol).as("label"))
      .agg(count(lit(1)).as("n_pred"))
    val prec = when(col("n_pred") === 0, lit(0.0))
      .otherwise(col("tp").cast("double") / col("n_pred"))
    val rec = when(col("n_true") === 0, lit(0.0))
      .otherwise(col("tp").cast("double") / col("n_true"))
    t.join(p, Seq("label"), "full_outer")
      .select(col("label"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .select(col("label"), col("n_true"), col("n_pred"), col("tp"),
        round(prec, 4).as("precision"),
        round(rec, 4).as("recall"),
        round(when(prec + rec === 0, lit(0.0))
          .otherwise(lit(2.0) * prec * rec / (prec + rec)), 4).as("f1"))
      .orderBy(col("label"))
  }

  /** Per-group multivariate OLS (two regressors + intercept) fit by
    * NORMAL EQUATIONS — the REGR_SLOPE family generalized one rank
    * up, and the distributed closed-form fit: ONE map-side-combinable
    * aggregate accumulates the 3×3 Gram matrix and X'y vector as
    * EXACT DECIMAL moments of 4dp-quantized inputs (partitioning
    * cannot reorder-drift an exact sum), then the coefficient solve
    * is 3×3 Cramer's rule evaluated IN-PLAN in double — +,−,×,÷
    * only, every step IEEE exactly-rounded, the identical expression
    * tree replayed by the oracle. No iteration, no driver-side
    * matrix library, no collect: the fit costs one aggregation of
    * ten moments per group at ANY row count — the 100 TB shape.
    * Singular systems (det = 0 exactly, e.g. a constant regressor)
    * emit null coefficients rather than dividing noise; R² comes
    * from the same moments via SSE = Σy² − b·X'y (unrounded b, tree
    * mirrored cross-engine), pinned null when SST = 0. */
  def linregMulti(s: SparkSession, d: String): DataFrame =
    linregMultiOn(Tables.lineitem(s, d), col("l_returnflag"),
      col("l_extendedprice"), col("l_quantity"), col("l_discount"))

  /** Same over any frame: fit y ~ b0 + b1·x1 + b2·x2 per group. */
  def linregMultiOn(df: DataFrame, group: Column, y: Column,
                    x1: Column, x2: Column): DataFrame = {
    def q(c: Column): Column =
      round(c.cast("double"), 4).cast("decimal(14,4)")
    def dbl(name: String): Column = col(name).cast("double")
    def big(c: Column): Column = c.cast("decimal(30,8)")
    val m = df
      .select(group.as("grp"), q(y).as("y"), q(x1).as("x1"), q(x2).as("x2"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"),
        sum(col("x1")).as("s1"), sum(col("x2")).as("s2"),
        sum(col("y")).as("sy"),
        sum(big(col("x1") * col("x1"))).as("s11"),
        sum(big(col("x2") * col("x2"))).as("s22"),
        sum(big(col("x1") * col("x2"))).as("s12"),
        sum(big(col("x1") * col("y"))).as("s1y"),
        sum(big(col("x2") * col("y"))).as("s2y"),
        sum(big(col("y") * col("y"))).as("syy"))
    // 3×3 determinant, first-row cofactor expansion — the exact
    // parenthesization the oracle SQL mirrors
    def det3(a: Column, b: Column, c: Column,
             d: Column, e: Column, f: Column,
             g: Column, h: Column, i: Column): Column =
      a * (e * i - f * h) - b * (d * i - f * g) + c * (d * h - e * g)
    val (n, s1, s2, sy) = (dbl("n"), dbl("s1"), dbl("s2"), dbl("sy"))
    val (s11, s22, s12) = (dbl("s11"), dbl("s22"), dbl("s12"))
    val (s1y, s2y, syy) = (dbl("s1y"), dbl("s2y"), dbl("syy"))
    val det = det3(n, s1, s2, s1, s11, s12, s2, s12, s22)
    val b0 = det3(sy, s1, s2, s1y, s11, s12, s2y, s12, s22) / det
    val b1 = det3(n, sy, s2, s1, s1y, s12, s2, s2y, s22) / det
    val b2 = det3(n, s1, sy, s1, s11, s1y, s2, s12, s2y) / det
    val sse = syy - b0 * sy - b1 * s1y - b2 * s2y
    val sst = syy - sy * sy / n
    m.select(col("grp"), col("n"),
      when(det =!= 0, round(b0, 4)).as("b0"),
      when(det =!= 0, round(b1, 4)).as("b1"),
      when(det =!= 0, round(b2, 4)).as("b2"),
      when(det =!= 0 && sst > 0, round(lit(1.0) - sse / sst, 4)).as("r2"))
      .orderBy(col("grp"))
  }

  /** Decision STUMP trained entirely in the plan — the depth-1 tree
    * that is the unit of every boosted/bagged ensemble, and the
    * simplest supervised fit that needs a SPLIT SEARCH (the thing
    * linear fits don't): candidate thresholds = the feature's nine
    * exact deciles (one exact-percentile aggregate — replayable as
    * quantile_cont), split quality = weighted Gini impurity. The
    * search is ONE wide scalar aggregate: the 1-row decile frame
    * broadcasts onto the scan and every candidate's (n_left,
    * pos_left) accumulates as a conditional sum — 9 candidates cost
    * 9 aggregate columns on one pass, never 9 scans and never a
    * per-candidate shuffle (the q_corr_matrix shape). Gini evaluates
    * in double from exact counts (identical trees cross-engine;
    * empty sides contribute 0 by guard, not NaN), and the winner is
    * rank-1 on (unrounded gini, threshold, idx) — a window over
    * exactly 9 rows at ANY corpus scale. Output: the full candidate
    * table with `is_best`, because the runner-up gap is the signal a
    * boosting loop reads next. */
  def decisionStump(s: SparkSession, d: String): DataFrame =
    decisionStumpOn(Tables.orders(s, d),
      round(col("o_totalprice"), 4).cast("double"),
      (col("o_orderstatus") === "F").cast("long"))

  /** The stump family's candidate thresholds: the nine exact deciles
    * of `x` as one row (t1 … t9). Each is 4dp-rounded BEFORE the
    * split comparisons: the interpolated percentile is an
    * engine-shared value only to ~1 ulp (Spark (1−d)a+db vs DuckDB
    * a+d(b−a)), and an unrounded threshold could land a boundary row
    * differently; quantized against the 4dp feature, the comparison
    * is exact in both. */
  private def deciles(df: DataFrame): DataFrame =
    df.agg(expr(
      "percentile(x, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))").as("ts"))
      .select((1 to 9).map(i =>
        round(element_at(col("ts"), i), 4).as(s"t$i")): _*)

  /** Same over any frame: continuous `feature`, 0/1 `target`. */
  def decisionStumpOn(df: DataFrame, feature: Column,
                      target: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val staged = df.select(feature.as("x"), target.as("pos"))
    val dec = deciles(staged)
    val aggCols =
      Seq(sum(col("pos")).as("pos")) ++
      (1 to 9).flatMap(k => Seq(
        sum(when(col("x") <= col(s"t$k"), 1L).otherwise(0L)).as(s"nl$k"),
        sum(when(col("x") <= col(s"t$k"), col("pos")).otherwise(0L))
          .as(s"pl$k"))) ++
      (1 to 9).map(k => min(col(s"t$k")).as(s"tt$k")) // constant carry
    val one = staged.crossJoin(broadcast(dec))
      .agg(count(lit(1)).as("n"), aggCols: _*)
    val cands = (1 to 9).map(k => struct(lit(k).as("idx"),
      col(s"tt$k").as("threshold"), col(s"nl$k").as("nl"),
      col(s"pl$k").as("pl")))
    def dbl(c: Column): Column = c.cast("double")
    def giniSide(ns: Column, ps: Column, n: Column): Column =
      when(ns > 0, (dbl(ns) / dbl(n)) *
        (lit(1.0) - (dbl(ps) / dbl(ns)) * (dbl(ps) / dbl(ns)) -
          (dbl(ns - ps) / dbl(ns)) * (dbl(ns - ps) / dbl(ns))))
        .otherwise(lit(0.0))
    val m = one.select(col("n"), col("pos"),
        explode(array(cands: _*)).as("p"))
      .select(col("p.idx").as("idx"),
        col("p.threshold").as("threshold"),
        col("p.nl").as("n_left"), col("p.pl").as("pos_left"),
        (col("n") - col("p.nl")).as("n_right"),
        (col("pos") - col("p.pl")).as("pos_right"),
        col("n"), col("pos"))
      .withColumn("__g",
        giniSide(col("n_left"), col("pos_left"), col("n")) +
        giniSide(col("n_right"), col("pos_right"), col("n")))
    val w = Window.orderBy(col("__g"), col("threshold"), col("idx"))
    m.withColumn("is_best", row_number().over(w) === 1)
      .select(col("idx"), col("threshold"), col("n_left"), col("pos_left"),
        col("n_right"), col("pos_right"),
        round(col("__g"), 4).as("gini"), col("is_best"))
      .orderBy(col("idx"))
  }

  /** Leakage-safe smoothed TARGET ENCODING of a categorical — the
    * feature-engineering staple for high-cardinality categoricals
    * (replace the category with the out-of-fold target rate, shrunk
    * toward the global prior so rare categories don't memorize their
    * own labels). Fold = md5(row key) % nFolds — deterministic and
    * engine-portable, the repo's standard coin, so the entire
    * encoding (fold assignment included) replays in the oracle.
    * enc(cat, fold) = (S_cat − S_cat,fold + m·prior) /
    * (N_cat − N_cat,fold + m): leave-FOLD-out, so no row's own label
    * leaks into its feature, the property rand()-folded encoders
    * can't prove run-to-run. Cost: one (cat, fold) aggregate + its
    * tiny rollup + a broadcast scalar — the output is the encoding
    * TABLE (categories × folds rows), applied downstream as a
    * broadcast join; the corpus itself is never reshuffled. A
    * category seen in only one fold degenerates to the prior
    * (0 + m·prior over 0 + m) — the shrinkage working as designed. */
  def targetEncode(s: SparkSession, d: String): DataFrame =
    targetEncodeOn(Tables.orders(s, d), col("o_orderpriority"),
      (col("o_orderstatus") === "F").cast("long"), col("o_orderkey"))

  /** Same over any frame: binary `target`, unique row `key`. */
  def targetEncodeOn(df: DataFrame, cat: Column, target: Column,
                     key: Column, nFolds: Int = 5, m: Int = 20): DataFrame = {
    val fold = conv(substring(md5(key.cast("string")), 1, 8), 16, 10)
      .cast("long") % nFolds
    // (category × fold) grain is tiny; checkpointed because three consumers
    // (per-category rollup, global prior, final projection) would
    // otherwise re-scan the fact table three times
    val cf = df.select(cat.as("category"), target.as("t"), fold.as("fold"))
      .groupBy(col("category"), col("fold"))
      .agg(count(lit(1)).as("n_cf"), sum(col("t")).as("s_cf"))
      .transform(Reuse.shared)
    val perCat = cf.groupBy(col("category"))
      .agg(sum(col("n_cf")).as("n_c"), sum(col("s_cf")).as("s_c"))
    val prior = cf.agg(
      round(sum(col("s_cf")).cast("double") /
        sum(col("n_cf")).cast("double"), 4).as("prior"))
    cf.join(perCat, "category").crossJoin(broadcast(prior))
      .select(col("category"), col("fold"), col("n_cf").as("n_rows"),
        col("prior"),
        round(((col("s_c") - col("s_cf")).cast("double") +
          lit(m.toDouble) * col("prior")) /
          ((col("n_c") - col("n_cf")).cast("double") + lit(m.toDouble)), 4)
          .as("encoding"))
      .orderBy(col("category"), col("fold"))
  }

  /** The gradient-descent rounds and learning rate of [[logregGd]]
    * and its oracle. */
  private val logregIters = 8
  private val logregLr = 1.0

  /** Transparent logistic regression by fixed-round gradient descent
    * — the VALUE-ORACLED counterpart of [[classifyChecked]] (whose MLlib
    * L-BFGS fit is implementation-specific and therefore only
    * guarantee-checked): every number this face produces, including
    * the trained weights, replays bit-for-bit in DuckDB because the
    * whole optimization is deterministic relational algebra.
    *
    * Per round: one aggregate over the quantized base computes the
    * batch gradient with (w, b) riding as one-row broadcast state —
    * the iterate chain is a LAZY composed plan, never a driver loop
    * (no collect between rounds; the q_pagerank posture). Cost =
    * `iters` map-side-combinable scans of a 2-column frame; at 100 TB
    * the gradient pass is embarrassingly parallel and the state is 2
    * doubles.
    *
    * Parity engineering (the forecast_ewma lesson — recursions
    * AMPLIFY rounding-boundary hits, so round() is not enough):
    * every per-row term FLOOR-quantizes to 1e-6 and sums as
    * DECIMAL(20,6) (order-independent, exact); the state update
    * floor-quantizes before re-entering the next round, so both
    * engines iterate over identical numbers and exp()'s possible
    * last-ulp libm difference has ~1e-10 per-term odds of crossing a
    * floor boundary. Accuracy uses the SIGN of w·x+b (exact double
    * arithmetic — no exp near the 0.5 boundary), and logloss uses
    * the overflow-free ln(1+exp((1−2y)·z)) form. */
  def logregGd(s: SparkSession, d: String): DataFrame =
    logregGdOn(Tables.events(s, d)
      .selectExpr("round(value / 100.0, 4) AS x",
        "CAST(CASE WHEN event_type = 'click' THEN 1.0 ELSE 0.0 END AS DOUBLE) AS y"),
      logregIters, logregLr)

  /** Same over any (x, y∈{0,1}) frame. */
  def logregGdOn(base0: DataFrame, iters: Int, lr: Double): DataFrame = {
    val base = Reuse.shared(base0) // feeds every GD round + eval
    // 1 row, eager: every round AND the eval crossJoin it — without
    // the barrier the count subtree rode into each round's broadcast
    // (one extra base pass per round)
    val n = Reuse.barrier(base.agg(count(lit(1)).as("n")))
    val spark = base.sparkSession
    var st = spark.range(1)
      .select(lit(0.0).as("w"), lit(0.0).as("b"))
    val q6 = (e: String) => s"floor(($e) * 1e6) / 1e6"
    for (_ <- 1 to iters) {
      val g = base.crossJoin(broadcast(st)).crossJoin(broadcast(n))
        .groupBy(col("w"), col("b"), col("n"))
        .agg(
          sum(expr("CAST(" + q6("(1.0/(1.0+exp(-(w*x+b))) - y) * x") +
            " AS DECIMAL(20,6))")).as("gw"),
          sum(expr("CAST(" + q6("1.0/(1.0+exp(-(w*x+b))) - y") +
            " AS DECIMAL(20,6))")).as("gb"))
      // each round's 1-row state is a barrier (the adaboost
      // posture): round k+1 broadcasts a row instead of nesting round
      // k's aggregate subtree, which re-planned every prior round
      st = g.select(
        expr(q6(s"w - $lr * CAST(gw AS DOUBLE) / n")).as("w"),
        expr(q6(s"b - $lr * CAST(gb AS DOUBLE) / n")).as("b"))
        .transform(Reuse.barrier)
    }
    base.crossJoin(broadcast(st)).crossJoin(broadcast(n))
      .groupBy(col("w"), col("b"), col("n"))
      .agg(
        sum(when(expr("(w*x + b >= 0.0) = (y = 1.0)"), 1L).otherwise(0L))
          .as("__hits"),
        sum(expr("CAST(" + q6("ln(1.0 + exp((1.0 - 2.0*y) * (w*x+b)))") +
          " AS DECIMAL(20,6))")).as("__ll"))
      .select(col("w"), col("b"), col("n"),
        ExactRatio.r4(col("__hits"), col("n")).as("accuracy"),
        // logloss is a 6dp-DECIMAL sum over n: the rational is
        // (__ll*1e6)/(n*1e6) — same r4 idiom, scaled operands; n
        // widens to DECIMAL(38,0) BEFORE the 1e6 product (a Long
        // product would overflow past ~9.2e12 rows)
        ExactRatio.r4(col("__ll") * 1000000,
          col("n").cast("decimal(38,0)") * 1000000)
          .as("logloss"))
  }

  /** The unrolled-iteration DuckDB replay of [[logregGdOn]] over the
    * events-backed face — built programmatically so the oracle and
    * any future iteration-count change cannot drift apart. */
  private[graft] def logregOracleSql: String = {
    val q6 = (e: String) => s"floor(($e) * 1e6) / 1e6"
    val steps = (1 to logregIters).map { i =>
      s"""s$i AS (SELECT
         |  ${q6(s"w - $logregLr * CAST(gw AS DOUBLE) / n")} AS w,
         |  ${q6(s"b - $logregLr * CAST(gb AS DOUBLE) / n")} AS b
         |FROM (SELECT w, b, n,
         |    sum(CAST(${q6("(1.0/(1.0+exp(-(w*x+b))) - y) * x")}
         |      AS DECIMAL(20,6))) AS gw,
         |    sum(CAST(${q6("1.0/(1.0+exp(-(w*x+b))) - y")}
         |      AS DECIMAL(20,6))) AS gb
         |  FROM base, s${i - 1}, nn GROUP BY w, b, n))""".stripMargin
    }.mkString(",\n")
    s"""WITH base AS (SELECT round(value / 100.0, 4) AS x,
       |    CAST(CASE WHEN event_type = 'click' THEN 1.0 ELSE 0.0 END
       |      AS DOUBLE) AS y
       |  FROM events),
       |nn AS (SELECT count(*) AS n FROM base),
       |s0 AS (SELECT CAST(0.0 AS DOUBLE) AS w, CAST(0.0 AS DOUBLE) AS b),
       |$steps
       |SELECT w, b, CAST(n AS BIGINT) AS n,
       |  CAST((CAST(sum(CASE WHEN (w*x + b >= 0.0) = (y = 1.0)
       |      THEN 1 ELSE 0 END) AS HUGEINT) * 20000 + n) // (2 * n)
       |    AS BIGINT) / 10000.0 AS accuracy,
       |  CAST((CAST(sum(CAST(${q6("ln(1.0 + exp((1.0 - 2.0*y) * (w*x+b)))")}
       |    AS DECIMAL(20,6))) * 1000000 AS HUGEINT) * 20000
       |    + CAST(n AS HUGEINT) * 1000000) // (2 * CAST(n AS HUGEINT)
       |    * 1000000) AS BIGINT) / 10000.0 AS logloss
       |FROM base, s$logregIters, nn GROUP BY w, b, n""".stripMargin
  }

  /** AdaBoost over decision stumps — the BOOSTED face of
    * [[decisionStump]] (one stump is a diagnostic; three reweighted
    * rounds are a real classifier, and the per-round table IS the
    * training curve): each round fits the best of 18 candidate
    * stumps (the stump's 9 global-decile thresholds × both
    * polarities) under the CURRENT row weights, publishes its
    * weighted error ε, vote weight α = ½·ln((1−ε)/ε), and the
    * ENSEMBLE's cumulative training accuracy, then reweights
    * (correct rows ×e^{−α}, wrong ×e^{+α}).
    *
    * Plan shape: ONE aggregate per round over the weighted frame —
    * round t's pass computes the candidate sums AND the hits of the
    * ensemble-so-far (= round t−1's accuracy), so the accuracy
    * readout rides the pass the next round needs anyway; only the
    * final round pays a dedicated hits pass. T+1 data aggregates
    * total (was 2T+1 — measured 38 → 25 s at derived sf10). The
    * per-round state is a ONE-ROW frame crossJoin-broadcast back
    * (the logreg-GD posture — no driver collect), eager-checkpointed
    * so later rounds don't replan earlier choice branches; the
    * decile frame is computed once and shared by every round (fixed
    * candidate grid — histogram-boosting style, and what keeps the
    * oracle replayable).
    *
    * Parity engineering (the [[logregGdOn]] recursion rules): row
    * weights floor-quantize to 1e-6 after each update and enter the
    * candidate sums as DECIMAL(20,6) (order-independent); α and the
    * two weight multipliers e^{∓α} are q6'd scalars, so libm's
    * possible last-ulp exp/ln difference has ~1e-10 per-round odds
    * of crossing a floor boundary; the ensemble margin f carries as
    * plain double sums of q6'd α's (identical expression tree on
    * both engines — no quantization needed to be deterministic);
    * ε and accuracy publish through [[ExactRatio]]. */
  def adaboostStumps(s: SparkSession, d: String): DataFrame =
    adaboostStumpsOn(Tables.orders(s, d),
      round(col("o_totalprice"), 4).cast("double"),
      (col("o_orderstatus") === "F").cast("long"))

  /** The boosting rounds of the AdaBoost and gradient-boosting faces
    * and their oracles. */
  private val boostRounds = 3

  /** Same over any frame: continuous `feature`, 0/1 `target`.
    * Contract: every round's best weighted error must satisfy
    * 0 < ε (a perfect stump would send α to ∞ — boosting is the
    * wrong tool for a separable single feature; ε ≥ ½ is impossible
    * by construction, the polarity mirror guarantees min(ε, 1−ε)). */
  def adaboostStumpsOn(df: DataFrame, feature: Column,
                       target: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(feature.as("x"),
        when(target === 1L, 1.0).otherwise(-1.0).as("y"))
      .transform(Reuse.shared) // feeds every round twice
    val dec = Reuse.barrier(deciles(base)) // shared by all rounds
    val n = Reuse.barrier(base.agg(count(lit(1)).as("n")))
    val d6 = "decimal(20,6)"
    val zero6 = lit(0).cast(d6)
    val q6 = (e: String) => s"floor(($e) * 1e6) / 1e6"
    val hitsCol = sum(when((col("f") >= 0.0) === (col("y") > 0), 1L)
      .otherwise(0L)).as("hits")
    var cur = base.crossJoin(broadcast(dec))
      .withColumn("w", lit(1.0)).withColumn("f", lit(0.0))
    // per round: (pick frame, the round's aggregate — whose `hits`
    // column measures the ensemble BEFORE this round, i.e. round
    // t−1's accuracy, riding the pass round t needs anyway)
    val staged = (1 to boostRounds).map { t =>
      val wd = col("w").cast(d6)
      val aggCols =
        Seq(sum(when(col("y") > 0, wd).otherwise(zero6)).as("pw"),
          sum(wd).as("tw"), hitsCol) ++
        (1 to 9).flatMap(k => Seq(
          sum(when(col("x") <= col(s"t$k") && col("y") > 0, wd)
            .otherwise(zero6)).as(s"a$k"),
          sum(when(col("x") <= col(s"t$k") && col("y") < 0, wd)
            .otherwise(zero6)).as(s"b$k"))) ++
        (1 to 9).map(k => min(col(s"t$k")).as(s"tt$k"))
      // 1 row, eager: the pick AND the accuracy readout both read it
      val one = cur.agg(aggCols.head, aggCols.tail: _*)
        .transform(Reuse.barrier)
      // 18 candidates: predict-left-positive (pol=+1) misclassifies
      // left negatives + right positives; pol=−1 mirrors
      val cands = (1 to 9).flatMap { k =>
        Seq(
          struct(lit(k).as("idx"), lit(1L).as("pol"),
            col(s"tt$k").as("threshold"),
            (col(s"b$k") + (col("pw") - col(s"a$k"))).as("err")),
          struct(lit(k).as("idx"), lit(-1L).as("pol"),
            col(s"tt$k").as("threshold"),
            (col(s"a$k") + ((col("tw") - col("pw")) - col(s"b$k")))
              .as("err")))
      }
      val wBest = Window.orderBy(col("err"), col("idx"), col("pol"))
      val pick = one
        .select(col("tw"), explode(array(cands: _*)).as("c"))
        .select(col("tw"), col("c.idx").as("idx"), col("c.pol").as("pol"),
          col("c.threshold").as("threshold"), col("c.err").as("err"))
        .withColumn("__rk", row_number().over(wBest))
        .filter(col("__rk") === 1)
        .select(col("idx"), col("pol"), col("threshold"),
          col("err"), col("tw"),
          expr(q6("0.5 * ln((CAST(tw AS DOUBLE) - CAST(err AS DOUBLE)) /" +
            " CAST(err AS DOUBLE))")).as("alpha"))
        .select(col("*"),
          expr(q6("exp(-alpha)")).as("mc"), expr(q6("exp(alpha)")).as("mw"))
      val h = when(col("x") <= col("threshold"),
        col("pol").cast("double")).otherwise(-col("pol").cast("double"))
      cur = cur.crossJoin(broadcast(pick))
        .withColumn("__w2", expr(q6("w * (CASE WHEN " +
          "(CASE WHEN x <= threshold THEN CAST(pol AS DOUBLE) " +
          "ELSE -CAST(pol AS DOUBLE) END) = y THEN mc ELSE mw END)")))
        .withColumn("__f2", col("f") + col("alpha") * h)
        .select(Seq(col("x"), col("y")) ++
          (1 to 9).map(k => col(s"t$k")) ++
          Seq(col("__w2").as("w"), col("__f2").as("f")): _*)
      (pick, one)
    }
    // only the LAST round pays a dedicated hits pass
    val finalAcc = Reuse.barrier(cur.agg(hitsCol))
    val outs = staged.zipWithIndex.map { case ((pick, _), i) =>
      val t = i + 1
      val acc =
        if (t < boostRounds) staged(i + 1)._2.select(col("hits"))
        else finalAcc
      pick.crossJoin(broadcast(acc)).crossJoin(broadcast(n))
        .select(lit(t.toLong).as("round"), col("idx"), col("pol"),
          col("threshold"),
          ExactRatio.r4((col("err") * 1000000).cast("decimal(38,0)"),
            (col("tw") * 1000000).cast("decimal(38,0)")).as("eps"),
          col("alpha"),
          ExactRatio.r4(col("hits"), col("n")).as("accuracy"))
    }
    outs.reduce(_ unionAll _).orderBy(col("round"))
  }

  /** GRADIENT BOOSTING with regression stumps (L2Boost — Friedman
    * 2001 with squared loss, where the gradient IS the residual):
    * the regression sibling of [[adaboostStumpsOn]] and the missing
    * member of the boosting family. F₀ = mean(y); each round fits
    * the best decile-threshold stump to the CURRENT residuals
    * (leaf values = mean residual per side — the exact L2 argmin,
    * so the best split maximizes SL²/nL + SR²/nR, the variance-
    * reduction identity) and steps F by ν·stump with shrinkage
    * ν = ½. Published per round: the chosen split, both leaf
    * values, and the post-round training MSE (monotone
    * non-increasing — spec-pinned).
    *
    * Cross-engine determinism (the adaboost contract): residuals
    * live on the 1e-6 floor-quantized grid, so their DECIMAL(20,6)
    * sums are exact and aggregation-order-free; split scores and
    * leaf means are one identical double expression over those
    * exact decimals (identical doubles ⇒ identical argmax, idx
    * tiebreak); MSE sums r² as exact integer products of the 1e-6
    * codes (HUGEINT/DECIMAL(38,0) — a double Σr² would be
    * order-dependent). Plan shape: per round ONE corpus aggregate
    * (1-row result, eagerly checkpointed) + one narrow residual
    * update against the broadcast 1-row pick + one MSE aggregate —
    * no shuffle wider than the map-side partials at any corpus
    * size. */
  def gbtStumps(s: SparkSession, d: String): DataFrame =
    gbtStumpsOn(Tables.orders(s, d),
      datediff(col("o_orderdate"), to_date(lit("1992-01-01")))
        .cast("double"),
      round(col("o_totalprice"), 4).cast("double"))

  /** Same over any frame: continuous `feature`, continuous
    * `target`. */
  def gbtStumpsOn(df: DataFrame, feature: Column,
                  target: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(feature.as("x"), target.as("y"))
      .transform(Reuse.shared) // feeds the decile fit + every round
    val dec = Reuse.barrier(deciles(base)) // shared by all rounds
    val d6 = "decimal(20,6)"
    val zero6 = lit(0).cast(d6)
    val q6 = (e: String) => s"floor(($e) * 1e6) / 1e6"
    // F0 = q6(mean(y)): exact DECIMAL(20,4) sum, ONE double division
    val f0 = base.agg(sum(col("y").cast("decimal(20,4)")).as("sy"),
        count(lit(1)).as("cnt"))
      .select(expr(q6("CAST(sy AS DOUBLE) / cnt")).as("f0"))
      .transform(Reuse.barrier)
    var cur = base.crossJoin(broadcast(dec)).crossJoin(broadcast(f0))
      .withColumn("r", expr(q6("y - f0")))
      .select(Seq(col("x")) ++ (1 to 9).map(k => col(s"t$k")) ++
        Seq(col("r")): _*)
    val outs = (1 to boostRounds).map { t =>
      val rd = col("r").cast(d6)
      val aggCols = Seq(sum(rd).as("st"), count(lit(1)).as("nt")) ++
        (1 to 9).flatMap(k => Seq(
          sum(when(col("x") <= col(s"t$k"), rd).otherwise(zero6))
            .as(s"sl$k"),
          sum(when(col("x") <= col(s"t$k"), 1L).otherwise(0L))
            .as(s"nl$k"))) ++
        (1 to 9).map(k => min(col(s"t$k")).as(s"tt$k"))
      val one = cur.agg(aggCols.head, aggCols.tail: _*)
        .transform(Reuse.barrier) // 1 row, eager — cuts the round chain
      val cands = (1 to 9).map { k =>
        struct(lit(k).as("idx"), col(s"tt$k").as("threshold"),
          col(s"sl$k").as("sl"), col(s"nl$k").as("nl"),
          (col("st") - col(s"sl$k")).as("sr"),
          (col("nt") - col(s"nl$k")).as("nr"))
      }
      // variance-reduction score in ONE double expression over exact
      // decimals; empty-side candidates are ineligible (their leaf
      // mean is undefined — deciles make this rare, never silent)
      val wBest = Window.orderBy(col("score").desc, col("idx"))
      val pick = one.select(explode(array(cands: _*)).as("c"))
        .select(col("c.idx").as("idx"), col("c.threshold").as("threshold"),
          col("c.sl").as("sl"), col("c.nl").as("nl"),
          col("c.sr").as("sr"), col("c.nr").as("nr"))
        .filter(col("nl") > 0 && col("nr") > 0)
        .withColumn("score",
          col("sl").cast("double") * col("sl").cast("double") /
            col("nl").cast("double") +
          col("sr").cast("double") * col("sr").cast("double") /
            col("nr").cast("double"))
        .withColumn("__rk", row_number().over(wBest))
        .filter(col("__rk") === 1)
        .select(col("idx"), col("threshold"),
          expr(q6("CAST(sl AS DOUBLE) / nl")).as("gamma_l"),
          expr(q6("CAST(sr AS DOUBLE) / nr")).as("gamma_r"))
      cur = cur.crossJoin(broadcast(pick))
        .withColumn("__r2", expr(q6(
          "r - 0.5 * (CASE WHEN x <= threshold THEN gamma_l " +
            "ELSE gamma_r END)")))
        .select(Seq(col("x")) ++ (1 to 9).map(k => col(s"t$k")) ++
          Seq(col("__r2").as("r")): _*)
      // Σr² as exact integer products of the 1e-6 codes — a double
      // sum of squares would be accumulation-order-dependent
      val mse = cur.agg(
          sum((col("r") * 1000000.0).cast("decimal(38,0)") *
            (col("r") * 1000000.0).cast("decimal(38,0)")).as("ssq"),
          count(lit(1)).as("cnt"))
        .select(round(col("ssq").cast("double") / 1e12 / col("cnt"), 4)
          .as("train_mse"))
        .transform(Reuse.barrier)
      pick.crossJoin(broadcast(mse))
        .select(lit(t.toLong).as("round"), col("idx"), col("threshold"),
          col("gamma_l"), col("gamma_r"), col("train_mse"))
    }
    outs.reduce(_ unionAll _).orderBy(col("round"))
  }

  /** The unrolled-round DuckDB replay of [[gbtStumpsOn]] over the
    * orders-backed face — the [[adaboostOracleSql]] discipline:
    * built programmatically, every CTE MATERIALIZED (each round's
    * base is referenced by the next aggregate, the residual update,
    * and the MSE — the inlining-blowup class). */
  private[graft] def gbtOracleSql: String = {
    val q6 = (e: String) => s"floor(($e) * 1e6) / 1e6"
    def rd(e: String) = s"CAST($e AS DECIMAL(20,6))"
    val steps = (1 to boostRounds).map { t =>
      val p = t - 1
      val cands = (1 to 9).map { k =>
        s"SELECT $k AS idx, tt$k AS threshold, sl$k AS sl, nl$k AS nl, " +
          s"st - sl$k AS sr, nt - nl$k AS nr FROM agg$t"
      }.mkString("\nUNION ALL ")
      val sums = (1 to 9).map { k =>
        s"sum(CASE WHEN x <= t$k THEN ${rd("r")} ELSE ${rd("0")} END) " +
          s"AS sl$k,\n" +
        s"    sum(CASE WHEN x <= t$k THEN 1 ELSE 0 END) AS nl$k,\n" +
        s"    min(t$k) AS tt$k"
      }.mkString(",\n    ")
      s"""agg$t AS MATERIALIZED (SELECT sum(${rd("r")}) AS st,
         |    count(*) AS nt,
         |    $sums
         |  FROM base$p, dec),
         |pick$t AS MATERIALIZED (SELECT idx, threshold,
         |    ${q6("CAST(sl AS DOUBLE) / nl")} AS gamma_l,
         |    ${q6("CAST(sr AS DOUBLE) / nr")} AS gamma_r
         |  FROM ($cands)
         |  WHERE nl > 0 AND nr > 0
         |  ORDER BY (CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE)
         |      / CAST(nl AS DOUBLE)
         |    + CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE)
         |      / CAST(nr AS DOUBLE)) DESC, idx LIMIT 1),
         |base$t AS MATERIALIZED (SELECT x,
         |    ${q6("r - 0.5 * (CASE WHEN x <= threshold THEN gamma_l " +
               "ELSE gamma_r END)")} AS r
         |  FROM base$p, pick$t),
         |mse$t AS MATERIALIZED (SELECT
         |    round(CAST(sum(CAST(r * 1000000.0 AS HUGEINT)
         |        * CAST(r * 1000000.0 AS HUGEINT)) AS DOUBLE)
         |      / 1e12 / count(*), 4) AS train_mse
         |  FROM base$t),
         |out$t AS MATERIALIZED (SELECT CAST($t AS BIGINT) AS round,
         |    CAST(idx AS INT) AS idx, threshold, gamma_l, gamma_r,
         |    (SELECT train_mse FROM mse$t) AS train_mse
         |  FROM pick$t)""".stripMargin
    }.mkString(",\n")
    val unions = (1 to boostRounds).map(t => s"SELECT * FROM out$t")
      .mkString("\nUNION ALL ")
    s"""WITH base00 AS MATERIALIZED (SELECT
       |    CAST(date_diff('day', DATE '1992-01-01', o_orderdate)
       |      AS DOUBLE) AS x,
       |    CAST(round(o_totalprice, 4) AS DOUBLE) AS y
       |  FROM orders),
       |dec0 AS MATERIALIZED (SELECT quantile_cont(x,
       |    [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS ts FROM base00),
       |dec AS MATERIALIZED (SELECT ${(1 to 9).map(i =>
            s"round(ts[$i], 4) AS t$i").mkString(", ")} FROM dec0),
       |f0 AS MATERIALIZED (SELECT ${q6(
            "CAST(sum(CAST(y AS DECIMAL(20,4))) AS DOUBLE) / count(*)")}
       |    AS f0 FROM base00),
       |base0 AS MATERIALIZED (SELECT x, ${q6("y - f0")} AS r
       |  FROM base00, f0),
       |$steps
       |$unions
       |ORDER BY round""".stripMargin
  }

  /** The unrolled-round DuckDB replay of [[adaboostStumpsOn]] over
    * the orders-backed face — built programmatically (the
    * [[logregOracleSql]] discipline) so the oracle and any round
    * count change cannot drift apart. Every CTE is MATERIALIZED:
    * base_t references base_(t-1) through two paths (the candidate
    * aggregate and the reweight) and the accuracy subquery adds a
    * third, so DuckDB's default inlining re-evaluates the chain
    * exponentially — the graph_bfs lesson; the first cut exhausted
    * the process fd limit opening orders.parquet hundreds of
    * times. */
  private[graft] def adaboostOracleSql: String = {
    val q6 = (e: String) => s"floor(($e) * 1e6) / 1e6"
    def wd(e: String) = s"CAST($e AS DECIMAL(20,6))"
    val steps = (1 to boostRounds).map { t =>
      val p = t - 1
      val cands = (1 to 9).flatMap { k =>
        Seq(
          s"SELECT $k AS idx, 1 AS pol, tt$k AS threshold, " +
            s"b$k + (pw - a$k) AS err, tw FROM agg$t",
          s"SELECT $k AS idx, -1 AS pol, tt$k AS threshold, " +
            s"a$k + ((tw - pw) - b$k) AS err, tw FROM agg$t")
      }.mkString("\nUNION ALL ")
      val sums = (1 to 9).map { k =>
        s"sum(CASE WHEN x <= t$k AND y > 0 " +
          s"THEN ${wd("w")} ELSE ${wd("0")} END) AS a$k,\n" +
        s"    sum(CASE WHEN x <= t$k AND y < 0 " +
          s"THEN ${wd("w")} ELSE ${wd("0")} END) AS b$k,\n" +
        s"    min(t$k) AS tt$k"
      }.mkString(",\n    ")
      s"""agg$t AS MATERIALIZED (SELECT
         |    sum(CASE WHEN y > 0 THEN ${wd("w")} ELSE ${wd("0")} END)
         |      AS pw,
         |    sum(${wd("w")}) AS tw,
         |    $sums
         |  FROM base$p, dec),
         |pick$t AS MATERIALIZED (SELECT idx, pol, threshold, err, tw,
         |    ${q6("0.5 * ln((CAST(tw AS DOUBLE) - CAST(err AS DOUBLE))" +
               " / CAST(err AS DOUBLE))")} AS alpha
         |  FROM ($cands)
         |  ORDER BY err, idx, pol LIMIT 1),
         |mult$t AS MATERIALIZED (SELECT *, ${q6("exp(-alpha)")} AS mc,
         |    ${q6("exp(alpha)")} AS mw FROM pick$t),
         |base$t AS MATERIALIZED (SELECT x, y,
         |    ${q6("w * (CASE WHEN (CASE WHEN x <= threshold THEN " +
               "CAST(pol AS DOUBLE) ELSE -CAST(pol AS DOUBLE) END) = y " +
               "THEN mc ELSE mw END)")} AS w,
         |    f + alpha * (CASE WHEN x <= threshold THEN
         |      CAST(pol AS DOUBLE) ELSE -CAST(pol AS DOUBLE) END) AS f
         |  FROM base$p, mult$t),
         |out$t AS MATERIALIZED (SELECT CAST($t AS BIGINT) AS round,
         |    CAST(idx AS INT) AS idx, CAST(pol AS BIGINT) AS pol,
         |    threshold,
         |    CAST((CAST(err * 1000000 AS HUGEINT) * 20000 +
         |        CAST(tw * 1000000 AS HUGEINT)) //
         |      (2 * CAST(tw * 1000000 AS HUGEINT)) AS BIGINT) / 10000.0
         |      AS eps,
         |    alpha,
         |    (SELECT CAST((CAST(sum(CASE WHEN (f >= 0.0) = (y > 0)
         |          THEN 1 ELSE 0 END) AS HUGEINT) * 20000 +
         |          count(*)) // (2 * count(*)) AS BIGINT) / 10000.0
         |     FROM base$t) AS accuracy
         |  FROM mult$t)""".stripMargin
    }.mkString(",\n")
    val unions = (1 to boostRounds).map(t => s"SELECT * FROM out$t")
      .mkString("\nUNION ALL ")
    s"""WITH base0 AS MATERIALIZED (SELECT
       |    CAST(round(o_totalprice, 4) AS DOUBLE) AS x,
       |    CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE -1.0 END AS y,
       |    1.0 AS w, 0.0 AS f
       |  FROM orders),
       |dec0 AS MATERIALIZED (SELECT quantile_cont(x,
       |    [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS ts FROM base0),
       |dec AS MATERIALIZED (SELECT ${(1 to 9).map(i =>
            s"round(ts[$i], 4) AS t$i").mkString(", ")} FROM dec0),
       |$steps
       |$unions
       |ORDER BY round""".stripMargin
  }
}
