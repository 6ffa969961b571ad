package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Reuse

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Four tiers:
  *  - brute force: broadcast the (small) query set against the
  *    corpus — the exact baseline; corpus is never self-joined.
  *  - LSH: random-hyperplane buckets shared by queries and corpus —
  *    only same-bucket pairs are scored.
  *  - IVF: one k-means-lite assignment pass builds centroid cells;
  *    queries probe their nearest cell(s) only. Two-stage top-k
  *    (cell-local then global) keeps the shuffle narrow.
  *  - PQ: vectors compressed to per-subspace codes; queries rank by
  *    ADC table lookups and exactly rescore only the short list —
  *    the tier whose index still fits in memory at 100 TB.
  */
object SimilarityOps {

  /** Bit-deterministic cross-engine cosine of two float-array
    * columns — a native codegen'd Catalyst expression (the equivalent
    * zip_with/aggregate composition evaluates its lambdas interpreted
    * and is ~5× slower in the ANN hot loop): both sides quantized to
    * 1e-6 integer units inside the kernel, exact order-free sums, one
    * correctly-rounded sqrt/multiply/divide chain (see
    * VectorKernels.cosineQ6). EVERY published/rounded cosine in the
    * registry routes through this since round 13 — a raw float
    * cosine's last ulp differs per engine and a round(·) landing
    * within an ulp of a .5 boundary splits the engines (caught live
    * by the sf0.007 sweep); the oracles replay the same quantized
    * chain via [[qcosSql]]. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExprs.cosineSimQ6(a, b)

  /** DuckDB text of [[cosine]]'s quantized chain — the replacement
    * for DuckDB's own float cosine builtin everywhere an oracle
    * replays a published cosine, so both engines run the same
    * exact-integer dot and correctly-rounded sqrt/multiply/divide.
    * Every oracle cosine site interpolates this helper (round 14 —
    * the round-13 migration left generator-written copies inline;
    * an edit to the chain now touches exactly this builder).
    *
    * Zero-norm convention mirrors VectorKernels.cosineQ6: a vector
    * whose components all floor to 0 at 1e-6 units has similarity
    * 0.0 to everything — without the CASE guard DuckDB evaluates
    * 0.0/0.0 to NULL for doubles and the engines split (ADVICE r13). */
  private[graft] def qcosSql(a: String, b: String): String = {
    def q(x: String) =
      s"list_transform(CAST($x AS DOUBLE[]), qx -> floor(qx * 1000000.0))"
    val na = s"list_dot_product(${q(a)}, ${q(a)})"
    val nb = s"list_dot_product(${q(b)}, ${q(b)})"
    s"(CASE WHEN $na = 0 OR $nb = 0 THEN 0.0 ELSE list_dot_product(${q(a)}, ${q(b)}) / (sqrt($na) * sqrt($nb)) END)"
  }

  /** The shared ANN-face query set: the `vec_id < nQueries` rows of
    * `emb` as (q_id, q_emb). */
  private def queries(emb: DataFrame, nQueries: Int): DataFrame =
    emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

  /** Score (q_id, q_emb, vec_id, embedding) pairs by 4dp cosine and
    * keep each query's k best by (cosine desc, vec_id) — a total
    * order — as (q_id, vec_id, cosine, rank). The serving tail of
    * every top-k tier. */
  private def rankTopK(pairs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    pairs.select(col("q_id"), col("vec_id"),
        round(cosine(col("q_emb"), col("embedding")), 4).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("q_id"), col("rank"))
  }

  /** Per-label embedding centroids — class prototypes / mean pooling:
    * the building block behind prototype classifiers, IVF coarse
    * quantizers, and per-class drift monitors. Long format
    * (label, pos, mean_v, n): one explode + one map-side-combinable
    * aggregate, shuffle rows = labels × dims regardless of corpus
    * size.
    *
    * Determinism at scale: a float/double SUM across partitions is
    * order-dependent, and partial-aggregate order is not — so a
    * straight avg() could hash differently between runs (and between
    * engines). Summing in DECIMAL(20,10) instead is exact and
    * associative — any partial-aggregation order yields the same
    * total — and only then does one double division + 4dp round
    * happen, identically on both engines. */
  def labelCentroids(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("v").cast("decimal(20,10)")).as("__s"),
        count(lit(1)).as("n"))
      .select(col("label"), col("pos"),
        round(col("__s").cast("double") / col("n"), 4).as("mean_v"), col("n"))
      .orderBy(col("label"), col("pos"))

  /** EMBEDDING-space drift monitor — q_psi_drift's counterpart for
    * vector columns, the check an embedding pipeline runs when the
    * encoder, preprocching, or upstream corpus changes: per label,
    * the centroid of one corpus half vs the other (vec_id parity —
    * the deterministic stand-in for "last batch vs this batch").
    * Drift reads TWO ways because embeddings break two ways: the
    * COSINE between half-centroids catches a direction/topic shift,
    * and the mean-NORM delta catches a scale or normalization
    * regression — the bug cosine alone is blind to (a re-deployed
    * encoder that stopped L2-normalizing has cosine 1.0 and broken
    * retrieval). Centroid dims sum in exact DECIMAL and 6dp-quantize
    * BEFORE the closed-form cosine in double (the corr-matrix tree);
    * per-vector norms 6dp-quantize before their DECIMAL mean. Cost:
    * one posexplode aggregate (label × half × dim rows) + one
    * label-grain reduce — the corpus is scanned twice, never
    * self-joined. Alert threshold pinned at cos < 0.98. */
  def centroidDrift(s: SparkSession, d: String): DataFrame =
    centroidDriftOn(Tables.embeddings(s, d))

  /** Same over any (vec_id, embedding, label) frame. */
  def centroidDriftOn(emb: DataFrame): DataFrame = {
    def dbl(c: Column): Column = c.cast("double")
    val withHalf = emb.select(col("label"), (col("vec_id") % 2).as("half"),
      col("embedding"))
    val dims = withHalf
      .select(col("label"), col("half"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("half"), col("pos"))
      .agg(sum(col("v").cast("decimal(20,10)")).as("s"),
        count(lit(1)).as("n"))
      .select(col("label"), col("half"), col("pos"),
        round(dbl(col("s")) / col("n"), 6).cast("decimal(16,6)").as("c"))
    val c0 = dims.filter(col("half") === 0)
      .select(col("label"), col("pos"), col("c").as("c0"))
    val c1 = dims.filter(col("half") === 1)
      .select(col("label"), col("pos"), col("c").as("c1"))
    val mom = c0.join(c1, Seq("label", "pos"))
      .groupBy(col("label"))
      .agg(sum((col("c0") * col("c1")).cast("decimal(38,12)")).as("dot"),
        sum((col("c0") * col("c0")).cast("decimal(38,12)")).as("q0"),
        sum((col("c1") * col("c1")).cast("decimal(38,12)")).as("q1"))
    val norms = withHalf.select(col("label"), col("half"),
        round(sqrt(aggregate(col("embedding"), lit(0.0),
          (a, x) => a + dbl(x) * dbl(x))), 6).cast("decimal(16,6)")
          .as("vn"))
      .groupBy(col("label"), col("half"))
      .agg(count(lit(1)).as("n"), sum(col("vn")).as("sn"))
    val n0 = norms.filter(col("half") === 0).select(col("label"),
      col("n").as("n_a"), round(dbl(col("sn")) / col("n"), 4).as("norm_a"))
    val n1 = norms.filter(col("half") === 1).select(col("label"),
      col("n").as("n_b"), round(dbl(col("sn")) / col("n"), 4).as("norm_b"))
    val cosC = when(dbl(col("q0")) * dbl(col("q1")) > 0,
      round(dbl(col("dot")) / sqrt(dbl(col("q0")) * dbl(col("q1"))), 4))
    mom.join(n0, "label").join(n1, "label")
      .select(col("label"), col("n_a"), col("n_b"),
        cosC.as("centroid_cos"),
        col("norm_a"), col("norm_b"),
        round(col("norm_b") - col("norm_a"), 4).as("norm_shift"),
        (cosC < 0.98).as("drift"))
      .orderBy(col("label"))
  }

  /** The ANN family's settings: neighbors per query, queries per
    * audit and IVF cells probed per query. */
  private val annK = 5
  private val annQueries = 10
  private val annProbe = 2

  /** The LSH hyperplane count and the sampled IVF fit's build cap. */
  private val lshBits = 4
  private val sampleMaxVectors = 16384

  /** The PQ sub-quantizers, codes per sub-quantizer and ADC rerank
    * depth of every PQ face and oracle. */
  private val pqM = 8
  private val pqCodes = 16
  private val pqRerank = 50

  /** k-nearest-neighbor CLASSIFICATION over the embedding space —
    * the non-parametric baseline every embedding-quality check runs:
    * hold out every 10th vector, predict its label by majority vote
    * of its k nearest labeled neighbors (cosine), report prediction
    * beside truth. Fully SQL-expressible, so unlike the MLlib
    * entries this classifier is cross-engine oracled end to end.
    *
    * Ties are deterministic twice over: neighbor rank breaks
    * (cosine 4dp desc, vec_id asc); the vote breaks
    * (count desc, label asc). This face scores brute-force (query
    * set broadcast, corpus never self-joined — the exact baseline;
    * both sides grow with the corpus, so this face is quadratic and
    * measured as such in SCALING.md); the 100 TB face is
    * [[knnClassifyIvf]] — the SAME [[knnVote]] over an IVF shortlist,
    * oracled and measured at ~3× per 10× data. */
  def knnClassify(s: SparkSession, d: String): DataFrame =
    knnClassifyOn(Tables.embeddings(s, d), annK)

  /** Same over any (vec_id, embedding, label) frame. */
  def knnClassifyOn(emb: DataFrame, k: Int): DataFrame = {
    val q = emb.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("label").as("true_label"))
    val corpus = emb.filter(col("vec_id") % 10 =!= 0)
    val scored = corpus.crossJoin(broadcast(q))
      .select(col("q_id"), col("true_label"), col("vec_id"), col("label"),
        round(cosine(col("q_emb"), col("embedding")), 4).as("cosine"))
    knnVote(scored, k)
  }

  /** The scorer-agnostic VOTE stage both classifier faces share: rank
    * the scored candidates per query ((cosine desc, vec_id) — total),
    * keep k, majority vote ((votes desc, label) — total). Any frame
    * of (q_id, true_label, vec_id, label, cosine) works — brute
    * force, LSH, IVF, or PQ shortlists all feed the same vote, which
    * is what makes the classifier's scale path a scorer swap rather
    * than a rewrite. */
  private[graft] def knnVote(scored: DataFrame, k: Int): DataFrame = {
    val wr = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    val top = scored.withColumn("__r", row_number().over(wr))
      .filter(col("__r") <= k)
    val wv = Window.partitionBy(col("q_id"))
      .orderBy(col("votes").desc, col("label"))
    top.groupBy(col("q_id"), col("true_label"), col("label"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("__vr", row_number().over(wv))
      .filter(col("__vr") === 1)
      .select(col("q_id"), col("true_label"),
        col("label").as("pred_label"), col("votes"))
      .orderBy(col("q_id"))
  }

  /** The 100 TB face of the kNN classifier: [[knnVote]] over an IVF
    * shortlist instead of the brute-force cross join. Same holdout
    * (every 10th vector), same vote; the scorer builds corpus-fit
    * IVF cells (seed = the first ~√corpus vectors by id, one
    * mean-update refinement with FLOAT-cast means — the [[ivfTopK]]
    * recipe) and each query only scores the corpus members of its
    * `nProbe` nearest cells.
    *
    * Scale posture — the piece the brute-force face can't claim: the
    * query side here is a CORPUS FRACTION (it grows with the data),
    * so it is NOT broadcast; the candidate join is a plain equi-join
    * on the cell id, which AQE broadcasts while the holdout is small
    * and degrades to a shuffled hash join at scale. Per-query work is
    * O(nProbe·√n) instead of O(n). */
  def knnClassifyIvf(s: SparkSession, d: String): DataFrame =
    knnClassifyIvfOn(Reuse.shared(Tables.embeddings(s, d)), annK, annProbe)

  /** Same over any (vec_id, embedding, label) frame. */
  def knnClassifyIvfOn(emb: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val corpus = emb.filter(col("vec_id") % 10 =!= 0)
    // seeds = the cellCount lowest corpus ids — TakeOrdered (per-
    // partition top-n then merge), never a global sort
    val centroids = ivfCentroids(corpus,
      corpus.orderBy(col("vec_id")).limit(cellCount(corpus)))
    // label rides along for the vote stage
    val cells = ivfAssign(corpus, centroids, first(col("label")).as("label"))
    val qCells = probeCells(emb.filter(col("vec_id") % 10 === 0),
      centroids, nProbe, col("label").as("true_label"))
    // deliberately un-hinted: qCells scales with the corpus, so the
    // broadcast decision belongs to AQE, not a hint (the brute-force
    // face's broadcast-the-holdout shape is exactly what this tier
    // replaces)
    val scored = cells.join(qCells, Seq("cell"))
      .select(col("q_id"), col("true_label"), col("vec_id"), col("label"),
        round(cosine(col("q_emb"), col("embedding")), 4).as("cosine"))
    knnVote(scored, k)
  }

  /** INT8 scalar quantization — the 4× embedding-compression tier
    * between raw float32 and [[pqTopK]]'s 32× codes: per vector,
    * scale = max |v_i| and code_i = round(127·v_i/scale), so the
    * vector stores as 64 bytes + one float. The entry emits each
    * vector's measured FIDELITY — the cosine between the original
    * and its dequantized self — which is the number an embedding
    * pipeline checks before switching its index to int8 (typically
    * ≥ 0.999 for unit-ish vectors; PQ trades far more). Row-local,
    * zero shuffle; every step is double-IEEE-identical across
    * engines (float→double exact, same multiply/divide/round order,
    * dequant pinned through a FLOAT cast on both sides), so the
    * whole quantize→dequantize→cosine pipeline is DuckDB-oracled.
    * All-zero vectors have no scale and drop (consistently in both
    * engines). */
  def quantizeInt8(s: SparkSession, d: String): DataFrame = {
    val scale = array_max(transform(col("embedding"), x => abs(x)))
      .cast("double")
    Tables.embeddings(s, d)
      .withColumn("__scale", scale)
      .filter(col("__scale") > 0)
      .withColumn("__dq",
        transform(col("embedding"),
          x => round(x * lit(127.0) / col("__scale")) * col("__scale") / lit(127.0))
          .cast("array<float>"))
      .select(col("vec_id"), round(col("__scale"), 4).as("scale"),
        round(cosine(col("embedding"), col("__dq")), 4).as("cosine_kept"))
      .orderBy(col("vec_id"))
  }

  /** The output width and plane seed of [[randomProject]] and its
    * oracle. */
  private val rpOutDim = 8
  private val rpSeed = 7L

  /** Johnson-Lindenstrauss random projection — the DIMENSIONALITY
    * tier of the compression ladder ([[quantizeInt8]] shrinks the
    * element type, this shrinks the element COUNT): project d=64 →
    * `outDim` via fixed-seed Gaussian planes scaled by 1/√outDim, so
    * inner products (hence distances) are preserved in expectation
    * with error ~1/√outDim. At 100 TB this runs BEFORE the ANN
    * tiers: an 8× narrower vector is 8× less shuffle/IO for every
    * downstream join, centroid fit, and brute-force rescore, at a
    * measured (spec'd) geometry cost. Row-local transform, zero
    * shuffle, planes baked into the plan as literals. Output is LONG
    * format `(vec_id, pos, value)` — one row per projected
    * coordinate — matching [[labelCentroids]]'s convention so the
    * cross-engine compare never sees a nested array.
    *
    * Cross-engine EXACTNESS is by integer arithmetic, not rounding
    * tolerance: vector elements and plane components both
    * floor-quantize to 1e-6 integer units BEFORE the dot product, so
    * every product (≤ ~1e13) and partial sum (≤ ~1e15) is an exact
    * integer-valued double — associative, hence identical under ANY
    * accumulation order. That is the property the previous contract
    * (raw float dot + round-to-4dp) lacked: Spark's kernel multiplies
    * float×float while DuckDB's list_dot_product multiplies doubles
    * with its own lane order, and at sf1 volume (160k coordinates)
    * ulp drift crossed a 4dp boundary — caught by the round-11 sf1
    * sweep. The face then floor-quantizes the scaled projection to
    * 4dp from one shared double expression (the ml_logreg_gd
    * contract). The 1e-6 input quantization perturbs each coordinate
    * by < 2⁻¹⁹ of a unit vector — far inside the JL distortion the
    * spec bounds. */
  def randomProject(s: SparkSession, d: String): DataFrame = {
    val scale = 1.0 / math.sqrt(rpOutDim.toDouble)
    val proj = array(lshPlanes(rpOutDim, rpSeed).map { p =>
      // plane pre-quantized to 1e-6 integer units; the values
      // (< ~2^23) are exact as floats, so the codegen'd kernel reads
      // them losslessly. The vector side quantizes INSIDE the kernel.
      val pq = p.map(v => math.floor(v.toDouble * 1000000.0).toFloat)
      val dotq = graft.functions.VectorExprs.dotProductQ6(
        col("embedding"), typedLit(pq))
      // dotq carries the 1e-12 of the two quantizations; fold it into
      // the 4dp publication divide (1e-12 · 1e4 = 1e-8)
      floor(dotq * lit(scale) / lit(100000000.0)) / 10000.0
    }: _*)
    Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(proj).as(Seq("pos", "value")))
      .orderBy(col("vec_id"), col("pos"))
  }

  /** DuckDB replica of [[randomProject]] — same quantized-integer
    * plane literals, same 1e-6 element quantization, same 4dp floor
    * publication. list_dot_product's internal accumulation order is
    * free to differ: every term is an exact integer-valued double.
    * The BIGINT cast mirrors Spark's floor→LONG so a -0.0 floor
    * result cannot render as "-0.0" on one side only. */
  private[graft] def rpOracleSql: String = {
    val scale = (1.0 / math.sqrt(rpOutDim.toDouble)).toString
    val eq = "list_transform(CAST(embedding AS DOUBLE[]), x -> floor(x * 1000000.0))"
    val elems = lshPlanes(rpOutDim, rpSeed).map { p =>
      val pq = p.map(v => math.floor(v.toDouble * 1000000.0).toString)
        .mkString("CAST([", ", ", "] AS DOUBLE[])")
      s"CAST(floor(list_dot_product($eq, $pq) * $scale / 100000000.0) AS BIGINT) / 10000.0"
    }.mkString("[", ",\n    ", "]")
    s"""WITH p AS (SELECT vec_id, $elems AS proj FROM embeddings)
       |SELECT vec_id, i - 1 AS pos, proj[i] AS value
       |FROM p, LATERAL (SELECT unnest(range(1, ${rpOutDim + 1})) AS i)
       |ORDER BY vec_id, pos""".stripMargin
  }

  /** Exact top-k: broadcast the query set, score every corpus vector,
    * rank per query. */
  def bruteForceTopK(s: SparkSession, d: String,
                     k: Int = annK, nQueries: Int = annQueries): DataFrame = {
    val corpus = Tables.embeddings(s, d)
    rankTopK(corpus.crossJoin(broadcast(queries(corpus, nQueries)))
      .filter(col("vec_id") =!= col("q_id")), k)
  }

  /** MMR diversified re-ranking — the step between retrieval and the
    * context window: a plain top-k hands a RAG prompt five
    * near-copies of the same passage; Maximal Marginal Relevance
    * (Carbonell & Goldstein, SIGIR'98) greedily picks
    * argmax λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s), trading relevance
    * against redundancy with what is already selected.
    *
    * Plan shape: ONE corpus-scale pass builds the per-query shortlist
    * (the [[bruteForceTopK]] posture — broadcast queries, corpus
    * never self-joined; a 100 TB caller swaps the shortlist stage to
    * the IVF tier, the declared partner);
    * everything after is CONFIG-bounded — candidate-pair sims are
    * shortlist² per query, the k greedy rounds join ≤(queries ×
    * shortlist)-row frames, each round's pick eager-checkpointed so
    * round j cannot replan rounds < j (the selected set feeds the
    * anti-join AND the max-sim lookup — two paths, the adaboost
    * chain-blowup class).
    *
    * Exactness: similarities enter as 1e-4 INTEGERS the moment they
    * are rounded (round(cos·10⁴) — the price-micro idiom), so with
    * λ = 0.7 the MMR score is the exact integer 7·rel − 3·maxsim in
    * 1e-5 units and every greedy argmax (score desc, vec_id) is an
    * integer comparison — no float ordering anywhere after the
    * rounding; a double score like 0.7·0.1235 = 0.08645 is a true
    * 4dp half-boundary an engine-side round() would split on. */
  def mmrRerank(s: SparkSession, d: String, k: Int = annK,
                shortlist: Int = mmrShortlist, nQueries: Int = annQueries,
                lam10: Int = mmrLam10): DataFrame =
    mmrRerankOn(Tables.embeddings(s, d), k, shortlist, nQueries, lam10)

  /** Same over any (vec_id, embedding) frame; queries = the
    * `vec_id < nQueries` rows (the shared ANN-face convention). */
  def mmrRerankOn(emb: DataFrame, k: Int, shortlist: Int,
                  nQueries: Int, lam10: Int): DataFrame = {
    require(k >= 1 && shortlist >= k && lam10 >= 0 && lam10 <= 10,
      s"need 1 <= k <= shortlist and lambda tenths in 0..10: " +
        s"$k/$shortlist/$lam10")
    val scored = emb.crossJoin(broadcast(queries(emb, nQueries)))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("embedding"),
        // quantized-exact cosine: a raw float cosine's last ulp
        // differs per engine, and round(cos·10⁴) splits when the
        // product lands within an ulp of a .5 boundary — the sf0.007
        // off-grid sweep caught exactly that (round 13)
        round(cosine(col("q_emb"), col("embedding")) * 10000.0)
          .cast("long").as("rel_i"))
    val wTop = Window.partitionBy(col("q_id"))
      .orderBy(col("rel_i").desc, col("vec_id"))
    val short = scored.withColumn("__rk", row_number().over(wTop))
      .filter(col("__rk") <= shortlist)
      .select(col("q_id"), col("vec_id"), col("embedding"), col("rel_i"))
    mmrGreedy(short, k, lam10)
  }

  /** The MMR shortlist width and relevance weight (tenths) of
    * [[mmrRerankIvf]] and both MMR oracles. */
  private val mmrShortlist = 20
  private val mmrLam10 = 7

  /** The SCALE-tier face: same greedy re-rank over an IVF shortlist
    * ([[ivfTopK]] with k = the shortlist width) instead of the exact
    * scored corpus — the two-stage retrieval a 100 TB index actually
    * runs. Member embeddings rejoin from the corpus (a
    * queries×shortlist-row broadcast join); rel re-integerizes from
    * the IVF face's own 4dp cosine, so the rel grid is identical to
    * the exact face's wherever both retrieve the same candidate. */
  def mmrRerankIvf(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    // broadcast the SMALL side: the shortlist is queries×shortlist
    // rows, the corpus is the 100 TB operand — corpus-side broadcast
    // would OOM at exactly the scale this IVF face exists for
    val short = emb.select(col("vec_id"), col("embedding"))
      .join(broadcast(ivfTopK(s, d, k = mmrShortlist)
        .select(col("q_id"), col("vec_id"),
          round(col("cosine") * 10000.0).cast("long").as("rel_i"))),
        Seq("vec_id"))
    mmrGreedy(short, annK, mmrLam10)
  }

  /** The config-bounded greedy stage shared by the exact and IVF
    * faces: `short` = (q_id, vec_id, embedding, rel_i). Every frame
    * past the input is ≤ queries×shortlist(²) rows; each round's
    * pick eager-checkpoints (the selected set feeds the anti-join
    * AND the max-sim lookup — two replan paths). */
  private def mmrGreedy(short0: DataFrame, k: Int,
                        lam10: Int): DataFrame = {
    // queries×shortlist rows: eager-checkpoint ends the corpus scan
    val short = Reuse.barrier(short0)
    // all ordered candidate pairs per query (shortlist² bounded)
    val pairs = short.select(col("q_id"), col("vec_id").as("ca"),
        col("embedding").as("ea"))
      .join(short.select(col("q_id"), col("vec_id").as("cb"),
        col("embedding").as("eb")), Seq("q_id"))
      .filter(col("ca") =!= col("cb"))
      .select(col("q_id"), col("ca"), col("cb"),
        // quantized cosine for the same .5-boundary determinism as rel_i
        round(cosine(col("ea"), col("eb")) * 10000.0)
          .cast("long").as("sim_i"))
      .transform(Reuse.barrier)
    val wPick = Window.partitionBy(col("q_id"))
      .orderBy(col("score_i").desc, col("vec_id"))
    def pick(cands: DataFrame, pos: Int): DataFrame =
      cands.withColumn("__rk", row_number().over(wPick))
        .filter(col("__rk") === 1)
        .select(col("q_id"), lit(pos).as("pos"), col("vec_id"),
          col("rel_i"), col("ms_i"), col("score_i"))
        .transform(Reuse.barrier)
    val slim = short.select(col("q_id"), col("vec_id"), col("rel_i"))
    var selected = pick(slim
      .withColumn("ms_i", lit(0L))
      .withColumn("score_i", lit(lam10.toLong) * col("rel_i")), 1)
    for (j <- 2 to k) {
      val cands = slim.join(selected.select(col("q_id"),
          col("vec_id")), Seq("q_id", "vec_id"), "left_anti")
        .join(pairs.select(col("q_id"), col("ca").as("vec_id"),
          col("cb"), col("sim_i")), Seq("q_id", "vec_id"))
        .join(selected.select(col("q_id"), col("vec_id").as("cb")),
          Seq("q_id", "cb"))
        .groupBy(col("q_id"), col("vec_id"), col("rel_i"))
        .agg(max(col("sim_i")).as("ms_i"))
        .withColumn("score_i", lit(lam10.toLong) * col("rel_i") -
          lit((10 - lam10).toLong) * col("ms_i"))
      selected = selected.unionAll(pick(cands, j))
    }
    selected.select(col("q_id"), col("pos"), col("vec_id"),
      (col("rel_i").cast("double") / 10000.0).as("rel"),
      (col("ms_i").cast("double") / 10000.0).as("max_sim"),
      (col("score_i").cast("double") / 100000.0).as("mmr_score"))
      .orderBy(col("q_id"), col("pos"))
  }

  /** DuckDB replay of [[mmrRerank]] — the greedy rounds unrolled
    * programmatically (the adaboost/logreg oracle discipline), every
    * CTE MATERIALIZED (each round references the selected set through
    * two paths — anti-membership and max-sim — the inlining-blowup
    * class). All selection arithmetic is BIGINT, so the replay is
    * exact given the shared round(cos·10⁴) integerization. */
  private[graft] def mmrOracleSql: String = {
    val prefix =
      s"""eq AS MATERIALIZED (SELECT vec_id, embedding,
         |    list_transform(CAST(embedding AS DOUBLE[]),
         |      x -> floor(x * 1000000.0)) AS qv
         |  FROM embeddings),
         |q AS MATERIALIZED (SELECT vec_id AS q_id, qv AS q_qv
         |  FROM eq WHERE vec_id < $annQueries),
         |sc AS MATERIALIZED (SELECT q_id, e.vec_id AS vec_id,
         |    e.embedding AS emb,
         |    CAST(round((CASE WHEN list_dot_product(q_qv, q_qv) = 0
         |        OR list_dot_product(e.qv, e.qv) = 0 THEN 0.0
         |      ELSE list_dot_product(q_qv, e.qv)
         |        / (sqrt(list_dot_product(q_qv, q_qv))
         |           * sqrt(list_dot_product(e.qv, e.qv))) END)
         |      * 10000) AS BIGINT) AS rel_i
         |  FROM eq e, q WHERE e.vec_id <> q.q_id),
         |short AS MATERIALIZED (SELECT q_id, vec_id, emb, rel_i
         |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id
         |      ORDER BY rel_i DESC, vec_id) AS rk FROM sc)
         |  WHERE rk <= $mmrShortlist)""".stripMargin
    mmrGreedyOracle(prefix, annK, mmrLam10)
  }

  /** DuckDB replay of [[mmrRerankIvf]]: the ann_ivf_topk assignment
    * chain (verbatim — same seeds, one-refine, nProbe cell gating,
    * tiebreaks) widened to the shortlist, rel re-integerized from
    * the IVF face's own 4dp cosine exactly as the Spark side does
    * (round(round(cos,4)·10⁴)), then the SAME greedy CTEs. */
  private[graft] def mmrIvfOracleSql: String = {
    val prefix =
      s"""$ivfChainCtes,
         |short AS MATERIALIZED (SELECT r.q_id, r.vec_id, e.emb,
         |    CAST(round(r.cosine * 10000) AS BIGINT) AS rel_i
         |  FROM r JOIN e ON e.vec_id = r.vec_id
         |  WHERE rank <= $mmrShortlist)""".stripMargin
    mmrGreedyOracle(prefix, annK, mmrLam10)
  }

  /** The shared greedy-round CTEs over a preceding
    * `short(q_id, vec_id, emb, rel_i)` CTE — every CTE MATERIALIZED
    * (each round references the selected set through two paths —
    * anti-membership and max-sim — the inlining-blowup class). All
    * selection arithmetic is BIGINT, so the replay is exact given
    * the shared round(cos·10⁴) integerization. */
  private def mmrGreedyOracle(shortPrefix: String, k: Int,
                              lam10: Int): String = {
    val l = lam10; val m = 10 - lam10
    val steps = (2 to k).map { j =>
      val p = j - 1
      s"""cand$j AS MATERIALIZED (SELECT s.q_id, s.vec_id, s.rel_i,
         |    max(p.sim_i) AS ms_i
         |  FROM slim s
         |  JOIN pairs p ON p.q_id = s.q_id AND p.ca = s.vec_id
         |  JOIN selall$p x ON x.q_id = p.q_id AND x.vec_id = p.cb
         |  WHERE NOT EXISTS (SELECT 1 FROM selall$p y
         |    WHERE y.q_id = s.q_id AND y.vec_id = s.vec_id)
         |  GROUP BY 1, 2, 3),
         |sel$j AS MATERIALIZED (SELECT q_id, $j AS pos, vec_id, rel_i,
         |    ms_i, $l * rel_i - $m * ms_i AS score_i
         |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id
         |      ORDER BY $l * rel_i - $m * ms_i DESC, vec_id) AS rk
         |    FROM cand$j) WHERE rk = 1),
         |selall$j AS MATERIALIZED (SELECT * FROM selall$p
         |  UNION ALL SELECT * FROM sel$j)""".stripMargin
    }.mkString(",\n")
    s"""WITH $shortPrefix,
       |shortq AS MATERIALIZED (SELECT q_id, vec_id, rel_i,
       |    list_transform(CAST(emb AS DOUBLE[]),
       |      x -> floor(x * 1000000.0)) AS qv
       |  FROM short),
       |pairs AS MATERIALIZED (SELECT a.q_id, a.vec_id AS ca,
       |    b.vec_id AS cb,
       |    CAST(round((CASE WHEN list_dot_product(a.qv, a.qv) = 0
       |        OR list_dot_product(b.qv, b.qv) = 0 THEN 0.0
       |      ELSE list_dot_product(a.qv, b.qv)
       |        / (sqrt(list_dot_product(a.qv, a.qv))
       |           * sqrt(list_dot_product(b.qv, b.qv))) END)
       |      * 10000) AS BIGINT) AS sim_i
       |  FROM shortq a JOIN shortq b
       |    ON a.q_id = b.q_id AND a.vec_id <> b.vec_id),
       |slim AS MATERIALIZED (SELECT q_id, vec_id, rel_i FROM short),
       |selall1 AS MATERIALIZED (SELECT q_id, 1 AS pos, vec_id, rel_i,
       |    CAST(0 AS BIGINT) AS ms_i, $l * rel_i AS score_i
       |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id
       |      ORDER BY $l * rel_i DESC, vec_id) AS rk FROM slim)
       |  WHERE rk = 1),
       |$steps
       |SELECT q_id, CAST(pos AS INT) AS pos, vec_id,
       |  CAST(rel_i AS DOUBLE) / 10000.0 AS rel,
       |  CAST(ms_i AS DOUBLE) / 10000.0 AS max_sim,
       |  CAST(score_i AS DOUBLE) / 100000.0 AS mmr_score
       |FROM selall$k ORDER BY q_id, pos""".stripMargin
  }

  /** Ranking-metrics evaluation — the retrieval-quality readout
    * (MRR, DCG/NDCG@k, hits/precision, recall@k) every search or RAG
    * pipeline reports before shipping an index change. The retrieval
    * run under evaluation is the exact-cosine ranking over a
    * broadcast query set (the [[bruteForceTopK]] posture — the corpus
    * is never self-joined); relevance is label agreement, so truth
    * needs no side file and scales with the corpus.
    *
    * Every metric leaves float-land IMMEDIATELY: per-hit DCG gain is
    * ⌊10⁶/log2(rank+1)⌋ — an integer the moment it is summed — so
    * the sum is order-independent (a double DCG summed across
    * partitions hashes differently run to run; the emb_centroids
    * lesson), and MRR/NDCG/recall are integer micro-unit divisions.
    * IDCG sums the same quantized gain over the ideal prefix
    * (min(n_rel, k)) via a bounded sequence explode — closed-form
    * cross-engine, no float ever compared. */
  def rankingEval(s: SparkSession, d: String): DataFrame = {
    val k = 10
    val nQueries = 20
    rankingEvalOn(Tables.embeddings(s, d), k, nQueries)
  }

  /** Same over any (vec_id, embedding, label) corpus. */
  def rankingEvalOn(emb: DataFrame, k: Int, nQueries: Int): DataFrame = {
    val corpus = emb
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("label").as("q_label"))
    val scored = corpus.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("q_label"), col("vec_id"), col("label"),
        round(cosine(col("q_emb"), col("embedding")), 4).as("cos"))
      .withColumn("rel",
        when(col("label") === col("q_label"), 1L).otherwise(0L))
      .transform(Reuse.shared) // feeds total-relevant + the ranked prefix
    val relTotal = scored.groupBy(col("q_id"))
      .agg(sum(col("rel")).as("n_rel"))
    val ranked = scored
      .withColumn("rank", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rank") <= k)
    val gain = floor(lit(1000000.0) / log2(col("rank").cast("double") + 1.0))
    val perQ = ranked.groupBy(col("q_id")).agg(
      sum(col("rel")).as("hits"),
      sum(when(col("rel") === 1L, gain).otherwise(0L)).as("dcg_micro"),
      min(when(col("rel") === 1L, col("rank"))).as("__first"))
    // n_rel=0 must NOT reach the explode: Spark's sequence(1, 0)
    // DESCENDS ([1,0]) rather than emptying, and r=0 divides by
    // log2(1)=0 — the zero-relevant case is handled by the left join
    val idcg = relTotal.filter(col("n_rel") > 0L)
      .select(col("q_id"), col("n_rel"),
        explode(sequence(lit(1L), least(col("n_rel"), lit(k.toLong))))
          .as("r"))
      .groupBy(col("q_id"), col("n_rel"))
      .agg(sum(floor(lit(1000000.0) / log2(col("r").cast("double") + 1.0)))
        .as("idcg_micro"))
    // queries whose label never recurs have an empty ideal ranking:
    // left join keeps them with idcg 0 → ndcg/recall defined as 0
    perQ.join(relTotal, "q_id")
      .join(idcg.drop("n_rel"), Seq("q_id"), "left")
      .select(col("q_id"), col("n_rel"), col("hits"),
        when(col("__first").isNull, 0L)
          .otherwise(expr("1000000L div __first")).as("mrr_micro"),
        col("dcg_micro"),
        coalesce(col("idcg_micro"), lit(0L)).as("idcg_micro"),
        when(coalesce(col("idcg_micro"), lit(0L)) === 0L, 0L)
          .otherwise(expr("dcg_micro * 1000000L div idcg_micro"))
          .as("ndcg_micro"),
        when(col("n_rel") === 0L, 0L)
          .otherwise(expr("hits * 1000000L div n_rel")).as("recall_micro"))
      .orderBy(col("q_id"))
  }

  /** 1-bit SIGN quantization retrieval check — the 32× extreme of
    * the scalar-compression ladder (int8 = 4×, JL-RP = 8× fewer
    * dims, PQ = 32× codes, this = 32× in one bit per dim) and the
    * representation behind binary-hamming pre-ranking in vector
    * stores: recall@k of the hamming ranking over sign bits against
    * the exact cosine ranking, on the same broadcast query set as
    * [[mrlRecall]] (the corpus is never self-joined). Hamming
    * distances are exact integers (sign compare per dim — no float
    * accumulation to drift), rankings carry the repo's deterministic
    * tiebreaks, and a zero-overlap query still reports 0.0 via the
    * left join. Like the MRL entry, the NUMBER is the point: on this
    * corpus's iid vectors sign bits keep real signal (planted-signal
    * fixture recalls 1.0 in the spec); a production corpus reads
    * this table before switching its pre-rank to hamming. */
  def binaryRecall(s: SparkSession, d: String): DataFrame =
    binaryRecallOn(Tables.embeddings(s, d), annK, annQueries)

  /** Same over any (vec_id, embedding) frame; queries are the first
    * `nQueries` vec_ids. */
  def binaryRecallOn(corpus: DataFrame, k: Int, nQueries: Int): DataFrame = {
    val qs = queries(corpus, nQueries)
    val paired = corpus.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(cosine(col("q_emb"), col("embedding")), 4).as("cos"),
        aggregate(zip_with(col("q_emb"), col("embedding"),
          (a, b) => when((a > 0) =!= (b > 0), 1).otherwise(0)),
          lit(0), (acc, x) => acc + x).as("ham"))
      .transform(Reuse.shared) // feeds both rankings
    val wCos = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    val wHam = Window.partitionBy(col("q_id"))
      .orderBy(col("ham").asc, col("vec_id"))
    val exactTop = paired.withColumn("rk", row_number().over(wCos))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("vec_id"), lit(1L).as("__hit"))
    paired.withColumn("rk", row_number().over(wHam)).filter(col("rk") <= k)
      .join(exactTop, Seq("q_id", "vec_id"), "left")
      .groupBy(col("q_id"))
      .agg((sum(coalesce(col("__hit"), lit(0L))).cast("double") / k)
        .as("recall"))
      .orderBy(col("q_id"))
  }

  /** Matryoshka-truncation recall — the evaluation behind shipping
    * shortened embeddings (MRL-style): how much of the full-dimension
    * top-k survives when vectors truncate to their first `t` dims
    * (16 and 32 here)? One scored frame per tier over the SAME
    * broadcast query set (the corpus is never self-joined — the
    * bruteForceTopK posture), ranked per (tier, query) with the
    * repo's (cosine 4dp desc, vec_id) tiebreak; recall@k counts
    * tier-top rows that also appear in the 64-dim top via a left
    * join, so a query with zero overlap still reports 0.0. Output is
    * (dims, q_id, recall) — the table that tells you whether the 4×
    * storage cut is free or costs retrieval quality. */
  def mrlRecall(s: SparkSession, d: String): DataFrame = {
    val tiers = Seq(16, 32)
    mrlRecallOn(Tables.embeddings(s, d), annK, annQueries, tiers)
  }

  /** Same over any (vec_id, embedding) frame; queries are the first
    * `nQueries` vec_ids. */
  def mrlRecallOn(corpus: DataFrame, k: Int, nQueries: Int,
                  tiers: Seq[Int]): DataFrame = {
    val qs = queries(corpus, nQueries)
    val full = Int.MaxValue // slice caps at the array length: full vector
    val scoredAll = (tiers :+ full).map { t =>
      corpus.crossJoin(broadcast(qs))
        .filter(col("vec_id") =!= col("q_id"))
        .select(lit(t).as("dims"), col("q_id"), col("vec_id"),
          round(cosine(slice(col("q_emb"), 1, t),
            slice(col("embedding"), 1, t)), 4).as("cos"))
    }.reduce(_.union(_))
    val w = Window.partitionBy(col("dims"), col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    val top = scoredAll.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
    val fullTop = top.filter(col("dims") === full)
      .select(col("q_id"), col("vec_id"), lit(1L).as("__hit"))
    top.filter(col("dims") =!= full)
      .join(fullTop, Seq("q_id", "vec_id"), "left")
      .groupBy(col("dims"), col("q_id"))
      .agg((sum(coalesce(col("__hit"), lit(0L))).cast("double") / k)
        .as("recall"))
      .orderBy(col("dims"), col("q_id"))
  }

  private val dim = 64

  /** Fixed-seed Gaussian hyperplanes — shared by the Spark bucket
    * expression and the SQL oracle generator, so an external engine
    * can replicate the exact bucketing from the same literals. */
  private[graft] def lshPlanes(nBits: Int, seed: Long = 42L): Seq[Seq[Float]] = {
    val rng = new java.util.Random(seed)
    Seq.fill(nBits)(Seq.fill(dim)(rng.nextGaussian().toFloat))
  }

  /** The bucket occupancy [[adaptiveBits]] aims at and its clamp on
    * the plane count, replayed by the embedding-LSH oracle. */
  private val targetOccupancy = 32L
  private val minBits = 4
  private val maxBits = 16

  /** Corpus-adaptive hyperplane count: the smallest `bits` with
    * 2^bits ≥ n/targetOccupancy, clamped to [minBits, maxBits] — so
    * mean bucket occupancy stays ~targetOccupancy as the corpus
    * grows instead of buckets (hence candidate pairs) growing
    * linearly with n. Fixed 16 buckets at 10× data measured 8.0×
    * runtime (SCALING.md r7); occupancy-pinned bits restore ~linear
    * candidate volume. Planes are PREFIX-STABLE (one sequential RNG
    * per seed), so plane i is identical at every bits ≥ i+1 and the
    * SQL oracle can embed maxBits planes and mask by a count-derived
    * bit width. */
  private[graft] def adaptiveBits(n: Long): Int = {
    val cells = math.max(n / targetOccupancy, 2L)
    // ceil(log2(cells)) in exact integer arithmetic — the oracle
    // mirrors it as ceil(log2(greatest(count(*) // occ, 2)))
    val bits = 64 - java.lang.Long.numberOfLeadingZeros(cells - 1)
    math.min(maxBits, math.max(minBits, bits))
  }

  /** Deterministic random-hyperplane bucket id (nBits sign bits).
    * Planes are fixed-seed Gaussian literals baked into the plan; the
    * per-row work is nBits compact dot products through the codegen'd
    * DotProduct kernel, which keeps the generated code small and fast. */
  private[ops] def lshBucket(emb: Column, nBits: Int, seed: Long = 42L): Column =
    lshPlanes(nBits, seed).zipWithIndex.map { case (p, i) =>
      when(graft.functions.VectorExprs.dotProduct(emb, typedLit(p)) >= 0,
        lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** LSH-bucketed approximate top-k: queries and corpus share the
    * bucket id; only same-bucket candidates are scored. Recall trades
    * against nBits. */
  def lshTopK(s: SparkSession, d: String,
              k: Int = annK, nQueries: Int = annQueries,
              nBits: Int = lshBits): DataFrame = {
    val corpus = Tables.embeddings(s, d)
      .withColumn("bucket", lshBucket(col("embedding"), nBits))
    val q = queries(Tables.embeddings(s, d), nQueries)
      .withColumn("bucket", lshBucket(col("q_emb"), nBits))
    rankTopK(corpus.join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id")), k)
  }

  /** IVF approximate top-k. Cells come from a deterministic seed set
    * (the first ~√corpus vectors) refined by one mean-update pass — a
    * k-means-lite fit done entirely with joins and aggregates; the
    * centroid table stays small and is broadcast everywhere. Queries
    * probe their nProbe nearest cells (multi-probe recovers most of
    * the recall single-probe IVF loses at cell boundaries).
    *
    * The cell count is ~√corpus (floor 8): cell population ~√n keeps
    * both the probe fan-out and the per-cell scan sublinear as the
    * corpus grows — a fixed cell count would collapse to
    * scan-everything at 100× the data. Assignment similarity is
    * rounded to 4dp with a cell-id tiebreak so the fit is bit-stable
    * across engines and float-summation orders. */
  def ivfTopK(s: SparkSession, d: String,
              k: Int = annK, nQueries: Int = annQueries,
              nProbe: Int = annProbe): DataFrame = {
    // scanned four times (cell-count fit, two assignment passes, the
    // query subset) — checkpoint once
    val emb = Reuse.shared(Tables.embeddings(s, d))
    ivfSearch(emb, emb, emb.filter(col("vec_id") < cellCount(emb)),
      k, nQueries, nProbe)
  }

  /** ~√n IVF cells (floor 8) for an n-row frame: one scalar count
    * action. */
  private def cellCount(df: DataFrame): Int =
    math.max(8, math.sqrt(df.count().toDouble).toInt)

  /** Single-probe IVF assignment of `src` (vec_id, embedding, …) to
    * the broadcast centroids (cell, c_emb) as a map-side-combinable
    * aggregate: the shuffle carries ONE narrow row per vector instead
    * of the full |vectors|×|cells| scored frame (embeddings included)
    * through a window exchange — the difference between an O(n·cells)
    * and an O(n) exchange, which is what the fit's corpus-wide
    * assignment passes are made of. Tiebreak matches the oracles'
    * ranking exactly: max 4dp sim, then lowest cell. `carry` are
    * extra per-vector aggregates over the scored (src…, cell, c_emb,
    * sim) rows. Returns (vec_id, embedding, carry…, cell). */
  private def ivfAssign(src: DataFrame, cents: DataFrame,
                        carry: Column*): DataFrame =
    src.crossJoin(broadcast(cents))
      .withColumn("sim", round(cosine(col("embedding"), col("c_emb")), 4))
      .groupBy(col("vec_id"))
      .agg(first(col("embedding")).as("embedding"),
        carry :+
          max_by(col("cell"), struct(col("sim"), -col("cell"))).as("cell"): _*)

  /** Element-wise means of the `vec` arrays per `keys` group, cast to
    * FLOAT so last-ulp summation-order noise cannot survive into the
    * result: posexplode + per-(keys, pos) avg instead of one
    * avg(element_at) aggregate per dimension — this shape compiles
    * small (the wide-agg codegen class was measured at over a second
    * of Janino per run) and shuffles narrow (keys, pos, partial-avg)
    * rows with map-side combine. Returns (keys…, out). */
  private def meanArrays(df: DataFrame, keys: Seq[String], vec: String,
                         out: String): DataFrame = {
    val ks = keys.map(col)
    df.select(ks :+ posexplode(col(vec)).as(Seq("pos", "v")): _*)
      .groupBy(ks :+ col("pos"): _*).agg(avg(col("v")).as("m"))
      .groupBy(ks: _*)
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(ks :+ transform(col("pm"), x => x.getField("m"))
        .cast("array<float>").as(out): _*)
  }

  /** The IVF coarse fit every IVF face shares: `fitOn` assigned to
    * the `seeds` rows (vec_id, embedding — how seeds are chosen is the
    * caller's), then one refinement to the member means. Returns the
    * centroids (cell, c_emb), cells labeled by their seed's vec_id. */
  private def ivfCentroids(fitOn: DataFrame, seeds: DataFrame): DataFrame =
    meanArrays(ivfAssign(fitOn, seeds.select(col("vec_id").as("cell"),
      col("embedding").as("c_emb"))), Seq("cell"), "embedding", "c_emb")

  /** Each query's `nProbe` nearest cells by (4dp sim desc, cell):
    * `qs` (vec_id, embedding, …) becomes (q_id, q_emb, cell, carry…),
    * nProbe rows per query. */
  private def probeCells(qs: DataFrame, centroids: DataFrame, nProbe: Int,
                         carry: Column*): DataFrame = {
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("sim").desc, col("cell"))
    qs.crossJoin(broadcast(centroids))
      .withColumn("sim", round(cosine(col("embedding"), col("c_emb")), 4))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= nProbe)
      .select(Seq(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("cell")) ++ carry: _*)
  }

  /** The IVF index over `emb`: centroids fit on `fitOn` from `seeds`,
    * then (cells, qCells) — every vector's cell (one assignment pass
    * with the final centroids) and the probe cells of the
    * `vec_id < nQueries` queries. */
  private def ivfIndex(emb: DataFrame, fitOn: DataFrame, seeds: DataFrame,
                       nQueries: Int, nProbe: Int): (DataFrame, DataFrame) = {
    val centroids = ivfCentroids(fitOn, seeds)
    (ivfAssign(emb, centroids),
      probeCells(emb.filter(col("vec_id") < nQueries), centroids, nProbe))
  }

  /** IVF serving: every member of a query's probe cells is scored by
    * exact 4dp cosine and ranked (cosine desc, vec_id). */
  private def ivfSearch(emb: DataFrame, fitOn: DataFrame, seeds: DataFrame,
                        k: Int, nQueries: Int, nProbe: Int): DataFrame = {
    val (cells, qCells) = ivfIndex(emb, fitOn, seeds, nQueries, nProbe)
    rankTopK(cells.join(broadcast(qCells), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id")), k)
  }

  /** [[ivfTopK]] with a BOUNDED build — the linear-build face of the
    * IVF tier (VERDICT r15's one measured superlinear term: the
    * exact-assignment fit at nCells = √n is O(n^1.5·d), 9.9×/decade
    * at sf10). The FAISS train-on-sample posture applied with this
    * repo's determinism coins:
    *
    *  - the fit sees only a CAPPED md5-bucket sample: keep the
    *    `bk = min(256, ceil(256·buildMaxVectors / n))` lowest hex
    *    buckets of md5(vec_id) — the SampleOps predicate, row-local,
    *    engine-portable, the same keys at every cluster size;
    *  - nCells = max(8, ⌊√min(n, buildMaxVectors)⌋) — PINNED once
    *    the corpus outgrows the cap, so the single full-corpus
    *    assignment pass is O(n·√buildMaxVectors·d): LINEAR in n;
    *  - seeds are the sample's lowest-id vectors (a TakeOrdered of
    *    ≤ 256 rows, bounded by construction) and the one mean-update
    *    refinement runs over the SAMPLE only (O(cap^1.5·d), a
    *    constant);
    *  - the serving path is [[ivfTopK]]'s: one assignment pass with
    *    the final centroids, nProbe query gating, exact 4dp-cosine
    *    rescoring and (cosine DESC, vec_id) ranking.
    *
    * The declared trade vs [[ivfTopK]]: per-query candidate work is
    * O(nProbe·n/nCells) — linear with a 1/√cap constant instead of
    * O(nProbe·√n) — which is the trade every pinned-nlist production
    * index (FAISS IVF) makes; the build stops being the scale
    * killer. Below the cap (n ≤ buildMaxVectors) the sample is the
    * whole corpus and, with dense vec_ids, the face is IDENTICAL to
    * [[ivfTopK]] (SimilaritySpec pins it). `ann_ivf_sampled_recall`
    * measures the retrieval quality against brute force the same way
    * the other four tiers are audited. */
  def ivfTopKSampled(s: SparkSession, d: String,
                     k: Int = annK, nQueries: Int = annQueries,
                     nProbe: Int = annProbe,
                     buildMaxVectors: Int = sampleMaxVectors): DataFrame = {
    require(buildMaxVectors >= 8, s"buildMaxVectors too small: $buildMaxVectors")
    val emb = Reuse.shared(Tables.embeddings(s, d))
    val n = emb.count()
    val bk = math.min(256L, math.max(1L,
      (256L * buildMaxVectors + n - 1) / n))
    val samp =
      if (bk >= 256L) emb
      else emb.filter(
        substring(md5(col("vec_id").cast("string")), 1, 2) < lit(f"$bk%02x"))
    val nCells = math.max(8L,
      math.sqrt(math.min(n, buildMaxVectors.toLong).toDouble).toLong).toInt
    // the refinement runs over the SAMPLE only — the bounded build;
    // the one linear pass is the serving assignment of the corpus
    ivfSearch(emb, samp, samp.orderBy(col("vec_id")).limit(nCells),
      k, nQueries, nProbe)
  }

  /** Recall@k of the bounded-build IVF face (see `recallVsExact`):
    * what the sampled fit costs in retrieval quality, as a checked
    * number — the fifth tier joins the audit family. */
  def ivfSampledRecall(s: SparkSession, d: String, k: Int = annK,
                       nQueries: Int = annQueries, nProbe: Int = annProbe,
                       buildMaxVectors: Int = sampleMaxVectors): DataFrame =
    recallVsExact(s, d,
      ivfTopKSampled(s, d, k, nQueries, nProbe, buildMaxVectors),
      k, nQueries)

  /** The exemplars per cell of [[diversitySample]] and its oracle. */
  private val perCell = 3

  /** Diversity sampling over embeddings — the curation question ANN
    * retrieval doesn't answer: not "what is similar to this query"
    * but "which subset COVERS the corpus" (the training-data
    * deduplication complement: near-dup removal prunes redundancy,
    * diversity sampling allocates a budget across semantic regions).
    * Reuses [[ivfTopK]]'s fit (seed → one-refine → assign, identical
    * rounding/tiebreaks) and takes, per cell, the `perCell` members
    * CLOSEST to the cell centroid (sim desc, vec_id tiebreak) —
    * per-region exemplars with cell sizes beside them, so downstream
    * curation can weight regions by mass. Cost = the IVF fit's two
    * corpus passes + one keyed window; output cells × perCell rows
    * at any corpus size, and the per-cell window partitions on the
    * cell key (never global). */
  def diversitySample(s: SparkSession, d: String): DataFrame = {
    val emb = Reuse.shared(Tables.embeddings(s, d))
    val centroids = ivfCentroids(emb,
      emb.filter(col("vec_id") < cellCount(emb)))
    // the winning cell's sim — the max, whatever the cell tiebreak —
    // rides beside it (the exemplar ranking needs it)
    val asg = ivfAssign(emb, centroids, max(col("sim")).as("sim"))
    val wCell = Window.partitionBy(col("cell"))
    val wRank = wCell.orderBy(col("sim").desc, col("vec_id"))
    asg
      .withColumn("rank", row_number().over(wRank))
      .withColumn("cell_size", count(lit(1)).over(wCell))
      .filter(col("rank") <= perCell)
      .select(col("cell"), col("cell_size"), col("rank"), col("vec_id"),
        col("sim"))
      .orderBy(col("cell"), col("rank"))
  }

  /** DuckDB replica of [[diversitySample]]: the ivfOracle fit CTEs
    * with the winning sim carried through, then the per-cell
    * exemplar window. */
  private[graft] def diversityOracleSql: String = {
    val avgs = (1 to dim).map(i => s"avg(emb[$i])").mkString(", ")
    s"""WITH nc AS (SELECT greatest(8, CAST(floor(sqrt(count(*))) AS BIGINT)) AS n
       |            FROM embeddings),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |seeds AS (SELECT e.vec_id AS cell, e.emb AS c_emb
       |          FROM e, nc WHERE e.vec_id < nc.n),
       |a1 AS (SELECT vec_id, emb, cell,
       |    round(${qcosSql("emb", "c_emb")}, 4) AS sim
       |  FROM e CROSS JOIN seeds),
       |a1r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
       |          ORDER BY sim DESC, cell) AS rnk FROM a1),
       |assigned AS (SELECT vec_id, emb, cell FROM a1r WHERE rnk = 1),
       |cents AS (SELECT cell,
       |    CAST(CAST([$avgs] AS FLOAT[]) AS DOUBLE[]) AS c_emb
       |  FROM assigned GROUP BY cell),
       |a2 AS (SELECT vec_id, emb, cell,
       |    round(${qcosSql("emb", "c_emb")}, 4) AS sim
       |  FROM e CROSS JOIN cents),
       |a2r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
       |          ORDER BY sim DESC, cell) AS rnk FROM a2),
       |cells AS (SELECT vec_id, cell, sim FROM a2r WHERE rnk = 1),
       |r AS (SELECT cell, vec_id, sim,
       |    row_number() OVER (PARTITION BY cell
       |      ORDER BY sim DESC, vec_id) AS rank,
       |    CAST(count(*) OVER (PARTITION BY cell) AS BIGINT) AS cell_size
       |  FROM cells)
       |SELECT cell, cell_size, rank, vec_id, sim FROM r
       |WHERE rank <= $perCell ORDER BY cell, rank""".stripMargin
  }

  /** Product quantization (PQ) — the memory-compression tier of ANN:
    * each vector is stored as `pqM` small codes (here 8 × one-of-16 =
    * 8 bytes) instead of `dim` floats (256 bytes), and queries rank
    * candidates from a per-query distance TABLE (ADC: the approx dot
    * product is the sum of pqM table lookups) before exactly rescoring
    * only the short list. At 100 TB this is the difference between an
    * index that fits in executor memory and one that doesn't — 32×
    * compression here, and the scan side never touches raw vectors
    * until the rescore join.
    *
    * Fit mirrors the IVF recipe one level down: per SUBSPACE, seed
    * codewords from the first `pqCodes` vectors' slices, one
    * refinement pass (assign by 4dp-rounded squared L2 with lowest-
    * code tiebreak → element-wise means cast to FLOAT), then encode.
    * The 4dp rounding + float cast make the fit bit-stable across
    * engines and summation orders — the same precision contract the
    * IVF oracle relies on — so the whole pipeline (fit, codes, ADC,
    * rescore) is exactly SQL-replicable. ADC partial scores are
    * 4dp-rounded then summed as DECIMAL: exact and associative, so
    * the candidate ranking cannot depend on partial-agg order. */
  def pqTopK(s: SparkSession, d: String, k: Int = annK,
             nQueries: Int = annQueries, rerank: Int = pqRerank): DataFrame = {
    val emb = Reuse.shared(Tables.embeddings(s, d))
    val (codes, dtable) = pqIndex(emb, nQueries)
    adcRescore(codes.join(broadcast(dtable), Seq("j", "code"))
      .filter(col("vec_id") =!= col("q_id")), emb, k, nQueries, rerank)
  }

  /** The PQ fit every PQ face shares: the global per-subspace
    * codebook over `emb` (seed codewords → one refinement → encode),
    * returned as (codes, dtable) — every vector's (vec_id, j, code)
    * and the ADC distance table (q_id, j, code, qdot) of the
    * `vec_id < nQueries` queries, pqM × pqCodes 4dp dot products each,
    * DECIMAL so a sum of lookups is exact under any aggregation
    * order. */
  private def pqIndex(emb: DataFrame, nQueries: Int): (DataFrame, DataFrame) = {
    val sub = dim / pqM
    // one row per (vector, subspace): the slice the codebook quantizes
    def subvecs(df: DataFrame, idOut: String): DataFrame =
      df.select(col("vec_id").as(idOut),
          explode(sequence(lit(0), lit(pqM - 1))).as("j"),
          col("embedding"))
        .withColumn("sv", expr(s"slice(embedding, j * $sub + 1, $sub)"))
        .drop("embedding")
    val corpusSub = Reuse.shared(subvecs(emb, "vec_id"))

    // 4dp-rounded squared L2 from the codegen'd dot kernel, written
    // (a·a + c·c) − 2(a·c) so the oracle can mirror the exact IEEE
    // evaluation order
    def d2(a: Column, c: Column): Column =
      round(graft.functions.VectorExprs.dotProduct(a, a) +
        graft.functions.VectorExprs.dotProduct(c, c) -
        lit(2) * graft.functions.VectorExprs.dotProduct(a, c), 4)

    // nearest codeword per (vector, subspace) — min_by keeps the
    // shuffle at one narrow row per subvector (the IVF argmax shape)
    def assign(codebook: DataFrame): DataFrame =
      corpusSub.join(broadcast(codebook), "j")
        .withColumn("__d2", d2(col("sv"), col("cw")))
        .groupBy(col("vec_id"), col("j"))
        .agg(first(col("sv")).as("sv"),
          min_by(col("code"), struct(col("__d2"), col("code"))).as("code"))

    val seeds = corpusSub.filter(col("vec_id") < pqCodes)
      .select(col("j"), col("vec_id").cast("int").as("code"), col("sv").as("cw"))
    val refined = meanArrays(assign(seeds), Seq("j", "code"), "sv", "cw")
    val codes = assign(refined).select(col("vec_id"), col("j"), col("code"))
    val dtable = subvecs(emb.filter(col("vec_id") < nQueries), "q_id")
      .join(broadcast(refined), "j")
      .select(col("q_id"), col("j"), col("code"),
        round(graft.functions.VectorExprs.dotProduct(col("sv"), col("cw")), 4)
          .cast("decimal(14,4)").as("qdot"))
    (codes, dtable)
  }

  /** The PQ serving tail: `lookups` holds one (q_id, vec_id, qdot) row
    * per (candidate, subspace); their sum is the ADC approx dot, the
    * top `rerank` by (adot desc, vec_id) form the short list, and
    * only those are exactly rescored — output scores are true
    * cosines, PQ decided only WHICH vectors got scored. */
  private def adcRescore(lookups: DataFrame, emb: DataFrame, k: Int,
                         nQueries: Int, rerank: Int): DataFrame = {
    val wA = Window.partitionBy(col("q_id"))
      .orderBy(col("adot").desc, col("vec_id"))
    val shortlist = lookups
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("qdot")).as("adot"))
      .withColumn("__r", row_number().over(wA))
      .filter(col("__r") <= rerank)
      .select(col("q_id"), col("vec_id"))
    rankTopK(shortlist
      .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
      .join(broadcast(queries(emb, nQueries)), "q_id"), k)
  }

  /** IVF·PQ — the two approximate tiers COMPOSED the way a production
    * vector index ships them (the FAISS IVFPQ shape): IVF decides
    * WHICH vectors are candidates (the query's nProbe nearest cells —
    * per-query work O(nProbe·n/cells), never a corpus scan), PQ
    * decides HOW candidates are scored without touching raw floats
    * (ADC: m table lookups per candidate against the 8-byte code,
    * 32× less memory traffic than raw vectors), and the exact cosine
    * rescore of the top-`rerank` shortlist makes the output scores
    * true cosines — the approximations only chose who got scored.
    * At 100 TB this is the tier where BOTH memory (PQ codes instead
    * of float arrays) and compute (cell-gated candidates instead of
    * corpus) are sublinear in what brute force pays.
    *
    * The fits are [[ivfTopK]]'s ([[ivfIndex]]: seed cells → one
    * FLOAT-cast mean refinement → 4dp assignment, lowest-cell
    * tiebreak) and [[pqTopK]]'s ([[pqIndex]]: per-subspace seed
    * codewords → one refinement → encode; global codebook on raw
    * vectors — the residual-encoding variant is a documented
    * non-goal, the oracle replays THIS recipe). Candidate gating is
    * one equi-join of the cell assignment against the broadcast probe
    * table; ADC rides the SAME DECIMAL-sum contract as pqTopK so
    * candidate ranking is aggregation-order free, and the whole
    * pipeline — both fits included — replays in the DuckDB oracle. */
  def ivfPqTopK(s: SparkSession, d: String, k: Int = annK,
                nQueries: Int = annQueries): DataFrame = {
    val emb = Reuse.shared(Tables.embeddings(s, d))
    val (cells, qCells) = ivfIndex(emb, emb,
      emb.filter(col("vec_id") < cellCount(emb)), nQueries, annProbe)
    val (codes, dtable) = pqIndex(emb, nQueries)
    // cell-gated candidates → ADC → exact rescore
    val cand = cells.select(col("vec_id"), col("cell"))
      .join(broadcast(qCells.select(col("q_id"), col("cell"))), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"))
    adcRescore(cand.join(codes, "vec_id")
      .join(broadcast(dtable), Seq("q_id", "j", "code")),
      emb, k, nQueries, pqRerank)
  }

  // ---- SQL oracle generators ------------------------------------------
  //
  // The LSH/IVF paths are deterministic (fixed-seed planes, seed-vector
  // centroids), so an independent SQL engine can replicate them exactly.
  // Precision contract: Spark's kernels read float elements and
  // accumulate in double, so the oracles CAST FLOAT[] → DOUBLE[] —
  // float→double is exact per element and both engines then sum the
  // same doubles left-to-right, giving bit-identical dot products
  // (sign-stable bucket bits). Plane literals are emitted as the exact
  // double value of each float.

  private def sqlVec(p: Seq[Float]): String =
    p.map(_.toDouble.toString).mkString("CAST([", ", ", "] AS DOUBLE[])")

  /** Bucket-id SQL for `vecExpr` under the same planes as lshBucket. */
  private def bucketSql(vecExpr: String, nBits: Int, seed: Long): String =
    lshPlanes(nBits, seed).zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_dot_product(CAST($vecExpr AS DOUBLE[]), ${sqlVec(p)}) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")

  /** DuckDB replica of lshTopK. */
  private[graft] def lshOracleSql: String =
    s"""WITH b AS (
       |  SELECT vec_id, embedding,
       |    ${bucketSql("embedding", lshBits, 42L)} AS bucket
       |  FROM embeddings),
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb, bucket
       |      FROM b WHERE vec_id < $annQueries),
       |scored AS (
       |  SELECT q_id, c.vec_id AS vec_id,
       |    round(${qcosSql("CAST(q_emb AS DOUBLE[])", "CAST(c.embedding AS DOUBLE[])")}, 4) AS cosine
       |  FROM b c JOIN q USING (bucket) WHERE c.vec_id <> q.q_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |        ORDER BY cosine DESC, vec_id) AS rank FROM scored)
       |SELECT q_id, vec_id, cosine, rank FROM r
       |WHERE rank <= $annK ORDER BY q_id, rank""".stripMargin

  /** DuckDB replica of DedupOps.embeddingPairsLsh: the same fixed-seed
    * hyperplanes per table (seed 42+t), OR-construction across tables,
    * distinct candidate pairs, exact cosine ≥ threshold. Valid while
    * no bucket exceeds the Spark side's maxBucket cap (true at the
    * test SFs by a wide margin), since the cap is a no-op then. */
  private[graft] def embeddingLshOracleSql: String = {
    val threshold = 0.45
    val nTables = 4
    // bit width derives from count(*) IN SQL (mirroring adaptiveBits
    // exactly), and the prefix-stable planes let the statement embed
    // maxBits plane literals per table and mask the unused high bits
    def dynBucket(seed: Long): String =
      lshPlanes(maxBits, seed).zipWithIndex.map { case (p, i) =>
        s"(CASE WHEN $i < nb.bits AND list_dot_product(CAST(embedding AS DOUBLE[]), ${sqlVec(p)}) >= 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
    val tables = (0 until nTables).map(t =>
      s"SELECT vec_id, $t AS tbl, ${dynBucket(42L + t)} AS bucket FROM embeddings, nb")
      .mkString("\n  UNION ALL ")
    s"""WITH nb AS (SELECT CAST(greatest($minBits, least($maxBits,
       |    ceil(log2(greatest(count(*) // $targetOccupancy, 2))))) AS INT)
       |    AS bits FROM embeddings),
       |b AS (
       |  $tables),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id1, c.vec_id AS id2
       |  FROM b a JOIN b c ON a.tbl = c.tbl AND a.bucket = c.bucket
       |   AND a.vec_id < c.vec_id)
       |SELECT id1, id2,
       |  round(${qcosSql("CAST(x.embedding AS DOUBLE[])", "CAST(y.embedding AS DOUBLE[])")}, 4) AS cosine
       |FROM cand
       |JOIN embeddings x ON x.vec_id = id1
       |JOIN embeddings y ON y.vec_id = id2
       |WHERE round(${qcosSql("CAST(x.embedding AS DOUBLE[])", "CAST(y.embedding AS DOUBLE[])")}, 4) >= $threshold
       |ORDER BY id1, id2""".stripMargin
  }

  /** DuckDB replica of pqTopK — the whole pipeline (seed codebooks,
    * refinement with FLOAT-cast means, encoding, DECIMAL ADC, exact
    * rescore) step for step, same 4dp rounding and tiebreaks. */
  private[graft] def pqOracleSql: String = {
    val sub = dim / pqM
    val avgs = (1 to sub).map(i => s"avg(sv[$i])").mkString(", ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |sv AS (SELECT vec_id, j, emb[j*$sub+1 : j*$sub+$sub] AS sv
       |       FROM e, LATERAL (SELECT unnest(range(0, $pqM)) AS j)),
       |seeds AS (SELECT j, CAST(vec_id AS INT) AS code, sv AS cw
       |          FROM sv WHERE vec_id < $pqCodes),
       |a1 AS (SELECT s.vec_id, s.j, s.sv, c.code,
       |    round(list_dot_product(s.sv, s.sv) + list_dot_product(c.cw, c.cw)
       |          - 2 * list_dot_product(s.sv, c.cw), 4) AS d2
       |  FROM sv s JOIN seeds c ON s.j = c.j),
       |a1r AS (SELECT *, row_number() OVER (PARTITION BY vec_id, j
       |          ORDER BY d2, code) AS rnk FROM a1),
       |m1 AS (SELECT vec_id, j, sv, code FROM a1r WHERE rnk = 1),
       |cw AS (SELECT j, code,
       |    CAST(CAST([$avgs] AS FLOAT[]) AS DOUBLE[]) AS cw
       |  FROM m1 GROUP BY j, code),
       |a2 AS (SELECT s.vec_id, s.j, c.code,
       |    round(list_dot_product(s.sv, s.sv) + list_dot_product(c.cw, c.cw)
       |          - 2 * list_dot_product(s.sv, c.cw), 4) AS d2
       |  FROM sv s JOIN cw c ON s.j = c.j),
       |a2r AS (SELECT *, row_number() OVER (PARTITION BY vec_id, j
       |          ORDER BY d2, code) AS rnk FROM a2),
       |codes AS (SELECT vec_id, j, code FROM a2r WHERE rnk = 1),
       |dt AS (SELECT q.vec_id AS q_id, q.j, c.code,
       |    CAST(round(list_dot_product(q.sv, c.cw), 4) AS DECIMAL(14,4)) AS qdot
       |  FROM sv q JOIN cw c ON q.j = c.j WHERE q.vec_id < $annQueries),
       |ap AS (SELECT q_id, vec_id, sum(qdot) AS adot
       |  FROM codes JOIN dt USING (j, code) WHERE vec_id <> q_id
       |  GROUP BY 1, 2),
       |apr AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |          ORDER BY adot DESC, vec_id) AS r FROM ap),
       |cand AS (SELECT q_id, vec_id FROM apr WHERE r <= $pqRerank),
       |resc AS (SELECT s.q_id, s.vec_id,
       |    round(${qcosSql("qe.emb", "ce.emb")}, 4) AS cosine
       |  FROM cand s JOIN e ce ON ce.vec_id = s.vec_id
       |              JOIN e qe ON qe.vec_id = s.q_id),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |        ORDER BY cosine DESC, vec_id) AS rank FROM resc)
       |SELECT q_id, vec_id, cosine, rank FROM rk
       |WHERE rank <= $annK ORDER BY q_id, rank""".stripMargin
  }

  /** The shared IVF assignment+probe+rank CTE chain (nc → … → r),
    * consumed by [[ivfOracleSql]], [[mmrIvfOracleSql]], and
    * [[ivfRecallOracleSql]] — one builder so the fit/probe replay
    * cannot drift between the three faces (the forecast
    * compare/ensemble oracle discipline). */
  private def ivfChainCtes: String = {
    val avgs = (1 to dim).map(i => s"avg(emb[$i])").mkString(", ")
    s"""nc AS (SELECT greatest(8, CAST(floor(sqrt(count(*))) AS BIGINT)) AS n
       |            FROM embeddings),
       |e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
       |     FROM embeddings),
       |seeds AS (SELECT e.vec_id AS cell, e.emb AS c_emb
       |          FROM e, nc WHERE e.vec_id < nc.n),
       |a1 AS (SELECT vec_id, emb, cell,
       |    round(${qcosSql("emb", "c_emb")}, 4) AS sim
       |  FROM e CROSS JOIN seeds),
       |a1r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
       |          ORDER BY sim DESC, cell) AS rnk FROM a1),
       |assigned AS (SELECT vec_id, emb, cell FROM a1r WHERE rnk = 1),
       |cents AS (SELECT cell,
       |    CAST(CAST([$avgs] AS FLOAT[]) AS DOUBLE[]) AS c_emb
       |  FROM assigned GROUP BY cell),
       |a2 AS (SELECT vec_id, emb, cell,
       |    round(${qcosSql("emb", "c_emb")}, 4) AS sim
       |  FROM e CROSS JOIN cents),
       |a2r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
       |          ORDER BY sim DESC, cell) AS rnk FROM a2),
       |cells AS (SELECT vec_id, emb, cell FROM a2r WHERE rnk = 1),
       |qc AS (SELECT vec_id AS q_id, emb AS q_emb, cell
       |       FROM a2r WHERE rnk <= $annProbe AND vec_id < $annQueries),
       |scored AS (
       |  SELECT q_id, c.vec_id AS vec_id,
       |    round(${qcosSql("q_emb", "c.emb")}, 4) AS cosine
       |  FROM cells c JOIN qc USING (cell) WHERE c.vec_id <> qc.q_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |        ORDER BY cosine DESC, vec_id) AS rank FROM scored)""".stripMargin
  }

  /** DuckDB replica of ivfTopK: same seed cells, one rounded-similarity
    * assignment pass, float-cast centroid means, multi-probe search. */
  private[graft] def ivfOracleSql: String =
    s"""WITH $ivfChainCtes
       |SELECT q_id, vec_id, cosine, rank FROM r
       |WHERE rank <= $annK ORDER BY q_id, rank""".stripMargin

  /** The bounded-build chain ([[ivfTopKSampled]]) as CTEs: the md5
    * bucket cut, pinned cell count, sample-only refinement, then the
    * ONE full-corpus assignment and [[ivfChainCtes]]'s verbatim
    * serving tail. Sizing arithmetic is all BIGINT (ceil-div via
    * (a+n−1)//n) and the bucket cut compares lowercase hex — the
    * SampleOps portability posture. */
  private def ivfSampledChainCtes: String = {
    val avgs = (1 to dim).map(i => s"avg(emb[$i])").mkString(", ")
    s"""p AS (SELECT count(*) AS n FROM embeddings),
       |b AS (SELECT CAST(least(256, greatest(1,
       |        (256 * $sampleMaxVectors + n - 1) // n)) AS BIGINT) AS bk,
       |      greatest(8, CAST(floor(sqrt(least(n, $sampleMaxVectors)))
       |        AS BIGINT)) AS nn
       |      FROM p),
       |e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
       |     FROM embeddings),
       |samp AS MATERIALIZED (SELECT e.vec_id, e.emb FROM e, b
       |  WHERE bk >= 256
       |     OR substr(md5(CAST(vec_id AS VARCHAR)), 1, 2)
       |        < printf('%02x', bk)),
       |sr AS (SELECT vec_id, emb,
       |         row_number() OVER (ORDER BY vec_id) AS r FROM samp),
       |seeds AS (SELECT vec_id AS cell, emb AS c_emb
       |          FROM sr, b WHERE r <= nn),
       |a1 AS (SELECT s.vec_id, s.emb, cell,
       |    round(${qcosSql("s.emb", "c_emb")}, 4) AS sim
       |  FROM samp s CROSS JOIN seeds),
       |a1r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
       |          ORDER BY sim DESC, cell) AS rnk FROM a1),
       |assigned AS (SELECT vec_id, emb, cell FROM a1r WHERE rnk = 1),
       |cents AS (SELECT cell,
       |    CAST(CAST([$avgs] AS FLOAT[]) AS DOUBLE[]) AS c_emb
       |  FROM assigned GROUP BY cell),
       |a2 AS (SELECT vec_id, emb, cell,
       |    round(${qcosSql("emb", "c_emb")}, 4) AS sim
       |  FROM e CROSS JOIN cents),
       |a2r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
       |          ORDER BY sim DESC, cell) AS rnk FROM a2),
       |cells AS (SELECT vec_id, emb, cell FROM a2r WHERE rnk = 1),
       |qc AS (SELECT vec_id AS q_id, emb AS q_emb, cell
       |       FROM a2r WHERE rnk <= $annProbe AND vec_id < $annQueries),
       |scored AS (
       |  SELECT q_id, c.vec_id AS vec_id,
       |    round(${qcosSql("q_emb", "c.emb")}, 4) AS cosine
       |  FROM cells c JOIN qc USING (cell) WHERE c.vec_id <> qc.q_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |        ORDER BY cosine DESC, vec_id) AS rank FROM scored)""".stripMargin
  }

  private[graft] def ivfSampledOracleSql: String =
    s"""WITH $ivfSampledChainCtes
       |SELECT q_id, vec_id, cosine, rank FROM r
       |WHERE rank <= $annK ORDER BY q_id, rank""".stripMargin

  private[graft] def ivfSampledRecallOracleSql: String =
    annRecallOracleSql(ivfSampledOracleSql)

  /** Measured recall@k of an ANN tier against the exact brute-force
    * face — the routed tiers' retrieval quality as CHECKED numbers
    * instead of asserted ones (every other property of the tier pairs
    * is oracled; these close the recall gap for the ANN tiers).
    * One row per query: how many of the exact top-k the approximate
    * retrieval found, and the half-up 4dp recall. Both retrievals
    * share the quantized cosine grid and the (cosine DESC, vec_id)
    * tiebreak, so the comparison is deterministic — a recall of 1.0
    * means identical sets, not tie-luck. Cost: the tier's own run +
    * one queries×corpus broadcast scoring pass (the exact face is
    * the evaluation's ground truth by definition — audit operators,
    * not serving paths). */
  private def recallVsExact(s: SparkSession, d: String,
                            approx: DataFrame, k: Int,
                            nQueries: Int): DataFrame = {
    val exact = bruteForceTopK(s, d, k, nQueries)
      .select(col("q_id"), col("vec_id"))
    val hits = exact.join(approx.select(col("q_id"), col("vec_id")),
        Seq("q_id", "vec_id"), "left_semi")
      .groupBy(col("q_id")).agg(count(lit(1)).as("hits"))
    Tables.embeddings(s, d).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"))
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        ExactRatio.r4(coalesce(col("hits"), lit(0L)), lit(k)).as("recall"))
      .orderBy(col("q_id"))
  }

  /** Recall@k of the probe-limited IVF tier (see [[recallVsExact]]). */
  def ivfRecall(s: SparkSession, d: String, k: Int = annK,
                nQueries: Int = annQueries, nProbe: Int = annProbe): DataFrame =
    recallVsExact(s, d, ivfTopK(s, d, k, nQueries, nProbe = nProbe),
      k, nQueries)

  /** Recall@k of the bucket-gated LSH tier (see [[recallVsExact]]). */
  def lshRecall(s: SparkSession, d: String, k: Int = annK,
                nQueries: Int = annQueries, nBits: Int = lshBits): DataFrame =
    recallVsExact(s, d, lshTopK(s, d, k, nQueries, nBits), k, nQueries)

  /** Recall@k of the PQ/ADC tier (see [[recallVsExact]]). */
  def pqRecall(s: SparkSession, d: String, k: Int = annK,
               nQueries: Int = annQueries, rerank: Int = pqRerank): DataFrame =
    recallVsExact(s, d, pqTopK(s, d, k, nQueries, rerank),
      k, nQueries)

  /** Recall@k of the composed IVF·PQ tier (see [[recallVsExact]]) —
    * the audit now covers all four approximate tiers, so the two
    * recall losses (probe gating and ADC quantization) are measured
    * composed as well as separately. */
  def ivfPqRecall(s: SparkSession, d: String, k: Int = annK,
                  nQueries: Int = annQueries): DataFrame =
    recallVsExact(s, d, ivfPqTopK(s, d, k, nQueries), k, nQueries)

  /** DuckDB replay of the ANN recall audits: the tier's OWN
    * registered oracle text embedded verbatim as the `apx` subquery
    * (the strongest no-drift property — the audited retrieval IS the
    * registered entry's SQL), beside the exact brute-force replay on
    * the same quantized cosine grid; hits counted per query, recall
    * published on the half-up 4dp integer grid. */
  private def annRecallOracleSql(apxSql: String): String =
    s"""WITH apx AS MATERIALIZED (
       |  SELECT q_id, vec_id FROM ($apxSql) __apx),
       |bq AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_emb
       |       FROM embeddings WHERE vec_id < $annQueries),
       |be AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
       |       FROM embeddings),
       |bscored AS (SELECT q_id, be.vec_id AS vec_id,
       |    round(${qcosSql("q_emb", "be.emb")}, 4) AS cosine
       |  FROM be CROSS JOIN bq WHERE be.vec_id <> bq.q_id),
       |br AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |        ORDER BY cosine DESC, vec_id) AS rank FROM bscored),
       |bfk AS (SELECT q_id, vec_id FROM br WHERE rank <= $annK),
       |hits AS (SELECT q_id, count(*) AS hits
       |         FROM bfk SEMI JOIN apx USING (q_id, vec_id)
       |         GROUP BY q_id)
       |SELECT bq.q_id AS q_id,
       |  CAST(coalesce(hits, 0) AS BIGINT) AS hits,
       |  CAST((CAST(coalesce(hits, 0) AS HUGEINT) * 20000 + $annK)
       |    // (2 * $annK) AS BIGINT) / 10000.0 AS recall
       |FROM bq LEFT JOIN hits USING (q_id)
       |ORDER BY q_id""".stripMargin

  private[graft] def ivfRecallOracleSql: String =
    annRecallOracleSql(ivfOracleSql)

  private[graft] def lshRecallOracleSql: String =
    annRecallOracleSql(lshOracleSql)

  private[graft] def pqRecallOracleSql: String =
    annRecallOracleSql(pqOracleSql)

  private[graft] def ivfPqRecallOracleSql: String =
    annRecallOracleSql(ivfPqOracleSql)

  /** DuckDB replica of [[ivfPqTopK]]: the ivfOracle cell CTEs and the
    * pqOracle codebook CTEs (names prefixed i/p to compose under one
    * WITH), then the cell-gated candidate join, the DECIMAL ADC sum,
    * and the exact rescore — every stage of both fits replayed. */
  private[graft] def ivfPqOracleSql: String = {
    val sub = dim / pqM
    val cavgs = (1 to dim).map(i => s"avg(emb[$i])").mkString(", ")
    val pavgs = (1 to sub).map(i => s"avg(sv[$i])").mkString(", ")
    s"""WITH nc AS (SELECT greatest(8, CAST(floor(sqrt(count(*))) AS BIGINT)) AS n
       |            FROM embeddings),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |iseeds AS (SELECT e.vec_id AS cell, e.emb AS c_emb
       |           FROM e, nc WHERE e.vec_id < nc.n),
       |ia1 AS (SELECT vec_id, emb, cell,
       |    round(${qcosSql("emb", "c_emb")}, 4) AS sim
       |  FROM e CROSS JOIN iseeds),
       |ia1r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
       |          ORDER BY sim DESC, cell) AS rnk FROM ia1),
       |iasg AS (SELECT vec_id, emb, cell FROM ia1r WHERE rnk = 1),
       |icents AS (SELECT cell,
       |    CAST(CAST([$cavgs] AS FLOAT[]) AS DOUBLE[]) AS c_emb
       |  FROM iasg GROUP BY cell),
       |ia2 AS (SELECT vec_id, emb, cell,
       |    round(${qcosSql("emb", "c_emb")}, 4) AS sim
       |  FROM e CROSS JOIN icents),
       |ia2r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
       |          ORDER BY sim DESC, cell) AS rnk FROM ia2),
       |cells AS (SELECT vec_id, cell FROM ia2r WHERE rnk = 1),
       |qc AS (SELECT vec_id AS q_id, cell
       |       FROM ia2r WHERE rnk <= $annProbe AND vec_id < $annQueries),
       |sv AS (SELECT vec_id, j, emb[j*$sub+1 : j*$sub+$sub] AS sv
       |       FROM e, LATERAL (SELECT unnest(range(0, $pqM)) AS j)),
       |pseeds AS (SELECT j, CAST(vec_id AS INT) AS code, sv AS cw
       |           FROM sv WHERE vec_id < $pqCodes),
       |pa1 AS (SELECT s.vec_id, s.j, s.sv, c.code,
       |    round(list_dot_product(s.sv, s.sv) + list_dot_product(c.cw, c.cw)
       |          - 2 * list_dot_product(s.sv, c.cw), 4) AS d2
       |  FROM sv s JOIN pseeds c ON s.j = c.j),
       |pa1r AS (SELECT *, row_number() OVER (PARTITION BY vec_id, j
       |          ORDER BY d2, code) AS rnk FROM pa1),
       |pm1 AS (SELECT vec_id, j, sv, code FROM pa1r WHERE rnk = 1),
       |pcw AS (SELECT j, code,
       |    CAST(CAST([$pavgs] AS FLOAT[]) AS DOUBLE[]) AS cw
       |  FROM pm1 GROUP BY j, code),
       |pa2 AS (SELECT s.vec_id, s.j, c.code,
       |    round(list_dot_product(s.sv, s.sv) + list_dot_product(c.cw, c.cw)
       |          - 2 * list_dot_product(s.sv, c.cw), 4) AS d2
       |  FROM sv s JOIN pcw c ON s.j = c.j),
       |pa2r AS (SELECT *, row_number() OVER (PARTITION BY vec_id, j
       |          ORDER BY d2, code) AS rnk FROM pa2),
       |codes AS (SELECT vec_id, j, code FROM pa2r WHERE rnk = 1),
       |dt AS (SELECT q.vec_id AS q_id, q.j, c.code,
       |    CAST(round(list_dot_product(q.sv, c.cw), 4) AS DECIMAL(14,4)) AS qdot
       |  FROM sv q JOIN pcw c ON q.j = c.j WHERE q.vec_id < $annQueries),
       |cand AS (SELECT qc.q_id, c.vec_id FROM cells c JOIN qc USING (cell)
       |         WHERE c.vec_id <> qc.q_id),
       |ap AS (SELECT cand.q_id, cand.vec_id, sum(dt.qdot) AS adot
       |  FROM cand JOIN codes ON codes.vec_id = cand.vec_id
       |  JOIN dt ON dt.q_id = cand.q_id AND dt.j = codes.j
       |         AND dt.code = codes.code
       |  GROUP BY 1, 2),
       |apr AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |          ORDER BY adot DESC, vec_id) AS r FROM ap),
       |sl AS (SELECT q_id, vec_id FROM apr WHERE r <= $pqRerank),
       |resc AS (SELECT s.q_id, s.vec_id,
       |    round(${qcosSql("qe.emb", "ce.emb")}, 4) AS cosine
       |  FROM sl s JOIN e ce ON ce.vec_id = s.vec_id
       |            JOIN e qe ON qe.vec_id = s.q_id),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |        ORDER BY cosine DESC, vec_id) AS rank FROM resc)
       |SELECT q_id, vec_id, cosine, rank FROM rk
       |WHERE rank <= $annK ORDER BY q_id, rank""".stripMargin
  }

  /** DuckDB replica of [[knnClassifyIvf]]: the ivfOracle recipe (seed
    * cells from the lowest corpus ids, one FLOAT-cast mean refinement,
    * 4dp assignment with lowest-cell tiebreak) restricted to the
    * corpus split, multi-probe shortlist for the holdout, then the
    * ml_knn_classify vote replayed over the shortlist. */
  private[graft] def knnIvfOracleSql: String = {
    val avgs = (1 to dim).map(i => s"avg(emb[$i])").mkString(", ")
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
       |           FROM embeddings),
       |c AS (SELECT * FROM e WHERE vec_id % 10 <> 0),
       |q AS (SELECT vec_id AS q_id, label AS true_label, emb AS q_emb
       |      FROM e WHERE vec_id % 10 = 0),
       |nc AS (SELECT greatest(8, CAST(floor(sqrt(count(*))) AS BIGINT)) AS n
       |       FROM c),
       |cr AS (SELECT *, row_number() OVER (ORDER BY vec_id) AS rn FROM c),
       |seeds AS (SELECT vec_id AS cell, emb AS c_emb FROM cr, nc WHERE rn <= n),
       |a1 AS (SELECT c.vec_id, c.label, c.emb, s.cell,
       |    round(${qcosSql("c.emb", "s.c_emb")}, 4) AS sim
       |  FROM c CROSS JOIN seeds s),
       |a1r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
       |          ORDER BY sim DESC, cell) AS rnk FROM a1),
       |asg AS (SELECT vec_id, label, emb, cell FROM a1r WHERE rnk = 1),
       |cents AS (SELECT cell,
       |    CAST(CAST([$avgs] AS FLOAT[]) AS DOUBLE[]) AS c_emb
       |  FROM asg GROUP BY cell),
       |a2 AS (SELECT c.vec_id, c.label, c.emb, ct.cell,
       |    round(${qcosSql("c.emb", "ct.c_emb")}, 4) AS sim
       |  FROM c CROSS JOIN cents ct),
       |a2r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
       |          ORDER BY sim DESC, cell) AS rnk FROM a2),
       |cells AS (SELECT vec_id, label, emb, cell FROM a2r WHERE rnk = 1),
       |qa AS (SELECT q.q_id, q.true_label, q.q_emb, ct.cell,
       |    round(${qcosSql("q.q_emb", "ct.c_emb")}, 4) AS sim
       |  FROM q CROSS JOIN cents ct),
       |qar AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |          ORDER BY sim DESC, cell) AS rnk FROM qa),
       |qc AS (SELECT q_id, true_label, q_emb, cell FROM qar WHERE rnk <= $annProbe),
       |scored AS (SELECT qc.q_id, qc.true_label, cl.vec_id, cl.label,
       |    round(${qcosSql("qc.q_emb", "cl.emb")}, 4) AS cosine
       |  FROM cells cl JOIN qc USING (cell)),
       |top AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |          ORDER BY cosine DESC, vec_id) AS r FROM scored),
       |votes AS (SELECT q_id, true_label, label, count(*) AS votes
       |          FROM top WHERE r <= $annK GROUP BY 1, 2, 3),
       |best AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |           ORDER BY votes DESC, label) AS vr FROM votes)
       |SELECT q_id, true_label, label AS pred_label, votes
       |FROM best WHERE vr = 1 ORDER BY q_id""".stripMargin
  }

  /** The power-iteration rounds of every PCA face and oracle. */
  private val pcaIters = 6

  /** Top principal component of the embedding space by power
    * iteration over an IN-PLAN covariance grid — the variance-
    * structure probe an embedding pipeline runs before deciding the
    * compression ladder ([[randomProject]] / [[quantizeInt8]] /
    * PQ): the dominant direction, its eigenvalue, and the explained-
    * variance share tell you whether the space is isotropic (JL-safe,
    * MRL-hostile) or has a fat axis worth aligning to. Third member
    * of the fixed-point-iteration family (q_pagerank, ml_kmeans_plan).
    *
    * Plan shape: vectors quantize ONCE to shifted 1e-6-unit longs
    * (the kmeans contract — the +1e6 shift keeps the per-dim mean
    * division positive); centering subtracts a broadcast 64-long mean
    * array; the covariance grid explodes each centered array twice
    * ROW-LOCALLY — O(n·d²) compute but the exchange is d² rows after
    * map-side partial aggregation, whatever the corpus size. Products
    * ride DECIMAL(38,0) sums (exact, associative — aggregation order
    * irrelevant at 1000 executors), then scale to 1e-8-unit BIGINT
    * covariance codes. Each power round is a join against the d²-row
    * grid (`Reuse.shared` once — the pageRank 104-scan lesson) +
    * a max-|component| renormalization in pure integer division,
    * which both engines truncate toward zero identically (verified,
    * not assumed). The eigenvalue derives from the integer Rayleigh
    * quotient; loadings normalize to max-component = ±1e6.
    * Deterministic to the bit on both engines; doubles appear only in
    * the final unit conversions. */
  def pcaPower(s: SparkSession, d: String): DataFrame =
    pcaPowerOn(Tables.embeddings(s, d), pcaIters)

  /** The shared fit: returns (cx, cov, vf) — the centered exploded
    * frame, the checkpointed covariance grid, and the converged
    * component state. [[pcaPowerOn]] reports the component;
    * [[pcaProjectOn]] applies it. */
  private def pcaFit(emb: DataFrame, iters: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val cx = centered(emb)
    val cov = cx
      .select(col("dx"), posexplode(col("dx")).as(Seq("i", "dxi")))
      .select(col("i"), col("dxi"), posexplode(col("dx")).as(Seq("j", "dxj")))
      .groupBy(col("i"), col("j"))
      .agg(sum((col("dxi") * col("dxj")).cast("decimal(38,0)")).as("ss"),
        count(lit(1)).as("n"))
      .select(col("i"), col("j"), expr("ss div (n * 10000)").as("c8"))
      .transform(Reuse.shared)

    def renorm(w: DataFrame): DataFrame =
      w.crossJoin(w.agg(max(abs(col("w"))).as("m")))
        .select(col("i").as("dim"), expr("(w * 1000000) div m").as("v6"))

    val v0 = cov.select(col("i").as("dim")).distinct()
      .select(col("dim"), lit(1000000L).as("v6"))
    // each round's 64-row state is cut: without it the fold is a
    // recomputation TREE — round r re-derives rounds 1..r−1 and
    // renorm's scalar crossJoin doubles each level (measured: 17.6s at
    // sf0.1 for what is 4096-row arithmetic; cut: sub-second rounds;
    // emb_pca_power at sf0.001: 32 jobs to build, 14 with AQE off)
    val vf = (1 to iters).foldLeft(v0) { (v, _) =>
      Reuse.roundCut(renorm(Reuse.roundCut(applyCov(cov, v))))
    }
    (cx, cov, vf)
  }

  /** The embeddings on the shifted 1e-6 lattice
    * ([[MlOps.lattice6]]), centered by the integer per-dimension
    * mean Σx6 div n: (vec_id, dx), dx an exact long array. */
  private def centered(emb: DataFrame): DataFrame = {
    val x = Tables.spread(emb).select(col("vec_id"),
      MlOps.lattice6(col("embedding")).as("x6"))
    val mu = x.select(posexplode(col("x6")).as(Seq("dim", "v6")))
      .groupBy(col("dim")).agg(expr("sum(v6) div count(1)").as("mu6"))
    val muArr = mu
      .agg(array_sort(collect_list(struct(col("dim"), col("mu6")))).as("pm"))
      .select(transform(col("pm"), p => p.getField("mu6")).as("mu6s"))
    x.crossJoin(broadcast(muArr))
      .select(col("vec_id"),
        zip_with(col("x6"), col("mu6s"), (a, b) => a - b).as("dx"))
  }

  /** One power-iteration product: the covariance grid (i, j, c8)
    * applied to the component state (dim, v6), as (i, w). */
  private def applyCov(cov: DataFrame, v: DataFrame): DataFrame =
    cov.join(v, cov("j") === v("dim"))
      .groupBy(col("i"))
      .agg(sum(col("c8").cast("decimal(38,0)") * col("v6")).as("w"))

  /** Same over any (vec_id, embedding) frame. */
  def pcaPowerOn(emb: DataFrame, iters: Int): DataFrame = {
    val (_, cov, vf) = pcaFit(emb, iters)
    val wf = applyCov(cov, vf)
    val stats = wf.join(vf, wf("i") === vf("dim"))
      .agg(sum(col("v6").cast("decimal(38,0)") * col("w")).as("num"),
        sum((col("v6") * col("v6")).cast("decimal(38,0)")).as("den"))
      .select(expr("num div den").as("lam8"))
      .crossJoin(cov.filter(col("i") === col("j"))
        .agg(sum(col("c8")).as("tr8")))
    vf.crossJoin(stats)
      .select(col("dim"),
        (col("v6").cast("double") / 1000000.0).as("loading"),
        (col("lam8").cast("double") / 100000000.0).as("eigval"),
        ExactRatio.r4(col("lam8"), col("tr8")).as("ev_share"))
      .orderBy(col("dim"))
  }

  /** The ACTION [[pcaPower]] informs: project every embedding onto
    * the fitted top component — the "align to the fat axis before
    * quantizing/bucketing" step, and the 1-D feature (novelty score,
    * sort key for locality, stratification axis) the probe earns.
    * Scoring is a PER-ROW integer dot product of the centered vector
    * with the broadcast 64-long component (products ≤ 2e11, row sums
    * ≤ 1.3e13 — long-safe regardless of corpus size; corpus-size
    * independence is the point: the fit is grid-sized, the apply is
    * one narrow map over the data). Same fixed-point contract as the
    * fit; the score surfaces in natural units via one exact double
    * division. */
  def pcaProject(s: SparkSession, d: String): DataFrame =
    pcaProjectOn(Tables.embeddings(s, d), pcaIters)

  /** Same over any (vec_id, embedding) frame. */
  def pcaProjectOn(emb: DataFrame, iters: Int): DataFrame = {
    val (cx, _, vf) = pcaFit(emb, iters)
    val vArr = vf
      .agg(array_sort(collect_list(struct(col("dim"), col("v6")))).as("pv"))
      .select(transform(col("pv"), p => p.getField("v6")).as("vs"))
    cx.crossJoin(broadcast(vArr))
      .select(col("vec_id"),
        (aggregate(zip_with(col("dx"), col("vs"), (a, b) => a * b),
          lit(0L), (acc, x) => acc + x).cast("double") / 1e12)
          .as("pc1_score"))
      .orderBy(col("vec_id"))
  }

  /** ALL-BUT-THE-TOP common-component removal (the Arora/Mu
    * post-processing every sentence-embedding pipeline runs when its
    * space has a fat axis): subtract each centered vector's
    * projection onto the fitted top component, leaving the isotropic
    * residual that retrieves better under cosine. The third ACTION of
    * the [[pcaPower]] probe (beside [[pcaProject]]'s 1-D feature):
    * `ev_share` says whether the space needs it; this applies it.
    *
    * Same fixed-point contract as the fit: dx and the component are
    * integer 1e-6 units; the projection coefficient is the exact
    * integer rational (dx·v)/(v·v) applied per dimension as
    * dx_i − (dx·v · v_i) div (v·v) in DECIMAL(38,0) (the product
    * dx·v × v_i overflows a long, so the lattice arithmetic widens —
    * both engines truncate the division toward zero identically, the
    * pcaFit-verified property). Apply is one narrow map over the
    * corpus against the broadcast 64-long component — fit cost is
    * grid-sized, apply is corpus-linear. Output long format
    * (vec_id, pos, value), 1e-6-exact. */
  def pcaRemoveTop(s: SparkSession, d: String): DataFrame =
    pcaRemoveTopOn(Tables.embeddings(s, d), pcaIters)

  /** Same over any (vec_id, embedding) frame. */
  def pcaRemoveTopOn(emb: DataFrame, iters: Int): DataFrame = {
    val (cx, _, vf) = pcaFit(emb, iters)
    val vArr = vf
      .agg(array_sort(collect_list(struct(col("dim"), col("v6")))).as("pv"))
      .select(transform(col("pv"), p => p.getField("v6")).as("vs"))
      .withColumn("vv", aggregate(
        transform(col("vs"), v => v * v), lit(0L), (a, x) => a + x))
    cx.crossJoin(broadcast(vArr))
      .withColumn("dxv", aggregate(
        zip_with(col("dx"), col("vs"), (a, b) => a * b),
        lit(0L), (a, x) => a + x))
      .select(col("vec_id"), posexplode(
        zip_with(col("dx"), col("vs"), (dxi, vi) =>
          (dxi.cast("decimal(38,0)") -
            call_function("div",
              col("dxv").cast("decimal(38,0)") * vi,
              col("vv").cast("decimal(38,0)")))
            .cast("double") / 1000000.0)).as(Seq("pos", "value")))
      .orderBy(col("vec_id"), col("pos"))
  }

  /** DuckDB replay of [[pcaRemoveTopOn]] — the shared core CTEs plus
    * the per-vector coefficient and the per-dimension lattice
    * subtraction (HUGEINT stands in for DECIMAL(38,0)). */
  private[graft] def pcaRemoveTopOracleSql: String =
    pcaCoreCtes(pcaIters) + ",\n" +
      s"""dv AS (SELECT cx.vec_id,
         |    CAST(sum(cx.dx * v.v6) AS HUGEINT) AS dxv
         |  FROM cx JOIN v$pcaIters v ON cx.dim = v.dim GROUP BY 1),
         |vv AS (SELECT sum(v6 * v6) AS vv FROM v$pcaIters)
         |SELECT cx.vec_id AS vec_id, cx.dim AS pos,
         |  CAST(CAST(cx.dx AS HUGEINT)
         |    - (dv.dxv * v.v6) // vv.vv AS DOUBLE) / 1000000.0 AS value
         |FROM cx JOIN v$pcaIters v ON cx.dim = v.dim
         |     JOIN dv ON dv.vec_id = cx.vec_id, vv
         |ORDER BY cx.vec_id, pos""".stripMargin

  /** Shared CTE chain (quantize → center → grid → power rounds) for
    * both generated PCA oracles. `cx` and `c` are MATERIALIZED (the
    * ml_gbt_stumps posture): without the hint DuckDB re-inlines the
    * centered frame and the covariance grid into EVERY consumer —
    * six power rounds plus the tails — so the n·d self-join behind
    * `g` evaluated ~12× concurrently and the remove-top face OOM'd a
    * 45 GiB budget at 8.5k vectors (caught by the sf0.017 off-grid
    * sweep, round 15); materialized, each computes once. */
  private def pcaCoreCtes(iters: Int): String = {
    val rounds = (1 to iters).map { r =>
      val prev = if (r == 1) "v0" else s"v${r - 1}"
      s"""w$r AS (SELECT c.i, sum(CAST(c.c8 AS HUGEINT) * v.v6) AS w
         |  FROM c JOIN $prev v ON c.j = v.dim GROUP BY 1),
         |m$r AS (SELECT max(abs(w)) AS m FROM w$r),
         |v$r AS (SELECT i AS dim, (w * 1000000) // m AS v6 FROM w$r, m$r)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH dims AS (SELECT unnest(range(1, 65)) AS dim),
       |x AS (SELECT vec_id, dim - 1 AS dim,
       |    CAST(round(CAST(embedding[dim] AS DOUBLE) * 1000000, 0)
       |      AS BIGINT) + 1000000 AS x6
       |  FROM embeddings, dims),
       |mu AS (SELECT dim, CAST(sum(x6) AS BIGINT) // count(*) AS mu6
       |       FROM x GROUP BY 1),
       |cx AS MATERIALIZED (SELECT vec_id, x.dim, x.x6 - mu.mu6 AS dx
       |       FROM x JOIN mu ON x.dim = mu.dim),
       |g AS (SELECT a.dim AS i, b.dim AS j,
       |        sum(CAST(a.dx * b.dx AS HUGEINT)) AS ss, count(*) AS n
       |      FROM cx a JOIN cx b ON a.vec_id = b.vec_id GROUP BY 1, 2),
       |c AS MATERIALIZED (
       |      SELECT i, j, CAST(ss // (n * 10000) AS BIGINT) AS c8 FROM g),
       |v0 AS (SELECT DISTINCT i AS dim, CAST(1000000 AS HUGEINT) AS v6
       |       FROM c),
       |$rounds""".stripMargin
  }

  /** DuckDB replay of [[pcaPowerOn]], generated beside the operator
    * so the round count and every unit constant can't drift: the same
    * quantization, the same integer covariance codes, the same
    * unrolled renormalized power rounds, the same Rayleigh quotient.
    * HUGEINT stands in for DECIMAL(38,0); both engines' integer
    * division truncates toward zero. */
  private[graft] def pcaOracleSql: String = {
    val last = s"v$pcaIters"
    pcaCoreCtes(pcaIters) + ",\n" +
      s"""wf AS (SELECT c.i, sum(CAST(c.c8 AS HUGEINT) * v.v6) AS w
         |       FROM c JOIN $last v ON c.j = v.dim GROUP BY 1),
         |st AS (SELECT sum(v.v6 * w.w) // sum(v.v6 * v.v6) AS lam8
         |       FROM wf w JOIN $last v ON w.i = v.dim),
         |tr AS (SELECT sum(CAST(c8 AS HUGEINT)) AS tr8 FROM c WHERE i = j)
         |SELECT v.dim, CAST(v.v6 AS DOUBLE) / 1000000.0 AS loading,
         |  CAST(lam8 AS DOUBLE) / 100000000.0 AS eigval,
         |  CAST((CAST(lam8 AS HUGEINT) * 20000 + tr8) // (2 * tr8)
         |    AS BIGINT) / 10000.0 AS ev_share
         |FROM $last v, st, tr ORDER BY v.dim""".stripMargin
  }

  /** DuckDB replay of [[pcaProjectOn]] — the same core CTEs plus the
    * per-vector integer dot product with the converged component. */
  private[graft] def pcaProjectOracleSql: String =
    pcaCoreCtes(pcaIters) + "\n" +
      s"""SELECT cx.vec_id,
         |  CAST(sum(cx.dx * v.v6) AS DOUBLE) / 1000000000000.0
         |    AS pc1_score
         |FROM cx JOIN v$pcaIters v ON cx.dim = v.dim
         |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Per-dimension STANDARDIZATION (z-scoring / diagonal whitening)
    * of the embedding space — the feature-scaling step every
    * distance-based downstream (k-means cells, kNN, GMM scoring)
    * assumes and raw encoder outputs rarely satisfy: a dimension
    * with 10× the variance owns the metric until it is divided out.
    * Diagonal whitening is the production form at scale (full ZCA
    * needs the d×d eigendecomposition; the diagonal needs one
    * per-dimension pass) and composes with [[pcaRemoveTop]] —
    * remove the fat common axis, then equalize the rest.
    *
    * Determinism: the pcaFit lattice restricted to the diagonal —
    * vectors quantize to shifted 1e-6 longs, per-dim mean is the
    * integer floor Σx6 div n, centered dx is exact, and var8 =
    * Σdx² div (n·10⁴) (identical to the pcaFit grid's i=j cell).
    * The published z = dx / (100·√var8) divides identical integers
    * through one correctly-rounded sqrt/multiply/divide chain in
    * each engine — the cosineQ6 argument — and rounds 6dp; a
    * zero-variance dimension (all values equal after quantization)
    * publishes z = 0 by convention in BOTH engines. Cost: two
    * narrow corpus passes (quantize+explode for the stats, one
    * broadcast-join map to apply) — no grid, no shuffle wider than
    * d rows. Output long format (vec_id, pos, z). */
  def standardize(s: SparkSession, d: String): DataFrame =
    standardizeOn(Tables.embeddings(s, d))

  /** Same over any (vec_id, embedding) frame. */
  def standardizeOn(emb: DataFrame): DataFrame = {
    val cx = centered(emb)
    val vars = cx.select(posexplode(col("dx")).as(Seq("dim", "dxi")))
      .groupBy(col("dim"))
      .agg(sum((col("dxi") * col("dxi")).cast("decimal(38,0)")).as("ss"),
        count(lit(1)).as("n"))
      .select(col("dim"), expr("ss div (n * 10000)").as("var8"))
    val varArr = vars
      .agg(array_sort(collect_list(struct(col("dim"), col("var8")))).as("pv"))
      .select(transform(col("pv"), p => p.getField("var8")).as("v8s"))
    cx.crossJoin(broadcast(varArr))
      .select(col("vec_id"), posexplode(
        zip_with(col("dx"), col("v8s"), (dx, v8) =>
          when(v8 <= 0L, lit(0.0)).otherwise(
            round(dx.cast("double") / (lit(100.0) * sqrt(v8.cast("double"))),
              6)))).as(Seq("pos", "z")))
      .orderBy(col("vec_id"), col("pos"))
  }

  /** DuckDB replay of [[standardizeOn]] — the pcaCoreCtes quantize/
    * center chain with a diagonal-only variance (no grid), the same
    * integer divisions, the same z formula shape and zero-variance
    * convention. */
  private[graft] def standardizeOracleSql: String =
    s"""WITH dims AS (SELECT unnest(range(1, 65)) AS dim),
       |x AS (SELECT vec_id, dim - 1 AS dim,
       |    CAST(round(CAST(embedding[dim] AS DOUBLE) * 1000000, 0)
       |      AS BIGINT) + 1000000 AS x6
       |  FROM embeddings, dims),
       |mu AS (SELECT dim, CAST(sum(x6) AS BIGINT) // count(*) AS mu6
       |       FROM x GROUP BY 1),
       |cx AS (SELECT vec_id, x.dim, x.x6 - mu.mu6 AS dx
       |       FROM x JOIN mu ON x.dim = mu.dim),
       |vr AS (SELECT dim,
       |    CAST(sum(CAST(dx * dx AS HUGEINT)) // (count(*) * 10000)
       |      AS BIGINT) AS var8
       |  FROM cx GROUP BY 1)
       |SELECT cx.vec_id, cx.dim AS pos,
       |  CASE WHEN vr.var8 <= 0 THEN 0.0
       |    ELSE round(CAST(cx.dx AS DOUBLE)
       |      / (100.0 * sqrt(CAST(vr.var8 AS DOUBLE))), 6) END AS z
       |FROM cx JOIN vr ON vr.dim = cx.dim
       |ORDER BY cx.vec_id, pos""".stripMargin
}
