package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline, each a
  * different cost/recall point:
  *
  *  - exact: hash-groupBy — one shuffle keyed on the content hash.
  *  - minhash LSH: banded MinHash signatures; candidate pairs come
  *    from equality joins on band signatures (never an all-pairs
  *    product), then exact-Jaccard verification touches candidates
  *    only. This is the 100 TB path: O(n·bands) shuffle rows.
  *  - simhash: 60-bit md5-prefix signatures, multi-index 4×15-bit
  *    chunks with 1-bit probe enumeration (pigeonhole guarantees
  *    recall for hamming ≤ 2·bands-1 = 7), hamming + exact-Jaccard
  *    verification.
  *  - exact n-gram Jaccard: inverted-index self-join — the exact
  *    baseline the probabilistic paths are measured against.
  *  - embedding cosine: an exact all-pairs face (the oracle-checked
  *    baseline) and a multi-table random-hyperplane LSH face for the
  *    high-similarity regime real dedup runs in.
  *
  * Every candidate-generating path takes a `maxBucket` cap: a
  * duplicate-heavy key (boilerplate docs, a hot shingle) otherwise
  * turns its bucket quadratic. The cap keeps the first `maxBucket`
  * members per bucket in doc-id order (deterministic, a no-op on
  * corpora whose buckets stay below it) — and every capped-out row
  * still emits one candidate pair against the bucket's
  * representative (its minimum id), so the most-duplicated documents
  * stay connected to their cluster at linear cost instead of
  * silently vanishing from the pair set.
  */
object DedupOps {

  /** `ceil` with a guard against floating-point overshoot: when the
    * exact product (e.g. t·(na+nb)/(1+t)) is an integer m, double
    * rounding can land at m+1e-16 and ceil would return m+1 — one
    * stricter than the true bound, pruning genuine boundary pairs at
    * J exactly = threshold. Subtracting 1e-9 (far above double error
    * for any realistic shingle count, far below 1 ulp of the integer
    * lattice) biases the bound recall-safe: at worst one extra
    * candidate survives to exact verification. The slack scales with
    * the operand (x·1e-12 ≫ x·2⁻⁵² = 1 ulp) so the guard holds for
    * arbitrarily large shingle counts, not just while x·2⁻⁵² stays
    * below a fixed epsilon. */
  private def ceilSafe(x: Column): Column = ceil(x - x * lit(1e-12) - lit(1e-9))

  /** Cap buckets at `cap` rows (deterministic: lowest ids win) and
    * return the overflow as representative pairs: each capped-out row
    * becomes one (bucket-min id, capped id) candidate, preserving
    * cluster membership at linear cost — a hot bucket contributes
    * O(cap²) join pairs + O(size) representative pairs, never
    * O(size²). The window shuffles on the same keys the candidate
    * join uses, so the exchange is reused, not added. */
  private def capBucketsRep(df: DataFrame, keys: Seq[String], idCol: String,
                            cap: Int): (DataFrame, DataFrame) = {
    if (cap == Int.MaxValue) {
      // cap can never fire: skip the per-bucket rank window (a full
      // extra shuffle on the bucket keys) entirely — kept is the input
      // (cached: callers consume it multiple times), overflow is empty
      val kept = df.cache()
      val overflow = df.limit(0)
        .select(col(idCol).as("id1"), col(idCol).as("id2"))
      return (kept, overflow)
    }
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(idCol))
    // Cached HERE so kept and overflow share one materialization of
    // the upstream pipeline (signature aggregation / bucketing): both
    // returned frames are consumed downstream, and without the cache
    // whichever side the caller didn't cache re-runs the whole
    // expensive input plan a second time.
    val ranked = df.withColumn("__rn", row_number().over(w))
      // default frame = rows up to CURRENT ROW, so first = bucket min id
      .withColumn("__rep", first(col(idCol)).over(w))
      .cache()
    val kept = ranked.filter(col("__rn") <= cap).drop("__rn", "__rep")
    // id order inside the window makes rep strictly < the capped id
    val overflow = ranked.filter(col("__rn") > cap)
      .select(col("__rep").as("id1"), col(idCol).as("id2")).distinct()
    (kept, overflow)
  }

  // ---- shared text shingling ------------------------------------------

  /** (doc_id, hs, n): each doc's distinct k-token shingle hashes as a
    * sorted array — computed entirely inside the scan projection (no
    * shuffle), and the base for signatures, prefixes, and
    * verification alike. */
  private[ops] def docShingleSets(docs: DataFrame, k: Int = 3): DataFrame =
    docShingleSetsCarry(docs, k, Nil)

  /** docShingleSets carrying extra per-doc columns through the scan
    * projection (e.g. a corpus-side tag) — same single-pass shape. */
  private[ops] def docShingleSetsCarry(docs: DataFrame, k: Int,
                                       carry: Seq[String]): DataFrame = {
    // Materialize the token array BEFORE the shingle transform: a
    // lambda body re-evaluates every subtree per element, so slicing
    // `split(text)` directly would re-split the document once per
    // shingle (O(tokens²) per doc). Referencing the bound column keeps
    // it O(tokens). CollapseProject leaves the staging projection
    // alone because `t` is non-cheap and referenced more than once.
    // spread(): shingling is the expensive stage — use every core even
    // when the corpus arrives as a single file.
    val keyCols = (Seq("doc_id") ++ carry).map(col)
    val tokenized = Tables.spread(docs)
      .select(keyCols :+ TextOps.toks(col("text")).as("t"): _*)
    val n = size(col("t"))
    val starts = when(n >= k, sequence(lit(1), n - (k - 1)))
      .otherwise(array().cast("array<int>"))
    val shingles = transform(starts, i => concat_ws(" ", slice(col("t"), i, lit(k))))
    tokenized.select(keyCols :+
        array_sort(array_distinct(transform(shingles, s => xxhash64(s)))).as("hs"): _*)
      .withColumn("n", size(col("hs")))
  }

  /** Column expression: sorted distinct xxhash64 k-token shingle
    * hashes of a STAGED token-array column (stage the array first —
    * lambda bodies re-evaluate their subtrees per element). Per-row,
    * no shuffle: this is what lets the streaming faces compute
    * signatures without a stateful aggregation. */
  private[graft] def shingleHashesExpr(t: Column, k: Int = 3): Column = {
    val n = size(t)
    val starts = when(n >= k, sequence(lit(1), n - (k - 1)))
      .otherwise(array().cast("array<int>"))
    array_sort(array_distinct(
      transform(starts, i => xxhash64(concat_ws(" ", slice(t, i, lit(k)))))))
  }

  /** The banding step shared by every MinHash face: band b's
    * signature is xxhash64 over (b, its slice of minhash values).
    * `mh` abstracts where minhash j comes from — an aggregated column
    * (batch) or a per-row array_min expression (streaming) — so the
    * batch and streaming paths cannot drift apart. */
  private def bandCols(numPerm: Int, bands: Int, mh: Int => Column): Seq[Column] = {
    val rows = numPerm / bands
    (0 until bands).map { b =>
      xxhash64((lit(b) +: (b * rows until (b + 1) * rows).map(mh)): _*)
    }
  }

  /** Per-row MinHash band signatures from a STAGED shingle-hash array
    * column: mh_j = min over the array of xxhash64(h, j), banded as in
    * [[minhashLshOn]] — identical values to the aggregation path, but
    * computed inside the row projection (streaming-compatible, zero
    * shuffle). */
  private[graft] def bandSigsExpr(hs: Column, numPerm: Int,
                                  bands: Int): Seq[Column] =
    bandCols(numPerm, bands,
      j => array_min(transform(hs, h => xxhash64(h, lit(j)))))

  /** (doc_id, h): exploded distinct shingle hashes. */
  private[ops] def shingleHashes(docs: DataFrame, k: Int = 3): DataFrame =
    docShingleSets(docs, k).select(col("doc_id"), explode(col("hs")).as("h"))

  /** Exact Jaccard for candidate pairs, joining each side's already
    * materialized sorted shingle-set array (array_intersect). Keeps
    * every column the pair frame carried (e.g. simhash's hamming) and
    * appends `jaccard`. */
  private def verifyJaccard(pairs: DataFrame, sets: DataFrame): DataFrame = {
    val keep = pairs.columns.map(col).toSeq
    pairs
      .join(sets.select(col("doc_id").as("id1"), col("hs").as("hs1")), "id1")
      .join(sets.select(col("doc_id").as("id2"), col("hs").as("hs2")), "id2")
      // shingle arrays are sorted+distinct by construction, so the
      // overlap is one allocation-free merge (vs array_intersect's
      // per-row hash set + output array) — this runs on EVERY
      // candidate pair of every near-dup operator
      .withColumn("common",
        graft.functions.SetExprs.sortedIntersectCount(col("hs1"), col("hs2")))
      .withColumn("jaccard", round(col("common").cast("double") /
        (size(col("hs1")) + size(col("hs2")) - col("common")), 4))
      .select(keep :+ col("jaccard"): _*)
  }

  // ---- exact -----------------------------------------------------------

  /** Exact dedup: group on sha2(text); keep the minimum doc_id.
    * Grouping on the 64-hex digest, not the raw text, keeps shuffle
    * rows narrow at scale. */
  def exact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(sha2(col("text"), 256).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))
      .orderBy(col("keep_id"))

  // ---- MinHash + LSH ---------------------------------------------------

  /** MinHash signature matrix: numPerm independent hash functions
    * realized as xxhash64(shingleHash, permIndex); the signature is
    * numPerm parallel min-aggregates over one (doc_id, h) pass —
    * map-side partial aggregation, no row blowup. */
  private def minhashSignatures(sh: DataFrame, numPerm: Int,
                                carry: Seq[String] = Nil): DataFrame = {
    val aggs = (0 until numPerm).map(j =>
      min(xxhash64(col("h"), lit(j))).as(s"mh$j"))
    // carry columns are functionally dependent on doc_id; grouping on
    // them too threads them through without an extra join
    sh.groupBy((Seq("doc_id") ++ carry).map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Candidate pairs whose exact Jaccard ≥ threshold, surfaced by
    * banded MinHash LSH (numPerm=64, 16 bands × 4 rows ⇒ pairs with
    * J≈0.8+ are caught with prob ≥ 1-(1-0.8⁴)¹⁶ ≈ 0.9994). */
  def minhashLsh(s: SparkSession, d: String,
                 threshold: Double = 0.8,
                 numPerm: Int = 64, bands: Int = 16,
                 maxBucket: Int = 1000): DataFrame =
    minhashLshOn(Tables.documents(s, d), threshold, numPerm, bands, maxBucket)

  /** Same over any (doc_id, text) frame. */
  def minhashLshOn(docs: DataFrame,
                   threshold: Double = 0.8,
                   numPerm: Int = 64, bands: Int = 16,
                   maxBucket: Int = 1000): DataFrame =
    // reused by signature build AND exact verification — materialize once
    minhashLshOnSets(docShingleSets(docs).cache(), threshold, numPerm,
      bands, maxBucket)

  /** [[minhashLshOn]] over an already-staged (cached) shingle-set
    * frame — lets a caller that also needs the sets for another stage
    * ([[incrementalIndex]]'s state construction) shingle the corpus
    * exactly once. */
  private def minhashLshOnSets(sets: DataFrame,
                               threshold: Double, numPerm: Int,
                               bands: Int, maxBucket: Int): DataFrame =
    lshPairsFromIndex(bandIndexOnSets(sets, numPerm, bands), sets,
      threshold, maxBucket)

  /** The LSH self-join + verify stage over an explicit band-index
    * frame — shared by [[minhashLshOn]] (which builds the index
    * in-flight) and [[incrementalIndex]] (which reads a persisted
    * one, so the signature aggregation never reruns). */
  private def lshPairsFromIndex(index: DataFrame, sets: DataFrame,
                                threshold: Double,
                                maxBucket: Int): DataFrame = {
    // capBucketsRep caches the ranked frame, so the 64-aggregate
    // signature pass runs once and both self-join sides (and the
    // overflow frame) read the cached copy
    val (banded, overflow) = capBucketsRep(
      index, Seq("band", "bsig"), "doc_id", maxBucket)
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .union(overflow)
      .distinct()
    verifyJaccard(cand, sets)
      .filter(col("jaccard") >= threshold)
      .orderBy(col("id1"), col("id2"))
  }

  /** The PERSISTED near-dup index over a corpus: one row per
    * (doc_id, band, bsig) — the banded-MinHash signature table a
    * daily pipeline writes beside the corpus (in production: a
    * parquet table partitioned by band). Values are identical to
    * [[minhashLshOn]]'s internal banding, so an index built once
    * keeps serving folds as the corpus grows. */
  def bandIndexOn(docs: DataFrame, numPerm: Int = 64,
                  bands: Int = 16): DataFrame =
    bandIndexOnSets(docShingleSets(docs), numPerm, bands)

  /** [[bandIndexOn]] over an already-staged shingle-set frame. */
  private def bandIndexOnSets(sets: DataFrame, numPerm: Int,
                              bands: Int): DataFrame = {
    val sh = sets.select(col("doc_id"), explode(col("hs")).as("h"))
    val sig = minhashSignatures(sh, numPerm)
    val bandSigs = bandCols(numPerm, bands, j => col(s"mh$j"))
    sig.select(col("doc_id"),
      posexplode(array(bandSigs: _*)).as(Seq("band", "bsig")))
  }

  /** Incremental near-dup index maintenance — the daily-crawl shape
    * of the reference's 2am-trigger re-run (etl-cfn-2am-trigger.json:
    * the scheduled job that folds the new day into yesterday's
    * state): given yesterday's PERSISTED state (band index + verified
    * pair table) and today's delta, produce the updated pair table
    * WITHOUT rescanning history. Per-doc MinHash values are min-
    * monoid aggregates over the shingle set, so a new document's
    * signature computes from its own text alone and the index grows
    * by append — nothing in the history index is ever revisited.
    *
    * The fold touches history exactly twice, both bounded: the
    * (band, bsig) equi-join of the DELTA's band rows against the
    * persisted index (index-sized, never the corpus), and a
    * fetch-by-id of the CANDIDATE history docs for exact-Jaccard
    * verification (a left-semi join on the candidate id set — the
    * point lookups an index owner does, not a rescan; candidate
    * cardinality is collision-bounded). Delta-vs-delta runs the
    * [[minhashLshOn]] self-join shape on the day's docs.
    *
    * Correctness contract (the etl_incremental_agg proof carried
    * over): fold(state(history), delta) ≡ recompute(history ∪ delta)
    * — the oracle recomputes near-dup pairs from the FULL corpus,
    * knowing nothing of the split, so any pair the fold misses (or
    * invents) breaks the cross-engine hash. */
  def incrementalIndex(s: SparkSession, d: String,
                       threshold: Double = 0.8,
                       numPerm: Int = 64, bands: Int = 16,
                       maxBucket: Int = Int.MaxValue): DataFrame = {
    val docs = Tables.documents(s, d)
    // the daily split: every 4th doc is "today's crawl"
    val history = docs.filter(col("doc_id") % 4 =!= 0)
    val delta = docs.filter(col("doc_id") % 4 === 0)
    // yesterday's persisted state, constructed here from the data (in
    // production both are parquet reads): ONE cached shingle pass and
    // ONE cached signature/banding pass over history serve both the
    // index and the pair table
    val hSets = docShingleSets(history).cache()
    val hIndex = bandIndexOnSets(hSets, numPerm, bands).cache()
    incrementalFold(hIndex,
      lshPairsFromIndex(hIndex, hSets, threshold, maxBucket),
      history, delta, threshold, numPerm, bands, maxBucket)
  }

  /** [[incrementalIndex]] with the persisted state crossing a REAL
    * parquet boundary — the production claim made checkable: the
    * band index (partitioned by band, the layout [[bandIndexOn]]
    * declares) and the verified pair table are WRITTEN to parquet,
    * and today's fold reads them BACK — so the state that serves the
    * fold is exactly what a 2am re-run would load (reference:
    * etl-cfn-2am-trigger.json), including every type/encoding change
    * a parquet round-trip can introduce (partition-column recovery,
    * dictionary/plain encoding, xxhash64-signature longs). The
    * oracle is the SAME split-agnostic full-corpus recompute
    * ([[minhashRecomputeOracleSql]]): any pair the round-tripped fold
    * misses or invents breaks the cross-engine hash. Parquet-reading
    * the index also un-pins its band-key partitioning, so the fold's
    * (band, bsig) joins re-shuffle from real files — the honest cost
    * an index owner pays daily. State lands under `stateDir`; when
    * none is given, a fresh per-invocation temp directory (deleted
    * on JVM exit) — a FIXED default path would let two concurrent
    * runs on the same corpus overwrite each other's state mid-read.
    * A production owner passes the durable state path explicitly. */
  def incrementalIndexPersisted(s: SparkSession, d: String,
                                threshold: Double = 0.8,
                                numPerm: Int = 64, bands: Int = 16,
                                stateDir: String = "",
                                maxBucket: Int = Int.MaxValue): DataFrame = {
    val docs = Tables.documents(s, d)
    val history = docs.filter(col("doc_id") % 4 =!= 0)
    val delta = docs.filter(col("doc_id") % 4 === 0)
    // the returned fold READS the parquet state lazily, so the dir
    // must outlive this call; the shared single-hook registry
    // (TempDirs) reclaims it at JVM exit without accumulating one
    // shutdown hook per invocation (ADVICE r15). A caller that
    // materializes the result and wants the disk back sooner passes
    // its own stateDir and deletes it (the dailyE2e posture).
    val dir =
      if (stateDir.nonEmpty) stateDir
      else graft.TempDirs.create("graft_inc_state_").toString
    val hSets = docShingleSets(history).cache()
    val hIndex = bandIndexOnSets(hSets, numPerm, bands).cache()
    hIndex.write.mode("overwrite").partitionBy("band")
      .parquet(s"$dir/band_index.parquet")
    lshPairsFromIndex(hIndex, hSets, threshold, maxBucket)
      .write.mode("overwrite").parquet(s"$dir/pairs.parquet")
    // the fold sees ONLY the read-back state
    val rIndex = s.read.parquet(s"$dir/band_index.parquet")
      .select(col("doc_id"), col("band"), col("bsig"))
    val rPairs = s.read.parquet(s"$dir/pairs.parquet")
      .select(col("id1"), col("id2"), col("jaccard"))
    incrementalFold(rIndex, rPairs, history, delta, threshold,
      numPerm, bands, maxBucket)
  }

  /** The split-agnostic full-corpus near-dup recompute in DuckDB —
    * the shared oracle of `dedup_minhash`, `dedup_incremental_index`,
    * and `dedup_incremental_index_persisted`: exact 3-token-shingle
    * Jaccard over ALL qualifying pairs at `threshold`, knowing
    * nothing of any history/delta split or persisted state, so every
    * fold face must reproduce it pair for pair. */
  private[graft] def minhashRecomputeOracleSql(
      threshold: Double = 0.8): String =
    s"""WITH tok AS (SELECT doc_id, string_split(trim(text), ' ') AS t
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
       |WHERE round(common * 1.0 / (x.n + y.n - common), 4) >= $threshold
       |ORDER BY id1, id2""".stripMargin

  /** The fold itself — see [[incrementalIndex]]. `histDocs` is used
    * ONLY through a left-semi fetch of candidate ids.
    *
    * Hot-bucket protection (round 14, the [[capBucketsRep]] /
    * [[decontaminate]] posture applied to the fold's candidate
    * joins): without a cap, one hot band signature — a boilerplate
    * band shared by b history docs and a delta docs — contributes
    * O(a·b) delta-history candidates and O(a²) delta-delta
    * candidates per fold. With `maxBucket`, each side keeps its
    * lowest-id `maxBucket` rows per (band, bsig); capped-out rows
    * still emit ONE representative candidate against the OTHER
    * side's bucket minimum (and, delta-vs-delta, against their own
    * bucket minimum), so cluster membership is preserved at linear
    * cost — a hot bucket costs O(cap²) join pairs + O(size)
    * representative pairs, never O(size²). On benign data (no bucket
    * over the cap) the output is IDENTICAL to the uncapped fold
    * (DedupSpec pins both contracts). The DEFAULT is uncapped
    * (`Int.MaxValue`, which skips the ranking windows entirely):
    * capping weakens the "fold ≡ full recompute" contract to "equal
    * when no bucket exceeds the cap" (on a hot bucket, capped-out
    * docs pair only against bucket minima — a strict subset), so the
    * cap is an explicit opt-in, the contract the caller registered
    * for never changes under it silently. */
  def incrementalFold(histIndex: DataFrame, histPairs: DataFrame,
                      histDocs: DataFrame, delta: DataFrame,
                      threshold: Double, numPerm: Int,
                      bands: Int, maxBucket: Int = Int.MaxValue): DataFrame = {
    // today's shingle sets feed signatures AND verification — one
    // materialization (the minhashLshOn posture)
    val dSets = docShingleSets(delta).cache()
    val dSig = minhashSignatures(
      dSets.select(col("doc_id"), explode(col("hs")).as("h")), numPerm)
    val bandSigs = bandCols(numPerm, bands, j => col(s"mh$j"))
    // the delta's band rows join twice (vs history, vs itself):
    // cache ends the signature aggregation after one run
    val dIndex = dSig.select(col("doc_id"),
        posexplode(array(bandSigs: _*)).as(Seq("band", "bsig")))
      .cache()
    val cand = (if (maxBucket == Int.MaxValue) {
      // delta vs HISTORY: equi-join on the persisted index — at scale
      // the delta side is day-sized and broadcasts; ids interleave
      // across the split, so the pair normalizes by least/greatest
      val candDH = dIndex.as("a")
        .join(histIndex.as("b"),
          col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig"))
        .select(least(col("a.doc_id"), col("b.doc_id")).as("id1"),
          greatest(col("a.doc_id"), col("b.doc_id")).as("id2"))
      // delta vs DELTA: the self-join shape on the day's index rows
      val candDD = dIndex.as("a")
        .join(dIndex.as("b"),
          col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      candDH.union(candDD)
    } else {
      // the ranking window shuffles on the same (band, bsig) keys the
      // candidate joins use, so the exchange is reused, not added;
      // both ranked frames serve three consumers each (kept rows,
      // bucket minimum, overflow) — cache once
      val w = Window.partitionBy(col("band"), col("bsig"))
        .orderBy(col("doc_id"))
      val rankedD = dIndex.withColumn("__rn", row_number().over(w)).cache()
      val rankedH = histIndex
        .withColumn("__rn", row_number().over(w)).cache()
      val dKept = rankedD.filter(col("__rn") <= maxBucket)
      val hKept = rankedH.filter(col("__rn") <= maxBucket)
      val dMin = rankedD.filter(col("__rn") === 1)
        .select(col("band"), col("bsig"), col("doc_id").as("dmin"))
      val hMin = rankedH.filter(col("__rn") === 1)
        .select(col("band"), col("bsig"), col("doc_id").as("hmin"))
      // ids interleave across the split: normalize by least/greatest
      val dhJoin = dKept.as("a")
        .join(hKept.as("b"),
          col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig"))
        .select(least(col("a.doc_id"), col("b.doc_id")).as("id1"),
          greatest(col("a.doc_id"), col("b.doc_id")).as("id2"))
      // representative pairs for BOTH overflow directions (the
      // decontaminate contract): a capped-out delta row still
      // candidates against the history bucket's minimum, and vice
      // versa — without the second direction, a history doc whose
      // only near-dup arrives in a hot delta bucket would silently
      // never pair
      val dhOverD = rankedD.filter(col("__rn") > maxBucket)
        .join(hMin, Seq("band", "bsig"))
        .select(least(col("doc_id"), col("hmin")).as("id1"),
          greatest(col("doc_id"), col("hmin")).as("id2"))
      val dhOverH = rankedH.filter(col("__rn") > maxBucket)
        .join(dMin, Seq("band", "bsig"))
        .select(least(col("doc_id"), col("dmin")).as("id1"),
          greatest(col("doc_id"), col("dmin")).as("id2"))
      // delta vs DELTA: capped self-join + within-side representative
      // pairs ((bucket min, capped id) — min ranks first, so min < id)
      val ddJoin = dKept.as("a")
        .join(dKept.as("b"),
          col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      val ddOver = rankedD.filter(col("__rn") > maxBucket)
        .join(dMin, Seq("band", "bsig"))
        .select(col("dmin").as("id1"), col("doc_id").as("id2"))
      dhJoin.union(dhOverD).union(dhOverH).union(ddJoin).union(ddOver)
    }).distinct()
      // three consumers (both candIds arms + the verify join input):
      // without the barrier the banded candidate joins re-ran per
      // consumer. Candidate-pair-sized.
      .localCheckpoint(false)
    // verification sets: today's are in hand; history contributes
    // ONLY the candidate members, fetched by id
    val candIds = cand.select(col("id1").as("doc_id"))
      .union(cand.select(col("id2").as("doc_id"))).distinct()
    // verifyJaccard reads the set frame twice (id1/id2 sides) — cache
    // the candidate-bounded history shingling so it runs once
    val hSets = docShingleSets(
      histDocs.join(candIds, Seq("doc_id"), "left_semi")).cache()
    val newPairs = verifyJaccard(cand, dSets.unionByName(hSets))
      .filter(col("jaccard") >= threshold)
    // the updated pair table: yesterday's verified pairs are
    // APPENDED, never recomputed (the three sources are disjoint by
    // construction: both-in-history / split / both-in-delta)
    histPairs.select(col("id1"), col("id2"), col("jaccard"))
      .unionByName(newPairs.select(col("id1"), col("id2"), col("jaccard")))
      .orderBy(col("id1"), col("id2"))
  }

  /** Cross-corpus contamination check — the train/eval
    * decontamination primitive of an LLM training pipeline: flag
    * every `corpus` document whose n-gram Jaccard with ANY
    * `reference` document reaches `threshold`. Candidates come from
    * a banded-MinHash equality join BETWEEN the two corpora (each
    * side computes signatures independently; the join is on
    * (band, bandSig) — never a cross product), then exact Jaccard
    * verifies candidates, so the output contract matches
    * [[minhashLshOn]]: verified (doc_id, ref_id, jaccard) pairs.
    *
    * Bucket caps are per-side: the corpus side's capped-out rows
    * still emit one candidate against the reference bucket's minimum
    * id (linear, same representative idea as [[capBucketsRep]]), and
    * the reference side keeps its bucket minimum among the kept rows
    * — so a corpus document colliding with a hot reference bucket is
    * still flagged, while no bucket ever goes quadratic. */
  def decontaminate(corpus: DataFrame, reference: DataFrame,
                    threshold: Double = 0.8,
                    numPerm: Int = 64, bands: Int = 16,
                    maxBucket: Int = 1000): DataFrame = {
    // ONE shared pipeline over the side-tagged union: every document
    // is shingled, signed, and band-ranked exactly once (doc ids must
    // be disjoint across the two corpora — they key the verify join).
    val tagged = corpus.select(col("doc_id"), col("text"), lit(0).as("__ref"))
      .unionByName(reference.select(col("doc_id"), col("text"), lit(1).as("__ref")))
    val sets = docShingleSetsCarry(tagged, 3, Seq("__ref")).cache()
    val sig = minhashSignatures(
      sets.select(col("doc_id"), col("__ref"), explode(col("hs")).as("h")),
      numPerm, carry = Seq("__ref"))
    val bandSigs = bandCols(numPerm, bands, j => col(s"mh$j"))
    // caps are per (bucket, side): the corpus cap must not depend on
    // how many reference docs share the bucket and vice versa
    val w = Window.partitionBy(col("band"), col("bsig"), col("__ref"))
      .orderBy(col("doc_id"))
    val ranked = sig.select(col("doc_id"), col("__ref"),
        posexplode(array(bandSigs: _*)).as(Seq("band", "bsig")))
      .withColumn("__rn", row_number().over(w)).cache()
    val kept = ranked.filter(col("__rn") <= maxBucket)
    val cKept = kept.filter(col("__ref") === 0)
    val rKept = kept.filter(col("__ref") === 1)
    // per-(bucket, side) minimum id == the row the window ranked
    // first: a filter on the cached ranked frame, not a groupBy —
    // no aggregation shuffle, and the overflow joins below see a
    // frame AQE can broadcast
    val rMin = ranked.filter(col("__ref") === 1 && col("__rn") === 1)
      .select(col("band"), col("bsig"), col("doc_id").as("ref_id"))
    val cMin = ranked.filter(col("__ref") === 0 && col("__rn") === 1)
      .select(col("band"), col("bsig"), col("doc_id").as("corpus_id"))
    val candJoin = cKept.as("a")
      .join(rKept.as("b"),
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
    // representative pairs for BOTH overflow directions, linear each
    // way (mirrors capBucketsRep's contract across corpora):
    //  - a capped-out corpus row still candidates against the
    //    reference bucket's minimum id, and
    //  - a capped-out REFERENCE row still candidates against the
    //    corpus bucket's minimum id — without this, a corpus doc
    //    whose only near-dup ranks past the cap in every colliding
    //    band would silently never be flagged.
    val candOverflowC = ranked
      .filter(col("__ref") === 0 && col("__rn") > maxBucket)
      .join(rMin, Seq("band", "bsig"))
      .select(col("doc_id").as("id1"), col("ref_id").as("id2"))
    val candOverflowR = ranked
      .filter(col("__ref") === 1 && col("__rn") > maxBucket)
      .join(cMin, Seq("band", "bsig"))
      .select(col("corpus_id").as("id1"), col("doc_id").as("id2"))
    val cand = candJoin.union(candOverflowC).union(candOverflowR).distinct()
    verifyJaccard(cand, sets.drop("__ref"))
      .filter(col("jaccard") >= threshold)
      .select(col("id1").as("doc_id"), col("id2").as("ref_id"), col("jaccard"))
      .orderBy(col("doc_id"), col("ref_id"))
  }

  /** Decontamination for the shape production actually runs: a TINY
    * reference (eval benchmarks are megabytes) against an arbitrarily
    * large corpus. [[decontaminate]] treats both sides symmetrically
    * — one shared shuffled pipeline — which is right when the two
    * corpora are comparable; here everything corpus-side stays
    * row-local (shingles and band signatures in the scan projection,
    * the streaming path's expressions — provably identical values to
    * the aggregated signatures), and the reference's band index and
    * shingle sets BROADCAST, so the entire check is map-side: zero
    * shuffles of the corpus, no signature aggregation, no corpus
    * exchange at any width. The only shuffles are output-sized (the
    * final distinct over flagged pairs, which collapses multi-band
    * collisions) plus, if a finite cap is requested, one
    * reference-sized ranking window.
    *
    * The cap default is UNCAPPED (the reference is tiny by this
    * operator's contract, so no bucket needs protection), which makes
    * the verified output exactly [[decontaminate]]'s. Opting into a
    * finite `maxBucket` trades recall for hot-bucket protection
    * HARDER than the symmetric operator does: capped-out reference
    * rows are dropped with NO overflow-representative candidates
    * (emitting them map-side would need the corpus bucket minimum,
    * i.e. a corpus shuffle — the thing this variant exists to avoid),
    * so a corpus doc whose only colliding reference docs rank past
    * the cap in every shared band is silently not flagged. If the
    * reference is big enough to overflow buckets, use
    * [[decontaminate]]. */
  def decontaminateBroadcast(corpus: DataFrame, reference: DataFrame,
                             threshold: Double = 0.8,
                             numPerm: Int = 64, bands: Int = 16,
                             maxBucket: Int = Int.MaxValue): DataFrame = {
    def staged(df: DataFrame): DataFrame = graft.Tables.spread(df)
      .select(col("doc_id"), TextOps.toks(col("text")).as("__t"))
      .select(col("doc_id"), shingleHashesExpr(col("__t")).as("hs"))
    val ref = staged(reference)
    val refSets = ref.select(col("doc_id").as("ref_id"),
      col("hs").as("ref_hs"), size(col("hs")).as("ref_n"))
    val bandIndex0 = ref.select(col("doc_id").as("ref_id"),
      posexplode(array(bandSigsExpr(col("hs"), numPerm, bands): _*))
        .as(Seq("band", "bsig")))
    // uncapped (the default): no ranking window, the index is a pure
    // projection of the reference scan
    val bandIndex =
      if (maxBucket == Int.MaxValue) bandIndex0
      else {
        val w = Window.partitionBy(col("band"), col("bsig")).orderBy(col("ref_id"))
        bandIndex0.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= maxBucket).drop("__rn")
      }
    val cor = staged(corpus).select(col("doc_id"), col("hs"),
      posexplode(array(bandSigsExpr(col("hs"), numPerm, bands): _*))
        .as(Seq("band", "bsig")))
    cor
      .join(broadcast(bandIndex), Seq("band", "bsig"))
      .join(broadcast(refSets), Seq("ref_id"))
      .withColumn("common",
        graft.functions.SetExprs.sortedIntersectCount(col("hs"), col("ref_hs")))
      .withColumn("jaccard", round(col("common").cast("double") /
        (size(col("hs")) + col("ref_n") - col("common")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_id"), col("ref_id"), col("jaccard"))
      .distinct()
      .orderBy(col("doc_id"), col("ref_id"))
  }

  /** Decontamination for the MIDDLE reference regime — too big to
    * broadcast its shingle SETS row-for-row (the
    * [[decontaminateBroadcast]] contract) but whose band-signature
    * BLOOM FILTER still fits in one broadcast. This is the
    * runtime-filter shape engines inject automatically for selective
    * joins (Spark's own InjectRuntimeFilter builds exactly a
    * BloomFilterAggregate/BloomFilterMightContain pair), built here
    * explicitly because the optimizer only injects it under join-size
    * heuristics it cannot prove for this plan.
    *
    * Pipeline: corpus shingles and band signatures stay row-local in
    * the scan projection (identical values to the aggregated path);
    * the reference's band keys are folded into a fixed-size Bloom
    * filter (one reference-sized aggregation, bits independent of row
    * width), serialized into a LITERAL, and probed with Spark's
    * codegen'd `BloomFilterMightContain` expression — so ~every
    * non-candidate corpus row dies inside the scan stage, BEFORE the
    * candidate shuffle. At 100 TB this is the difference between
    * shuffling O(corpus·bands) band rows (the symmetric operator) and
    * shuffling only the Bloom survivors: true collisions + an `fpp`
    * fraction of false positives, both candidate-sized.
    *
    * False positives cost work, never correctness: every surviving
    * pair is exact-Jaccard verified, so the output is identical to
    * [[decontaminate]]'s (uncapped) — the operators share one oracle.
    * The build-side `count()` is one scalar driver action on the
    * cached reference (the same concession IVF's cell count makes);
    * the filter build itself is LAZY (a scalar subquery in the plan —
    * see BloomProbe, incl. the maxNumBits build-side ceiling that
    * marks the hand-off to the shuffled [[decontaminate]] tier).
    *
    * Caching contract: the staged reference stays cached for the
    * band/set joins and is freed by `spark.catalog.clearCache()` —
    * long-lived sessions composing many pipelines own that call.
    */
  def decontaminateBloom(corpus: DataFrame, reference: DataFrame,
                         threshold: Double = 0.8,
                         numPerm: Int = 64, bands: Int = 16,
                         fpp: Double = 0.01): DataFrame = {
    def staged(df: DataFrame): DataFrame = Tables.spread(df)
      .select(col("doc_id"), TextOps.toks(col("text")).as("__t"))
      .select(col("doc_id"), shingleHashesExpr(col("__t")).as("hs"))
    val ref = staged(reference).cache()
    def bandKey: Column = xxhash64(col("band"), col("bsig"))
    val refBands = ref.select(col("doc_id").as("ref_id"),
      posexplode(array(bandSigsExpr(col("hs"), numPerm, bands): _*))
        .as(Seq("band", "bsig")))
    // posexplode of a fixed-size array: exactly bands keys per ref doc
    val expected = math.max(1L, ref.count()) * bands
    // the codegen'd probe: a pure row-local predicate, so Catalyst
    // keeps it inside the corpus scan stage below the join
    val mightContain = graft.functions.BloomProbe.mightContain(
      refBands.select(bandKey.as("k")), "k", expected, fpp, bandKey)
    val corBands = staged(corpus).select(col("doc_id"), col("hs"),
      posexplode(array(bandSigsExpr(col("hs"), numPerm, bands): _*))
        .as(Seq("band", "bsig")))
      .filter(mightContain)
    val refSets = ref.select(col("doc_id").as("ref_id"),
      col("hs").as("ref_hs"), size(col("hs")).as("ref_n"))
    corBands
      .join(refBands, Seq("band", "bsig"))
      // collapse multi-band collisions BEFORE the verify so each
      // candidate pair pays for one sorted-intersect, not one per
      // colliding band (rows with equal (doc_id, ref_id) carry equal
      // hs, so which survives is value-irrelevant)
      .select(col("doc_id"), col("ref_id"), col("hs"))
      .dropDuplicates(Seq("doc_id", "ref_id"))
      .join(refSets, Seq("ref_id"))
      .withColumn("common",
        graft.functions.SetExprs.sortedIntersectCount(col("hs"), col("ref_hs")))
      .withColumn("jaccard", round(col("common").cast("double") /
        (size(col("hs")) + col("ref_n") - col("common")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_id"), col("ref_id"), col("jaccard"))
      .orderBy(col("doc_id"), col("ref_id"))
  }

  /** Asymmetric n-gram CONTAINMENT decontamination: flag (corpus doc
    * A, reference item R) whenever |shingles(A) ∩ shingles(R)| / |shingles(R)|
    * ≥ `threshold`. This is the metric benchmark-contamination checks
    * actually need: a short eval item pasted verbatim inside a long
    * training document has containment ≈ 1 while its symmetric
    * Jaccard ≈ |R|/|A| sits far below any near-dup threshold —
    * [[decontaminate]] structurally cannot see it.
    *
    * Exactness with a one-sided prefix filter (the PPJoin argument
    * adapted to containment): common ≥ ⌈t·|R|⌉ forces the pair's
    * FIRST shared shingle — under the global sorted-hash order — to
    * lie within R's first |R| − ⌈t·|R|⌉ + 1 shingles, so only that
    * reference prefix is posted. The corpus side posts ALL its
    * shingles: containment places no lower bound on |A|, so there is
    * no corpus-side prefix — its posting list is the linear inverted
    * index. At the first shared shingle (sorted positions pa, pr)
    * every common shingle lies in both suffixes, giving the exact
    * positional witness min(|A|−pa, |R|−pr) ≥ ⌈t·|R|⌉. Exact
    * verification (one allocation-free sorted-merge per candidate)
    * then decides.
    *
    * Scale: join volume is Σ_R prefix(R) × df(shingle) — reference
    * prefixes against a linear corpus index, no corpus self-join.
    * `maxDf` > 0 caps a shingle's corpus posting list (deterministic
    * lowest-ids-win) as the hot-shingle safety valve; unlike the
    * self-join operators there is no overflow-representative rescue
    * across two tables, so a capped run is honestly APPROXIMATE
    * (recall loss on pairs whose every shared prefix shingle is hot) —
    * the default 0 keeps the operator exact. */
  def containment(s: SparkSession, d: String, threshold: Double = 0.6,
                  maxDf: Int = 0): DataFrame = {
    val docs = Tables.documents(s, d)
    containmentOn(docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 =!= 0), threshold, maxDf)
  }

  /** Same over any (doc_id, text) corpus/reference frames. */
  def containmentOn(corpus: DataFrame, reference: DataFrame,
                    threshold: Double = 0.6, maxDf: Int = 0): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"containment threshold must be in (0, 1], got $threshold")
    val cSets = docShingleSets(corpus).cache()
    val rSets = docShingleSets(reference).cache()
    val cPost0 = cSets.select(col("doc_id"), col("n").as("cn"),
      posexplode(col("hs")).as(Seq("cp", "h")))
    val cPost =
      if (maxDf <= 0) cPost0
      else {
        val w = Window.partitionBy(col("h")).orderBy(col("doc_id"))
        cPost0.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= maxDf).drop("__rn")
      }
    val rPrefixLen =
      (col("n") - ceilSafe(lit(threshold) * col("n")) + 1).cast("int")
    val rPrefix = rSets.select(col("doc_id").as("ref_id"), col("n").as("rn"),
      posexplode(slice(col("hs"), lit(1), greatest(rPrefixLen, lit(0))))
        .as(Seq("rp", "h")))
    val minCommon = ceilSafe(lit(threshold) * col("rn"))
    val cand = cPost.join(rPrefix, "h")
      .filter(least(col("cn") - col("cp"), col("rn") - col("rp")) >= minCommon)
      .select(col("doc_id"), col("ref_id")).distinct()
    cand
      .join(cSets.select(col("doc_id"), col("hs").as("chs")), "doc_id")
      .join(rSets.select(col("doc_id").as("ref_id"), col("hs").as("rhs"),
        col("n").as("rn")), "ref_id")
      .withColumn("__common",
        graft.functions.SetExprs.sortedIntersectCount(col("chs"), col("rhs")))
      // filter on the UNROUNDED ratio (same IEEE division the oracle
      // applies), round only for the output column
      .withColumn("__c", col("__common").cast("double") / col("rn"))
      .filter(col("__c") >= threshold)
      .select(col("doc_id"), col("ref_id"),
        round(col("__c"), 4).as("containment"))
      .orderBy(col("doc_id"), col("ref_id"))
  }

  /** Connected components over a near-dup pair graph — the step that
    * turns verified pairs into dedup CLUSTERS (cluster id = minimum
    * member id, the canonical "keep" document). Iterative min-label
    * propagation: each round every node takes the minimum of its own
    * label and its neighbors' labels, until a fixpoint — the standard
    * distributed CC shape (Pregel-style), converging in O(component
    * diameter) rounds, which for near-dup clusters (dense, small) is
    * a handful. Each round is one equi-join + one map-side-combinable
    * min aggregate; the driver only checks the converged flag.
    * Only documents appearing in ≥1 pair get a row (singletons are
    * not clusters). */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    // symmetric edge list, hash-partitioned on the join key ONCE and
    // cached: every round's propagation join then reads co-located
    // edge partitions instead of re-shuffling the (potentially huge)
    // edge set per iteration.
    // Symmetrization is a row-local explode of both directions, NOT
    // union(pairs.select(fwd), pairs.select(rev)): `pairs` is the full
    // LSH-verify join and a two-arm union physically evaluates that
    // subtree twice (its internal caches hide the re-run from a
    // parquet-scan plan sweep) — one generator pass emits the same
    // row bag from one evaluation (guide §1.2.1).
    val edges = pairs.select(explode(array(
        struct(col("id1").as("src"), col("id2").as("dst")),
        struct(col("id2").as("src"), col("id1").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(col("dst"))
      .cache()
    // convergence via the label-sum invariant: propagation only ever
    // DECREASES labels, so the (exact, decimal) sum is strictly
    // monotone until the fixpoint — one cheap aggregate per round
    // instead of a change-detection join
    def labelSum(df: DataFrame): java.math.BigDecimal =
      // coalesce: sum over an empty frame is null (empty pair input)
      df.agg(coalesce(sum(col("label").cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)"))).first()
        .getDecimal(0)
    // localCheckpoint LAZILY everywhere in the loop: the logical plan
    // is truncated immediately (so plans stay round-constant), while
    // the actual materialization rides the labelSum action — one
    // Spark job per round total, not checkpoint-job + sum-job
    var labels = edges.select(col("dst").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
      .localCheckpoint(false)
    var prevSum = labelSum(labels)
    var converged = false
    while (!converged) {
      // min over {own label} ∪ {neighbor labels}: the union feeds the
      // node's own label into the same min-aggregate the neighbor
      // labels go through — one join + one agg per round, not
      // join + agg + second join
      val next = edges
        .join(labels.select(col("id").as("dst"), col("label")), "dst")
        .select(col("src").as("id"), col("label"))
        .union(labels)
        .groupBy(col("id")).agg(min(col("label")).as("label"))
        // truncate lineage each round: without this the plan doubles
        // per iteration and optimization time, not data, dominates
        .localCheckpoint(false)
      // this one action computes the round, persists the checkpoint
      // blocks, and folds the convergence statistic — nothing else runs
      val s = labelSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      // `next` is materialized by the sum above; the previous round's
      // checkpoint blocks are dead — free them so storage stays
      // constant in the iteration count, not linear
      labels.unpersist()
      labels = next
    }
    edges.unpersist()
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
      .orderBy(col("doc_id"))
  }

  // ---- SimHash ---------------------------------------------------------

  /** Near-dup pairs by SimHash hamming distance ≤ maxHamming over any
    * (doc_id, text) frame, exact-Jaccard verified (see [[simhashCore]]
    * for the multi-index candidate walk). The CHECKED signature (the
    * approx-tier gating pattern): SimHash is hash-agnostic, so each
    * token's 60-bit hash is an md5 prefix
    * (`conv(substr(md5(tok),1,15),16,10)`; DuckDB:
    * `('0x'||substr(md5(tok),1,15))::UBIGINT`) and the signature is
    * built from builtin expressions only: per-token ±1 bit votes
    * folded with `aggregate`/`transform` (row-local, no shuffle),
    * sign-thresholded into a 60-bit BIGINT. Every downstream number —
    * the multi-index candidate walk, hamming distances, exact-Jaccard
    * verification — is then integer arithmetic both engines replay
    * bit for bit, so the oracle re-derives the COMPLETE pair list (60
    * bits in 4 bands of 15 keeps the pigeonhole exactness to hamming
    * 2·bands-1 = 7; an all-pairs bit_count(xor) in SQL is the
    * oracle's shape, the banded index is Spark's). The default
    * maxBucket is UNCAPPED: the oracle's all-pairs scan has no cap, so
    * a band bucket overflowing the cap (a mass-dup cluster larger
    * than maxBucket) would drop capped-out pairs on the Spark side
    * only and fail verification against a correct engine — exactly
    * the completeness this face exists to prove. */
  def simhashPairsCheckedOn(docs: DataFrame, maxHamming: Int = 7,
                            bands: Int = 4, maxBucket: Int = Int.MaxValue,
                            threshold: Double = 0.8): DataFrame = {
    val sigBits = 60
    val tokHash = (tok: Column) =>
      conv(substring(md5(tok), 1, 15), 16, 10).cast("long")
    // bit b's vote sum is 2·(set count) − n, so the sign test is
    // 2·set > n, one counting pass per bit over the STAGED hash
    // array (hash each token once). The bit index is a RUNTIME value
    // inside one aggregate/transform/filter nest — unrolling the 60
    // bits into 60 expressions instead generates a Janino unit that
    // takes ~5s of one-time codegen compilation (measured; the
    // runtime is identical), which lands on whatever query compiles
    // the plan first
    val sigFromHashes = expr(
      s"""aggregate(
         |  transform(sequence(0, ${sigBits - 1}),
         |    b -> IF(2 * size(filter(__ht, h -> (shiftright(h, b) & 1) = 1))
         |              > size(__ht),
         |            shiftleft(cast(1 as bigint), b), cast(0 as bigint))),
         |  cast(0 as bigint), (acc, x) -> acc + x)""".stripMargin)
    val staged = Tables.spread(docs)
      .select(col("doc_id"), TextOps.toks(col("text")).as("__t"))
      .select(col("doc_id"), transform(col("__t"), tokHash).as("__ht"),
        shingleHashesExpr(col("__t")).as("hs"))
      .select(col("doc_id"), sigFromHashes.as("sig"), col("hs"))
      .withColumn("n", size(col("hs")))
      .cache()
    simhashCore(staged, sigBits, maxHamming, bands, maxBucket, threshold)
  }

  /** The checked faces' DuckDB oracle, parameterized by the hamming
    * bound so the 4×15 (≤7) and 3×20 (≤5) band widths share one
    * member chain (the compareOracleSql/ensembleOracleSql
    * discipline): all-pairs bit_count(xor) over the same 60-bit
    * md5-prefix signatures, then exact 3-shingle Jaccard. */
  def simhashOracleSql(maxHamming: Int = 7): String =
    s"""WITH tok AS (SELECT doc_id,
       |    unnest(string_split_regex(trim(text), '\\s+')) AS w
       |  FROM documents),
       |th AS (SELECT doc_id,
       |    (('0x' || substr(md5(w), 1, 15))::UBIGINT)::BIGINT AS h
       |  FROM tok),
       |bc AS (SELECT doc_id, b,
       |    sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS c
       |  FROM th CROSS JOIN range(60) r(b) GROUP BY 1, 2),
       |sig AS (SELECT doc_id,
       |    sum(CASE WHEN c > 0 THEN (1::BIGINT << b) ELSE 0 END) AS sig
       |  FROM bc GROUP BY 1),
       |toks2 AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
       |  FROM documents),
       |sh AS (SELECT DISTINCT doc_id,
       |    unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
       |      i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
       |  FROM toks2 WHERE len(t) >= 3),
       |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |cand AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
       |    CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
       |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.sig, b.sig)) <= $maxHamming),
       |com AS (SELECT c.id1, c.id2, c.hamming, count(*) AS common
       |  FROM cand c JOIN sh x ON x.doc_id = c.id1
       |  JOIN sh y ON y.doc_id = c.id2 AND y.s = x.s
       |  GROUP BY 1, 2, 3)
       |SELECT c.id1, c.id2, c.hamming,
       |  round(common * 1.0 / (sx.n + sy.n - common), 4) AS jaccard
       |FROM com c JOIN sz sx ON sx.doc_id = c.id1
       |JOIN sz sy ON sy.doc_id = c.id2
       |WHERE round(common * 1.0 / (sx.n + sy.n - common), 4) >= 0.8
       |ORDER BY id1, id2""".stripMargin

  /** Multi-index candidate walk + hamming filter + exact-Jaccard
    * verification over a staged (doc_id, sig, hs, n) frame of
    * `sigBits`-bit signatures. Multi-index hashing (Norouzi et al.,
    * CVPR'12): the signature splits into `bands` chunks of
    * sigBits/bands bits, the index side posts each chunk value, and
    * the probe side enumerates each chunk's 1-bit variants. By
    * pigeonhole a pair within hamming 2·bands-1 has some chunk with
    * ≤ 1 differing bit, so recall is EXACT up to that radius.
    *
    * Wide (15–20-bit) chunks are what survives scale: 8-bit chunks
    * have 256 values, so at billions of docs every bucket holds
    * ~n/256 docs and the self-join goes ~n²/256; 15-bit chunks spread
    * over 32768 values at the price of more probe keys per chunk, and
    * `maxBucket` bounds adversarial residue. SimHash scores
    * token-*distribution* similarity — on narrow-vocabulary corpora
    * the hamming ball is a recall-oriented candidate generator whose
    * volume grows with the corpus, so the walk composes the
    * exact-Jaccard verifier over the survivors and emits verified
    * (id1, id2, hamming, jaccard) pairs, the same complete-dedup
    * contract as minhash/ngram. */
  private def simhashCore(staged: DataFrame, sigBits: Int, maxHamming: Int,
                          bands: Int, maxBucket: Int,
                          threshold: Double): DataFrame = {
    require(sigBits % bands == 0 && bands >= 2,
      s"bands must divide $sigBits, got $bands")
    require(maxHamming <= 2 * bands - 1,
      s"multi-index with 1-bit probes is exact only to hamming 2*bands-1 = " +
        s"${2 * bands - 1}; maxHamming=$maxHamming would silently lose recall")
    val chunkBits = sigBits / bands
    val mask = lit((1L << chunkBits) - 1)
    val sigs = staged.select(col("doc_id"), col("sig"))
    val sets = staged.select(col("doc_id"), col("hs"), col("n"))
    val chunks = (0 until bands).map(i =>
      shiftright(col("sig"), i * chunkBits).bitwiseAND(mask))
    // capBucketsRep caches the ranked frame: the SimHash aggregation
    // pipeline materializes once for the index, probes, and overflow
    val (index, overflow) = capBucketsRep(
      sigs.select(col("doc_id"), col("sig"),
        posexplode(array(chunks: _*)).as(Seq("chunk_idx", "chunk_val"))),
      Seq("chunk_idx", "chunk_val"), "doc_id", maxBucket)
    // A chunk pair within hamming 1 is either EQUAL (covered by the
    // plain index self-join below) or differs in exactly one bit b —
    // and then exactly one side holds bit b = 0, whose UPWARD flip
    // (0→1, i.e. the variant > chunk_val) equals the other side's
    // exact chunk value. Probing upward flips only — against exact
    // index values, from both sides, XOR-symmetry covering the
    // direction — halves probe volume (~chunkBits/2 variants/chunk
    // instead of chunkBits+1) with identical recall.
    val flips = (0 until chunkBits).map(b =>
      col("chunk_val").bitwiseXOR(lit(1L << b)))
    val probeUp = index.select(col("doc_id"), col("chunk_idx"),
      explode(filter(array(flips: _*), v => v > col("chunk_val")))
        .as("probe_val"))
    val candEq = index.as("a")
      .join(index.as("b"),
        col("a.chunk_idx") === col("b.chunk_idx") &&
        col("a.chunk_val") === col("b.chunk_val") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
    val candUp = probeUp.as("a")
      .join(index.as("b"),
        col("a.chunk_idx") === col("b.chunk_idx") &&
        col("a.probe_val") === col("b.chunk_val") &&
        col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("id1"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("id2"))
    val cand = candEq.union(candUp).union(overflow).distinct()
    val withHamming = cand
      .join(sigs.select(col("doc_id").as("id1"), col("sig").as("sig1")), "id1")
      .join(sigs.select(col("doc_id").as("id2"), col("sig").as("sig2")), "id2")
      .withColumn("hamming",
        bit_count(col("sig1").bitwiseXOR(col("sig2"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id1"), col("id2"), col("hamming"))
    verifyJaccard(withHamming, sets)
      .filter(col("jaccard") >= threshold)
      .orderBy(col("id1"), col("id2"))
  }

  // ---- exact n-gram Jaccard -------------------------------------------

  /** Exact all-pairs n-gram Jaccard ≥ threshold with prefix filtering
    * (PPJoin family, Xiao et al., WWW'08): under ANY fixed global
    * shingle order, a pair at Jaccard ≥ t must collide inside each
    * side's first |d| - ⌈t·|d|⌉ + 1 shingles. Using hash order as
    * the global order makes the prefix a `slice` of the already
    * sorted per-doc shingle array — zero extra shuffles — and only
    * those prefix postings are self-joined, with a length filter
    * (t·max ≤ min) ahead of exact set verification. */
  def ngramJaccard(s: SparkSession, d: String, threshold: Double = 0.8,
                   maxDf: Int = 0): DataFrame =
    ngramJaccardOn(Tables.documents(s, d), threshold, maxDf)

  /** Same over any (doc_id, text) frame. `maxDf` > 0 caps the posting
    * list of a prefix shingle (deterministic lowest-ids-win) — the
    * safety valve against a globally common shingle creating a hot
    * quadratic key at corpus scale. 0 (the default) keeps the
    * algorithm exact. */
  def ngramJaccardOn(docs: DataFrame, threshold: Double = 0.8,
                     maxDf: Int = 0): DataFrame = {
    // one scan-side pass feeds prefix build and verification alike
    val sets = docShingleSets(docs).cache()
    // every ceil of a threshold product goes through ceilSafe: an FP
    // overshoot here shortens the prefix / raises a bound and silently
    // prunes genuine J == threshold pairs (the shipped defaults happen
    // to undershoot, but exactness must not depend on the threshold)
    val prefixLen =
      (col("n") - ceilSafe(lit(threshold) * col("n")) + 1).cast("int")
    // posexplode keeps each posting's position in the sorted set: the
    // PPJoin positional filter needs it below
    val prefix0 = sets.select(col("doc_id"), col("n"),
      posexplode(slice(col("hs"), lit(1), greatest(prefixLen, lit(0))))
        .as(Seq("p", "h")))
    // maxDf=0: derive the empty overflow frame from the data so the
    // id1/id2 types always match doc_id's type — a hardcoded lit(0L)
    // would silently widen the union's columns for non-long ids
    val (prefix, overflow) =
      if (maxDf > 0) capBucketsRep(prefix0, Seq("h"), "doc_id", maxDf)
      else (prefix0, prefix0
        .select(col("doc_id").as("id1"), col("doc_id").as("id2")).limit(0))
    // overlap required for J ≥ t: common ≥ t·(na+nb)/(1+t); a shared
    // shingle at 0-based sorted positions (pa, pb) bounds the overlap
    // by min(na-pa, nb-pb) — common shingles can only come from the
    // suffixes starting at the shared element — and a true pair always
    // collides on its FIRST shared prefix shingle where the bound
    // holds, so the filter is exact: it only prunes postings that
    // cannot witness the threshold.
    val minOverlap =
      ceilSafe(lit(threshold) / (1 + threshold) * (col("a.n") + col("b.n")))
    val cand = prefix.as("a")
      .join(prefix.as("b"), col("a.h") === col("b.h") &&
        col("a.doc_id") < col("b.doc_id") &&
        least(col("a.n"), col("b.n")) >=
          ceilSafe(lit(threshold) * greatest(col("a.n"), col("b.n"))) &&
        least(col("a.n") - col("a.p"), col("b.n") - col("b.p")) >= minOverlap)
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .union(overflow)
      .distinct()
    verifyJaccard(cand, sets)
      .filter(col("jaccard") >= threshold)
      .orderBy(col("id1"), col("id2"))
  }

  // ---- embedding cosine ------------------------------------------------

  /** Exact embedding-cosine pairs ≥ threshold — the oracle-checked
    * baseline face. All-pairs by definition (cosine at moderate
    * thresholds admits no exact LSH shortcut: collision probability
    * per hyperplane at cos≈0.45 is only ~0.65, so any bucketing that
    * reaches recall 1 has degenerated to all-pairs anyway). The small
    * side broadcasts, the codegen'd cosine kernel does the O(n²/2)
    * scoring; for the high-similarity regime real dedup targets, use
    * [[embeddingPairsLsh]]. */
  def embeddingPairs(s: SparkSession, d: String,
                     threshold: Double = 0.45): DataFrame = {
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    // spread the stream side across all cores before the quadratic
    // scoring: a single parquet file otherwise leaves the nested-loop
    // join running in ONE task
    emb.select(col("vec_id").as("id1"), col("embedding").as("e1"))
      .repartition(s.sparkContext.defaultParallelism)
      .crossJoin(broadcast(
        emb.select(col("vec_id").as("id2"), col("embedding").as("e2"))))
      .filter(col("id1") < col("id2"))
      .withColumn("cosine", round(SimilarityOps.cosine(col("e1"), col("e2")), 4))
      .filter(col("cosine") >= threshold)
      .select(col("id1"), col("id2"), col("cosine"))
      .orderBy(col("id1"), col("id2"))
  }

  /** Embedding near-dup pairs at scale: multi-table random-hyperplane
    * LSH (OR-construction). Each of `nTables` independent tables
    * buckets on `nBits` sign bits; a pair is a candidate if it
    * collides in ANY table, and exact cosine verifies candidates.
    * At the high-similarity thresholds dedup actually runs
    * (cos ≥ 0.99 ⇒ per-bit collision ~0.97, per-table ~0.77,
    * 4-table miss ~0.3%), recall is near-exact while candidate
    * volume stays ~n·tables/2^bits — never all-pairs.
    *
    * `nBits <= 0` (the default) derives the bit width from the
    * corpus size via [[SimilarityOps.adaptiveBits]] — fixed buckets
    * mean bucket occupancy (hence candidate pairs per bucket) grows
    * linearly with n, the one measured super-linear scaling in the
    * r7 SCALING run. The count behind it is one metadata-cheap
    * count(*) job, paid once before the bucketing plan is built. */
  def embeddingPairsLsh(s: SparkSession, d: String,
                        threshold: Double = 0.9, nBits: Int = 0,
                        nTables: Int = 4, maxBucket: Int = 1000): DataFrame =
    embeddingPairsLshOn(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
      threshold, nBits, nTables, maxBucket)

  /** Same over any (vec_id, embedding) frame. */
  def embeddingPairsLshOn(emb: DataFrame, threshold: Double = 0.9,
                          nBits: Int = 0, nTables: Int = 4,
                          maxBucket: Int = 1000): DataFrame = {
    val bits =
      if (nBits > 0) nBits else SimilarityOps.adaptiveBits(emb.count())
    val tables = (0 until nTables).map { t =>
      emb.select(col("vec_id"), lit(t).as("table"),
        SimilarityOps.lshBucket(col("embedding"), bits, seed = 42L + t)
          .as("bucket"))
    }.reduce(_.union(_))
    // capBucketsRep caches the ranked frame — both self-join sides and
    // the overflow read one materialization of the bucketing pipeline
    val (bucketed, overflow) = capBucketsRep(tables,
      Seq("table", "bucket"), "vec_id", maxBucket)
    val cand = bucketed.as("a")
      .join(bucketed.as("b"),
        col("a.table") === col("b.table") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"))
      .union(overflow)
      .distinct()
    cand
      .join(emb.select(col("vec_id").as("id1"), col("embedding").as("e1")), "id1")
      .join(emb.select(col("vec_id").as("id2"), col("embedding").as("e2")), "id2")
      .withColumn("cosine", round(SimilarityOps.cosine(col("e1"), col("e2")), 4))
      .filter(col("cosine") >= threshold)
      .select(col("id1"), col("id2"), col("cosine"))
      .orderBy(col("id1"), col("id2"))
  }

  // ---- Semantic dedup (SemDeDup) ---------------------------------------

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    * embedding space, then prune semantic duplicates WITHIN each
    * cluster — pairs whose cosine clears `tau` are redundant
    * paraphrases/templates even when no shingle overlaps, and the
    * clustering confines the quadratic comparison to cluster-sized
    * buckets (the LSH-band role, played by k-means cells). Per doc:
    * its cluster, how many LOWER-id in-cluster docs shadow it, and
    * the kept verdict (kept ⟺ unshadowed — the deterministic
    * stand-in for the paper's keep-one-per-group; min-id wins, the
    * house convention every dedup face uses).
    *
    * Scale: k derives from the corpus count as ceil(n/`cell`) —
    * FIXED expected cluster size, so candidate pairs are
    * k·(n/k)²/2 = n·cell/2, LINEAR in the corpus (vs the all-pairs
    * n²/2 of dedup_embedding, which exists as the exact baseline).
    * The count behind k is one metadata-cheap job (the adaptiveBits
    * posture). Assignment reuses [[MlOps.kmeansAssign]] — narrow
    * dim-keyed joins, no array rebuilds; the pair stage self-joins on
    * the cluster key only.
    *
    * Parity engineering: coordinates quantize ONCE to 1e-6 BIGINTs;
    * the assignment is the kmeansPlan fixed-point integer contract,
    * and the cosine gate runs as an exact integer cross-
    * multiplication (the q22 posture): cos ≥ τ ⟺ dot > 0 ∧
    * dot²·1e8 ≥ τm²·‖a‖²·‖b‖², with dot² and the norm product
    * widened to DECIMAL(38,0) (dot ≤ d·1e12 overflows BIGINT when
    * squared — the q8 widening precedent). No double ever forms, so
    * no rounding boundary exists for the engines to disagree on.
    * Per-pair dots and norms run through the codegen'd exact-integer
    * [[graft.functions.VectorKernels.dotLong]] kernel (the CosineSim
    * posture — interpreted zip_with lambdas measured ~3× slower over
    * the sf1 candidate volume), and the many-cluster assignment is
    * [[MlOps.kmeansAssignArr]]'s broadcast-centroid row-local argmin
    * rather than the exploded dim join (whose n·d·k rows per round
    * measured 77s vs 8s at derived sf1). */
  def semanticDedup(s: SparkSession, d: String, tauMicro4: Long = 2000L,
                    iters: Int = 2, cell: Long = 256L): DataFrame =
    semanticDedupOn(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
      tauMicro4, iters, cell)

  /** Same over any (vec_id, embedding) frame. `tauMicro4` is the
    * cosine threshold in 1e-4 units (2000 = 0.20). Seeding contract
    * (via [[MlOps.kmeansAssignArr]]): the k = ⌈n/cell⌉ centroids are
    * the rows with the k smallest vec_ids — rank-selected, so ids
    * need not be dense from 0; cluster labels are those seed ids. */
  def semanticDedupOn(emb: DataFrame, tauMicro4: Long, iters: Int,
                      cell: Long): DataFrame = {
    val n = emb.count()
    val k = math.max(4L, math.ceil(n.toDouble / cell).toLong)
    // one materialization feeds the assignment AND both pair sides
    // (the PrefixSum ownership contract)
    val q = Tables.spread(emb)
      .select(col("vec_id"),
        transform(col("embedding"),
          x => round(x.cast("double") * 1000000, 0).cast("long")).as("q6"))
      .localCheckpoint(false)
    // checkpoint the (vec_id, cluster) frame — 2 longs per row: the
    // pair join reads it on BOTH sides, and without the barrier each
    // side re-derives the whole iterate chain (the kmeansPlan
    // 104-scan pathology, here doubled)
    val asg = MlOps.kmeansAssignArr(
        q.select(col("vec_id"),
          transform(col("q6"), x => x + 1000000L).as("a6")),
        k, iters)
      .select("vec_id", "cluster")
      .localCheckpoint(false)
    val withC = q.join(asg, "vec_id")
      .withColumn("nn",
        graft.functions.VectorExprs.dotLong(col("q6"), col("q6")))
    val lhs = withC.select(col("cluster"), col("vec_id").as("i"),
      col("q6").as("qa"), col("nn").as("na"))
    val rhs = withC.select(col("cluster"), col("vec_id").as("j"),
      col("q6").as("qb"), col("nn").as("nb"))
    val dec = "decimal(38,0)"
    val shadows = lhs.join(rhs,
        lhs("cluster") === rhs("cluster") && col("j") < col("i"))
      .withColumn("dot",
        graft.functions.VectorExprs.dotLong(col("qa"), col("qb")))
      .filter(col("dot") > 0 &&
        col("dot").cast(dec) * col("dot").cast(dec) * lit(100000000L).cast(dec)
          >= lit(tauMicro4 * tauMicro4).cast(dec) *
             col("na").cast(dec) * col("nb").cast(dec))
      .groupBy(col("i").as("vec_id"))
      .agg(count(lit(1)).as("n_dups"))
    withC.select(col("vec_id"), col("cluster"))
      .join(shadows, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        col("n_dups").isNull.as("kept"))
      .orderBy(col("vec_id"))
  }

  /** DuckDB replica of [[semanticDedupOn]]: k from count(*) in SQL,
    * the Lloyd's loop unrolled (`iters` assignment/update rounds on
    * shifted 1e-6 integer coordinates, exactly kmeansAssign), then
    * in-cluster pairs gated by the same HUGEINT cross-multiplication.
    */
  private[graft] def semanticDedupOracleSql(tauMicro4: Long = 2000L,
                                            iters: Int = 2,
                                            cell: Long = 256L,
                                            dims: Int = 64): String = {
    val rounds = (1 to iters).map { r =>
      s"""s$r AS (SELECT v.vec_id, c.cluster,
         |    sum((v.v6 - c.c6) * (v.v6 - c.c6)) AS d2
         |  FROM v JOIN c${r - 1} c ON v.dim = c.dim GROUP BY 1, 2),
         |a$r AS (SELECT vec_id, cluster FROM (SELECT *, row_number()
         |    OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rk
         |    FROM s$r) WHERE rk = 1),
         |c$r AS (SELECT a.cluster, v.dim, sum(v.v6) // count(*) AS c6
         |  FROM v JOIN a$r a ON v.vec_id = a.vec_id GROUP BY 1, 2),""".stripMargin
    }.mkString("\n")
    val f = iters + 1
    s"""WITH p AS (SELECT greatest(4, CAST(ceil(count(*) / $cell.0)
       |    AS BIGINT)) AS k FROM embeddings),
       |dims AS (SELECT unnest(range(1, ${dims + 1})) AS dim),
       |v AS (SELECT vec_id, dim,
       |    CAST(round(CAST(embedding[dim] AS DOUBLE) * 1000000, 0)
       |      AS BIGINT) + 1000000 AS v6
       |  FROM embeddings, dims),
       |c0 AS (SELECT vec_id AS cluster, dim, v6 AS c6 FROM v, p
       |       WHERE vec_id < p.k),
       |$rounds
       |s$f AS (SELECT v.vec_id, c.cluster,
       |    sum((v.v6 - c.c6) * (v.v6 - c.c6)) AS d2
       |  FROM v JOIN c$iters c ON v.dim = c.dim GROUP BY 1, 2),
       |asg AS (SELECT vec_id, cluster FROM (SELECT *, row_number()
       |    OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rk
       |    FROM s$f) WHERE rk = 1),
       |u AS (SELECT vec_id, dim, v6 - 1000000 AS u6 FROM v),
       |nrm AS (SELECT vec_id, sum(u6 * u6) AS nn FROM u GROUP BY 1),
       |pr AS (SELECT x.vec_id AS i, y.vec_id AS j,
       |    sum(xu.u6 * yu.u6) AS dot
       |  FROM asg x JOIN asg y ON x.cluster = y.cluster
       |    AND y.vec_id < x.vec_id
       |  JOIN u xu ON xu.vec_id = x.vec_id
       |  JOIN u yu ON yu.vec_id = y.vec_id AND yu.dim = xu.dim
       |  GROUP BY 1, 2),
       |sh AS (SELECT i, count(*) AS n_dups FROM pr
       |  JOIN nrm ni ON ni.vec_id = pr.i
       |  JOIN nrm nj ON nj.vec_id = pr.j
       |  WHERE dot > 0 AND CAST(dot AS HUGEINT) * dot * 100000000
       |    >= CAST(${tauMicro4 * tauMicro4} AS HUGEINT) * ni.nn * nj.nn
       |  GROUP BY 1)
       |SELECT a.vec_id, a.cluster,
       |  coalesce(sh.n_dups, 0) AS n_dups, sh.i IS NULL AS kept
       |FROM asg a LEFT JOIN sh ON sh.i = a.vec_id
       |ORDER BY a.vec_id""".stripMargin
  }

  // ---- Blocked fuzzy matching (entity resolution) ----------------------

  /** Fuzzy-duplicate pairs over short strings — the ENTITY-RESOLUTION
    * face of dedup (names, titles, addresses), where duplicates are
    * typos rather than shared shingles, so the n-gram/MinHash family
    * misses them and edit distance is the right metric.
    *
    * Classic blocked shape: records meet only inside a BLOCK, then a
    * cheap length filter (|len_a − len_b| ≤ maxDist is a provable
    * lower bound on edit distance) guards the O(len²) Levenshtein
    * kernel. Never an all-pairs product: the block join is an
    * equi-join Catalyst shuffles on the block key.
    *
    * THE BLOCKING KEY IS THE SCALE DIAL — a lesson this repo measured
    * rather than assumed: with first-char-only blocks (6 distinct
    * values) the block COUNT is constant, so block size grows
    * linearly with the corpus and candidate pairs quadratically —
    * 17 s at sf0.1 became 390 s at sf1. Appending `blockSuffix` tail
    * characters (default 3) multiplies the block count by the suffix
    * alphabet and collapses that to sub-linear candidate growth. The
    * key must be one the NOISE MODEL preserves: a deletion anywhere
    * past the first character keeps both the first char and (for the
    * id-suffixed names here) the tail intact, exactly like production
    * phonetic/prefix/suffix multi-pass keys are chosen per error
    * model. A residual hot block is the [[graft.ops.SkewOps]]
    * scenario — salt it or lengthen the suffix. */
  def fuzzyPairsOn(recs: DataFrame, maxDist: Int = 2,
                   blockSuffix: Int = 3): DataFrame = {
    def blk(name: Column): Column =
      if (blockSuffix <= 0) substring(name, 1, 1)
      else concat(substring(name, 1, 1), right(name, lit(blockSuffix)))
    val a = recs.select(col("id").as("id_a"), col("name").as("name_a"))
      .withColumn("blk", blk(col("name_a")))
    val b = recs.select(col("id").as("id_b"), col("name").as("name_b"))
      .withColumn("blk", blk(col("name_b")))
    a.join(b, "blk")
      .filter(col("id_a") < col("id_b") &&
        abs(length(col("name_a")) - length(col("name_b"))) <= maxDist)
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
      .orderBy(col("id_a"), col("id_b"))
  }

  // ---- Span-level (substring) duplication ------------------------------

  /** Per-document duplicated-SPAN statistics — the duplication that
    * document-level measures (exact hash, MinHash Jaccard) cannot
    * see: a boilerplate paragraph pasted into thousands of otherwise
    * distinct pages. Training-data dedup removes or trims such spans
    * rather than whole documents (the "exact substring" family of
    * corpus dedup, done there with suffix arrays; the distributed
    * form is this word n-gram inverted index).
    *
    * A span is duplicated when its word `n`-gram occurs in ≥ 2
    * DISTINCT documents (a phrase repeated within one document is
    * repetition — [[graft.ops.TextOps]]'s repetition score — not
    * cross-document duplication). Output per document: total n-gram
    * positions, duplicated positions, and their ratio — the trim/drop
    * signal.
    *
    * Scale shape: n-grams are hashed to 64-bit BEFORE leaving the
    * scan (xxhash64 over the joined words — shuffle rows stay
    * narrow), then ONE aggregation keyed by gram hash finds shared
    * grams, a semi join marks the duplicated positions, and one
    * aggregation keyed by doc_id folds them per document. No
    * all-pairs comparison anywhere; the gram key is uniformly
    * distributed by construction, so the shuffle cannot skew. The
    * dup-gram set scales with the corpus — the semi join is left
    * un-hinted so AQE broadcasts it only when it measures small. */
  def substringDupStats(docs: DataFrame, n: Int = 10): DataFrame = {
    val (base, grams, dupSet) = gramIndex(docs, n)
    val dupPerDoc = grams.join(dupSet, Seq("g"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("dup"))
    base.select(col("doc_id"), col("n_ngrams"))
      .join(dupPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_ngrams"),
        coalesce(col("dup"), lit(0L)).as("dup_ngrams"))
      .withColumn("dup_frac", when(col("n_ngrams") > 0,
        ExactRatio.r4(col("dup_ngrams"), col("n_ngrams")))
        .otherwise(lit(0.0)))
      .orderBy(col("doc_id"))
  }

  /** Shared word-n-gram inverted index: (doc_id, ws, n_ngrams) base,
    * positioned 64-bit gram stream, and the cross-doc duplicated gram
    * set. `base` is cached — it feeds per-doc totals AND the gram
    * explode (ownership: materialized by the caller's action, cleared
    * by the session's cache lifecycle). */
  private def gramIndex(docs: DataFrame, n: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val base = Tables.spread(docs)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("n_ngrams",
        greatest(size(col("ws")) - (n - 1), lit(0)).cast("long"))
      .cache()
    val grams = base.filter(size(col("ws")) >= n)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), size(col("ws")) - n),
        i => xxhash64(concat_ws(" ", slice(col("ws"), i + 1, lit(n))))))
        .as(Seq("pos", "g")))
    // "≥ 2 distinct docs" ≡ min(doc_id) ≠ max(doc_id): two fixed-width
    // aggregation buffers instead of count_distinct's partial-distinct
    // expansion — the gram-key aggregate is the widest shuffle in both
    // span operators, so its buffer shape is what scales
    val dupSet = grams.groupBy(col("g"))
      .agg(min(col("doc_id")).as("d0"), max(col("doc_id")).as("d1"))
      .filter(col("d0") =!= col("d1"))
      .select(col("g"))
    (base, grams, dupSet)
  }

  /** Span TRIMMING — the action [[substringDupStats]]'s signal
    * drives: rebuild each document WITHOUT the words covered by any
    * cross-document duplicated n-gram (the "exact substring dedup"
    * transform of LLM corpus curation: the boilerplate paragraph is
    * cut out of every page that carries it, the surrounding original
    * prose survives). A word position is dropped when ≥ 1 duplicated
    * gram covers it; a document with no duplicated grams passes
    * through verbatim.
    *
    * Scale shape on top of the shared gram index: duplicated grams
    * explode to their `n` covered positions (bounded ×n row growth on
    * the DUPLICATED subset only), distinct per (doc, position), anti
    * join against the positioned word stream, and one per-doc
    * ordered rebuild (array_sort(collect_list(struct(pos, word)))) —
    * the emb_centroids order-independence pattern, so the
    * reconstruction cannot depend on aggregation order. */
  def trimDupSpans(docs: DataFrame, n: Int = 10): DataFrame = {
    val (base, grams, dupSet) = gramIndex(docs, n)
    val covered = grams.join(dupSet, Seq("g"), "left_semi")
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("wpos"))
      .distinct()
    rebuildWithout(base, covered)
  }

  /** The shared rebuild stage of the two span-cut operators
    * ([[trimDupSpans]] and [[decontaminateCut]]): drop the covered
    * 0-based word positions, reconstruct each document in position
    * order (array_sort(collect_list(struct)) — the order-independent
    * emb_centroids pattern), pass uncovered documents through
    * verbatim. `base` = (doc_id, ws, …); `covered` = (doc_id, wpos). */
  private def rebuildWithout(base: DataFrame,
                             covered: DataFrame): DataFrame = {
    val words = base.select(col("doc_id"),
      posexplode(col("ws")).as(Seq("wpos", "word")))
    val kept = words.join(covered, Seq("doc_id", "wpos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_sort(collect_list(struct(col("wpos"), col("word")))).as("pw"))
      .select(col("doc_id"), col("n_kept"),
        concat_ws(" ", transform(col("pw"), x => x.getField("word")))
          .as("text_trimmed"))
    base.select(col("doc_id"), size(col("ws")).cast("long").as("n_words"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_trimmed"), lit("")).as("text_trimmed"))
      .orderBy(col("doc_id"))
  }

  /** The CUT face of cross-corpus decontamination — the action
    * [[decontaminateSpans]]'s report drives, and the cross-corpus
    * analog of [[trimDupSpans]]: rebuild each corpus document WITHOUT
    * the words covered by any `n`-gram that also appears in ANY
    * reference document (the leaked eval item is excised, the
    * surrounding original prose survives; a clean document passes
    * through verbatim). Same schema as [[trimDupSpans]] —
    * (doc_id, n_words, n_kept, text_trimmed) — via the shared
    * rebuild, so the within-corpus and cross-corpus cut faces cannot
    * drift.
    *
    * Scale shape: both sides gram row-locally; the reference set
    * collapses to DISTINCT gram keys (no positions, no ref ids —
    * strictly smaller than the locator's state); one left-semi join
    * marks covered corpus positions; the rebuild is one doc-keyed
    * fold. At a tiny reference the semi join's right side broadcasts
    * (the decontaminateBroadcast regime falls out of AQE for free —
    * the gram-key frame is reference-sized). */
  def decontaminateCut(corpus: DataFrame, reference: DataFrame,
                       n: Int = 10): DataFrame = {
    def words(docs: DataFrame): DataFrame =
      Tables.spread(docs).select(col("doc_id"),
        split(col("text"), " ").as("ws"))
    val base = words(corpus).cache()
    val cg = base.filter(size(col("ws")) >= n)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), size(col("ws")) - n),
        i => xxhash64(concat_ws(" ", slice(col("ws"), i + 1, lit(n))))))
        .as(Seq("pos", "g")))
    val rg = words(reference).filter(size(col("ws")) >= n)
      .select(explode(transform(
        sequence(lit(0), size(col("ws")) - n),
        i => xxhash64(concat_ws(" ", slice(col("ws"), i + 1, lit(n)))))).as("g"))
      .distinct()
    val covered = cg.join(rg, Seq("g"), "left_semi")
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("wpos"))
      .distinct()
    rebuildWithout(base, covered)
  }

  /** Span-level decontamination LOCATOR — the face a cleanup job
    * actually consumes (VERDICT r12 ask #7): `dedup_decontaminate`
    * and `dedup_containment` flag WHICH training documents carry a
    * leaked eval item; this reports WHERE. For every corpus document
    * sharing a word `n`-gram with a reference document, emit the
    * maximal contiguous word intervals of the corpus document covered
    * by grams shared with THAT reference document — one row per
    * (doc_id, ref_id, span), with 1-based inclusive word positions
    * and the leaked slice itself, ready to cut.
    *
    * Scale shape on the [[trimDupSpans]] gram-index pattern, cross
    * corpus: both sides gram row-locally in the scan projection
    * (64-bit hashed keys, like `gramIndex`); the candidate join is an
    * equality join on the gram key whose fan-out equals the reported
    * location set (every output row is a genuine leak site — no
    * quadratic face to cap away); island merging is a lag window per
    * (doc_id, ref_id) pair — pair-sized partitions, never per-corpus;
    * the final text slice rejoins the corpus word arrays by doc_id.
    * Two matched grams merge into one span when their covered ranges
    * touch or overlap (next.pos ≤ prev.pos + n). */
  def decontaminateSpans(corpus: DataFrame, reference: DataFrame,
                         n: Int = 10): DataFrame = {
    def withWords(docs: DataFrame, idAs: String): DataFrame =
      Tables.spread(docs).select(col("doc_id").as(idAs),
        split(col("text"), " ").as("ws"))
    // positioned 1-based corpus grams; reference grams keep only the
    // key, distinct per (ref_id, gram) so a gram repeated inside one
    // reference doc can't multiply match rows
    val base = withWords(corpus, "doc_id").cache()
    val cg = base.filter(size(col("ws")) >= n)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("ws")) - (n - 1)),
        i => struct(i.as("pos"),
          xxhash64(concat_ws(" ", slice(col("ws"), i, lit(n)))).as("g"))))
        .as("pg"))
      .select(col("doc_id"), col("pg.pos").cast("long").as("pos"),
        col("pg.g").as("g"))
    val rg = withWords(reference, "ref_id")
      .filter(size(col("ws")) >= n)
      .select(col("ref_id"), explode(transform(
        sequence(lit(1), size(col("ws")) - (n - 1)),
        i => xxhash64(concat_ws(" ", slice(col("ws"), i, lit(n)))))).as("g"))
      .distinct()
    val hits = cg.join(rg, Seq("g"))
      .select(col("doc_id"), col("ref_id"), col("pos")).distinct()
    spansFromHits(hits, base, n, broadcastSpans = false)
  }

  /** [[decontaminateSpans]] for the reference regime production
    * actually runs (the [[decontaminateBroadcast]] posture applied to
    * the LOCATOR): the eval reference is megabytes, so its distinct
    * (ref_id, gram-key) set BROADCASTS and candidate generation is
    * entirely map-side — the corpus is never exchanged to find its
    * leak sites: grams stay in the scan projection, the gram join is
    * a broadcast hash join, and the final text slice joins the
    * (leak-sized, broadcast) span table back INTO the corpus scan
    * instead of shuffling corpus word arrays toward the spans. The
    * only exchange anywhere is hits-sized (the per-(doc, ref) island
    * window — genuine output mass). Output contract and values are
    * identical to [[decontaminateSpans]] — the faces share one
    * oracle; only the plan shape tiers.
    * [[graft.ops.Routing.decontaminateSpansAuto]] arbitrates. */
  def decontaminateSpansBroadcast(corpus: DataFrame, reference: DataFrame,
                                  n: Int = 10): DataFrame = {
    def withWords(docs: DataFrame, idAs: String): DataFrame =
      Tables.spread(docs).select(col("doc_id").as(idAs),
        split(col("text"), " ").as("ws"))
    val base = withWords(corpus, "doc_id").cache()
    val cg = base.filter(size(col("ws")) >= n)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("ws")) - (n - 1)),
        i => struct(i.as("pos"),
          xxhash64(concat_ws(" ", slice(col("ws"), i, lit(n)))).as("g"))))
        .as("pg"))
      .select(col("doc_id"), col("pg.pos").cast("long").as("pos"),
        col("pg.g").as("g"))
    val rg = withWords(reference, "ref_id")
      .filter(size(col("ws")) >= n)
      .select(col("ref_id"), explode(transform(
        sequence(lit(1), size(col("ws")) - (n - 1)),
        i => xxhash64(concat_ws(" ", slice(col("ws"), i, lit(n)))))).as("g"))
      .distinct()
    val hits = cg.join(broadcast(rg), Seq("g"))
      .select(col("doc_id"), col("ref_id"), col("pos")).distinct()
    spansFromHits(hits, base, n, broadcastSpans = true)
  }

  /** The shared back half of both span locators: merge positioned
    * gram hits into maximal islands per (doc, ref) pair, then slice
    * the leaked text back out of the corpus word arrays. Two matched
    * grams merge into one span when their covered ranges touch or
    * overlap (next.pos ≤ prev.pos + n). `broadcastSpans` picks which
    * side of the slice join moves: the symmetric face lets AQE
    * decide; the broadcast face pins the (leak-sized) span table as
    * the build side so the corpus never shuffles. */
  private def spansFromHits(hits: DataFrame, base: DataFrame, n: Int,
                            broadcastSpans: Boolean): DataFrame = {
    val wp = Window.partitionBy(col("doc_id"), col("ref_id"))
      .orderBy(col("pos"))
    val spans = hits
      .withColumn("__brk", when(col("pos") >
        lag(col("pos"), 1).over(wp) + n, 1L)
        .when(lag(col("pos"), 1).over(wp).isNull, 1L).otherwise(0L))
      .withColumn("__isl", sum(col("__brk")).over(
        wp.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("ref_id"), col("__isl"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (n - 1)).as("span_end"))
      .withColumn("span_words", col("span_end") - col("span_start") + 1)
    val sliced =
      if (broadcastSpans) base.join(broadcast(spans), Seq("doc_id"))
      else spans.join(base, Seq("doc_id"))
    sliced
      .select(col("doc_id"), col("ref_id"), col("span_start"),
        col("span_end"), col("span_words"),
        concat_ws(" ", slice(col("ws"),
          col("span_start").cast("int"),
          col("span_words").cast("int"))).as("span_text"))
      .orderBy(col("doc_id"), col("ref_id"), col("span_start"))
  }

  /** VERIFY-BY-SIGNATURE near-dup pairs — the estimator face of
    * [[minhashLsh]] and the technique that makes dedup affordable at
    * 100 TB when even the candidate-only exact-Jaccard verify is too
    * expensive: after banding produces candidates, the Jaccard is
    * ESTIMATED as the fraction of agreeing MinHash components
    * (E[est] = J exactly — the MinHash identity), so verification
    * reads the numPerm-long signature vectors already in hand and the
    * shingle sets are never touched again — the second corpus pass
    * the exact verifier pays is gone. The trade is variance
    * (σ = √(J(1−J)/numPerm) ≈ 0.05 at J=0.8, numPerm=64), declared
    * in the output name: `est_jaccard`, half-up 4dp.
    *
    * CHECKED construction (the simhashPairsCheckedOn discipline):
    * component i's hash of shingle s is the 60-bit prefix of
    * md5("i:s") — both engines compute it — and the signature is a
    * row-local array fold (per-doc transform + array_min: zero
    * shuffles to sign the corpus). Banding, candidates, component
    * agreement, and the threshold all replay bit for bit in the
    * oracle, so the contract "banded candidates with est ≥ threshold"
    * is cross-engine EXACT even though the estimate itself is
    * probabilistic relative to true Jaccard. The banding recall curve
    * (P[candidate] = 1−(1−est^rows)^bands) is the declared recall
    * contract, as in every LSH face. */
  def minhashEstPairs(docs: DataFrame, numPerm: Int = 64,
                      bands: Int = 16, threshold: Double = 0.5): DataFrame = {
    require(numPerm % bands == 0, s"bands must divide numPerm")
    val rows = numPerm / bands
    // stage the token array, then the distinct shingle STRINGS, then
    // the signature — three projections so no lambda re-evaluates an
    // expensive subtree per element (the docShingleSets O(tokens²)
    // CollapseProject trap)
    val toks = Tables.spread(docs)
      .select(col("doc_id"), TextOps.toks(col("text")).as("t"))
    val n = size(col("t"))
    val sh = toks.select(col("doc_id"),
      array_distinct(transform(
        when(n >= 3, sequence(lit(1), n - 2))
          .otherwise(array().cast("array<int>")),
        i => concat_ws(" ", slice(col("t"), i, lit(3))))).as("sh"))
      .filter(size(col("sh")) >= 1)
    val comp = (s: Column, i: Column) =>
      conv(substring(md5(concat_ws(":", i, s)), 1, 15), 16, 10).cast("long")
    // Hash each DISTINCT corpus shingle once, not once per document
    // carrying it: near-dup corpora repeat shingles heavily (sf0.1:
    // 260k doc-shingle pairs over 27k distinct shingles — a 9.6×
    // md5-work cut; Zipfian text at 100 TB repeats far more), so the
    // numPerm md5 components move to a distinct-shingle table and
    // per-doc signatures become numPerm min-aggregates over an
    // equi-join — the minhashSignatures shape. The mins range over
    // exactly the same component values as the previous per-doc
    // array fold, so signatures (and everything downstream) are
    // bit-identical; the md5("i:s") contract the oracle replays is
    // untouched.
    val shEx = sh.select(col("doc_id"), explode(col("sh")).as("s"))
    val uniq = shEx.select(col("s")).distinct()
      .select(col("s"), transform(sequence(lit(0), lit(numPerm - 1)),
        i => comp(col("s"), i)).as("v"))
    val mins = (0 until numPerm).map(j =>
      min(element_at(col("v"), j + 1)).as(s"mh$j"))
    val sigs = shEx.join(uniq, "s")
      .groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until numPerm).map(j => col(s"mh$j")): _*).as("sig"))
      .cache()
    // the band key is the rows-long component slice itself (each
    // engine needs only an injective per-band encoding for ITS OWN
    // equi-join — arrays join by value in Spark, lists in DuckDB)
    val bnd = sigs.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => slice(col("sig"), b * rows + 1, lit(rows))))
        .as(Seq("band", "bsig")))
    val cand = bnd.as("a").join(bnd.as("b"),
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
    cand
      .join(sigs.select(col("doc_id").as("id1"), col("sig").as("s1")), "id1")
      .join(sigs.select(col("doc_id").as("id2"), col("sig").as("s2")), "id2")
      .select(col("id1"), col("id2"),
        ExactRatio.r4(size(filter(zip_with(col("s1"), col("s2"),
          (a, b) => a === b), x => x)), lit(numPerm)).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
      .orderBy(col("id1"), col("id2"))
  }

  /** Per-REFERENCE contamination report — "which benchmark items are
    * burned": for every reference (eval) document, how much of it has
    * leaked into the training corpus and how widely. One row per
    * reference doc: its distinct word `n`-gram count, how many of
    * those grams appear anywhere in the corpus, the leaked fraction
    * (4dp), and the number of distinct corpus documents carrying at
    * least one of its grams. The doc-level flags
    * ([[decontaminate]]/[[containment]]) say which TRAINING docs are
    * dirty; this is the eval-set owner's view — leak_frac ≈ 1 means
    * the item is fully memorizable and must be dropped from the
    * benchmark, n_carriers says how expensive the cleanup is.
    *
    * Scale shape: both sides reduce to DISTINCT (doc, gram-key) sets
    * row-locally; the gram equi-join carries reference-gram-sized
    * output per colliding corpus doc (the genuine report mass);
    * aggregates are reference-keyed. Sub-n-word references report
    * n_grams = 0 (stated contract, oracle-matched). */
  def decontaminateReport(corpus: DataFrame, reference: DataFrame,
                          n: Int = 10): DataFrame = {
    def gramSet(docs: DataFrame, idAs: String): DataFrame =
      Tables.spread(docs)
        .select(col("doc_id").as(idAs), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= n)
        .select(col(idAs), explode(transform(
          sequence(lit(0), size(col("ws")) - n),
          i => xxhash64(concat_ws(" ", slice(col("ws"), i + 1, lit(n))))))
          .as("g"))
        .distinct()
    val rg = gramSet(reference, "ref_id").cache()
    val cg = gramSet(corpus, "doc_id")
    val totals = rg.groupBy(col("ref_id"))
      .agg(count(lit(1)).as("n_grams"))
    val hits = rg.join(cg, Seq("g"))
    // two distincts in one aggregate Expand the exchanged frame ×2 —
    // acceptable HERE because `hits` is leak-mass-sized (the report's
    // own output scale), unlike the corpus-sized frames the registry
    // de-Expands (the Q21 rework); the alternative is two corpus
    // gram scans
    val leaked = hits.groupBy(col("ref_id"))
      .agg(countDistinct(col("g")).as("n_leaked"),
        countDistinct(col("doc_id")).as("n_carriers"))
    Tables.spread(reference).select(col("doc_id").as("ref_id"))
      .join(totals, Seq("ref_id"), "left")
      .join(leaked, Seq("ref_id"), "left")
      .select(col("ref_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_leaked"), lit(0L)).as("n_leaked"),
        when(coalesce(col("n_grams"), lit(0L)) > 0,
          ExactRatio.r4(coalesce(col("n_leaked"), lit(0L)), col("n_grams")))
          .otherwise(lit(0.0)).as("leak_frac"),
        coalesce(col("n_carriers"), lit(0L)).as("n_carriers"))
      .orderBy(col("ref_id"))
  }

  /** CONTENT-DEFINED CHUNKING dedup (the Rabin/FastCDC family, over
    * tokens) — the STORAGE-dedup construction the span/shingle faces
    * don't cover: fixed-size chunking breaks on a single inserted
    * token (every later boundary shifts), so dedup systems cut where
    * a rolling hash of LOCAL content crosses a mask — an insertion
    * perturbs only the chunks it touches, boundaries re-synchronize,
    * and the shared remainder dedups again (the spec proves exactly
    * this with a prefix-shifted duplicate). Cut rule: after token i
    * when md5 of the 3-token window ending at i ≡ 0 mod `mask+1`
    * (avg chunk ≈ mask+1 tokens) — the [[TextOps]] winnow gram hash,
    * so both engines share the coin. Entirely ROW-LOCAL per doc
    * (boundary derivation, slicing, chunk hashing all ride the scan
    * projection — zero shuffles until the corpus-wide chunk-hash
    * count), then one map-side-combinable aggregate over chunk
    * hashes. Output: one corpus summary row — chunks, distinct,
    * duplicated hashes, dup mass, mean chunk length, dedup ratio. */
  def cdcChunkStats(s: SparkSession, d: String): DataFrame = {
    // the synthetic corpus has no natural cross-doc duplication, so
    // a shared boilerplate tail is PLANTED (mirrored in the oracle)
    // to make the dedup bite on real data; production runs the raw
    // corpus
    cdcChunkStatsOn(Tables.documents(s, d).withColumn("text",
      concat(col("text"), lit(" end of document standard footer " +
        "generated by the corpus export pipeline all rights reserved"))))
  }

  /** Same over any (doc_id, text) frame. */
  def cdcChunkStatsOn(docs: DataFrame, mask: Int = 15): DataFrame =
    cdcChunksOf(docs, mask)
      .groupBy(col("ch"))
      .agg(count(lit(1)).as("cnt"), min(col("ln")).as("ln"))
      .agg(sum(col("cnt")).as("n_chunks"),
        count(lit(1)).as("n_distinct"),
        sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_dup_hashes"),
        sum(when(col("cnt") > 1, col("cnt")).otherwise(0L)).as("dup_mass"),
        ExactRatio.r4(sum(col("ln") * col("cnt")),
          sum(col("cnt"))).as("mean_len"))
      .select(col("n_chunks"), col("n_distinct"), col("n_dup_hashes"),
        col("dup_mass"), col("mean_len"),
        ExactRatio.r4(col("n_distinct"), col("n_chunks"))
          .as("dedup_ratio"))

  /** The per-chunk frame (doc_id, ch, ln) — the stats' base and the
    * spec's window into the shift-robustness property. */
  private[graft] def cdcChunksOf(docs: DataFrame, mask: Int): DataFrame = {
    val staged = Tables.spread(docs)
      .select(col("doc_id"), TextOps.toks(col("text")).as("t"))
      .withColumn("n", size(col("t")))
    // 3-token windows (the fingerprint gram shape): gram i covers
    // tokens i..i+2 (1-based), i = 1..n−2
    val grams = when(col("n") >= 3,
      transform(sequence(lit(1), col("n") - 2), i =>
        concat_ws(" ", element_at(col("t"), i),
          element_at(col("t"), i + 1), element_at(col("t"), i + 2))))
      .otherwise(array().cast("array<string>"))
    // Cut derivation iterates the gram array WITH ITS INDEX — never
    // element_at(grams, i) inside a position lambda, which
    // re-evaluates the whole gram pipeline per index (the
    // docShingleSets O(n²) CollapseProject trap; the first cut of
    // this operator hung the verify gate exactly that way). A
    // 0-based gram index i0 covers tokens i0+1..i0+3, so the cut
    // lands after token i0+3.
    val cuts = filter(transform(grams, (g, i0) =>
      when(conv(substring(md5(g), 1, 15), 16, 10).cast("long")
        % (mask + 1) === 0, i0 + 3)), c => c.isNotNull)
    staged
      // array_sort on BOTH sides: DuckDB's list_distinct does not
      // preserve order (measured: unsorted bounds → negative chunk
      // lengths in the oracle)
      .withColumn("bnds", array_sort(array_distinct(concat(
        array(lit(0)), cuts, array(col("n"))))))
      .select(col("doc_id"), col("t"), col("bnds"))
      // barrier: bnds/t become STORED columns, so the chunk slicer's
      // element_at(bnds, j) reads O(1) instead of re-deriving the
      // boundary pipeline per access
      .localCheckpoint(false)
      .withColumn("chunks",
        transform(sequence(lit(1), size(col("bnds")) - 1), j =>
          struct(
            md5(concat_ws(" ", slice(col("t"),
              element_at(col("bnds"), j) + 1,
              element_at(col("bnds"), j + 1) -
                element_at(col("bnds"), j)))).as("ch"),
            (element_at(col("bnds"), j + 1) -
              element_at(col("bnds"), j)).cast("long").as("ln"))))
      .select(col("doc_id"), explode(col("chunks")).as("c"))
      .select(col("doc_id"), col("c.ch").as("ch"), col("c.ln").as("ln"))
  }
}
