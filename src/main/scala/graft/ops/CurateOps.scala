package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Reuse

/** End-to-end corpus curation — the composed filter chain a training
  * pipeline runs before tokenization, demonstrating that the
  * library's stages compose as one lazy plan:
  *
  *   1. quality gate (length + stopword-ratio, TextOps.qualityScores'
  *      exact predicate),
  *   2. exact dedup (keep the minimum doc_id per distinct text),
  *   3. decontamination against a held-out reference corpus
  *      (DedupOps.decontaminate's verified-pair contract).
  *
  * Every stage is a narrow filter or one keyed shuffle; the output is
  * the surviving document ids, ready to semi-join the full corpus.
  */
object CurateOps {

  /** The decontamination Jaccard threshold of both curation chains. */
  private val contamThreshold = 0.8

  /** The rows of a (doc_id, text, …) frame that pass the quality gate
    * (TextOps.qualityScores' exact predicate). */
  private def qualityGate(docs: DataFrame): DataFrame = docs.join(
    TextOps.qualityScoresOn(docs.select(col("doc_id"), col("text")))
      .filter(col("quality_flag") === "good").select(col("doc_id")),
    "doc_id")

  /** The exact-dedup survivors of a (doc_id, text) frame: the minimum
    * doc_id per content digest ([[DedupOps.textDigest]]). */
  private def exactSurvivors(docs: DataFrame): DataFrame = docs
    .groupBy(DedupOps.textDigest.as("__h"))
    .agg(min(col("doc_id")).as("doc_id"))
    .select(col("doc_id"))

  def curate(corpus: DataFrame, reference: DataFrame): DataFrame = {
    val good = qualityGate(corpus)
    // exact dedup: one shuffle on the content digest, then a
    // broadcast-friendly semi join back on the kept ids. The kept-id
    // set is checkpointed: `deduped` feeds BOTH the decontamination
    // shingle join and the final anti join, and without the barrier
    // the whole quality+dedup chain re-derived per consumer (53
    // parquet scans / 126 exchanges in the r16 before-plan).
    val keep = Reuse.shared(exactSurvivors(good))
    val deduped = corpus.join(keep, Seq("doc_id"), "left_semi")
    val contaminated = DedupOps.decontaminate(deduped, reference, contamThreshold)
      .select(col("doc_id")).distinct()
    keep.join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }

  /** The curation FUNNEL report — the same composed pipeline as
    * [[curate]] (quality gate → exact dedup → decontamination) plus
    * the token-budget cut, published as the stage-by-stage survivor
    * table (stage, stage_name, docs, tokens) instead of a final id
    * list: the readout a data team actually reviews before a
    * training run, because WHERE the corpus shrinks names the
    * dominant quality problem (a 90% quality-gate drop means crawl
    * filth; a 90% dedup drop means a crawler loop; a decontamination
    * spike means eval leakage).
    *
    * Cost shape: per-doc token counts and quality flags come from
    * ONE corpus pass (lazily checkpointed — every stage sum reads
    * it); each stage is the same narrow filter / keyed shuffle the
    * id-list face runs, plus one doc-id-sized count aggregate. The
    * decontamination stage (the heavy shingle join) runs once.
    * Hash equality of the funnel against the oracle proves every
    * stage's survivor SET cross-engine, not just the final one. */
  def curateFunnel(s: SparkSession, d: String): DataFrame = {
    val budgetTokens = 20000L
    val docs = Tables.documents(s, d)
    curateFunnelOn(docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 =!= 0), budgetTokens, contamThreshold)
  }

  /** Same over any (doc_id, text) corpus/reference pair. */
  def curateFunnelOn(corpus: DataFrame, reference: DataFrame,
                     budgetTokens: Long, threshold: Double): DataFrame = {
    val stats = TextOps.qualityScoresOn(
      corpus.select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("quality_flag"),
        col("n_tokens").cast("long").as("nt"))
      .transform(Reuse.shared) // doc-id-sized; every stage sum reads it
    // Each stage's SURVIVOR ID SET is checkpointed once and the next
    // stage's text frame re-attaches by semi join: without the
    // barriers the five stage aggregates re-derived the whole chain
    // up to their stage (quality gate ×5, dedup ×4, the heavy
    // decontamination shingle join ×2 — 91 parquet scans / 270
    // exchanges in the r16 before-plan). The sets are doc-id-sized.
    val s1ids = stats.filter(col("quality_flag") === "good")
      .select(col("doc_id"))
    val s1 = corpus.join(s1ids, Seq("doc_id"), "left_semi")
    val s2ids = Reuse.shared(exactSurvivors(s1))
    val s2 = corpus.join(s2ids, Seq("doc_id"), "left_semi")
    val s3ids = s2ids.join(
      DedupOps.decontaminate(s2, reference, threshold)
        .select(col("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")
      .transform(Reuse.shared)
    val s3 = corpus.join(s3ids, Seq("doc_id"), "left_semi")
    val s4 = tokenBudget(s3, budgetTokens).select(col("doc_id"))
    def stage(no: Int, name: String, ids: DataFrame): DataFrame =
      ids.select(col("doc_id")).join(stats, "doc_id")
        .agg(count(lit(1)).as("docs"),
          coalesce(sum(col("nt")), lit(0L)).as("tokens"))
        .select(lit(no.toLong).as("stage"), lit(name).as("stage_name"),
          col("docs"), col("tokens"))
    Seq(stage(0, "raw", stats),
      stage(1, "quality_gate", s1ids),
      stage(2, "exact_dedup", s2ids),
      stage(3, "decontaminated", s3ids),
      stage(4, "token_budget", s4))
      .reduce(_ unionAll _)
      .orderBy(col("stage"))
  }

  /** Cluster-aware CANONICAL selection — the keep-best step after
    * near-dup clustering: [[DedupOps.connectedComponents]] tells you
    * which documents are the same content; this picks WHICH copy
    * survives, by QUALITY (highest stopword_ratio, doc_id tiebreak)
    * instead of the arbitrary min-id convention — near-dup families
    * usually contain one clean copy and N mangled ones, and min-id
    * keeps whichever got crawled first. One quality join + one
    * map-side-combinable max_by per cluster; emits (cluster_id,
    * keep_id, q, n_members) for the clustered docs (singletons keep
    * themselves trivially and are not repeated here). */
  def canonicalPerCluster(clusters: DataFrame, docs: DataFrame): DataFrame = {
    val q = TextOps.qualityScoresOn(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("stopword_ratio").as("q"))
    clusters.join(q, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(
        max_by(col("doc_id"), struct(col("q"), -col("doc_id"))).as("keep_id"),
        max(col("q")).as("q"),
        count(lit(1)).as("n_members"))
      .orderBy(col("cluster_id"))
  }

  /** Web-corpus curation — the CommonCrawl-shaped front half of the
    * pipeline, composed as one lazy plan over a (doc_id, text, url)
    * frame:
    *
    *   1. URL canonicalization (TextOps.canonicalUrl — row-local, so
    *      it rides the scan),
    *   2. URL dedup: keep the FIRST document (min doc_id) per
    *      canonical page — the same page fetched as `...?utm_source=x`,
    *      `...#frag`, `...:80/` collapses to one row. One
    *      map-side-combinable min per canonical key + a semi join
    *      back (the exact-dedup shape, narrower than a window),
    *   3. quality gate (TextOps.qualityScores' exact predicate),
    *   4. exact text dedup among the survivors (mirrors can serve the
    *      same body under genuinely different canonical URLs).
    *
    * Output: surviving (doc_id, canonical). Every stage is a narrow
    * projection or one keyed map-side-combinable shuffle — no windows,
    * no products; [[curate]] is the back half (decontamination). */
  def curateWeb(withUrls: DataFrame): DataFrame = {
    // canon feeds the URL-dedup aggregate AND the survivor semi join;
    // pages feeds the quality gate AND the text dedup — checkpoint
    // both stage boundaries so the canonicalize/quality chains run
    // once (the curateFunnel posture; 8 source scans before)
    val canon = withUrls.withColumn("canonical",
      TextOps.canonicalUrl(col("url")))
      .transform(Reuse.shared)
    val firstPerPage = canon
      .groupBy(col("canonical")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val pages = canon.join(firstPerPage, Seq("doc_id"), "left_semi")
      .transform(Reuse.shared)
    val good = qualityGate(pages)
    good.join(exactSurvivors(good), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("canonical"))
      .orderBy(col("doc_id"))
  }

  /** Token-budget selection — the data-constrained-training shape:
    * rank documents by quality and keep the best until a global token
    * budget is exhausted (a run that can afford B tokens wants the
    * HIGHEST-quality B tokens, not a uniform sample).
    *
    * The global running total over the quality order is a distributed
    * PREFIX SUM exactly like [[TextOps.packOn]]'s: range-partition by
    * the rank key (score desc, doc_id), partition-local running sums,
    * then one broadcast cumulative offset per partition — the naive
    * `sum over (order by score)` window would sort the corpus in ONE
    * partition, the classic scale-killer. Keep rule: a doc survives if
    * the running total INCLUDING it fits the budget (so the output is
    * a prefix of the quality ranking, deterministic under the rounded
    * score's doc_id tiebreak). */
  def tokenBudget(corpus: DataFrame, budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens must be > 0: $budgetTokens")
    val scored = TextOps.qualityScoresOn(corpus.select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("stopword_ratio").as("score"),
        col("n_tokens").cast("long").as("n_tokens"))
    val rankKeys = Seq(col("score").desc, col("doc_id").asc)
    // shared distributed prefix sum (PrefixSum: plan shape +
    // exchange-reuse guard); inclusive total = exclusive + own tokens
    PrefixSum.exclusive(scored, rankKeys, col("n_tokens"))
      .withColumn("cum_tokens", col("__cum") + col("n_tokens"))
      .filter(col("cum_tokens") <= budgetTokens)
      .select(col("doc_id"), col("score"), col("n_tokens"), col("cum_tokens"))
      // cum_tokens is strictly increasing along the rank order
      // (n_tokens ≥ 1 — toks never returns an empty array), so this
      // IS the quality ranking, with a unique sort key
      .orderBy(col("cum_tokens"))
  }

  /** DSIR's hashed feature count and inverse keep fraction, read by
    * [[dsirSample]] and its oracle. */
  private val dsirBuckets = 64
  private val dsirKeepDenom = 4L

  /** DSIR — Data Selection via Importance Resampling (Xie et al.
    * 2023, arXiv:2302.03169): re-weight a raw corpus toward a TARGET
    * distribution using hashed n-gram features, then Gumbel-top-k
    * sample by importance. The registered face targets the English
    * slice (`lang = 'en'`) — the canonical "make the web crawl look
    * like the curated set" move — keeping the top quarter.
    *
    * Shape: terms hash to `buckets` features by the 60-bit md5-prefix
    * integer (the hashing-trick contract, TextOps.featureHashing);
    * bucket counts under target/raw fit two map-side-combinable
    * aggregates over ONE checkpointed token scan; per-bucket
    * log-ratios λ_b = ln(p̂_target(b)/p̂_raw(b)) (add-one smoothed)
    * ride a bucket-sized broadcast; a document's importance weight is the
    * count-weighted λ sum over its own buckets. Sampling ∝ exp(w) is
    * the Gumbel trick — add g = −ln(−ln(u)) per doc and take the top
    * k — with u an md5 coin, so the draw is deterministic and
    * replayable. Selection rank comes from the distributed
    * [[PrefixSum]], never a global window.
    *
    * Parity engineering: λ and g floor-quantize to 1e-6 micro-units
    * (the ml_logreg_gd transcendental contract — ln of identical
    * rationals, a boundary hit needs a ~1e-10 coincidence) and
    * weights/scores are then exact BIGINT micro-unit sums, published
    * as-is (`w6`, `score6` — no double forms after the quantize). */
  def dsirSample(s: SparkSession, d: String): DataFrame =
    dsirOn(Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("text")),
      col("lang") === "en", dsirBuckets, dsirKeepDenom)

  /** Same over any (doc_id, lang, text) frame; `target` is the
    * boolean membership predicate of the target distribution,
    * `keepDenom` the inverse keep fraction (4 = keep the top 1/4,
    * ceil). */
  def dsirOn(docs: DataFrame, target: Column, buckets: Int,
             keepDenom: Long): DataFrame = {
    // checkpointed: the token scan feeds the bucket-count aggregate AND
    // the per-doc feature counts (the lmScoreOn contract)
    val tok = Tables.spread(docs)
      .select(col("doc_id"), target.as("__t"),
        explode(TextOps.toks(col("text"))).as("term"))
      .select(col("doc_id"), col("__t"),
        (conv(substring(md5(col("term")), 1, 15), 16, 10).cast("long")
          % buckets).as("bkt"))
      .transform(Reuse.shared)
    val counts = tok.groupBy(col("bkt")).agg(
      sum(when(col("__t"), 1L).otherwise(0L)).as("tb"),
      count(lit(1)).as("rb"))
    val totals = counts.agg(sum(col("tb")).as("tt"), sum(col("rb")).as("rt"))
    // buckets no term ever hashed to need no λ row: no document can
    // carry a count there, so they contribute 0 to every weight
    val lam = counts.crossJoin(broadcast(totals))
      .select(col("bkt"),
        floor(lit(1000000.0) * log(
          ((col("tb") + 1).cast("double") / (col("tt") + buckets)) /
          ((col("rb") + 1).cast("double") / (col("rt") + buckets))))
          .cast("long").as("l6"))
    val w = tok.groupBy(col("doc_id"), col("bkt"))
      .agg(count(lit(1)).as("c"))
      .join(broadcast(lam), "bkt")
      .groupBy(col("doc_id")).agg(sum(col("c") * col("l6")).as("w6"))
    // md5 coin in (0,1) STRICTLY by construction: a 52-bit (13-hex)
    // prefix makes h + 0.5 need at most 53 significant bits, so the
    // double is EXACT on both engines — a 60-bit prefix would round
    // at the cast and u could collapse to 1.0 for h within an ulp of
    // 2^60, sending −ln(−ln u) to an engine-dependent infinity
    val scored = w.withColumn("score6",
      col("w6") + floor(lit(-1000000.0) * log(negate(log(
        (conv(substring(md5(concat(col("doc_id").cast("string"),
          lit("_dsir"))), 1, 13), 16, 10).cast("double") + 0.5) /
          lit(4503599627370496.0))))).cast("long"))
      // doc-count-sized: the returned plan then no longer reaches
      // the corpus-token-scale `tok`
      .transform(Reuse.barrier)
    val nDocs = docs.count()
    val keepN = (nDocs + keepDenom - 1) / keepDenom
    PrefixSum.exclusive(scored,
        Seq(col("score6").desc, col("doc_id").asc), lit(1))
      .filter(col("__cum") < keepN)
      .select(col("doc_id"), (col("__cum") + 1).as("rank"),
        col("w6"), col("score6"))
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .select(col("doc_id"), col("lang"), col("rank"),
        col("w6"), col("score6"))
      .orderBy(col("doc_id"))
  }

  /** Temperature-scaled source mixing — the data-recipe sampler
    * (GPT-3/LLaMA style): raw source sizes n_s are flattened to
    * weights n_s^(1/T) so small high-quality sources punch above
    * their byte count, then each source contributes
    * quota_s = floor(target · w_s / ΣW) documents (capped at n_s),
    * chosen by a deterministic md5 coin order. This face pins
    * T = 2 — the sqrt point — because sqrt is the ONE power IEEE
    * requires correctly rounded, so both engines flatten to the
    * bit-identical weight (a generic n^(1/T) via pow() carries no
    * such guarantee and would need the floor-quantize contract
    * plus a slack analysis; T=2 needs neither).
    *
    * Exactness: w6 = floor(1e6·√n_s) is integer on both engines;
    * ΣW and every quota are integer arithmetic (target·w6 widened
    * to DECIMAL(38,0) — HUGEINT in the oracle); the per-source
    * rank comes from the distributed [[PrefixSum]] over
    * (source, coin, doc_id) minus a broadcast per-source offset
    * (the ccnetBuckets pattern — never a hot-source window).
    * Selection within a source is coin order with a doc_id
    * tiebreak: a total order, replayable verbatim. */
  def mixTemperature(s: SparkSession, d: String): DataFrame =
    mixTemperatureOn(
      Tables.documents(s, d).select(col("doc_id"), col("source")),
      mixKeepDenom)

  /** The inverse keep fraction of [[mixTemperature]] and its oracle. */
  private val mixKeepDenom = 2L

  /** Same over any (doc_id, source) frame. The overall target is
    * ceil(n/keepDenom); each source's quota is FLOOR-apportioned
    * (⌊target·w_s/ΣW⌋, capped at n_s) with no remainder
    * redistribution, so the kept total is AT MOST the target and can
    * undershoot it by up to (#sources − 1) plus whatever the caps
    * bite — deliberately, because redistribution would make every
    * quota depend on every cap and break the one-pass closed form. */
  def mixTemperatureOn(docs: DataFrame, keepDenom: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // checkpoint the source-cardinality frame: the quota branch and
    // the offset branch both read it, and without the barrier each
    // would re-run the full-corpus aggregation
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
      .transform(Reuse.shared)
    val w = counts.withColumn("w6",
      floor(lit(1000000.0) * sqrt(col("n_s").cast("double"))).cast("long"))
    val tot = w.agg(sum(col("w6")).as("tw"), sum(col("n_s")).as("total"))
    val quota = w.crossJoin(broadcast(tot))
      .withColumn("__t",
        expr(s"(total + ${keepDenom - 1}) div $keepDenom"))
      .withColumn("quota", least(
        expr("(CAST(__t AS DECIMAL(38,0)) * w6) div tw").cast("long"),
        col("n_s")))
      .select(col("source"), col("quota"))
    val offs = counts.withColumn("off", coalesce(sum(col("n_s")).over(
        Window.orderBy(col("source"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("source"), col("off"))
    val coined = Tables.spread(docs).withColumn("u",
      conv(substring(md5(concat(col("doc_id").cast("string"),
        lit("_mix"))), 1, 13), 16, 10).cast("long"))
    PrefixSum.exclusive(coined,
        Seq(col("source").asc, col("u").asc, col("doc_id").asc), lit(1))
      .join(broadcast(offs), "source")
      .withColumn("rank_in_source", col("__cum") - col("off") + 1)
      .join(broadcast(quota), "source")
      .filter(col("rank_in_source") <= col("quota"))
      .select(col("doc_id"), col("source"), col("rank_in_source"),
        col("quota"))
      .orderBy(col("doc_id"))
  }

  /** The shard count and hash pepper of [[shardExport]] and its
    * oracle. */
  private val shardCount = 8
  private val pepper = "shard"

  /** SHARD EXPORT — the last step of every training-data pipeline:
    * assign each document to one of `nShards` balanced-in-expectation
    * shards and give it a position inside its shard under a
    * DETERMINISTIC pseudo-random order (the "global shuffle" a
    * training run needs so examples arrive decorrelated from crawl
    * order, reproducible run to run and engine to engine — an
    * md5-keyed order, the registry's standard coin, never rand()).
    *
    * Scale shape: shard = 60-bit md5 % nShards is row-local in the
    * scan; the ONLY shuffle is the shard-keyed exchange + per-shard
    * sort (row_number over the shard partition) — which is exactly
    * the exchange+sort a sharded ordered write performs anyway, so
    * the operator adds zero work beyond the export itself. Shard
    * partitions are corpus/nShards sized; pick nShards to the
    * cluster (thousands at 100 TB) and the window never sees a
    * skewed key (md5 is uniform). */
  def shardExport(docs: DataFrame, nShards: Int = shardCount): DataFrame = {
    val key = md5(concat(col("doc_id").cast("string"), lit("_" + pepper)))
    val coined = Tables.spread(docs)
      .select(col("doc_id"), key.as("k"))
      .withColumn("shard",
        conv(substring(col("k"), 1, 15), 16, 10).cast("long") % nShards)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("k"), col("doc_id"))
    coined.withColumn("pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("shard"), col("pos"))
  }

  /** DuckDB replica of [[shardExport]]: same md5 coin, same 60-bit
    * modulus, same (key, doc_id) order. */
  private[graft] def shardExportOracleSql: String =
    s"""WITH k AS (SELECT doc_id,
       |    md5(doc_id::VARCHAR || '_$pepper') AS k FROM documents),
       |s AS (SELECT doc_id, k,
       |    CAST(('0x' || substr(k, 1, 15))::UBIGINT % $shardCount
       |      AS BIGINT) AS shard FROM k)
       |SELECT doc_id, shard,
       |  CAST(row_number() OVER (PARTITION BY shard
       |    ORDER BY k, doc_id) AS BIGINT) AS pos
       |FROM s ORDER BY shard, pos""".stripMargin

  /** The sequence budget (tokens) of every pack face and oracle; the
    * tokenizer-grain ones train [[TextOps.bpeRounds]] merge rounds. */
  private val packBudget = 512

  /** SEQUENCE PACKING, document grain — the last step before an LLM
    * training run tokenizes its corpus (the GPT-style
    * packed-pretraining layout): documents are concatenated in a
    * fixed, deterministic order (doc_id) and the token stream is
    * chunked into `budget`-token training sequences, documents
    * spanning chunk boundaries (the standard layout — padding-free,
    * every sequence exactly full except the last).
    *
    * This is the DOCUMENT-GRAIN view of the SAME packing
    * [[TextOps.packOn]] publishes at context grain: `text_pack`
    * answers "which document spans fill context c"; this face
    * answers "where did document d land" — its global token interval
    * [start_tok, start_tok + n_tokens), the first/last sequence it
    * touches, and the boundary-crossing flag an attention-mask
    * builder reads. Both derive from the identical token stream
    * ([[TextOps.toks]] counts in doc_id order) through the SAME
    * shared distributed prefix sum ([[PrefixSum.exclusive]] —
    * range-partitioned local cumsums + broadcast partition offsets;
    * never one global window), so the two grains cannot drift
    * (spec-pinned: this map's sequence range per doc equals exactly
    * the set of ctx_ids text_pack emits for it at the same budget).
    * [[packStats]] is the third grain (per-sequence audit). */
  def packSequences(s: SparkSession, d: String): DataFrame =
    packSequencesOn(Tables.documents(s, d), packBudget)

  /** Same over any (doc_id, text) frame. */
  def packSequencesOn(docs: DataFrame, budget: Int): DataFrame = {
    // identical staging to TextOps.packOn (null-safe token count,
    // n > 0 guard) — the two grains must read ONE stream definition
    val sized = Tables.spread(docs)
      .select(col("doc_id"),
        size(TextOps.toks(coalesce(col("text"), lit(""))))
          .cast("long").as("n_tokens"))
    packMapOf(sized, budget)
  }

  /** The packing map over ANY (doc_id, n_tokens) sizing — the one
    * core every packing grain and every tokenizer shares: n > 0
    * guard, the distributed prefix sum, the budget interval
    * arithmetic. The whitespace faces and the BPE-token faces differ
    * ONLY in the sizing frame they feed here. */
  private def packMapOf(sized: DataFrame, budget: Int): DataFrame = {
    require(budget >= 1, "budget >= 1")
    PrefixSum.exclusive(sized.filter(col("n_tokens") > 0),
        Seq(col("doc_id")), col("n_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("__cum").as("start_tok"))
      .withColumn("seq_first", expr(s"start_tok div $budget"))
      .withColumn("seq_last",
        expr(s"(start_tok + n_tokens - 1) div $budget"))
      .withColumn("crosses_boundary", col("seq_last") > col("seq_first"))
      .orderBy(col("doc_id"))
  }

  /** SEQUENCE PACKING AT THE TOKENIZER GRAIN — the token stream a
    * training job actually reads: the held-out half's post-BPE token
    * counts ([[TextOps.bpeEncodeOn]]: merges trained on the even
    * half, applied in training order to the odd half) fed through
    * the SAME shared packing core as the whitespace faces. Closes
    * the gap between "packing works" and "packing works on the
    * tokens the run trains on" — intervals, boundary flags, and
    * sequence ids all move when the tokenizer changes, which is
    * exactly what this face makes checkable (spec pins rounds = 0 ≡
    * the whitespace map on the same half; the oracle replays the
    * full train-and-apply chain under the cumsum). */
  def packSequencesBpe(s: SparkSession, d: String): DataFrame =
    packSequencesBpeOn(Tables.documents(s, d), packBudget, TextOps.bpeRounds)

  /** Same over any (doc_id, text) frame. */
  def packSequencesBpeOn(docs: DataFrame, budget: Int,
                         rounds: Int): DataFrame =
    packMapOf(
      TextOps.bpeEncodeOn(docs, rounds)
        .select(col("doc_id"), col("n_after").cast("long").as("n_tokens")),
      budget)

  /** [[packStats]] at the tokenizer grain — the per-sequence audit
    * over [[packSequencesBpe]]'s map: same explode-and-clip integer
    * arithmetic, so the sequence fills provably tile the held-out
    * half's post-BPE token count. */
  def packStatsBpe(s: SparkSession, d: String): DataFrame =
    packStatsFrom(packSequencesBpe(s, d), packBudget)

  /** The pack map aggregated to SEQUENCE grain — the table a training
    * job reads to size shards and audit fill: per `budget`-token
    * sequence, how many documents contribute, how many tokens it
    * holds (budget everywhere except the final partial sequence), and
    * whether it is full. Derived by exploding each document's
    * [seq_first, seq_last] range (bounded: a doc touches
    * ⌈n/budget⌉+1 sequences) and clipping its token interval to each
    * sequence window — pure integer arithmetic on [[packSequencesOn]]
    * values, so the sequence totals provably tile the corpus token
    * count. */
  def packStats(s: SparkSession, d: String,
                budget: Int = packBudget): DataFrame =
    packStatsFrom(packSequencesOn(Tables.documents(s, d), budget), budget)

  /** The sequence-grain aggregation over ANY packing map (whitespace
    * or tokenizer grain) — see [[packStats]]. */
  private def packStatsFrom(m: DataFrame, budget: Int): DataFrame = {
    m.select(col("doc_id"), col("n_tokens"), col("start_tok"),
        explode(sequence(col("seq_first"), col("seq_last"))).as("seq_id"))
      .select(col("seq_id"),
        (least((col("seq_id") + 1) * budget,
            col("start_tok") + col("n_tokens")) -
          greatest(col("seq_id") * budget, col("start_tok")))
          .as("__contrib"))
      .groupBy(col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__contrib")).as("fill_tokens"))
      .withColumn("is_full", col("fill_tokens") === budget)
      .orderBy(col("seq_id"))
  }

  /** The whitespace sizing CTE (`t` = (doc_id, n_tokens)) every
    * whitespace-grain pack oracle opens with. The staging mirrors
    * the engine DEFINITIONALLY, not coincidentally: the same
    * COALESCE(text,'') null guard and the same n_tokens > 0 filter,
    * so a NULL-text document counts as one empty token on BOTH
    * sides instead of publishing a NULL row here while Spark
    * counts 1. */
  private def wsSizingCte: String =
    // s-interpolated ON PURPOSE: the interpolator processes \\ -> \
    // so the SQL carries \s+; a plain """ string would ship the
    // double backslash verbatim and the regex would never split
    // (caught by the sf0.017 off-grid sweep, round 15)
    s"""WITH t AS (SELECT doc_id, n_tokens FROM (
       |    SELECT doc_id,
       |      CAST(len(string_split_regex(trim(coalesce(text, '')),
       |        '\\s+')) AS BIGINT) AS n_tokens
       |    FROM documents) WHERE n_tokens > 0)""".stripMargin

  /** The TOKENIZER sizing CTE: the full BPE train-and-apply chain
    * ([[TextOps.bpeEncodeOracleSql]]) nested as `enc`, its held-out
    * n_after counts staged under the same n > 0 guard. */
  private def bpeSizingCte(rounds: Int): String =
    // plain concatenation, NOT stripMargin interpolation: the nested
    // chain is full of `||` concats at line starts, and stripMargin
    // would eat one pipe from each (`||` -> `|`)
    "WITH enc AS (\n" + TextOps.bpeEncodeOracleSql(rounds) + "),\n" +
      "t AS (SELECT doc_id, CAST(n_after AS BIGINT) AS n_tokens\n" +
      "      FROM enc WHERE n_after > 0)"

  /** The global-cumsum CTE shared by every pack oracle — ONE window
    * (the oracle may afford what the engine must not): identical
    * integer chain, floor division on non-negative operands. */
  private def packCumsumCte: String =
    """,
      |c AS (SELECT doc_id, n_tokens,
      |    CAST(sum(n_tokens) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
      |      AS BIGINT) AS start_tok
      |  FROM t)""".stripMargin

  /** Doc-grain tail: the per-doc interval/boundary projection. */
  private def packMapTail(budget: Int): String =
    s"""
       |SELECT doc_id, n_tokens, start_tok,
       |  start_tok // $budget AS seq_first,
       |  (start_tok + n_tokens - 1) // $budget AS seq_last,
       |  (start_tok + n_tokens - 1) // $budget > start_tok // $budget
       |    AS crosses_boundary
       |FROM c ORDER BY doc_id""".stripMargin

  /** Sequence-grain tail: per-doc sequence-range unnest + interval
    * clipping, aggregated per sequence. */
  private def packStatsTail(budget: Int): String =
    s""",
       |ex AS (SELECT start_tok, n_tokens,
       |    unnest(range(start_tok // $budget,
       |      (start_tok + n_tokens - 1) // $budget + 1)) AS seq_id
       |  FROM c)
       |SELECT seq_id, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(least((seq_id + 1) * $budget, start_tok + n_tokens)
       |    - greatest(seq_id * $budget, start_tok)) AS BIGINT)
       |    AS fill_tokens,
       |  CAST(sum(least((seq_id + 1) * $budget, start_tok + n_tokens)
       |    - greatest(seq_id * $budget, start_tok)) AS BIGINT) = $budget
       |    AS is_full
       |FROM ex GROUP BY 1 ORDER BY seq_id""".stripMargin

  /** DuckDB replica of [[packSequencesOn]]: whitespace sizing +
    * cumsum + doc-grain tail (all shared builders — the four pack
    * oracles differ ONLY in which sizing/tail pair they compose). */
  private[graft] def packSequencesOracleSql: String =
    wsSizingCte + packCumsumCte + packMapTail(packBudget)

  /** DuckDB replica of [[packStats]]. */
  private[graft] def packStatsOracleSql: String =
    wsSizingCte + packCumsumCte + packStatsTail(packBudget)

  /** DuckDB replica of [[packSequencesBpe]]: tokenizer sizing +
    * the same shared cumsum and doc-grain tail. */
  private[graft] def packSequencesBpeOracleSql: String =
    bpeSizingCte(TextOps.bpeRounds) + packCumsumCte + packMapTail(packBudget)

  /** DuckDB replica of [[packStatsBpe]]. */
  private[graft] def packStatsBpeOracleSql: String =
    bpeSizingCte(TextOps.bpeRounds) + packCumsumCte + packStatsTail(packBudget)

  /** DuckDB replica of [[mixTemperature]]: same floor(1e6·√n)
    * weights, HUGEINT quota arithmetic, md5 coin order. */
  private[graft] def mixTemperatureOracleSql: String =
    s"""WITH c AS (SELECT source, count(*) AS n_s FROM documents
       |           GROUP BY 1),
       |w AS (SELECT source, n_s,
       |    CAST(floor(1000000.0 * sqrt(n_s)) AS BIGINT) AS w6 FROM c),
       |t AS (SELECT CAST(sum(w6) AS BIGINT) AS tw,
       |    CAST(sum(n_s) AS BIGINT) AS total FROM w),
       |q AS (SELECT source, n_s,
       |    least(CAST(CAST((total + ${mixKeepDenom - 1}) // $mixKeepDenom
       |        AS HUGEINT) * w6 // tw AS BIGINT), n_s) AS quota
       |  FROM w, t),
       |u AS (SELECT doc_id, source,
       |    CAST(('0x' || substr(md5(doc_id::VARCHAR || '_mix'), 1, 13))
       |      ::UBIGINT AS BIGINT) AS u FROM documents),
       |r AS (SELECT doc_id, source, row_number() OVER
       |    (PARTITION BY source ORDER BY u, doc_id) AS rank_in_source
       |  FROM u)
       |SELECT r.doc_id, r.source, r.rank_in_source, q.quota
       |FROM r JOIN q USING (source) WHERE r.rank_in_source <= q.quota
       |ORDER BY r.doc_id""".stripMargin

  /** DuckDB replica of [[dsirSample]]: same md5 hashing, smoothing,
    * 1e-6 floor quantization, Gumbel coin, and ceil cutoff; sums cast
    * to BIGINT so pandas never sees a HUGEINT (the rendering class
    * the gate's dtype check exists for). */
  private[graft] def dsirOracleSql: String =
    s"""WITH tok AS (SELECT doc_id, lang = 'en' AS t,
       |    CAST(('0x' || substr(md5(term), 1, 15))::UBIGINT % $dsirBuckets
       |      AS BIGINT) AS bkt
       |  FROM (SELECT doc_id, lang,
       |      unnest(string_split_regex(trim(text), '\\s+')) AS term
       |    FROM documents)),
       |c AS (SELECT bkt, sum(CASE WHEN t THEN 1 ELSE 0 END) AS tb,
       |    count(*) AS rb FROM tok GROUP BY 1),
       |tt AS (SELECT CAST(sum(tb) AS BIGINT) AS tt,
       |    CAST(sum(rb) AS BIGINT) AS rt FROM c),
       |lam AS (SELECT bkt, CAST(floor(1000000.0 * ln(
       |    ((tb + 1) * 1.0 / (tt.tt + $dsirBuckets)) /
       |    ((rb + 1) * 1.0 / (tt.rt + $dsirBuckets)))) AS BIGINT) AS l6
       |  FROM c, tt),
       |w AS (SELECT doc_id, CAST(sum(c * l6) AS BIGINT) AS w6
       |  FROM (SELECT doc_id, bkt, count(*) AS c FROM tok GROUP BY 1, 2)
       |  JOIN lam USING (bkt) GROUP BY 1),
       |sc AS (SELECT doc_id, w6, w6 + CAST(floor(-1000000.0 * ln(-ln(
       |    (CAST(('0x' || substr(md5(doc_id::VARCHAR || '_dsir'), 1, 13))
       |      ::UBIGINT AS DOUBLE) + 0.5) / 4503599627370496.0)))
       |    AS BIGINT) AS score6 FROM w),
       |n AS (SELECT count(*) AS n FROM documents),
       |r AS (SELECT doc_id, w6, score6, row_number()
       |    OVER (ORDER BY score6 DESC, doc_id) AS rank FROM sc)
       |SELECT r.doc_id, d.lang, r.rank, r.w6, r.score6
       |FROM r JOIN documents d USING (doc_id), n
       |WHERE r.rank <= (n.n + ${dsirKeepDenom - 1}) // $dsirKeepDenom
       |ORDER BY r.doc_id""".stripMargin
}
