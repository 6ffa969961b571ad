package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Reuse

/** Text-analysis operators for a large-scale training-data pipeline:
  * token counting, quality scoring, language ID, and winnowing
  * fingerprints. Everything is built from codegen'd higher-order
  * column functions (`split`/`filter`/`transform`/`slice`) — no UDFs
  * — so the whole stage stays in generated code and scales linearly
  * with corpus size.
  */
object TextOps {

  private[graft] def toks(c: Column): Column = split(trim(c), "\\s+")

  /** Whitespace tokens plus a BPE-ish regex segmentation count
    * (letter runs | single digits | punctuation marks). */
  def tokenCounts(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      size(toks(col("text"))).as("ws_tokens"),
      regexp_count(col("text"), lit("[a-z]+|[0-9]|[^a-z0-9\\s]")).as("bpe_tokens"))
      .orderBy(col("doc_id"))

  /** Per-document n-gram NOVELTY against a reference corpus — the
    * synthetic-data QA metric (and memorization audit's inverse):
    * what fraction of a candidate document's distinct k-grams appear
    * NOWHERE in the reference set? Generated training data with
    * novelty ≈ 0 is a paraphrase of its seed corpus (no new signal,
    * memorization risk); novelty ≈ 1 on purportedly-grounded data
    * means the generator unmoored from its sources. The registered
    * face splits the corpus by doc parity (even = candidates, odd =
    * reference — the decontamination convention).
    *
    * Shape: distinct string k-grams per side (row-local explode —
    * the dedup shingle derivation, kept as STRINGS so the oracle
    * replays verbatim), one distinct on the reference grams, one
    * equi-join on the uniform gram key (the inverted-index posture —
    * never a doc×doc product), one per-doc count aggregate. At a
    * 100 TB reference the gram set tiers exactly like
    * decontamination's ladder (broadcast / Bloom-probe / shuffled —
    * the regimes apply verbatim since the reference side is the only
    * thing that changes). Novelty publishes through
    * [[ExactRatio.r4]]. Contract: candidates with fewer than k tokens
    * carry no grams and drop (matching the oracle's derivation). */
  def novelty(s: SparkSession, d: String): DataFrame = {
    val k = 3
    val docs = Tables.documents(s, d)
    noveltyOn(docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 =!= 0), k)
  }

  /** Same over any (doc_id, text) candidate/reference pair. */
  def noveltyOn(candidates: DataFrame, reference: DataFrame,
                k: Int): DataFrame = {
    def grams(docs: DataFrame): DataFrame = {
      // stage the token array first (lambda bodies re-evaluate their
      // subtrees per element — the docShingleSets lesson)
      val tokenized = Tables.spread(docs)
        .select(col("doc_id"), toks(col("text")).as("t"))
      val n = size(col("t"))
      val starts = when(n >= k, sequence(lit(1), n - (k - 1)))
        .otherwise(array().cast("array<int>"))
      tokenized.select(col("doc_id"),
        explode(array_distinct(transform(starts,
          i => concat_ws(" ", slice(col("t"), i, lit(k)))))).as("s"))
    }
    val cand = grams(candidates)
    val refg = grams(reference).select(col("s")).distinct()
    cand.join(refg.withColumn("__seen", lit(1L)), Seq("s"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("__seen"), lit(0L))).as("n_seen"))
      .select(col("doc_id"), col("n_grams"), col("n_seen"),
        ExactRatio.r4(col("n_grams") - col("n_seen"), col("n_grams"))
          .as("novelty"))
      .orderBy(col("doc_id"))
  }

  private val stopwords = Seq("the", "a", "and", "of", "to", "in", "is")

  /** Quality scores: length, token count, stopword ratio, punctuation
    * ratio, and a categorical flag — the classic cheap pre-filters
    * applied before expensive pipeline stages. Tokens are staged as a
    * column (split once per row, not once per expression) and the
    * stopword count goes through the codegen'd CountInSet kernel. */
  def qualityScores(s: SparkSession, d: String): DataFrame =
    qualityScoresOn(Tables.documents(s, d))

  /** Same over any (doc_id, text) frame. */
  def qualityScoresOn(docs: DataFrame): DataFrame = {
    val t = col("__t")
    graft.Tables.spread(docs)
      .select(col("doc_id"), col("text"), toks(col("text")).as("__t"))
      .select(
        col("doc_id"),
        length(col("text")).as("len"),
        size(t).as("n_tokens"),
        round(graft.functions.TextExprs.countInSet(t, stopwords)
          .cast("double") / size(t), 4).as("stopword_ratio"),
        round(regexp_count(col("text"), lit("[.,;:!?]")).cast("double") /
          length(col("text")), 4).as("punct_ratio"))
      .withColumn("quality_flag",
        when(col("len") >= 100 && col("stopword_ratio") >= 0.01, "good")
          .otherwise("low"))
      .orderBy(col("doc_id"))
  }

  /** Language profiles: minimal public stopword seeds per language.
    * (The synthetic corpus shares one vocabulary across its declared
    * langs, so accuracy there is undefined; LangIdSpec exercises the
    * operator on real multilingual sentences.) */
  private val langProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "ist", "ein", "zu", "den", "nicht", "von"),
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "that", "it", "was"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es", "se", "no"),
    "fr" -> Seq("le", "les", "de", "et", "un", "est", "pour", "que", "dans", "ce"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不", "这", "中"))

  /** Stopword-profile language ID: score(lang) = fraction of tokens
    * in that language's profile; argmax with deterministic
    * alphabetical tiebreak, 'und' when nothing matches. */
  def langId(s: SparkSession, d: String): DataFrame =
    langIdOn(Tables.documents(s, d).select(col("doc_id"), col("lang"), col("text")))

  /** Same scoring over any (doc_id, lang, text) frame. The lowered
    * token array is staged once; each profile score is then one
    * codegen'd CountInSet probe instead of an interpreted filter
    * lambda — ~5× less per-row work with five profiles. */
  def langIdOn(docs: DataFrame): DataFrame = {
    val t = col("__t")
    val staged = graft.Tables.spread(docs).select(col("doc_id"), col("lang"),
      toks(lower(col("text"))).as("__t"))
    val scored = langProfiles.foldLeft(staged) {
      case (df, (lang, words)) =>
        df.withColumn(s"score_$lang",
          round(graft.functions.TextExprs.countInSet(t, words)
            .cast("double") / greatest(size(t), lit(1)), 4))
    }
    val best = langProfiles.map { case (lang, _) =>
      struct(col(s"score_$lang").as("score"), lit(lang).as("lang"))
    }
    // greatest over (score, lang) structs: max score wins; equal
    // scores break deterministically to the lexicographically
    // largest lang (struct comparison falls through to field 2).
    scored.withColumn("best", greatest(best: _*))
      .select(col("doc_id"), col("lang").as("declared_lang"),
        when(col("best.score") > 0, col("best.lang")).otherwise("und")
          .as("pred_lang"),
        col("best.score").as("score"))
      .orderBy(col("doc_id"))
  }

  // Redaction patterns, shared verbatim by the SQL oracle: Java regex
  // and RE2 agree on this subset (no backrefs, no lookaround).
  private[graft] val redactPatterns: Seq[(String, String, String)] = Seq(
    ("urls",   "https?://[^\\s]+",                              "<URL>"),
    ("emails", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ips",    "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b",                "<IP>"),
    ("digits", "\\d{6,}",                                       "<NUM>"))

  /** PII scrub over any (doc_id, text) frame — the pre-training
    * redaction pass: URLs, emails, IPv4 addresses, and long digit runs
    * (phone/account numbers) replaced by typed placeholders, with
    * per-category match counts for auditability. A pure regexp chain
    * inside the row projection (codegen'd, no shuffle); patterns apply
    * in a fixed order so overlapping matches resolve
    * deterministically. */
  def redactOn(docs: DataFrame): DataFrame = {
    val counted = redactPatterns.foldLeft(graft.Tables.spread(docs)) {
      case (df, (name, pat, _)) =>
        df.withColumn(s"n_$name", regexp_count(col("text"), lit(pat)))
    }
    val redacted = redactPatterns.foldLeft(col("text")) {
      case (c, (_, pat, token)) => regexp_replace(c, pat, token)
    }
    counted
      .select((col("doc_id") +:
        redactPatterns.map { case (name, _, _) => col(s"n_$name") }) :+
        redacted.as("redacted"): _*)
      .orderBy(col("doc_id"))
  }

  /** Per-document top-k TF-IDF terms — the classic salient-term
    * extraction over a corpus. Fully distributed: term frequencies
    * are one map-side-combinable shuffle on (doc, term), document
    * frequencies reuse that frame (already distinct per doc) with a
    * second narrow shuffle on term, the corpus size joins in as a
    * broadcast single-row frame, and the per-doc top-k is a ranked
    * window on the doc key. idf is the smoothed
    * ln((N+1)/(df+1)) + 1; scores are rounded to 4dp BEFORE ranking
    * with a term tiebreak, so rankings are stable across engines and
    * float-summation orders. */
  def tfidfTopTerms(s: SparkSession, d: String, k: Int = 3): DataFrame =
    tfidfTopTermsOn(Tables.documents(s, d), k)

  /** Same over any (doc_id, text) frame. */
  def tfidfTopTermsOn(docs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = graft.Tables.spread(docs)
      .select(col("doc_id"), explode(toks(lower(col("text")))).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "term").crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * (log((col("n_docs") + 1) / (col("df") + 1)) + 1), 4))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("term"), col("tfidf"), col("rank"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** Exact corpus-level top-k terms — the vocabulary-profiling face
    * the sketch below is measured against. Map-side-combinable count
    * per term, TakeOrdered top-k; deterministic term tiebreak. */
  def topTerms(s: SparkSession, d: String, k: Int = 20): DataFrame =
    graft.Tables.spread(Tables.documents(s, d))
      .select(explode(toks(lower(col("text")))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term"))
      .limit(k)

  /** Misra–Gries top-k terms, checked — the 100 TB face: the exact
    * groupBy's keyspace IS the problem at web-corpus vocabulary sizes,
    * while this sketch holds `capacity` counters per partial aggregate
    * and merges map-side. The approx-tier gating pattern: one token
    * explode feeds the Misra–Gries sketch AND the exact counts, and
    * the entry itself asserts the sketch's
    * guarantees against the exact answer per top-k term — presence
    * (any term with n > N/capacity must hold a counter), undercount
    * (est ≤ n), and the merge-safe error bound (n − est ≤
    * N/capacity, Agarwal et al. PODS'12). Output rows are the EXACT
    * top-k (deterministic) plus the three verdict flags, so the
    * cross-engine hash gates the sketch: a broken update or merge
    * flips a flag and the oracle (exact top-k + TRUE flags) catches
    * it. Estimates themselves stay merge-order-dependent and are
    * deliberately not emitted. */
  def topTermsSketchChecked(s: SparkSession, d: String, k: Int = 10,
                            capacity: Int = 64): DataFrame = {
    val mg = udaf(new graft.functions.MisraGriesAgg(capacity))
    val terms = graft.Tables.spread(Tables.documents(s, d))
      .select(explode(toks(lower(col("text")))).as("term"))
      .transform(Reuse.shared)
    val sketch = terms.agg(mg(col("term")).as("sk"))
      .select(explode(col("sk")).as(Seq("term", "est")))
    val totals = terms.agg(count(lit(1)).as("__total"))
    val exactTopK = terms.groupBy(col("term")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term")).limit(k)
    val bound = expr(s"__total div $capacity")
    exactTopK
      .join(sketch, Seq("term"), "left")
      .crossJoin(broadcast(totals))
      .select(
        col("term"), col("n"),
        (col("est").isNotNull || col("n") <= bound).as("in_sketch_ok"),
        (col("est").isNull || col("est") <= col("n")).as("est_lower_ok"),
        (col("est").isNull || col("n") - col("est") <= bound)
          .as("est_within_bound"))
      .orderBy(col("n").desc, col("term"))
  }

  /** Count-Min sketch term-frequency estimates — the POINT-QUERY
    * sketch beside [[topTermsSketchChecked]]'s heavy-hitter list (MG answers
    * "who is frequent"; CM answers "how often is THIS term" for any
    * queried term, from a fixed d×w counter grid): counter(i, b) =
    * tokens hashing to bucket b under row i's hash, est(term) =
    * minᵢ counter(i, hᵢ(term)) — an OVERCOUNT (collisions only add),
    * est ≥ true is the hard guarantee, E[over] ≤ n/w per row and the
    * min across d independent rows drives it down (Cormode &
    * Muthukrishnan '05).
    *
    * Spark-first twist: the hashes are md5-prefix integers (the
    * repo's cross-engine hash), so the ENTIRE sketch is expressible
    * as one map-side-combinable aggregation to a FIXED d·w-row grid —
    * no custom Aggregator, no rows-only declaration: build, probe,
    * and verdict all replay value-for-value in DuckDB. The d×
    * row-local explode collapses inside the scan stage via partial
    * aggregation (the shuffle carries ≤ d·w rows whatever the corpus
    * size); probes are the exact top-k terms (one TakeOrdered pass —
    * true counts ride along for the measured overcount), joined
    * against the broadcast-sized grid. At 100 TB the sketch is STILL
    * 1024 counters — the fixed-memory frequency table a streaming or
    * multi-tenant profiler keeps when even the vocabulary doesn't
    * fit. */
  def countMin(s: SparkSession, d: String): DataFrame = {
    val depth = 4
    val width = 256
    val k = 10
    countMinOn(Tables.documents(s, d), depth, width, k)
  }

  /** Same over any (doc_id, text) frame. */
  def countMinOn(corpus: DataFrame, depth: Int, width: Int,
                 k: Int): DataFrame = {
    def bucket(i: Column, term: Column): Column =
      conv(substring(md5(concat(i.cast("string"), lit("_"), term)),
        1, 15), 16, 10).cast("long") % width
    val terms = graft.Tables.spread(corpus)
      .select(explode(toks(lower(col("text")))).as("term"))
    val sketch = terms
      .withColumn("i", explode(sequence(lit(0), lit(depth - 1))))
      .select(col("i"), bucket(col("i"), col("term")).as("bucket"))
      .groupBy(col("i"), col("bucket")).agg(count(lit(1)).as("cnt"))
    val topk = terms.groupBy(col("term")).agg(count(lit(1)).as("true_n"))
      .orderBy(col("true_n").desc, col("term")).limit(k)
    val probes = topk
      .withColumn("i", explode(sequence(lit(0), lit(depth - 1))))
      .select(col("term"), col("true_n"), col("i"),
        bucket(col("i"), col("term")).as("bucket"))
    probes.join(broadcast(sketch), Seq("i", "bucket"))
      .groupBy(col("term"), col("true_n"))
      .agg(min(col("cnt")).as("est_n"))
      .select(col("term"), col("true_n"), col("est_n"),
        (col("est_n") - col("true_n")).as("overcount"),
        (col("est_n") >= col("true_n")).as("ge_true"))
      .orderBy(col("true_n").desc, col("term"))
  }

  /** Overlapping token-window chunking — the step that turns curated
    * documents into training-sized pieces: each document explodes
    * into windows of `chunkTokens` tokens advancing by
    * `chunkTokens - overlap`, so consecutive chunks share `overlap`
    * tokens of context. Entirely row-local (staged token array +
    * sequence/slice/posexplode in the projection — no shuffle until
    * the caller's sink), so it runs at scan speed on any corpus
    * width. Chunk starts cover every token (the final windows may be
    * shorter than `chunkTokens`); emitted columns are
    * (doc_id, chunk_id, chunk, n_tokens). */
  def chunk(s: SparkSession, d: String): DataFrame = {
    val chunkTokens = 64
    val overlap = 16
    chunkOn(Tables.documents(s, d), chunkTokens, overlap)
  }

  /** Same over any (doc_id, text) frame. */
  def chunkOn(docs: DataFrame, chunkTokens: Int, overlap: Int): DataFrame = {
    require(chunkTokens > 0 && overlap >= 0 && overlap < chunkTokens,
      s"need 0 <= overlap < chunkTokens, got $overlap/$chunkTokens")
    val stride = chunkTokens - overlap
    // coalesce: a NULL text would otherwise vanish (explode over null
    // emits nothing) while "" yields one empty chunk — normalize so
    // null and empty behave identically (one empty chunk, n_tokens 1)
    val staged = graft.Tables.spread(docs)
      .select(col("doc_id"), toks(coalesce(col("text"), lit(""))).as("t"))
      .withColumn("n", size(col("t")))
    staged
      .select(col("doc_id"), col("t"), col("n"),
        // greatest(n,1): sequence(1, 0) would throw on a 0-length
        // token array; today toks never returns one (split of "" is
        // [""]), but a chunker must not be one tokenizer change away
        // from "Illegal sequence boundaries"
        posexplode(sequence(lit(1), greatest(col("n"), lit(1)), lit(stride)))
          .as(Seq("chunk_id", "s")))
      .select(col("doc_id"), col("chunk_id"),
        concat_ws(" ", slice(col("t"), col("s"), lit(chunkTokens))).as("chunk"),
        least(lit(chunkTokens), col("n") - col("s") + 1).as("n_tokens"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** Sequence packing — the concatenate-and-cut step GPT-style
    * pretraining uses to fill fixed context windows: lay every
    * document's tokens end to end in doc_id order and cut the stream
    * every `ctxLen` tokens; each output row maps one document SPAN
    * into one context, as (ctx_id, doc_id, from_tok inclusive,
    * to_tok exclusive) — a doc longer than a window spans several
    * contexts, and every window except the last is exactly full.
    *
    * The global token offset is a distributed PREFIX SUM, not a
    * single global window (which would sort the corpus in ONE
    * partition — the classic scale-killer): range-partition by
    * doc_id, running-sum within each partition, then add each
    * partition's broadcast cumulative offset. The only global window
    * runs over one row per partition. */
  def pack(s: SparkSession, d: String): DataFrame = {
    val ctxLen = 128
    packOn(Tables.documents(s, d), ctxLen)
  }

  /** Same over any (doc_id, text) frame. */
  def packOn(docs: DataFrame, ctxLen: Int): DataFrame = {
    require(ctxLen > 0)
    // coalesce for null-vs-empty consistency with chunkOn (a null
    // text packs like an empty one: one "" token), and keep only
    // n > 0 rows before the span explode — with a 0-token doc the
    // span sequence's bounds could invert at a context boundary and
    // sequence(a, b<a) silently generates a DESCENDING range
    val sized = graft.Tables.spread(docs)
      .select(col("doc_id"), size(toks(coalesce(col("text"), lit("")))).as("n"))
      .filter(col("n") > 0)
    // the shared distributed prefix sum (see PrefixSum for the plan
    // shape and the exchange-reuse correctness guard); exclusive
    // running total of token counts in doc_id order — duplicate ids
    // would each book their own slot, keep doc_id unique for
    // cross-engine determinism
    PrefixSum.exclusive(sized, Seq(col("doc_id")), col("n"))
      .withColumn("cum", col("__cum"))
      .select(col("doc_id"), col("n"), col("cum"),
        explode(sequence(expr(s"cum div $ctxLen"),
          expr(s"(cum + n - 1) div $ctxLen"))).as("ctx_id"))
      .select(col("ctx_id"), col("doc_id"),
        greatest(lit(0L), col("ctx_id") * ctxLen - col("cum"))
          .cast("int").as("from_tok"),
        least(col("n").cast("long"), (col("ctx_id") + 1) * ctxLen - col("cum"))
          .cast("int").as("to_tok"))
      .orderBy(col("ctx_id"), col("doc_id"))
  }

  /** The Gopher document-quality GATES (Rae et al. 2021 §A1.1) — the
    * boolean filter battery LLM pipelines run before any scoring:
    * word-count bounds, mean word length bounds, symbol-to-word
    * ratio, bullet-line and ellipsis-line fractions, alphabetic-word
    * fraction, and a stopword floor. Everything is derived from
    * engine-portable primitives: token count from the shared
    * whitespace split; mean word length as non-whitespace chars over
    * words (identical to the token-length sum, one regexp_replace
    * instead of a per-token fold); line tests as regex filters over
    * the newline split; the stopword floor counts OCCURRENCES of the
    * 8 Gopher function words (≥ 2 — documented occurrence semantics,
    * identical both engines). Ratios 4dp; `pass` = every gate.
    * Row-local over one scan — zero shuffles at any corpus size. */
  def gopherGates(s: SparkSession, d: String): DataFrame =
    gopherGatesOn(Tables.documents(s, d))

  private val gopherStop =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Same over any (doc_id, text) frame. */
  def gopherGatesOn(docs: DataFrame): DataFrame = {
    val t = col("__t")
    val ls = col("__ls")
    graft.Tables.spread(docs)
      .select(col("doc_id"), col("text"), toks(col("text")).as("__t"),
        split(col("text"), "\n").as("__ls"))
      .select(col("doc_id"),
        size(t).as("n_words"),
        round(length(regexp_replace(trim(col("text")), "\\s+", ""))
          .cast("double") / size(t), 4).as("mean_word_len"),
        round(regexp_count(col("text"), lit("[#…]")).cast("double") /
          size(t), 4).as("symbol_ratio"),
        round(size(filter(ls, x => x.rlike("^\\s*[-*•]")))
          .cast("double") / size(ls), 4).as("bullet_ratio"),
        round(size(filter(ls, x => x.rlike("(\\.\\.\\.|…)\\s*$")))
          .cast("double") / size(ls), 4).as("ellipsis_ratio"),
        round(size(filter(t, x => x.rlike("[A-Za-z]")))
          .cast("double") / size(t), 4).as("alpha_ratio"),
        graft.functions.TextExprs.countInSet(t, gopherStop)
          .cast("bigint").as("stop_hits"))
      .withColumn("pass",
        col("n_words") >= 50 && col("n_words") <= 100000 &&
        col("mean_word_len") >= 3 && col("mean_word_len") <= 10 &&
        col("symbol_ratio") <= 0.1 &&
        col("bullet_ratio") <= 0.9 &&
        col("ellipsis_ratio") <= 0.3 &&
        col("alpha_ratio") >= 0.8 &&
        col("stop_hits") >= 2)
      .orderBy(col("doc_id"))
  }

  /** Repetition-based quality signals (the Gopher-rule family):
    * duplicate-bigram fraction (1 − distinct/total) and top-bigram
    * fraction (most frequent bigram's share) — the cheap detectors
    * for boilerplate and looping text. One map-side-combinable
    * shuffle on (doc, bigram), then a per-doc aggregate; documents
    * with fewer than two tokens have no bigrams and are omitted. */
  def repetitionScores(s: SparkSession, d: String): DataFrame =
    repetitionScoresOn(Tables.documents(s, d))

  /** Same over any (doc_id, text) frame. */
  def repetitionScoresOn(docs: DataFrame): DataFrame = {
    val staged = graft.Tables.spread(docs)
      .select(col("doc_id"), toks(col("text")).as("t"))
    val starts = when(size(col("t")) >= 2, sequence(lit(1), size(col("t")) - 1))
      .otherwise(array().cast("array<int>"))
    val bigrams = transform(starts, i => concat_ws(" ", slice(col("t"), i, lit(2))))
    staged
      .select(col("doc_id"), explode(bigrams).as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("total"), count(lit(1)).as("n_distinct"),
        max(col("c")).as("top"))
      .select(col("doc_id"),
        // 1 − d/t published as the equivalent ratio (t−d)/t so the
        // ExactRatio contract (num ≥ 0) applies directly
        ExactRatio.r4(col("total") - col("n_distinct"), col("total"))
          .as("dup_2gram_frac"),
        ExactRatio.r4(col("top"), col("total"))
          .as("top_2gram_frac"))
      .orderBy(col("doc_id"))
  }

  /** INTRA-document line dedup — the boilerplate-removal pass web
    * curation runs before any cross-document dedup: nav bars, cookie
    * banners, and footer text repeat as identical LINES inside one
    * page, and removing repeats within the document is row-local
    * (zero shuffle, scan speed at any corpus width). Keeps each
    * line's FIRST occurrence, preserving order:
    * `filter(lines, (l, i) -> array_position(lines, l) == i+1)` —
    * O(lines²) per document in the worst case, which for real pages
    * (tens of lines) is far cheaper than any shuffle-based
    * alternative. Emits (doc_id, n_lines, n_kept, clean). */
  def dedupLinesOn(docs: DataFrame): DataFrame = {
    // null text behaves like the empty string (one empty line kept),
    // matching chunkOn/packOn — split(null) would otherwise propagate
    // NULL into legacy size() = -1 counts
    val staged = graft.Tables.spread(docs)
      .select(col("doc_id"),
        split(coalesce(col("text"), lit("")), "\n").as("ls"))
    val kept = filter(col("ls"),
      (l, i) => array_position(col("ls"), l) === i + lit(1))
    staged
      .select(col("doc_id"), size(col("ls")).as("n_lines"), kept.as("__k"))
      .select(col("doc_id"), col("n_lines"), size(col("__k")).as("n_kept"),
        concat_ws("\n", col("__k")).as("clean"))
      .orderBy(col("doc_id"))
  }

  /** CORPUS-WIDE line dedup — the C4-style boilerplate removal
    * [[dedupLinesOn]] (intra-document) can't do: a navigation header
    * shared by every page of a site, or a legal footer shared by the
    * whole crawl, survives intra-doc dedup on every page. Here each
    * distinct line keeps ONLY its first occurrence across the corpus
    * (first = smallest (doc_id, line index)); every document
    * reassembles from its surviving lines in original order, and a
    * document whose lines all lost drops.
    *
    * Scale shape: the first-occurrence owner per line is a map-side-
    * combinable `min(struct(doc_id, idx))` aggregate keyed on the
    * line — deliberately NOT a row_number window, whose per-line
    * partitions put a billion-copy boilerplate line through one
    * reducer; with the aggregate the hot line collapses map-side and
    * the shuffle carries one row per (partition, line). Survivors
    * come back via a semi join against the (one row per distinct
    * line) owner frame, and reassembly is one doc_id-keyed aggregate
    * (array_sort on the (idx, line) structs — no window). */
  def dedupLinesGlobalOn(docs: DataFrame): DataFrame = {
    val lines = graft.Tables.spread(docs)
      .select(col("doc_id"),
        posexplode(split(coalesce(col("text"), lit("")), "\n"))
          .as(Seq("idx", "line")))
    val owners = lines
      .groupBy(col("line"))
      .agg(min(struct(col("doc_id"), col("idx"))).as("__f"))
      .select(col("line"), col("__f.doc_id").as("doc_id"),
        col("__f.idx").as("idx"))
    lines.join(owners, Seq("line", "doc_id", "idx"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("idx"), col("line")))),
            x => x.getField("line")), "\n").as("clean"),
        count(lit(1)).as("n_kept"))
      .orderBy(col("doc_id"))
  }

  /** Unigram language-model score — the cheap proxy for the
    * LM-perplexity filtering web curation runs (CCNet-style): train
    * add-one-smoothed unigram probabilities on the corpus itself and
    * score each document by its mean token log-probability; documents
    * whose score sits far below the corpus mode are gibberish,
    * boilerplate, or the wrong language. Two shuffles (vocabulary
    * count, per-doc aggregate) + one token→count join whose output is
    * probe-sized — no vocabulary broadcast needed, so the vocabulary
    * can be arbitrarily large.
    *
    * Per-token log-probs are rounded to 10dp and summed as DECIMAL:
    * exact and associative, so the per-doc mean cannot depend on
    * aggregation order (the same contract as emb_centroids). */
  def lmScore(s: SparkSession, d: String): DataFrame =
    lmScoreOn(Tables.documents(s, d))

  /** Same over any (doc_id, text) frame. */
  def lmScoreOn(docs: DataFrame): DataFrame = {
    // checkpointed: tok feeds BOTH the vocabulary count and the join
    // probe — without it the scan+split+explode (the expensive stage)
    // runs once per subtree
    val tok = graft.Tables.spread(docs)
      .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
      .transform(Reuse.shared)
    val counts = tok.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val totals = counts.agg(sum(col("c")).as("n"), count(lit(1)).as("v"))
    tok.join(counts, "tok")
      .crossJoin(broadcast(totals))
      .select(col("doc_id"),
        round(log((col("c") + 1).cast("double") / (col("n") + col("v"))), 10)
          .cast("decimal(20,10)").as("lp"))
      .groupBy(col("doc_id"))
      .agg(sum(col("lp")).as("__s"), count(lit(1)).as("n_toks"))
      .select(col("doc_id"), col("n_toks"),
        round(col("__s").cast("double") / col("n_toks"), 4).as("avg_logp"))
      .orderBy(col("doc_id"))
  }

  /** Bigram LM scoring with stupid backoff — the sequence-aware
    * upgrade to [[lmScoreOn]]'s unigram filter: a doc full of common
    * words in IMPLAUSIBLE order (shuffled text, keyword stuffing,
    * template spam) scores high on unigrams but low here, because
    * unseen transitions pay the backoff penalty
    * ln(0.4) + ln(smoothed unigram). The model trains on the
    * EVEN-doc_id half and scores every doc (a model trained on the
    * scored corpus itself would see every bigram and the backoff
    * path would be dead code — the real shape is an external
    * reference LM, per CCNet), so `backoff_share` is a real signal:
    * held-out docs with novel transitions back off more.
    *
    * Shape: bigrams are ROW-LOCAL (the token array zipped with its
    * own tail — no window, no shuffle to form sequences); model
    * counts and context totals are map-side-combinable aggregates on
    * token keys; scoring is three LEFT equi-joins through
    * (w1,w2)/w1/w2 whose model sides AQE sizes (never hinted — a
    * web-scale vocabulary doesn't broadcast, the [[lmScoreOn]]
    * posture). Per-term log-probs round to 10dp DECIMAL before the
    * per-doc mean (aggregation-order independent); docs under two
    * tokens have no transitions and drop (documented). */
  def lmScoreBigram(s: SparkSession, d: String): DataFrame =
    lmScoreBigramOn(Tables.documents(s, d))

  /** Same over any (doc_id, text) frame. */
  def lmScoreBigramOn(docs: DataFrame): DataFrame = {
    // tok feeds the model fit AND the scoring pass
    val tok = graft.Tables.spread(docs)
      .select(col("doc_id"), toks(col("text")).as("ws"))
      .transform(Reuse.shared)
    val train = tok.filter(col("doc_id") % 2 === 0)
    val uni = train.select(explode(col("ws")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cu"))
    val tot = uni.agg(sum(col("cu")).as("n"), count(lit(1)).as("v"))
    def bigrams(df: DataFrame, keep: Column*) =
      df.select((keep :+ explode(arrays_zip(
          slice(col("ws"), lit(1), size(col("ws")) - 1),
          slice(col("ws"), lit(2), size(col("ws")) - 1))).as("p")): _*)
        .select((keep :+ col("p.0").as("w1") :+ col("p.1").as("w2")): _*)
    val model = bigrams(train)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val ctx = model.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val scored = bigrams(tok, col("doc_id"))
      .join(model, Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"), "left")
      .join(uni.withColumnRenamed("w", "w2"), Seq("w2"), "left")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"),
        round(when(col("c12").isNotNull,
          log(col("c12").cast("double") / col("c1")))
          .otherwise(log(lit(0.4)) +
            log((coalesce(col("cu"), lit(0L)) + 1).cast("double") /
              (col("n") + col("v")))), 10)
          .cast("decimal(20,10)").as("lp"),
        when(col("c12").isNull, lit(1L)).otherwise(lit(0L)).as("bo"))
    scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("lp")).as("__s"), sum(col("bo")).as("__b"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("__s").cast("double") / col("n_bigrams"), 4).as("avg_logp"),
        ExactRatio.r4(col("__b"), col("n_bigrams")).as("backoff_share"))
      .orderBy(col("doc_id"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): split
    * each LANGUAGE's documents into head/middle/tail terciles by
    * their [[lmScoreOn]] language-model score — the curation dial
    * CCNet ships (train on head, sample middle, drop tail). Buckets
    * are PER LANGUAGE because LM scores aren't comparable across
    * languages (a fluent zh doc and a fluent en doc sit at different
    * absolute log-probs; one global cut would just re-derive langid).
    *
    * The per-language rank comes from the distributed [[PrefixSum]]
    * over (lang, score DESC, doc_id) minus a broadcast per-language
    * offset — never a corpus-wide window partitioned by a hot
    * language key (at 100 TB one language IS most of the corpus, so
    * `Window.partitionBy(lang)` would sort half the data in one
    * task). The offset frame is language-cardinality-sized; its
    * partition-less window runs over ~tens of rows (the
    * psiFromCounts posture). Tercile id = (3·rank) div n_lang on
    * exact integers; the sort key is the ALREADY-4dp-rounded score
    * (identical in both engines — the lmScore contract), so bucket
    * boundaries cannot drift. */
  def ccnetBuckets(s: SparkSession, d: String): DataFrame =
    ccnetBucketsOn(Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("text")))

  /** Same over any (doc_id, lang, text) frame. */
  def ccnetBucketsOn(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // checkpoint the scored frame (4 narrow columns per doc): the
    // language-offset branch AND the PrefixSum ranking both read it,
    // and each would otherwise re-run the lmScore join chain
    val j = lmScoreOn(docs.select(col("doc_id"), col("text")))
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .transform(Reuse.shared)
    val offs = j.groupBy(col("lang")).agg(count(lit(1)).as("nl"))
      .withColumn("off", coalesce(sum(col("nl")).over(
        Window.orderBy(col("lang"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    PrefixSum.exclusive(j,
        Seq(col("lang").asc, col("avg_logp").desc, col("doc_id").asc),
        lit(1))
      .join(broadcast(offs), "lang")
      .withColumn("__b", expr("((__cum - off) * 3) div nl"))
      .select(col("doc_id"), col("lang"), col("n_toks"), col("avg_logp"),
        when(col("__b") === 0, "head").when(col("__b") === 1, "middle")
          .otherwise("tail").as("bucket"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB replica of [[ccnetBuckets]]: the lmScore pipeline, a
    * per-language dense position, and the same integer tercile. */
  private[graft] def ccnetBucketsOracleSql: String =
    """WITH tok AS (SELECT doc_id,
      |    unnest(string_split_regex(trim(text), '\s+')) AS tok
      |  FROM documents),
      |c AS (SELECT tok, count(*) AS c FROM tok GROUP BY 1),
      |t AS (SELECT sum(c) AS n, count(*) AS v FROM c),
      |lp AS (SELECT doc_id,
      |    CAST(round(ln((c.c + 1) * 1.0 / (t.n + t.v)), 10)
      |      AS DECIMAL(20,10)) AS lp
      |  FROM tok JOIN c USING (tok), t),
      |lm AS (SELECT doc_id, count(*) AS n_toks,
      |    round(CAST(sum(lp) AS DOUBLE) / count(*), 4) AS avg_logp
      |  FROM lp GROUP BY 1),
      |j AS (SELECT lm.*, d.lang FROM lm JOIN documents d USING (doc_id)),
      |r AS (SELECT *, row_number() OVER (PARTITION BY lang
      |      ORDER BY avg_logp DESC, doc_id) - 1 AS rk,
      |    count(*) OVER (PARTITION BY lang) AS nl FROM j)
      |SELECT doc_id, lang, n_toks, avg_logp,
      |  CASE (3 * rk) // nl WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
      |    ELSE 'tail' END AS bucket
      |FROM r ORDER BY doc_id""".stripMargin

  /** URL canonicalization — the normalize-before-dedup step of web
    * curation: the same page arrives as `HTTP://Example.COM:80/a/`,
    * `http://example.com/a?utm_source=x`, and `http://example.com/a#top`,
    * and URL-keyed dedup/joins miss all of it until the key is
    * canonical. Rules: lowercase scheme+host, drop default ports
    * (http:80 / https:443), strip the fragment, strip trailing path
    * slashes, and remove tracking parameters (utm_*, gclid, fbclid) —
    * the query is SPLIT into parameters and filtered (parser-style),
    * not regex-surgeried, so removal works at any parameter position
    * without separator damage. Entirely row-local column expressions:
    * scan speed at any width. */
  def canonicalUrl(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*$", "")
    val pre = split(noFrag, "\\?").getItem(0)
    // try_element_at: a query-less URL splits to ONE part, and ANSI
    // element_at throws on the missing index instead of returning null
    val query = coalesce(try_element_at(split(noFrag, "\\?"), lit(2)), lit(""))
    val scheme = lower(regexp_extract(pre, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val auth = regexp_extract(pre, "^[A-Za-z][A-Za-z0-9+.-]*://([^/]+)", 1)
    val host = lower(regexp_replace(auth, ":\\d+$", ""))
    val port = regexp_extract(auth, ":(\\d+)$", 1)
    val keepPort = port =!= "" &&
      !(scheme === "http" && port === "80") &&
      !(scheme === "https" && port === "443")
    val path = regexp_replace(
      regexp_replace(pre, "^[A-Za-z][A-Za-z0-9+.-]*://[^/]*", ""), "/+$", "")
    val kept = filter(split(query, "&"),
      p => !(p.rlike("^(utm_[A-Za-z_]+|gclid|fbclid)=") || p === ""))
    val q2 = array_join(kept, "&")
    concat(scheme, lit("://"), host,
      when(keepPort, concat(lit(":"), port)).otherwise(lit("")),
      path,
      when(q2 =!= "", concat(lit("?"), q2)).otherwise(lit("")))
  }

  /** Winnowing fingerprint (Schleimer et al., SIGMOD'03), checked:
    * hash every k-token shingle, take the minimum hash of each
    * sliding window of w shingles, dedupe — a compact, position-robust
    * signature. Winnowing is hash-agnostic, so hashing with a
    * 60-bit md5 prefix instead of xxhash64 (which no other engine
    * computes) — Spark `conv(substr(md5(g),1,15),16,10)`, DuckDB
    * `('0x'||substr(md5(g),1,15))::ubigint` — makes EVERY
    * fingerprint value replayable cross-engine: the oracle re-runs
    * the full shingle → hash → sliding-window-min → distinct+sort
    * pipeline in SQL and compares actual signatures, not just shapes.
    * Built from row-local builtin expressions (sequence/slice/
    * transform/array_min — no custom kernel, no shuffle), so the
    * checked face also serves as an independent reimplementation of
    * the winnow algorithm itself; 60 bits keeps the unsigned hex
    * parse inside a signed BIGINT in both engines. */
  def fingerprintsChecked(s: SparkSession, d: String,
                          k: Int = 3, w: Int = 4): DataFrame = {
    val t = toks(col("text"))
    val gramAt = (i: Column) => concat_ws(" ", slice(t, i, lit(k)))
    val grams = when(size(t) >= k,
      transform(sequence(lit(1), size(t) - (k - 1)), i => gramAt(i)))
      .otherwise(array(concat_ws(" ", t)))
    val hs = transform(grams,
      g => conv(substring(md5(g), 1, 15), 16, 10).cast("long"))
    val fpCol = {
      val m = size(col("__h"))
      val wins = transform(sequence(lit(1), greatest(m - (w - 1), lit(1))),
        j => array_min(slice(col("__h"), j, lit(w))))
      array_sort(array_distinct(wins))
    }
    graft.Tables.spread(Tables.documents(s, d))
      .select(col("doc_id"), hs.as("__h"))
      .select(col("doc_id"), fpCol.as("__fp"))
      .select(col("doc_id"),
        array_join(col("__fp").cast("array<string>"), ",").as("fingerprint"),
        size(col("__fp")).as("fp_size"),
        element_at(col("__fp"), 1).as("fp_min"))
      .orderBy(col("doc_id"))
  }

  /** The top-list length of the collocation and RAKE faces. */
  private val phraseTopN = 20

  /** Collocation mining: the adjacent word pairs that stick together
    * far more than chance — pointwise mutual information over corpus
    * bigrams, PMI(a,b) = ln( p(a,b) / (p(a)·p(b)) ). The phrase
    * detector of corpus analysis (a "new york"-style pair earns high
    * PMI; "of the" earns none), and the phrase-merge prep step of
    * tokenizer/embedding training pipelines.
    *
    * Scale shape: one scan explodes tokens (unigram counts) and
    * adjacent pairs (bigram counts) — both aggregations are
    * map-side-combinable on uniform keys; the bigram→unigram count
    * joins probe a vocabulary-sized side that AQE broadcasts when it
    * measures small (never hinted — vocabularies can be billions of
    * keys at web scale, the text_lm_score posture). `minCount` kills
    * the rare-pair PMI pathology (a pair seen once between two rare
    * words scores absurdly high) BEFORE the joins, which also keeps
    * the joined row count honest at scale. */
  def collocations(s: SparkSession, d: String): DataFrame = {
    val minCount = 5
    collocationsOn(Tables.documents(s, d), phraseTopN, minCount)
  }

  /** Same over any (doc_id, text) frame. */
  def collocationsOn(docs: DataFrame,
                     topN: Int = 20, minCount: Int = 5): DataFrame = {
    val tok = graft.Tables.spread(docs)
      .select(col("doc_id"), toks(col("text")).as("ws"))
      .transform(Reuse.shared)
    val uni = tok.select(explode(col("ws")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val totals = uni.agg(sum(col("c")).as("nt"))
    // adjacent pairs: zip the token array with its own tail — row-local
    val bi = tok.select(explode(arrays_zip(
        slice(col("ws"), lit(1), size(col("ws")) - 1),
        slice(col("ws"), lit(2), size(col("ws")) - 1))).as("p"))
      .select(col("p.0").as("w1"), col("p.1").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= minCount)
    val nBi = tok.select((size(col("ws")) - 1).cast("long").as("m"))
      .agg(sum(col("m")).as("nb"))
    val pmi = bi
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(totals))
      .crossJoin(broadcast(nBi))
      .select(col("w1"), col("w2"), col("c12"),
        round(log((col("c12").cast("double") / col("nb")) /
          ((col("c1").cast("double") / col("nt")) *
           (col("c2").cast("double") / col("nt")))), 4).as("pmi"))
    pmi.orderBy(col("pmi").desc, col("w1"), col("w2")).limit(topN)
  }

  /** RAKE keyword extraction — corpus-level salient PHRASES (vs
    * tf-idf's salient terms): candidate phrases are maximal runs
    * between stopword/punctuation delimiters, word scores are
    * degree/frequency over phrase co-occurrence, a phrase scores the
    * sum of its words. Everything is two explode+groupBy passes on
    * uniform keys (phrase occurrences, then words) and one
    * phrase-key join — map-side-combinable counts, no window, no
    * self-join; top-N is a TakeOrdered. Word scores round to 6dp and
    * phrase sums quantize to DECIMAL (order- and engine-independent);
    * the split pattern avoids lookaround (RE2-safe, shared verbatim
    * with the oracle). */
  def rake(s: SparkSession, d: String): DataFrame =
    rakeOn(Tables.documents(s, d), phraseTopN)

  private val rakeSplit = "[.,;:!?]+|\\b(?:the|a|and|of|to|in|is)\\b"

  /** Same over any (doc_id, text) frame. */
  def rakeOn(docs: DataFrame, topN: Int): DataFrame = {
    val ph = graft.Tables.spread(docs)
      .select(explode(split(lower(col("text")), rakeSplit)).as("p0"))
      .select(trim(col("p0")).as("phrase"))
      .filter(length(col("phrase")) > 0)
    val words = ph
      .withColumn("ws", split(col("phrase"), "\\s+"))
      .select(col("phrase"), size(col("ws")).as("plen"),
        explode(col("ws")).as("w"))
    val wscore = words.groupBy(col("w"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
      .select(col("w"),
        round(col("deg").cast("double") / col("freq"), 6).as("wscore"))
    val distinctP = ph.groupBy(col("phrase")).agg(count(lit(1)).as("n_occ"))
    distinctP
      .select(col("phrase"), col("n_occ"),
        explode(split(col("phrase"), "\\s+")).as("w"))
      .join(wscore, "w")
      .groupBy(col("phrase"), col("n_occ"))
      .agg(sum(col("wscore").cast("decimal(20,10)")).as("__s"))
      .select(col("phrase"), col("n_occ"),
        round(col("__s").cast("double"), 4).as("score"))
      .orderBy(col("score").desc, col("phrase"))
      .limit(topN)
  }

  /** Per-document sentence statistics — segmentation is the unit the
    * quality pipeline reasons in (too-long sentences flag boilerplate
    * and OCR damage; the chunker wants sentence-aligned cuts). Split
    * on terminal-punctuation runs with NO lookbehind (RE2-safe — the
    * oracle engine has no lookaround), trim, drop empties; stats are
    * row-local array math, zero shuffle, scan speed at any width.
    * The synthetic corpus carries no punctuation, so the ENTRY plants
    * a deterministic doc_id-driven sentence tail in both engines (the
    * text_redact planting precedent) — the operator itself is
    * general. */
  def sentenceStats(s: SparkSession, d: String): DataFrame =
    sentenceStatsOn(Tables.documents(s, d).select(col("doc_id"),
      concat(col("text"),
        lit(". planted tail one! tail two? "),
        // 0-2 extra short sentences, varying by doc
        expr("repeat('end. ', CAST(doc_id % 3 AS INT))")).as("text")))

  /** Same over any (doc_id, text) frame. */
  def sentenceStatsOn(docs: DataFrame): DataFrame = {
    val sents = filter(
      transform(split(col("text"), "[.!?]+\\s*"), x => trim(x)),
      x => length(x) > 0)
    graft.Tables.spread(docs)
      .select(col("doc_id"), sents.as("__s"))
      .select(col("doc_id"),
        size(col("__s")).as("n_sentences"),
        when(size(col("__s")) > 0, round(
          aggregate(transform(col("__s"),
            x => size(split(x, "\\s+")).cast("long")),
            lit(0L), (a, x) => a + x).cast("double") / size(col("__s")), 4))
          .otherwise(lit(0.0)).as("avg_sentence_tokens"),
        coalesce(array_max(transform(col("__s"), x => length(x))), lit(0))
          .as("max_sentence_chars"))
      .orderBy(col("doc_id"))
  }

  /** BM25 retrieval — score every document against a fixed query term
    * set and return the top-k. The only per-row work is the doc-length
    * projection; term statistics collapse to the QUERY's terms before
    * anything joins (the tf frame filters to `terms` at the scan, so
    * df/tf sides are query-sized, not vocabulary-sized), and the
    * whole-corpus signals (N, avgdl) ride in as broadcast scalars.
    * idf is rounded to 6dp and each per-term contribution quantizes
    * to DECIMAL before the per-doc sum — scores are identical under
    * any aggregation order and any engine's libm. Top-k is a
    * TakeOrdered on (score desc, doc_id): no global sort. */
  def bm25(s: SparkSession, d: String): DataFrame = {
    val terms = Seq("spark", "stream", "vector")
    val k = 20
    val k1 = 1.2
    val b = 0.75
    bm25On(Tables.documents(s, d), terms, k, k1, b)
  }

  /** Same over any (doc_id, text) frame. */
  def bm25On(corpus: DataFrame, terms: Seq[String], k: Int,
             k1: Double, b: Double): DataFrame = {
    val docs = graft.Tables.spread(corpus)
      .select(col("doc_id"), toks(lower(col("text"))).as("ws"))
    val dl = docs.select(col("doc_id"), size(col("ws")).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val tf = docs
      .select(col("doc_id"), explode(col("ws")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val idf = df.crossJoin(broadcast(stats))
      .select(col("term"),
        round(log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1), 6)
          .as("idf"))
    tf.join(broadcast(idf), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats.select(col("avgdl"))))
      .withColumn("__c",
        round(col("idf") * (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))), 6)
          .cast("decimal(20,10)"))
      .groupBy(col("doc_id")).agg(sum(col("__c")).as("__s"))
      .select(col("doc_id"), round(col("__s").cast("double"), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Multinomial naive Bayes language classifier, trained and scored
    * entirely in the plan — the fully-oracle-checkable counterpart to
    * the MLlib fit (ml_classify is rows-only; this entry's every
    * number replays in ANSI SQL). Train split is a deterministic
    * doc_id cut; the model is three aggregations (class priors, per-
    * (class, term) counts, vocabulary size) — all map-side
    * combinable. Scoring joins each test document's terms to the
    * class-conditional log-probabilities THROUGH the term key (the
    * grid is vocab×classes — linear in vocabulary, never in corpus)
    * and sums tf-weighted contributions per (doc, class). Log
    * probabilities round to 6dp and contributions quantize to
    * DECIMAL, so scores are order- and libm-independent; out-of-
    * vocabulary test terms drop (standard MNB practice, documented
    * contract). The argmax is a ranked window per doc with a class-
    * name tiebreak. */
  def naiveBayes(s: SparkSession, d: String): DataFrame =
    naiveBayesOn(Tables.documents(s, d))

  /** Same over any (doc_id, lang, text) frame. */
  def naiveBayesOn(corpus: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = nbScoredOn(corpus)
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("lang"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("doc_id"), col("true_lang"), col("lang").as("pred_lang"),
        col("score"))
      .orderBy(col("doc_id"))
  }

  /** The classifier's full per-(doc, class) score frame — shared by
    * the argmax entry and the calibration table so the two can never
    * disagree about what the model said. */
  private def nbScoredOn(corpus: DataFrame): DataFrame = {
    // tokenized corpus feeds train (terms + priors) and test —
    // checkpoint so the repartition+tokenize chain runs once; ctk
    // (vocabulary-sized) feeds class totals, the vocab, and the grid
    val docs = graft.Tables.spread(corpus)
      .select(col("doc_id"), col("lang"), toks(lower(col("text"))).as("ws"))
      .transform(Reuse.shared)
    val train = docs.filter(col("doc_id") % 10 < 8)
    val test  = docs.filter(col("doc_id") % 10 >= 8)
    val trainTerms = train.select(col("lang"), explode(col("ws")).as("term"))
    val ctk = trainTerms.groupBy(col("lang"), col("term"))
      .agg(count(lit(1)).as("ctk"))
      .transform(Reuse.shared)
    val classTotals = ctk.groupBy(col("lang")).agg(sum(col("ctk")).as("ct"))
    val vocab = ctk.select(col("term")).distinct()
    val vocabSize = vocab.agg(count(lit(1)).as("v"))
    val priors = train.groupBy(col("lang")).agg(count(lit(1)).as("nd"))
    val priorLn = priors.crossJoin(broadcast(
        priors.agg(sum(col("nd")).as("ndt"))))
      .select(col("lang"),
        round(log(col("nd").cast("double") / col("ndt")), 6).as("prior_ln"))
    // complete (term, lang) grid so unseen-in-class terms still carry
    // their smoothed mass — vocab×classes rows, linear in vocabulary
    val grid = vocab.crossJoin(classTotals)
      .join(ctk, Seq("term", "lang"), "left")
      .crossJoin(broadcast(vocabSize))
      .select(col("term"), col("lang"),
        round(log((coalesce(col("ctk"), lit(0L)) + 1).cast("double") /
          (col("ct") + col("v"))), 6).cast("decimal(12,6)").as("lp"))
    val testTf = test.select(col("doc_id"), col("lang").as("true_lang"),
        explode(col("ws")).as("term"))
      .groupBy(col("doc_id"), col("true_lang"), col("term"))
      .agg(count(lit(1)).as("tf"))
    testTf.join(grid, "term")
      .withColumn("__c", col("tf") * col("lp"))
      .groupBy(col("doc_id"), col("true_lang"), col("lang"))
      .agg(sum(col("__c")).as("__s"))
      .join(broadcast(priorLn), "lang")
      // the DECIMAL sum + 6dp prior is an identical double in both
      // engines; publish through floor (engine-identical) rather than
      // round (rule-dependent at a 4dp half — caught by the r11
      // derived-scale sweep on one document's log-likelihood)
      .select(col("doc_id"), col("true_lang"), col("lang"),
        (floor((col("__s").cast("double") + col("prior_ln")) *
          lit(10000.0)) / 10000.0).as("score"))
  }

  /** Reliability-by-confidence table over the in-plan classifier —
    * the eval that tells you whether the model's CONFIDENCE means
    * anything (a well-behaved classifier is more often right where
    * its top-two margin is wide; a flat accuracy curve says the
    * margin is noise and downstream routing should ignore it).
    * Confidence = the top-1 − top-2 score margin as an EXACT
    * DECIMAL(14,4) difference of the 4dp scores (no softmax — libm
    * exp is engine-varying; the margin is the monotone sufficient
    * statistic). Buckets are equal-WIDTH bands of the margin computed
    * in pure integer 1e-4 units (((mi − min)·buckets) div (range+1) —
    * value bands, not a global ntile rank: a partition-less quantile
    * window over the test split is exactly the scale-killer the repo
    * bans); per bucket: docs, exact margin range, accuracy. Single-
    * class degenerate docs (no runner-up) take a sentinel wide margin
    * and land in the top band, documented. */
  def nbCalibration(s: SparkSession, d: String): DataFrame = {
    val buckets = 5
    nbCalibrationOn(Tables.documents(s, d), buckets)
  }

  /** Same over any (doc_id, lang, text) frame. */
  def nbCalibrationOn(corpus: DataFrame, buckets: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("lang"))
    val ranked = nbScoredOn(corpus)
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 2)
    val top1 = ranked.filter(col("rk") === 1)
      .select(col("doc_id"),
        (col("lang") === col("true_lang")).cast("long").as("correct"),
        col("score").cast("decimal(14,4)").as("s1"))
    val top2 = ranked.filter(col("rk") === 2)
      .select(col("doc_id"), col("score").cast("decimal(14,4)").as("s2"))
    val m = top1.join(top2, Seq("doc_id"), "left")
      .select(col("doc_id"), col("correct"),
        coalesce((col("s1") - col("s2")).cast("decimal(14,4)"),
          lit(9999.9999).cast("decimal(14,4)")).as("margin"))
      .withColumn("mi", (col("margin") * 10000).cast("long"))
      .transform(Reuse.shared) // feeds the range scalar AND the agg
    val range = m.agg(min(col("mi")).as("lo"), max(col("mi")).as("hi"))
    m.crossJoin(broadcast(range))
      .withColumn("bucket",
        expr(s"least($buckets - 1, ((mi - lo) * $buckets) div (hi - lo + 1))"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        round(min(col("margin")).cast("double"), 4).as("min_margin"),
        round(max(col("margin")).cast("double"), 4).as("max_margin"),
        round(sum(col("correct")).cast("double") / count(lit(1)), 4)
          .as("accuracy"))
      .orderBy(col("bucket"))
  }

  /** HASHING-TRICK feature vectorization (Weinberger et al. 2009) —
    * the fixed-width text featurizer that needs NO vocabulary pass:
    * term → bucket md5 % V with a ± sign from an independent hash
    * bit, features = signed counts per (doc, bucket). Collisions
    * cancel in expectation (the signed construction's point), the
    * output width is a constant V whatever the corpus vocabulary,
    * and — the scale property a dictionary featurizer lacks — the
    * transform is ROW-LOCAL: no vocab broadcast, no fit stage, new
    * terms at serving time hash to the same buckets. Cost: the
    * token explode + one (doc, bucket) aggregate, both map-side
    * combinable; the md5 coin makes the whole feature matrix
    * replayable cross-engine. The registry entry emits every 10th
    * document's vector (the output is corpus × V — sampled for the
    * compare gate, the transform itself runs full-corpus). */
  def featureHash(s: SparkSession, d: String): DataFrame =
    featureHashOn(Tables.documents(s, d).filter(col("doc_id") % 10 === 0),
      width = 64)

  /** Same over any (doc_id, text) frame. */
  def featureHashOn(corpus: DataFrame, width: Int): DataFrame = {
    val terms = graft.Tables.spread(corpus)
      .select(col("doc_id"), explode(toks(lower(col("text")))).as("term"))
    terms.select(col("doc_id"),
        (conv(substring(md5(col("term")), 1, 8), 16, 10)
          .cast("long") % width).as("bucket"),
        when(conv(substring(md5(col("term")), 9, 1), 16, 10)
          .cast("long") % 2 === 0, 1L).otherwise(-1L).as("sgn"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(sum(col("sgn")).as("value"))
      .filter(col("value") =!= 0)
      .orderBy(col("doc_id"), col("bucket"))
  }

  /** K-fold CROSS-VALIDATION of the in-plan classifier WITHOUT
    * retraining — the eval a single holdout can't give (is the
    * accuracy stable, or did the split get lucky?), at a cost no
    * naive CV pays: instead of training k models, every fold's model
    * derives from COMPLEMENT AGGREGATES (train-on-all-but-f counts =
    * totals − fold-f counts, the ml_target_encoding trick lifted to
    * a full classifier). One (lang, term, fold) count underlies
    * everything: fold vocabularies (a term is in vocab_f iff its
    * complement total > 0 — OOV terms for THAT fold's model drop,
    * the standard MNB contract per fold), per-fold class totals and
    * smoothed log-probabilities (the grid gains a fold dimension:
    * vocab × langs × folds rows, still vocabulary-linear), per-fold
    * priors (classes absent from a complement drop from that fold's
    * model). Every document scores against its OWN fold's model —
    * train/test never overlap by construction, provably, because the
    * fold key joins the grid. Per-fold accuracy lands in one small
    * aggregate; docs whose every term is OOV for their fold model
    * receive no prediction and are not counted (inner joins,
    * mirrored in the oracle). */
  def cvNaiveBayes(s: SparkSession, d: String): DataFrame =
    cvNaiveBayesOn(Tables.documents(s, d), folds = 5)

  /** Same over any (doc_id, lang, text) frame. */
  def cvNaiveBayesOn(corpus: DataFrame, folds: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sp = corpus.sparkSession
    // tokenized-corpus frame: FIVE consumers (ctkf, ndf, ndfTot,
    // priorFold's two aggregates, testTf) — checkpoint so the
    // repartition+tokenize chain runs once, not per consumer
    val docs = graft.Tables.spread(corpus)
      .select(col("doc_id"), col("lang"),
        (col("doc_id") % folds).as("fold"),
        toks(lower(col("text"))).as("ws"))
      .transform(Reuse.shared)
    val foldIds = sp.range(folds).select(col("id").as("fold"))
    // the one expensive frame — four rollups and the grid read it
    val ctkf = docs
      .select(col("lang"), col("fold"), explode(col("ws")).as("term"))
      .groupBy(col("lang"), col("term"), col("fold"))
      .agg(count(lit(1)).as("c"))
      .transform(Reuse.shared)
    val ctk = ctkf.groupBy(col("lang"), col("term"))
      .agg(sum(col("c")).as("ctk"))
    val tt = ctkf.groupBy(col("term")).agg(sum(col("c")).as("tt"))
    val ttf = ctkf.groupBy(col("term"), col("fold"))
      .agg(sum(col("c")).as("ttf"))
    // vocabFold feeds vFold AND the grid — materialize once
    val vocabFold = tt.crossJoin(broadcast(foldIds))
      .join(ttf, Seq("term", "fold"), "left")
      .filter(col("tt") - coalesce(col("ttf"), lit(0L)) > 0)
      .select(col("term"), col("fold"))
      .transform(Reuse.shared)
    val vFold = vocabFold.groupBy(col("fold")).agg(count(lit(1)).as("v"))
    val ctf = ctkf.groupBy(col("lang"), col("fold"))
      .agg(sum(col("c")).as("ctf"))
    val classFold = ctkf.groupBy(col("lang")).agg(sum(col("c")).as("ct"))
      .crossJoin(broadcast(foldIds))
      .join(ctf, Seq("lang", "fold"), "left")
      .select(col("lang"), col("fold"),
        (col("ct") - coalesce(col("ctf"), lit(0L))).as("ctx"))
      .filter(col("ctx") > 0)
    val grid = vocabFold
      .join(broadcast(classFold), "fold") // langs × folds rows: map-side
      .join(ctk, Seq("term", "lang"), "left")
      .join(ctkf.withColumnRenamed("c", "cf"),
        Seq("lang", "term", "fold"), "left")
      .join(broadcast(vFold), "fold")
      .select(col("term"), col("lang"), col("fold"),
        round(log((coalesce(col("ctk"), lit(0L)) -
            coalesce(col("cf"), lit(0L)) + 1).cast("double") /
          (col("ctx") + col("v"))), 6).cast("decimal(12,6)").as("lp"))
    val ndf = docs.groupBy(col("lang"), col("fold"))
      .agg(count(lit(1)).as("ndf"))
    val ndfTot = docs.groupBy(col("fold")).agg(count(lit(1)).as("ndft"))
    val priorFold = docs.groupBy(col("lang")).agg(count(lit(1)).as("nd"))
      .crossJoin(broadcast(foldIds))
      .join(ndf, Seq("lang", "fold"), "left")
      .join(broadcast(ndfTot), "fold")
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("ndt"))))
      .filter(col("nd") - coalesce(col("ndf"), lit(0L)) > 0)
      .select(col("lang"), col("fold"),
        round(log((col("nd") - coalesce(col("ndf"), lit(0L)))
          .cast("double") / (col("ndt") - col("ndft"))), 6).as("prior_ln"))
    val testTf = docs.select(col("doc_id"), col("fold"),
        col("lang").as("true_lang"), explode(col("ws")).as("term"))
      .groupBy(col("doc_id"), col("fold"), col("true_lang"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val scored = testTf.join(grid, Seq("term", "fold"))
      .withColumn("__c", col("tf") * col("lp"))
      .groupBy(col("doc_id"), col("fold"), col("true_lang"), col("lang"))
      .agg(sum(col("__c")).as("__s"))
      .join(broadcast(priorFold), Seq("lang", "fold"))
      .select(col("doc_id"), col("fold"), col("true_lang"), col("lang"),
        round(col("__s").cast("double") + col("prior_ln"), 4).as("score"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("lang"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .groupBy(col("fold"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("lang") === col("true_lang"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("fold"), col("n_docs"), col("n_correct"),
        ExactRatio.r4(col("n_correct"), col("n_docs"))
          .as("accuracy"))
      .orderBy(col("fold"))
  }

  /** One-vs-rest ROC AUC per class over the in-plan NB classifier —
    * the THRESHOLD-FREE eval beside [[nbCalibration]]'s argmax
    * accuracy (accuracy moves with class balance and the argmax
    * cut; AUC asks only whether the class-c score RANKS true-c docs
    * above the rest — the discrimination question a router or
    * re-weighting consumer actually cares about). Shares
    * [[nbScoredOn]], so the eval and the classifier cannot drift.
    *
    * The ranked statistic is the within-doc ONE-VS-REST MARGIN
    * (score_c − best other class's score), not the raw class
    * log-score: raw NB scores are length-confounded ACROSS documents
    * (every class's log-likelihood grows more negative with doc
    * length, so cross-doc ranking measures length, not class
    * evidence — observed: raw-score AUC ≈ 0.5 on the sf corpus while
    * argmax accuracy beats chance decisively). The margin cancels
    * the shared length term within each doc — the same top-1−top-2
    * statistic [[nbCalibration]] banks on, here generalized per
    * class — and stays an EXACT DECIMAL(14,4) difference (no
    * softmax; libm exp is engine-varying).
    *
    * AUC is computed as the Mann-Whitney statistic (AUC =
    * U/(n⁺·n⁻)), and the rank machinery is exactly
    * [[Analytics.mannWhitney]]'s: per (class, distinct 4dp margin)
    * counts ride the shared distributed [[PrefixSum]] — NEVER a
    * per-row rank window (partition-less sort = the banned
    * scale-killer), and the ranked frame is the distinct-VALUE
    * lattice (bounded by the 4dp margin range), not the corpus.
    * Per-class rank offsets subtract in one #classes-row broadcast:
    * cum-within-class = global cum − the class's min cum (the
    * exclusive prefix at each class's first value is by construction
    * the total count of earlier classes). Tie handling is the exact
    * average-rank formula in HALF-RANK integers (2·rank̄ =
    * 2·cum_below + n + 1); sums ride DECIMAL(38,0); only the final
    * AUC/Gini divisions run in double, identically ordered in the
    * oracle. Degenerate classes (no positives or no negatives in the
    * test split) report null rather than a NaN that differs by
    * engine. */
  def nbAuc(s: SparkSession, d: String): DataFrame =
    nbAucOn(Tables.documents(s, d))

  /** Same over any (doc_id, lang, text) frame. */
  def nbAucOn(corpus: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("lang"))
    // eager: the frame feeds THREE sibling branches of one job
    // (margins, top-1, top-2), whose tasks would race to fill lazy
    // blocks and re-run its last stage up to 3x (measured: 10.4s lazy
    // vs ~4s eager at sf0.1)
    val ranked = nbScoredOn(corpus)
      .withColumn("rk", row_number().over(w))
      .transform(Reuse.barrier)
    val top1 = ranked.filter(col("rk") === 1)
      .select(col("doc_id"), col("lang").as("lang1"),
        col("score").cast("decimal(14,4)").as("s1"))
    val top2 = ranked.filter(col("rk") === 2)
      .select(col("doc_id"), col("score").cast("decimal(14,4)").as("s2"))
    // margin of class c = s_c − best OTHER class (single-class
    // degenerate docs fall back to 0 via the s1 coalesce)
    val sc = ranked.join(top1, "doc_id")
      .join(top2, Seq("doc_id"), "left")
      .select(col("lang"),
        when(col("lang") === col("lang1"),
          col("score").cast("decimal(14,4)") - coalesce(col("s2"), col("s1")))
          .otherwise(col("score").cast("decimal(14,4)") - col("s1"))
          .cast("decimal(14,4)").as("v"),
        (col("true_lang") === col("lang")).cast("long").as("ip"))
    val g = sc.groupBy(col("lang"), col("v"))
      .agg(sum(col("ip")).as("np"), count(lit(1)).as("n"))
    val c = PrefixSum.exclusive(g, Seq(col("lang"), col("v")), col("n"))
      .transform(Reuse.shared) // feeds the offsets scalar AND the agg
    val off = c.groupBy(col("lang")).agg(min(col("__cum")).as("__o"))
    val agg = c.join(broadcast(off), "lang")
      .groupBy(col("lang"))
      .agg(sum((col("np") * (lit(2) * (col("__cum") - col("__o")) +
          col("n") + 1)).cast("decimal(38,0)")).as("r12"),
        sum(col("np")).as("na"),
        (sum(col("n")) - sum(col("np"))).as("nb"))
    // 2U = r12 − na(na+1); AUC = 2U / (2·na·nb); Gini = 2·AUC − 1 —
    // written as the SAME double expression sequence as the oracle
    val u2 = col("r12").cast("double") -
      col("na").cast("double") * (col("na") + 1)
    val dn = col("na").cast("double") * col("nb")
    // gini derives from the ROUNDED auc, not the raw ratio: u2/dn−1
    // lands on a 4dp HALF-boundary whenever auc does, and on exact
    // halves Spark (shortest-decimal HALF_UP) and DuckDB (binary
    // double) round apart — the ts_ewma round() lesson; caught live
    // at sf0.1 ('fr' gini −0.0583 vs −0.0582). 2·auc₄dp−1 sits ~1e-17
    // from the grid, never near a half.
    val auc4 = round(u2 / (lit(2) * dn), 4)
    agg.select(col("lang"), col("na").as("n_pos"), col("nb").as("n_neg"),
        when(col("na") > 0 && col("nb") > 0, auc4).as("auc"),
        when(col("na") > 0 && col("nb") > 0,
          round(lit(2) * auc4 - 1, 4)).as("gini"))
      .orderBy(col("lang"))
  }

  /** The BPE merge rounds of the tokenizer faces, their oracle and
    * the tokenizer-grain pack faces. */
  private[graft] val bpeRounds = 3

  /** Distributed BPE-style merge training — the tokenizer-training
    * step of an LLM data pipeline (Sennrich et al. 2016's pair-merge
    * loop, at word granularity): each round counts every ADJACENT
    * token pair corpus-wide, picks the most frequent pair
    * (deterministic lexicographic tiebreak), and rewrites the corpus
    * with the pair fused into one symbol (`a b` → `a_b`); fused
    * symbols participate in later rounds, so multi-word merges
    * compose exactly as BPE's do. Output = the learned merge table
    * (round, fused symbol, pair count) + the top-`topTokens` symbol
    * frequencies of the final corpus.
    *
    * Execution shape per round — nothing leaves the cluster:
    * pair counts are one map-side-combinable aggregation over a
    * row-local `zip_with` of the token array against its own tail
    * (the text_lm_bigram pattern — no window, no sequence shuffle);
    * the winning pair is a 1-row TakeOrdered broadcast back onto a
    * row-local string rewrite. `rounds` scans of the corpus total,
    * with a `Reuse.roundCut` per round so the plan does not re-derive
    * earlier rounds (the ml_kmeans_plan lesson). The rounds run while
    * the frame is BUILT, not at its action: each round's rewrite
    * needs its `top` broadcast, so building it runs the pair count
    * (text_bpe_merges at sf0.001: 8 jobs to build, 4 with AQE off).
    *
    * Merge application = greedy left-to-right non-overlapping, the
    * BPE standard. The corpus rides as one ``-delimited string
    * per doc and the rewrite is TWO `replace` passes: a replacement
    * consumes the boundary delimiter an immediately-following
    * occurrence needs, but such missed occurrences are provably
    * isolated (each needs its own preceding match), so the second
    * pass reaches the fixpoint. Both engines' `replace` scan
    * left-to-right non-overlapping, making the rewrite — and thus
    * the whole training loop — bit-identical cross-engine.
    */
  def bpeMerges(s: SparkSession, d: String): DataFrame = {
    val topTokens = 10
    bpeMergesOn(Tables.documents(s, d), bpeRounds, topTokens)
  }

  private val bpeUs = "\u001f"
  private def bpeTokens(sc: Column): Column =
    filter(split(sc, bpeUs), t => t =!= "")
  private def bpeStage(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      concat(lit(bpeUs), array_join(toks(col("text")), bpeUs),
        lit(bpeUs)).as("s"))
  private def bpePairCounts(corpus: DataFrame): DataFrame = {
    val t = col("__t")
    corpus
      .select(bpeTokens(col("s")).as("__t"))
      .select(explode(zip_with(
        slice(t, lit(1), greatest(size(t) - 1, lit(0))),
        slice(t, lit(2), greatest(size(t) - 1, lit(0))),
        (a, b) => concat(a, lit(" "), b))).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
  }
  /** Greedy left-to-right merge application (two `replace` passes —
    * see [[bpeMerges]]); `top` is a broadcast 1-row (pair, cnt). */
  private def bpeApply(df: DataFrame, top: DataFrame): DataFrame = {
    val search = concat(lit(bpeUs),
      regexp_replace(col("pair"), " ", bpeUs), lit(bpeUs))
    val repl = concat(lit(bpeUs),
      regexp_replace(col("pair"), " ", "_"), lit(bpeUs))
    df.crossJoin(broadcast(top))
      .select(col("doc_id"),
        replace(replace(col("s"), search, repl), search, repl).as("s"))
  }

  /** Same over any (doc_id, text) frame. */
  def bpeMergesOn(docs: DataFrame, rounds: Int, topTokens: Int): DataFrame = {
    var corpus = Reuse.roundCut(bpeStage(Tables.spread(docs)))
    var merges: DataFrame = null
    for (r <- 1 to rounds) {
      val top = bpePairCounts(corpus)
        .orderBy(col("cnt").desc, col("pair").asc).limit(1)
        .select(col("pair"), col("cnt"))
      val row = top.select(lit(r).cast("long").as("rnd"),
        regexp_replace(col("pair"), " ", "_").as("item"), col("cnt"))
      merges = if (merges == null) row else merges.unionByName(row)
      corpus = Reuse.roundCut(bpeApply(corpus, top))
    }
    val vocab = corpus
      .select(explode(bpeTokens(col("s"))).as("item"))
      .groupBy(col("item")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("item").asc).limit(topTokens)
      .select(lit("token").as("kind"), lit(0L).as("rnd"), col("item"),
        col("cnt"))
    merges.select(lit("merge").as("kind"), col("rnd"), col("item"), col("cnt"))
      .unionByName(vocab)
      .orderBy(col("kind"), col("rnd"), col("cnt").desc, col("item"))
  }

  /** The tokenizer's APPLY face — what makes the merge table a MODEL:
    * merges are trained on the even-doc_id half only (the
    * text_lm_bigram train/apply posture) and then applied, in
    * training order, to the HELD-OUT odd half, reporting each
    * held-out document's token count before and after and the
    * per-doc compression — the metric BPE training exists to move,
    * measured where it matters (text the trainer never saw).
    *
    * Each round is the training loop's own shapes (pair count over
    * the train half, 1-row top-pair broadcast, row-local rewrite of
    * BOTH halves); the apply side adds one row-local rewrite per
    * round, so cost stays linear in corpus size. Oracle unrolls the
    * train CTEs on the even half and replays the identical
    * double-replace on the odd half. */
  def bpeEncode(s: SparkSession, d: String): DataFrame =
    bpeEncodeOn(Tables.documents(s, d), bpeRounds)

  /** Same over any (doc_id, text) frame. */
  def bpeEncodeOn(docs: DataFrame, rounds: Int): DataFrame = {
    val staged = bpeStage(Tables.spread(docs))
    var train = Reuse.roundCut(staged.filter(col("doc_id") % 2 === 0))
    var heldOut = staged.filter(col("doc_id") % 2 === 1)
      .transform(Reuse.roundCut)
    for (_ <- 1 to rounds) {
      val top = bpePairCounts(train)
        .orderBy(col("cnt").desc, col("pair").asc).limit(1)
        .select(col("pair"), col("cnt"))
      train = Reuse.roundCut(bpeApply(train, top))
      heldOut = Reuse.roundCut(bpeApply(heldOut, top))
    }
    staged.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), size(bpeTokens(col("s"))).as("n_before"))
      .join(heldOut.select(col("doc_id"),
        size(bpeTokens(col("s"))).as("n_after")), Seq("doc_id"))
      .select(col("doc_id"), col("n_before"), col("n_after"),
        when(col("n_before") === 0, lit(null).cast("double"))
          .otherwise(ExactRatio.r4(col("n_after"), col("n_before")))
          .as("compression"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB replica of [[bpeEncodeOn]] — the train CTEs unrolled
    * over the EVEN half, the identical greedy double-replace applied
    * per round to the held-out ODD half, per-doc before/after counts
    * plus the exact-integer 4dp compression. ONE generator for any
    * round count: the text_bpe_encode entry reads it at rounds = 3
    * (the text previously inlined there verbatim) and the BPE
    * packing faces nest it as their token-stream CTE — one chain,
    * every consumer, no drift. */
  private[graft] def bpeEncodeOracleSql(rounds: Int = bpeRounds): String = {
    // rounds = 0 would emit an unparseable self-join ("FROM ap0 JOIN
    // ap0 ON ap0.doc_id = ap0.doc_id") in the cnts CTE — refuse it at
    // the generator rather than ship invalid SQL (ADVICE r15)
    require(rounds >= 1, s"bpeEncodeOracleSql needs rounds >= 1: $rounds")
    def rewrite(src: String, top: String): String =
      s"""  SELECT doc_id, replace(replace(s,
         |    chr(31) || replace(pair, ' ', chr(31)) || chr(31),
         |    chr(31) || replace(pair, ' ', '_') || chr(31)),
         |    chr(31) || replace(pair, ' ', chr(31)) || chr(31),
         |    chr(31) || replace(pair, ' ', '_') || chr(31)) AS s
         |  FROM $src, $top""".stripMargin
    def pairCounts(src: String): String =
      s"""  SELECT ws[i] || ' ' || ws[i+1] AS pair, count(*) AS cnt
         |  FROM (SELECT list_filter(string_split(s, chr(31)), x -> x <> '')
         |          AS ws FROM $src),
         |       LATERAL (SELECT unnest(range(1, len(ws))) AS i)
         |  GROUP BY 1""".stripMargin
    val head =
      s"""WITH s0 AS (
         |  SELECT doc_id, chr(31) ||
         |    array_to_string(string_split_regex(trim(text), '\\s+'), chr(31))
         |    || chr(31) AS s
         |  FROM documents),
         |tr0 AS (SELECT * FROM s0 WHERE doc_id % 2 = 0),
         |ap0 AS (SELECT * FROM s0 WHERE doc_id % 2 = 1)""".stripMargin
    val loop = (1 to rounds).map { r =>
      // the train side needs a rewrite only while another pair
      // selection follows it — the last round rewrites apply-only
      val trainRewrite =
        if (r < rounds) s",\ntr$r AS (\n${rewrite(s"tr${r - 1}", s"t$r")})"
        else ""
      s""",
         |p$r AS (
         |${pairCounts(s"tr${r - 1}")}),
         |t$r AS (SELECT pair FROM p$r ORDER BY cnt DESC, pair LIMIT 1)$trainRewrite,
         |ap$r AS (
         |${rewrite(s"ap${r - 1}", s"t$r")})""".stripMargin
    }.mkString
    head + loop +
      s""",
         |cnts AS (
         |  SELECT ap0.doc_id,
         |    len(list_filter(string_split(ap0.s, chr(31)), x -> x <> ''))
         |      AS n_before,
         |    len(list_filter(string_split(ap$rounds.s, chr(31)), x -> x <> ''))
         |      AS n_after
         |  FROM ap0 JOIN ap$rounds ON ap0.doc_id = ap$rounds.doc_id)
         |SELECT doc_id, n_before, n_after,
         |  CASE WHEN n_before = 0 THEN NULL
         |       ELSE CAST((CAST(n_after AS HUGEINT) * 20000 + n_before)
         |         // (2 * n_before) AS BIGINT) / 10000.0 END
         |    AS compression
         |FROM cnts ORDER BY doc_id""".stripMargin
  }
}
