package graft

import graft.ops.TextOps
import org.apache.spark.sql.functions._

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("token counts: ws_tokens matches a hand count") {
    val row = TextOps.tokenCounts(spark, sf).first()
    val text = Tables.documents(spark, sf)
      .filter(col("doc_id") === row.getLong(0)).select("text")
      .first().getString(0)
    assert(row.getInt(1) === text.trim.split("\\s+").length)
  }

  test("gopher gates: a clean doc passes, each planted violation " +
       "trips its own gate with hand-exact ratios") {
    import spark.implicits._
    val clean = (("the quick brown fox jumps over the lazy dog and " +
      "that have with more words here ") * 4).trim // 64 words, all alpha
    val bullets = "- one two\n- three four" // every line bulleted
    val dots = "wait...\nmore…"             // every line ellipsis-ended
    val rows = Seq((1L, clean), (2L, "tiny doc"), (3L, bullets),
      (4L, dots)).toDF("doc_id", "text")
    val out = graft.ops.TextOps.gopherGatesOn(rows).collect()
      .map(r => r.getLong(0) -> r).toMap
    val c = out(1L)
    assert(c.getInt(1) === 64 && c.getBoolean(8), c.toString)
    assert(c.getDouble(5) === 0.0 && c.getDouble(6) === 1.0)
    assert(c.getLong(7) >= 2)
    val tiny = out(2L)
    assert(tiny.getInt(1) === 2 && !tiny.getBoolean(8))
    val b = out(3L)
    // tokens: -, one, two, -, three, four → 6 words, 4 alphabetic,
    // 17 non-ws chars, both lines bulleted
    assert(b.getInt(1) === 6)
    assert(b.getDouble(2) === BigDecimal(17.0 / 6)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(b.getDouble(4) === 1.0)
    assert(b.getDouble(6) === BigDecimal(4.0 / 6)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(!b.getBoolean(8))
    val e = out(4L)
    assert(e.getDouble(5) === 1.0 && !e.getBoolean(8))
    // sf corpus: every ratio bounded, pass column total sane
    val sfRows = graft.ops.TextOps.gopherGates(spark, sf).collect()
    assert(sfRows.nonEmpty)
    sfRows.foreach { r =>
      Seq(3, 4, 5, 6).foreach(i =>
        assert(r.getDouble(i) >= 0.0 && r.getDouble(i) <= 1.0))
    }
  }

  test("tfidf top terms: k rows per doc, ranks ordered, idf favors rare terms") {
    val out = TextOps.tfidfTopTerms(spark, sf, k = 3).collect()
    val byDoc = out.groupBy(_.getLong(0))
    assert(byDoc.size === Tables.documents(spark, sf).count())
    byDoc.values.foreach { rows =>
      assert(rows.map(_.getInt(3)).sorted.sameElements(1 to rows.length))
      // scores are non-increasing with rank
      val scores = rows.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
    // controlled corpus: at equal tf, a doc-unique term must out-rank
    // a term shared by every document
    val tiny = Seq((1L, "common rare1"), (2L, "common rare2"))
      .toDF("doc_id", "text")
    val top = TextOps.tfidfTopTermsOn(tiny, k = 1).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(top === Map(1L -> "rare1", 2L -> "rare2"))
  }

  test("chunking: overlapping windows cover every token, tail clamps") {
    val docs = Seq((1L, (1 to 10).map(i => s"t$i").mkString(" ")),
      (2L, "a b"), (3L, "")).toDF("doc_id", "text")
    val out = TextOps.chunkOn(docs, chunkTokens = 4, overlap = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
    // doc 1: starts 1,3,5,7,9 (stride 2) — last two windows shorten
    assert(out.filter(_._1 == 1L).toSeq === Seq(
      (1L, 0, "t1 t2 t3 t4", 4),
      (1L, 1, "t3 t4 t5 t6", 4),
      (1L, 2, "t5 t6 t7 t8", 4),
      (1L, 3, "t7 t8 t9 t10", 4),
      (1L, 4, "t9 t10", 2)))
    // doc 2 fits in one short chunk; the empty doc yields one empty
    // chunk (split of "" is [""] — one empty token — in Spark and
    // DuckDB alike, the shared convention every text op inherits)
    assert(out.filter(_._1 == 2L).toSeq === Seq((2L, 0, "a b", 2)))
    assert(out.filter(_._1 == 3L).toSeq === Seq((3L, 0, "", 1)))
    // a NULL text behaves exactly like the empty string — one empty
    // chunk — instead of the row silently vanishing from the output
    val withNull = TextOps.chunkOn(
        Seq((4L, null: String)).toDF("doc_id", "text"), 4, 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
    assert(withNull.toSeq === Seq((4L, 0, "", 1)))
    // reassembly invariant: dropping each chunk's overlap prefix
    // (after the first) reconstructs the document exactly
    val rebuilt = out.filter(_._1 == 1L).sortBy(_._2).zipWithIndex.map {
      case ((_, _, c, _), 0) => c
      case ((_, _, c, _), _) => c.split(" ").drop(2).mkString(" ")
    }.filter(_.nonEmpty).mkString(" ")
    assert(rebuilt === (1 to 10).map(i => s"t$i").mkString(" "))
  }

  test("LM score ranks common-vocabulary text above gibberish") {
    val docs = (
      (1L to 20L).map(i => (i, "the cat sat on the mat")) :+
        (99L, "zxqv wkjh pqrst uvxyz mnbv qwerty")
      ).toDF("doc_id", "text")
    val out = TextOps.lmScoreOn(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // every token of doc 99 is a hapax: its mean log-prob must sit
    // strictly below every common-vocabulary doc's
    val normals = (1L to 20L).map(out)
    assert(normals.toSet.size === 1) // identical docs, identical score
    assert(out(99L) < normals.head)
    // all scores are log-probabilities: strictly negative
    assert(out.values.forall(_ < 0))
  }

  test("URL canonicalization: every rule fires, non-defaults survive") {
    val cases = Seq(
      // scheme/host case, default port, trailing slash, fragment
      "HTTP://Example.COM:80/A/Path/#top" -> "http://example.com/A/Path",
      // https default port; tracking param in FIRST position
      "https://Ex.com:443/p?utm_source=x&id=7" -> "https://ex.com/p?id=7",
      // non-default port survives; tracking param in LAST position
      "http://ex.com:8080/p?id=7&gclid=abc" -> "http://ex.com:8080/p?id=7",
      // 443 on http is NOT a default — kept
      "http://ex.com:443/p" -> "http://ex.com:443/p",
      // all params tracking → no query at all; path case preserved
      "https://ex.com/Dir?utm_a=1&fbclid=z" -> "https://ex.com/Dir",
      // bare host, no path/query
      "https://EX.com" -> "https://ex.com")
    val df = cases.zipWithIndex.map { case ((u, _), i) => (i.toLong, u) }
      .toDF("id", "url")
    val got = df.select(col("id"), TextOps.canonicalUrl(col("url")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    cases.zipWithIndex.foreach { case ((u, want), i) =>
      assert(got(i.toLong) === want, s"for $u")
    }
  }

  test("line dedup keeps first occurrences in order, drops later repeats") {
    val docs = Seq(
      (1L, "nav bar\nreal content\nnav bar\nmore content\nnav bar"),
      (2L, "only line"),
      (3L, "a\na\na")).toDF("doc_id", "text")
    val out = TextOps.dedupLinesOn(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    assert(out.toSeq === Seq(
      (1L, 5, 3, "nav bar\nreal content\nmore content"),
      (2L, 1, 1, "only line"),
      (3L, 3, 1, "a")))
    // null text = empty text (one empty line), same as chunkOn/packOn
    val withNull = TextOps.dedupLinesOn(
        Seq((4L, null: String)).toDF("doc_id", "text")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    assert(withNull.toSeq === Seq((4L, 1, 1, "")))
  }

  test("corpus-wide line dedup: first doc owns each shared line, " +
      "all-lost docs drop") {
    val docs = Seq(
      (1L, "header\nbody one\nfooter"),
      (2L, "header\nbody two\nfooter"),   // keeps only its body
      (3L, "header\nfooter"),             // loses EVERYTHING → drops
      (5L, "body five")).toDF("doc_id", "text")
    val out = TextOps.dedupLinesGlobalOn(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq === Seq(
      (1L, "header\nbody one\nfooter", 3L),
      (2L, "body two", 1L),
      (5L, "body five", 1L)))
    // within ONE doc a repeated line also keeps only the first copy
    // (the intra-doc face is subsumed), and order is by line index
    val intra = TextOps.dedupLinesGlobalOn(
        Seq((7L, "x\ny\nx")).toDF("doc_id", "text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(intra.toSeq === Seq((7L, "x\ny", 2L)))
  }

  test("sequence packing fills every context exactly, spans long docs") {
    val docs = Seq(
      (1L, (1 to 3).map(i => s"a$i").mkString(" ")),  // 3 tokens
      (2L, "b1 b2"),                                   // 2 tokens
      (3L, (1 to 6).map(i => s"c$i").mkString(" "))    // 6 tokens
    ).toDF("doc_id", "text")
    val out = TextOps.packOn(docs, ctxLen = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
    // stream: a1 a2 a3 | b1 | b2 c1 c2 c3 | c4 c5 c6 — cut every 4
    assert(out.toSeq === Seq(
      (0L, 1L, 0, 3), (0L, 2L, 0, 1),
      (1L, 2L, 1, 2), (1L, 3L, 0, 3),
      (2L, 3L, 3, 6)))
    // invariants: spans per doc partition [0, n); every ctx except
    // the last carries exactly ctxLen tokens
    val perCtx = out.groupBy(_._1).view
      .mapValues(_.map(s => s._4 - s._3).sum).toMap
    assert(perCtx === Map(0L -> 4, 1L -> 4, 2L -> 3))
    val perDoc = out.groupBy(_._2).view.mapValues(
      _.sortBy(_._3).map(s => (s._3, s._4))).toMap
    assert(perDoc(3L) === Seq((0, 3), (3, 6))) // contiguous spans
    // scale shape: same result through the distributed prefix sum at
    // any partitioning of the input
    val repartitioned = TextOps.packOn(docs.repartition(7), 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
    assert(repartitioned.toSeq === out.toSeq)
    // null text packs like empty text (one "" token), same as chunkOn
    val withNull = TextOps.packOn(
        Seq((1L, "x y z"), (2L, null: String)).toDF("doc_id", "text"), 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
    assert(withNull.toSeq === Seq((0L, 1L, 0, 3), (0L, 2L, 0, 1)))
  }

  test("Misra-Gries sketch: undercounts within n/capacity, finds heavy hitters") {
    // the checked face over the WHOLE vocabulary, not just a top-k:
    // every term's three MG verdicts (present if heavier than
    // n/capacity, never overcounts, undercounts by at most n/capacity)
    val exact = TextOps.topTerms(spark, sf, k = Int.MaxValue >> 1).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val rows = TextOps.topTermsSketchChecked(spark, sf,
      k = Int.MaxValue >> 1, capacity = 64).collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSet === exact.toSet)
    rows.foreach { r =>
      assert(r.getBoolean(2), s"heavy hitter '${r.getString(0)}' missing")
      assert(r.getBoolean(3), s"'${r.getString(0)}' overcounted")
      assert(r.getBoolean(4), s"'${r.getString(0)}' undercounted past n/capacity")
    }
    // and the summary itself stays within `capacity` counters
    val mg = udaf(new graft.functions.MisraGriesAgg(64))
    val held = Tables.documents(spark, sf)
      .select(explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
      .agg(size(mg(col("term"))))
      .first().getInt(0)
    assert(held > 0 && held <= 64, s"$held counters")
  }

  test("checked sketch face: exact top-k rows with every verdict TRUE") {
    val rows = TextOps.topTermsSketchChecked(spark, sf, k = 10).collect()
    assert(rows.length === 10)
    val exact = TextOps.topTerms(spark, sf, k = 10).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq === exact.toSeq)
    rows.foreach { r =>
      assert(r.getBoolean(2) && r.getBoolean(3) && r.getBoolean(4),
        s"sketch guarantee violated on '${r.getString(0)}': $r")
    }
  }

  test("checked fingerprint face matches a directly computed md5 winnow") {
    val (k, w) = (3, 4)
    val row = TextOps.fingerprintsChecked(spark, sf, k, w)
      .filter(col("doc_id") === 1L).first()
    val text = Tables.documents(spark, sf)
      .filter(col("doc_id") === 1L).select("text").first().getString(0)
    def h60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    val t = text.trim.split("\\s+")
    val grams =
      if (t.length >= k) t.sliding(k).map(_.mkString(" ")).toArray
      else Array(t.mkString(" "))
    val hs = grams.map(h60)
    val wins = (0 until math.max(hs.length - (w - 1), 1))
      .map(j => hs.slice(j, j + w).min)
    val expected = wins.distinct.sorted
    assert(row.getString(1) === expected.mkString(","))
    assert(row.getInt(2) === expected.length)
    assert(row.getLong(3) === expected.head)
  }

  test("repetition scores: a looping doc maxes out, a unique doc floors") {
    val docs = Seq(
      (1L, "spam spam spam spam spam"),          // one distinct bigram
      (2L, "w1 w2 w3 w4 w5 w6")                  // all bigrams distinct
    ).toDF("doc_id", "text")
    val out = TextOps.repetitionScoresOn(docs).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(out(1L) === ((0.75, 1.0)))   // 4 bigrams, 1 distinct
    assert(out(2L) === ((0.0, 0.2)))    // 5 bigrams, all distinct
  }

  test("quality scores: ratios are in [0,1] and flag is consistent") {
    val rows = TextOps.qualityScores(spark, sf).collect()
    rows.foreach { r =>
      val sr = r.getDouble(3)
      assert(sr >= 0 && sr <= 1)
      val expected = if (r.getInt(1) >= 100 && sr >= 0.01) "good" else "low"
      assert(r.getString(5) === expected)
    }
  }

  test("langId identifies real multilingual sentences") {
    val samples = Seq(
      (1L, "en", "the cat sat on the mat and it was happy in the sun"),
      (2L, "es", "el perro corre en la casa y no se detiene que bueno"),
      (3L, "de", "der hund und die katze sind ein gutes team von freunden"),
      (4L, "fr", "le chien est dans la maison et les chats sont pour moi"),
      (5L, "zh", "我 是 一个 学生 的 朋友 在 学校 有 很多 书 和 笔"))
      .toDF("doc_id", "lang", "text")
    samples.createOrReplaceTempView("langid_sample")
    // langId reads from the documents table; exercise the same scoring
    // expressions directly against the sample frame:
    val out = graft.ops.TextOps.langIdOn(samples).collect()
    out.foreach { r =>
      assert(r.getAs[String]("pred_lang") === r.getAs[String]("declared_lang"),
        s"doc ${r.getLong(0)}")
    }
  }

  test("countInSet expression counts repeats through the codegen path") {
    val df = Seq(
      (1L, Seq("the", "cat", "the", "dog", "und")),
      (2L, Seq.empty[String])).toDF("id", "toks")
    val got = df.select(col("id"),
      graft.functions.TextExprs.countInSet(col("toks"), Seq("the", "und")))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === Map(1L -> 3, 2L -> 0))
  }

  test("collocations: a glued pair out-scores a frequent independent pair") {
    import spark.implicits._
    // "aa bb" always adjacent (6×); "xx" and "yy" frequent but paired
    // with everything; pad words are unique per doc
    val docs = (0 until 6).map { i =>
      (i.toLong, s"aa bb xx p$i yy q$i xx r$i yy s$i")
    }.toDF("doc_id", "text")
    val out = TextOps.collocationsOn(docs, topN = 10, minCount = 5).collect()
    val byPair = out.map(r => (r.getString(0), r.getString(1)) ->
      r.getDouble(3)).toMap
    assert(byPair.contains(("aa", "bb")))
    val top = out.head
    assert((top.getString(0), top.getString(1)) === (("aa", "bb")))
    assert(top.getDouble(3) > 0) // far above independence
    // independent pairs either miss minCount or score strictly lower
    byPair.filterNot(_._1 == ("aa", "bb")).values
      .foreach(p => assert(p < byPair(("aa", "bb"))))
  }

  test("rake: stopwords delimit phrases and never appear in them; " +
       "a glued phrase scores the sum of its word scores") {
    import spark.implicits._
    // "alpha beta" is always one phrase; each word appears only there
    // → wscore(alpha) = wscore(beta) = deg/freq = 2, phrase score 4
    val docs = (0 until 4).map(i =>
      (i.toLong, s"alpha beta the gamma of delta u$i")).toDF("doc_id", "text")
    val out = TextOps.rakeOn(docs, topN = 50).collect()
    val byPhrase = out.map(r => r.getString(0) ->
      (r.getLong(1), r.getDouble(2))).toMap
    assert(byPhrase("alpha beta") === ((4L, 4.0)))
    assert(byPhrase.contains("gamma") && byPhrase.contains("delta u0"))
    assert(!byPhrase.keysIterator.exists(p =>
      p.split("\\s+").exists(Set("the", "of", "a"))))
    // the two-word run outranks every single-word phrase
    assert(out.head.getString(0) === "alpha beta")
  }

  test("rake: punctuation delimits like a stopword; topN caps output") {
    import spark.implicits._
    val docs = Seq((1L, "one two. three four, five"))
      .toDF("doc_id", "text")
    val phrases = TextOps.rakeOn(docs, topN = 10).collect()
      .map(_.getString(0)).toSet
    assert(phrases === Set("one two", "three four", "five"))
    assert(TextOps.rakeOn(docs, topN = 2).count() === 2L)
  }

  test("collocations: minCount gates rare pairs out before scoring") {
    import spark.implicits._
    val docs = Seq((1L, "one two three"), (2L, "four five six"))
      .toDF("doc_id", "text")
    assert(TextOps.collocationsOn(docs, topN = 10, minCount = 2)
      .collect().isEmpty)
  }

  test("bm25: length normalization ranks the short exact hit above " +
       "the longer higher-tf doc; non-matching docs don't appear") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark spark filler"), // tf=2 but dl=3
      (2L, "spark"),              // tf=1, dl=1 — length-normalized winner
      (3L, "nothing relevant here")).toDF("doc_id", "text")
    val rows = TextOps.bm25On(docs, Seq("spark"), k = 10,
      k1 = 1.2, b = 0.75).collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(2L, 1L))
    assert(rows.forall(_.getDouble(1) > 0))
    // sf entry: every returned doc actually contains a query term
    val top = TextOps.bm25(spark, sf).collect()
    assert(top.nonEmpty)
    val hits = Tables.documents(spark, sf)
      .filter(col("text").rlike("(?i)\\b(spark|stream|vector)\\b"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(top.forall(r => hits.contains(r.getLong(0))))
  }

  test("naive bayes: disjoint vocabularies classify perfectly; sf " +
       "accuracy clears chance by 1.5x") {
    import spark.implicits._
    // train ids 0..7 (%10<8), test ids 8 and 9 — one per lang
    val docs = ((0 to 7 by 2).map(i => (i.toLong, "aa", "x x x")) ++
      (1 to 7 by 2).map(i => (i.toLong, "bb", "y y")) ++
      Seq((8L, "aa", "x x"), (9L, "bb", "y")))
      .toDF("doc_id", "lang", "text")
    val out = TextOps.naiveBayesOn(docs).collect()
    assert(out.length === 2)
    out.foreach(r => assert(r.getString(1) === r.getString(2),
      s"doc ${r.getLong(0)} true ${r.getString(1)} pred ${r.getString(2)}"))
    // synthetic sf corpus: text only weakly encodes lang, but the
    // classifier must still beat 5-class chance decisively
    val sfOut = TextOps.naiveBayes(spark, sf).collect()
    val acc = sfOut.count(r => r.getString(1) == r.getString(2)).toDouble /
      sfOut.length
    assert(acc >= 0.3, s"accuracy $acc")
  }

  test("featureHash: signed bucket sums match a driver md5 replica; " +
       "width bounds the feature space") {
    import spark.implicits._
    val docs = Seq((0L, "alpha alpha beta"), (10L, "gamma alpha"))
      .toDF("doc_id", "text")
    val out = TextOps.featureHashOn(docs, width = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    def md5hex(t: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def bucket(t: String): Long =
      java.lang.Long.parseLong(md5hex(t).take(8), 16) % 64
    def sgn(t: String): Long =
      if (java.lang.Long.parseLong(md5hex(t).substring(8, 9), 16) % 2 == 0)
        1L else -1L
    val expect = Seq((0L, "alpha"), (0L, "alpha"), (0L, "beta"),
        (10L, "gamma"), (10L, "alpha"))
      .groupBy { case (id, t) => (id, bucket(t)) }
      .view.mapValues(_.map(p => sgn(p._2)).sum).toMap
      .filter(_._2 != 0L)
    assert(out === expect)
    assert(out.keys.forall { case (_, b) => b >= 0 && b < 64 })
  }

  test("cvNaiveBayes: clean folds score 1.0; a term living only in " +
       "its own fold is provably excluded from that fold's model") {
    import spark.implicits._
    // docs 0..4 lang aa, 5..9 lang bb; fold = id % 5 pairs one of
    // each per fold. Doc 0 carries 'uniqueword' (nowhere else) plus
    // 'beta' (bb's marker): with leakage, uniqueword would be strong
    // aa evidence; leave-fold-out drops it (complement count 0), so
    // only 'beta' scores and doc 0 MISCLASSIFIES as bb — the
    // misclassification is the proof of no leakage.
    val docs = (Seq((0L, "aa", "uniqueword beta")) ++
      (1L to 4L).map(i => (i, "aa", "alpha common")) ++
      (5L to 9L).map(i => (i, "bb", "beta common")))
      .toDF("doc_id", "lang", "text")
    val out = TextOps.cvNaiveBayesOn(docs, folds = 5).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.size === 5)
    // fold 0: doc 0 misclassified, doc 5 correct → 1/2
    assert((out(0L).getLong(1), out(0L).getLong(2)) === ((2L, 1L)))
    assert(out(0L).getDouble(3) === 0.5)
    // folds 1..4: both docs correct
    (1L to 4L).foreach { f =>
      assert((out(f).getLong(1), out(f).getLong(2)) === ((2L, 2L)), s"fold $f")
      assert(out(f).getDouble(3) === 1.0, s"fold $f")
    }
  }

  test("sentence stats: hand fixture segments exactly") {
    import spark.implicits._
    val docs = Seq(
      (1L, "one two. three four five! six"),
      (2L, "no terminal punctuation here"),
      (3L, "")).toDF("doc_id", "text")
    val rows = TextOps.sentenceStatsOn(docs).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2), r.getInt(3))))
      .toMap
    assert(rows(1L) === ((3, 2.0, 15))) // "three four five" = 15 chars
    assert(rows(2L) === ((1, 4.0, 28)))
    assert(rows(3L) === ((0, 0.0, 0)))
  }

  test("bpe merges: greedy left-to-right fixpoint, hand-traced rounds") {
    import spark.implicits._
    // "a b a b a b c": round 1 top pair (a,b)×3 merges ALL three
    // occurrences — the middle one shares boundary delimiters with
    // both neighbors, so it is exactly the case the second replace
    // pass exists for. Round 2: (a_b,a_b)×2 → greedy keeps the first,
    // leaving [a_b_a_b, a_b, c]. Round 3: both remaining pairs count
    // 1; the lexicographic tiebreak picks "a_b c" (' ' < '_').
    val docs = Seq((1L, "a b a b a b c")).toDF("doc_id", "text")
    val rows = TextOps.bpeMergesOn(docs, rounds = 3, topTokens = 10)
      .collect()
    val merges = rows.filter(_.getString(0) == "merge")
      .map(r => (r.getLong(1), r.getString(2), r.getLong(3)))
    assert(merges.toSeq === Seq((1L, "a_b", 3L), (2L, "a_b_a_b", 2L),
      (3L, "a_b_c", 1L)))
    val toks = rows.filter(_.getString(0) == "token")
      .map(r => r.getString(2) -> r.getLong(3)).toMap
    assert(toks === Map("a_b_a_b" -> 1L, "a_b_c" -> 1L))
  }

  test("bpe merges: fused symbols compose across docs and rounds") {
    import spark.implicits._
    // pair counts aggregate CORPUS-wide (3 docs), and round 2 merges
    // a round-1 fusion with a plain token — the composition BPE needs
    val docs = Seq(
      (1L, "x y z"), (2L, "x y z"), (3L, "x y q")).toDF("doc_id", "text")
    val rows = TextOps.bpeMergesOn(docs, rounds = 2, topTokens = 5)
      .collect()
    val merges = rows.filter(_.getString(0) == "merge")
      .map(r => (r.getLong(1), r.getString(2), r.getLong(3)))
    assert(merges.toSeq === Seq((1L, "x_y", 3L), (2L, "x_y_z", 2L)))
    val toks = rows.filter(_.getString(0) == "token")
      .map(r => r.getString(2) -> r.getLong(3)).toMap
    // doc 3 keeps its un-fused tail: x_y + q survive as tokens
    assert(toks === Map("x_y_z" -> 2L, "x_y" -> 1L, "q" -> 1L))
  }

  test("nb calibration: margin bands are ordered, disjoint-vocab docs " +
       "land wide and correct, shared-vocab docs land narrow") {
    import spark.implicits._
    // train (doc_id % 10 < 8): en = {aa, bb}, fr = {cc, dd}, with the
    // shared word zz in both classes; test: doc 8 is pure-en (huge
    // margin), doc 18 is mostly-shared (margin near zero)
    val docs = (
      (0L to 7L).map(i => (i, "en", "aa bb aa bb zz")) ++
      (10L to 17L).map(i => (i, "fr", "cc dd cc dd zz")) ++
      Seq((8L, "en", "aa aa aa aa"), (18L, "fr", "zz zz zz cc"))
    ).toDF("doc_id", "lang", "text")
    val out = TextOps.nbCalibrationOn(docs, buckets = 5).collect()
    // both test docs classify correctly, so every band's accuracy is 1
    assert(out.map(_.getLong(1)).sum === 2)
    out.foreach(r => assert(r.getDouble(4) === 1.0))
    // equal-width value bands are monotone: ranges must not interleave
    val sorted = out.sortBy(_.getLong(0))
    sorted.sliding(2).foreach { p =>
      if (p.length == 2) assert(p(0).getDouble(3) <= p(1).getDouble(2))
    }
    // the pure-vocab doc's band sits strictly above the shared one's
    assert(sorted.length === 2 && sorted.head.getLong(0) === 0L)
    assert(sorted.last.getDouble(2) > sorted.head.getDouble(3))
    // sf corpus: bands partition the test split with sane stats
    val sf01 = TextOps.nbCalibration(spark, sf).collect()
    assert(sf01.map(_.getLong(1)).sum === 100) // 100 test docs at sf0.001
    sf01.foreach { r =>
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
      assert(r.getDouble(2) <= r.getDouble(3))
    }
  }

  test("count-min: width-1 grid collapses to the stream total, standard " +
       "grid is exact on a tiny corpus, sf probes never undercount") {
    import spark.implicits._
    val docs = Seq((1L, "a a a b b c")).toDF("doc_id", "text")
    // width 1: every row's single counter holds the whole stream, so
    // every estimate is exactly the 6-token total — the degenerate
    // closed form that pins build + probe + min plumbing
    val w1 = TextOps.countMinOn(docs, depth = 2, width = 1, k = 3).collect()
    assert(w1.length === 3)
    w1.foreach(r => assert(r.getLong(2) === 6L))
    // standard grid: an overcount needs a collision in EVERY row
    // (est = min over depth rows) — vanishing and md5-deterministic,
    // so the tiny corpus reads back exact
    val std = TextOps.countMinOn(docs, depth = 4, width = 256, k = 3)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4)))).toMap
    assert(std("a") === ((3L, 3L, 0L, true)))
    assert(std("b") === ((2L, 2L, 0L, true)))
    assert(std("c") === ((1L, 1L, 0L, true)))
    // sf corpus: the hard CM guarantee (overcount-only) on every probe
    val sfRows = TextOps.countMin(spark, sf).collect()
    assert(sfRows.length === 10)
    sfRows.foreach { r =>
      assert(r.getBoolean(4), s"${r.getString(0)} undercounted")
      assert(r.getLong(3) >= 0L)
    }
  }

  test("nb auc: disjoint vocabularies separate perfectly (AUC 1), " +
       "identical text ties to exactly 0.5, sf AUCs valid") {
    import spark.implicits._
    // same fixture as the naive-bayes spec: classes never share a
    // word, so each class's score ranks its own test doc on top
    val docs = ((0 to 7 by 2).map(i => (i.toLong, "aa", "x x x")) ++
      (1 to 7 by 2).map(i => (i.toLong, "bb", "y y")) ++
      Seq((8L, "aa", "x x"), (9L, "bb", "y")))
      .toDF("doc_id", "lang", "text")
    val out = TextOps.nbAucOn(docs).collect()
    assert(out.length === 2)
    out.foreach { r =>
      assert(r.getLong(1) === 1L && r.getLong(2) === 1L)
      assert(r.getDouble(3) === 1.0, s"auc ${r.getDouble(3)}")
      assert(r.getDouble(4) === 1.0) // gini = 2*1 - 1
    }
    // every doc identical → every score per class identical → a pure
    // tie, which the average-rank (half-rank integer) formula must
    // score as exactly 0.5, not 0 or 1
    val tied = ((0 to 7 by 2).map(i => (i.toLong, "aa", "z z")) ++
      (1 to 7 by 2).map(i => (i.toLong, "bb", "z z")) ++
      Seq((8L, "aa", "z z"), (9L, "bb", "z z")))
      .toDF("doc_id", "lang", "text")
    TextOps.nbAucOn(tied).collect().foreach { r =>
      assert(r.getDouble(3) === 0.5, s"tie auc ${r.getDouble(3)}")
      assert(r.getDouble(4) === 0.0)
    }
    // sf corpus: one row per lang, AUCs in [0,1], and the classifier
    // that beats 5-class chance on accuracy must also average > 0.5
    val sfOut = TextOps.nbAuc(spark, sf).collect()
    assert(sfOut.nonEmpty)
    sfOut.foreach { r =>
      val a = r.getDouble(3)
      assert(a >= 0.0 && a <= 1.0, s"${r.getString(0)} auc $a")
      // auc and gini round to 4dp independently from the same raw
      // statistic, so they may sit one 1e-4 step apart
      assert(math.abs(r.getDouble(4) - (2 * a - 1)) < 2e-4)
    }
    val mean = sfOut.map(_.getDouble(3)).sum / sfOut.length
    assert(mean > 0.5, s"mean auc $mean")
  }

  test("bpe encode: merges trained on evens compress the held-out odds") {
    import spark.implicits._
    // evens teach (x,y) then (x_y,z); odd docs measure the APPLY:
    // doc 1 carries the full phrase twice (6 → 2 tokens), doc 3 has
    // no trained pair at all (untouched), doc 5 is empty (null ratio)
    val docs = Seq(
      (0L, "x y z"), (2L, "x y z"), (4L, "x y z"),
      (1L, "x y z x y z"), (3L, "p q r"), (5L, "")).toDF("doc_id", "text")
    val out = TextOps.bpeEncodeOn(docs, rounds = 2).collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), Option(r.get(3)).map(_.toString))))
      .toMap
    assert(out(1L) === ((6, 2, Some("0.3333"))))
    assert(out(3L) === ((3, 3, Some("1.0"))))
    assert(out(5L) === ((0, 0, None)))
    assert(out.size === 3) // only held-out docs are reported
  }

  test("ccnet buckets on an empty corpus returns an empty frame") {
    val docs = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "lang", "text")
    assert(TextOps.ccnetBucketsOn(docs).count() === 0)
  }

  test("ccnet buckets: every doc bucketed, terciles balanced within 1 " +
       "per language, and score bands are ordered head ≥ middle ≥ tail") {
    val docs = Tables.documents(spark, sf)
    val out = TextOps.ccnetBuckets(spark, sf).collect()
    assert(out.length === docs.count())
    val byLang = out.groupBy(_.getString(1))
    byLang.foreach { case (lang, rows) =>
      val sizes = rows.groupBy(_.getString(4)).map(_._2.length)
      assert(sizes.max - sizes.min <= 1,
        s"$lang tercile sizes $sizes")
      def scores(b: String) =
        rows.filter(_.getString(4) == b).map(_.getDouble(3))
      val (h, m, t) = (scores("head"), scores("middle"), scores("tail"))
      if (h.nonEmpty && m.nonEmpty) assert(h.min >= m.max)
      if (m.nonEmpty && t.nonEmpty) assert(m.min >= t.max)
    }
  }

  test("novelty: a verbatim copy scores 0, half-shared grams score " +
       "exactly 0.5, alien vocabulary scores 1, sub-k docs drop") {
    import spark.implicits._
    val ref = Seq((100L, "a b c x y z")).toDF("doc_id", "text")
    // grams(ref) = {a b c, b c x, c x y, x y z}
    val cands = Seq(
      (1L, "a b c x y z"),  // copy: every gram seen      → 0.0
      (2L, "a b c d"),      // {a b c ✓, b c d ✗}          → 1/2
      (3L, "p q r s"),      // {p q r, q r s} all novel    → 1.0
      (4L, "u v"))          // < 3 tokens: no grams, drops
      .toDF("doc_id", "text")
    val out = TextOps.noveltyOn(cands, ref, k = 3).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out.keySet === Set(1L, 2L, 3L))
    assert(out(1L) === ((4L, 4L, 0.0)))
    assert(out(2L) === ((2L, 1L, 0.5)))
    assert(out(3L) === ((2L, 0L, 1.0)))
  }
}
