package graft

import graft.ops.CurateOps

class CurateSpec extends SparkSpec {
  import spark.implicits._

  test("shard export: contiguous positions, md5-replicated shards, balance") {
    val docs = Tables.documents(spark, sf)
    val n = docs.count()
    val out = CurateOps.shardExport(docs, nShards = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length.toLong === n)
    // positions are contiguous 1..size within every shard
    out.groupBy(_._2).foreach { case (shard, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (1L to rows.length).toSeq,
        s"shard $shard positions not contiguous")
    }
    // the shard assignment is the documented md5 coin — replicate it
    // driver-side for every doc
    val md = java.security.MessageDigest.getInstance("MD5")
    out.foreach { case (id, shard, _) =>
      val hex = md.digest(s"${id}_shard".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(15)
      assert(shard === java.lang.Long.parseLong(hex, 16) % 8,
        s"doc $id shard mismatch")
    }
    // md5 is uniform: no shard may be empty or hold over half the
    // corpus (a LOOSE band — balance is in expectation, not exact)
    val sizes = out.groupBy(_._2).map(_._2.length)
    assert(sizes.size === 8)
    assert(sizes.max <= n / 2)
    // deterministic: a second run is identical
    val again = CurateOps.shardExport(docs, nShards = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(again.toSeq === out.toSeq)
  }

  test("curate: quality gate, exact dedup, and decontamination compose") {
    // good, long, stopword-bearing base text (> 100 chars)
    val a = "the quick brown fox jumps over the lazy dog and runs to the " +
      "river in the morning light while birds sing of summer days ahead"
    val b = "every model of the world is built from data and the data must " +
      "be clean of leaks to keep the evaluation honest and fair for all"
    val c = "completely different unique content about mountains and rivers " +
      "that no other document in this corpus shares with anything else here"
    val corpus = Seq(
      2L  -> a,               // kept
      4L  -> a,               // exact duplicate of 2 → dropped
      6L  -> (b + " extra"),  // near-dups reference doc 1 → contaminated
      8L  -> "too short",     // fails the quality gate
      10L -> c                // kept
    ).toDF("doc_id", "text")
    val reference = Seq(1L -> b).toDF("doc_id", "text")
    val out = CurateOps.curate(corpus, reference)
      .collect().map(_.getLong(0)).toSeq
    assert(out === Seq(2L, 10L))
  }

  test("curateWeb: canonical-URL dedup, quality gate, and text dedup compose") {
    val a = "the quick brown fox jumps over the lazy dog and runs to the " +
      "river in the morning light while birds sing of summer days ahead"
    val c = "completely different unique content about the mountains and " +
      "rivers that no other document in this corpus shares with anything"
    val corpus = Seq(
      // same page dressed three ways: tracking param, fragment,
      // trailing slash + default port — ONE survivor (min doc_id)
      (1L, a, "http://site.com/a?utm_source=x"),
      (2L, a + " v2", "HTTP://Site.COM/a#frag"),
      (3L, a + " v3", "http://site.com:80/a/"),
      // distinct page, same body as the page-1 winner → text dedup
      (4L, a, "http://site.com/mirror"),
      // distinct page failing the quality gate
      (5L, "too short", "http://site.com/b"),
      // distinct good page
      (6L, c, "https://site.com/c")
    ).toDF("doc_id", "text", "url")
    val out = CurateOps.curateWeb(corpus)
      .collect().map(r => (r.getLong(0), r.getString(1))).toList
    assert(out === List(
      (1L, "http://site.com/a"),
      (6L, "https://site.com/c")))
  }

  test("canonicalPerCluster keeps the BEST copy, not the first-crawled") {
    val clusters = Seq((10L, 10L), (11L, 10L), (12L, 10L), (20L, 20L))
      .toDF("doc_id", "cluster_id")
    val docs = Seq(
      (10L, "zzz qqq xxx yyy www vvv uuu ttt sss rrr"),      // min id, 0 stopwords
      (11L, "the cat sat on the mat and the dog is in a box"), // best quality
      (12L, "the zzz qqq xxx yyy www vvv uuu ttt sss"),
      (20L, "the only member of its own cluster is here"))
      .toDF("doc_id", "text")
    val out = CurateOps.canonicalPerCluster(clusters, docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toList
    // cluster 10: doc 11 wins on quality despite doc 10 being min-id
    assert(out === List((10L, 11L, 3L), (20L, 20L, 1L)))
  }

  test("tokenBudget keeps the greedy quality-ranked prefix, never a knapsack") {
    // scores (stopword_ratio): rank order is d1 (2/6) > d2 (1/6) >
    // d3 (1/7) > d4 (0); token counts 6, 6, 7, 4. Budget 15 fits
    // d1 (cum 6) and d2 (cum 12); d3 would overflow (cum 19) and —
    // prefix semantics — the SMALLER d4 behind it must not sneak in
    // even though 12 + 4 ≤ 15.
    val corpus = Seq(
      1L -> "the fox is quick brown now",
      2L -> "the dog runs fast every day",
      3L -> "a cat sleeps near warm stones today",
      4L -> "nothing matches here whatsoever"
    ).toDF("doc_id", "text")
    val out = CurateOps.tokenBudget(corpus, budgetTokens = 15L)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq((1L, 6L, 6L), (2L, 6L, 12L)))
    // budget below the best doc's size keeps nothing; a huge budget
    // keeps everything with an exact grand total
    assert(CurateOps.tokenBudget(corpus, 5L).count() === 0)
    val all = CurateOps.tokenBudget(corpus, 1000L).collect()
    assert(all.length === 4 && all.last.getLong(3) === 23L)
  }

  test("tokenBudget's running sum never runs a partition-less corpus window") {
    val docs = (1L to 200L).map(i => (i, s"the tok a b c d $i"))
      .toDF("doc_id", "text")
    val plan = CurateOps.tokenBudget(docs, budgetTokens = 500L)
      .queryExecution.executedPlan.toString
    val specs = "windowspecdefinition\\(([^,]*)".r
      .findAllMatchIn(plan).map(_.group(1).trim).toSeq
    assert(specs.nonEmpty, plan)
    // every window must carry a partition column; the only global
    // window is the per-partition offset one (ordered by pid,
    // O(#partitions) rows) — a spec headed by the corpus rank key
    // means the cumsum sorted the corpus in one task
    specs.foreach { first =>
      assert(!first.startsWith("score") && !first.startsWith("doc_id"),
        s"corpus-wide partition-less window (spec head '$first'):\n$plan")
    }
    assert(specs.exists(_.startsWith("__pid")), specs.mkString(", "))
  }

  test("dsir: keeps exactly ceil(n/denom) docs, ranks dense, and the " +
       "selection IS the top prefix of the full scored ranking") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("text"))
    val n = docs.count()
    val keepN = (n + 3) / 4
    val sel = CurateOps.dsirOn(docs, col("lang") === "en", 64, 4L)
      .collect()
    assert(sel.length === keepN)
    // ranks are exactly 1..keepN (dense, unique)
    assert(sel.map(_.getLong(2)).sorted.toSeq === (1L to keepN))
    // keepDenom=1 keeps everything — its top-keepN prefix must be the
    // same doc set with the same scores (the cutoff only truncates)
    val all = CurateOps.dsirOn(docs, col("lang") === "en", 64, 1L)
      .collect()
    assert(all.length === n)
    val topIds = all.filter(_.getLong(2) <= keepN).map(_.getLong(0)).toSet
    assert(sel.map(_.getLong(0)).toSet === topIds)
    // rank order is score6 desc with doc_id tiebreak
    val byRank = all.sortBy(_.getLong(2))
    byRank.sliding(2).foreach { case Array(a, b) =>
      val (sa, sb) = (a.getLong(4), b.getLong(4))
      assert(sa > sb || (sa == sb && a.getLong(0) < b.getLong(0)))
    }
  }

  test("temperature mixing: sqrt-flattened quotas are exact, small " +
       "sources keep a LARGER share than big ones, caps hold") {
    // sources of size 400 / 100 / 25: sqrt weights 20:10:5
    val docs = ((1L to 400L).map((_, "big")) ++
      (1001L to 1100L).map((_, "mid")) ++
      (2001L to 2025L).map((_, "small"))).toDF("doc_id", "source")
    val out = CurateOps.mixTemperatureOn(docs, keepDenom = 2L).collect()
    val kept = out.groupBy(_.getString(1)).map { case (s, rows) =>
      s -> rows.length
    }
    // target = ceil(525/2) = 263; w6 = 20e6/10e6/5e6, W6 = 35e6
    // quotas: floor(263*20/35)=150, floor(263*10/35)=75,
    // floor(263*5/35)=37 capped at 25
    assert(kept === Map("big" -> 150, "mid" -> 75, "small" -> 25))
    // flattening: kept share increases as source size decreases
    assert(150.0 / 400 < 75.0 / 100 && 75.0 / 100 < 25.0 / 25.0)
    // ranks are dense 1..quota within each source
    out.groupBy(_.getString(1)).foreach { case (_, rows) =>
      assert(rows.map(_.getLong(2)).sorted.toSeq ===
        (1L to rows.length.toLong))
    }
    // deterministic: a second run selects the identical doc set
    val again = CurateOps.mixTemperatureOn(docs, keepDenom = 2L)
      .collect().map(_.getLong(0)).toSet
    assert(again === out.map(_.getLong(0)).toSet)
  }

  test("temperature mixing on an empty corpus returns an empty frame") {
    val docs = Seq.empty[(Long, String)].toDF("doc_id", "source")
    assert(CurateOps.mixTemperatureOn(docs, keepDenom = 2L).count() === 0)
  }

  test("dsir on an empty corpus returns an empty frame") {
    import org.apache.spark.sql.functions.col
    val docs = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "lang", "text")
    assert(CurateOps.dsirOn(docs, col("lang") === "en", 64, 4L).count() === 0)
  }

  test("dsir weights: importance mass shifts toward the target slice " +
       "(mean en weight above mean non-en weight)") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("text"))
    val all = CurateOps.dsirOn(docs, col("lang") === "en", 64, 1L)
      .select(col("lang"), col("w6")).collect()
    val (en, other) = all.partition(_.getString(0) == "en")
    assert(en.nonEmpty && other.nonEmpty)
    val enMean = en.map(_.getLong(1)).sum.toDouble / en.length
    val otherMean = other.map(_.getLong(1)).sum.toDouble / other.length
    // E_target[ln p_t/p_r] = KL(p_t || p_r) >= 0 while the off-target
    // mix pays the reversed ratio — the gap is the operator working
    assert(enMean > otherMean,
      s"enMean=$enMean otherMean=$otherMean")
  }

  test("curate funnel: each planted defect falls at exactly its own " +
       "stage — short doc at quality, copy at dedup, leaked doc at " +
       "decontamination, low-score doc at the budget") {
    import spark.implicits._
    val a = "the cat and the dog of the house went to the market in " +
      "the morning and it is a fine day for walking around the old " +
      "town square"                                  // 28 toks, hi score
    val e = "zebra quagga unicorn dragon phoenix griffin kraken hydra " +
      "chimera basilisk wyvern sphinx the mighty creatures assembled " +
      "quietly today"                                // 17 toks, lo score
    val dLeak = "every benchmark question and answer pair in the " +
      "holdout suite is listed here to keep the evaluation honest " +
      "and the training corpus must never contain it"
    val corpus = Seq((1L, a), (2L, a), (3L, "too short"),
      (4L, dLeak), (5L, e)).toDF("doc_id", "text")
    val ref = Seq((100L, dLeak)).toDF("doc_id", "text")
    val rows = CurateOps
      .curateFunnelOn(corpus, ref, budgetTokens = 30L, threshold = 0.8)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(t => (t._1, t._2, t._3)).toSeq === Seq(
      (0L, "raw", 5L),             // everything
      (1L, "quality_gate", 4L),    // drops doc 3 (len < 100)
      (2L, "exact_dedup", 3L),     // drops doc 2 (copy of 1, min-id)
      (3L, "decontaminated", 2L),  // drops doc 4 (identical to ref)
      (4L, "token_budget", 1L)))   // A (28 toks) fits 30; +E would not
    assert(rows(4)._4 === 28L)     // the kept tokens are exactly A's
    assert(rows(0)._4 > rows(1)._4 && rows(1)._4 > rows(2)._4 &&
      rows(2)._4 > rows(3)._4 && rows(3)._4 > rows(4)._4)
  }

  test("sequence packing: hand intervals, boundary flags, and the " +
       "doc-grain map agrees with text_pack's context-grain spans") {
    import spark.implicits._
    val docs = Seq((1L, "a b c"), (2L, "d e"), (3L, "f"),
      (4L, "g h i j")).toDF("doc_id", "text")
    // budget 4: cum = 3,5,6,10; starts 0,3,5,6
    val m = CurateOps.packSequencesOn(docs, budget = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))
    assert(m.toSeq === Seq(
      (1L, 3L, 0L, 0L, 0L, false),
      (2L, 2L, 3L, 0L, 1L, true),   // spans the 4-token boundary
      (3L, 1L, 5L, 1L, 1L, false),
      (4L, 4L, 6L, 1L, 2L, true)))
    // CROSS-GRAIN: the doc-grain sequence range equals exactly the
    // ctx_ids text_pack emits for the doc at the same budget — one
    // packing, two published grains that cannot drift
    val ctxByDoc = graft.ops.TextOps.packOn(docs, ctxLen = 4).collect()
      .groupBy(_.getLong(1)).view
      .mapValues(_.map(_.getLong(0)).sorted.toSeq).toMap
    m.foreach { case (id, _, _, sf0, sl0, _) =>
      assert(ctxByDoc(id) === (sf0 to sl0).toSeq, s"doc $id grains split")
    }
    // corpus level: intervals tile the token stream (starts are the
    // exclusive prefix sums, in doc_id order)
    val sf1 = CurateOps.packSequences(spark, sf).collect()
    val byId = sf1.sortBy(_.getLong(0))
    var cum = 0L
    byId.foreach { r =>
      assert(r.getLong(2) === cum, s"doc ${r.getLong(0)} start")
      cum += r.getLong(1)
    }
  }

  test("pack stats: fills tile the corpus token count, every sequence " +
       "but the last is full") {
    val st = CurateOps.packStats(spark, sf, budget = 512).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val total = CurateOps.packSequences(spark, sf).collect()
      .map(_.getLong(1)).sum
    assert(st.map(_._3).sum === total, "fills must tile the corpus")
    val last = st.map(_._1).max
    st.foreach { case (seq, nDocs, fill, full) =>
      assert(nDocs >= 1)
      if (seq < last) assert(full && fill === 512L, s"seq $seq not full")
      else assert(fill <= 512L)
    }
    // sequence ids are contiguous from 0
    assert(st.map(_._1).sorted.toSeq === (0L to last).toSeq)
  }

  test("tokenizer-grain packing: rounds=0 degenerates to the " +
       "whitespace map on the held-out half; fills tile the post-BPE " +
       "token count and merges only shrink the stream") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Seq((1L, "a b c"), (2L, "d e f g"), (3L, "f g h"),
      (4L, "x y"), (5L, "i j")).toDF("doc_id", "text")
    // rounds = 0: no merges, so the held-out (odd) half's post-BPE
    // counts ARE its whitespace counts — the tokenizer-grain map must
    // equal the whitespace-grain map on that half, row for row
    def canon(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5))).toSeq
    val bpe0 = canon(
      CurateOps.packSequencesBpeOn(docs, budget = 4, rounds = 0).collect())
    val ws = canon(CurateOps.packSequencesOn(
      docs.filter(col("doc_id") % 2 === 1), budget = 4).collect())
    assert(bpe0 === ws, "rounds=0 must be the whitespace map")
    // the ORACLE generator refuses rounds=0 (it would emit an
    // unparseable unaliased self-join, ADVICE r15) — Scala-side
    // rounds=0 stays legal (above), SQL-side it's a hard error
    intercept[IllegalArgumentException] {
      graft.ops.TextOps.bpeEncodeOracleSql(0)
    }
    // registered faces at sf: the map's token stream is exactly the
    // bpe-encode n_after stream, and merges can only SHRINK it
    val enc = graft.ops.TextOps.bpeEncode(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    val m = CurateOps.packSequencesBpe(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    m.foreach { case (id, n, _) =>
      assert(n === enc(id)._2.toLong, s"doc $id n_tokens != n_after")
      assert(n <= enc(id)._1.toLong, s"doc $id grew under BPE")
    }
    // starts are the exclusive prefix sums in doc_id order
    var cum = 0L
    m.sortBy(_._1).foreach { case (id, n, start) =>
      assert(start === cum, s"doc $id start"); cum += n
    }
    // stats face tiles the post-BPE total
    val stB = CurateOps.packStatsBpe(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(stB.map(_._2).sum === m.map(_._2).sum,
      "fills must tile the post-BPE token count")
  }
}
