package graft

import graft.ops.DedupOps

class DedupSpec extends SparkSpec {

  test("exact dedup: keep_id count equals distinct texts") {
    val out = DedupOps.exact(spark, sf)
    val distinctTexts = Tables.documents(spark, sf)
      .select("text").distinct().count()
    assert(out.count() === distinctTexts)
  }

  test("minhash LSH finds the same pairs as exact n-gram Jaccard") {
    val lsh = DedupOps.minhashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = DedupOps.ngramJaccard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // LSH can only miss, never invent; at J≥0.8 with 16x4 banding the
    // miss probability is ~6e-4 per pair, so expect exact equality here.
    assert(lsh === exact)
    assert(exact.nonEmpty)  // the corpus has planted near-dups
  }

  test("incremental index fold equals the full recompute and finds a " +
       "planted cross-batch near-dup pair") {
    import spark.implicits._
    // fold over the real corpus ≡ one-shot LSH over the same corpus:
    // the pair table must not know the history/delta split happened
    val folded = DedupOps.incrementalIndex(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = DedupOps.minhashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(folded === full)
    // planted: history doc 1 and TODAY's doc 4 differ by one token —
    // the cross-batch near-dup only the delta-vs-history join can see
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val hist = Seq((1L, base), (2L, "an unrelated short text body"),
      (3L, (1 to 40).map(i => s"other$i").mkString(" ")))
      .toDF("doc_id", "text")
    val delta = Seq((4L, base + " extra"),
      (8L, "totally different content again")).toDF("doc_id", "text")
    val out = DedupOps.incrementalFold(
      DedupOps.bandIndexOn(hist),
      DedupOps.minhashLshOn(hist),
      hist, delta, threshold = 0.8, numPerm = 64, bands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq === Seq((1L, 4L)))
  }

  test("persisted-index round trip: folding from parquet-read state " +
       "equals the in-memory fold row for row") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_inc_spec").toString
    val rt = DedupOps.incrementalIndexPersisted(spark, sf, stateDir = dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val mem = DedupOps.incrementalIndex(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rt.toSeq === mem.toSeq)
    assert(rt.nonEmpty) // the corpus has planted near-dups
    // the state really crossed the boundary: both tables on disk,
    // the index partitioned by band
    assert(new java.io.File(s"$dir/pairs.parquet").exists())
    assert(new java.io.File(s"$dir/band_index.parquet/band=0").exists())
  }

  test("capped fold: benign data identical to uncapped; a hot bucket " +
       "stays linked through representative pairs, never quadratic") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val hist = Seq((1L, base), (2L, "an unrelated short text body"),
      (3L, (1 to 40).map(i => s"other$i").mkString(" ")))
      .toDF("doc_id", "text")
    val delta = Seq((4L, base + " extra"),
      (8L, "totally different content again")).toDF("doc_id", "text")
    def fold(h: org.apache.spark.sql.DataFrame,
             d: org.apache.spark.sql.DataFrame, cap: Int) =
      DedupOps.incrementalFold(DedupOps.bandIndexOn(h),
        DedupOps.minhashLshOn(h), h, d,
        threshold = 0.8, numPerm = 64, bands = 16, maxBucket = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // benign: no bucket over the cap ⇒ capped ≡ uncapped ≡ default
    assert(fold(hist, delta, 2) === fold(hist, delta, Int.MaxValue))
    assert(fold(hist, delta, 2) === Seq((1L, 4L)))
    // adversarial: ten identical delta docs + two identical history
    // docs all share every band bucket; cap=2 keeps two rows per
    // bucket per side, yet every member still reaches the bucket
    // minimum through a representative pair and survives the exact
    // verify — cluster membership is preserved at linear cost
    val hotHist = Seq(100L, 101L).map(i => (i, base)).toDF("doc_id", "text")
    val hotDelta = (200L to 209L).map(i => (i, base)).toDF("doc_id", "text")
    val capped = fold(hotHist, hotDelta, 2).toSet
    // delta members all link to the history minimum (100) or delta
    // minimum (200) — the two representatives
    (200L to 209L).foreach { i =>
      assert(capped.contains((100L, i)) || capped.contains((200L, i)) ||
        i == 200L,
        s"capped fold lost hot-bucket member $i")
    }
    // the uncapped fold on the same data finds the full clique; the
    // capped output is a subset of it (caps can only remove pairs)
    val unc = fold(hotHist, hotDelta, Int.MaxValue).toSet
    assert(capped.subsetOf(unc))
    // and the clique is genuinely quadratic uncapped (all C(12,2)
    // pairs: 1 history pair + 20 cross + 45 delta-delta) vs linear
    // capped (4 kept-join + 8+8 representative + 1 dd-join + 1 hist)
    assert(unc.size === (12 * 11) / 2)
    assert(capped.size === 22)
  }

  test("checked simhash face: banded index agrees with brute-force " +
       "hamming over the md5 signatures, planted pairs survive") {
    val docs = Tables.documents(spark, sf)
    val rows = DedupOps.simhashPairsCheckedOn(docs).collect()
    rows.foreach { r =>
      assert(r.getInt(2) <= 7)
      assert(r.getDouble(3) >= 0.8)
    }
    // the 60-bit face must still catch the ~99%-similar planted dups
    val planted = DedupOps.ngramJaccard(spark, sf, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(planted.nonEmpty && planted.subsetOf(got))
  }

  test("simhash rejects a maxHamming beyond the probe-exact radius") {
    intercept[IllegalArgumentException] {
      DedupOps.simhashPairsCheckedOn(Tables.documents(spark, sf),
        maxHamming = 8, bands = 4)
    }
  }

  test("simhash multi-index recall is banding-independent at radius 7") {
    // 4×15 (1-bit probes ⇒ exact ≤ 7) and 6×10 (exact ≤ 11, filtered
    // to 7) must produce identical pair sets — the banding is an
    // index layout, not a semantics knob. maxBucket pinned to ∞: 10-bit
    // chunks have only 1024 values and engage a cap far earlier than
    // 15-bit chunks, and once a cap engages, capped-out pairs connect
    // only via representatives and the sets may legitimately diverge.
    val docs = Tables.documents(spark, sf)
    val wide = DedupOps.simhashPairsCheckedOn(docs, maxHamming = 7,
        bands = 4, maxBucket = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val narrow = DedupOps.simhashPairsCheckedOn(docs, maxHamming = 7,
        bands = 6, maxBucket = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(wide === narrow && wide.nonEmpty)
  }

  test("connected components resolve chains and merges to component minima") {
    import spark.implicits._
    // chain 1-2-3-4-5 (diameter forces >1 propagation round), a
    // 2-clique, and a merge of {5,20,21,22} through edge (5,20)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (20L, 21L), (21L, 22L), (5L, 20L)).toDF("id1", "id2")
    val got = DedupOps.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      20L -> 1L, 21L -> 1L, 22L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connected components run ONE action per propagation round") {
    import spark.implicits._
    // a 3-edge chain plus a detached pair: min-label propagation
    // needs 3 hop rounds + 1 confirming round on the chain
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id1", "id2")
    // suites share one SparkContext and run concurrently: count ONLY
    // this test's jobs, recognized by a unique job group set on this
    // thread (the CC loop's driver actions all run on it; Spark
    // propagates the thread-local group to their jobs)
    val group = s"cc-jobcount-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null &&
            group == js.properties.getProperty("spark.jobGroup.id"))
          jobs.incrementAndGet()
    }
    // AQE materializes every shuffle stage as its own job (~4 per
    // action), which would bury the one-action-per-round structure
    // this test pins; without it one action = one job exactly
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, "cc job-count pin")
    try {
      val got = DedupOps.connectedComponents(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
        10L -> 10L, 11L -> 10L))
      // the listener bus is async — poll until the count stabilizes
      var (last, stable) = (-1, 0)
      while (stable < 5) {
        Thread.sleep(100)
        val now = jobs.get()
        if (now == last) stable += 1 else { stable = 0; last = now }
      }
      // One ACTION per propagation round — the convergence sum
      // materializes the lazy checkpoint in the same action. An
      // action expands to ~2 jobs here (the broadcast-exchange
      // subquery of the propagation join runs as its own job), so a
      // 4-round graph measures 11 jobs; a regression to a separate
      // checkpoint action per round (the round-4 shape, which
      // doubled the loop's cost) measures ~19+ and must fail.
      val rounds = 4 // 3 hops along the chain + 1 confirming round
      assert(last <= 2 * rounds + 6,
        s"connectedComponents ran $last jobs for a $rounds-round graph — " +
          "expected ~2 per round (+ init and collect)")
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("connected components on an empty pair set converge to no rows") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("id1", "id2")
    assert(DedupOps.connectedComponents(empty).collect().isEmpty)
  }

  test("minhash estimator tracks exact Jaccard on the real corpus pairs") {
    // every exact pair at J >= 0.8 must surface with an estimate
    // within the binomial noise band (|est - J| <= 4 sigma ~ 0.2 at
    // numPerm = 64), and no estimator pair may claim est >= 0.8 for
    // a pair whose exact Jaccard is far below the near-dup regime
    val exact = DedupOps.ngramJaccard(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val est = DedupOps.minhashEstPairs(Tables.documents(spark, sf)).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(exact.nonEmpty)
    exact.foreach { case (pair, j) =>
      val e = est.get(pair)
      assert(e.isDefined, s"exact pair $pair (J=$j) missed by estimator")
      assert(math.abs(e.get - j) <= 0.2,
        s"pair $pair est=${e.get} vs exact J=$j")
    }
    est.filter(_._2 >= 0.8).keys.foreach { pair =>
      assert(exact.contains(pair) || {
        // high estimate must correspond to genuinely high overlap:
        // exact J >= 0.6 even if below the 0.8 exact-face threshold
        val j = DedupOps.ngramJaccard(spark, sf, threshold = 0.6)
          .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
          .toMap.get(pair)
        j.exists(_ >= 0.6)
      }, s"estimator claims est>=0.8 for non-near-dup pair $pair")
    }
  }

  test("decontaminate flags exactly the cross-corpus near-dup pairs") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf)
    val out = DedupOps.decontaminate(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 =!= 0))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // ground truth: the opposite-parity subset of the exact all-pairs
    // n-gram Jaccard output, re-oriented as (corpus doc, reference doc)
    val expected = DedupOps.ngramJaccard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => a % 2 != b % 2 }
      .map { case (a, b, j) => if (a % 2 == 0) (a, b, j) else (b, a, j) }.toSet
    assert(out === expected)
    assert(out.nonEmpty)
  }

  test("decontaminate spans locate a planted eval item at its exact interval") {
    import spark.implicits._
    // a 12-word eval item pasted into the middle of a 50-word training
    // doc: words 1..20 filler, 21..32 the leak, 33..50 filler — the
    // locator must report exactly [21, 32] against exactly ref doc 1
    val evalWords = (1 to 12).map(i => s"leak$i")
    val corpus = Seq(
      (2L, ((1 to 20).map(i => s"w$i") ++ evalWords ++
        (33 to 50).map(i => s"w$i")).mkString(" ")),
      (4L, (1 to 30).map(i => s"clean$i").mkString(" "))
    ).toDF("doc_id", "text")
    val reference = Seq(
      (1L, evalWords.mkString(" ")),
      (3L, "an unrelated benchmark question entirely with enough words here")
    ).toDF("doc_id", "text")
    val out = DedupOps.decontaminateSpans(corpus, reference).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5)))
    assert(out.toSeq === Seq(
      (2L, 1L, 21L, 32L, 12L, evalWords.mkString(" "))))
  }

  test("decontaminate spans merge touching grams and split on a gap") {
    import spark.implicits._
    // ref doc 1 leaks TWICE into corpus doc 2 with a 5-word gap —
    // within each leak the 10-gram matches chain into ONE span;
    // across the gap they must stay two rows
    val leak = (1 to 11).map(i => s"x$i")
    val corpus = Seq((2L,
      (leak ++ (1 to 5).map(i => s"gap$i") ++ leak).mkString(" ")
    )).toDF("doc_id", "text")
    val reference = Seq((1L, leak.mkString(" "))).toDF("doc_id", "text")
    val out = DedupOps.decontaminateSpans(corpus, reference).collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq === Seq((1L, 11L, 11L), (17L, 27L, 11L)))
  }

  test("decontaminate cut excises the planted leak and keeps clean docs verbatim") {
    import spark.implicits._
    val evalWords = (1 to 12).map(i => s"leak$i")
    val filler1 = (1 to 20).map(i => s"w$i")
    val filler2 = (33 to 50).map(i => s"w$i")
    val cleanText = (1 to 30).map(i => s"clean$i").mkString(" ")
    val corpus = Seq(
      (2L, (filler1 ++ evalWords ++ filler2).mkString(" ")),
      (4L, cleanText)).toDF("doc_id", "text")
    val reference = Seq(
      (1L, evalWords.mkString(" ")),
      (3L, "an unrelated benchmark question entirely with enough words here")
    ).toDF("doc_id", "text")
    val out = DedupOps.decontaminateCut(corpus, reference).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1)
    // doc 2: exactly the 12 leaked words cut, surrounding prose intact
    assert(out(0) === ((2L, 50L, 38L,
      (filler1 ++ filler2).mkString(" "))))
    // doc 4: untouched
    assert(out(1) === ((4L, 30L, 30L, cleanText)))
  }

  test("decontaminate report prices a half-leaked reference exactly") {
    import spark.implicits._
    // ref doc 1 = 29 words -> 20 distinct 10-grams; its FIRST 19
    // words (10 grams, positions 1..10) are pasted into two corpus
    // docs -> n_leaked = 10/20 = 0.5, n_carriers = 2; ref doc 3 is
    // clean; ref doc 5 is sub-10-words -> all zeros
    val refWords = (1 to 29).map(i => s"r$i")
    val leakedPart = refWords.take(19)
    val corpus = Seq(
      (2L, ((1 to 15).map(i => s"a$i") ++ leakedPart).mkString(" ")),
      (4L, (leakedPart ++ (1 to 15).map(i => s"b$i")).mkString(" ")),
      (6L, (1 to 40).map(i => s"c$i").mkString(" "))
    ).toDF("doc_id", "text")
    val reference = Seq(
      (1L, refWords.mkString(" ")),
      (3L, (1 to 25).map(i => s"z$i").mkString(" ")),
      (5L, "too short to gram")).toDF("doc_id", "text")
    val out = DedupOps.decontaminateReport(corpus, reference).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4)))
    assert(out.toSeq === Seq(
      (1L, 20L, 10L, 0.5, 2L),
      (3L, 16L, 0L, 0.0, 0L),
      (5L, 0L, 0L, 0.0, 0L)))
  }

  test("containment catches a short eval item inside a long doc; Jaccard can't") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // a 6-token eval item pasted verbatim into a 60-token training
    // doc: containment = 1.0, Jaccard ≈ 4/56 — the planted case the
    // asymmetric metric exists for
    val evalItem = "the capital of france is paris"
    val filler = (1 to 50).map(i => s"w$i").mkString(" ")
    val corpus = Seq(
      (2L, s"$filler $evalItem pad1 pad2 pad3 pad4"),
      (4L, filler)).toDF("doc_id", "text")
    val reference = Seq(
      (1L, evalItem),
      (3L, "an unrelated benchmark question entirely")).toDF("doc_id", "text")
    val out = DedupOps.containmentOn(corpus, reference, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq === Seq((2L, 1L, 1.0)))
    // the symmetric operator misses it at any realistic threshold
    assert(DedupOps.decontaminate(corpus, reference, threshold = 0.8).count() === 0)
  }

  test("containment prefix filter is exact vs the brute-force pair set") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val reference = docs.filter(col("doc_id") % 2 =!= 0)
    val out = DedupOps.containmentOn(corpus, reference, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // brute force: every cross pair's shingle sets intersected in
    // driver code, no prefix/positional pruning involved
    def sets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[String]] =
      df.collect().map { r =>
        val t = r.getString(1).trim.split("\\s+").toSeq
        r.getLong(0) -> t.sliding(3).filter(_.size == 3)
          .map(_.mkString(" ")).toSet
      }.toMap
    val cs = sets(corpus.select("doc_id", "text"))
    val rs = sets(reference.select("doc_id", "text"))
    val brute = (for {
      (cid, chs) <- cs; (rid, rhs) <- rs
      if rhs.nonEmpty
      c = (chs & rhs).size.toDouble / rhs.size
      if c >= 0.6
    } yield (cid, rid,
      BigDecimal(c).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
    assert(out === brute)
    assert(out.nonEmpty)
  }

  test("broadcast decontamination equals the symmetric operator") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val reference = docs.filter(col("doc_id") % 2 =!= 0)
    val bcast = DedupOps.decontaminateBroadcast(corpus, reference)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val symm = DedupOps.decontaminate(corpus, reference)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(bcast === symm)
    assert(bcast.nonEmpty)
  }

  test("bloom decontamination equals the symmetric operator, probe in plan") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val reference = docs.filter(col("doc_id") % 2 =!= 0)
    val bloomDf = DedupOps.decontaminateBloom(corpus, reference)
    val bloom = bloomDf
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val symm = DedupOps.decontaminate(corpus, reference)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(bloom === symm)
    assert(bloom.nonEmpty)
    // the codegen'd probe must survive optimization as a row-local
    // filter — if it ever migrates above the candidate join (or gets
    // constant-folded away) the pre-shuffle pruning is gone
    val plan = bloomDf.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      "expected a might_contain Bloom probe in the executed plan")
  }

  test("bloom decontamination survives an absurd false-positive rate") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val reference = docs.filter(col("doc_id") % 2 =!= 0)
    // fpp = 0.5: half of all non-candidate band rows leak through the
    // filter — exact verification must still kill every one of them
    val sloppy = DedupOps.decontaminateBloom(corpus, reference, fpp = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val symm = DedupOps.decontaminate(corpus, reference)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(sloppy === symm)
  }

  test("embedding pairs: output respects the threshold and ordering") {
    val out = DedupOps.embeddingPairs(spark, sf, threshold = 0.4).collect()
    out.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= 0.4)
    }
  }

  test("embedding LSH face: exact recall on planted near-identical vectors") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val base = (0 until 40).map(i =>
      (i.toLong, Array.fill(64)(rng.nextGaussian().toFloat)))
    // ids 100+i are tiny perturbations of ids i — cosine ≈ 0.9999
    val dups = (0 until 10).map { i =>
      ((100 + i).toLong,
        base(i)._2.map(x => x + 0.001f * rng.nextGaussian().toFloat))
    }
    val emb = (base ++ dups).toDF("vec_id", "embedding")
    val out = DedupOps.embeddingPairsLshOn(emb, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0 until 10).map(i => (i.toLong, (100 + i).toLong)).toSet
    assert(out === expected)
  }

  test("adaptive LSH bits pin bucket occupancy across corpus scales") {
    import graft.ops.SimilarityOps.adaptiveBits
    // clamps: tiny corpora floor at 4 bits, huge ones cap at 16
    assert(adaptiveBits(0) === 4)
    assert(adaptiveBits(500) === 4)            // sf0.01: 500/32=15 → 4
    assert(adaptiveBits(5000) === 8)           // sf0.1: 156 cells → 8
    assert(adaptiveBits(50000) === 11)         // sf1: 1562 cells → 11
    assert(adaptiveBits(Long.MaxValue) === 16)
    // occupancy contract: 2^bits ≥ n/32 whenever inside the clamp band
    for (n <- Seq(1000L, 3000L, 10000L, 100000L, 1000000L)) {
      val b = adaptiveBits(n)
      assert((1L << b) >= n / 32 || b === 16, s"n=$n bits=$b")
      // and never more than 2× over — the next-lower width would
      // break the occupancy bound (no over-sharding)
      assert(b === 4 || (1L << (b - 1)) < n / 32, s"n=$n bits=$b")
    }
  }

  test("bucket cap bounds a duplicate-heavy corpus without losing members") {
    import spark.implicits._
    val docs = (0L until 300L).map(i => (i,
      "the same boilerplate text repeated for every single document in this corpus end"))
      .toDF("doc_id", "text")
    // 300 identical docs put every doc in one bucket per band; the cap
    // keeps the 50 lowest ids fully paired — C(50,2), not C(300,2) —
    // and every capped-out doc still pairs with the bucket's
    // representative (id 0), so no document vanishes from the cluster
    val out = DedupOps.minhashLshOn(docs, maxBucket = 50).collect()
    assert(out.length === 50 * 49 / 2 + 250)
    val members =
      out.flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(members === (0L until 300L).toSet)
    // capped-out docs appear only via the representative
    out.filter(r => r.getLong(1) >= 50).foreach(r => assert(r.getLong(0) === 0L))
    out.foreach(r => assert(r.getDouble(2) === 1.0))
  }

  test("bucket cap is a no-op on a corpus whose buckets stay below it") {
    val capped = DedupOps.minhashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val uncapped = DedupOps.minhashLsh(spark, sf, maxBucket = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(capped === uncapped)
  }

  test("fuzzy pairs: finds in-block typos, honest about block misses") {
    import spark.implicits._
    val recs = Seq(
      (1L, "jonathan-smith"),
      (2L, "jonathan-smyth"),   // 1 substitution from 1 → pair
      (3L, "jonatan-smith"),    // 1 deletion from 1 → pair
      (4L, "xonathan-smith"),   // 1 sub BUT first char differs → other block
      (5L, "miriam-jones"),
      (6L, "miriam-jones-esq")  // same block, length differs by 4 → filtered
    ).toDF("id", "name")
    val out = DedupOps.fuzzyPairsOn(recs, blockSuffix = 0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(out.contains((1L, 2L, 1)))
    assert(out.contains((1L, 3L, 1)))
    assert(out.contains((2L, 3L, 2)))   // smyth vs smith+del: dist 2
    // the block boundary is the documented approximation: a first-char
    // typo lands in another block and is NOT found by this single pass
    assert(!out.exists(p => p._1 === 4L || p._2 === 4L))
    // the length lower bound provably excludes dist > maxDist pairs
    assert(!out.exists(p => p._1 === 5L || p._2 === 6L))
  }

  test("fuzzy pairs: suffix blocking keeps deletion pairs, shrinks blocks") {
    import spark.implicits._
    val recs = Seq(
      (1L, "acme-corp-0001"),
      (2L, "ame-corp-0001"),    // deletion at pos 3: first char + tail kept
      (3L, "acme-corp-0002"),   // 1 sub IN the tail → other block, missed
      (4L, "bcme-corp-0001")    // first-char sub → other block, missed
    ).toDF("id", "name")
    val out = DedupOps.fuzzyPairsOn(recs, blockSuffix = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(out === Set((1L, 2L, 1)))
    // same fixture, first-char-only blocks: the tail-sub pair surfaces
    // (the recall/scale dial the scaladoc documents)
    val loose = DedupOps.fuzzyPairsOn(recs, blockSuffix = 0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(loose.contains((1L, 3L, 1)))
  }

  test("substring dup stats: cross-doc grams only, short docs emit 0") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x y z p q"),   // grams: xyz yzp zpq — shares xyz with doc 2
      (2L, "m n x y z"),   // grams: mnx nxy xyz
      (3L, "u v w r s"),   // all grams unique
      (4L, "r r r r"),     // rrr appears twice WITHIN one doc — not dup
      (5L, "a b")          // too short for any 3-gram
    ).toDF("doc_id", "text")
    val out = DedupOps.substringDupStats(docs, n = 3).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L) === ((3L, 1L, 0.3333)))
    assert(out(2L) === ((3L, 1L, 0.3333)))
    assert(out(3L) === ((3L, 0L, 0.0)))
    assert(out(4L) === ((2L, 0L, 0.0))) // within-doc repeat ≠ duplication
    assert(out(5L) === ((0L, 0L, 0.0)))
  }

  test("trim dup spans: cuts exactly the shared span, keeps the prose") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b s1 s2 s3 s4 c d"),
      (2L, "e s1 s2 s3 s4 f g h"),
      (3L, "i j k l m n o p"),    // untouched
      (4L, "s1 s2 s3 s4"),        // nothing but the span → empty
      (5L, "s1 s2 s3 s4")
    ).toDF("doc_id", "text")
    val out = DedupOps.trimDupSpans(docs, n = 3).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L) === ((8L, 4L, "a b c d")))
    assert(out(2L) === ((8L, 4L, "e f g h")))
    assert(out(3L) === ((8L, 8L, "i j k l m n o p")))
    assert(out(4L) === ((4L, 0L, "")))
    assert(out(5L) === ((4L, 0L, "")))
  }

  test("substring dup stats: a shared span is found at every position") {
    import spark.implicits._
    // the same 4-word span embedded in different contexts
    val span = "s1 s2 s3 s4"
    val docs = Seq(
      (1L, s"a b $span c d"),
      (2L, s"e $span f g h"),
      (3L, "i j k l m n o p")).toDF("doc_id", "text")
    val out = DedupOps.substringDupStats(docs, n = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    // 3-grams fully inside the span: (s1 s2 s3), (s2 s3 s4) → 2 per carrier
    assert(out(1L) === 2L && out(2L) === 2L && out(3L) === 0L)
  }

  test("cdc chunking: lengths tile the doc; a prefix insertion " +
       "re-synchronizes (shift robustness); fixed-size would not") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val words = (0 until 400).map(i => s"w${i * 7 % 131}")
    val base = words.mkString(" ")
    val shifted = "xx yy zz " + base       // 3 tokens inserted at front
    val docs = Seq((1L, base), (2L, shifted)).toDF("doc_id", "text")
    val ch = DedupOps.cdcChunksOf(docs, mask = 15).collect()
    val a = ch.filter(_.getLong(0) == 1L)
    val b = ch.filter(_.getLong(0) == 2L)
    // chunk lengths tile each document exactly
    assert(a.map(_.getLong(2)).sum === 400L)
    assert(b.map(_.getLong(2)).sum === 403L)
    // content-defined boundaries re-synchronize after the insertion:
    // all but the perturbed head chunks are SHARED. A fixed-size
    // chunker shares zero chunks after a 3-token shift.
    val sa = a.map(_.getString(1)).toSet
    val sb = b.map(_.getString(1)).toSet
    val shared = (sa & sb).size
    assert(shared >= sa.size - 2,
      s"only $shared of ${sa.size} chunks survived the shift")
    assert(a.length >= 10, "mask 15 over 400 tokens must cut often")
    // summary face agrees with the chunk frame
    val st = DedupOps.cdcChunkStatsOn(docs, mask = 15).collect().head
    assert(st.getLong(0) === (a.length + b.length).toLong)
    assert(st.getLong(0) - st.getLong(1) > 0, "shared chunks must dedup")
  }

  test("semantic dedup: planted paraphrase clones are dropped in favor " +
       "of their min-id original, distant vectors all survive") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val base = (0 until 30).map(i =>
      (i.toLong, Array.fill(64)(rng.nextGaussian().toFloat)))
    // ids 100+i are near-identical clones of ids i<8 (cosine ≈ 1)
    val dups = (0 until 8).map { i =>
      ((100 + i).toLong,
        base(i)._2.map(x => x + 0.001f * rng.nextGaussian().toFloat))
    }
    val emb = (base ++ dups).toDF("vec_id", "embedding")
    val out = DedupOps.semanticDedupOn(emb, tauMicro4 = 9500L,
        iters = 2, cell = 256L).collect()
    assert(out.length === 38)
    val byId = out.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    // every clone lands in its original's cluster (they are the same
    // point up to 1e-3), is shadowed by it, and is dropped
    (0 until 8).foreach { i =>
      val (cOrig, _, keptOrig) = byId(i.toLong)
      val (cDup, nDups, keptDup) = byId((100 + i).toLong)
      assert(cDup === cOrig, s"clone ${100 + i} left cluster $cOrig")
      assert(!keptDup && nDups >= 1, s"clone ${100 + i} not shadowed")
      assert(keptOrig, s"original $i wrongly dropped")
    }
    // random gaussians are near-orthogonal: no base pair clears 0.95
    assert(out.count(_.getBoolean(3)) === 30)
  }

  test("semantic dedup on an empty corpus returns an empty frame") {
    import spark.implicits._
    val emb = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(DedupOps.semanticDedupOn(emb, 2000L, 2, 256L).count() === 0)
  }

  test("semantic dedup invariants on the corpus table: kept ⟺ no " +
       "lower-id in-cluster partner above tau (double cross-check)") {
    val out = DedupOps.semanticDedup(spark, sf, tauMicro4 = 2000L)
      .collect()
    val emb = Tables.embeddings(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    assert(out.length === emb.size)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i)
      }
      d / math.sqrt(na * nb)
    }
    val cluster = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      val (id, c, nDups, kept) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))
      assert(kept === (nDups === 0L))
      val partners = cluster.keys.filter(j => j < id && cluster(j) == c)
        .count(j => cos(emb(j), emb(id)) >= 0.2 - 1e-4)
      // the integer gate and the double recompute may disagree only
      // inside a ±1e-4 quantization band around tau
      if (nDups > 0) assert(partners >= 1, s"doc $id shadowed with no partner")
      val strict = cluster.keys.filter(j => j < id && cluster(j) == c)
        .count(j => cos(emb(j), emb(id)) >= 0.2 + 1e-4)
      if (nDups == 0) assert(strict === 0, s"doc $id kept despite partner")
    }
  }
}
