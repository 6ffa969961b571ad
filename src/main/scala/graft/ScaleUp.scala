package graft

import org.apache.spark.sql.functions._

/** Dev harness: derive a FACTOR×-scale copy of an sf dir — the
  * LLM-pipeline heavy block (documents, embeddings, events) AND the
  * TPC-H block (lineitem/orders/customer/supplier/part offset per
  * copy; nation/region SF-invariant) — for scaling measurements
  * beyond the largest generated SF. The derivation is ISOMORPHIC, not
  * a blind union — each copy preserves the original's within-copy
  * structure exactly while staying dissimilar to every other copy, so
  * per-query work scales like real data growth instead of picking up
  * artificial cross-copy near-duplicates (which would grow candidate
  * pairs quadratically in the copy factor and measure a different
  * workload):
  *  - documents: copy k substitutes the lowercase alphabet through a
  *    SEEDED PER-COPY PERMUTATION (`translate` with an md5-seeded
  *    Fisher-Yates shuffle of a–z; copy 0 is the identity so the
  *    source corpus embeds unchanged). A letter bijection preserves
  *    token/char counts, within-copy shingle structure, and near-dup
  *    pairs EXACTLY per copy, while vocabularies across copies stay
  *    distinct IN EXPECTATION — two independent sampled permutations
  *    map a given letter identically with probability 1/26 (expected
  *    ~1 coincident letter per copy pair; >26 pairwise
  *    everywhere-different permutations cannot exist — that set is a
  *    Latin square's rows, max 26), so an occasional short token can
  *    coincide across copies; SHINGLE-level collisions, the unit
  *    every pair-based dedup benchmark here keys on, need every
  *    letter of a k≥5-shingle to coincide (≈26^-k per pair) and are
  *    negligible — and unlike the earlier alphabet ROTATION (26
  *    classes, so second-level corpora repeated texts across copies
  *    and pair-based doc dedup could not be benchmarked past sf1 —
  *    the round-12 documented cap), the 26! permutation space keeps
  *    composed transforms distinct at every level: the seed carries
  *    (offMult, k), so a second-level copy's permutation composed
  *    with each first-level permutation yields a fresh substitution
  *    class for all factor² copies. doc_id offsets by 10M per copy.
  *  - embeddings: copy k rotates each vector by k positions (norms
  *    preserved, within-copy cosines identical; cross-copy cosines of
  *    rotated random vectors ≈ 0). vec_id offsets by 1M per copy —
  *    a multiple of 10, so the `% 10` holdout and `< nQueries` query
  *    subsets keep their roles (queries stay fixed while the corpus
  *    grows: the ANN workload shape).
  *  - events: id/user offsets per copy, payload untouched (the raw
  *    ts column passes through with whatever physical type the source
  *    carries — nanos-long or TIMESTAMP_NTZ — so Tables.events'
  *    adaptive handling applies to the output unchanged).
  *
  * Usage: runMain graft.ScaleUp [srcSfDir] [outDir] [factor] [offMult]
  *
  * SECOND-LEVEL derivation (sf1 → sf10, round 12): pass
  * `offMult` = the source's own derivation factor (10 for sf1) so
  * every per-copy key offset scales past the source's key SPAN
  * instead of colliding with its first-level offsets. Two transform
  * caveats at the second level, documented rather than silent:
  *  - embeddings additionally get a per-copy ±1 SIGN MASK (md5-seeded
  *    diagonal orthogonal transform) on top of the rotation — pure
  *    rotations cap at dim=64 mutually-dissimilar copies, and a
  *    factor×factor composition would recreate identical vectors
  *    across copies (inflating every pair-based embedding workload);
  *    the mask keeps within-copy inner products EXACT (d_i² = 1)
  *    while cross-copy cosines stay ≈ 0 against every other copy of
  *    either level.
  *  - documents: resolved (round 13) — the seeded permutations above
  *    replace the rotation, so second-level corpora keep distinct
  *    vocabularies across all factor² copies (in expectation; see the
  *    per-letter coincidence note above) and PAIR-based doc dedup
  *    benchmarks at sf10 measure real growth, not artificial
  *    cross-copy duplicates.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "target/sfwork/sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val offMult = if (args.length > 3) args(3).toLong else 1L
    require(factor >= 1 && factor <= 26, s"factor must be 1..26: $factor")
    require(offMult >= 1, s"offMult must be >= 1: $offMult")
    val s = GraftSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    val dim = 64

    // seeded per-copy letter permutation: Fisher-Yates driven by a
    // PRNG seeded from md5 of (offMult, k) — deterministic across
    // runs/platforms, distinct per copy AND per derivation level, so
    // composed substitutions never recreate a vocabulary class
    def vocabPerm(k: Int): String =
      if (k == 0) alpha
      else {
        val md = java.security.MessageDigest.getInstance("MD5")
        val h = md.digest(s"scaleup_vocab_${offMult}_$k".getBytes("UTF-8"))
        val seed = h.take(8).foldLeft(0L)((a, b) => (a << 8) | (b & 0xffL))
        val rnd = new java.util.Random(seed)
        val arr = alpha.toCharArray
        for (i <- arr.length - 1 to 1 by -1) {
          val j = rnd.nextInt(i + 1)
          val t = arr(i); arr(i) = arr(j); arr(j) = t
        }
        new String(arr)
      }
    val docs = Tables.documents(s, src)
    (0 until factor).map { k =>
      docs.select(
        (col("doc_id") + lit(k * offMult * 10000000L)).as("doc_id"),
        translate(col("text"), alpha, vocabPerm(k)).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ union _)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = Tables.embeddings(s, src)
    (0 until factor).map { k =>
      val r = k % dim
      val rotated =
        if (r == 0) col("embedding")
        else concat(expr(s"slice(embedding, ${r + 1}, ${dim - r})"),
          expr(s"slice(embedding, 1, $r)"))
      // second level only: md5-seeded per-copy ±1 sign mask (copy 0
      // stays the identity so the source corpus embeds unchanged)
      val masked =
        if (offMult == 1L || k == 0) rotated
        else {
          val md = java.security.MessageDigest.getInstance("MD5")
          val h = md.digest(s"scaleup_sign_${k}".getBytes("UTF-8"))
          val mask = Array.tabulate(dim)(i =>
            if (((h(i % 16) >> (i / 16)) & 1) == 1) -1.0f else 1.0f)
          zip_with(rotated,
            array(mask.map(m => lit(m)).toIndexedSeq: _*),
            (a, b) => a * b)
        }
      emb.select(
        (col("vec_id") + lit(k * offMult * 1000000L)).as("vec_id"),
        masked.cast("array<float>").as("embedding"),
        col("label"))
    }.reduce(_ union _)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // events: read RAW (ts keeps the files' physical type; the session
    // builder already set the legacy nanos conf) so the output
    // round-trips through Tables.events unchanged
    val ev = s.read.parquet(s"$src/events.parquet")
    (0 until factor).map { k =>
      ev.select(
        (col("event_id") + lit(k * offMult * 10000000000L)).as("event_id"),
        col("ts"),
        (col("user_id") + lit(k * offMult * 1000000L)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ union _)
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    // TPC-H heavy block: the facts and every linearly-scaling dim get
    // per-copy key offsets (copies are disjoint key ranges, exactly
    // how a larger TPC-H SF grows), so join fanout, basket sizes, and
    // graph degrees stay per-copy-identical instead of superlinearly
    // inflating; nation/region are SF-invariant in TPC-H and pass
    // through unchanged. Offsets are decimal-round (1e6/1e5/1e4 ≫ the
    // sf0.1 max keys), so modulus-based subsets (`% 97` erasure
    // subjects, `% 10` holdouts) keep selecting the same fraction of
    // every copy. With all ten tables present the output dir is a
    // complete sf dir: Verify and Explain run against it directly.
    val okOff = 1000000L * offMult; val pkOff = 100000L * offMult
    val skOff = 10000L * offMult; val ckOff = 100000L * offMult
    def copies(table: String)(f: Int => org.apache.spark.sql.DataFrame): Unit =
      (0 until factor).map(f).reduce(_ union _)
        .write.mode("overwrite").parquet(s"$out/$table.parquet")

    val li = s.read.parquet(s"$src/lineitem.parquet")
    copies("lineitem") { k =>
      li.select(
        (col("l_orderkey") + lit(k * okOff)).as("l_orderkey"),
        (col("l_partkey") + lit(k * pkOff)).as("l_partkey"),
        (col("l_suppkey") + lit(k * skOff)).as("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate"))
    }
    val ord = s.read.parquet(s"$src/orders.parquet")
    copies("orders") { k =>
      ord.select(
        (col("o_orderkey") + lit(k * okOff)).as("o_orderkey"),
        (col("o_custkey") + lit(k * ckOff)).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
    }
    val cust = s.read.parquet(s"$src/customer.parquet")
    copies("customer") { k =>
      cust.select(
        (col("c_custkey") + lit(k * ckOff)).as("c_custkey"),
        col("c_name"), col("c_nationkey"), col("c_acctbal"),
        col("c_mktsegment"))
    }
    val supp = s.read.parquet(s"$src/supplier.parquet")
    copies("supplier") { k =>
      supp.select(
        (col("s_suppkey") + lit(k * skOff)).as("s_suppkey"),
        col("s_name"), col("s_nationkey"), col("s_acctbal"))
    }
    val prt = s.read.parquet(s"$src/part.parquet")
    copies("part") { k =>
      prt.select(
        (col("p_partkey") + lit(k * pkOff)).as("p_partkey"),
        col("p_name"), col("p_brand"), col("p_type"), col("p_size"),
        col("p_retailprice"))
    }
    Seq("nation", "region").foreach { t =>
      s.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }

    println(s"[scaleup] wrote $out at $factor x $src")
    s.stop()
  }
}
