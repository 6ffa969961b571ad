package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One banded row of an arriving document: its LSH bucket key plus
  * everything in-state verification needs (the shingle set for exact
  * Jaccard, the full band-signature vector for exactly-once pair
  * emission across buckets). */
case class NearDupBandRow(band: Int, bsig: Long, doc_id: Long,
                          ts: java.sql.Timestamp,
                          hs: Array[Long], sigs: Array[Long])

/** A bucket-state member: an earlier arrival still inside the
  * dedup horizon. */
case class NearDupMember(doc_id: Long, tsMillis: Long,
                         hs: Array[Long], sigs: Array[Long])

case class NearDupBucket(members: List[NearDupMember])

/** An emitted flag: `doc_id` arrived and is a verified near-dup of
  * the earlier `dup_of`. */
case class NearDupHit(doc_id: Long, ts: java.sql.Timestamp,
                      dup_of: Long, jaccard: Double)

/** Streaming face of exact deduplication: drop content-duplicate
  * documents as they arrive. A 100 TB ingest never sees its corpus at
  * rest, so dedup must run on the stream; keying state on the sha2
  * digest (not the text) keeps the state store rows small, and
  * `dropDuplicatesWithinWatermark` expires state once the watermark
  * passes, so the store is bounded by the dedup horizon rather than
  * corpus size. The batch face with identical semantics is
  * `DedupOps.exact` (same digest key).
  */
object DedupStreams extends Serializable {

  /** Streaming exact dedup over any frame with (`ts`, `textCol`):
    * keeps the first arrival of each distinct text within the
    * watermark horizon. */
  def dedupStream(docs: DataFrame, textCol: String = "text",
                  watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("text_hash", sha2(col(textCol), 256))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("text_hash")

  /** Static reference index for streaming decontamination: the
    * reference corpus's banded MinHash signatures plus its shingle
    * sets — built once in batch (in production: written to parquet and
    * broadcast/loaded by the streaming job). Returns
    * (bandIndex(band, bsig, ref_id), refSets(ref_id, ref_hs, ref_n)). */
  def referenceIndex(reference: DataFrame, numPerm: Int = 64,
                     bands: Int = 16): (DataFrame, DataFrame) = {
    val staged = Tables.spread(reference)
      .select(col("doc_id"), graft.ops.TextOps.toks(col("text")).as("__t"))
      .select(col("doc_id"),
        graft.ops.DedupOps.shingleHashesExpr(col("__t")).as("hs"))
    val sets = staged.select(col("doc_id").as("ref_id"),
      col("hs").as("ref_hs"), size(col("hs")).as("ref_n"))
    val bandIndex = staged.select(col("doc_id").as("ref_id"),
      posexplode(array(
        graft.ops.DedupOps.bandSigsExpr(col("hs"), numPerm, bands): _*))
        .as(Seq("band", "bsig")))
    (bandIndex, sets)
  }

  /** Streaming decontamination: flag documents arriving on a stream
    * whose n-gram Jaccard with any document of a STATIC reference
    * corpus reaches `threshold` — the online face of
    * [[graft.ops.DedupOps.decontaminate]]. Everything per-document is
    * a row-local projection (shingles, MinHash bands — no stateful
    * aggregation), candidates come from stream-static equi joins on
    * (band, bandSig) against the prebuilt index, exact Jaccard
    * verifies in the row, and the only state is the
    * watermark-bounded dedup of band-collision duplicates. Append
    * mode throughout; state never grows with corpus size. */
  def decontaminateStream(docs: DataFrame,
                          bandIndex: DataFrame, refSets: DataFrame,
                          threshold: Double = 0.8,
                          numPerm: Int = 64, bands: Int = 16,
                          watermark: String = "1 hour"): DataFrame = {
    val staged = docs
      .withColumn("__t", graft.ops.TextOps.toks(col("text")))
      .withColumn("hs", graft.ops.DedupOps.shingleHashesExpr(col("__t")))
      .withWatermark("ts", watermark)
    val banded = staged.select(col("doc_id"), col("ts"), col("hs"),
      posexplode(array(
        graft.ops.DedupOps.bandSigsExpr(col("hs"), numPerm, bands): _*))
        .as(Seq("band", "bsig")))
    banded
      .join(bandIndex, Seq("band", "bsig"))
      .join(refSets, Seq("ref_id"))
      .withColumn("common",
        graft.functions.SetExprs.sortedIntersectCount(col("hs"), col("ref_hs")))
      .withColumn("jaccard", round(col("common").cast("double") /
        (size(col("hs")) + col("ref_n") - col("common")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_id"), col("ts"), col("ref_id"), col("jaccard"))
      .dropDuplicatesWithinWatermark("doc_id", "ref_id")
  }

  // ---- streaming NEAR-dup dedup (stateful MinHash LSH) -----------------

  /** Merge-intersect count over two sorted-distinct long arrays —
    * the Scala twin of the codegen'd SetExprs.sortedIntersectCount
    * the batch verifier uses. */
  private def sortedIntersect(a: Array[Long], b: Array[Long]): Int = {
    var (i, j, c) = (0, 0, 0)
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { c += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    c
  }

  /** Exact Jaccard rounded to 4dp HALF_UP — bit-identical to the
    * batch path's `round(common/(n1+n2-common), 4)`. Two empty sets
    * are 0.0, not NaN: scala BigDecimal(NaN) THROWS, which inside
    * the state function would be a task failure killing the whole
    * streaming query. */
  private def jaccard4(a: Array[Long], b: Array[Long]): Double = {
    val c = sortedIntersect(a, b)
    val denom = a.length + b.length - c
    if (denom == 0) return 0.0
    val j = c.toDouble / denom
    BigDecimal(j).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** First band index where the two signature vectors collide. A pair
    * sharing several buckets would otherwise be emitted once per
    * shared bucket by independent state functions that cannot see
    * each other; emitting only from the FIRST colliding band — which
    * each side can determine locally from the stored signature
    * vectors — makes emission exactly-once with zero cross-key
    * coordination. */
  private def firstCollidingBand(a: Array[Long], b: Array[Long]): Int = {
    var i = 0
    while (i < a.length && a(i) != b(i)) i += 1
    i
  }

  /** The per-bucket matching core of [[nearDedupStream]]: process
    * one micro-batch's arrivals in (event time, doc_id) order against
    * the bucket's live members, emit verified hits oriented
    * later-flags-earlier, and admit new arrivals up to `maxBucket`.
    * Mutates `members`/`memberIds` in place; a doc already present is
    * a redelivery no-op. */
  private def processBucket(band: Int, arrivals: Seq[NearDupBandRow],
      members: scala.collection.mutable.ArrayBuffer[NearDupMember],
      memberIds: scala.collection.mutable.Set[Long],
      threshold: Double, maxBucket: Int): List[NearDupHit] = {
    val out = List.newBuilder[NearDupHit]
    arrivals.sortBy(r => (r.ts.getTime, r.doc_id)).foreach { r =>
      // a doc already in state is a redelivery (at-least-once
      // upstream): its pairs were emitted when it first arrived —
      // a no-op keeps emission exactly-once. (A redelivery of a
      // capped-OUT doc is not detectable and may re-emit; caps and
      // at-least-once sources compose at that cost.)
      if (!memberIds.contains(r.doc_id)) {
        members.foreach { m =>
          if (firstCollidingBand(m.sigs, r.sigs) == band) {
            val j = jaccard4(m.hs, r.hs)
            if (j >= threshold) {
              // orient later-flags-earlier by (event time, id), not
              // by arrival: an out-of-order arrival inside the
              // horizon then still yields the batch contract's
              // pair, emitted once by whichever side arrives second
              val rEarlier = r.ts.getTime < m.tsMillis ||
                (r.ts.getTime == m.tsMillis && r.doc_id < m.doc_id)
              out += (if (rEarlier)
                NearDupHit(m.doc_id, new java.sql.Timestamp(m.tsMillis),
                  r.doc_id, j)
              else NearDupHit(r.doc_id, r.ts, m.doc_id, j))
            }
          }
        }
        if (members.length < maxBucket) {
          members += NearDupMember(r.doc_id, r.ts.getTime, r.hs, r.sigs)
          memberIds += r.doc_id
        }
      }
    }
    out.result()
  }

  /** Banding stage: row-local shingle hashes + banded MinHash
    * signatures, watermarked, exploded to one row per (band, bsig). */
  private def bandedRows(docs: DataFrame, numPerm: Int, bands: Int,
                         horizonMs: Long): org.apache.spark.sql.Dataset[NearDupBandRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .withColumn("__t", graft.ops.TextOps.toks(col("text")))
      .withColumn("hs", graft.ops.DedupOps.shingleHashesExpr(col("__t")))
      // a doc with < k tokens has no shingles; the batch face drops
      // it before signatures (the explode of the empty set yields no
      // rows), so it must not enter stream state either — all
      // shingle-less docs share identical null-fed band signatures
      // and would otherwise pile into one meaningless bucket. The
      // filter sits DELIBERATELY above the watermark node (Catalyst
      // would push it there anyway): dropped docs do not advance
      // event time, deterministically.
      .filter(size(col("hs")) >= 1)
      .withColumn("sigs", array(
        graft.ops.DedupOps.bandSigsExpr(col("hs"), numPerm, bands): _*))
      .withWatermark("ts", s"$horizonMs milliseconds")
      .select(col("doc_id"), col("ts"), col("hs"), col("sigs"),
        posexplode(col("sigs")).as(Seq("band", "bsig")))
      .select(col("band"), col("bsig"), col("doc_id"), col("ts"),
        col("hs"), col("sigs"))
      .as[NearDupBandRow]
  }

  /** Streaming NEAR-duplicate detection — the within-stream face of
    * [[graft.ops.DedupOps.minhashLshOn]], and the shape a 100 TB
    * ingest actually needs: flag each arriving document against the
    * earlier arrivals it is a verified near-duplicate of, without
    * ever seeing the corpus at rest.
    *
    * Per-document work is row-local (shingle hashes + banded MinHash
    * signatures, the same expressions the batch path aggregates);
    * state lives per (band, bandSig) bucket and holds at most
    * `maxBucket` members (each: id, event time, shingle set,
    * signature vector), expired by the event-time horizon both lazily
    * on access and via timeouts, so the store is bounded by
    * horizon × arrival rate, never corpus size. An arriving document
    * verifies exact Jaccard against its bucket's members in-state and
    * emits one flag per matched earlier document; cross-bucket
    * duplicate emission is eliminated locally by the
    * first-colliding-band rule rather than a second stateful dedup.
    *
    * Pairs orient later-flags-earlier by (EVENT time, doc_id), not
    * arrival order — an out-of-order arrival within the horizon still
    * yields the batch contract's pair, emitted once by whichever side
    * arrives second — and a redelivered doc still present in state is
    * a no-op, so at-least-once upstream delivery does not duplicate
    * flags. Each bucket processes its micro-batch arrivals in
    * (event time, doc_id) order, so a replay in event-time order
    * reproduces the batch face exactly. Cap caveat (STRICTER than the
    * batch cap): once a bucket is full, later arrivals verify against
    * the stored members but are not stored, and pair emission happens
    * only in the pair's FIRST-colliding band — so a pair is missed
    * whenever that first-colliding bucket failed to retain the
    * earlier side, even if both docs co-reside in a later uncapped
    * bucket. The batch face keeps such pairs connected via
    * overflow-representative candidates; size `maxBucket` above the
    * hottest expected bucket, and treat cap engagement as recall
    * loss, not a soft degradation. */
  def nearDedupStream(docs: DataFrame, threshold: Double = 0.8,
                      numPerm: Int = 64, bands: Int = 16,
                      maxBucket: Int = 1000,
                      horizon: java.time.Duration =
                        java.time.Duration.ofHours(1)): DataFrame = {
    require(maxBucket > 0 && !horizon.isZero && !horizon.isNegative)
    val spark = docs.sparkSession
    import spark.implicits._
    val horizonMs = horizon.toMillis
    val banded = bandedRows(docs, numPerm, bands, horizonMs)

    def onBucket(key: (Int, Long), rows: Iterator[NearDupBandRow],
                 state: GroupState[NearDupBucket]): Iterator[NearDupHit] = {
      if (state.hasTimedOut) { state.remove(); return Iterator.empty }
      val wm = state.getCurrentWatermarkMs()
      // lazy expiry: members the watermark has passed can never be
      // flagged against again — drop them before matching. The
      // buffer+id-set pair keeps per-arrival work at one O(members)
      // match scan: List :+ would copy the list per arrival (O(n²)
      // bucket fill) and exists would rescan it per row.
      val members = scala.collection.mutable.ArrayBuffer.from(
        state.getOption.map(_.members).getOrElse(Nil)
          .filter(_.tsMillis >= wm))
      val memberIds = scala.collection.mutable.Set.from(members.map(_.doc_id))
      val out = processBucket(key._1, rows.toSeq, members, memberIds,
        threshold, maxBucket)
      if (members.isEmpty) state.remove()
      else {
        state.update(NearDupBucket(members.toList))
        // clear the whole bucket once its newest member ages out
        state.setTimeoutTimestamp(members.map(_.tsMillis).max + horizonMs)
      }
      out.iterator
    }

    banded.groupByKey(r => (r.band, r.bsig))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(onBucket)
      .toDF()
  }

  /** Batch face of [[nearDedupStream]] for the oracle gate: replayed
    * in event-time order with arrival order = doc_id order (what the
    * spec and entry do), the stream flags the later document of every
    * verified near-dup pair against the earlier one — i.e. exactly
    * the minhash LSH pair set reoriented as (later, earlier). Shared
    * machinery by construction; what the cross-engine oracle checks
    * is that the STREAM's contract equals this frame (StreamingSpec
    * replays the same corpus through the stateful operator). */
  def nearDedupBatch(s: SparkSession, d: String): DataFrame =
    graft.ops.DedupOps.minhashLsh(s, d)
      .select(col("id2").as("doc_id"), col("id1").as("dup_of"), col("jaccard"))
      .orderBy(col("doc_id"), col("dup_of"))

  /** Batch face for the oracle gate: the first arrival — by event
    * time, event_id tiebreak — of each (user_id, event_type) key over
    * the events table. This is what the streaming dedup computes when
    * the stream is replayed in event-time order; expressing the
    * "first" deterministically (min over the time order, not
    * dropDuplicates' arbitrary partition order) is what makes it
    * cross-engine checkable. One shuffle on the dedup key. */
  def dedupBatch(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts").as("first_ts"))
      .orderBy(col("user_id"), col("event_type"))
  }
}
