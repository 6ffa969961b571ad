package graft.streaming

import graft.functions.MisraGriesAgg
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming heavy-hitter profiling — the live face of
  * `text_top_terms_sketch`: a Misra-Gries summary of everything the
  * stream has carried so far, continuously published as a tiny
  * versioned table. The batch face answers "what dominates the
  * corpus"; this one answers it for a feed that never ends (the
  * vocabulary/user-id/url-host profile a 100 TB ingest keeps warm),
  * with bounded state no matter how long the stream runs.
  *
  * Per micro-batch: ONE mergeable [[MisraGriesAgg]] pass over the
  * batch (map-side partials, capacity-sized result), then the
  * Agarwal et al. PODS'12 merge against the previous published
  * summary — pointwise sum, subtract the (capacity+1)-th largest
  * count, drop non-positives. Both merge inputs are CAPACITY-sized,
  * so the merge costs O(capacity·log capacity) regardless of stream
  * age or batch size; the single-partition rank window is
  * summary-sized by construction, never data-sized. The usual MG
  * guarantee survives composition (that is the point of the
  * mergeable construction): after any prefix of batches with n total
  * arrivals, every estimate UNDERCOUNTS by at most n/capacity, and
  * any item with true count > n/capacity is present.
  *
  * Publication shares [[ChangeStreams]]'s exactly-once contract:
  * immutable `batch=<id>` version dirs + `_done_<id>` markers (a
  * retried complete batch is a no-op), lineage-mismatch guards, and
  * marker-first pruning beyond `keepVersions`. Read the live summary
  * with [[ChangeStreams.readSnapshot]].
  */
object SketchStreams {

  /** Start the continuous heavy-hitter fold. `terms` is a STREAMING
    * frame with one string column `term`. */
  def topkStream(terms: DataFrame, sketchDir: String, checkpoint: String,
                 capacity: Int = 64, keepVersions: Int = 3): StreamingQuery = {
    require(keepVersions >= 2,
      "keepVersions must be >= 2 so concurrent readers always have headroom")
    val mg = udaf(new MisraGriesAgg(capacity))
    terms.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val s = batch.sparkSession
        val vs = ChangeStreams.versions(s, sketchDir)
        // same lineage guards as the CDC stream: version ids ARE the
        // checkpoint's batch ids, and a mismatch must fail loudly
        require(vs.isEmpty || id >= vs.head,
          s"batch id $id is behind newest sketch version ${vs.headOption}" +
            s" — checkpoint and sketchDir lineages do not match")
        require(vs.nonEmpty || id == 0,
          s"first observed batch id is $id but $sketchDir has no versions" +
            s" — the sketch store was deleted under a live checkpoint")
        if (!vs.contains(id) && !batch.isEmpty) {
          val part = batch.agg(mg(col("term")).as("sk"))
            .select(explode(col("sk")).as(Seq("term", "est")))
          val base = vs.headOption match {
            case Some(v) => s.read.parquet(s"$sketchDir/batch=$v")
            case None => part.limit(0)
          }
          val next = mgMerge(base, part, capacity)
          next.write.mode("overwrite").parquet(s"$sketchDir/batch=$id")
          val f = ChangeStreams.fs(s, sketchDir)
          f.create(new org.apache.hadoop.fs.Path(
            s"$sketchDir/${ChangeStreams.donePrefix}$id"), true).close()
          ChangeStreams.versions(s, sketchDir).drop(keepVersions).foreach {
            old =>
              f.delete(new org.apache.hadoop.fs.Path(
                s"$sketchDir/${ChangeStreams.donePrefix}$old"), false)
              f.delete(new org.apache.hadoop.fs.Path(
                s"$sketchDir/batch=$old"), true)
          }
        }
        ()
      }
      .start()
  }

  /** Streaming Count-Min fold — the live face of `text_count_min`
    * (the POINT-QUERY companion of [[topkStream]]'s heavy-hitter
    * list): a d×w counter grid of everything the stream has carried,
    * continuously published under the same versioned exactly-once
    * contract. Unlike Misra-Gries, CM merges LOSSLESSLY — grids sum
    * pointwise with no subtraction step, so the published grid after
    * any prefix of batches equals the batch-face grid over the same
    * rows EXACTLY, and the overcount-only guarantee (est ≥ true,
    * E[over] ≤ n/w per row, min over d rows) composes with no
    * merge penalty. Per micro-batch cost: one map-side-combinable
    * aggregation to ≤ d·w cells + a ≤ d·w-row merge — state and
    * publish size are FIXED whatever the stream age or batch size.
    * Probe the live grid with [[countMinEstimate]]. */
  def countMinStream(terms: DataFrame, sketchDir: String, checkpoint: String,
                     depth: Int = 4, width: Int = 256,
                     keepVersions: Int = 3): StreamingQuery = {
    require(keepVersions >= 2,
      "keepVersions must be >= 2 so concurrent readers always have headroom")
    terms.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val s = batch.sparkSession
        val vs = ChangeStreams.versions(s, sketchDir)
        require(vs.isEmpty || id >= vs.head,
          s"batch id $id is behind newest sketch version ${vs.headOption}" +
            s" — checkpoint and sketchDir lineages do not match")
        require(vs.nonEmpty || id == 0,
          s"first observed batch id is $id but $sketchDir has no versions" +
            s" — the sketch store was deleted under a live checkpoint")
        if (!vs.contains(id) && !batch.isEmpty) {
          val part = batch
            .withColumn("i", explode(sequence(lit(0), lit(depth - 1))))
            .select(col("i"), cmBucket(col("i"), col("term"), width))
            .groupBy(col("i"), col("bucket")).agg(count(lit(1)).as("cnt"))
          val base = vs.headOption match {
            case Some(v) => s.read.parquet(s"$sketchDir/batch=$v")
            case None => part.limit(0)
          }
          // lossless pointwise merge: grids just add
          val next = base.unionByName(part)
            .groupBy(col("i"), col("bucket")).agg(sum(col("cnt")).as("cnt"))
          next.write.mode("overwrite").parquet(s"$sketchDir/batch=$id")
          val f = ChangeStreams.fs(s, sketchDir)
          f.create(new org.apache.hadoop.fs.Path(
            s"$sketchDir/${ChangeStreams.donePrefix}$id"), true).close()
          ChangeStreams.versions(s, sketchDir).drop(keepVersions).foreach {
            old =>
              f.delete(new org.apache.hadoop.fs.Path(
                s"$sketchDir/${ChangeStreams.donePrefix}$old"), false)
              f.delete(new org.apache.hadoop.fs.Path(
                s"$sketchDir/batch=$old"), true)
          }
        }
        ()
      }
      .start()
  }

  /** Streaming DISTINCT-COUNT fold — the live face of
    * `q_distinct_approx`: per event_type, a DataSketches HLL sketch
    * of every user the stream has carried, continuously published
    * under the same versioned exactly-once contract. HLL union is
    * register-wise MAX over the dense representation —
    * order-insensitive, so the fold is DETERMINISTIC for any batch
    * split; it is NOT bit-identical to the one-shot sketch (small
    * sketches live in coupon-list mode and promote differently
    * through a union — the spec measured 451 vs 446 on 450 true),
    * so cross-face parity is asserted within the sketch's rsd band,
    * the same posture as q_distinct_approx vs exact. State:
    * one fixed-size sketch per type (2^lgK registers) whatever the
    * stream age; the distinct set itself is never stored — the
    * reason this face exists at 100 TB (billions of distinct users,
    * KB of state per type). Per micro-batch: one map-side-combinable
    * sketch aggregate over the batch + a types-sized union merge. */
  def hllStream(events: DataFrame, sketchDir: String, checkpoint: String,
                lgK: Int = 12, keepVersions: Int = 3): StreamingQuery = {
    require(keepVersions >= 2,
      "keepVersions must be >= 2 so concurrent readers always have headroom")
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val s = batch.sparkSession
        val vs = ChangeStreams.versions(s, sketchDir)
        require(vs.isEmpty || id >= vs.head,
          s"batch id $id is behind newest sketch version ${vs.headOption}" +
            s" — checkpoint and sketchDir lineages do not match")
        require(vs.nonEmpty || id == 0,
          s"first observed batch id is $id but $sketchDir has no versions" +
            s" — the sketch store was deleted under a live checkpoint")
        if (!vs.contains(id) && !batch.isEmpty) {
          val part = batch.groupBy(col("event_type"))
            .agg(hll_sketch_agg(col("user_id"), lgK).as("sk"))
          val base = vs.headOption match {
            case Some(v) => s.read.parquet(s"$sketchDir/batch=$v")
              .select(col("event_type"), col("sk"))
            case None => part.limit(0)
          }
          val next = base.unionByName(part)
            .groupBy(col("event_type"))
            .agg(hll_union_agg(col("sk")).as("sk"))
            .select(col("event_type"), col("sk"),
              hll_sketch_estimate(col("sk")).as("estimate"))
          next.write.mode("overwrite").parquet(s"$sketchDir/batch=$id")
          val f = ChangeStreams.fs(s, sketchDir)
          f.create(new org.apache.hadoop.fs.Path(
            s"$sketchDir/${ChangeStreams.donePrefix}$id"), true).close()
          ChangeStreams.versions(s, sketchDir).drop(keepVersions).foreach {
            old =>
              f.delete(new org.apache.hadoop.fs.Path(
                s"$sketchDir/${ChangeStreams.donePrefix}$old"), false)
              f.delete(new org.apache.hadoop.fs.Path(
                s"$sketchDir/batch=$old"), true)
          }
        }
        ()
      }
      .start()
  }

  /** The read face: the live per-type distinct-user estimates. */
  def hllEstimate(s: SparkSession, sketchDir: String): DataFrame =
    ChangeStreams.readSnapshot(s, sketchDir)
      .select(col("event_type"), col("estimate"))
      .orderBy(col("event_type"))

  /** Streaming PSI drift monitor — the live face of `q_psi_drift`
    * (the batch face asks "did last period drift from the one
    * before"; this asks it CONTINUOUSLY against a frozen reference):
    * the reference window is fixed up front — nine 4dp decile
    * thresholds plus per-bin counts from a static frame, a 10-row
    * driver-held table (a one-time O(10) collect, the scale of a
    * config) — and every micro-batch folds the CURRENT histogram
    * cumulatively under the versioned exactly-once contract. Each
    * published version carries the full 10-bin table + psi + drift
    * computed by the SAME [[graft.ops.Analytics.psiFromCounts]] the
    * batch entry runs, so the two faces cannot drift from each
    * other. State = 10 bin counts, whatever the stream age. */
  def psiStream(values: DataFrame, reference: DataFrame,
                sketchDir: String, checkpoint: String,
                keepVersions: Int = 3): StreamingQuery = {
    require(keepVersions >= 2,
      "keepVersions must be >= 2 so concurrent readers always have headroom")
    val refStaged = reference.select(
      round(col("x").cast("double"), 4).as("x"))
    val ts = refStaged.agg(expr(
      "percentile(x, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))")
      .as("ts"))
      .select((1 to 9).map(i =>
        round(element_at(col("ts"), i), 4).as(s"t$i")): _*)
      .collect()(0)
    val thresholds = (0 until 9).map(ts.getDouble)
    def binOf(x: org.apache.spark.sql.Column) =
      thresholds.map(t => (x > t).cast("long")).reduce(_ + _)
    val refCounts = refStaged.select(binOf(col("x")).as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    values.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val s = batch.sparkSession
        val vs = ChangeStreams.versions(s, sketchDir)
        require(vs.isEmpty || id >= vs.head,
          s"batch id $id is behind newest version ${vs.headOption}" +
            s" — checkpoint and sketchDir lineages do not match")
        require(vs.nonEmpty || id == 0,
          s"first observed batch id is $id but $sketchDir has no versions" +
            s" — the monitor store was deleted under a live checkpoint")
        if (!vs.contains(id) && !batch.isEmpty) {
          import s.implicits._
          val part = batch
            .select(binOf(round(col("x").cast("double"), 4)).as("bin"))
            .groupBy(col("bin")).agg(count(lit(1)).as("n_cur"))
          val base = vs.headOption match {
            case Some(v) => s.read.parquet(s"$sketchDir/batch=$v")
              .select(col("bin"), col("n_cur"))
            case None => part.limit(0)
          }
          val folded = base.unionByName(part)
            .groupBy(col("bin")).agg(sum(col("n_cur")).as("n_cur"))
          val full = (0L until 10L)
            .map(b => (b, refCounts.getOrElse(b, 0L)))
            .toDF("bin", "n_ref")
            .join(folded, Seq("bin"), "left")
            .select(col("bin"), col("n_ref"),
              coalesce(col("n_cur"), lit(0L)).as("n_cur"))
          val next = graft.ops.Analytics.psiFromCounts(full)
          next.write.mode("overwrite").parquet(s"$sketchDir/batch=$id")
          val f = ChangeStreams.fs(s, sketchDir)
          f.create(new org.apache.hadoop.fs.Path(
            s"$sketchDir/${ChangeStreams.donePrefix}$id"), true).close()
          ChangeStreams.versions(s, sketchDir).drop(keepVersions).foreach {
            old =>
              f.delete(new org.apache.hadoop.fs.Path(
                s"$sketchDir/${ChangeStreams.donePrefix}$old"), false)
              f.delete(new org.apache.hadoop.fs.Path(
                s"$sketchDir/batch=$old"), true)
          }
        }
        ()
      }
      .start()
  }

  /** The probe face: est(term) = min over the grid's d rows at the
    * term's md5 buckets — the same hash, so a term's estimate from
    * the published stream grid equals the batch face's estimate over
    * the same data. Terms absent from every batch estimate as the
    * (collision-only) bucket minimum — overcount-only, like CM
    * itself. Missing cells (bucket never hit) read as 0. */
  def countMinEstimate(s: SparkSession, sketchDir: String,
                       terms: Seq[String], depth: Int = 4,
                       width: Int = 256): DataFrame = {
    import s.implicits._
    val grid = ChangeStreams.readSnapshot(s, sketchDir)
    val probe = terms.toDF("term")
      .withColumn("i", explode(sequence(lit(0), lit(depth - 1))))
      .select(col("term"), col("i"), cmBucket(col("i"), col("term"), width))
    probe.join(broadcast(grid), Seq("i", "bucket"), "left")
      .groupBy(col("term"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
      .orderBy(col("term"))
  }

  /** The shared md5 bucket hash — identical to the batch face's
    * (TextOps.countMin) so stream and batch grids are comparable. */
  private def cmBucket(i: org.apache.spark.sql.Column,
                       term: org.apache.spark.sql.Column,
                       width: Int): org.apache.spark.sql.Column =
    (conv(substring(md5(concat(i.cast("string"), lit("_"), term)),
      1, 15), 16, 10).cast("long") % width).as("bucket")

  /** The Agarwal et al. PODS'12 mergeable-summaries step shared by
    * [[topkStream]]'s per-micro-batch fold and
    * [[topkVersionsBatch]]'s epoch replay: pointwise sum of two
    * capacity-bounded (term, est) summaries, subtract the
    * (capacity+1)-th largest, drop non-positives. Both inputs are
    * capacity-sized, so the rank window is summary-sized by
    * construction. */
  private[graft] def mgMerge(base: DataFrame, part: DataFrame,
                             capacity: Int): DataFrame = {
    val summed = base.unionByName(part)
      .groupBy(col("term")).agg(sum(col("est")).as("est"))
    val w = Window.orderBy(col("est").desc, col("term"))
    val ranked = summed.withColumn("__rk", row_number().over(w))
    val sub = ranked.filter(col("__rk") === capacity + 1)
      .select(col("est").as("__sub"))
    ranked.join(broadcast(sub), lit(true), "left")
      .select(col("term"),
        (col("est") - coalesce(col("__sub"), lit(0L))).as("est"))
      .filter(col("est") > 0)
  }

  // ------------------------------------------------------------------
  // Versioned-snapshot AUDIT faces — the cdc_snapshot_versions
  // pattern applied to the three sketch streams: re-derive each
  // RETAINED published version (epoch k = the stream's micro-batch k;
  // version k = the fold of epochs 0..k) through the SAME merge code
  // the stream runs, and publish per-version audit rows whose exact
  // side a SQL oracle replays — so the exactly-once versioned
  // contract is cross-engine checked, not spec-only. Sketch-specific
  // values appear only where they replay exactly (the md5-hashed CM
  // grid); order-sensitive summaries (MG partials, HLL coupon
  // promotion) surface as BOUND VERDICT booleans the oracle pins to
  // literal TRUE — a violated guarantee breaks the cross-engine hash.
  // ------------------------------------------------------------------

  /** (epoch, term) token stream of the documents corpus — the shared
    * replay input: epoch = doc_id % epochs stands in for arrival
    * micro-batch (deterministic, oracle-expressible). */
  private def epochTerms(s: SparkSession, d: String,
                         epochs: Int): DataFrame =
    graft.Tables.spread(graft.Tables.documents(s, d))
      .select((col("doc_id") % epochs).as("epoch"),
        explode(graft.ops.TextOps.toks(lower(col("text")))).as("term"))

  /** The oracled audit of [[topkStream]]'s retained versions: fold
    * the epoch slices through [[mgMerge]] (each slice summarized by
    * the same [[MisraGriesAgg]] the stream runs), then for each
    * retained version emit the prefix's exact top-k terms with the
    * three mergeable-MG verdicts of the batch face
    * (TextOps.topTermsSketchChecked): present-if-heavy, never
    * overcounts, undercount ≤ n/capacity. MG partials are
    * merge-order-sensitive, so the summary itself is not
    * cross-engine replayable — the GUARANTEE is, which is exactly
    * what the verdict booleans pin. */
  def topkVersionsBatch(s: SparkSession, d: String, epochs: Int = 5,
                        keepVersions: Int = 3, capacity: Int = 64,
                        k: Int = 3): DataFrame = {
    require(epochs >= 1 && keepVersions >= 1 && keepVersions <= epochs,
      s"need 1 <= keepVersions <= epochs: $keepVersions/$epochs")
    val mg = udaf(new MisraGriesAgg(capacity))
    // ONE corpus-scale tokenize, checkpointed; everything exact below reads
    // the (epoch, term, n) count frame — vocabulary-sized — instead
    // of re-scanning tokens per version
    val terms = epochTerms(s, d, epochs).localCheckpoint(false)
    val counts = terms.groupBy(col("epoch"), col("term"))
      .agg(count(lit(1)).as("n")).localCheckpoint(false)
    val empty = terms.select(col("term"), lit(0L).as("est")).limit(0)
    // ALL per-epoch slice summaries in ONE pass over the checkpointed
    // tokens (groupBy epoch + the same MisraGriesAgg — identical
    // slice semantics, partials merged by the same UDAF machinery),
    // where the previous per-epoch agg paid `epochs` full token
    // passes; at corpus scale that is 1 pass vs `epochs` passes. The
    // published verdict booleans are MG guarantee theorems, invariant
    // to partial-merge order, so the audit values cannot move.
    val parts = terms.groupBy(col("epoch")).agg(mg(col("term")).as("sk"))
      .localCheckpoint(true) // epochs rows, each ≤ capacity entries
    // each merged summary is ≤ capacity rows: EAGER-checkpoint it so
    // version v's audit doesn't re-run the whole fold chain (the
    // first cut re-derived every prefix — 13s at sf0.1 vs ~4s now)
    val summaries = (0 until epochs).scanLeft(empty) { (base, e) =>
      val part = parts.filter(col("epoch") === e)
        .select(explode(col("sk")).as(Seq("term", "est")))
      mgMerge(base, part, capacity).localCheckpoint(true)
    }.drop(1)
    (epochs - keepVersions until epochs).map { v =>
      val pc = counts.filter(col("epoch") <= v)
      val totals = pc.agg(sum(col("n")).as("__total"))
      val bound = expr(s"__total div $capacity")
      pc.groupBy(col("term")).agg(sum(col("n")).as("true_n"))
        .orderBy(col("true_n").desc, col("term")).limit(k)
        .join(summaries(v), Seq("term"), "left")
        .crossJoin(broadcast(totals))
        .select(lit(v.toLong).as("version"), col("term"), col("true_n"),
          (col("est").isNotNull || col("true_n") <= bound)
            .as("in_sketch_ok"),
          (col("est").isNull || col("est") <= col("true_n"))
            .as("est_lower_ok"),
          (col("est").isNull || col("true_n") - col("est") <= bound)
            .as("est_within_bound"))
    }.reduce(_ unionAll _)
      .orderBy(col("version"), col("true_n").desc, col("term"))
  }

  /** The oracled audit of [[countMinStream]]'s retained versions. CM
    * merges LOSSLESSLY, so version k's grid is exactly the count of
    * epochs 0..k under the md5 bucket hashes — every value here
    * (grid cell census AND the top-k probe estimates) replays
    * value-for-value in the oracle, the strongest audit of the
    * three. Per (version, exact-top-k term): true count, CM
    * estimate, plus the version's grid census (n_cells ≤ d·w,
    * grid_total = depth·arrivals — the lossless-merge invariant). */
  def countMinVersionsBatch(s: SparkSession, d: String, epochs: Int = 5,
                            keepVersions: Int = 3, depth: Int = 4,
                            width: Int = 256, k: Int = 3): DataFrame = {
    require(epochs >= 1 && keepVersions >= 1 && keepVersions <= epochs,
      s"need 1 <= keepVersions <= epochs: $keepVersions/$epochs")
    // ONE corpus-scale tokenize+count; per-epoch cell grids and term
    // counts are vocabulary-sized from there, so each version's grid
    // is a filter+sum, not a corpus re-scan
    val counts = epochTerms(s, d, epochs)
      .groupBy(col("epoch"), col("term"))
      .agg(count(lit(1)).as("n")).localCheckpoint(false)
    val cells = counts
      .withColumn("i", explode(sequence(lit(0), lit(depth - 1))))
      .select(col("epoch"), col("i"),
        cmBucket(col("i"), col("term"), width), col("n"))
      .groupBy(col("epoch"), col("i"), col("bucket"))
      .agg(sum(col("n")).as("cnt"))
      .localCheckpoint(false)
    (epochs - keepVersions until epochs).map { v =>
      val grid = cells.filter(col("epoch") <= v)
        .groupBy(col("i"), col("bucket")).agg(sum(col("cnt")).as("cnt"))
      val census = grid.agg(count(lit(1)).as("n_cells"),
        sum(col("cnt")).as("grid_total"))
      val probe = counts.filter(col("epoch") <= v)
        .groupBy(col("term")).agg(sum(col("n")).as("true_n"))
        .orderBy(col("true_n").desc, col("term")).limit(k)
        .withColumn("i", explode(sequence(lit(0), lit(depth - 1))))
        .select(col("term"), col("true_n"),
          col("i"), cmBucket(col("i"), col("term"), width))
        .join(broadcast(grid), Seq("i", "bucket"), "left")
        .groupBy(col("term"), col("true_n"))
        .agg(min(coalesce(col("cnt"), lit(0L))).as("est_n"))
      probe.crossJoin(broadcast(census))
        .select(lit(v.toLong).as("version"), col("term"), col("true_n"),
          col("est_n"), col("n_cells"), col("grid_total"))
    }.reduce(_ unionAll _)
      .orderBy(col("version"), col("true_n").desc, col("term"))
  }

  /** The oracled audit of [[psiStream]]'s retained versions —
    * completing the promotion of all FOUR sketch streams' versioned
    * exactly-once contracts from spec-only to cross-engine-oracled
    * (the cdc_snapshot_versions pattern). The histogram fold is
    * LOSSLESS (like CM, unlike MG/HLL), so every published value —
    * bin counts, smoothed shares, per-bin PSI terms, the PSI and the
    * drift verdict — replays value-for-value in the oracle.
    *
    * Replay layout: reference = the frozen epoch-0 slice of an
    * `event_id % epochs` split (the stream's fixed-up-front
    * reference window); version v = the cumulative current histogram
    * over epochs 1..v, re-derived through the SAME
    * [[graft.ops.Analytics.psiFromCounts]] the stream publishes.
    * ONE corpus-scale pass builds the (epoch, bin) count frame
    * (≤ epochs·10 rows); each version is a filter+sum over it, and
    * psiFromCounts' unpartitioned window runs over 10 bins per
    * version — bounded by construction. */
  def psiVersionsBatch(s: SparkSession, d: String, epochs: Int = 5,
                       keepVersions: Int = 3): DataFrame = {
    require(epochs >= 2 && keepVersions >= 1 && keepVersions < epochs,
      s"need 1 <= keepVersions < epochs (epoch 0 is the reference): " +
        s"$keepVersions/$epochs")
    val staged = graft.Tables.events(s, d).select(
      (col("event_id") % epochs).as("epoch"),
      round(col("value"), 4).cast("double").as("x"))
    val dec = staged.filter(col("epoch") === 0)
      .agg(expr(
        "percentile(x, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))")
        .as("ts"))
      .select((1 to 9).map(i =>
        round(element_at(col("ts"), i), 4).as(s"t$i")): _*)
    val bin = (1 to 9).map(k =>
      (col("x") > col(s"t$k")).cast("long")).reduce(_ + _)
    val counts = staged.crossJoin(broadcast(dec))
      .withColumn("bin", bin)
      .groupBy(col("epoch"), col("bin"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(false)
    val bins = s.range(10).select(col("id").as("bin"))
    (epochs - keepVersions until epochs).map { v =>
      val cnt = counts.filter(col("epoch") <= v)
        .groupBy(col("bin"))
        .agg(sum(when(col("epoch") === 0, col("n")).otherwise(0L))
          .as("n_ref"),
          sum(when(col("epoch") > 0, col("n")).otherwise(0L))
            .as("n_cur"))
      val full = bins.join(cnt, Seq("bin"), "left")
        .select(col("bin"),
          coalesce(col("n_ref"), lit(0L)).as("n_ref"),
          coalesce(col("n_cur"), lit(0L)).as("n_cur"))
      graft.ops.Analytics.psiFromCounts(full)
        .select(lit(v.toLong).as("version") +:
          Seq("bin", "n_ref", "n_cur", "p_ref", "p_cur",
            "psi_term", "psi", "drift").map(col): _*)
    }.reduce(_ unionAll _)
      .orderBy(col("version"), col("bin"))
  }

  /** The oracled audit of [[hllStream]]'s retained versions: per
    * (version, event_type), the exact distinct-user count over
    * epochs 0..k (oracle-replayable) beside a within-tolerance
    * verdict on the UNION-FOLDED sketch estimate (per-epoch
    * sketches merged through hll_union_agg — the stream's register-
    * wise-max path, not the one-shot aggregate). The estimate itself
    * is sketch-internal (coupon promotion differs through a union),
    * so it surfaces only through the verdict, pinned TRUE in the
    * oracle at 5·rsd — the q_distinct_approx posture. */
  def hllVersionsBatch(s: SparkSession, d: String, epochs: Int = 5,
                       keepVersions: Int = 3, lgK: Int = 12): DataFrame = {
    require(epochs >= 1 && keepVersions >= 1 && keepVersions <= epochs,
      s"need 1 <= keepVersions <= epochs: $keepVersions/$epochs")
    val rsd = 1.04 / math.sqrt((1L << lgK).toDouble)
    val ev = graft.Tables.events(s, d)
      .select((col("event_id") % epochs).as("epoch"),
        col("event_type"), col("user_id"))
    // TWO corpus passes TOTAL (was two per retained version): the
    // per-(event_type, epoch) sketches are version-independent — each
    // version's union-folded estimate reads the SAME per-epoch sketch
    // bytes it previously recomputed over its prefix — and the exact
    // prefix distinct decomposes by FIRST-SEEN epoch: distinct users
    // in epochs 0..v ≡ users whose min(epoch) ≤ v, so one
    // (event_type, user_id) pass + a (event_type, first_epoch) rollup
    // replaces a full countDistinct shuffle per version. Both
    // summaries are event_types × epochs sized; the checkpoints make
    // the per-version legs read them instead of re-deriving.
    val skPerEpoch = ev.groupBy(col("event_type"), col("epoch"))
      .agg(hll_sketch_agg(col("user_id"), lgK).as("sk"))
      .localCheckpoint(false)
    val firstSeen = ev.groupBy(col("event_type"), col("user_id"))
      .agg(min(col("epoch")).as("fe"))
      .groupBy(col("event_type"), col("fe"))
      .agg(count(lit(1)).as("nu"))
      .localCheckpoint(false)
    (epochs - keepVersions until epochs).map { v =>
      val folded = skPerEpoch.filter(col("epoch") <= v)
        .groupBy(col("event_type"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("__est"))
      firstSeen.filter(col("fe") <= v)
        .groupBy(col("event_type"))
        .agg(sum(col("nu")).as("exact_users"))
        .join(folded, "event_type")
        .select(lit(v.toLong).as("version"), col("event_type"),
          col("exact_users"),
          (abs(col("__est") - col("exact_users")).cast("double") <=
            greatest(lit(5 * rsd) * col("exact_users"), lit(5.0)))
            .as("within_tol"))
    }.reduce(_ unionAll _)
      .orderBy(col("version"), col("event_type"))
  }
}
