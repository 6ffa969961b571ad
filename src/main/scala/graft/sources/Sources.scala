package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Sources and sinks — the reference's I/O surface re-expressed:
  * headered CSV in (2019reinvent_green.py:19-23 reads
  * format="csv", withHeader), normalized parquet out with source
  * partitioning (2019reinvent_green.py:53 writes parquet; partition
  * columns make the downstream scans prunable, which the reference
  * approximates with per-source S3 prefixes).
  */
object Sources {

  /** Headered CSV with explicit schema (production path: schema is
    * declared, not inferred, so ingest does not pay a discovery pass
    * and type drift fails fast). */
  def readCsv(s: SparkSession, path: String, schema: StructType): DataFrame =
    s.read.option("header", "true").schema(schema).csv(path)

  /** Headered CSV with schema inference — the "crawler" convenience
    * path for discovery work (costs one extra pass over the data). */
  def readCsvInferred(s: SparkSession, path: String): DataFrame =
    s.read.option("header", "true").option("inferSchema", "true").csv(path)

  /** Partitioned parquet sink. Partition columns become directory
    * keys so downstream readers get partition pruning for free;
    * maxRecordsPerFile bounds file sizes at scale. */
  def writePartitioned(df: DataFrame, path: String,
                       partitionCols: Seq[String],
                       maxRecordsPerFile: Long = 5000000L): Unit =
    df.write
      .mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Read back a partitioned dataset; filters on partition columns
    * prune directories before any file is opened. */
  def readPartitioned(s: SparkSession, path: String): DataFrame =
    s.read.parquet(path)

  /** JSON-Lines source with declared schema — the interchange format
    * document corpora actually ship in. Schema declared, not
    * inferred: corrupt lines land in the permissive-mode corrupt
    * record column instead of failing the scan or silently flipping
    * column types at 100 TB. */
  def readJsonl(s: SparkSession, path: String, schema: StructType): DataFrame =
    s.read.schema(schema).option("mode", "PERMISSIVE").json(path)

  /** JSON-Lines sink, one JSON object per line, optionally
    * partitioned — the dataset-export face ([[graft.ops.TimeSeriesOps
    * .deeparExport]] produces the same shape row-wise). */
  def writeJsonl(df: DataFrame, path: String,
                 partitionCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .json(path)
  }

  /** ORC face of the partitioned sink/source pair — same pruning
    * contract as parquet, for stacks standardized on ORC. */
  def writeOrc(df: DataFrame, path: String,
               partitionCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .orc(path)
  }

  def readOrc(s: SparkSession, path: String): DataFrame = s.read.orc(path)

  /** Raw-blob ingestion via Spark's `binaryFile` source — how media
    * payloads (images/audio/video) ENTER the engine before the
    * [[graft.ops.MultimodalOps]] codecs take over: one row per file
    * with (path, modificationTime, length, content), read lazily and
    * split across executors by file. `pathGlobFilter` prunes at the
    * LISTING (a directory of mixed media never materializes the
    * formats a job doesn't want), and `maxBytes` guards the executor
    * heap against a rogue multi-GB object in a bucket of thumbnails —
    * the file-level analogue of the codecs' hostile-dims drop: filter,
    * don't throw. At 100 TB the source parallelizes by file count, so
    * it pairs with [[compact]]-style small-file hygiene upstream. */
  def readBinaryFiles(s: SparkSession, path: String,
                      glob: String = "*",
                      maxBytes: Long = 64L * 1024 * 1024): DataFrame =
    s.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(path)
      .filter(col("length") <= maxBytes)

  /** Schema-evolved parquet read: a long-lived dataset accretes
    * columns over the years; mergeSchema reconciles every file's
    * footer into the union schema (old files surface the new columns
    * as null). Costs a footer pass over all files — use for
    * discovery/backfill reads, not the hot path (declare the target
    * schema there instead). */
  def readEvolved(s: SparkSession, path: String): DataFrame =
    s.read.option("mergeSchema", "true").parquet(path)

  /** Schema drift audit — the check a long-lived ingest runs BEFORE
    * trusting [[readEvolved]]'s silent union: what exactly changed
    * between the schema we ingested yesterday and today's files?
    * Returns one row per differing column: `added` (new column),
    * `removed` (dropped — readers relying on it break), `retyped`
    * (same name, different type — the dangerous one: mergeSchema
    * REFUSES incompatible types at read time, so catching it at
    * audit time is what keeps the pipeline's failure in the gate
    * instead of 3 am), and `nullability` (required → nullable is the
    * quiet one: the read succeeds, then a downstream NOT NULL
    * assumption breaks on the first null). Name matching is
    * case-sensitive like Spark's parquet resolution; top-level fields
    * only — nested drift surfaces as a `retyped` struct column, which
    * is the actionable signal (the fix is a declared schema either
    * way). Pure driver metadata — no data is read. */
  def schemaDiff(before: org.apache.spark.sql.types.StructType,
                 after: org.apache.spark.sql.types.StructType): Seq[(String, String, String, String)] = {
    val b = before.fields.map(f => f.name -> f).toMap
    val a = after.fields.map(f => f.name -> f).toMap
    val added = after.fields.filterNot(f => b.contains(f.name))
      .map(f => (f.name, "added", "", f.dataType.simpleString))
    val removed = before.fields.filterNot(f => a.contains(f.name))
      .map(f => (f.name, "removed", f.dataType.simpleString, ""))
    val retyped = before.fields.flatMap { f =>
      a.get(f.name).filter(_.dataType != f.dataType)
        .map(g => (f.name, "retyped",
          f.dataType.simpleString, g.dataType.simpleString))
    }
    def nl(nullable: Boolean) = if (nullable) "nullable" else "required"
    // reported for same-type fields only: a retyped column's
    // nullability is subsumed by the retype finding
    val nullability = before.fields.flatMap { f =>
      a.get(f.name)
        .filter(g => g.dataType == f.dataType && g.nullable != f.nullable)
        .map(g => (f.name, "nullability", nl(f.nullable), nl(g.nullable)))
    }
    (added ++ removed ++ retyped ++ nullability)
      .sortBy(r => (r._1, r._2)).toSeq
  }

  /** Persist a discovered dataset in the session catalog — the
    * crawler→catalog step of the reference (a Glue crawler registers
    * inferred schemas as tables other tools then query by name). The
    * table is EXTERNAL (`LOCATION` points at the files in place, no
    * copy) and registration is idempotent; with a shared metastore the
    * same call makes the dataset queryable across sessions/teams. */
  def registerTable(s: SparkSession, name: String, path: String,
                    format: String = "parquet"): DataFrame = {
    s.sql(s"CREATE TABLE IF NOT EXISTS `$name` USING $format LOCATION '$path'")
    s.table(name)
  }

  /** Small-file compaction — the table-maintenance pass every
    * long-lived ingest needs: streaming/incremental writers
    * accumulate files far below the efficient scan size, and at
    * 100 TB the resulting open/seek overhead and scheduler pressure
    * (one task per tiny file) dominate scan cost. Sizes the output by
    * BYTES (summed from the file listing — only the listing touches
    * the driver, never data), targets `targetFileBytes` per output
    * file, and rewrites to `outPath` via one round-robin
    * repartition. Returns the output file count. Writing to a fresh
    * path (swap-on-success) rather than in place keeps the source
    * readable throughout — the overwrite-while-reading pattern
    * corrupts a dataset if the job dies mid-write. */
  def compact(s: SparkSession, inPath: String, outPath: String,
              targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    require(targetFileBytes > 0, s"targetFileBytes must be > 0: $targetFileBytes")
    val path = new org.apache.hadoop.fs.Path(inPath)
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    // the fresh-path guarantee must be enforced, not just documented:
    // compacting a path onto itself — or into a path NESTED under the
    // tree being read (the recursive listing would sum the output's
    // own files on a re-run, and readers of inPath would see the rows
    // twice) — is the overwrite-while-reading corruption pattern
    val qIn = fs.makeQualified(path)
    val qOut = fs.makeQualified(new org.apache.hadoop.fs.Path(outPath))
    def isAncestor(anc: org.apache.hadoop.fs.Path,
                   p: org.apache.hadoop.fs.Path): Boolean = {
      var cur = p.getParent
      while (cur != null) { if (cur == anc) return true; cur = cur.getParent }
      false
    }
    require(qIn != qOut && !isAncestor(qIn, qOut) && !isAncestor(qOut, qIn),
      s"compact must write to a fresh path outside the input tree, " +
        s"got inPath=$qIn outPath=$qOut")
    val it = fs.listFiles(path, true)
    var bytes = 0L
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (!name.startsWith("_") && !name.startsWith(".")) bytes += f.getLen
    }
    val nFiles = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)
      .min(Int.MaxValue).toInt
    s.read.parquet(inPath).repartition(nFiles)
      .write.mode("overwrite").parquet(outPath)
    nFiles
  }

  /** Sorted data layout — the read-side half of the 100 TB posture
    * that partitioning and bucketing don't cover: cluster the rows so
    * range/point predicates on the sort columns skip most of the data
    * WITHOUT any engine-side index.
    *
    * `repartitionByRange` makes files globally disjoint on the sort
    * key and `sortWithinPartitions` makes every parquet ROW GROUP's
    * min/max stats a tight, monotone interval — so the reader's
    * pushed predicate (parquet-mr row-group pruning against those
    * stats) skips whole row groups, and at cluster scale whole files.
    * On a random layout every row group spans the full value range
    * and min/max pruning can never reject anything; sorting is what
    * turns the stats parquet already writes into an effective skip
    * index. LayoutSpec measures exactly this: same data, same filter,
    * scanned-row counts orders of magnitude apart.
    *
    * `writerOptions` passes parquet knobs (e.g. `parquet.block.size`
    * to size row groups = the skipping granularity). */
  def writeSorted(df: DataFrame, path: String, sortCols: Seq[String],
                  numFiles: Int = 0,
                  writerOptions: Map[String, String] = Map.empty): Unit = {
    require(sortCols.nonEmpty, "writeSorted needs at least one sort column")
    val cols = sortCols.map(org.apache.spark.sql.functions.col)
    val ranged =
      if (numFiles > 0) df.repartitionByRange(numFiles, cols: _*)
      else df.repartitionByRange(cols: _*)
    ranged.sortWithinPartitions(cols: _*)
      .write.mode("overwrite").options(writerOptions).parquet(path)
  }

  /** Multi-column data skipping: Z-ORDER layout. A linear sort
    * ([[writeSorted]]) gives tight row-group min/max on its LEADING
    * column only — a predicate on any other clustered column still
    * scans everything, because every row group spans that column's
    * full range. Interleaving the bits of each column's normalized
    * code into one z-value and sorting by THAT maps each row group to
    * a compact cell of the multi-dimensional space, so min/max stats
    * become selective for EVERY z-column at once (each column's range
    * within a group shrinks ~K^(1/d) instead of not at all).
    *
    * Two code schemes, same interleave and layout machinery:
    *  - `"rank"` (default): approx-QUANTILE range ids — one
    *    approxQuantile sketch pass over the z columns, codes =
    *    equal-POPULATION ranges, the scheme table formats' OPTIMIZE
    *    implementations use. Skew-robust: a heavy-tailed column still
    *    spreads its bulk across the full code space, because codes
    *    follow the distribution, not the value range.
    *  - `"minmax"`: min/max-normalized codes from one broadcast stats
    *    aggregate — cheapest (no sketch), correct for roughly uniform
    *    columns, but skew-SENSITIVE: one far outlier stretches the
    *    value range until the bulk collapses into code 0 and that
    *    column's clustering quietly degrades to nothing (LayoutSpec
    *    measures exactly this degradation).
    *
    * Either way two passes total (stats/sketch + write), no extra
    * shuffle beyond the range partition the write needs anyway; the
    * interleave itself is plain shift/or arithmetic, fully codegen'd.
    * `rankRelErr` bounds the quantile sketch error (finer costs more
    * sketch memory; boundaries closer than the error collapse, which
    * only coarsens codes, never corrupts them).
    *
    * Numeric columns only (cast to double for normalization). */
  def writeZOrdered(df: DataFrame, path: String, zCols: Seq[String],
                    numFiles: Int = 0, bitsPerCol: Int = 16,
                    writerOptions: Map[String, String] = Map.empty,
                    codeScheme: String = "rank",
                    rankRelErr: Double = 0.001): Unit = {
    require(zCols.size >= 2, "z-order needs at least 2 columns (use writeSorted for 1)")
    require(bitsPerCol > 0 && zCols.size * bitsPerCol <= 63,
      s"${zCols.size} cols × $bitsPerCol bits must fit a signed long")
    require(Seq("rank", "minmax").contains(codeScheme),
      s"codeScheme must be rank|minmax: $codeScheme")
    val maxCode = (1L << bitsPerCol) - 1

    val coded: DataFrame = codeScheme match {
      case "minmax" =>
        // stats over FINITE values only: max() ranks NaN above
        // everything, so one NaN row would make hi = NaN and every
        // row's code NaN→0 — silently degrading this column's
        // clustering to nothing
        def finite(c: String): Column = {
          val v = col(c).cast("double")
          when(!isnan(v), v)
        }
        val aggCols = zCols.flatMap(c =>
          Seq(min(finite(c)).as(s"__lo_$c"), max(finite(c)).as(s"__hi_$c")))
        val stats = df.agg(aggCols.head, aggCols.tail: _*)
        // per-column code: floor((v-lo)/(hi-lo) * maxCode), clamped; a
        // constant column (hi == lo) codes to 0, and NULL/NaN values
        // code to 0 EXPLICITLY (they cluster together at the curve's
        // origin — defined behavior, not a collapsed layout)
        def code(c: String): Column =
          when(col(c).isNull || isnan(col(c).cast("double")) ||
              col(s"__hi_$c") <=> col(s"__lo_$c"), lit(0L))
            .otherwise(least(lit(maxCode), greatest(lit(0L),
              floor((col(c).cast("double") - col(s"__lo_$c")) * maxCode /
                (col(s"__hi_$c") - col(s"__lo_$c"))).cast("long"))))
        df.crossJoin(broadcast(stats))
          .select(df.columns.map(col) ++
            zCols.map(c => code(c).as(s"__code_$c")): _*)

      case "rank" =>
        require(bitsPerCol <= 16,
          s"rank codes probe 2^bits quantiles — cap bitsPerCol at 16, got $bitsPerCol")
        val nCodes = 1 << bitsPerCol
        val probs = (1 until nCodes).map(_.toDouble / nCodes).toArray
        // one sketch pass over all z columns (nulls and NaNs are
        // excluded from the sketch; they code to 0 below, the same
        // origin-clustering contract as minmax)
        val dfd = df.select(zCols.map(c => col(c).cast("double").as(c)): _*)
        val bounds = dfd.stat.approxQuantile(zCols.toArray, probs, rankRelErr)
        val splitsArr = zCols.indices.map { i =>
          val ds = bounds(i).distinct.sorted
          val mids = if (ds.isEmpty) Array(0.0) else ds
          (Double.NegativeInfinity +: mids :+ Double.PositiveInfinity).toArray
        }.toArray
        // null/NaN → -Inf so the binary search lands them in bucket 0
        val safe = zCols.foldLeft(df) { (acc, c) =>
          acc.withColumn(s"__v_$c",
            when(col(c).isNull || isnan(col(c).cast("double")),
              lit(Double.NegativeInfinity))
              .otherwise(col(c).cast("double")))
        }
        // MLlib's Bucketizer = native binary search over the boundary
        // array (O(bits) per row), the right tool for arbitrary splits
        val buck = new org.apache.spark.ml.feature.Bucketizer()
          .setInputCols(zCols.map(c => s"__v_$c").toArray)
          .setOutputCols(zCols.map(c => s"__rk_$c").toArray)
          .setSplitsArray(splitsArr)
        buck.transform(safe)
          .select(df.columns.map(col) ++
            zCols.map(c => least(lit(maxCode),
              col(s"__rk_$c").cast("long")).as(s"__code_$c")): _*)
    }

    // interleave: bit i of column j lands at position i*d + j, so the
    // HIGH bits of every column share the top of the z-value — the
    // property that makes the curve locality-preserving
    val d = zCols.size
    val zExpr = (0 until bitsPerCol).foldLeft(lit(0L)) { (acc, i) =>
      zCols.zipWithIndex.foldLeft(acc) { case (a, (c, j)) =>
        a.bitwiseOR(shiftleft(
          shiftright(col(s"__code_$c"), i).bitwiseAND(lit(1L)),
          i * d + j))
      }
    }
    val z = coded.withColumn("__z", zExpr)
    val ranged =
      if (numFiles > 0) z.repartitionByRange(numFiles, col("__z"))
      else z.repartitionByRange(col("__z"))
    ranged.sortWithinPartitions(col("__z"))
      .select(df.columns.map(col): _*)
      .write.mode("overwrite").options(writerOptions).parquet(path)
  }

  /** Bucketed + sorted table: rows are hash-bucketed on the join key
    * at write time, so equi-joins and aggregations between tables
    * bucketed the same way need no shuffle at read time — the
    * pre-partitioning strategy for fact-fact joins at scale. */
  def writeBucketed(df: DataFrame, table: String, path: String,
                    bucketCol: String, numBuckets: Int = 8): Unit =
    df.write
      .mode("overwrite")
      .option("path", path)
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  /** EXTERNAL per-file min/max stats manifest — the table-format
    * data-skipping pattern (Iceberg manifests / Delta add-file
    * stats) built on plain parquet: parquet footers already carry
    * row-group min/max, but the ENGINE must still open every file's
    * footer to use them, and at 100 TB "open every footer" is
    * millions of S3 reads per query. A manifest is one tiny
    * side-table read FIRST, so planning touches exactly one object
    * and the scan's file list shrinks before Spark ever lists the
    * data directory.
    *
    * [[writeStatsManifest]] derives the manifest FROM the written
    * files (one distributed pass grouped by `input_file_name`, never
    * a footer walk on the driver): per file, min/max of each tracked
    * column + row count, written as `_manifest` parquet beside the
    * data. Pairs with [[writeSorted]]/[[writeZOrdered]]: layout
    * decides how TIGHT the per-file ranges are; the manifest is what
    * makes them actionable without touching data files.
    *
    * [[readPruned]] plans a range predicate `lo ≤ col ≤ hi` against
    * the manifest (a manifest-row filter — file-cardinality, reads
    * on the driver in one small action), then reads ONLY the
    * surviving files; the residual per-row filter still applies, so
    * pruning is a pure I/O optimization, never a correctness change.
    * An empty survivor set short-circuits to an empty frame with the
    * data schema (read from the manifest's recorded sample file).
    *
    * Staleness is a hard error, not a silent wrong answer: a data
    * file written AFTER the manifest would be invisible to every
    * pruned read (the manifest IS the file list), so [[readPruned]]
    * first reconciles the directory listing against the manifest's
    * file set and refuses to serve from a manifest that no longer
    * covers the directory (the schemaDiff fail-loudly posture). The
    * listing is the same single directory scan Spark's own planner
    * would do — no extra I/O class. */
  def writeStatsManifest(s: SparkSession, dataPath: String,
                         statsCols: Seq[String]): Unit = {
    require(statsCols.nonEmpty, "need at least one stats column")
    val df = s.read.parquet(dataPath)
    val aggs = statsCols.flatMap { c => Seq(
      min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")) } :+
      count(lit(1)).as("n_rows")
    // eager file-cardinality checkpoint: the row-derived stats feed
    // both union branches below — without it the data would scan twice
    val stats = df.groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .localCheckpoint()
    // a ZERO-ROW part file produces no input_file_name() group, so the
    // row-derived pass alone under-covers the directory — and an
    // uncovered file is exactly what readPruned's staleness check
    // refuses to serve. Union in the listed-but-rowless files with
    // n_rows=0 and NULL envelopes (a NULL envelope never intersects a
    // range, which is correct: there are no rows to miss). Matching is
    // by basename — input_file_name() URIs and listing paths can spell
    // scheme/authority differently.
    val dirPath = new org.apache.hadoop.fs.Path(dataPath)
    val listed = dirPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      .listStatus(dirPath).filter(_.isFile).map(_.getPath.toString)
      .filter { p =>
        val n = new org.apache.hadoop.fs.Path(p).getName
        n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      }
    val baseName = (c: Column) => element_at(split(c, "/"), -1)
    val listedDf = s.createDataset(listed.toSeq)(
      org.apache.spark.sql.Encoders.STRING).toDF("file")
    val rowless = listedDf.join(
        stats.select(baseName(col("file")).as("__b")),
        baseName(listedDf("file")) === col("__b"), "left_anti")
      .select(col("file") +: stats.schema.fields.filter(_.name != "file")
        .map(f => (if (f.name == "n_rows") lit(0L) else lit(null))
          .cast(f.dataType).as(f.name)).toSeq: _*)
    stats.unionByName(rowless)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dataPath/_manifest")
  }

  /** Range-pruned read via the manifest (see [[writeStatsManifest]]).
    * Returns the filtered frame; only files whose [min,max] envelope
    * intersects [lo,hi] are opened. */
  def readPruned(s: SparkSession, dataPath: String, column: String,
                 lo: Any, hi: Any): DataFrame = {
    val manifest = s.read.parquet(s"$dataPath/_manifest")
    // file-cardinality driver actions: the manifest IS the plan input
    // (the same role Iceberg's manifest list plays) — this is not a
    // data-sized collect
    val manifestNames = manifest.select(col("file")).collect()
      .map(r => new org.apache.hadoop.fs.Path(r.getString(0)).getName).toSet
    // staleness reconciliation: compare the directory's ACTUAL data
    // files (by basename — input_file_name() records full URIs whose
    // scheme/authority spelling can differ from the listing's) against
    // the manifest's file set; any uncovered file means the manifest
    // predates a write and pruning would silently drop its rows
    val dirPath = new org.apache.hadoop.fs.Path(dataPath)
    val fsys = dirPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    val listed = fsys.listStatus(dirPath).filter(_.isFile)
      .map(_.getPath.getName)
      .filter(n => n.endsWith(".parquet") && !n.startsWith("_") &&
        !n.startsWith("."))
    val uncovered = listed.filterNot(manifestNames.contains)
    if (uncovered.nonEmpty) throw new IllegalStateException(
      s"stats manifest at $dataPath/_manifest is STALE: " +
        s"${uncovered.length} data file(s) not covered (e.g. " +
        s"${uncovered.take(3).mkString(", ")}) — rewrite it with " +
        "writeStatsManifest before pruned reads")
    val files = manifest
      .filter(col(s"max_$column") >= lit(lo) &&
        col(s"min_$column") <= lit(hi))
      .select(col("file")).collect().map(_.getString(0))
    val residual = (c: DataFrame) =>
      c.filter(col(column) >= lit(lo) && col(column) <= lit(hi))
    if (files.isEmpty) {
      // preserve the data schema without scanning data rows
      val sample = manifest.select(col("file")).limit(1)
        .collect().headOption.map(_.getString(0))
      sample match {
        case Some(f) => residual(s.read.parquet(f)).limit(0)
        case None => throw new IllegalStateException(
          s"empty manifest at $dataPath/_manifest")
      }
    } else residual(s.read.parquet(files: _*))
  }

  /** The data-skipping claim as an ORACLED registry entry (round 16,
    * VERDICT r15 ask #7 — [[writeSorted]]/[[writeStatsManifest]]/
    * [[readPruned]] proved pruning in LayoutSpec only; this promotes
    * the layout family into the cross-engine-verified registry):
    * stage lineitem quantized ([[graft.etl.Mapping.tableChecksum]]'s
    * doubles-are-the-caller's-contract rule: q100/epm integer
    * micro-units), write it RANGE-SORTED on q100, manifest it, then
    * read the [loQ, hiQ] band twice — once through the pruned path
    * (manifest envelope gate + residual filter, opening only
    * intersecting files) and once as the plain filtered full scan of
    * the PRE-LAYOUT frame — and publish both checksums. The oracle
    * recomputes the band's checksum from the raw table, knowing
    * nothing of the layout, the manifest, or the file boundary, so
    * triple hash equality proves pruned read ≡ full-scan filter ≡
    * raw recompute. Scale shape: the layout write is the range
    * shuffle the sorted table needs anyway, the manifest pass is one
    * scan, both checksum aggregates are map-side-combinable
    * one-row folds; working files land in a per-invocation temp dir
    * reclaimed before returning (the dailyE2e posture — the 2-row
    * audit is materialized first). */
  def prunedChecksum(s: SparkSession, d: String,
                     loQ: Long = 1000L, hiQ: Long = 2000L,
                     numFiles: Int = 8): DataFrame = {
    val tmp = graft.TempDirs.create("graft_layout_gate_")
    try {
      val path = s"$tmp/li_sorted"
      val staged = graft.Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        round(col("l_quantity") * 100).cast("long").as("q100"),
        round(col("l_extendedprice") * 10000).cast("long").as("epm"))
      writeSorted(staged, path, Seq("q100"), numFiles)
      writeStatsManifest(s, path, Seq("q100"))
      val pruned = readPruned(s, path, "q100", loQ, hiQ)
      val fullFiltered = staged
        .filter(col("q100") >= loQ && col("q100") <= hiQ)
      val cols = Seq(col("l_orderkey"), col("l_linenumber"),
        col("q100"), col("epm"))
      val audit = graft.etl.Mapping
        .tableChecksum(fullFiltered, cols, "full_filtered")
        .unionByName(graft.etl.Mapping
          .tableChecksum(pruned, cols, "pruned_read"))
        .orderBy(col("tbl"))
      val rows = audit.collect() // 2 rows by construction
      import scala.jdk.CollectionConverters._
      s.createDataFrame(rows.toSeq.asJava, audit.schema)
    } finally graft.TempDirs.delete(tmp)
  }

  /** DuckDB oracle of [[prunedChecksum]]: ONE raw-table recompute of
    * the band's checksum published under both labels — the Spark
    * side computes the two paths independently, so matching this
    * oracle is the equivalence proof. */
  private[graft] def prunedChecksumOracleSql(loQ: Long = 1000L,
                                             hiQ: Long = 2000L): String =
    s"""WITH f AS (SELECT CAST(list_sum([(strpos('0123456789abcdef', h[i]) - 1) *
       |      (CAST(1 AS BIGINT) << (4*(15 - i))) for i in range(1, 16)])
       |      AS BIGINT) AS hv
       |    FROM (SELECT md5(concat_ws('|',
       |        coalesce(CAST(l_orderkey AS VARCHAR), 'null'),
       |        coalesce(CAST(l_linenumber AS VARCHAR), 'null'),
       |        coalesce(CAST(CAST(round(l_quantity * 100) AS BIGINT)
       |          AS VARCHAR), 'null'),
       |        coalesce(CAST(CAST(round(l_extendedprice * 10000) AS BIGINT)
       |          AS VARCHAR), 'null'))) AS h
       |      FROM lineitem
       |      WHERE CAST(round(l_quantity * 100) AS BIGINT)
       |        BETWEEN $loQ AND $hiQ))
       |SELECT 'full_filtered' AS tbl, count(*) AS n_rows,
       |  bit_xor(hv) AS xor_sig,
       |  CAST(sum(CAST(hv AS HUGEINT)) AS VARCHAR) AS sum_sig FROM f
       |UNION ALL
       |SELECT 'pruned_read', count(*), bit_xor(hv),
       |  CAST(sum(CAST(hv AS HUGEINT)) AS VARCHAR) FROM f
       |ORDER BY tbl""".stripMargin
}
