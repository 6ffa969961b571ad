package graft

import graft.sources.Sources
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Data-layout evidence: sorting is what turns parquet's min/max row
  * group stats into a skip index. Both layouts below hold IDENTICAL
  * rows and answer the query identically — the only difference is how
  * many rows the reader had to surface to get there, measured from
  * the scan node's own metrics. At 100 TB this gap is the difference
  * between a point-range query touching gigabytes or the full table.
  */
class LayoutSpec extends SparkSpec {

  /** Run the frame and return (result keys, rows the parquet reader
    * actually surfaced after row-group pruning — the scan metric, not
    * the post-filter count). AQE is disabled by the caller so the
    * executed plan is the plain physical tree the scan sits in. */
  private def runAndMeasure(df: DataFrame): (Set[Long], Long) = {
    val keys = df.collect().map(_.getLong(0)).toSet
    val scanned = df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s.metrics("numOutputRows").value
    }.sum
    (keys, scanned)
  }

  test("pruned checksum gate: the pruned path and the full-scan " +
       "filter publish identical signatures, and the working dir is " +
       "reclaimed") {
    val before = Option(new java.io.File("/tmp").listFiles()).toSeq.flatten
      .count(_.getName.startsWith("graft_layout_gate_"))
    val rows = Sources.prunedChecksum(spark, sf).collect()
    assert(rows.length === 2)
    val byTbl = rows.map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(byTbl.keySet === Set("full_filtered", "pruned_read"))
    assert(byTbl("full_filtered") === byTbl("pruned_read"),
      s"pruned read diverged from the filtered full scan: $byTbl")
    assert(byTbl("full_filtered")._1 > 0, "empty band — gate is vacuous")
    // per-invocation working files are reclaimed before return
    val after = Option(new java.io.File("/tmp").listFiles()).toSeq.flatten
      .count(_.getName.startsWith("graft_layout_gate_"))
    assert(after === before, "layout gate leaked its temp dir")
  }

  test("sorted layout: a pushed range predicate skips most row groups") {
    val dir = java.nio.file.Files.createTempDirectory("graft-layout").toString
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // 200k rows whose key ordering is decorrelated from insertion
      // order (hash), so the "as-ingested" layout interleaves the full
      // key range through every file — the shape raw ingest produces
      val data = spark.range(200000).select(
        pmod(xxhash64(col("id")), lit(1000000L)).as("k"),
        col("id").as("payload"))
      // small row groups so the 3 MB corpus has many: the skipping
      // granularity a real table gets from its default 128 MB groups
      val opts = Map(
        "parquet.block.size" -> (64 * 1024).toString,
        "parquet.page.size" -> (8 * 1024).toString)
      data.repartition(4).write.mode("overwrite").options(opts)
        .parquet(s"$dir/ingested")
      Sources.writeSorted(data, s"$dir/sorted", Seq("k"),
        numFiles = 4, writerOptions = opts)

      // ~2% of the key space; the filter must reach the scan on both
      def query(path: String): DataFrame =
        spark.read.parquet(path)
          .filter(col("k") >= 100000L && col("k") < 120000L)

      val plan = query(s"$dir/sorted").queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters:") &&
        plan.contains("GreaterThanOrEqual(k,"), plan.take(2000))

      val (sortedKeys, sortedScanned) = runAndMeasure(query(s"$dir/sorted"))
      val (rawKeys, rawScanned) = runAndMeasure(query(s"$dir/ingested"))

      // identical answers from identical data...
      assert(sortedKeys === rawKeys)
      assert(sortedKeys.nonEmpty)
      // ...but the unsorted layout's row groups all span the full key
      // range — min/max pruning can reject nothing, the reader
      // surfaces every row
      assert(rawScanned === 200000L, s"raw layout scanned $rawScanned")
      // the sorted layout skips the row groups (and, being
      // range-partitioned, 3 of 4 files) outside the predicate — at
      // least 5x less surfaced here; in practice ~30x at this shape
      assert(sortedScanned * 5 < rawScanned,
        s"sorted layout scanned $sortedScanned of $rawScanned")
      // and never fewer rows than actually match (pruning is sound)
      assert(sortedScanned >= sortedKeys.size)
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

}
