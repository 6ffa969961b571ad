package graft

import graft.etl.Mapping
import graft.sources.Sources
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

class SourcesSpec extends SparkSpec {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-io").toString

  test("CSV source: header + schema roundtrip matches the parquet original") {
    val dir = tmp()
    val orders = Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    orders.write.mode("overwrite").option("header", "true").csv(dir)
    val back = Sources.readCsv(spark, dir, orders.schema)
    assert(back.count() === orders.count())
    val a = orders.orderBy("o_orderkey").collect().map(_.toString)
    val b = back.orderBy("o_orderkey").collect().map(_.toString)
    assert(a.sameElements(b))
  }

  test("reference ETL pipeline shape: csv -> applyMapping -> tagged parquet") {
    val dir = tmp()
    Tables.events(spark, sf)
      .select(col("event_id"), col("ts").cast("string").as("event_time"),
        col("user_id"), col("event_type"))
      .write.mode("overwrite").option("header", "true").csv(s"$dir/raw")
    // the declared-schema read: every raw column lands as a string and
    // applyMapping owns the casts
    val raw = Sources.readCsv(spark, s"$dir/raw", StructType(
      Seq("event_id", "event_time", "user_id", "event_type")
        .map(StructField(_, StringType))))
    val mapped = Mapping.applyMapping(raw, Seq(
      ("event_id", "event_id", "long"),
      ("event_time", "event_ts", "timestamp"),
      ("user_id", "user_id", "long")))
      .withColumn("type", lit("events"))
    Sources.writePartitioned(mapped, s"$dir/canonical", Seq("type"))
    val back = Sources.readPartitioned(spark, s"$dir/canonical")
    assert(back.count() === Tables.events(spark, sf).count())
    assert(back.schema("event_ts").dataType.typeName.startsWith("timestamp"))
  }

  test("partitioned sink: partition filter prunes the file scan") {
    val dir = tmp()
    Sources.writePartitioned(
      Tables.events(spark, sf).withColumn("day", to_date(col("ts"))),
      dir, Seq("event_type"))
    val pruned = Sources.readPartitioned(spark, dir)
      .filter(col("event_type") === "click")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(pruned.count() ===
      Tables.events(spark, sf).filter(col("event_type") === "click").count())
    // partition pruning shows up as a pushed partition filter in the scan
    assert(plan.contains("PartitionFilters") || plan.contains("partitionFilters"))
  }

  test("stats manifest: pruned read opens only intersecting files, " +
       "returns exactly the full-scan answer, empty range keeps schema") {
    import org.apache.spark.sql.functions._
    val dir = tmp() + "/data"
    // range-partitioned on value => per-file envelopes are tight
    Sources.writeSorted(Tables.events(spark, sf)
      .select(col("event_id"), col("value")), dir,
      Seq("value"), numFiles = 4)
    Sources.writeStatsManifest(spark, dir, Seq("value"))
    val manifest = spark.read.parquet(s"$dir/_manifest")
    assert(manifest.count() === 4)
    // a narrow slice: compare against the unpruned answer
    val full = spark.read.parquet(dir)
      .filter(col("value") >= 10.0 && col("value") <= 20.0)
    val pruned = Sources.readPruned(spark, dir, "value", 10.0, 20.0)
    assert(pruned.count() === full.count())
    assert(full.count() > 0, "slice must be non-trivial")
    // the pruned plan must read FEWER files than exist
    val touched = pruned.select(input_file_name()).distinct().count()
    assert(touched < 4, s"pruning must skip files, touched=$touched")
    // manifest rows agree with per-file truth: global min/max recover
    val g = manifest.agg(min(col("min_value")), max(col("max_value")))
      .collect().head
    val t = spark.read.parquet(dir).agg(min(col("value")), max(col("value")))
      .collect().head
    assert(g.getDouble(0) === t.getDouble(0) && g.getDouble(1) === t.getDouble(1))
    // a range beyond the data: zero rows, schema intact, no data scan
    val empty = Sources.readPruned(spark, dir, "value", 1e12, 2e12)
    assert(empty.count() === 0)
    assert(empty.columns.toSeq === Seq("event_id", "value"))
    // hidden _manifest dir must stay invisible to plain data reads
    assert(spark.read.parquet(dir).columns.toSeq === Seq("event_id", "value"))
  }

  test("stats manifest: a file appended after the manifest write " +
       "fails the pruned read loudly until the manifest is rewritten") {
    import org.apache.spark.sql.functions._
    val dir = tmp() + "/stale"
    Sources.writeSorted(Tables.events(spark, sf)
      .select(col("event_id"), col("value")), dir,
      Seq("value"), numFiles = 2)
    Sources.writeStatsManifest(spark, dir, Seq("value"))
    // sanity: fresh manifest serves the pruned read
    assert(Sources.readPruned(spark, dir, "value", 0.0, 1e9).count() > 0)
    // a writer appends a file the manifest has never seen — every
    // pruned read would silently miss its rows, so it must THROW
    spark.range(1).select(lit(999999L).as("event_id"),
      lit(15.0).as("value")).write.mode("append").parquet(dir)
    val e = intercept[IllegalStateException] {
      Sources.readPruned(spark, dir, "value", 10.0, 20.0)
    }
    assert(e.getMessage.contains("STALE"))
    // rewriting the manifest re-covers the directory and the read
    // now includes the appended row
    Sources.writeStatsManifest(spark, dir, Seq("value"))
    val again = Sources.readPruned(spark, dir, "value", 10.0, 20.0)
    assert(again.filter(col("event_id") === 999999L).count() === 1)
  }

}
