package graft.etl

import graft.Tables
import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The reference's WHOLE pipeline as ONE composed run — the units the
  * registry oracles individually, chained the way the reference
  * chains them (etl/2019reinvent_green.py:19-53 per source, then
  * DataDiscoveryAndConversation.ipynb cell 31's day×type pivot):
  *
  *   per source CSV:  read (headered, declared all-string schema)
  *     → ApplyMapping   (rename + cast the well-formed columns)
  *     → ResolveChoice  (try_cast the dodgy one; bad values → null)
  *     → DropNullFields (the dead legacy column disappears)
  *     → lit type tag   → union
  *   → partitioned parquet sink → read back
  *   → anomalous-timestamp filter → per-day × type pivot (+ fillna 0)
  *
  * The staged sources are derived from the events table so the DuckDB
  * oracle can recompute the final pivot STRAIGHT from events — which
  * makes the oracle a round-trip proof: if any stage (CSV write/read,
  * casts, the partitioned sink) were lossy, the hash would differ.
  * Two deliberately hostile raw columns make the middle stages bite:
  * `amount` carries an unparsable "n/a" for every 97th event (so
  * ResolveChoice's null-fallback shows up in the checked sum) and
  * `legacy_code` is all null (so DropNullFields provably fires —
  * spec-asserted on the curated schema).
  *
  * Scale posture: staging is per-source partitioned CSV; every
  * downstream stage is the same operator the standalone entries run
  * (scan-collapsing projections, one map-side-combinable aggregate
  * pair on the readback, sink partitioned on the tag for pruned
  * consumption). The pivot's value set is declared, so no discovery
  * job runs before the aggregate.
  */
object ReferencePipeline {

  /** The three simulated sources (the reference's green/yellow/fhv). */
  val tags: Seq[String] = Seq("clickview", "txn", "err")

  private def tagOf = when(col("event_type").isin("click", "view"), "clickview")
    .when(col("event_type").isin("purchase", "signup"), "txn")
    .otherwise("err")

  private val rawSchema = StructType(Seq(
    "record_id", "event_time", "rider_id", "amount", "legacy_code")
    .map(StructField(_, StringType)))

  /** Write the three raw CSV sources: all-string columns with
    * source-system names, timestamps as their exact string form
    * (timestamp→string→timestamp is lossless at micros precision),
    * doubles as their shortest round-trip form. */
  private def stageCsv(s: SparkSession, d: String, base: String): Unit = {
    val ev = Tables.events(s, d)
    tags.foreach { tag =>
      ev.filter(tagOf === tag)
        .select(
          col("event_id").cast("string").as("record_id"),
          col("ts").cast("string").as("event_time"),
          col("user_id").cast("string").as("rider_id"),
          when(col("event_id") % 97 === 0, lit("n/a"))
            .otherwise(col("value").cast("string")).as("amount"),
          lit(null).cast("string").as("legacy_code"))
        .write.mode("overwrite").option("header", "true").csv(s"$base/$tag")
    }
  }

  /** One source's ETL — the 2019reinvent_green.py:29-44 stage chain. */
  private[graft] def etlSource(s: SparkSession, path: String, tag: String): DataFrame = {
    val raw = Sources.readCsv(s, path, rawSchema)
    val mapped = Mapping.applyMapping(raw, Seq(
      ("record_id", "event_id", "long"),
      ("event_time", "ts", "timestamp"),
      ("rider_id", "user_id", "long"),
      ("amount", "amount", "string"), // the dodgy column: ResolveChoice's job
      ("legacy_code", "legacy_code", "string")))
    val resolved = Mapping.resolveChoice(mapped, Seq(("amount", "amount", "double")))
    Mapping.dropNullFields(resolved).withColumn("type", lit(tag))
  }

  /** The composed pipeline; returns the final day×type matrix
    * (day, clickview, txn, err, amount_sum). The staged CSV and the
    * curated sink land in a fresh per-invocation temp directory, so
    * concurrent runs never share a path; the matrix (one row per day,
    * bounded by construction) is COLLECTED and re-lifted before the
    * directory is deleted, so repeated invocations in a long-lived
    * process hold no disk (the [[DailyPipeline.dailyE2e]] posture). */
  def run(s: SparkSession, d: String): DataFrame =
    graft.TempDirs.collected("graft_reference_e2e_")(runOn(s, d, _))

  /** The chain body over the working directory `base`; the returned
    * frame reads the curated parquet under `base` lazily. */
  private[graft] def runOn(s: SparkSession, d: String,
                           base: String): DataFrame = {
    stageCsv(s, d, base)
    val curated = tags.map(t => etlSource(s, s"$base/$t", t))
      .reduce(_.unionByName(_))
    Sources.writePartitioned(curated, s"$base/curated", Seq("type"))

    val back = Sources.readPartitioned(s, s"$base/curated")
      // the notebook's anomalous-timestamp gate (cell 30: pickup
      // before 2099-12-31) — a data filter, so it pushes into the scan
      .filter(col("ts") < lit("2099-12-31").cast("timestamp"))
    val counts = back
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .pivot("type", tags).count()
      .na.fill(0L, tags)
    // DECIMAL sum: exact and associative, so 1000-executor partial-agg
    // order can't move the 4dp-rounded total (nulls — the "n/a" rows —
    // are skipped by sum in both engines)
    val amounts = back
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(round(sum(col("amount").cast("decimal(20,10)")).cast("double"), 4)
        .as("amount_sum"))
    counts.join(amounts, Seq("day"))
      .select(col("day"), col("clickview"), col("txn"), col("err"),
        col("amount_sum"))
      .orderBy(col("day"))
  }
}
