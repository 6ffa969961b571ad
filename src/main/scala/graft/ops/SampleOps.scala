package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic hash-based sampling and splitting — the
  * consistent-sampling primitives of a large-scale training-data
  * pipeline. `rand()`-based sampling is neither reproducible across
  * runs nor consistent across tables; hashing a stable key is both:
  * the same document lands in the same sample/split on every run, at
  * every cluster size, and in every derived table keyed by the same
  * id — which is what makes leakage-free train/eval splits and
  * joinable subsamples possible at 100 TB.
  *
  * Rows bucket by the first two hex characters of md5(key): 256
  * uniform buckets, cut by lexicographic comparison on the hex
  * string. md5's hex form is identical in every engine, so the exact
  * bucketing predicate is SQL-portable and the DuckDB oracles share
  * it literally (a numeric xxhash64 cut would be Spark-only). The
  * filter is a row-local projection: it pushes into the scan, needs
  * no shuffle, and composes with any downstream plan. */
object SampleOps {

  /** 00-ff bucket id of a key: uniform 256-way. */
  private def bucket(key: Column): Column =
    substring(md5(key.cast("string")), 1, 2)

  /** The `bucket < bound` predicate for `n` of 256 buckets. n = 256
    * needs an explicit always-true: its hex form "100" is THREE
    * characters and lexicographically below every 2-char bucket. */
  private def below(b: Column, n: Int): Column =
    if (n >= 256) lit(true) else b < lit(f"$n%02x")

  /** Keep `buckets` of the 256 hash buckets (~buckets/256 of rows),
    * deterministically: the same key set survives every run. */
  def sampleByHash(df: DataFrame, key: String, buckets: Int): DataFrame = {
    require(buckets >= 0 && buckets <= 256)
    df.filter(below(bucket(col(key)), buckets))
  }

  /** Stratified deterministic sampling: a per-class bucket quota
    * (class → kept buckets of 256) over the same md5 bucketing —
    * downsample the majority classes of a skewed corpus while
    * keeping rare classes whole, reproducibly. Classes absent from
    * `quotas` keep `defaultBuckets` (0 = drop). Row-local like the
    * flat sample: one CASE over the class column, no shuffle. */
  def sampleStratified(df: DataFrame, key: String, classCol: String,
                       quotas: Map[String, Int],
                       defaultBuckets: Int = 0): DataFrame = {
    require((quotas.values ++ Seq(defaultBuckets)).forall(b => b >= 0 && b <= 256))
    val b = bucket(col(key))
    val cut = quotas.foldLeft(lit(f"$defaultBuckets%02x")) {
      case (acc, (cls, n)) => when(col(classCol) === cls, lit(f"$n%02x")).otherwise(acc)
    }
    // 256 buckets ("100") needs the always-true face, same edge as
    // `below`; comparing against a per-row cut column makes that a
    // row-level condition rather than a plan-time branch
    df.filter(b < cut || cut === lit("100"))
  }

  /** Deterministic dataset MIXING: resample a multi-domain corpus
    * toward a target composition — the "mixture weights" step of
    * training-data assembly (N parts web, M parts wiki, ...), run as
    * one deterministic pass instead of per-domain jobs.
    *
    * For each domain in `shares`, its token of the `totalBudget` is
    * `budget·share/Σshares` rows; the kept fraction is realized as
    * `min(256, 256·desired div count)` of the md5 key buckets —
    * the same row-local, engine-portable predicate the flat sampler
    * uses, so the SAME keys survive on every run and every engine.
    * Domains absent from `shares` are dropped. All sizing arithmetic
    * is BIGINT floor division (no float rates: a double keep-rate
    * would round differently across engines). An over-allocated
    * domain (desired ≥ count) keeps every row — budget is a target
    * composition, not an exact row count; bucket granularity makes
    * achieved counts approximate by ±count/256. A LISTED domain with
    * a positive allocation always keeps ≥ 1 bucket (~count/256 rows):
    * without the floor, `256·desired < count` — a small budget over a
    * huge domain — would floor its cut to 0 buckets and silently
    * erase the domain from the mixture, which is a composition error,
    * not a granularity error. A domain whose allocation rounds to
    * ZERO rows (`share·budget div Σshares = 0`) still drops — that is
    * the caller asking for nothing, not granularity.
    *
    * Plan shape: one map-side-combinable count per domain (output =
    * #domains rows), broadcast back, then a row-local filter — the
    * corpus itself is never shuffled. */
  def mixDomains(df: DataFrame, key: String, domainCol: String,
                 shares: Map[String, Long], totalBudget: Long): DataFrame = {
    require(shares.nonEmpty, "mixDomains needs at least one domain share")
    require(shares.values.forall(_ > 0), s"shares must be positive: $shares")
    require(totalBudget >= 0, s"totalBudget must be >= 0: $totalBudget")
    val sumShares = shares.values.sum
    val shareCol = shares.foldLeft(lit(null).cast("long")) {
      case (acc, (dom, sh)) => when(col(domainCol) === dom, lit(sh)).otherwise(acc)
    }
    val cuts = df.groupBy(col(domainCol)).agg(count(lit(1)).as("__n"))
      .withColumn("__share", shareCol)
      .filter(col("__share").isNotNull)
      .withColumn("__desired",
        expr(s"(__share * ${totalBudget}L) div ${sumShares}L"))
      .withColumn("__buckets",
        when(col("__desired") > 0,
          greatest(lit(1L), least(lit(256L), expr("(256 * __desired) div __n"))))
          .otherwise(lit(0L)))
      .select(col(domainCol), col("__buckets"))
    df.join(broadcast(cuts), domainCol)
      // per-row hex cut, same lexicographic compare as `below`; the
      // 256-bucket keep-all face compares numerically ("100" is
      // 3 chars and sorts BELOW every 2-char bucket id)
      .filter(bucket(col(key)) < format_string("%02x", col("__buckets")) ||
        col("__buckets") >= 256)
      .drop("__buckets")
  }

  /** Assign each row a leakage-safe split label by key hash:
    * buckets [0, train) → "train", [train, train+holdout) → "val",
    * the rest → "test": 204/26/26 of 256 buckets ≈ 80/10/10. */
  def hashSplit(df: DataFrame, key: String): DataFrame = {
    val train = 204
    val holdout = 26
    val b = bucket(col(key))
    df.withColumn("split",
      when(below(b, train), "train")
        .when(below(b, train + holdout), "val")
        .otherwise("test"))
  }

  /** Deterministic WEIGHTED sampling without replacement — the
    * quality-weighted curation cut (sample high-quality documents
    * preferentially, keep the long tail possible): Efraimidis-
    * Spirakis exponential keys, `samp_key = u^(1/w)`, top-k by key.
    * The classic construction uses `u = rand()`; here u derives from
    * md5(key) (first 8 hex chars → uniform in (0, 1]) so the sample
    * is REPRODUCIBLE — the same rows win on every run, cluster size,
    * and engine, the same contract as [[sampleByHash]], and the
    * reason the whole pipeline is cross-engine oracle-checkable.
    *
    * Ranking uses the 4dp-ROUNDED key with the id as tiebreaker, so
    * sub-ulp `pow` differences between engines/libms cannot flip a
    * boundary row (the repo-wide rounded-metric rule). Top-k is
    * orderBy+limit = TakeOrdered: a k-row heap per partition, merged
    * — no global sort at any scale. */
  def sampleWeighted(df: DataFrame, key: String, weight: Column,
                     k: Int): DataFrame = {
    val v = conv(substring(md5(col(key).cast("string")), 1, 8), 16, 10)
      .cast("double")
    val u = (v + lit(1.0)) / lit(4294967297.0)
    val sk = round(pow(u, lit(1.0) / weight.cast("double")), 4)
    df.withColumn("samp_key", sk)
      .orderBy(col("samp_key").desc, col(key))
      .limit(k)
  }
}
