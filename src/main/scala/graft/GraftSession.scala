package graft

import org.apache.spark.sql.SparkSession

/** The single "open the engine" entry point: every main (Verify,
  * Explain, ScaleUp, the perfbench harness) and any embedding
  * application builds its session here, so the confs the engine needs
  * before its FIRST table read are set in one place instead of as side
  * effects of whichever loader happens to run first.
  *
  * Why this exists: `events.parquet` has shipped carrying
  * TIMESTAMP(NANOS), which Spark 4 rejects at scan time unless the
  * legacy nanos-as-long conf is on. A query that counted `events`
  * without reading `ts` used to depend on ANOTHER query having run
  * first in the same session — an order dependence a fresh-session
  * user hits on their very first query. Bootstrapping the conf at
  * session build makes every registry entry self-contained
  * ([[Tables.events]] keeps only a fail-then-set fallback for
  * caller-built sessions, engaged when the nanos scan actually
  * rejects); IsolationSpec runs each entry against
  * deliberately-reset conf state to keep it that way.
  *
  * Two kinds of conf, two ways in:
  *  - runtime confs ([[requiredConfs]]) can be set on a live session,
  *    so [[configure]] (or `spark.conf.set`) applies them to any
  *    session, a caller-built one included;
  *  - static confs ([[engineConfs]]' codegen cache size) are read once
  *    per JVM: `CodeGenerator` sizes its compiled-class cache from the
  *    active conf the first time anything is compiled. They only take
  *    effect as builder confs of the JVM's FIRST session; `configure`
  *    and `spark.conf.set` cannot apply them, and [[build]] on a JVM
  *    that already has a session (`getOrCreate` returns it) keeps the
  *    cache size that session fixed.
  */
object GraftSession {

  /** Confs that must hold before any graft table is scanned. */
  val requiredConfs: Map[String, String] = Map(
    // TIMESTAMP(NANOS) parquet columns read as epoch-nanos long;
    // Tables.events truncates to micros (same truncation DuckDB applies)
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // the engine's declared determinism contract (SURVEY §5) is
    // session TZ = UTC everywhere; before this lived here, only
    // Verify and the specs pinned it — a Bench or embedding session
    // on a non-UTC JVM would shift every NTZ→timestamp cast and
    // date_trunc by the host offset
    "spark.sql.session.timeZone" -> "UTC")

  /** Codegen confs every engine session is built with, the test
    * sessions included (SparkSpec), so a repeated call reuses its
    * compiled classes instead of recompiling them. Builder-only: the
    * cache size is static (see the object doc). */
  val engineConfs: Map[String, String] = Map(
    // Spark's JVM-wide cache of compiled classes defaults to 100
    // entries over 4 LRU segments; one pass of a graft workload
    // compiles ~200, so every call after the first recompiled nearly
    // all its code; the price is heap for the retained classes'
    // source and bytecode
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    // without the stage id in the class name, stages that differ only
    // in their position in a plan generate identical source and share
    // one cached class
    "spark.sql.codegen.useIdInClassName" -> "false")

  /** Apply [[requiredConfs]] to an existing session (all are
    * runtime-settable SQL confs). Idempotent. */
  def configure(s: SparkSession): SparkSession = {
    requiredConfs.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  /** Build the standard local engine session: `local[cpus]` with
    * shuffle parallelism matched to the core count (not the 200
    * default — at local scale 200 tiny shuffle partitions are pure
    * scheduling overhead; on a real cluster this knob is sized to
    * executors × cores) and [[engineConfs]]. */
  def build(cpus: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config(engineConfs)
      .config(requiredConfs)
    // getOrCreate can return a pre-existing session whose builder
    // confs were ignored — re-apply the required confs so an
    // embedding JVM's stale session can't silently drop them
    val s = configure(b.getOrCreate())
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
