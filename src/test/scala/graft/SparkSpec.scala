package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local Spark engine for specs.
  *
  * ONE SparkContext per test JVM (object-level, built on first use),
  * but each SUITE gets its own `newSession()` view of it: suites run
  * CONCURRENTLY (`Test / testForkedParallel`), and session-level
  * state — SQL confs (DedupSpec/LayoutSpec toggle AQE, StreamingSpec
  * swaps the state-store provider, IsolationSpec deliberately unsets
  * the required confs), temp views, current database — must not leak
  * between suites mid-flight. `newSession()` isolates exactly that
  * per-session state while sharing the context, block manager and
  * cache, so suite parallelism costs no extra JVMs or contexts.
  *
  * The context is built WITH [[GraftExtensions]] so the extension
  * surface is testable without stopping the shared context to build
  * a fresh extended session (SourcesSpec used to do that stop — fatal
  * once suites run concurrently). Extensions only ADD SQL function
  * names; no existing behavior changes.
  */
object SparkSpec {
  lazy val shared: SparkSession = {
    val s = SparkSession.builder()
      // suites run concurrently on one context: size the scheduler
      // pool for overlapping tiny jobs, keep the per-query shuffle
      // width at the historical 4 so plan shapes and partition-count
      // assumptions are unchanged
      .master("local[16]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the engine's codegen confs: the first session in a JVM fixes
      // the compiled-class cache size, so specs test the same engine
      // GraftSession.build opens
      .config(GraftSession.engineConfs)
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    // INFO-level executor logs dominated the suite's wall time and
    // drowned the driver's captured tail — WARN is enough for specs
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Shared local SparkSession for specs (one isolated session per
  * suite over the shared context, lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.shared.newSession()
  val sf: String = "/root/testdata/sf0.001"
}
