package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.graftbridge.Reuse
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

/** The storage-clean contract the benchmark harness relies on before
  * every timed step, and the compiled-code reuse its repeated calls
  * rely on. Runs in its own forked JVM (see build.sbt): clearStorage
  * unpersists every RDD on its context, other suites' included, and
  * the Janino compile counter is JVM-global, so it sees only this
  * suite's compiles (tests in a suite run one at a time). */
class BenchControlSpec extends AnyFunSuite with SparkSpec {

  test("clearStorage drops checkpoint RDD blocks clearCache leaves") {
    // The storage-clean contract (VERDICT r13 ask #1): operators
    // reuse intermediates through Reuse, whose checkpoint blocks the
    // returned plan cannot unpersist; clearCache() only drops
    // catalog-tracked Dataset caches, so checkpoint blocks accumulate
    // across a bench run. clearStorage must sweep BOTH.
    val ds = Reuse.barrier(spark.range(100).toDF())
    ds.count() // materialize the checkpoint blocks
    spark.range(10).cache().count()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    spark.catalog.clearCache()
    // the catalog sweep alone does NOT remove the checkpoint RDD
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    Bench.clearStorage(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("a repeated call reuses its compiled classes instead of recompiling") {
    // Spark's default cache (100 classes) holds less than one round of
    // these three entries, so every round recompiled nearly all its
    // code; the engine's cache keeps a round resident. A few classes
    // may still compile again when AQE picks a different plan.
    assert(SQLConf.get.codegenCacheMaxEntries ==
      GraftSession.engineConfs("spark.sql.codegen.cache.maxEntries").toInt)
    val steps = Seq("curate_corpus", "dedup_simhash", "ann_ivf_topk")
    def round(): Long = {
      val n0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      steps.foreach { name =>
        Bench.clearStorage(spark)
        SparkEntry.queries(name)(spark, sf)
          .write.mode("overwrite").format("noop").save()
      }
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - n0
    }
    val first = round()
    val second = round()
    info(s"compiled classes: round 1 $first, round 2 $second")
    assert(second * 2 < first)
  }
}
