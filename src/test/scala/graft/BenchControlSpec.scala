package graft

import org.scalatest.funsuite.AnyFunSuite

/** The storage-clean contract the benchmark harness relies on before
  * every timed step. Runs in its own forked JVM (see build.sbt):
  * clearStorage unpersists every RDD on its context, other suites'
  * included. */
class BenchControlSpec extends AnyFunSuite with SparkSpec {

  test("clearStorage drops checkpoint RDD blocks clearCache leaves") {
    // The storage-clean contract (VERDICT r13 ask #1): operators
    // localCheckpoint intermediates that the returned plan cannot
    // unpersist; clearCache() only drops catalog-tracked Dataset
    // caches, so checkpoint blocks accumulate across a bench run.
    // clearStorage must sweep BOTH.
    val ds = spark.range(100).localCheckpoint(true)
    ds.count() // materialize the checkpoint blocks
    spark.range(10).cache().count()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    spark.catalog.clearCache()
    // the catalog sweep alone does NOT remove the checkpoint RDD
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    Bench.clearStorage(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }
}
