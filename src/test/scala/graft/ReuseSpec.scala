package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Reuse

/** The contract of [[Reuse]], the one way operators reuse an
  * intermediate: `barrier` has run its jobs when it returns, `shared`
  * and `roundCut` start none while the frame is built (with AQE off;
  * under AQE building still runs the shuffle stages), and every
  * checkpoint names its intent and the operator's own line, which
  * holds only while `Reuse` sits in Spark's `sql` package. */
class ReuseSpec extends SparkSpec {

  /** A frame with a shuffle below it, so building it could start a
    * job. */
  private def grouped: DataFrame =
    spark.range(100).groupBy((col("id") % 3).as("k")).agg(count(lit(1)).as("n"))

  private def checkpointRdd(df: DataFrame) =
    df.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }.get

  /** `body`'s result and the jobs it started and ended on this
    * thread, with AQE off. Counted by a job group as DedupSpec's
    * connected-components pin does: suites share one context and run
    * concurrently. */
  private def jobsOf[T](body: => T): (T, Int, Int) = {
    val group = s"reuse-${java.util.UUID.randomUUID()}"
    val started, ended = new java.util.concurrent.atomic.AtomicInteger(0)
    val ours = new java.util.concurrent.ConcurrentHashMap[Int, Unit]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null &&
            group == js.properties.getProperty("spark.jobGroup.id")) {
          ours.put(js.jobId, ())
          started.incrementAndGet()
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        if (ours.containsKey(je.jobId)) ended.incrementAndGet()
    }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, "Reuse contract")
    try {
      val out = body
      // count what ran up to here: the listener bus is async, so poll
      // until the counts stop moving
      spark.sparkContext.clearJobGroup()
      var (last, stable) = ((-1, -1), 0)
      while (stable < 5) {
        Thread.sleep(100)
        val now = (started.get(), ended.get())
        if (now == last) stable += 1 else { stable = 0; last = now }
      }
      (out, started.get(), ended.get())
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("barrier has run and materialized its frame when it returns") {
    val (df, started, ended) = jobsOf(Reuse.barrier(grouped))
    assert(started > 0)
    assert(ended == started)
    assert(checkpointRdd(df).isCheckpointed)
    assert(df.count() == 3)
  }

  Seq[(String, DataFrame => DataFrame)](
    "shared" -> Reuse.shared, "roundCut" -> Reuse.roundCut
  ).foreach { case (intent, reuse) =>
    test(s"$intent starts no job while the frame is built") {
      val (df, started, _) = jobsOf(reuse(grouped))
      assert(started == 0)
      assert(!checkpointRdd(df).isCheckpointed)
      assert(df.count() == 3)
      assert(checkpointRdd(df).isCheckpointed)
    }
  }

  test("each checkpoint names its intent and the calling line") {
    val line = new Throwable().getStackTrace.head.getLineNumber + 1
    val frames = Seq(Reuse.shared(grouped), Reuse.roundCut(grouped),
      grouped.transform(Reuse.barrier))
    // RDD.toString is what plans print: `MapPartitionsRDD[N] at <site>`
    assert(frames.map(checkpointRdd(_).toString.split(" at ", 2)(1)) == Seq(
      s"shared at ReuseSpec.scala:$line",
      s"roundCut at ReuseSpec.scala:$line",
      s"barrier at ReuseSpec.scala:${line + 1}"))
  }
}
