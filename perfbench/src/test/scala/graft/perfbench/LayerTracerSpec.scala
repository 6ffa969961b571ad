package graft.perfbench

import java.util.concurrent.CyclicBarrier

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class LayerTracerSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("jobs of two concurrent threads land on the layer each thread tagged") {
    val sc = spark.sparkContext
    val tracer = new LayerTracer(sc)
    sc.addSparkListener(tracer)
    try {
      val barrier = new CyclicBarrier(3)
      def client(layer: Option[String], calls: Int, parts: Int): Thread =
        new Thread(() => {
          barrier.await()
          for (_ <- 1 to calls) {
            def job(): Long = sc.parallelize(1 to 1000, parts).map(_ * 2).count()
            layer.fold(job())(l => tracer.traced(l)(job()))
          }
        })
      val threads = Seq(client(Some("etl"), 4, 3), client(Some("dedup"), 5, 2),
        client(None, 6, 5)) // untagged: another component's jobs
      threads.foreach(_.start())
      threads.foreach(_.join())

      val (layers, engine) = tracer.snapshot()
      assert(layers.keySet == Set("etl", "dedup"))
      assert(layers("etl").jobs == 4 && layers("etl").tasks == 12)
      assert(layers("dedup").jobs == 5 && layers("dedup").tasks == 10)
      assert(layers.values.forall(_.busyNs > 0))
      assert(engine("failed_tasks") == 0.0 && engine("retried_stages") == 0.0)
      // a snapshot starts the next one from zero
      assert(tracer.snapshot()._1.isEmpty)
    } finally sc.removeSparkListener(tracer)
  }

  test("SQL executions carry the tag: tasks, input and planning time") {
    val sc = spark.sparkContext
    val tracer = new LayerTracer(sc)
    sc.addSparkListener(tracer)
    try {
      val dir = java.nio.file.Files.createTempDirectory("tracer").toString
      spark.range(0, 5000, 1, 2).write.mode("overwrite").parquet(dir)
      tracer.traced("analytics") {
        spark.read.parquet(dir).groupBy((org.apache.spark.sql.functions.col("id") % 7)
          .as("k")).count().collect()
      }
      val c = tracer.snapshot()._1("analytics")
      assert(c.jobs >= 1 && c.tasks >= 2)
      assert(c.inputBytes > 0 && c.shuffleBytes > 0)
      assert(c.planMs > 0)
      assert(c.emptyTasks < c.tasks)
    } finally sc.removeSparkListener(tracer)
  }

  test("layer names parse out of Spark's comma-joined tag list") {
    assert(LayerTracer.layerOfTags("x,perfbench-dedup-17,y").contains("dedup"))
    assert(LayerTracer.layerOfTags("x,y").isEmpty)
    assert(LayerTracer.layerOfTags(null).isEmpty)
  }

  test("scheduler delay is what the task's duration leaves unexplained") {
    assert(LayerTracer.schedulerDelayMs(100, 60, 10, 5, 5) == 20)
    assert(LayerTracer.schedulerDelayMs(50, 60, 0, 0, 0) == 0)
  }
}
