package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.perfbench.SparkInternals

import graft.{Bench, GraftSession, SparkEntry}

/** The benchmark's JVM side. Runs one workload over generated inputs:
  *
  *  1. set-up: build the session, run one untimed pass that writes every
  *     step's result as parquet, for the DuckDB oracle compare, then one
  *     untimed pass shaped like a timed one, to warm the workload's code
  *     paths further. `setup_s` counts from JVM start to the end of the
  *     warm-up: cold start plus the workload's first, cold calls;
  *  2. as many timed passes as fit in `--seconds`, at least three. With
  *     `--trace 1` each step also runs traced, and the traced calls
  *     attribute Spark's metrics to layers through [[LayerTracer]].
  *
  * Raw samples go to the `--out` JSON file; the caller computes medians
  * and percentiles and prints the report.
  *
  * Usage: Main --workload W --data DIR --seconds S --trace 0|1 --seed N
  *             --out FILE --check-dir DIR --cpus N
  */
object Main {
  final case class Args(workload: String, data: String, seconds: Double,
                        trace: Boolean, seed: Long, out: String,
                        checkDir: String, cpus: Int)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"expected --key value pairs, got ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("data"), get("seconds").toDouble,
      get("trace") == "1", get("seed").toLong, get("out"), get("check-dir"),
      get("cpus").toInt)
  }

  type Query = (SparkSession, String) => DataFrame

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def toJson(v: AnyRef): String =
    org.json4s.jackson.Serialization.write(v)(org.json4s.DefaultFormats)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = Workloads.byName(a.workload)
    val queries = w.steps.map(s => s -> SparkEntry.queries(s.name))

    val spark = GraftSession.build(a.cpus.toString)
    val check = checkPass(spark, queries, a)
    val tracer = if (a.trace) Some(new LayerTracer(spark.sparkContext)) else None
    val timed = new TimedRun(spark, queries, a, tracer)
    timed.warmUp()
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    log(s"setup_s $setupS")

    tracer.foreach(spark.sparkContext.addSparkListener)
    timed.run()

    val result = Map(
      "workload" -> w.name,
      "seed" -> a.seed,
      "trace" -> a.trace,
      "setup_s" -> setupS,
      "check_errors" -> check,
      "check_steps" -> w.steps.map(_.name),
      "attempted" -> timed.attempted,
      "failed" -> timed.failed,
      "pass_s" -> timed.passS,
      "traced_pass_s" -> timed.tracedPassS,
      "step_ms" -> timed.stepMs,
      "heap_mb" -> timed.heapMb,
      "layers" -> timed.layerPasses,
      "engine" -> timed.enginePasses)
    Files.writeString(Paths.get(a.out), toJson(result) + "\n")
    spark.stop()
  }

  /** The untimed pass: every step's result lands under the check dir as
    * parquet, next to oracle_sql.json holding each step's DuckDB oracle.
    * Returns step -> error message for the steps that threw. */
  def checkPass(spark: SparkSession, queries: Seq[(Step, Query)],
                a: Args): Map[String, String] = {
    Files.createDirectories(Paths.get(a.checkDir))
    val errors = queries.flatMap { case (step, fn) =>
      Bench.clearStorage(spark)
      val t0 = System.nanoTime()
      try {
        fn(spark, a.data).coalesce(1).write.mode("overwrite")
          .parquet(s"${a.checkDir}/${step.name}")
        log(f"check ${step.name} ${(System.nanoTime() - t0) / 1e6}%.0f ms")
        None
      } catch { case e: Throwable =>
        log(s"${step.name} failed: $e")
        Some(step.name -> String.valueOf(e))
      }
    }.toMap
    val oracle = queries.map(_._1.name).flatMap(n =>
      SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    Files.writeString(Paths.get(s"${a.checkDir}/oracle_sql.json"),
      toJson(oracle))
    errors
  }
}

/** The timed phase of one run: the passes over the step list that fit in
  * `seconds`. With a tracer every step runs twice back to back, once
  * traced and once not, the order alternating from step to step, so the
  * difference between the two sums is the tracing overhead rather than
  * warm-up. */
final class TimedRun(spark: SparkSession, queries: Seq[(Step, Main.Query)],
                     a: Main.Args, tracer: Option[LayerTracer]) {
  val passS = ArrayBuffer.empty[Double]
  val tracedPassS = ArrayBuffer.empty[Double]
  val stepMs = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  val layerPasses = ArrayBuffer.empty[Map[String, Map[String, Double]]]
  val enginePasses = ArrayBuffer.empty[Map[String, Double]]
  /** Per pass: peak heap in use after a collection. */
  val heapMb = ArrayBuffer.empty[Double]
  var attempted = 0L
  var failed = 0L

  /** Passes that always run: medians need three samples, and a traced
    * pass already runs every step twice. */
  private val minPasses = if (tracer.isEmpty) 3 else 1

  /** Passes while the next one, at the mean pass time so far, still ends
    * within `seconds`; at least [[minPasses]]. */
  def run(): Unit = {
    val t0 = System.nanoTime()
    var n = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    try {
      while (n < minPasses || elapsed * (n + 1) / n <= a.seconds) {
        runPass()
        n += 1
      }
    } finally heap.close()
  }

  private val heap = new HeapWatch

  /** One untraced pass whose times are dropped: the JIT is still speeding
    * the steps up after the check pass's first calls. */
  def warmUp(): Unit =
    queries.foreach { case (step, fn) => timed(step, fn, traced = false) }

  /** A cold storage state, every listener event delivered and a collected
    * heap, so no call pays for blocks, events or garbage an earlier one
    * left behind. */
  private def settle(): Unit = {
    Bench.clearStorage(spark)
    SparkInternals.drainListenerBus(spark.sparkContext)
    System.gc()
    heap.sample()
  }

  /** Each call is timed from invocation to its result materialized
    * (noop sink, so the whole plan runs and no rows are collected). */
  private def timed(step: Step, fn: Main.Query, traced: Boolean): Double = {
    settle()
    def call(): Unit =
      fn(spark, a.data).write.mode("overwrite").format("noop").save()
    val t0 = System.nanoTime()
    attempted += 1
    try {
      if (traced) tracer.get.traced(step.layer)(call()) else call()
    } catch { case e: Throwable =>
      failed += 1
      Main.log(s"${step.name} failed: $e")
    }
    (System.nanoTime() - t0) / 1e6
  }

  private def runPass(): Unit = {
    heap.reset()
    val codegenNs0 = CodeGenerator.compileTime
    val codegenN0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val lat = ArrayBuffer.empty[(String, Double)]
    val tracedLat = ArrayBuffer.empty[Double]
    queries.zipWithIndex.foreach { case ((step, fn), i) =>
      def untraced(): Unit = lat += step.name -> timed(step, fn, traced = false)
      if (tracer.isEmpty) untraced()
      else if (i % 2 == 0) {
        tracedLat += timed(step, fn, traced = true)
        untraced()
      } else {
        untraced()
        tracedLat += timed(step, fn, traced = true)
      }
    }
    settle()
    heapMb += heap.peakMb
    Main.log("pass " + lat.map { case (n, ms) => s"$n=${ms.round}" }.mkString(" "))
    passS += lat.map(_._2).sum / 1e3
    lat.foreach { case (step, ms) =>
      stepMs.getOrElseUpdate(step, ArrayBuffer.empty[Double]) += ms
    }
    tracer.foreach { t =>
      tracedPassS += tracedLat.sum / 1e3
      val (layers, engine) = t.snapshot()
      layerPasses += layers.map { case (k, v) => k -> v.toMap }
      enginePasses += engine ++ Map(
        "codegen_ms" -> (CodeGenerator.compileTime - codegenNs0) / 1e6,
        "codegen_classes" ->
          (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegenN0).toDouble)
    }
  }
}
