package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.SparkInternals

/** Raw per-layer counters. Times in the units Spark reports them. */
final class LayerCounters {
  var busyNs = 0L
  var jobs = 0L
  var tasks = 0L
  var emptyTasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var fetchWaitMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var planMs = 0L

  def toMap: Map[String, Double] = Map(
    "busy_ns" -> busyNs, "jobs" -> jobs, "tasks" -> tasks,
    "empty_tasks" -> emptyTasks, "cpu_ns" -> cpuNs, "gc_ms" -> gcMs,
    "sched_delay_ms" -> schedDelayMs, "fetch_wait_ms" -> fetchWaitMs,
    "shuffle_bytes" -> shuffleBytes, "spill_bytes" -> spillBytes,
    "input_bytes" -> inputBytes, "output_bytes" -> outputBytes,
    "plan_ms" -> planMs).map { case (k, v) => k -> v.toDouble }
}

/** Attributes Spark's job, task and SQL-execution metrics to the graft
  * layer whose call submitted them.
  *
  * The caller brackets every call into a layer with [[traced]], which
  * adds a job tag naming the layer to the calling thread. Spark copies a
  * thread's tags into every job and SQL execution that thread (or a
  * broadcast, subquery or stream thread it spawns) submits, so two
  * clients calling concurrently on one context are told apart by their
  * own tags — never by time window. Jobs without a tag of this tracer
  * (another component sharing the context) are ignored. */
final class LayerTracer(sc: SparkContext) extends SparkListener {
  import LayerTracer._

  private val lock = new Object
  private var counters = mutable.Map.empty[String, LayerCounters]
  private var failedTasks = 0L
  private var retriedStages = 0L
  private val stageLayer = TrieMap.empty[Int, String]
  private val sqlLayer = TrieMap.empty[Long, String]
  private val callIds = new AtomicLong

  /** Run `body` as one call into `layer`: tag its jobs, time it. */
  def traced[T](layer: String)(body: => T): T = {
    val tag = s"$TagPrefix$layer-${callIds.incrementAndGet()}"
    sc.addJobTag(tag)
    val t0 = System.nanoTime()
    try body
    finally {
      val dt = System.nanoTime() - t0
      sc.removeJobTag(tag)
      lock.synchronized { layerOf(layer).busyNs += dt }
    }
  }

  /** Wait until every event posted so far has reached this listener,
    * then return the counters accumulated since the last snapshot and
    * start new ones. */
  def snapshot(): (Map[String, LayerCounters], Map[String, Double]) = {
    SparkInternals.drainListenerBus(sc)
    lock.synchronized {
      val out = counters.toMap
      val engine = Map(
        "failed_tasks" -> failedTasks.toDouble,
        "retried_stages" -> retriedStages.toDouble)
      counters = mutable.Map.empty
      failedTasks = 0L
      retriedStages = 0L
      (out, engine)
    }
  }

  private def layerOf(layer: String): LayerCounters =
    counters.getOrElseUpdate(layer, new LayerCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => layerOfTags(p.getProperty(TagsProperty)))
      .foreach { layer =>
        e.stageIds.foreach(stageLayer.put(_, layer))
        lock.synchronized { layerOf(layer).jobs += 1 }
      }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    Option(e.properties).flatMap(p => layerOfTags(p.getProperty(TagsProperty)))
      .foreach(stageLayer.put(e.stageInfo.stageId, _))
    if (e.stageInfo.attemptNumber() > 0 &&
        stageLayer.contains(e.stageInfo.stageId))
      lock.synchronized { retriedStages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageLayer.get(e.stageId).foreach { layer =>
      lock.synchronized {
        if (e.reason != Success) failedTasks += 1
        val m = e.taskMetrics
        val c = layerOf(layer)
        c.tasks += 1
        if (m != null) {
          val records = m.inputMetrics.recordsRead +
            m.shuffleReadMetrics.recordsRead
          if (records == 0) c.emptyTasks += 1
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.diskBytesSpilled
          c.inputBytes += m.inputMetrics.bytesRead
          c.outputBytes += m.outputMetrics.bytesWritten
          c.schedDelayMs += schedulerDelayMs(e.taskInfo.duration,
            m.executorRunTime, m.executorDeserializeTime,
            m.resultSerializationTime,
            if (e.taskInfo.gettingResultTime > 0)
              e.taskInfo.finishTime - e.taskInfo.gettingResultTime
            else 0L)
        }
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      layerOfTags(s.jobTags.mkString(",")).foreach(sqlLayer.put(s.executionId, _))
    case end: SparkListenerSQLExecutionEnd =>
      sqlLayer.remove(end.executionId).foreach { layer =>
        val ms = SparkInternals.planMs(end)
        lock.synchronized { layerOf(layer).planMs += ms }
      }
    case _ =>
  }
}

object LayerTracer {
  /** The job-tag prefix; the layer name follows it. */
  val TagPrefix = "perfbench-"
  /** The local property Spark stores a thread's job tags in. */
  private val TagsProperty = "spark.job.tags"

  /** The layer named by this tracer's tag in a comma-joined tag list. */
  def layerOfTags(tags: String): Option[String] =
    Option(tags).toSeq.flatMap(_.split(",")).collectFirst {
      case t if t.startsWith(TagPrefix) =>
        t.stripPrefix(TagPrefix).takeWhile(_ != '-')
    }

  /** Time a finished task waited on the scheduler rather than running:
    * Spark UI's definition, clamped at zero. */
  def schedulerDelayMs(durationMs: Long, runMs: Long, deserializeMs: Long,
                       serializeMs: Long, gettingResultMs: Long): Long =
    math.max(0L, durationMs - runMs - deserializeMs - serializeMs -
      gettingResultMs)
}
