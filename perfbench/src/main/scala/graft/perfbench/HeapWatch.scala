package graft.perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** The most heap found in use right after any garbage collection since
  * the last [[reset]]: the live set plus whatever the collector had
  * promoted, not the garbage a collection was about to free. */
final class HeapWatch extends NotificationListener {
  @volatile private var peakBytes = 0L

  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(this, null, null))

  def reset(): Unit = peakBytes = 0L

  def peakMb: Double = peakBytes / 1048576.0

  def close(): Unit = emitters.foreach(_.removeNotificationListener(this))

  /** Note the heap in use now; call right after a collection. */
  def sample(): Unit = record(
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)

  private def record(bytes: Long): Unit =
    synchronized { peakBytes = math.max(peakBytes, bytes) }

  override def handleNotification(n: Notification, handback: Any): Unit =
    if (n.getType ==
        GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[CompositeData])
      val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getName).toSet
      record(info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
        case (pool, usage) if heapPools(pool) => usage.getUsed
      }.sum)
    }
}
