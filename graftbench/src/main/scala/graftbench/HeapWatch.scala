package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo
import scala.jdk.CollectionConverters._

/** Peak heap in use right after a collection, over the collections that
  * end while the watch is on. Each collection's after-GC usage is the sum
  * over the heap pools of what the JVM reports in its GC notification, so
  * driver-side state an operation holds while it runs (collected rows,
  * broadcasts, loop state) counts whenever a collection happens then. */
class HeapWatch extends NotificationListener {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }.toSeq
  @volatile private var on = false
  private var peakBytes = 0L
  private var count = 0

  emitters.foreach(_.addNotificationListener(this, null, null))

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (on && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo
        .from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
      record(HeapWatch.heapUsed(info.getMemoryUsageAfterGc.asScala.toMap
        .map { case (pool, u) => pool -> u.getUsed }, heapPools))
    }

  def record(bytes: Long): Unit = synchronized {
    peakBytes = math.max(peakBytes, bytes)
    count += 1
  }

  def start(): Unit = on = true

  /** Stops watching. Notifications arrive on a JMX thread, so the watch
    * stays on for a moment to let those of the last collections in. */
  def stop(): Unit = { Thread.sleep(200); on = false }

  /** Heap in use right after a full collection forced now. */
  def afterFullGcMb(): Double = {
    System.gc()
    lastCollectionMb
  }

  private def lastCollectionMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => heapPools(p.getName))
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum /
      (1024.0 * 1024.0)

  def collections: Int = synchronized(count)

  /** The peak in MB; with no collection in the window, the usage the
    * latest collection left behind. */
  def peakMb: Double = synchronized {
    if (count > 0) peakBytes / (1024.0 * 1024.0) else lastCollectionMb
  }

  def close(): Unit = emitters.foreach(e =>
    scala.util.Try(e.removeNotificationListener(this)))
}

object HeapWatch {
  /** Bytes used in the heap pools of one collection's per-pool usage. */
  def heapUsed(byPool: Map[String, Long], heapPools: Set[String]): Long =
    byPool.collect { case (p, b) if heapPools(p) => b }.sum
}
