package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo

/** High-water mark of the heap in use right after a collection, that is of
  * the live set. Raw peak heap use mostly counts garbage and swings with
  * the moment the collector happens to run; the live set does not.
  */
object LiveHeap {
  private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP).toSeq
  private val poolNames = pools.map(_.getName).toSet
  @volatile private var mark = 0L

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener((n: Notification, _: AnyRef) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val gc = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
        val live = gc.getMemoryUsageAfterGc.asScala.collect { case (p, u) if poolNames(p) => u.getUsed }.sum
        mark = math.max(mark, live)
      }, null, null)
    case _ =>
  }

  /** Collect now and restart the mark from the live set. */
  def reset(): Unit = {
    System.gc()
    mark = pools.map(_.getUsage.getUsed).sum
  }

  /** Highest live heap since the last reset, in bytes. */
  def high: Long = mark
}
