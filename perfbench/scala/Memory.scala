package graft.perfbench

import java.lang.management.{BufferPoolMXBean, ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** Memory the program uses, from the JVM's own accounting. The resident
  * set is not used: a fixed heap sets it, whatever the program does.
  */
object Memory {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private var maxAfterGc = 0L

  /** Heap bytes in use right after a collection: the live set plus
    * whatever the collector left in place.
    */
  private def onGc(n: Notification): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
        case (pool, u) if heapPools(pool) => u.getUsed
      }.sum
      synchronized { maxAfterGc = math.max(maxAfterGc, used) }
    }

  /** Starts recording the heap after every collection. */
  def start(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case em: NotificationEmitter =>
        em.addNotificationListener(new NotificationListener {
          def handleNotification(n: Notification, hb: AnyRef): Unit = onGc(n)
        }, null, null)
      case _ =>
    }

  private def mb(b: Long): Double = b / 1048576.0

  /** Memory figures at the end of a run, in MB:
    *  - `heap_after_gc_max`: the largest heap left after any collection;
    *  - `non_heap`: metaspace, code cache and direct buffers in use.
    * The sum of each heap pool's peak was tried and left out: it reads
    * the young generation's size, which the collector chooses.
    */
  def report(): Seq[(String, Double)] = {
    val direct = ManagementFactory.getPlatformMXBeans(classOf[BufferPoolMXBean]).asScala
      .map(_.getMemoryUsed).sum
    val nonHeap = ManagementFactory.getMemoryMXBean.getNonHeapMemoryUsage.getUsed + direct
    Seq("heap_after_gc_max" -> mb(synchronized(maxAfterGc)), "non_heap" -> mb(nonHeap))
  }
}
