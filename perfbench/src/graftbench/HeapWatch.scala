package graftbench

import com.sun.management.GarbageCollectionNotificationInfo

import java.lang.management.ManagementFactory
import javax.management.openmbean.CompositeData
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import scala.jdk.CollectionConverters._

/** Old-generation use left after the garbage collections that run
  * while `watching`, from the JVM's GC notifications, so collections
  * inside an op are seen too. `peakFull` covers full collections only:
  * the benchmark's own between ops, and any the JVM runs because an
  * op filled the heap; after one, old-gen use is the live set.
  * `peakAny` covers every collection; after a young one, old-gen use
  * also holds whatever garbage the collection promoted, so it moves
  * with GC timing from run to run. */
final class HeapWatch extends NotificationListener {
  @volatile var watching = false
  private var peakFull = 0L
  private var peakAny = 0L
  private var collections = 0L

  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(this, null, null))

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (watching && n.getType ==
      GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo
        .from(n.getUserData.asInstanceOf[CompositeData])
      val full = info.getGcAction.contains("major")
      info.getGcInfo.getMemoryUsageAfterGc.asScala.foreach {
        case (pool, u) if HeapWatch.isOld(pool) =>
          synchronized {
            collections += 1
            peakAny = math.max(peakAny, u.getUsed)
            if (full) peakFull = math.max(peakFull, u.getUsed)
          }
        case _ =>
      }
    }

  /** (peak after full collections, peak after any collection, number
    * of collections), in bytes. */
  def stats: (Long, Long, Long) =
    synchronized((peakFull, peakAny, collections))

  def close(): Unit = emitters.foreach(e =>
    try e.removeNotificationListener(this) catch { case _: Exception => () })
}

object HeapWatch {
  def isOld(pool: String): Boolean =
    pool.contains("Old Gen") || pool.contains("Tenured")
}
