package pipebench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** The process's memory as the benchmark reports it. */
object Memory {
  private val MB = 1024.0 * 1024.0
  @volatile private var peakAfterGc = 0L

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
        synchronized { peakAfterGc = math.max(peakAfterGc, used) }
      }
  }

  /** Start following collections; call once, first thing. */
  def watch(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  /** The most heap left in use right after any collection since
    * [[watch]], in MB: the live data at its fullest, plus whatever
    * old-generation garbage that collection did not reach. With a fixed
    * heap this follows what the program keeps alive, where the resident
    * set follows the heap size.
    */
  def peakLiveHeapMb: Double = peakAfterGc / MB

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }
}
