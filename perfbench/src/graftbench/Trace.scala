package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.storage.BroadcastBlockId

/** A span: one timed region of the benchmark, with the span that caused it. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def secs: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder; spans are written out once, when the run ends. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]
  def record[T](name: String, parent: Int = -1)(f: Int => T): (T, Span) = {
    val id = buf.length
    buf += null
    val t0 = System.nanoTime()
    val out = f(id)
    val s = Span(id, parent, name, t0, System.nanoTime())
    buf(id) = s
    (out, s)
  }
  def all: Seq[Span] = buf.toSeq.filter(_ != null)
  def children(id: Int): Seq[Span] = all.filter(_.parent == id)
}

/** What the Spark listener saw of one job, keyed by the job group the
  * benchmark set before the call that ran it. Times are epoch ms. */
final class JobRec(val id: Int, val group: String, val start: Long, val stageIds: Seq[Int]) {
  @volatile var end: Long = -1L
}

final class StageRec(val id: Int) {
  var submitted = -1L
  var completed = -1L
  val taskMs = mutable.ArrayBuffer.empty[Long]
  var shuffleWrite = 0L
  var spill = 0L
}

/** Spark listener counters attributed by job group. Broadcast bytes have no
  * job, so they are kept with their time and attributed by time window. */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val stages = mutable.HashMap.empty[Int, StageRec]
  val broadcasts = new ConcurrentLinkedQueue[(Long, Long)]() // (epoch ms, bytes)

  def stageRec(id: Int): StageRec = synchronized(stages.getOrElseUpdate(id, new StageRec(id)))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs.add(new JobRec(e.jobId, g, e.time, e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.asScala.find(_.id == e.jobId).foreach(_.end = e.time)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = stageRec(e.stageInfo.stageId)
    s.synchronized { s.submitted = e.stageInfo.submissionTime.getOrElse(-1L) }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stageRec(e.stageInfo.stageId)
    s.synchronized {
      s.submitted = e.stageInfo.submissionTime.getOrElse(s.submitted)
      s.completed = e.stageInfo.completionTime.getOrElse(-1L)
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stageRec(e.stageId)
    val m = e.taskMetrics
    s.synchronized {
      s.taskMs += e.taskInfo.duration
      if (m != null) {
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case BroadcastBlockId(_, field) if field.startsWith("piece") && info.storageLevel.isValid =>
        broadcasts.add((System.currentTimeMillis(), info.memSize + info.diskSize))
      case _ => ()
    }
  }

  def jobsOf(group: String): Seq[JobRec] = jobs.asScala.filter(_.group == group).toSeq.sortBy(_.id)
}

object JobListener {
  /** Blocks until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = org.apache.spark.graftbench.Bus.drain(sc)
}

/** Process and host probes sampled around each op. */
object Probe {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  @volatile private var heapAfterGcPeak = 0L

  def cpuNs: Long = os.getProcessCpuTime
  def gcMs: Long = gcs.map(_.getCollectionTime).filter(_ >= 0).sum

  /** Steal ticks of the whole host, from the aggregate cpu line of /proc/stat. */
  def stealTicks: Long = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+").lift(8).map(_.toLong).getOrElse(0L)
    finally src.close()
  } catch { case _: Exception => 0L }
  val ticksPerSec = 100.0

  /** Runnable scheduling entities on the host, from /proc/loadavg. */
  def runnable: Int = try {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.trim.split("\\s+")(3).split("/")(0).toInt finally src.close()
  } catch { case _: Exception => -1 }

  /** Largest heap occupancy seen right after a collection, in bytes. */
  def heapPeakAfterGc: Long = heapAfterGcPeak

  gcs.foreach {
    case em: NotificationEmitter =>
      em.addNotificationListener(new NotificationListener {
        def handleNotification(n: Notification, hb: AnyRef): Unit =
          if (n.getType == "com.sun.management.gc.notification") {
            val info = com.sun.management.GarbageCollectionNotificationInfo
              .from(n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            if (used > heapAfterGcPeak) heapAfterGcPeak = used
          }
      }, null, null)
    case _ => ()
  }
}
