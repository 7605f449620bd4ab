package graft.obs

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graft.bridge

/** What the jobs of one span ran: filled by the listener from the events of
  * the jobs that carried the span's id, complete once the bus is drained
  * ([[Obs.drain]]) after the span closed. Times in ms and ns as named. */
final class Span private[obs] (val id: Long, val name: String, val sink: Option[String]) {
  var wallNs, taskMsSum, taskMsMax, cpuNs, shuffleRead, shuffleWrite, spill = 0L
  var jobs, stages, tasks = 0
  /** The caller's `spark.jobGroup.id` (null when none was set). */
  var group: String = _
  /** SQL execution id -> its last physical plan (DataFrame-tier spans). */
  private[obs] val plans = mutable.LinkedHashMap.empty[Long, SparkPlanInfo]

  /** max-task / mean-task time: 1.0 balanced, >> 1 a hot key or straggler. */
  def skew: Double =
    if (tasks == 0 || taskMsSum == 0) Double.NaN else taskMsMax * tasks.toDouble / taskMsSum

  /** Exchange count and join node names over the span's SQL executions
    * (cached subplans and reused exchanges are not run again: not walked). */
  def plan: (Int, Seq[String]) = {
    val names = mutable.ArrayBuffer.empty[String]
    def walk(p: SparkPlanInfo): Unit = {
      names += p.nodeName
      if (p.nodeName != "InMemoryTableScan" && p.nodeName != "ReusedExchange")
        p.children.foreach(walk)
    }
    plans.values.foreach(walk)
    (names.count(_.endsWith("Exchange")), names.filter(_.endsWith("Join")).toSeq)
  }

  /** One JSONL record: wall, jobs, stages, tasks, task time, skew, executor
    * CPU, shuffle, spill, the caller's job group and the plan summary. */
  def record: String = {
    val o = Obs.json.createObjectNode().put("span", name).put("group", group)
      .put("wall_s", wallNs / 1e9).put("jobs", jobs).put("stages", stages).put("tasks", tasks)
      .put("task_s_sum", taskMsSum / 1e3).put("task_s_max", taskMsMax / 1e3)
    Obs.putNum(o, "task_skew", skew).put("cpu_s", cpuNs / 1e9)
      .put("shuffle_read_bytes", shuffleRead).put("shuffle_write_bytes", shuffleWrite)
      .put("spill_bytes", spill)
    if (plans.isEmpty) o.putNull("plan") else {
      val (exchanges, joins) = plan
      val arr = o.putObject("plan").put("exchanges", exchanges).putArray("joins")
      joins.foreach(arr.add)
    }
    Obs.json.writeValueAsString(o)
  }
}

/** Closes a span on the listener bus: posted after the span's last action
  * returned, so every event of its jobs is queued ahead of it. */
private final case class SpanEnd(span: Span) extends SparkListenerEvent {
  override def logEvent: Boolean = false
}

/** The one listener: attributes jobs, stages and tasks to the open span
  * whose id their job carried; everything else it ignores. Runs on its
  * bus thread only, so the per-span counters need no locking. */
private final class ObsListener extends SparkListener {
  val open = new ConcurrentHashMap[Long, Span]
  private val stageSpans = mutable.HashMap.empty[Int, Span]
  private val sqlPlans = mutable.HashMap.empty[Long, SparkPlanInfo]
  private val sqlSpans = mutable.HashMap.empty[Long, Span]

  private def spanOf(p: java.util.Properties): Option[Span] =
    Option(p).flatMap(p => Option(p.getProperty(Obs.SpanIdKey))).flatMap(id => Option(open.get(id.toLong)))

  override def onJobStart(e: SparkListenerJobStart): Unit = spanOf(e.properties).foreach { s =>
    s.jobs += 1
    if (s.group == null) s.group = e.properties.getProperty("spark.jobGroup.id")
    // only a sink record reads the plans: a tracked-only span keeps none
    val sqlId = Option(e.properties.getProperty("spark.sql.execution.id")).map(_.toLong)
    if (s.sink.isDefined) sqlId.foreach { x =>
      sqlSpans(x) = s
      sqlPlans.get(x).foreach(s.plans(x) = _)
    }
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    spanOf(e.properties).foreach { s => s.stages += 1; stageSpans(e.stageInfo.stageId) = s }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageSpans.remove(e.stageInfo.stageId)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = stageSpans.get(e.stageId).foreach { s =>
    val ms = e.taskInfo.duration
    s.tasks += 1; s.taskMsSum += ms; s.taskMsMax = math.max(s.taskMsMax, ms)
    Option(e.taskMetrics).foreach { m =>
      s.cpuNs += m.executorCpuTime
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.diskBytesSpilled
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => sqlPlans(x.executionId) = x.sparkPlanInfo
    case x: SparkListenerSQLAdaptiveExecutionUpdate =>
      sqlPlans(x.executionId) = x.sparkPlanInfo
      sqlSpans.get(x.executionId).foreach(_.plans(x.executionId) = x.sparkPlanInfo)
    case x: SparkListenerSQLExecutionEnd =>
      sqlPlans.remove(x.executionId); sqlSpans.remove(x.executionId)
    case SpanEnd(s) =>
      open.remove(s.id)
      s.sink.foreach(p => Files.write(Paths.get(p), (s.record + "\n").getBytes(UTF_8),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND))
    case _ => ()
  }
}

/** graft's one observability instrument. The engine runs each phase and
  * iteration as a span: the local property `graft.span` names it
  * (`<algo>:iter:<n>`, `cc:phase1`) and `graft.span.id` keys it, both set
  * around the body and restored after it, so every job the body runs
  * carries them (the caller's `spark.jobGroup.id` is left alone). One
  * listener per SparkContext attributes each job's stages and tasks to its
  * span — a concurrent job of another thread never lands in it. With
  * `spark.graft.obs.path` set, every span is appended to that file as one
  * JSON line ([[Span.record]]). */
object Obs {
  val SpanKey = "graft.span"
  val SpanIdKey = "graft.span.id"
  val SinkConf = "spark.graft.obs.path"

  /** The JSON writer of the obs records, snapshot manifests and CLI metrics. */
  val json = new ObjectMapper()

  /** `v`, or null when it is not finite. */
  def putNum(o: ObjectNode, key: String, v: Double): ObjectNode =
    if (v.isNaN || v.isInfinite) o.putNull(key) else o.put(key, v)

  private val ids = new AtomicLong
  private var attached: (SparkContext, ObsListener) = _

  private def listener(sc: SparkContext): ObsListener = synchronized {
    if (attached == null || (attached._1 ne sc)) {
      val l = new ObsListener
      sc.addSparkListener(l)
      attached = (sc, l)
    }
    attached._2
  }

  /** Attach the listener now when the sink is configured. */
  def attachIfEnabled(sc: SparkContext): Unit =
    if (sc.getConf.getOption(SinkConf).exists(_.nonEmpty)) listener(sc)

  /** Run `body` as span `name`. The listener counts it when `track` is set
    * (the caller reads the span after [[drain]]) or the sink is on;
    * otherwise the span only sets the local properties. */
  def span[T](spark: SparkSession, name: String, track: Boolean = false)(body: => T): (T, Span) = {
    val sc = spark.sparkContext
    val s = new Span(ids.incrementAndGet(), name, spark.conf.getOption(SinkConf).filter(_.nonEmpty))
    val l = if (track || s.sink.isDefined) Some(listener(sc)) else None
    l.foreach(_.open.put(s.id, s))
    val prev = (sc.getLocalProperty(SpanKey), sc.getLocalProperty(SpanIdKey))
    sc.setLocalProperty(SpanKey, name)
    sc.setLocalProperty(SpanIdKey, s.id.toString)
    val t0 = System.nanoTime()
    try (body, s) finally {
      s.wallNs = System.nanoTime() - t0
      sc.setLocalProperty(SpanKey, prev._1)
      sc.setLocalProperty(SpanIdKey, prev._2)
      if (l.isDefined) bridge.postEvent(sc, SpanEnd(s))
    }
  }

  /** Wait until the listeners have seen every event posted so far. A bus
    * still busy after Spark's 10 s bound leaves the spans short rather than
    * failing the run that read them. */
  def drain(sc: SparkContext): Unit =
    try bridge.drainListenerBus(sc) catch { case _: java.util.concurrent.TimeoutException => () }
}
