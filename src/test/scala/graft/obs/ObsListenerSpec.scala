package graft.obs

import java.util.Properties
import org.apache.spark.Success
import org.apache.spark.scheduler.{SparkListenerStageSubmitted, SparkListenerTaskEnd,
  StageInfo, TaskInfo, TaskLocality}
import org.scalatest.funsuite.AnyFunSuite

/** The span listener fed its events directly, without a SparkContext. */
class ObsListenerSpec extends AnyFunSuite {

  /** The task skew of one span whose stages ran tasks of the given ms. */
  private def skew(stages: Seq[Long]*): Double = {
    val l = new ObsListener
    val s = new Span(1L, "test:iter:1", None)
    l.open.put(s.id, s)
    val props = new Properties
    props.setProperty(Obs.SpanIdKey, s.id.toString)
    var taskId = 0L
    for ((tasks, stage) <- stages.zipWithIndex) {
      l.onStageSubmitted(SparkListenerStageSubmitted(new StageInfo(stage, 0, s"stage $stage",
        tasks.length, Seq.empty, Seq.empty, "", null, Seq.empty, None, 0, false, 0), props))
      for ((ms, i) <- tasks.zipWithIndex) {
        val info = new TaskInfo(taskId, i, 0, i, 1000L, "driver", "localhost",
          TaskLocality.PROCESS_LOCAL, false)
        info.finishTime = 1000L + ms
        taskId += 1
        l.onTaskEnd(SparkListenerTaskEnd(stage, 0, "ResultTask", Success, info, null, null))
      }
    }
    assert(s.stages == stages.length && s.tasks == stages.map(_.length).sum)
    s.skew
  }

  test("task skew is the largest per-stage max / mean task time") {
    // two balanced stages of unequal cost: no skew (all tasks pooled read ~1.98)
    assert(skew(Seq.fill(4)(100L), Seq.fill(4)(1L)) == 1.0)
    assert(skew(Seq(300L, 100L, 100L, 100L)) == 2.0)
    assert(skew(Seq(300L, 100L, 100L, 100L), Seq.fill(4)(100L)) == 2.0)
    assert(skew().isNaN)
  }
}
