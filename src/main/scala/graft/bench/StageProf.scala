package graft.bench

import org.apache.spark.SparkContext

/** The stage profiler of the bench mains is now the [[graft.obs.Obs]] sink:
  * with `spark.graft.obs.path` set, every span is one JSON line there. */
object StageProf {
  def attachIfEnabled(sc: SparkContext): Unit = graft.obs.Obs.attachIfEnabled(sc)
}
