package graft

import org.apache.spark.sql.DataFrame

import graft.algo.PageRank
import graft.exec.{GatherStrategy, IterConfig}
import graft.sources.Synth

/** `PageRank.run` picks its tier the way `LabelPropagation.run` does:
  *   - whenever the strategy resolves to BroadcastState (Auto at
  *     V <= maxBroadcastVertices, or explicit), resumed runs included, it
  *     runs the broadcast-array tier;
  *   - ShuffleJoin, explicit or from Auto above the bound, runs the
  *     DataFrame tier, resumed or not.
  */
class PageRankRoutingSpec extends SparkSuite {
  import GatherStrategy.{Auto, BroadcastState, ShuffleJoin}

  test("BroadcastState and resumed Auto run the array tier; ShuffleJoin and Auto above the bound the DataFrame tier") {
    val n = 300L
    val edges = Synth.blocks(spark, n, 50)
    val from = Some((spark.range(n).selectExpr("id", s"1.0 / $n AS x"), 1))
    def tier(strategy: GatherStrategy,
        resumeFrom: Option[(DataFrame, Int)] = None): (Seq[String], GatherStrategy) = {
      val r = PageRank.run(spark, edges, n, cfg = IterConfig(tol = 0.0, maxIter = 3),
        strategy = strategy, resumeFrom = resumeFrom)
      (r.metrics.map(_.strategy).distinct, r.strategy)
    }
    val array = (Seq("BroadcastArray"), BroadcastState)
    val dataFrame = (Seq("ShuffleJoin"), ShuffleJoin)
    assert(tier(Auto()) == array)
    assert(tier(BroadcastState) == array)
    assert(tier(Auto(), from) == array)
    assert(tier(BroadcastState, from) == array)
    assert(tier(Auto(maxBroadcastVertices = n - 1)) == dataFrame)
    assert(tier(ShuffleJoin) == dataFrame)
    assert(tier(ShuffleJoin, from) == dataFrame)
  }
}
