package graft

import org.apache.spark.sql.functions.col

import graft.algo.{PageRank, PageRankArray}
import graft.exec.{GatherStrategy, IterConfig}
import graft.sources.Synth

/** The one stop rule ([[graft.exec.IterConfig]]): its norms mean the same on
  * both tiers, a norm a tier cannot compute is rejected by name, and
  * tol = 0 runs exactly maxIter measured iterations. */
class StopRuleSpec extends SparkSuite {

  test("an unknown norm fails, naming the accepted norms") {
    val e = intercept[IllegalArgumentException](IterConfig(norm = "L1"))
    assert(e.getMessage.contains("\"L1\"") && e.getMessage.contains("linf, l1, changed"),
      e.getMessage)
  }

  test("both PageRank tiers reject the changed norm") {
    val edges = Synth.band(spark, 64, 4)
    for (st <- Seq(GatherStrategy.ShuffleJoin, GatherStrategy.BroadcastState)) {
      val e = intercept[IllegalArgumentException](
        PageRank.run(spark, edges, 64, cfg = IterConfig(norm = "changed"), strategy = st))
      assert(e.getMessage.contains("PageRank: norm \"changed\" is not one of linf, l1"),
        s"$st: ${e.getMessage}")
    }
  }

  test("at tol = 0 both PageRank tiers run maxIter iterations with the same measured deltas") {
    val n = 300L
    // every 7th vertex keeps no out-edge: both tiers' dangling paths run
    val edges = Synth.blocks(spark, n, 50).filter(col("src") % 7 =!= 0)
    for (norm <- Seq("l1", "linf")) {
      val cfg = IterConfig(tol = 0.0, maxIter = 6, norm = norm)
      val df = PageRank.run(spark, edges, n, cfg = cfg, strategy = GatherStrategy.ShuffleJoin)
        .metrics.map(_.delta)
      val ar = PageRankArray.run(spark, edges, n, cfg = cfg).metrics.map(_.delta)
      assert(df.length == 6 && ar.length == 6, s"$norm: $df vs $ar")
      assert(df.forall(d => d > 0 && d < Double.PositiveInfinity), s"$norm: $df")
      df.zip(ar).foreach { case (a, b) => assert(math.abs(a - b) <= 1e-12, s"$norm: $df vs $ar") }
    }
  }
}
