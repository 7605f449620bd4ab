package graft

import graft.algo.{ConnectedComponents, LabelPropagation, LabelPropagationArray, PageRank}
import graft.exec.{GatherStrategy, IterConfig}
import graft.sources.Synth

/** Round-6 (optimization round) regressions:
  *   - hub-safe LP (VERDICT r05 #3): the DataFrame rounds on the hub graph
  *     must be label-identical to the array tier;
  *   - ranged CSR builds (RangedCsr): full-range blocks must reproduce the
  *     r05 semantics on graphs with isolated/duplicate/dangling structure;
  *   - CC local phase-2 fast path: identical labels with the threshold on
  *     and off;
  *   - block-co-partitioned ShuffleJoin PageRank gather: identical scores
  *     to the broadcast path (an explicit BroadcastState, the array tier).
  */
class Round6Spec extends SparkSuite {
  import spark.implicits._

  test("ShuffleJoin LP on the hub graph is label-identical to the array tier") {
    // vertex 0's degree is ~n: the DataFrame rounds count per (vertex,
    // label), so its neighbor labels spread over many groups
    val n = 600L
    val edges = Synth.skew(spark, n)
    val df = LabelPropagation.run(spark, edges, n, maxIter = 3,
      strategy = GatherStrategy.ShuffleJoin)
      .labels.orderBy("id").collect().toSeq
    val ar = LabelPropagationArray.run(spark, edges, n, maxIter = 3)
      .labels.orderBy("id").collect().toSeq
    assert(df == ar)
  }

  test("ranged CSR build handles isolated, dangling and duplicate-edge structure") {
    // 10 vertices: 7 isolated, one dangling src chain, a duplicate edge
    // (accumulates), and an out-of-order id pair
    val edges = Seq(
      (2L, 1L, 0.5), (2L, 1L, 0.25), // duplicate: accumulates
      (1L, 0L, 1.0),                 // 0 has in-edges, no out-edges (dangling)
      (9L, 3L, 2.0)
    ).toDF("src", "dst", "w")
    val r = graft.algo.PageRankArray.run(spark, edges, 10L,
      cfg = IterConfig(tol = 0.0, maxIter = 3))
    val df = PageRank.run(spark, edges, 10L,
      cfg = IterConfig(tol = 0.0, maxIter = 3),
      strategy = GatherStrategy.ShuffleJoin)
    val a = r.state.orderBy("id").as[(Long, Double)].collect()
    val b = df.state.orderBy("id").as[(Long, Double)].collect()
    assert(a.length == 10 && b.length == 10)
    a.zip(b).foreach { case ((ia, xa), (ib, xb)) =>
      assert(ia == ib && math.abs(xa - xb) < 1e-12, s"id $ia: $xa vs $xb")
    }
  }

  test("CC local phase-2 fast path == pointer-jump loop labels") {
    val n = 512L
    val edges = Synth.blocks(spark, n, 16)
    val fast = ConnectedComponents.run(spark, edges, n)
      .labels.orderBy("id").as[(Long, Long)].collect().toSeq
    spark.conf.set("spark.graft.cc.localContractEdges", "-1") // force loop
    val loop =
      try ConnectedComponents.run(spark, edges, n)
        .labels.orderBy("id").as[(Long, Long)].collect().toSeq
      finally spark.conf.unset("spark.graft.cc.localContractEdges")
    assert(fast == loop)
    // closed-form oracle: label of i is (i / 16) * 16
    fast.foreach { case (id, lab) => assert(lab == id / 16 * 16) }
  }

  test("block-co-partitioned ShuffleJoin PageRank == broadcast-path scores") {
    val n = 512L
    val edges = Synth.band(spark, n, 8)
    val sj = PageRank.run(spark, edges, n,
      cfg = IterConfig(tol = 0.0, maxIter = 5),
      strategy = GatherStrategy.ShuffleJoin)
      .state.orderBy("id").as[(Long, Double)].collect()
    val bc = PageRank.run(spark, edges, n,
      cfg = IterConfig(tol = 0.0, maxIter = 5),
      strategy = GatherStrategy.BroadcastState)
      .state.orderBy("id").as[(Long, Double)].collect()
    sj.zip(bc).foreach { case ((ia, xa), (ib, xb)) =>
      assert(ia == ib && math.abs(xa - xb) < 1e-12)
    }
  }
}
