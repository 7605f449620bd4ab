package graft

import org.apache.spark.sql.functions._

import graft.algo.{ConnectedComponents, LabelPropagation, PageRank}
import graft.exec.{GatherStrategy, IterConfig}
import graft.sources.Synth

/** Round-6 (optimization round) regressions:
  *   - salted hub-safe LP (VERDICT r05 #3): two-phase (src, salt) partial
  *     histograms must be label-identical to the single-phase aggregate,
  *     and the salt must actually bound any single group's buffer;
  *   - ranged CSR builds (RangedCsr): full-range blocks must reproduce the
  *     r05 semantics on graphs with isolated/duplicate/dangling structure;
  *   - CC local phase-2 fast path: identical labels with the threshold on
  *     and off;
  *   - block-co-partitioned ShuffleJoin PageRank gather: identical scores
  *     to the broadcast path (an explicit BroadcastState, the array tier).
  */
class Round6Spec extends SparkSuite {
  import spark.implicits._

  test("salted LP rounds are label-identical to single-phase LP on the hub graph") {
    val n = 600L
    val edges = Synth.skew(spark, n)
    val plain = LabelPropagation.run(spark, edges, n, maxIter = 3,
      strategy = GatherStrategy.ShuffleJoin)
      .labels.orderBy("id").collect().toSeq
    spark.conf.set("spark.graft.lp.salts", "8")
    val salted =
      try LabelPropagation.run(spark, edges, n, maxIter = 3,
          strategy = GatherStrategy.ShuffleJoin)
        .labels.orderBy("id").collect().toSeq
      finally spark.conf.unset("spark.graft.lp.salts")
    assert(salted == plain)
  }

  test("salting bounds the max single-group histogram buffer") {
    // hub graph: vertex 0's in-degree is ~n. The phase-1 aggregation key is
    // (src, pmod(hash(dst), salts)) — measure the worst group directly on
    // the same link set the round aggregates.
    val n = 600L
    val salts = 8
    val links = graft.graph.AdjacencyBuilder.symmetrize(Synth.skew(spark, n))
    val unsaltedMax = links.groupBy("src")
      .agg(countDistinct("dst").as("d"))
      .agg(max("d")).as[Long].head()
    val saltedMax = links
      .groupBy(col("src"), pmod(hash(col("dst")), lit(salts)).as("_salt"))
      .agg(countDistinct("dst").as("d"))
      .agg(max("d")).as[Long].head()
    // buffer bytes ~ 16 B/label + 13 B header (LabelMode.serializeHist)
    assert(unsaltedMax > n / 2, s"fixture lost its hub (max deg $unsaltedMax)")
    assert(saltedMax * 16 + 13 < (unsaltedMax * 16 + 13) / 2,
      s"salting did not bound the hub buffer: $unsaltedMax -> $saltedMax")
    assert(saltedMax <= unsaltedMax / salts * 2 + 8,
      s"salt spread worse than 2x ideal: $unsaltedMax/$salts vs $saltedMax")
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
