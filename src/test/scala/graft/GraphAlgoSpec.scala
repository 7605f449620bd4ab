package graft

import org.apache.spark.sql.functions._
import graft.sources.{Mtx, Synth}
import graft.algo.{ConnectedComponents, LabelPropagation, PageRank, SpMV, TriangleCount}
import graft.exec.{GatherStrategy, IterConfig}

/** Minimum end-to-end slice (SURVEY.md §7.3.1) plus algorithm oracles. */
class GraphAlgoSpec extends SparkSuite {
  import spark.implicits._

  /** LFAT5-pattern 5x5 symmetric fixture (FIXTURES.md §1; values as in
    * `/root/reference/test.mtx`). */
  val lfat5Mtx: Seq[String] = Seq(
    "%%MatrixMarket matrix coordinate real symmetric",
    "5 5 6",
    "1 1 1.1",
    "2 1 1.2",
    "5 1 5.1",
    "4 2 2.4",
    "4 3 4.3",
    "5 3 3.5")

  test("mtx ingest: symmetric expansion to 11 edges (FIXTURES.md §1)") {
    val (h, edges) = Mtx.fromLines(spark, lfat5Mtx)
    assert(h.rows == 5 && h.symmetric && !h.pattern)
    val got = edges.as[(Long, Long, Double)].collect().toSet
    val want = Set(
      (0L, 0L, 1.1), (0L, 1L, 1.2), (0L, 4L, 5.1),
      (1L, 0L, 1.2), (1L, 3L, 2.4),
      (2L, 3L, 4.3), (2L, 4L, 3.5),
      (3L, 1L, 2.4), (3L, 2L, 4.3),
      (4L, 0L, 5.1), (4L, 2L, 3.5))
    assert(got == want)
  }

  test("golden SpMV on lfat5: flow = (29.0, 10.8, 34.7, 17.7, 15.6)") {
    val (_, edges) = Mtx.fromLines(spark, lfat5Mtx)
    val state = Seq.tabulate(5)(i => (i.toLong, (i + 1).toDouble)).toDF("id", "x")
    val verts = spark.range(5).toDF("id")
    val flow = SpMV(edges, state, Some(verts))
      .orderBy("id").as[(Long, Double)].collect().map(_._2)
    val want = Array(29.0, 10.8, 34.7, 17.7, 15.6)
    flow.zip(want).foreach { case (g, w) => assert(math.abs(g - w) < 1e-12) }
  }

  test("SpMV on band(512,16): engine == naive-kernel oracle, both strategies") {
    val n = 512; val l = 16
    val edges = Synth.band(spark, n, l)
    val state = Synth.state(spark, n)
    val want = Oracles.spmv(n, Oracles.bandEdges(n, l), Oracles.bandState(n))
    for (strategy <- Seq(GatherStrategy.ShuffleJoin, GatherStrategy.BroadcastState)) {
      val got = SpMV(edges, state, Some(spark.range(n).toDF("id")), strategy)
        .orderBy("id").as[(Long, Double)].collect()
      assert(got.length == n)
      got.foreach { case (id, x) =>
        assert(math.abs(x - want(id.toInt)) < 1e-9, s"vertex $id strategy $strategy")
      }
    }
  }

  test("SpMV sums duplicate edges (reference += semantics, SURVEY §1.3.2)") {
    val edges = Seq((0L, 1L, 2.0), (0L, 1L, 3.0)).toDF("src", "dst", "w")
    val state = Seq((0L, 1.0), (1L, 10.0)).toDF("id", "x")
    val got = SpMV(edges, state).as[(Long, Double)].collect().toMap
    assert(math.abs(got(0L) - 50.0) < 1e-12)
  }

  test("PageRank on band(256,8): allclose 1e-6 vs driver oracle; mass = 1") {
    val n = 256; val l = 8
    val edges = Synth.band(spark, n, l)
    val want = Oracles.pagerank(n, Oracles.bandEdges(n, l), tol = 1e-6)
    val res = PageRank.run(spark, edges, n,
      cfg = IterConfig(tol = 1e-6, maxIter = 150))
    val got = res.state.orderBy("id").as[(Long, Double)].collect()
    assert(math.abs(got.map(_._2).sum - 1.0) < 1e-9)
    got.foreach { case (id, x) =>
      assert(math.abs(x - want(id.toInt)) < 1e-6, s"vertex $id")
    }
  }

  test("PageRank handles dangling vertices (blocks graph chain tails)") {
    val n = 60; val b = 20L
    val edges = Synth.blocks(spark, n, b) // vertices 19,39,59 are dangling
    val edgeSeq = edges.as[(Long, Long, Double)].collect().toSeq
    val want = Oracles.pagerank(n, edgeSeq, tol = 1e-6)
    val res = PageRank.run(spark, edges, n,
      cfg = IterConfig(tol = 1e-6, maxIter = 150))
    val got = res.state.orderBy("id").as[(Long, Double)].collect()
    assert(math.abs(got.map(_._2).sum - 1.0) < 1e-9)
    got.foreach { case (id, x) =>
      assert(math.abs(x - want(id.toInt)) < 1e-6, s"vertex $id")
    }
  }

  test("PageRank on ring(64) is exactly uniform") {
    val n = 64
    val res = PageRank.run(spark, Synth.ring(spark, n), n)
    res.state.as[(Long, Double)].collect().foreach { case (id, x) =>
      assert(math.abs(x - 1.0 / n) < 1e-9, s"vertex $id")
    }
  }

  test("CC on blocks(200,25): label == (id/25)*25 closed form, exact") {
    val n = 200
    val labels = ConnectedComponents.run(spark, Synth.blocks(spark, n, 25), n)
      .labels.orderBy("id").as[(Long, Long)].collect()
    labels.foreach { case (id, l) => assert(l == (id / 25) * 25, s"vertex $id") }
  }

  test("CC on skew(150): exact match vs union-find oracle") {
    val n = 150
    val edges = Synth.skew(spark, n)
    val want = Oracles.cc(n, edges.select("src", "dst")
      .as[(Long, Long)].collect().toSeq)
    val got = ConnectedComponents.run(spark, edges, n)
      .labels.orderBy("id").as[(Long, Long)].collect()
    got.foreach { case (id, l) => assert(l == want(id.toInt), s"vertex $id") }
  }

  test("LP on blocks(60,12): exact match vs synchronous driver oracle") {
    val n = 60; val iters = 7
    val edges = Synth.blocks(spark, n, 12)
    val undirected = edges.select("src", "dst").as[(Long, Long)].collect().toSeq
    val want = Oracles.lp(n, undirected, iters)
    val got = LabelPropagation.run(spark, edges, n, maxIter = iters)
      .labels.orderBy("id").as[(Long, Long)].collect()
    got.foreach { case (id, l) => assert(l == want(id.toInt), s"vertex $id") }
  }

  test("triangles on band(120,6) and skew(150): exact vs brute force") {
    for ((edges, n) <- Seq((Synth.band(spark, 120, 6), 120),
        (Synth.skew(spark, 150L), 150))) {
      val es = edges.select("src", "dst").as[(Long, Long)].collect().toSeq
      val want = Oracles.triangles(n, es)
      val got = TriangleCount.countTriangles(spark, edges)
      assert(got == want, s"n=$n")
      assert(want > 0, s"fixture should contain triangles (n=$n)")
    }
  }

  test("broadcast-array PageRank kernel == DataFrame PageRank (same trajectory)") {
    val n = 300; val edges = Synth.blocks(spark, n, 50) // includes dangling
    val df = PageRank.run(spark, edges, n, cfg = IterConfig(tol = 0.0, maxIter = 7),
      strategy = GatherStrategy.ShuffleJoin)
      .state.orderBy("id").as[(Long, Double)].collect()
    val arr = graft.algo.PageRankArray.run(spark, edges, n,
      cfg = IterConfig(tol = 0.0, maxIter = 7))
      .state.orderBy("id").as[(Long, Double)].collect()
    df.zip(arr).foreach { case ((i1, x1), (i2, x2)) =>
      assert(i1 == i2 && math.abs(x1 - x2) < 1e-12, s"vertex $i1")
    }
  }

  test("salted sum == plain sum on skew graph (identical results, SURVEY §4.2.3)") {
    val edges = Synth.skew(spark, 300L)
    val plain = edges.groupBy("dst").agg(sum("w").as("sum"))
      .as[(Long, Double)].collect().toMap
    val salted = graft.exec.Gather
      .sumSalted(edges, "dst", col("w"), col("src"), numSalts = 8)
      .as[(Long, Double)].collect().toMap
    assert(plain.keySet == salted.keySet)
    plain.foreach { case (k, v) => assert(math.abs(v - salted(k)) < 1e-9) }
  }
}
