package graft

import graft.SparkSuite.withTempDir
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.algo.{ConnectedComponents, ConnectedComponentsArray, LabelPropagation,
  LabelPropagationArray, PageRank, PageRankArray, SpmvLayouts}
import graft.exec.{GatherStrategy, IterConfig, Iterate}
import graft.graph.RangedCsr
import graft.sources.Synth

/** The broadcast-array tiers on the shared block driver (BlockIterate):
  *   - f32 and f64 PageRank agree and stop together; f32 warns on a
  *     tolerance it cannot resolve;
  *   - the PageRank build reads its edge table once, and non-finite
  *     weights make their source dangling instead of leaking its mass, in
  *     the ShuffleJoin tier too;
  *   - a null id, or one outside [0, n), fails the build on row-backed and
  *     columnar inputs;
  *   - the columnar build source gives bit-identical results to the row
  *     source on the same table;
  *   - every iteration is one job over the cached blocks;
  *   - a snapshot written by the array tier reads back as the returned state;
  *   - PageRank, CC and LP array tiers are row-identical to their DataFrame
  *     tiers on shapes that stress the range contract and the builds;
  *   - released blocks leave no cached RDD and log no WARN.
  */
class BlockIterateSpec extends SparkSuite {
  import spark.implicits._
  import BlockIterateSpec.withPartitions

  private def scores(df: DataFrame): Array[(Long, Double)] =
    df.orderBy("id").as[(Long, Double)].collect()
  private def labels(df: DataFrame): Seq[(Long, Long)] =
    df.orderBy("id").as[(Long, Long)].collect().toSeq

  test("f32 PageRankArray == f64 within 1e-5 relative, same iteration count") {
    val n = 4096L
    val edges = Synth.band(spark, n, 8)
    val cfg = IterConfig(tol = 1e-7, maxIter = 100)
    val d = PageRankArray.run(spark, edges, n, cfg = cfg)
    val f = PageRankArray.run(spark, edges, n, cfg = cfg, floatPrecision = true)
    assert(d.metrics.map(_.strategy).distinct == Seq("BroadcastArray"))
    assert(f.metrics.map(_.strategy).distinct == Seq("BroadcastArrayF32"))
    assert(d.metrics.length == f.metrics.length && d.metrics.length < cfg.maxIter,
      s"f64 ran ${d.metrics.length} iterations, f32 ${f.metrics.length}")
    val xd = scores(d.state)
    val xf = scores(f.state)
    assert(xd.length == n && xf.length == n)
    xd.zip(xf).foreach { case ((i, a), (j, b)) =>
      assert(i == j && math.abs(a - b) <= 1e-5 * math.abs(a), s"vertex $i: $a vs $b")
    }
  }

  test("f32 PageRankArray warns once on a tolerance below its floor, never at tol = 0") {
    val n = 200L
    val edges = Synth.band(spark, n, 4)
    def warnings(tol: Double, f32: Boolean): Int = LogCapture.warnings(
      PageRankArray.run(spark, edges, n, floatPrecision = f32,
        cfg = IterConfig(tol = tol, maxIter = 3, norm = "l1")))._2
      .count(_.contains("f32 PageRank cannot resolve"))
    assert(PageRankArray.f32TolFloor("l1", n) == Math.ulp(1.0f))
    assert(warnings(1e-9, f32 = true) == 1)
    assert(warnings(0.0, f32 = true) == 0)
    assert(warnings(1e-6, f32 = true) == 0)
    assert(warnings(1e-9, f32 = false) == 0)
  }

  test("the PageRank array tier reads its edge table once, f64, f32 and under Auto") {
    val rows = Synth.band(spark, 500, 6).as[(Long, Long, Double)].collect()
    val read = spark.sparkContext.longAccumulator("edge rows read")
    val edges = spark.sparkContext.parallelize(rows.toSeq, 4)
      .map { e => read.add(1); e }.toDF("src", "dst", "w")
    val cfg = IterConfig(tol = 0.0, maxIter = 3)
    def reads(run: => PageRank.Result): Long = {
      read.reset()
      run.state.collect()
      read.value
    }
    assert(reads(PageRankArray.run(spark, edges, 500, cfg = cfg)) == rows.length, "f64")
    assert(reads(PageRankArray.run(spark, edges, 500, cfg = cfg, floatPrecision = true)) ==
      rows.length, "f32")
    assert(reads(PageRank.run(spark, edges, 500, cfg = cfg)) == rows.length, "Auto")
  }

  test("a NaN or +inf weight makes its source dangling: scores finite, mass 1") {
    // damping 1/2 on 4 vertices keeps every score a short binary fraction
    // for 8 iterations, so the f32 run sums to 1 exactly as well. Sources 0
    // (w = NaN) and 1 (w = +inf) are dangling; 0's finite edge carries 0.
    val edges = Seq((0L, 1L, Double.NaN), (0L, 3L, 1.0), (1L, 2L, Double.PositiveInfinity),
      (2L, 3L, 1.0), (3L, 2L, 1.0)).toDF("src", "dst", "w")
    val cfg = IterConfig(tol = 0.0, maxIter = 8)
    val runs = Seq(
      "f64" -> PageRankArray.run(spark, edges, 4, damping = 0.5, cfg = cfg),
      "f32" -> PageRankArray.run(spark, edges, 4, damping = 0.5, cfg = cfg,
        floatPrecision = true),
      "ShuffleJoin" -> PageRank.run(spark, edges, 4, damping = 0.5, cfg = cfg,
        strategy = GatherStrategy.ShuffleJoin))
    val xs = runs.map { case (name, r) => name -> scores(r.state).map(_._2) }
    for ((name, x) <- xs) {
      assert(x.length == 4 && x.forall(v => !v.isNaN && !v.isInfinite), s"$name: ${x.toSeq}")
      assert(math.abs(x.sum - 1.0) <= 1e-9, s"$name: ${x.toSeq}")
      assert(x(0) == x(1) && x(2) == x(3), s"$name: ${x.toSeq}")
    }
    xs.head._2.zip(xs.last._2).foreach { case (a, b) =>
      assert(math.abs(a - b) <= 1e-12, s"f64 ${xs.head._2.toSeq} vs ShuffleJoin ${xs.last._2.toSeq}")
    }
  }

  test("a null id or an id outside [0, n) fails the build, on rows and on batches") {
    val n = 5L
    val good = Seq((Option(0L), Option(1L), 1.0), (Option(1L), Option(2L), 1.0))
    val bad = Seq(
      "null src" -> ((None, Some(3L), 1.0), "src = null"),
      "null dst" -> ((Some(3L), None, 1.0), "dst = null"),
      "dst = n" -> ((Some(3L), Some(n), 1.0), s"dst = $n"))
    for ((what, (edge, shown)) <- bad; columnar <- Seq(false, true)) {
      val rows = (good :+ edge).toDF("src", "dst", "w")
      def check(edges: DataFrame): Unit = {
        assert(RangedCsr.columnarSource(BlockIterateSpec.weighted(edges)).isDefined == columnar)
        val builds = Seq[(String, () => Any)](
          "PageRankArray" -> (() => PageRankArray.run(spark, edges, n)),
          "PageRankArray f32" -> (() => PageRankArray.run(spark, edges, n, floatPrecision = true)),
          "ConnectedComponentsArray" -> (() => ConnectedComponentsArray.run(spark, edges, n)),
          "LabelPropagationArray" -> (() => LabelPropagationArray.run(spark, edges, n)))
        for ((tier, build) <- builds) {
          val e = intercept[Exception](build())
          val iae = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            .collectFirst { case x: IllegalArgumentException => x }
          val where = s"$what, $tier, columnar = $columnar"
          assert(iae.isDefined, s"$where: $e")
          assert(iae.get.getMessage.startsWith("edge (") && iae.get.getMessage.contains(shown),
            s"$where: ${iae.get.getMessage}")
        }
      }
      if (columnar) BlockIterateSpec.viaParquet(spark, rows)(check) else check(rows)
    }
  }

  test("PageRankArray snapshot read back by Iterate.resume equals the returned state") {
    val n = 300L
    val edges = Synth.blocks(spark, n, 50)
    for (f32 <- Seq(false, true)) withTempDir("graft-array-snap") { tmp =>
      val dir = tmp.toString
      val r = PageRankArray.run(spark, edges, n, floatPrecision = f32,
        cfg = IterConfig(tol = 0.0, maxIter = 4, snapshotDir = Some(dir), snapshotEvery = 2))
      val Some((snap, iter, _)) = Iterate.resume(spark, dir)
      assert(iter == 4)
      assert(scores(snap).toSeq == scores(r.state).toSeq, s"f32=$f32")
    }
  }

  test("PageRank array tier == DataFrame tier on adversarial shapes") {
    for ((name, n, p, edges) <- BlockIterateSpec.shapes(spark)) withPartitions(spark, p) {
      val cfg = IterConfig(tol = 0.0, maxIter = 6)
      val arr = scores(PageRankArray.run(spark, edges, n, cfg = cfg).state)
      val df = scores(PageRank.run(spark, edges, n, cfg = cfg,
        strategy = GatherStrategy.ShuffleJoin).state)
      assert(arr.map(_._1).toSeq == (0L until n), name)
      assert(df.map(_._1).toSeq == (0L until n), name)
      arr.zip(df).foreach { case ((i, a), (_, b)) =>
        assert(math.abs(a - b) < 1e-12, s"$name, vertex $i: $a vs $b")
      }
    }
  }

  test("CC and LP array tiers == DataFrame tiers on adversarial shapes") {
    for ((name, n, p, edges) <- BlockIterateSpec.shapes(spark)) withPartitions(spark, p) {
      val cc = labels(ConnectedComponentsArray.run(spark, edges, n).labels)
      assert(cc == labels(ConnectedComponents.run(spark, edges, n).labels), s"CC: $name")
      val lp = labels(LabelPropagationArray.run(spark, edges, n, maxIter = 5).labels)
      assert(lp == labels(LabelPropagation.run(spark, edges, n, maxIter = 5,
        strategy = GatherStrategy.ShuffleJoin).labels), s"LP: $name")
      assert(cc.map(_._1) == (0L until n) && lp.map(_._1) == (0L until n), name)
    }
  }

  test("the columnar build source == the row source, bit for bit, on parquet inputs") {
    for ((name, n, p, rows) <- BlockIterateSpec.shapes(spark)) withPartitions(spark, p) {
      BlockIterateSpec.viaParquet(spark, rows) { columnar =>
        // a filter the plan match rejects: the same rows, read as rows
        val rowWise = columnar.filter(col("src") >= 0)
        assert(RangedCsr.columnarSource(BlockIterateSpec.weighted(columnar)).isDefined, name)
        assert(RangedCsr.columnarSource(BlockIterateSpec.symmetric(columnar)).isDefined, name)
        assert(RangedCsr.columnarSource(BlockIterateSpec.weighted(rowWise)).isEmpty, name)
        assert(RangedCsr.columnarSource(BlockIterateSpec.symmetric(rowWise)).isEmpty, name)
        val cfg = IterConfig(tol = 0.0, maxIter = 6)
        for (f32 <- Seq(false, true)) {
          def pr(e: DataFrame) = scores(PageRankArray.run(spark, e, n, cfg = cfg,
            floatPrecision = f32).state).toSeq
          assert(pr(columnar) == pr(rowWise), s"PageRank f32=$f32: $name")
        }
        assert(labels(ConnectedComponentsArray.run(spark, columnar, n).labels) ==
          labels(ConnectedComponentsArray.run(spark, rowWise, n).labels), s"CC: $name")
        assert(labels(LabelPropagationArray.run(spark, columnar, n, maxIter = 5).labels) ==
          labels(LabelPropagationArray.run(spark, rowWise, n, maxIter = 5).labels), s"LP: $name")
      }
    }
  }

  test("each array-tier iteration is one job over the cached blocks") {
    val sc = spark.sparkContext
    val group = "graft-block-iterate-jobs"
    // per job of the group: its final RDD and every RDD its stages compute
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int, Set[Int])]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group) {
          val result = e.stageInfos.maxBy(_.stageId)
          jobs.add((e.jobId, result.rddInfos.head.id,
            e.stageInfos.flatMap(_.rddInfos.map(_.id)).toSet))
        }
    }
    val edges = Synth.blocks(spark, 400, 40)
    val runs = Seq[(String, () => Int)](
      "PageRank" -> (() => PageRankArray.run(spark, edges, 400,
        cfg = IterConfig(tol = 0.0, maxIter = 5)).metrics.length),
      "PageRank f32" -> (() => PageRankArray.run(spark, edges, 400, floatPrecision = true,
        cfg = IterConfig(tol = 0.0, maxIter = 5)).metrics.length),
      "CC" -> (() => ConnectedComponentsArray.run(spark, edges, 400).metrics.length),
      "LP" -> (() => LabelPropagationArray.run(spark, edges, 400, maxIter = 4).metrics.length))
    sc.addSparkListener(l)
    try for ((name, run) <- runs) {
      jobs.clear()
      sc.setJobGroup(group, name)
      val iters = try run() finally sc.clearJobGroup()
      org.apache.spark.sql.graft.bridge.drainListenerBus(sc)
      val seen = jobs.toArray(Array.empty[(Int, Int, Set[Int])]).sortBy(_._1).toSeq
      assert(iters > 1 && seen.length == iters + 1,
        s"$name: ${seen.length} jobs for the build and $iters iterations")
      // the first job builds and caches the blocks; every iteration job
      // computes exactly those blocks again: no RDD made after the build
      val blocks = seen.head._2
      assert(seen.tail.forall(_._2 == blocks), s"$name: ${seen.map(_._2)}")
      assert(seen.tail.map(_._3).distinct.length == 1, s"$name: ${seen.map(_._3)}")
    } finally sc.removeSparkListener(l)
  }

  test("array tiers release their blocks without the locally-checkpointed WARN") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val (_, warned) = LogCapture.warnings {
      LabelPropagation.run(spark, Synth.blocks(spark, 300, 30), 300, maxIter = 3)
        .labels.collect()
      SpmvLayouts.build(spark, Synth.band(spark, 256, 8), 256, SpmvLayouts.Ellpack)
        .unpersist()
    }
    assert((sc.getPersistentRDDs.keySet.toSet -- before).isEmpty)
    assert((sc.getRDDStorageInfo.map(_.id).toSet -- before).isEmpty)
    assert(!warned.exists(_.contains("locally checkpointed")), warned.mkString("\n"))
  }
}

object BlockIterateSpec {
  def withPartitions[T](spark: SparkSession, p: Int)(f: => T): T = {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", p.toString)
    try f finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  /** `f` over `rows` written to, and read back from, a parquet table in a
    * temp dir that is removed afterwards. */
  def viaParquet[T](spark: SparkSession, rows: DataFrame)(f: DataFrame => T): T =
    withTempDir("graft-parquet") { dir =>
      rows.write.parquet(dir.resolve("t").toString)
      f(spark.read.parquet(dir.resolve("t").toString))
    }

  /** The projections the PageRank and CC/LP array tiers hand their builds. */
  def weighted(edges: DataFrame): DataFrame =
    edges.select(col("dst").cast("long"), col("src").cast("long"), col("w").cast("double"))
  def symmetric(edges: DataFrame): DataFrame =
    edges.select(col("src").cast("long"), col("dst").cast("long"))

  /** (name, n, partitions, edges): trailing empty blocks (partitions > V),
    * V not divisible by the partition count, all-dangling (zero weights),
    * no edges at all, isolated vertices, self-loops, duplicate edges, and
    * weights whose out-weight totals are summed across map tasks. */
  def shapes(spark: SparkSession): Seq[(String, Long, Int, DataFrame)] = {
    import spark.implicits._
    Seq(
      ("partitions > V, self-loops, duplicates, isolated", 10L, 16, Seq(
        (2L, 1L, 0.5), (2L, 1L, 0.25), (1L, 0L, 1.0), (9L, 3L, 2.0),
        (4L, 4L, 1.0), (5L, 5L, 1.0), (5L, 6L, 1.0), (6L, 5L, 1.0)
      ).toDF("src", "dst", "w")),
      ("V = 101 over 4 partitions, hub", 101L, 4, Synth.skew(spark, 101L)),
      ("V = 97 over 7 partitions, scatter + duplicates", 97L, 7,
        Synth.scatter(spark, 97L, 3).union(Synth.scatter(spark, 97L, 2))),
      ("all-dangling: zero-weight ring", 9L, 4,
        (0L until 9L).map(i => (i, (i + 1) % 9, 0.0)).toDF("src", "dst", "w")),
      ("no edges", 5L, 3, Seq.empty[(Long, Long, Double)].toDF("src", "dst", "w")),
      // round-robin over 3 map tasks spreads each source's out-edges, so a
      // block sums its sources' totals from several tasks' partials
      ("signed weights over 3 map tasks", 10L, 4, Seq(
        (0L, 1L, 1.0), (0L, 2L, -1.0), // sign-cancelling total: dangling
        (1L, 3L, -2.0), (1L, 0L, 0.5), // negative total: dangling
        (2L, 4L, 0.0), (2L, 5L, 1.0), (2L, 3L, 2.0), // zero-weight edge, live
        (3L, 0L, 1.0), (3L, 2L, 0.5), (3L, 1L, 0.5),
        (6L, 7L, -0.5), (6L, 0L, 1.5), // negative edge of a live source
        (7L, 0L, 0.5), (7L, 0L, 0.5), (5L, 7L, 1.0), (4L, 6L, 0.25), (4L, 5L, 0.25)
      ).toDF("src", "dst", "w").repartition(3)))
  }
}
