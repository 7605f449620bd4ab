package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

import graft.algo.{ConnectedComponents, LabelPropagation, LabelPropagationArray, PageRank}
import graft.exec.{GatherStrategy, IterConfig}
import graft.operators.{Ann, Dedup}
import graft.sources.Synth
import graft.util.LongLongMap

/** Round-5 regressions, one per VERDICT r04 / ADVICE item:
  *   #1 fused convergence: ONE Spark job per convergence-mode iteration
  *   #4 exact changed-count convergence at Long.MaxValue-scale labels
  *   #2 LP: array tier row-identical to the DataFrame tier; LabelMode agg
  *   #5 LSH bucket joins carry no embedding arrays (pair-dedup first)
  *   #6 primitive union-find map
  *   ADVICE: spreadForScan must not touch shuffle-derived plans
  */
class Round5Spec extends SparkSuite {

  // ---------- #1: one job per convergence-mode iteration ----------

  /** Jobs submitted during `f`, counted via listener once the bus has
    * delivered every event `f` posted. */
  private def countJobs(f: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      f
      org.apache.spark.sql.graft.bridge.drainListenerBus(spark.sparkContext)
      n.get()
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("r04 #1: a convergence-mode ShuffleJoin iteration is 2 jobs, join-free delta") {
    // Same run at two iteration counts; tol tiny so delta never stops the
    // loop. The difference isolates the per-iteration job count — setup
    // (normalize, dangling, init) and teardown jobs cancel out exactly.
    // r06 tightened this from 2 jobs to ONE: the checkpoint is LAZY in
    // fused-convergence mode, so the scan-agg delta both materializes the
    // cache/checkpoint AND computes the delta in a single job (no
    // old-vs-new shuffle join either — r04's dist() was a third job AND a
    // join; the retired one-job accumulator fusion broke the state's hash
    // partitioning, see Iterate's IterConfig scaladoc).
    def jobs(iters: Int): Int = countJobs {
      PageRank.run(spark, Synth.band(spark, 256, 4), 256,
        cfg = IterConfig(tol = 1e-300, maxIter = iters, norm = "l1"),
        strategy = GatherStrategy.ShuffleJoin)
    }
    val j3 = jobs(3)
    val j6 = jobs(6)
    assert(j6 - j3 === 3,
      s"each convergence-mode iteration must cost exactly ONE job " +
        s"(the scan delta materializes cache + lazy checkpoint): got ${j6 - j3} jobs per 3 iters ($j3 -> $j6)")
  }

  test("r04 #1: CKPT=3 convergence iterations cost 3 jobs per 3 iterations") {
    // Non-checkpoint iterations persist lazily; the scan-agg delta is the
    // ONE action that both materializes the cache and computes the delta
    // (InMemoryRelation builds full-row batches on first scan, whatever the
    // projection). r06: the checkpoint-boundary iteration is lazy too
    // (localCheckpoint(eager=false) — the delta scan performs the marked
    // checkpoint inside its own job), so 3 iterations = 1 + 1 + 1 = 3 jobs.
    def jobs(iters: Int): Int = countJobs {
      PageRank.run(spark, Synth.band(spark, 256, 4), 256,
        cfg = IterConfig(tol = 1e-300, maxIter = iters, norm = "l1",
          checkpointEvery = 3),
        strategy = GatherStrategy.ShuffleJoin)
    }
    val j3 = jobs(3)
    val j6 = jobs(6)
    assert(j6 - j3 === 3,
      s"CKPT=3 must cost 3 jobs per 3 iterations (scan delta doubles as " +
        s"the persist/checkpoint materializer): got ${j6 - j3} ($j3 -> $j6)")
  }

  test("r04 #1: fused-l1 delta stops the loop and computes the same states") {
    val n = 200L
    val conv = PageRank.run(spark, Synth.band(spark, n, 4), n,
      cfg = IterConfig(tol = 1e-4, maxIter = 100, norm = "l1"),
      strategy = GatherStrategy.ShuffleJoin)
    val iters = conv.metrics.length
    // stopped on the fused delta, not the cap, and the recorded last delta
    // is below tol (the accumulator measured what dist would have)
    assert(iters < 100, "expected l1 convergence before the cap")
    assert(conv.metrics.last.delta < 1e-4)
    // identical state values to a fixed-iteration run of the same length:
    // the fused map only strips x_old — it must not perturb x
    val fixed = PageRank.run(spark, Synth.band(spark, n, 4), n,
      cfg = IterConfig(tol = 0.0, maxIter = iters),
      strategy = GatherStrategy.ShuffleJoin).state
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val got = conv.state.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet === fixed.keySet)
    got.foreach { case (id, x) =>
      assert(math.abs(x - fixed(id)) < 1e-15, s"vertex $id: $x vs ${fixed(id)}")
    }
  }

  // ---------- #4: exact changed-count convergence at huge label scale ----------

  test("r04 #4: CC converges exactly where the old msum sum-compare would wrap") {
    import spark.implicits._
    // Labels are vertex ids near Long.MaxValue/2: four of them sum past
    // 2^63, so the retired msum convergence (compare sum(labels) between
    // rounds) operates on WRAPPED negative sums — and above 2^53 the
    // cast-to-double lost exactness anyway. The changed-count form compares
    // rows, not sums: exact at any magnitude.
    val b = Long.MaxValue / 2 + 1 // = 2^62
    val ids = Seq(b, b + 1, b + 2, b + 3)
    // 4·2^62 + 6 wraps mod 2^64 to just 6: the wrapped sum is SMALLER than
    // any single label — sum-based convergence compares garbage here
    assert(ids.sum < ids.min, "fixture must overflow Long summation (msum hazard)")
    val edges = Seq((b, b + 1), (b + 2, b + 3)).toDF("src", "dst")
    val vertices = ids.toDF("id")
    val loop = ConnectedComponents.pointerJump(spark, edges, vertices,
      IterConfig(tol = 0.5, maxIter = 30))
    val labels = loop.state.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === Map(b -> b, (b + 1) -> b, (b + 2) -> (b + 2), (b + 3) -> (b + 2)))
    // converged on no-change, well before the cap
    assert(loop.metrics.length < 30)
  }

  // ---------- #2: LP tiers agree; LabelMode semantics ----------

  test("r04 #2: LabelPropagationArray row-identical to DataFrame LP (blocks)") {
    val df = LabelPropagation.run(spark, Synth.blocks(spark, 600, 30), 600,
      maxIter = 5, strategy = GatherStrategy.ShuffleJoin).labels.orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val ar = LabelPropagationArray.run(spark, Synth.blocks(spark, 600, 30), 600,
      maxIter = 5).labels.orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(df.toSeq === ar.toSeq)
  }

  test("r04 #2: LabelPropagationArray row-identical to DataFrame LP (band)") {
    val df = LabelPropagation.run(spark, Synth.band(spark, 512, 6), 512,
      maxIter = 4, strategy = GatherStrategy.ShuffleJoin).labels.orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val ar = LabelPropagationArray.run(spark, Synth.band(spark, 512, 6), 512,
      maxIter = 4).labels.orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(df.toSeq === ar.toSeq)
  }

  test("LabelMode aggregate: count-desc label-asc, self excluded, own fallback") {
    import spark.implicits._
    // vertex 0: neighbors {5,5,3,3,7} -> tie 5 vs 3 at count 2 -> smallest=3
    // vertex 1: only a self row (label 42) -> keeps own label
    // vertex 2: self row label 9 + neighbor 1 -> adopts 1, x_old = 9
    val rows = Seq(
      (0L, 5L, false), (0L, 5L, false), (0L, 3L, false), (0L, 3L, false),
      (0L, 7L, false), (0L, 99L, true),
      (1L, 42L, true),
      (2L, 9L, true), (2L, 1L, false)).toDF("src", "x", "self")
    val got = rows.groupBy("src")
      .agg(graft.functions.LabelMode.labelMode(col("x"), col("self")).as("m"))
      .select(col("src"), col("m.x"), col("m.x_old"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got(0L) === ((3L, 99L)))
    assert(got(1L) === ((42L, 42L)))
    assert(got(2L) === ((1L, 9L)))
  }

  test("LP per-round plan: ONE aggregate, no groupBy(src,label) double shuffle") {
    // one round, fixed mode; the step plan must contain exactly one
    // Aggregate above the links-state join (the LabelMode one-pass form)
    val r = LabelPropagation.run(spark, Synth.blocks(spark, 120, 30), 120,
      maxIter = 1, strategy = GatherStrategy.ShuffleJoin)
    assert(r.labels.count() === 120)
    // job-count form: one LP round = ONE job (the join-free scan delta
    // materializes cache + lazy checkpoint, r06), same two-config
    // isolation as the PageRank test
    def jobs(iters: Int): Int = countJobs {
      LabelPropagation.run(spark, Synth.blocks(spark, 120, 30), 120,
        maxIter = iters, strategy = GatherStrategy.ShuffleJoin)
    }
    // blocks(120,30) sync-LP needs >6 rounds to settle, so both runs hit
    // the cap and the difference is pure per-iteration cost
    val j2 = jobs(2); val j4 = jobs(4)
    assert(j4 - j2 === 2,
      s"each LP round must cost exactly ONE job: got ${j4 - j2} jobs per 2 rounds")
  }

  // ---------- #5: LSH joins ship no arrays before pair-dedup ----------

  /** The ANALYZED plan (pre-cache-substitution: the pair operators come
    * back persisted+computed, so their optimizedPlan is already an
    * InMemoryRelation): the code builds explicit id+sig projections under
    * the bucket joins, so the join output must be array-free by plan
    * SHAPE, before any optimizer pruning. */
  private def sigJoinsCarryNoArrays(df: org.apache.spark.sql.DataFrame): Unit = {
    val joins = df.queryExecution.analyzed.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    val sigJoins = joins.filter(_.condition.exists(
      _.references.exists(_.name == "sig")))
    assert(sigJoins.nonEmpty, "expected an LSH bucket join on sig")
    sigJoins.foreach { j =>
      assert(!j.output.exists(_.dataType.isInstanceOf[ArrayType]),
        s"LSH bucket join must not carry embedding arrays: ${j.output.map(a => a.name -> a.dataType)}")
    }
  }

  test("r04 #5: lshTopK bucket join moves ids only; embeddings join after pair-dedup") {
    import spark.implicits._
    val emb = Synth.state(spark, 64)
      .select(col("id").as("vec_id"),
        array(col("x"), col("x") * 2, lit(1.0)).as("embedding"))
    val q = emb.filter(col("vec_id") % 8 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val res = Ann.lshTopK(emb, q, 3, bits = 6, tables = 3)
    sigJoinsCarryNoArrays(res)
    // and it still produces per-query ranked rows
    assert(res.count() > 0)
  }

  test("r04 #5: cosineNearDupPairs bucket self-join moves ids only") {
    val emb = Synth.state(spark, 64)
      .select(col("id").as("vec_id"),
        array(col("x"), lit(0.5), lit(1.0)).as("embedding"))
    val res = Ann.cosineNearDupPairs(emb, 0.2, bits = 5, tables = 3)
    sigJoinsCarryNoArrays(res)
    res.unpersist()
  }

  // ---------- #6: primitive map ----------

  test("LongLongMap agrees with a reference map across growth") {
    val m = new LongLongMap(4)
    val ref = scala.collection.mutable.Map.empty[Long, Long]
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 20000) {
      val k = rnd.nextInt(3000).toLong * (1L << rnd.nextInt(40))
      rnd.nextInt(3) match {
        case 0 => val v = rnd.nextLong(); m.put(k, v); ref(k) = v
        case 1 => m.addTo(k, 7); ref(k) = ref.getOrElse(k, 0L) + 7
        case _ =>
          assert(m.getOrDefault(k, -1L) === ref.getOrElse(k, -1L))
          assert(m.contains(k) === ref.contains(k))
      }
    }
    assert(m.size === ref.size)
    var seen = 0
    m.foreach { (k, v) => assert(ref(k) === v); seen += 1 }
    assert(seen === ref.size)
    // key 0 is a legal key (not the sentinel)
    m.put(0L, 123L)
    assert(m.getOrDefault(0L, -1L) === 123L)
  }

  test("label_mode from SQL (SparkSessionExtensions surface)") {
    GraftExtensions.register(spark)
    import spark.implicits._
    Seq((0L, 5L, false), (0L, 5L, false), (0L, 3L, false), (0L, 9L, true),
      (1L, 7L, true))
      .toDF("src", "x", "self").createOrReplaceTempView("lm_t")
    val r = spark.sql(
      """SELECT src, m.x AS x, m.x_old AS x_old
        |FROM (SELECT src, label_mode(x, self) AS m FROM lm_t GROUP BY src)
        |ORDER BY src""".stripMargin).collect()
    assert(r(0).getLong(1) === 5L && r(0).getLong(2) === 9L)
    assert(r(1).getLong(1) === 7L && r(1).getLong(2) === 7L)
  }

  // ---------- C3/C4/C5 + K14/K15: padded & dense layouts ----------

  test("ELLPACK / transposed-ELLPACK / dense SpMV all equal the CSR oracle kernel") {
    import graft.algo.{SpMV, SpmvLayouts}
    // skew graph: irregular out-degrees (2..4 after dedup) exercise padding
    val edges = Synth.skew(spark, 128)
    val state = Synth.state(spark, 128)
    val universe = Some(spark.range(128).toDF("id"))
    def vals(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
      df.orderBy("id").collect().toSeq
        .map(r => (r.getLong(0), math.rint(r.getDouble(1) * 1e9) / 1e9))
    val want = vals(SpMV(edges, state, universe, GatherStrategy.ShuffleJoin))
    for (layout <- Seq(SpmvLayouts.Ellpack, SpmvLayouts.EllpackT, SpmvLayouts.Dense)) {
      val got = vals(SpmvLayouts.spmvOnce(spark, edges, state, 128, layout, universe))
      assert(got === want, s"layout $layout diverged from the CSR kernel")
    }
  }

  test("padded/dense layouts accumulate duplicate edges (reference += semantics)") {
    import spark.implicits._
    import graft.algo.SpmvLayouts
    // (0 -> 1) twice with different weights, plus a single (1 -> 0)
    val edges = Seq((0L, 1L, 2.0), (0L, 1L, 3.0), (1L, 0L, 1.0)).toDF("src", "dst", "w")
    val state = Seq((0L, 10.0), (1L, 100.0)).toDF("id", "x")
    for (layout <- Seq(SpmvLayouts.Ellpack, SpmvLayouts.EllpackT, SpmvLayouts.Dense)) {
      val got = SpmvLayouts.spmvOnce(spark, edges, state, 2, layout)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got(0L) === 500.0, s"$layout: dup edges must accumulate") // (2+3)*100
      assert(got(1L) === 10.0)
    }
  }

  test("ELLPACK pad accounting: band is padding-free, a hub row pads to width") {
    import spark.implicits._
    import graft.algo.SpmvLayouts
    // const-degree band: width == degree, padRatio exactly 1.0
    val b = SpmvLayouts.build(spark, Synth.band(spark, 256, 8), 256, SpmvLayouts.Ellpack)
    assert(b.width === 8 && b.nnz === 256 * 8 && b.padRatio === 1.0)
    b.unpersist()
    // 1 hub row of degree 10 + 9 singleton rows: width 10, 100 slots, 19 nnz
    val hub = (0 until 10).map(j => (0L, j.toLong, 1.0)) ++
      (1 to 9).map(i => (i.toLong, 0L, 1.0))
    val h = SpmvLayouts.build(spark, hub.toDF("src", "dst", "w"), 16, SpmvLayouts.Ellpack)
    assert(h.width === 10 && h.nnz === 19)
    assert(math.abs(h.padRatio - 100.0 / 19.0) < 1e-12,
      s"padRatio must be slots/nnz: got ${h.padRatio}")
    h.unpersist()
  }

  // ---------- ADVICE: spreadForScan on shuffle-derived plans ----------

  test("spreadForScan is identity (no plan probe) on exchange-bearing inputs") {
    import spark.implicits._
    val shuffled = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
      .groupBy("doc_id").agg(first("text").as("text"))
    // must return the SAME DataFrame object: constructing toRdd on an
    // exchange-bearing plan under AQE would materialize stages eagerly
    assert(Dedup.spreadForScan(shuffled) eq shuffled)
  }
}
