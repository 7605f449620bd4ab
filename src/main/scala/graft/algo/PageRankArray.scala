package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.exec.{BlockIterate, IterConfig, StateCodec}
import graft.exec.BlockIterate.Kernel
import graft.graph.RangedCsr

/** PageRank over per-partition FLAT CSR blocks with a broadcast primitive-
  * array state — the reference's K6 broadcast-gather kernel
  * (`/root/reference/include/graphCSR.hpp:215-249`: per row, gather
  * `weights[colInd[j]]` and multiply-accumulate) expressed as a typed
  * per-partition loop over exactly the reference's CSR layout
  * (rowPtr/colInd/val, `include/graphCSR.hpp:382-384`).
  *
  * WHY this exists (SURVEY.md §4.1 committed to "primitive-map gather in
  * typed mapPartitions ONLY if the codegen aggregate proves slow"): the
  * DataFrame join+aggregate iteration pays row serialization, hash-table
  * inserts, and cache decompression per edge. This kernel iterates flat
  * primitive arrays (one CSR block per partition, RDD MEMORY_ONLY cache —
  * no per-iteration decode, no per-row object headers) against a state
  * array indexed by the dense vertex id; the inner loop is a multiply-add
  * stream at ~ns/edge.
  *
  * The iteration protocol is [[graft.exec.BlockIterate]]'s. Per iteration
  * the driver computes the dangling mass and the additive `base` term from
  * the CURRENT state (an O(#dangling) loop, zero for link graphs with full
  * out-degree); each block's row kernel applies base + damping INSIDE the
  * task and returns its partial convergence delta against the old state.
  *
  * `floatPrecision = true` moves CSR values, the broadcast state, the
  * kernel and the slices to Float (the [[graft.exec.StateCodec.F32]]
  * codec) — the REFERENCE'S OWN precision (`graphCOO.hpp:20-21` uses
  * float) — halving serde and kernel memory traffic; use it for
  * baseline-parity lanes, keep doubles (default) for engine results (north
  * rule compares allclose 1e-6 in double). The driver state, dangling mass
  * and `base` stay double either way. An f32 run cannot resolve a `cfg.tol`
  * below [[f32TolFloor]] — ulp(1.0f) ≈ 1.2e-7 for "l1" (the ranks sum to
  * 1), ulp(1/n as float) for "linf" (one mean-sized rank) — and its stop
  * then depends on rounding noise; such a call logs one warning and runs
  * unchanged (tol = 0 with a fixed maxIter never warns).
  *
  * Scope: the BROADCAST REGIME ONLY — V must fit in executor+driver memory
  * (~8 B/vertex, fine to ~10^8 locally). Beyond that, the DataFrame
  * ShuffleJoin path in [[PageRank]] is the 10^12-vertex design; this is the
  * small-V accelerator, selected by [[graft.exec.GatherStrategy.Auto]]
  * (4M-vertex switch) or explicitly. Measured crossover context (r02): DF
  * broadcast rebuilds the hashed relation per iteration (N→4N efficiency
  * 0.28 but 4.45 s/iter at 2^21) vs ShuffleJoin (0.84 efficiency, 16.9
  * s/iter).
  */
object PageRankArray {

  /** A double state in the F64 wire format (pre-packed SpMV bench inputs). */
  private[graft] def packD(x: Array[Double]): Array[Byte] = StateCodec.F64.pack(x)

  def run(
      spark: SparkSession,
      edges: DataFrame,
      nVertices: Long,
      damping: Double = 0.85,
      cfg: IterConfig = IterConfig(),
      weighted: Boolean = true,
      floatPrecision: Boolean = false): PageRank.Result = {
    require(nVertices <= Int.MaxValue, "broadcast-array kernel needs V <= 2^31")
    val n = nVertices.toInt
    val tolFloor = f32TolFloor(cfg.norm, nVertices)
    if (floatPrecision && cfg.tol > 0 && cfg.tol < tolFloor)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(s"f32 PageRank cannot resolve " +
        s"${cfg.norm} tol ${cfg.tol} (floor $tolFloor): its stop depends on rounding noise")

    // one-time CSR build (in-neighbor orientation; reference C1+C2).
    //
    // r06 fast path (guide §2.3/§3.1; measured with graft.bench.BuildProbe,
    // before/after in OPTIMIZATION_r06.md): the normalize JOIN is gone —
    // the O(V) out-weight aggregate is collected into a primitive double[]
    // and broadcast, so normalization is an array lookup inside the build's
    // map tasks (no driver-side hashed relation, no per-edge join probe) —
    // and the O(E) exchange ships packed 12-16 B/edge column blobs through
    // a RANGE partitioner instead of 32 B/edge UnsafeRows through a hash
    // exchange (graft.graph.RangedCsr: bulk-memcpy serde both sides, and
    // the downstream CSR grouping indexes rows by (dst - base) — no
    // per-edge hash map at all).
    val outW = edges.groupBy("src").agg(
      (if (weighted) sum("w") else count(lit(1)).cast("double")).as("wtot"))
      .filter(col("wtot") > 0) // wtot<=0 -> dangling, not NaN (see PageRank)
    // collect (src, wtot) as packed per-partition primitive arrays — no
    // per-row Row/tuple boxing on the driver at V=10^6-10^8
    val wtotArr = new Array[Double](n)
    outW.queryExecution.toRdd.mapPartitions { it =>
      var ids = new Array[Int](1024)
      var ws = new Array[Double](1024)
      var m = 0
      while (it.hasNext) {
        val r = it.next()
        if (m == ids.length) {
          ids = java.util.Arrays.copyOf(ids, m * 2)
          ws = java.util.Arrays.copyOf(ws, m * 2)
        }
        ids(m) = r.getLong(0).toInt
        ws(m) = r.getDouble(1)
        m += 1
      }
      Iterator.single((java.util.Arrays.copyOf(ids, m),
        java.util.Arrays.copyOf(ws, m)))
    }.collect().foreach { case (ids, ws) =>
      var i = 0
      while (i < ids.length) { wtotArr(ids(i)) = ws(i); i += 1 }
    }
    val nParts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val wtotBc = spark.sparkContext.broadcast(wtotArr)
    val sel = edges.select(col("dst").cast("long"), col("src").cast("long"),
      (if (weighted) col("w") else lit(1.0)).cast("double"))
    val blocks = BlockIterate.materialize(
      RangedCsr.buildWeighted(sel, n, nParts, floatPrecision, wtotBc), n)
    wtotBc.destroy() // the cached blocks hold the normalized values

    // dangling vertices (no positive-weight out-edge): their mass re-enters
    // uniformly each iteration; wtotArr(v) == 0.0 IS "no positive out-weight"
    // (the aggregate only populated wtot > 0 entries).
    val danglingIds = Array.range(0, n).filter(v => wtotArr(v) <= 0)
    val l1 = cfg.norm == "l1" // scale-free convergence (see IterConfig)

    def iterate[E <: AnyRef](codec: StateCodec[Array[Double], E], init: Double,
        strategy: String)(rows: (Double, Double, Boolean) => Kernel[E]) =
      BlockIterate.run(spark, blocks, codec, Array.fill(n)(init), cfg, strategy, "x") { x =>
        var dm = 0.0
        var di = 0
        while (di < danglingIds.length) { dm += x(danglingIds(di)); di += 1 }
        rows((1.0 - damping) / nVertices + damping * dm / nVertices, damping, l1)
      }
    val (state, metrics) =
      if (floatPrecision)
        iterate(StateCodec.F32, (1.0 / nVertices).toFloat, "BroadcastArrayF32")(rowsF32)
      else iterate(StateCodec.F64, 1.0 / nVertices, "BroadcastArray")(rowsF64)
    PageRank.Result(state, metrics, graft.exec.GatherStrategy.BroadcastState)
  }

  /** The smallest convergence tolerance an f32 state resolves for `norm`:
    * the l1 delta sums rounding errors of about ulp(1.0f) in total (the
    * ranks sum to 1), the linf delta is one vertex's, at best ulp of a mean
    * rank 1/n. */
  private[graft] def f32TolFloor(norm: String, nVertices: Long): Double =
    if (norm == "l1") Math.ulp(1.0f) else Math.ulp((1.0 / math.max(1L, nVertices)).toFloat)

  /** Row kernel: x'[v] = base + d * Σ val·x[u] over v's in-edges, with the
    * per-block L1 (sum) or L∞ (max) delta against x[v]. */
  private def rowsF64(base: Double, d: Double, l1: Boolean): Kernel[Array[Double]] =
    (b, xs) => {
      val out = new Array[Double](b.rows)
      var pd = 0.0
      var r = 0
      while (r < out.length) {
        var s = 0.0
        var i = b.rowPtr(r); val end = b.rowPtr(r + 1)
        while (i < end) { s += b.colVal(i) * xs(b.colInd(i)); i += 1 }
        val nv = base + d * s
        out(r) = nv
        val dd = math.abs(nv - xs(b.base + r))
        if (l1) pd += dd else if (dd > pd) pd = dd
        r += 1
      }
      (out, pd)
    }

  /** [[rowsF64]] in float arithmetic; the delta is accumulated in double. */
  private def rowsF32(base: Double, d: Double, l1: Boolean): Kernel[Array[Float]] = {
    val bf = base.toFloat
    val df = d.toFloat
    (b, xs) => {
      val out = new Array[Float](b.rows)
      var pd = 0.0
      var r = 0
      while (r < out.length) {
        var s = 0.0f
        var i = b.rowPtr(r); val end = b.rowPtr(r + 1)
        while (i < end) { s += b.colValF(i) * xs(b.colInd(i)); i += 1 }
        val nv = bf + df * s
        out(r) = nv
        val dd = math.abs((nv - xs(b.base + r)).toDouble)
        if (l1) pd += dd else if (dd > pd) pd = dd
        r += 1
      }
      (out, pd)
    }
  }
}
