package graft.algo

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.exec.{BlockIterate, IterConfig, StateCache, StateCodec}
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
  * The build reads the edge table ONCE ([[graft.graph.RangedCsr.buildWeighted]]
  * without `norm`): the CSR stores the raw weights w(u,v), and the out-
  * weights W[u] = Σ_v w(u,v) are summed from per-map-task partials that
  * ride the same shuffle, returned by the action that materializes the
  * blocks. Normalization is on the state, not on the edges — the
  * contribution form of the update:
  *   x'[v] = base + d · Σ_{u->v} w(u,v) · c[u],   c[u] = x[u] / W[u].
  * A source is LIVE iff W[u] is finite and > 0; every other source (no
  * out-edge; zero, sign-cancelling, negative or non-finite total) is
  * dangling: c[u] = 0, and its mass re-enters uniformly through `base`.
  * For finite weights this is the DataFrame tier's rule (`filter(wtot >
  * 0)`); a live source's zero or negative edges still count. Edges with a
  * non-finite weight are counted into W but not stored, so no NaN or ∞
  * reaches a score. The inverse out-weights are broadcast once per run.
  *
  * The iteration protocol is [[graft.exec.BlockIterate]]'s. Per iteration
  * the driver computes the dangling mass and the additive `base` term from
  * the CURRENT state (an O(#dangling) loop, zero for link graphs with full
  * out-degree); each executor derives c once from the state it unpacked
  * (the [[graft.exec.StateCache]] memo slot), and each block's row kernel
  * gathers from c, applies base + damping INSIDE the task and returns its
  * partial convergence delta against the old state x.
  *
  * `floatPrecision = true` moves CSR values, the broadcast state, the
  * contributions, the kernel and the slices to Float (the
  * [[graft.exec.StateCodec.F32]] codec) — the REFERENCE'S OWN precision (`graphCOO.hpp:20-21` uses
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
  * (~24 B/vertex per executor: state, contributions and inverse out-
  * weights; fine to ~10^8 locally). [[PageRank.run]] runs this tier
  * whenever its strategy resolves to `BroadcastState` (`Auto` at V <= 4M,
  * or explicitly), resumed runs included; beyond that, its DataFrame
  * ShuffleJoin tier is the 10^12-vertex design.
  *
  * `resumeFrom` = (state, iteration) continues a run: the (id, x) rows —
  * e.g. a [[graft.exec.Iterate.snapshot]] of either PageRank tier — are
  * collected into the driver's O(V) start state, which must hold every id
  * in [0, n) exactly once with a non-null, non-NaN x (anything else fails,
  * naming the first offending id), and iterations count on from
  * `iteration`.
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
      floatPrecision: Boolean = false,
      resumeFrom: Option[(DataFrame, Int)] = None): PageRank.Result = {
    require(nVertices <= Int.MaxValue, "broadcast-array kernel needs V <= 2^31")
    cfg.requireNorm("PageRank", "linf", "l1")
    val n = nVertices.toInt
    val tolFloor = f32TolFloor(cfg.norm, nVertices)
    if (floatPrecision && cfg.tol > 0 && cfg.tol < tolFloor)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(s"f32 PageRank cannot resolve " +
        s"${cfg.norm} tol ${cfg.tol} (floor $tolFloor): its stop depends on rounding noise")
    // the start state, before the build so a bad resume state fails first;
    // an f32 run rounds it to float, as the F32 codec's driver state holds
    // only values that came from floats
    val init = resumeFrom.fold(Array.fill(n)(1.0 / nVertices))(r => denseState(r._1, n))
    if (floatPrecision) for (u <- init.indices) init(u) = init(u).toFloat

    // one-time CSR build (in-neighbor orientation; reference C1+C2) in ONE
    // scan of the edge table: the ranged-CSR shuffle (graft.graph.RangedCsr:
    // packed 12-16 B/edge column blobs through a RANGE partitioner, bulk-
    // memcpy serde both sides, rows indexed by dst - base, no per-edge hash
    // map; before/after in OPTIMIZATION_r06.md) ships the raw weights w,
    // and each map task's per-source partial Σw rides the same shuffle to
    // the source's range, so the materializing action hands back the out-
    // weights W[n] with the edge count. Normalization lives on the state
    // instead of the edges: c[u] = x[u] / W[u] per iteration.
    val nParts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val sel = edges.select(col("dst").cast("long"), col("src").cast("long"),
      (if (weighted) col("w") else lit(1.0)).cast("double"))
    val blocks = BlockIterate.materialize(
      RangedCsr.buildWeighted(sel, n, nParts, floatPrecision), n)
    val w = blocks.outWeights

    // a source is live iff W is finite and > 0 (NaN fails `> 0`); every
    // other source (no out-edge, zero, sign-cancelling, negative or
    // non-finite total) is dangling: it contributes 0 through its edges,
    // and its mass re-enters uniformly each iteration
    val invW = Array.tabulate(n) { u =>
      if (w(u) > 0 && w(u) < Double.PositiveInfinity) 1.0 / w(u) else 0.0
    }
    val danglingIds = Array.range(0, n).filter(u => invW(u) == 0.0)

    val invWBc = spark.sparkContext.broadcast(invW)

    def iterate[E <: AnyRef](codec: StateCodec[Array[Double], E], strategy: String)(
        rows: (Double, Double, IterConfig) => Kernel[E]) =
      BlockIterate.run(spark, blocks, codec, init, cfg, strategy, "x",
          startIter = resumeFrom.fold(0)(_._2), algo = "pagerank") { x =>
        var dm = 0.0
        var di = 0
        while (di < danglingIds.length) { dm += x(danglingIds(di)); di += 1 }
        rows((1.0 - damping) / nVertices + damping * dm / nVertices, damping, cfg)
      }
    val (state, metrics) = try {
      if (floatPrecision)
        iterate(StateCodec.F32, "BroadcastArrayF32")(rowsF32(_, _, _, invWBc))
      else iterate(StateCodec.F64, "BroadcastArray")(rowsF64(_, _, _, invWBc))
    } finally invWBc.destroy()
    PageRank.Result(state, metrics, graft.exec.GatherStrategy.BroadcastState)
  }

  /** A resume state's (id, x) rows as the dense array x[id], streamed to
    * the driver one partition at a time. The state comes from disk, so an
    * id that is null, outside [0, n), repeated or missing, or an x that is
    * null or NaN, fails with an IllegalArgumentException naming the first
    * such id — a missing id would otherwise silently start at 0. */
  private def denseState(state: DataFrame, n: Int): Array[Double] = {
    val x = Array.fill(n)(Double.NaN) // NaN = not read yet: no read x is NaN
    state.select(col("id").cast("long"), col("x").cast("double")).toLocalIterator()
      .forEachRemaining { r =>
        require(!r.isNullAt(0), "resume state: null id")
        val id = r.getLong(0)
        require(id >= 0 && id < n, s"resume state: id $id outside [0, $n)")
        require(x(id.toInt).isNaN, s"resume state: id $id appears more than once")
        require(!r.isNullAt(1) && !r.getDouble(1).isNaN, s"resume state: id $id has a null or NaN x")
        x(id.toInt) = r.getDouble(1)
      }
    val missing = x.indexWhere(_.isNaN)
    require(missing < 0, s"resume state: id $missing is missing")
    x
  }

  /** The smallest convergence tolerance an f32 state resolves for `norm`:
    * the l1 delta sums rounding errors of about ulp(1.0f) in total (the
    * ranks sum to 1), the linf delta is one vertex's, at best ulp of a mean
    * rank 1/n. */
  private[graft] def f32TolFloor(norm: String, nVertices: Long): Double =
    if (norm == "l1") Math.ulp(1.0f) else Math.ulp((1.0 / math.max(1L, nVertices)).toFloat)

  /** Row kernel: x'[v] = base + d * Σ w(u,v)·c[u] over v's in-edges, with
    * the block's |x'[v] - x[v]| terms folded by `cfg`'s norm. The
    * contributions c[u] = x[u] / W[u] (0 for a dangling u) are derived once
    * per executor per iteration from the cached state. */
  private def rowsF64(base: Double, d: Double, cfg: IterConfig,
      invW: Broadcast[Array[Double]]): Kernel[Array[Double]] =
    (b, xs) => {
      val c = StateCache.derive(xs) { x =>
        val iw = invW.value
        val c = new Array[Double](x.length)
        var u = 0
        while (u < c.length) { c(u) = x(u) * iw(u); u += 1 }
        c
      }
      val out = new Array[Double](b.rows)
      var pd = 0.0
      var r = 0
      while (r < out.length) {
        var s = 0.0
        var i = b.rowPtr(r); val end = b.rowPtr(r + 1)
        while (i < end) { s += b.colVal(i) * c(b.colInd(i)); i += 1 }
        val nv = base + d * s
        out(r) = nv
        pd = cfg.fold(pd, math.abs(nv - xs(b.base + r)))
        r += 1
      }
      (out, pd)
    }

  /** [[rowsF64]] in float arithmetic (c[u] rounded once from the double
    * product); the delta is accumulated in double. */
  private def rowsF32(base: Double, d: Double, cfg: IterConfig,
      invW: Broadcast[Array[Double]]): Kernel[Array[Float]] = {
    val bf = base.toFloat
    val df = d.toFloat
    (b, xs) => {
      val c = StateCache.derive(xs) { x =>
        val iw = invW.value
        val c = new Array[Float](x.length)
        var u = 0
        while (u < c.length) { c(u) = (x(u) * iw(u)).toFloat; u += 1 }
        c
      }
      val out = new Array[Float](b.rows)
      var pd = 0.0
      var r = 0
      while (r < out.length) {
        var s = 0.0f
        var i = b.rowPtr(r); val end = b.rowPtr(r + 1)
        while (i < end) { s += b.colValF(i) * c(b.colInd(i)); i += 1 }
        val nv = bf + df * s
        out(r) = nv
        pd = cfg.fold(pd, math.abs((nv - xs(b.base + r)).toDouble))
        r += 1
      }
      (out, pd)
    }
  }
}
