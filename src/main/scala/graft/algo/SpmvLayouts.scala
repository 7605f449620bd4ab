package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.exec.{StateCache, StateCodec}
import graft.graph.{CsrBlock, RangedCsr}

/** The reference's NON-CSR matrix layouts, re-expressed on the same
  * per-partition flat-block tier as [[PageRankArray]]:
  *
  *   - ELLPACK (C3, `/root/reference/include/graphCOO.hpp:152-190`): every
  *     row padded to the GLOBAL max row degree with (col=0, w=0.0) entries;
  *     row-major `colInd`/`colVal` of shape nRows x width. The SpMV kernel
  *     (K14, `/root/reference/include/ellpack.hpp:24-41`) is a constant-trip
  *     inner loop — the property the reference's CONST_VCL16_ROW kernel (K4)
  *     exploits for SIMD; on the JVM the constant trip count is what lets
  *     C2 vectorize the multiply-add stream.
  *   - transposed ELLPACK (C4, `graphCOO.hpp:192-240`): the same padded
  *     matrix stored COLUMN-major (element (r, j) at j*nRows + r), so one
  *     padded-column sweep streams sequentially over memory and the
  *     accumulator vector — the reference's CONST_VCL16_TRANSPOSE /
  *     VCL_16_TRANSPOSE kernels (K5/K12, `ellpack.hpp:43-69`) expressed as
  *     the j-outer/r-inner loop.
  *   - dense (C5, `/root/reference/include/graphDense.hpp:26-36`): nRows x V
  *     value matrix, duplicate edges accumulated (+=); kernel K15 is the
  *     naive dense row dot product.
  *
  * WHY these exist despite SURVEY §2 calling them "not ported": they are the
  * reference's own measured ANTI-patterns under skew (ELLPACK pads crankseg_2
  * 13.4x, `/root/reference/runtimes/matricesWithELPACK.csv:4`; dense is V^2
  * storage) — implementing them makes the trade-off measurable IN THIS
  * ENGINE (bench lanes report `pad_ratio` and edges/s against the CSR tier)
  * instead of asserted from the reference's CSVs.
  *
  * SCALE CONTRACT (same broadcast regime as [[PageRankArray]]): V must fit
  * in driver+executor memory. Per-partition footprint is
  * nRows_p * width * 12 B (ELLPACK) or nRows_p * V * 8 B (dense) — callers
  * must size partitions so that fits; `build` fails fast on layouts whose
  * GLOBAL footprint (V * width * 12 B resp. V^2 * 8 B) exceeds a sane
  * single-box bound (ELLPACK once the CSR build has found the width, before
  * any padded array is allocated) rather than letting executors OOM. The
  * 10^12-vertex path stays CSR/ShuffleJoin; these layouts are measurement
  * tiers, exactly like the reference's.
  */
object SpmvLayouts {

  sealed trait Layout
  /** Row-major padded (C3 + K14; const-trip row kernel = K4 analog). */
  case object Ellpack extends Layout
  /** Column-major padded (C4 + K5/K12 analog). */
  case object EllpackT extends Layout
  /** Dense nRows x V (C5 + K15). */
  case object Dense extends Layout

  /** One partition's rows in a padded/dense layout. Exactly one of
    * (colInd, colVal) [ELLPACK] or dense is populated. */
  private[algo] final case class Block(
      rows: Array[Long],      // src vertex ids, dense row index order
      width: Int,             // ELLPACK width (global max degree) or V for dense
      colInd: Array[Int],
      colVal: Array[Double],
      dense: Array[Double])

  /** A built layout: persisted blocks + the padding accounting the bench
    * lanes report. `padRatio` = stored slots / nnz (1.0 = no padding). */
  final case class Built(
      private[algo] val blocks: org.apache.spark.rdd.RDD[Block],
      layout: Layout,
      nVertices: Long,
      width: Int,
      nnz: Long,
      padRatio: Double) {
    def unpersist(): Unit = org.apache.spark.sql.graft.bridge.releaseRDD(blocks)
  }

  /** Build the layout from an (src, dst, w) edge DataFrame in one scan of
    * the edge table. [[RangedCsr.build]] shuffles the edges into CSR blocks
    * keyed by src (each row lives in exactly one block). The job that caches
    * those blocks also returns each block's edge count, longest row and
    * rows with edges; the global width is the longest row, as the reference
    * finds it while it builds its CSR (`graphCOO.hpp:155-160`). A second job
    * pads each CSR block into the layout ([[pad]]) and caches it; the CSR
    * blocks are then released. */
  def build(
      spark: SparkSession,
      edges: DataFrame,
      nVertices: Long,
      layout: Layout): Built = {
    require(nVertices <= Int.MaxValue, "flat-block layouts need V <= 2^31")
    val n = nVertices.toInt
    // fail fast on insane global footprints (see scale contract above)
    if (layout == Dense)
      require(nVertices * nVertices * 8L <= (4L << 30),
        s"dense layout is V^2*8 B = ${nVertices * nVertices * 8L} B; " +
          "refusing above 4 GiB — this tier exists to MEASURE the C5 " +
          "anti-pattern, not to run it at scale")
    val nParts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val csr = RangedCsr.build(edges.select(col("src").cast("long"),
      col("dst").cast("long"), col("w").cast("double")), n, nParts)
      .persist(StorageLevel.MEMORY_ONLY)
    try {
      // per CSR block: (edges, longest row, rows with edges)
      val stats = csr.map { b =>
        val degs = Array.tabulate(b.rows)(r => b.rowPtr(r + 1) - b.rowPtr(r))
        (b.colInd.length.toLong, degs.foldLeft(0)(math.max), degs.count(_ > 0))
      }.collect()
      val width = if (layout == Dense) n else stats.map(_._2).foldLeft(0)(math.max)
      if (layout != Dense)
        require(nVertices * width * 12L <= (16L << 30),
          s"ELLPACK at global width $width pads to V*width*12 B = " +
            s"${nVertices * width * 12L} B; refusing above 16 GiB (the " +
            "reference's measured 13.4x crankseg_2 blow-up, " +
            "matricesWithELPACK.csv:4 — use the CSR tier)")
      val blocks = csr.map(pad(_, layout, width)).persist(StorageLevel.MEMORY_ONLY)
      blocks.localCheckpoint() // truncate lineage (see PageRankArray)
      blocks.count()
      val nnz = stats.map(_._1).sum
      val slots = stats.map(_._3.toLong).sum * width
      Built(blocks, layout, nVertices, width, nnz,
        if (nnz > 0) slots.toDouble / nnz else 1.0)
    } finally csr.unpersist()
  }

  /** One CSR block in `layout` at `width`: its rows with edges, in order
    * (pad_ratio counts the rows that exist), each row's edges in CSR order.
    * ELLPACK pads with (col 0, w 0.0): 0.0 * x(0) contributes nothing, so
    * the constant-trip kernel needs no bounds logic (the reference pads the
    * same way, graphCOO.hpp:171-178). Dense accumulates duplicate edges
    * (reference += semantics). */
  private def pad(c: CsrBlock, layout: Layout, width: Int): Block = {
    val ptr = c.rowPtr
    val present = Array.range(0, c.rows).filter(r => ptr(r + 1) > ptr(r))
    val nRows = present.length
    val rows = present.map(r => (c.base + r).toLong)
    val slots = nRows * width
    if (layout == Dense) {
      val dense = new Array[Double](slots)
      var i = 0
      while (i < nRows) {
        var e = ptr(present(i))
        while (e < ptr(present(i) + 1)) { dense(i * width + c.colInd(e)) += c.colVal(e); e += 1 }
        i += 1
      }
      Block(rows, width, Array.emptyIntArray, Array.emptyDoubleArray, dense)
    } else {
      val transposed = layout == EllpackT
      val colInd = new Array[Int](slots)
      val colVal = new Array[Double](slots)
      var i = 0
      while (i < nRows) {
        val beg = ptr(present(i))
        var j = 0
        while (j < ptr(present(i) + 1) - beg) {
          val pos = if (transposed) j * nRows + i else i * width + j
          colInd(pos) = c.colInd(beg + j)
          colVal(pos) = c.colVal(beg + j)
          j += 1
        }
        i += 1
      }
      Block(rows, width, colInd, colVal, Array.emptyDoubleArray)
    }
  }

  /** One SpMV pass: flow[src] = Σ_{(src -> dst, w)} w * x[dst] — identical
    * semantics to [[SpMV]] (the K2 oracle), on the padded/dense kernels.
    * State ships as ONE packed broadcast (the [[StateCodec.F64]] wire
    * format, unpacked once per executor); each block computes its rows and
    * emits (id, x). */
  def spmv(
      spark: SparkSession,
      built: Built,
      state: DataFrame,
      vertices: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    val n = built.nVertices.toInt
    val xs = new Array[Double](n)
    state.select(col("id"), col("x"))
      .as[(Long, Double)].collect()
      .foreach { case (i, v) => xs(i.toInt) = v }
    spmvPacked(spark, built, StateCodec.F64.pack(xs), vertices)
  }

  /** Same pass, state pre-packed by the caller — the multi-pass bench lanes
    * collect/pack the x vector ONCE and re-apply it, so per-pass walls time
    * the kernel, not a repeated O(V) state collect. */
  def spmvPacked(
      spark: SparkSession,
      built: Built,
      packed: Array[Byte],
      vertices: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(packed)
    val isDense = built.layout == Dense
    val transposed = built.layout == EllpackT
    val flowRdd = built.blocks.mapPartitions { it =>
      it.flatMap { b =>
        val x = StateCache.get(bc, StateCodec.F64)
        val nRows = b.rows.length
        val out = new Array[Double](nRows)
        if (isDense) {
          // K15: dense row dot product (graphDense.hpp kernel semantics)
          var r = 0
          while (r < nRows) {
            var s = 0.0
            val base = r * b.width
            var v = 0
            while (v < b.width) { s += b.dense(base + v) * x(v); v += 1 }
            out(r) = s
            r += 1
          }
        } else if (transposed) {
          // K5/K12 analog: one padded-column sweep per j; colInd/colVal and
          // `out` both stream sequentially — the transpose's whole point
          var j = 0
          while (j < b.width) {
            val base = j * nRows
            var r = 0
            while (r < nRows) {
              out(r) += b.colVal(base + r) * x(b.colInd(base + r))
              r += 1
            }
            j += 1
          }
        } else {
          // K14/K4 analog: constant-trip row loop over the padded row
          var r = 0
          while (r < nRows) {
            var s = 0.0
            val base = r * b.width
            var j = 0
            while (j < b.width) { s += b.colVal(base + j) * x(b.colInd(base + j)); j += 1 }
            out(r) = s
            r += 1
          }
        }
        Iterator.tabulate(nRows)(i => (b.rows(i), out(i)))
      }
    }
    val flow = flowRdd.toDF("id", "x")
    vertices match {
      case Some(v) =>
        v.select("id").join(flow, Seq("id"), "left")
          .select(col("id"), coalesce(col("x"), lit(0.0)).as("x"))
      case None => flow
    }
  }

  /** build + one pass + release: the operator-sized entry the oracle lanes
    * use. */
  def spmvOnce(
      spark: SparkSession,
      edges: DataFrame,
      state: DataFrame,
      nVertices: Long,
      layout: Layout,
      vertices: Option[DataFrame] = None): DataFrame = {
    val built = build(spark, edges, nVertices, layout)
    val out = spmv(spark, built, state, vertices).localCheckpoint()
    built.unpersist()
    out
  }
}
