package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.exec.{StateCache, StateCodec}

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
  * single-box bound rather than letting executors OOM mid-build. The
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
      nnz: Long,              // real edges drained into this block
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

  /** Build the layout from an (src, dst, w) edge DataFrame. One aggregate
    * job for the global width (the reference computes max row length the
    * same way, `graphCOO.hpp:155-160`), one O(E) shuffle to co-locate rows
    * (hash on src — each row lives in exactly one partition), then a
    * per-partition two-pass scatter into the flat arrays (no sort — the
    * same histogram grouping as the CSR build, `PageRankArray.scala`). */
  def build(
      spark: SparkSession,
      edges: DataFrame,
      nVertices: Long,
      layout: Layout): Built = {
    require(nVertices <= Int.MaxValue, "flat-block layouts need V <= 2^31")
    val n = nVertices.toInt
    import spark.implicits._

    val width = layout match {
      case Dense => n
      case _ =>
        edges.groupBy("src").agg(count(lit(1)).as("d"))
          .agg(max("d")).as[Long].head().toInt
    }
    // fail fast on insane global footprints (see scale contract above)
    layout match {
      case Dense =>
        require(nVertices * nVertices * 8L <= (4L << 30),
          s"dense layout is V^2*8 B = ${nVertices * nVertices * 8L} B; " +
            "refusing above 4 GiB — this tier exists to MEASURE the C5 " +
            "anti-pattern, not to run it at scale")
      case _ =>
        require(nVertices * width * 12L <= (16L << 30),
          s"ELLPACK at global width $width pads to V*width*12 B = " +
            s"${nVertices * width * 12L} B; refusing above 16 GiB (the " +
            "reference's measured 13.4x crankseg_2 blow-up, " +
            "matricesWithELPACK.csv:4 — use the CSR tier)")
    }

    val nParts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val transposed = layout == EllpackT
    val isDense = layout == Dense
    val w = width
    // r06 fast path (shared with the CSR builds — graft.graph.RangedCsr):
    // the O(E) exchange ships packed 16 B/edge column blobs through a
    // RANGE partitioner on src instead of 32 B/edge UnsafeRows through a
    // hash exchange, and the downstream scatter indexes rows by
    // (src - base) + a dense present-row compaction — no per-edge hash map
    // (the old LongLongMap probe per edge). Present rows only, as before:
    // pad_ratio semantics (slots / nnz over rows that EXIST) unchanged.
    import graft.graph.RangedCsr
    val blocks = RangedCsr.mapRanges(RangedCsr.blobRdd(
      edges.select(col("src").cast("long"), col("dst").cast("long"),
        col("w").cast("double")),
      n, nParts, RangedCsr.ValD), n, nParts) { (base, len, blobList, m) =>
      if (m == 0) Iterator.empty
      else {
        val tmpK = new Array[Int](1 << 17)
        val tmpP = new Array[Int](1 << 17)
        val tmpD = new Array[Double](1 << 17)
        val counts = RangedCsr.rowCounts(blobList, base, len)
        // present-row compaction: dense row index per src WITH edges
        val denseIdx = new Array[Int](len)
        var nRows = 0
        var r = 0
        while (r < len) {
          if (counts(r) > 0) { denseIdx(r) = nRows; nRows += 1 }
          else denseIdx(r) = -1
          r += 1
        }
        val rows = new Array[Long](nRows)
        r = 0
        while (r < len) {
          if (denseIdx(r) >= 0) rows(denseIdx(r)) = base + r
          r += 1
        }
        // pass 2: scatter into the padded/dense arrays. ELLPACK padding =
        // (col 0, w 0.0): 0.0 * x(0) contributes nothing, so the
        // constant-trip kernel needs no bounds logic (reference pads the
        // same way, graphCOO.hpp:171-178)
        val slots = nRows * w
        val dense = if (isDense) new Array[Double](slots) else Array.emptyDoubleArray
        val colInd = if (isDense) Array.emptyIntArray else new Array[Int](slots)
        val colVal = if (isDense) Array.emptyDoubleArray else new Array[Double](slots)
        val cursor = new Array[Int](nRows)
        var bi = 0
        while (bi < blobList.length) {
          val b = blobList(bi)
          val bm = RangedCsr.blobCount(b)
          RangedCsr.blobKeys(b, bm, tmpK)
          RangedCsr.blobPayloads(b, bm, tmpP)
          RangedCsr.blobValsD(b, bm, tmpD)
          var i = 0
          if (isDense) while (i < bm) {
            // duplicate edges ACCUMULATE — reference += semantics
            dense(denseIdx(tmpK(i) - base) * w + tmpP(i)) += tmpD(i)
            i += 1
          }
          else while (i < bm) {
            val ri = denseIdx(tmpK(i) - base)
            val slot = cursor(ri); cursor(ri) = slot + 1
            val pos = if (transposed) slot * nRows + ri else ri * w + slot
            colInd(pos) = tmpP(i)
            colVal(pos) = tmpD(i)
            i += 1
          }
          bi += 1
        }
        Iterator.single(Block(rows, w, m.toLong, colInd, colVal, dense))
      }
    }.persist(StorageLevel.MEMORY_ONLY)
    blocks.localCheckpoint() // truncate lineage (see PageRankArray)
    val (nnz, slots) = blocks
      .map(b => (b.nnz, b.rows.length.toLong * b.width))
      .fold((0L, 0L)) { case ((a1, a2), (b1, b2)) => (a1 + b1, a2 + b2) }
    Built(blocks, layout, nVertices, width, nnz,
      if (nnz > 0) slots.toDouble / nnz else 1.0)
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
