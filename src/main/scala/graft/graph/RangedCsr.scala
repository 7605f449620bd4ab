package graft.graph

import org.apache.spark.{Partitioner, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression}
import org.apache.spark.sql.execution.{ColumnarToRowExec, ProjectExec, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, LongType}
import java.nio.{ByteBuffer, ByteOrder}
import scala.reflect.ClassTag

/** One key range's in-adjacency as flat CSR (the reference's
  * rowPtr/colInd/val layout, `include/graphCSR.hpp:382-384`): local row r is
  * vertex `base + r` and gathers from colInd[rowPtr(r) until rowPtr(r+1)]
  * with weights colVal (double) or colValF (float). At most one of the two
  * is populated; label blocks (CC/LP) carry neither. `outW(r)` is the total
  * out-weight of vertex `base + r` when the build summed it (PageRank's
  * [[RangedCsr.buildWeighted]] without `norm`), else empty. */
final case class CsrBlock(
    base: Int,
    rowPtr: Array[Int],
    colInd: Array[Int],
    colVal: Array[Double],
    colValF: Array[Float],
    outW: Array[Double] = Array.emptyDoubleArray) {
  def rows: Int = rowPtr.length - 1
}

/** Packed-binary RANGE-partitioned CSR-block builder — the shared fast path
  * behind the broadcast-array kernels' one-time builds (r06 optimization).
  *
  * WHY (guide §2.3 "shuffle fewer bytes" + §1.2 "per-task work first"): the
  * r05 builds moved every edge through a Catalyst `repartition(n, col)`
  * exchange as an UnsafeRow — 8 B null-bits + 8 B per field = 32 B/edge on
  * the wire, plus per-row hash/copy/serde CPU on both sides (at 403M edges,
  * r06 baseline: 162 s summed task time map-side, 138 s reduce-side; the
  * whole quiet build 17.2 s wall; before/after in OPTIMIZATION_r06.md).
  * Here each upstream task packs its edges into per-target primitive column
  * buffers and ships them as FEW LARGE BLOBS (4 B dst + 4 B src + 0/4/8 B
  * value = 8-16 B/edge, serialized as one `byte[]` memcpy); the target
  * partition is a RANGE of key ids (`key / chunk`), so the downstream build
  * needs NO per-edge hash map — the row index is `key - base`, a plain
  * array offset, and the two-pass histogram+scatter runs over primitive
  * arrays end to end.
  *
  * Range (not hash) partitioning trades generic skew-robustness for the
  * zero-probe build; that is the right trade for this tier: the kernels'
  * scale contract is the broadcast regime (V fits in memory), the bench
  * graphs' in-degree is id-uniform, and a skewed id RANGE would have skewed
  * the per-block kernel time under hash partitioning too (same rows, other
  * partitions). The 10^12-vertex design path (ShuffleJoin DataFrames) is
  * unaffected.
  *
  * The blocks follow the range contract stated on
  * [[graft.exec.BlockIterate]] (partition p builds the block of key range
  * [p*chunk, min(n, (p+1)*chunk)), one row per key).
  *
  * This object is the only module that reads or writes blobs: every caller
  * gets [[CsrBlock]]s ([[build]], [[buildWeighted]], [[buildSymmetric]]).
  */
object RangedCsr {

  /** Keys-per-partition chunk: ceil(n / nParts). */
  private def chunkFor(n: Int, nParts: Int): Int =
    math.max(1, ((n.toLong + nParts - 1) / nParts).toInt)

  private final class IdPartitioner(n: Int) extends Partitioner {
    def numPartitions: Int = n
    def getPartition(key: Any): Int = key.asInstanceOf[Int]
    override def equals(o: Any): Boolean = o match {
      case p: IdPartitioner => p.numPartitions == n
      case _ => false
    }
    override def hashCode: Int = n
  }

  // value modes for the packed wire blobs
  private final val ValNone = 0
  private final val ValF = 1
  private final val ValD = 2

  // blob kinds (the header's first Int)
  private final val EdgeBlob = 0
  private final val OutWBlob = 1

  /** Edges per blob before a flush: 128k edges ≈ 1-2 MB — large enough that
    * serde is bulk memcpy, small enough that a map task's nParts open
    * buffers stay ~tens of MB. */
  private final val FlushEdges = 1 << 17

  private def valBytes(valMode: Int): Int = valMode match {
    case ValF => 4
    case ValD => 8
    case _ => 0
  }

  /** Blob layout (little-endian): a header [kind: Int][m: Int], then
    *   - an edge blob (kind [[EdgeBlob]]): [keys: m Ints][payloads: m Ints]
    *     [values: m Floats|Doubles|absent];
    *   - an out-weight blob (kind [[OutWBlob]]): [keys: m Ints][sums: m
    *     Doubles] — one map task's partial Σw per source id (the key).
    * Columnar within the blob so the reader's bulk gets are memcpys. The
    * map side ([[blobRdd]]) fills it from the scan's columnar batches when
    * the input plan allows, else from rows; the bytes are the same. */
  private final val Header = 8

  private def le(b: Array[Byte], off: Int, len: Int): ByteBuffer =
    ByteBuffer.wrap(b, off, len).order(ByteOrder.LITTLE_ENDIAN)

  private def packBlob(
      m: Int, keys: Array[Int], payloads: Array[Int],
      valsF: Array[Float], valsD: Array[Double], valMode: Int): Array[Byte] = {
    val b = new Array[Byte](Header + m * (8 + valBytes(valMode)))
    le(b, 0, Header).putInt(EdgeBlob).putInt(m)
    le(b, Header, 4 * m).asIntBuffer().put(keys, 0, m)
    le(b, Header + 4 * m, 4 * m).asIntBuffer().put(payloads, 0, m)
    valMode match {
      case ValF => le(b, Header + 8 * m, 4 * m).asFloatBuffer().put(valsF, 0, m)
      case ValD => le(b, Header + 8 * m, 8 * m).asDoubleBuffer().put(valsD, 0, m)
      case _ => ()
    }
    b
  }

  private def packOutW(m: Int, keys: Array[Int], sums: Array[Double]): Array[Byte] = {
    val b = new Array[Byte](Header + 12 * m)
    le(b, 0, Header).putInt(OutWBlob).putInt(m)
    le(b, Header, 4 * m).asIntBuffer().put(keys, 0, m)
    le(b, Header + 4 * m, 8 * m).asDoubleBuffer().put(sums, 0, m)
    b
  }

  private def blobKind(b: Array[Byte]): Int = le(b, 0, 4).getInt

  private def blobCount(b: Array[Byte]): Int = le(b, 4, 4).getInt

  private def blobKeys(b: Array[Byte], m: Int, out: Array[Int]): Unit =
    le(b, Header, 4 * m).asIntBuffer().get(out, 0, m)

  private def blobPayloads(b: Array[Byte], m: Int, out: Array[Int]): Unit =
    le(b, Header + 4 * m, 4 * m).asIntBuffer().get(out, 0, m)

  private def blobValsF(b: Array[Byte], m: Int, out: Array[Float]): Unit =
    le(b, Header + 8 * m, 4 * m).asFloatBuffer().get(out, 0, m)

  private def blobValsD(b: Array[Byte], m: Int, out: Array[Double]): Unit =
    le(b, Header + 8 * m, 8 * m).asDoubleBuffer().get(out, 0, m)

  private def blobSums(b: Array[Byte], m: Int, out: Array[Double]): Unit =
    le(b, Header + 4 * m, 8 * m).asDoubleBuffer().get(out, 0, m)

  /** The columnar scan under `df`, when its executed plan only reads a
    * columnar source back into rows — `[WholeStageCodegen] Project(column
    * references or aliases of them) ← ColumnarToRow(scan)`, or a bare
    * `ColumnarToRow(scan)` — and `df`'s columns are (LONG, LONG[, DOUBLE]):
    * the scan and, per column of `df`, its ordinal in the scan's batches.
    * Any other plan (casts, literals, filters, exchanges, row sources) is
    * None and is read as rows. */
  private[graft] def columnarSource(df: DataFrame): Option[(SparkPlan, Array[Int])] = {
    val types = df.schema.fields.map(_.dataType).toSeq
    if (types != Seq(LongType, LongType) && types != Seq(LongType, LongType, DoubleType))
      return None
    def ordinals(out: Seq[Expression], c2r: ColumnarToRowExec) = {
      val in = c2r.child.output.map(_.exprId)
      val ords = out.map {
        case a: Attribute => in.indexOf(a.exprId)
        case Alias(a: Attribute, _) => in.indexOf(a.exprId)
        case _ => -1
      }
      if (ords.contains(-1)) None else Some((c2r.child, ords.toArray))
    }
    val plan = df.queryExecution.executedPlan match {
      case WholeStageCodegenExec(p) => p
      case p => p
    }
    plan match {
      case ProjectExec(out, c2r: ColumnarToRowExec) => ordinals(out, c2r)
      case c2r: ColumnarToRowExec => ordinals(c2r.output, c2r)
      case _ => None
    }
  }

  /** One map task's packing of edges into per-target blobs (see
    * [[blobRdd]]): `edge` takes one (key, payload, value) from either
    * source, `out` holds the finished blobs, `finish` flushes the rest. */
  private final class EdgePacker(
      n: Int, nParts: Int, valMode: Int, wtot: Array[Double], sym: Boolean,
      outWeights: Boolean, names: Array[String]) {
    private val chunk = chunkFor(n, nParts)
    // per-target buffers allocated on FIRST use: a locality-friendly input
    // (e.g. the banded generator, whose dst range tracks its src range)
    // touches 1-2 targets per map task, not all nParts
    private val keyBuf = new Array[Array[Int]](nParts)
    private val payBuf = new Array[Array[Int]](nParts)
    private val valFBuf = if (valMode == ValF) new Array[Array[Float]](nParts) else null
    private val valDBuf = if (valMode == ValD) new Array[Array[Double]](nParts) else null
    private val cnt = new Array[Int](nParts)
    private val wSum = if (outWeights) new Array[Array[Double]](nParts) else null
    val out = new java.util.ArrayDeque[(Int, Array[Byte])]

    /** A null id, or an id outside [0, n), fails the build. */
    def badEdge(key: Any, pay: Any): Nothing = throw new IllegalArgumentException(
      s"edge (${names(0)} = $key, ${names(1)} = $pay) has a null id or one outside [0, $n)")

    def edge(key: Long, payload: Long, v: Double): Unit = {
      if (key < 0 || key >= n || payload < 0 || payload >= n) badEdge(key, payload)
      val k = key.toInt
      val pay = payload.toInt
      if (sym) {
        if (k != pay) {
          put(k, pay, 0.0)
          put(pay, k, 0.0)
        }
      } else if (wtot != null) {
        val wt = wtot(pay)
        if (wt > 0) put(k, pay, v / wt)
      } else if (outWeights) {
        addW(pay, v)
        if (!v.isNaN && !v.isInfinite) put(k, pay, v)
      } else put(k, pay, v)
    }

    private def emit(p: Int): Unit = {
      out.add((p, packBlob(cnt(p), keyBuf(p), payBuf(p),
        if (valFBuf == null) null else valFBuf(p),
        if (valDBuf == null) null else valDBuf(p), valMode)))
      cnt(p) = 0
    }
    private def put(k: Int, pay: Int, v: Double): Unit = {
      val p = k / chunk
      if (keyBuf(p) == null) {
        keyBuf(p) = new Array[Int](FlushEdges)
        payBuf(p) = new Array[Int](FlushEdges)
        if (valFBuf != null) valFBuf(p) = new Array[Float](FlushEdges)
        if (valDBuf != null) valDBuf(p) = new Array[Double](FlushEdges)
      }
      val c = cnt(p)
      keyBuf(p)(c) = k
      payBuf(p)(c) = pay
      if (valFBuf != null) valFBuf(p)(c) = v.toFloat
      else if (valDBuf != null) valDBuf(p)(c) = v
      cnt(p) = c + 1
      if (c + 1 == FlushEdges) emit(p)
    }
    private def addW(pay: Int, v: Double): Unit = {
      val p = pay / chunk
      val lo = p * chunk
      if (wSum(p) == null) wSum(p) = new Array[Double](math.min(chunk, n - lo))
      wSum(p)(pay - lo) += v
    }
    // one blob per touched payload range: its non-zero partial sums (a
    // zero partial adds nothing to the total; NaN != 0 is shipped)
    private def emitW(p: Int): Unit = {
      val sums = wSum(p)
      val ids = new Array[Int](sums.length)
      val vs = new Array[Double](sums.length)
      var m = 0
      var i = 0
      while (i < sums.length) {
        if (sums(i) != 0.0) { ids(m) = p * chunk + i; vs(m) = sums(i); m += 1 }
        i += 1
      }
      if (m > 0) out.add((p, packOutW(m, ids, vs)))
    }
    def finish(): Unit = {
      var p = 0
      while (p < nParts) {
        if (cnt(p) > 0) emit(p)
        if (wSum != null && wSum(p) != null) emitW(p)
        p += 1
      }
    }
  }

  /** The packer's blobs over one map task's input: `read` hands each source
    * element (a row, or a whole columnar batch, finished before the source
    * is asked for the next one, which may reuse it) to the packer. */
  private def packed[T](src: Iterator[T], packer: EdgePacker)(read: T => Unit)
      : Iterator[(Int, Array[Byte])] = new Iterator[(Int, Array[Byte])] {
    private var flushed = false
    private def pump(): Unit = {
      while (packer.out.isEmpty && src.hasNext) read(src.next())
      if (packer.out.isEmpty && !flushed) { packer.finish(); flushed = true }
    }
    def hasNext: Boolean = { pump(); !packer.out.isEmpty }
    def next(): (Int, Array[Byte]) = { pump(); packer.out.poll() }
  }

  /** Map side: drain (key, payload[, value]) edges into per-target packed
    * blobs, streamed (a target's buffer flushes at FlushEdges — peak task
    * transient is nParts * ~2 MB, independent of partition size).
    *
    * The edges are read straight from the scan's `ColumnarBatch`es when
    * [[columnarSource]] matches `df`'s plan (e.g. a parquet table projected
    * to its columns), else as `queryExecution.toRdd` rows; both feed the
    * same per-edge routine, and a null `value` reads as 0.0 on both. An
    * edge with a null id, or an id outside [0, n), fails the build with an
    * IllegalArgumentException that names it.
    *
    * @param df      pre-projected (key LONG, payload LONG[, value DOUBLE])
    * @param norm    optional normalization: value := value / norm(payload),
    *                rows with norm(payload) <= 0 dropped (the out-weight
    *                semantics of the PageRank normalize join, done as a
    *                broadcast primitive-array lookup instead of a join)
    * @param sym     emit BOTH orientations of each row (symmetric link set),
    *                dropping key == payload self-loops
    * @param outWeights also sum each payload's values (its out-weight, when
    *                the payload is the source) and, at task end, ship the
    *                task's partial sums to the owner of each payload range
    *                as [[OutWBlob]]s; a non-finite value still counts
    *                towards its sum but its edge is not shipped, so no
    *                gather ever multiplies by it. The partial is a dense
    *                Double slice per touched payload range, allocated on
    *                first use: at most 8 B × n per map task.
    */
  private def blobRdd(
      df: DataFrame, n: Int, nParts: Int, valMode: Int,
      norm: Broadcast[Array[Double]] = null,
      sym: Boolean = false,
      outWeights: Boolean = false): RDD[(Int, Array[Byte])] = {
    require(!outWeights || (valMode != ValNone && norm == null && !sym),
      "out-weights are summed over raw edge values only")
    val names = df.columns
    val hasVal = valMode != ValNone
    def packer() =
      new EdgePacker(n, nParts, valMode, if (norm == null) null else norm.value, sym,
        outWeights, names)
    val blobs = columnarSource(df) match {
      case Some((scan, ords)) =>
        val (ko, po, vo) = (ords(0), ords(1), if (hasVal) ords(2) else -1)
        scan.executeColumnar().mapPartitions { batches =>
          val p = packer()
          packed(batches, p) { batch =>
            val keys = batch.column(ko)
            val pays = batch.column(po)
            val vals = if (hasVal) batch.column(vo) else null
            val idNulls = keys.hasNull || pays.hasNull
            val valNulls = hasVal && vals.hasNull
            val m = batch.numRows
            var i = 0
            while (i < m) {
              // a null's data slot is never read: the reader reuses vectors
              if (idNulls && (keys.isNullAt(i) || pays.isNullAt(i)))
                p.badEdge(if (keys.isNullAt(i)) null else keys.getLong(i),
                  if (pays.isNullAt(i)) null else pays.getLong(i))
              p.edge(keys.getLong(i), pays.getLong(i),
                if (!hasVal || (valNulls && vals.isNullAt(i))) 0.0 else vals.getDouble(i))
              i += 1
            }
          }
        }
      case None =>
        df.queryExecution.toRdd.mapPartitions { rows =>
          val p = packer()
          packed(rows, p) { r =>
            if (r.isNullAt(0) || r.isNullAt(1))
              p.badEdge(if (r.isNullAt(0)) null else r.getLong(0),
                if (r.isNullAt(1)) null else r.getLong(1))
            // an UnsafeRow reads a null value as 0.0
            p.edge(r.getLong(0), r.getLong(1), if (hasVal) r.getDouble(2) else 0.0)
          }
        }
    }
    blobs.partitionBy(new IdPartitioner(nParts))
  }

  /** Drain a reduce partition's blobs (kept as packed byte[]s — the same
    * bytes the shuffle moved, no intermediate row materialization). */
  private def gatherBlobs(it: Iterator[(Int, Array[Byte])])
      : (Array[Array[Byte]], Int) = {
    val list = new scala.collection.mutable.ArrayBuffer[Array[Byte]]
    var m = 0L
    while (it.hasNext) {
      val b = it.next()._2
      list += b
      if (blobKind(b) == EdgeBlob) m += blobCount(b)
    }
    require(m <= Int.MaxValue,
      s"ranged CSR partition holds $m edges — raise shuffle partitions")
    (list.toArray, m.toInt)
  }

  /** Reduce side of the range contract: `f(base, len, blobs, m)` runs once
    * per partition whose key range [base, base + len) is non-empty, over
    * that partition's blobs (of both kinds) and their total edge count m. */
  private def mapRanges[T: ClassTag](
      blobs: RDD[(Int, Array[Byte])], n: Int, nParts: Int)(
      f: (Int, Int, Array[Array[Byte]], Int) => Iterator[T]): RDD[T] = {
    val chunk = chunkFor(n, nParts)
    blobs.mapPartitions({ it =>
      val base = TaskContext.getPartitionId().toLong * chunk
      if (base >= n) Iterator.empty
      else {
        val (list, m) = gatherBlobs(it)
        f(base.toInt, math.min(chunk.toLong, n - base).toInt, list, m)
      }
    }, preservesPartitioning = true)
  }

  /** Pass 1 of the histogram grouping: edge count per row of the range
    * [base, base + len) (out-weight blobs skipped). */
  private def rowCounts(
      blobs: Array[Array[Byte]], base: Int, len: Int): Array[Int] = {
    val counts = new Array[Int](len)
    val keys = new Array[Int](FlushEdges)
    var bi = 0
    while (bi < blobs.length) {
      val b = blobs(bi)
      if (blobKind(b) == EdgeBlob) {
        val bm = blobCount(b)
        blobKeys(b, bm, keys)
        var i = 0
        while (i < bm) { counts(keys(i) - base) += 1; i += 1 }
      }
      bi += 1
    }
    counts
  }

  /** The range's total out-weights: every map task's partial sums from the
    * out-weight blobs, added per row of [base, base + len). */
  private def outWeightSlice(
      blobs: Array[Array[Byte]], base: Int, len: Int): Array[Double] = {
    val w = new Array[Double](len)
    for (b <- blobs if blobKind(b) == OutWBlob) {
      val bm = blobCount(b)
      val keys = new Array[Int](bm)
      val sums = new Array[Double](bm)
      blobKeys(b, bm, keys)
      blobSums(b, bm, sums)
      var i = 0
      while (i < bm) { w(keys(i) - base) += sums(i); i += 1 }
    }
    w
  }

  /** The two-pass CSR build of one range: histogram + rowPtr prefix sum,
    * then one scatter of every edge into its row in blob order. The value
    * mode is dispatched once per blob, so no edge loop branches on it. */
  private def csrBlock(blobs: Array[Array[Byte]], m: Int, base: Int,
      len: Int, valMode: Int): CsrBlock = {
    val cur = rowCounts(blobs, base, len)
    val rowPtr = new Array[Int](len + 1)
    var r = 0
    while (r < len) { rowPtr(r + 1) = rowPtr(r) + cur(r); r += 1 }
    System.arraycopy(rowPtr, 0, cur, 0, len) // cur(r): next free slot of row r
    def take(key: Int): Int = { val ri = key - base; val p = cur(ri); cur(ri) = p + 1; p }
    val colInd = new Array[Int](m)
    val colVal = if (valMode == ValD) new Array[Double](m) else Array.emptyDoubleArray
    val colValF = if (valMode == ValF) new Array[Float](m) else Array.emptyFloatArray
    val keys = new Array[Int](FlushEdges)
    val pay = new Array[Int](FlushEdges)
    val tmpD = if (valMode == ValD) new Array[Double](FlushEdges) else null
    val tmpF = if (valMode == ValF) new Array[Float](FlushEdges) else null
    var bi = 0
    while (bi < blobs.length) {
      val b = blobs(bi)
      val bm = if (blobKind(b) == EdgeBlob) blobCount(b) else 0 // no edges in out-weight blobs
      blobKeys(b, bm, keys)
      blobPayloads(b, bm, pay)
      var i = 0
      valMode match {
        case ValD =>
          blobValsD(b, bm, tmpD)
          while (i < bm) { val p = take(keys(i)); colInd(p) = pay(i); colVal(p) = tmpD(i); i += 1 }
        case ValF =>
          blobValsF(b, bm, tmpF)
          while (i < bm) { val p = take(keys(i)); colInd(p) = pay(i); colValF(p) = tmpF(i); i += 1 }
        case _ =>
          while (i < bm) { colInd(take(keys(i))) = pay(i); i += 1 }
      }
      bi += 1
    }
    CsrBlock(base, rowPtr, colInd, colVal, colValF)
  }

  /** Plain CSR blocks over pre-projected (key LONG, payload LONG, value
    * DOUBLE) rows, one scan of the edge table: values are the raw doubles,
    * every edge is stored (non-finite values included), no out-weights are
    * summed. Caller persists/checkpoints. */
  def build(edges: DataFrame, n: Int, nParts: Int): RDD[CsrBlock] =
    mapRanges(blobRdd(edges, n, nParts, ValD), n, nParts) { (base, len, blobs, m) =>
      Iterator.single(csrBlock(blobs, m, base, len, ValD))
    }

  /** In-neighbor CSR blocks over (dst, src, w) rows: key = dst, payload =
    * src, one scan of the edge table.
    *   - Without `norm` (the engine's build): values are the raw weights w,
    *     and each block also carries `outW`, its rows' total out-weights Σw
    *     summed from the map tasks' partials in the same shuffle. Edges
    *     with a non-finite w are counted in their source's total but not
    *     stored.
    *   - With `norm`: value = w / norm(src), rows whose src has norm <= 0
    *     dropped (the `filter(wtot > 0)` + inner-join semantics), no
    *     `outW`.
    * Caller persists/checkpoints. */
  def buildWeighted(
      edges: DataFrame, // pre-projected (dst LONG, src LONG, w DOUBLE)
      n: Int, nParts: Int, useFloat: Boolean,
      norm: Broadcast[Array[Double]] = null): RDD[CsrBlock] = {
    val valMode = if (useFloat) ValF else ValD
    val sumOutW = norm == null
    mapRanges(blobRdd(edges, n, nParts, valMode, norm, outWeights = sumOutW), n, nParts) {
      (base, len, blobs, m) =>
        val b = csrBlock(blobs, m, base, len, valMode)
        Iterator.single(if (sumOutW) b.copy(outW = outWeightSlice(blobs, base, len)) else b)
    }
  }

  /** Symmetric value-less CSR blocks (CC/LP) over an (src, dst) edge table:
    * both orientations of every edge, self-loops dropped, per-row neighbor
    * sets SORTED + DEDUPLICATED in place — identical neighbor sets to the
    * old `symmetrize(...).distinct()` Catalyst plan (LP's mode counts depend
    * on dedup; CC's min does not care), with no distinct exchange and 8
    * B/edge on the wire. Caller persists/checkpoints. */
  def buildSymmetric(edges: DataFrame, n: Int, nParts: Int): RDD[CsrBlock] = {
    val sel = edges.select(col("src").cast("long"), col("dst").cast("long"))
    mapRanges(blobRdd(sel, n, nParts, ValNone, sym = true), n, nParts) {
      (base, len, blobs, m) =>
        val b = csrBlock(blobs, m, base, len, ValNone)
        val colInd = b.colInd
        // per-row sort + in-place dedup, compacting as we go (w0 <= i, so
        // the write never passes the read)
        val rowPtr = new Array[Int](len + 1)
        var w0 = 0
        var r = 0
        while (r < len) {
          val beg = b.rowPtr(r); val end = b.rowPtr(r + 1)
          java.util.Arrays.sort(colInd, beg, end)
          val first = w0
          var i = beg
          while (i < end) {
            val v = colInd(i)
            if (w0 == first || v != colInd(w0 - 1)) { colInd(w0) = v; w0 += 1 }
            i += 1
          }
          rowPtr(r + 1) = w0
          r += 1
        }
        Iterator.single(CsrBlock(base, rowPtr, java.util.Arrays.copyOf(colInd, w0),
          Array.emptyDoubleArray, Array.emptyFloatArray))
    }
  }
}
