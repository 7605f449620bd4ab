package graft.graph

import org.apache.spark.{Partitioner, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import java.nio.{ByteBuffer, ByteOrder}
import scala.reflect.ClassTag

/** One key range's in-adjacency as flat CSR (the reference's
  * rowPtr/colInd/val layout, `include/graphCSR.hpp:382-384`): local row r is
  * vertex `base + r` and gathers from colInd[rowPtr(r) until rowPtr(r+1)]
  * with weights colVal (double) or colValF (float). At most one of the two
  * is populated; label blocks (CC/LP) carry neither. */
final case class CsrBlock(
    base: Int,
    rowPtr: Array[Int],
    colInd: Array[Int],
    colVal: Array[Double],
    colValF: Array[Float]) {
  def rows: Int = rowPtr.length - 1
}

/** Packed-binary RANGE-partitioned CSR-block builder — the shared fast path
  * behind the broadcast-array kernels' one-time builds (r06 optimization).
  *
  * WHY (guide §2.3 "shuffle fewer bytes" + §1.2 "per-task work first"): the
  * r05 builds moved every edge through a Catalyst `repartition(n, col)`
  * exchange as an UnsafeRow — 8 B null-bits + 8 B per field = 32 B/edge on
  * the wire, plus per-row hash/copy/serde CPU on both sides (measured with
  * `graft.bench.BuildProbe` at 403M edges, r06 baseline: 162 s summed task
  * time map-side, 138 s reduce-side; the whole quiet build 17.2 s wall).
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
  */
object RangedCsr {

  /** Keys-per-partition chunk: ceil(n / nParts). */
  def chunkFor(n: Int, nParts: Int): Int =
    math.max(1, ((n.toLong + nParts - 1) / nParts).toInt)

  final class IdPartitioner(n: Int) extends Partitioner {
    def numPartitions: Int = n
    def getPartition(key: Any): Int = key.asInstanceOf[Int]
    override def equals(o: Any): Boolean = o match {
      case p: IdPartitioner => p.numPartitions == n
      case _ => false
    }
    override def hashCode: Int = n
  }

  // value modes for the packed wire blobs
  final val ValNone = 0
  final val ValF = 1
  final val ValD = 2

  /** Edges per blob before a flush: 128k edges ≈ 1-2 MB — large enough that
    * serde is bulk memcpy, small enough that a map task's nParts open
    * buffers stay ~tens of MB. */
  private final val FlushEdges = 1 << 17

  private def valBytes(valMode: Int): Int = valMode match {
    case ValF => 4
    case ValD => 8
    case _ => 0
  }

  /** Blob layout (little-endian): [m: Int][keys: m Ints][payloads: m Ints]
    * [values: m Floats|Doubles|absent]. Columnar within the blob so the
    * reader's bulk gets are three memcpys. */
  private def packBlob(
      m: Int, keys: Array[Int], payloads: Array[Int],
      valsF: Array[Float], valsD: Array[Double], valMode: Int): Array[Byte] = {
    val b = new Array[Byte](4 + m * (8 + valBytes(valMode)))
    ByteBuffer.wrap(b, 0, 4).order(ByteOrder.LITTLE_ENDIAN).putInt(m)
    ByteBuffer.wrap(b, 4, 4 * m).order(ByteOrder.LITTLE_ENDIAN)
      .asIntBuffer().put(keys, 0, m)
    ByteBuffer.wrap(b, 4 + 4 * m, 4 * m).order(ByteOrder.LITTLE_ENDIAN)
      .asIntBuffer().put(payloads, 0, m)
    valMode match {
      case ValF => ByteBuffer.wrap(b, 4 + 8 * m, 4 * m)
        .order(ByteOrder.LITTLE_ENDIAN).asFloatBuffer().put(valsF, 0, m)
      case ValD => ByteBuffer.wrap(b, 4 + 8 * m, 8 * m)
        .order(ByteOrder.LITTLE_ENDIAN).asDoubleBuffer().put(valsD, 0, m)
      case _ => ()
    }
    b
  }

  def blobCount(b: Array[Byte]): Int =
    ByteBuffer.wrap(b, 0, 4).order(ByteOrder.LITTLE_ENDIAN).getInt

  def blobKeys(b: Array[Byte], m: Int, out: Array[Int]): Unit =
    ByteBuffer.wrap(b, 4, 4 * m).order(ByteOrder.LITTLE_ENDIAN)
      .asIntBuffer().get(out, 0, m)

  def blobPayloads(b: Array[Byte], m: Int, out: Array[Int]): Unit =
    ByteBuffer.wrap(b, 4 + 4 * m, 4 * m).order(ByteOrder.LITTLE_ENDIAN)
      .asIntBuffer().get(out, 0, m)

  def blobValsF(b: Array[Byte], m: Int, out: Array[Float]): Unit =
    ByteBuffer.wrap(b, 4 + 8 * m, 4 * m).order(ByteOrder.LITTLE_ENDIAN)
      .asFloatBuffer().get(out, 0, m)

  def blobValsD(b: Array[Byte], m: Int, out: Array[Double]): Unit =
    ByteBuffer.wrap(b, 4 + 8 * m, 8 * m).order(ByteOrder.LITTLE_ENDIAN)
      .asDoubleBuffer().get(out, 0, m)

  /** Map side: drain (key, payload[, value]) InternalRows into per-target
    * packed blobs, streamed (a target's buffer flushes at FlushEdges — peak
    * task transient is nParts * ~2 MB, independent of partition size).
    *
    * @param df      pre-projected (key LONG, payload LONG[, value DOUBLE])
    * @param norm    optional normalization: value := value / norm(payload),
    *                rows with norm(payload) <= 0 dropped (the out-weight
    *                semantics of the PageRank normalize join, done as a
    *                broadcast primitive-array lookup instead of a join)
    * @param sym     emit BOTH orientations of each row (symmetric link set),
    *                dropping key == payload self-loops
    */
  def blobRdd(
      df: DataFrame, n: Int, nParts: Int, valMode: Int,
      norm: Broadcast[Array[Double]] = null,
      sym: Boolean = false): RDD[(Int, Array[Byte])] = {
    val chunk = chunkFor(n, nParts)
    df.queryExecution.toRdd.mapPartitions { rows =>
      // per-target buffers allocated on FIRST use: a locality-friendly input
      // (e.g. the banded generator, whose dst range tracks its src range)
      // touches 1-2 targets per map task, not all nParts
      val keyBuf = new Array[Array[Int]](nParts)
      val payBuf = new Array[Array[Int]](nParts)
      val valFBuf = if (valMode == ValF) new Array[Array[Float]](nParts) else null
      val valDBuf = if (valMode == ValD) new Array[Array[Double]](nParts) else null
      val cnt = new Array[Int](nParts)
      val wtot = if (norm == null) null else norm.value
      new Iterator[(Int, Array[Byte])] {
        private val out = new java.util.ArrayDeque[(Int, Array[Byte])]
        private var flushed = false
        private def emit(p: Int): Unit = {
          out.add((p, packBlob(cnt(p), keyBuf(p), payBuf(p),
            if (valFBuf == null) null else valFBuf(p),
            if (valDBuf == null) null else valDBuf(p), valMode)))
          cnt(p) = 0
        }
        private def put(k: Long, pay: Long, v: Double): Unit = {
          val p = (k / chunk).toInt
          if (keyBuf(p) == null) {
            keyBuf(p) = new Array[Int](FlushEdges)
            payBuf(p) = new Array[Int](FlushEdges)
            if (valFBuf != null) valFBuf(p) = new Array[Float](FlushEdges)
            if (valDBuf != null) valDBuf(p) = new Array[Double](FlushEdges)
          }
          val c = cnt(p)
          keyBuf(p)(c) = k.toInt
          payBuf(p)(c) = pay.toInt
          if (valFBuf != null) valFBuf(p)(c) = v.toFloat
          else if (valDBuf != null) valDBuf(p)(c) = v
          cnt(p) = c + 1
          if (c + 1 == FlushEdges) emit(p)
        }
        private def pump(): Unit = {
          while (out.isEmpty && rows.hasNext) {
            val r = rows.next()
            val k = r.getLong(0)
            val pay = r.getLong(1)
            if (sym) {
              if (k != pay) {
                put(k, pay, 0.0)
                put(pay, k, 0.0)
              }
            } else if (wtot != null) {
              val wt = wtot(pay.toInt)
              if (wt > 0) put(k, pay, r.getDouble(2) / wt)
            } else {
              put(k, pay, if (valMode == ValNone) 0.0 else r.getDouble(2))
            }
          }
          if (out.isEmpty && !flushed && !rows.hasNext) {
            var p = 0
            while (p < nParts) { if (cnt(p) > 0) emit(p); p += 1 }
            flushed = true
          }
        }
        def hasNext: Boolean = { pump(); !out.isEmpty }
        def next(): (Int, Array[Byte]) = { pump(); out.poll() }
      }
    }.partitionBy(new IdPartitioner(nParts))
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
      m += blobCount(b)
    }
    require(m <= Int.MaxValue,
      s"ranged CSR partition holds $m edges — raise shuffle partitions")
    (list.toArray, m.toInt)
  }

  /** Reduce side of the range contract: `f(base, len, blobs, m)` runs once
    * per partition whose key range [base, base + len) is non-empty, over
    * that partition's blobs and their total edge count m. */
  private[graft] def mapRanges[T: ClassTag](
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
    * [base, base + len). */
  private[graft] def rowCounts(
      blobs: Array[Array[Byte]], base: Int, len: Int): Array[Int] = {
    val counts = new Array[Int](len)
    val keys = new Array[Int](FlushEdges)
    var bi = 0
    while (bi < blobs.length) {
      val bm = blobCount(blobs(bi))
      blobKeys(blobs(bi), bm, keys)
      var i = 0
      while (i < bm) { counts(keys(i) - base) += 1; i += 1 }
      bi += 1
    }
    counts
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
      val bm = blobCount(b)
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

  /** In-neighbor CSR blocks with normalized values: key = dst, payload =
    * src, value = w / wtot(src) (rows whose src has wtot <= 0 dropped —
    * identical to the old `filter(wtot > 0)` + inner-join semantics).
    * Caller persists/checkpoints. */
  def buildWeighted(
      edges: DataFrame, // pre-projected (dst LONG, src LONG, w DOUBLE)
      n: Int, nParts: Int, useFloat: Boolean,
      norm: Broadcast[Array[Double]]): RDD[CsrBlock] = {
    val valMode = if (useFloat) ValF else ValD
    mapRanges(blobRdd(edges, n, nParts, valMode, norm), n, nParts) {
      (base, len, blobs, m) => Iterator.single(csrBlock(blobs, m, base, len, valMode))
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
