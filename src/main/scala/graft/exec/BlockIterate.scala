package graft.exec

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import java.nio.{ByteBuffer, ByteOrder}
import scala.reflect.ClassTag

import graft.graph.{CsrBlock, RangedCsr}
import graft.model.IterationMetrics
import graft.obs.Obs

/** A primitive state codec: the driver holds the state as `S`
  * (Array[Double] or Array[Long]); executors read it, and write their
  * slices, as the primitive array `E`. Both directions cross the wire as
  * packed bytes — bulk copies, independent of the Spark serializer — pinned
  * LITTLE_ENDIAN, not nativeOrder, so the wire format does not depend on
  * the architecture either end runs on (on x86/ARM64 the pin costs
  * nothing). */
sealed abstract class StateCodec[S <: AnyRef, E <: AnyRef] extends Serializable {
  def alloc(n: Int): S
  /** Driver state -> wire. */
  def pack(x: S): Array[Byte]
  /** Wire -> executor state. */
  def unpack(b: Array[Byte]): E
  /** Executor slice -> wire. */
  def packSlice(x: E): Array[Byte]
  /** Wire slice -> `into(at ...)`; returns the slice length. */
  def scatter(b: Array[Byte], into: S, at: Int): Int
  /** (id, valueCol) rows read per partition straight out of the broadcast
    * `pack(x)` bytes of an n-vertex state: O(V/P) rows per task and no
    * per-vertex driver allocation. */
  def toDf(spark: SparkSession, packed: Broadcast[Array[Byte]], n: Int,
      valueCol: String): DataFrame
}

object StateCodec {
  private def le(b: Array[Byte]): ByteBuffer =
    ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)

  /** Double state, double wire and executor arrays. */
  object F64 extends StateCodec[Array[Double], Array[Double]] {
    def alloc(n: Int): Array[Double] = new Array[Double](n)
    def pack(x: Array[Double]): Array[Byte] = {
      val b = new Array[Byte](8 * x.length)
      le(b).asDoubleBuffer().put(x)
      b
    }
    def unpack(b: Array[Byte]): Array[Double] = {
      val x = new Array[Double](b.length / 8)
      le(b).asDoubleBuffer().get(x)
      x
    }
    def packSlice(x: Array[Double]): Array[Byte] = pack(x)
    def scatter(b: Array[Byte], into: Array[Double], at: Int): Int = {
      val m = b.length / 8
      le(b).asDoubleBuffer().get(into, at, m)
      m
    }
    def toDf(spark: SparkSession, packed: Broadcast[Array[Byte]], n: Int,
        valueCol: String): DataFrame = {
      import spark.implicits._
      spark.range(n.toLong).as[Long].mapPartitions { it =>
        val bb = le(packed.value)
        it.map(i => (i, bb.getDouble(8 * i.toInt)))
      }.toDF("id", valueCol)
    }
  }

  /** Double driver state, float wire and executor arrays — the reference's
    * own precision (`graphCOO.hpp:20-21`), half the broadcast, slice and
    * kernel traffic. The driver state only ever holds values that came
    * from floats, so every f64 <-> f32 conversion here is exact. */
  object F32 extends StateCodec[Array[Double], Array[Float]] {
    def alloc(n: Int): Array[Double] = new Array[Double](n)
    def pack(x: Array[Double]): Array[Byte] = {
      val f = new Array[Float](x.length)
      var i = 0
      while (i < f.length) { f(i) = x(i).toFloat; i += 1 }
      packSlice(f)
    }
    def unpack(b: Array[Byte]): Array[Float] = {
      val x = new Array[Float](b.length / 4)
      le(b).asFloatBuffer().get(x)
      x
    }
    def packSlice(x: Array[Float]): Array[Byte] = {
      val b = new Array[Byte](4 * x.length)
      le(b).asFloatBuffer().put(x)
      b
    }
    def scatter(b: Array[Byte], into: Array[Double], at: Int): Int = {
      val f = unpack(b)
      var i = 0
      while (i < f.length) { into(at + i) = f(i); i += 1 }
      f.length
    }
    def toDf(spark: SparkSession, packed: Broadcast[Array[Byte]], n: Int,
        valueCol: String): DataFrame = {
      import spark.implicits._
      spark.range(n.toLong).as[Long].mapPartitions { it =>
        val bb = le(packed.value)
        it.map(i => (i, bb.getFloat(4 * i.toInt).toDouble))
      }.toDF("id", valueCol)
    }
  }

  /** Long (label) state. */
  object I64 extends StateCodec[Array[Long], Array[Long]] {
    def alloc(n: Int): Array[Long] = new Array[Long](n)
    def pack(x: Array[Long]): Array[Byte] = {
      val b = new Array[Byte](8 * x.length)
      le(b).asLongBuffer().put(x)
      b
    }
    def unpack(b: Array[Byte]): Array[Long] = {
      val x = new Array[Long](b.length / 8)
      le(b).asLongBuffer().get(x)
      x
    }
    def packSlice(x: Array[Long]): Array[Byte] = pack(x)
    def scatter(b: Array[Byte], into: Array[Long], at: Int): Int = {
      val m = b.length / 8
      le(b).asLongBuffer().get(into, at, m)
      m
    }
    def toDf(spark: SparkSession, packed: Broadcast[Array[Byte]], n: Int,
        valueCol: String): DataFrame = {
      import spark.implicits._
      spark.range(n.toLong).as[Long].mapPartitions { it =>
        val bb = le(packed.value)
        it.map(i => (i, bb.getLong(8 * i.toInt)))
      }.toDF("id", valueCol)
    }
  }
}

/** Once-per-executor-per-iteration unpack of a broadcast state: all tasks
  * of one job share a single unpacked array, keyed by the broadcast id
  * (unique per SparkContext). A stale or foreign key just re-unpacks —
  * correctness never depends on a hit. One memo slot under the same key
  * holds an array derived from that state (PageRank's contributions), so
  * it too is computed once per executor per iteration. */
private[graft] object StateCache {
  private var key = -1L
  private var value: AnyRef = _
  private var derived: AnyRef = _
  def get[E <: AnyRef](bc: Broadcast[Array[Byte]], codec: StateCodec[_, E]): E =
    synchronized {
      if (key != bc.id || value == null) {
        value = codec.unpack(bc.value); derived = null; key = bc.id
      }
      value.asInstanceOf[E]
    }
  /** `f(x)`, memoized while `x` is the cached state (one `f` per state);
    * any other `x` is derived afresh. */
  def derive[E <: AnyRef, D <: AnyRef](x: E)(f: E => D): D = synchronized {
    if (x ne value) f(x)
    else {
      if (derived == null) derived = f(x)
      derived.asInstanceOf[D]
    }
  }
}

/** The array-tier counterpart of [[Iterate]]: one broadcast-state
  * iteration driver for every flat-block kernel — PageRank's (+,×) in f64
  * and f32, CC's min, LP's mode — over the ranged CSR blocks of
  * [[graft.graph.RangedCsr]].
  *
  * Range contract: with chunk = ceil(n / P), partition p builds the block
  * of vertex ids [p*chunk, min(n, (p+1)*chunk)) with one row per id (rows
  * without edges included); partitions whose range starts at or past n
  * build none. So the blocks tile [0, n) and a block is identified by its
  * `base` alone. A kernel's slice for a block is the next state of exactly
  * that id run, and the driver scatters it as one bulk copy at `base`.
  *
  * Per iteration (the measured bound at scale is O(V) driver serde, not the
  * kernel):
  *   1. the caller's `kernel(x)` derives this iteration's block kernel from
  *      the current state (PageRank folds in its dangling mass here);
  *   2. the driver packs the state and torrent-broadcasts the bytes;
  *   3. one `runJob` over the cached blocks: each executor unpacks the
  *      state once ([[StateCache]]), each task runs the kernel over its
  *      block and returns (base, packed slice, partial delta); the
  *      broadcast is then released;
  *   4. the driver scatters the slices into `next` in parallel (disjoint id
  *      runs, so plain assignment is race-free), checks that they covered
  *      all n ids, and folds the partial deltas in block order — a sum for
  *      the "l1" and "changed" norms, a max for "linf";
  *   5. `afterScatter` may rewrite `next` in place (CC's pointer
  *      compression); metrics are recorded and `cfg.snapshotDir` is honored
  *      as in [[Iterate]].
  * The loop runs while iter < cfg.maxIter and delta >= cfg.tol. Driver work
  * per iteration is two O(V) copies plus an O(V/P)-parallel scatter;
  * everything O(E) and every reduction is executor-side.
  *
  * Scope: the broadcast regime only (the state fits in driver and executor
  * memory, ~10^8 vertices). The DataFrame tiers are the 10^12-vertex
  * design. Kernels index `Array[Double]`/`Array[Float]`/`Array[Long]`
  * directly: a row loop over a generic `Array[T]` would box every read.
  */
object BlockIterate {

  /** One block + the executor's state -> the block's next-state slice and
    * its partial convergence delta. */
  type Kernel[E] = (CsrBlock, E) => (E, Double)

  /** Persisted, lineage-cut range blocks of an n-vertex graph: `nEdges`
    * stored edges, and `outWeights`, the n per-vertex out-weights the
    * blocks carry ([[CsrBlock.outW]]; empty when they carry none). */
  final class Blocks private[BlockIterate] (
      private[BlockIterate] val rdd: RDD[CsrBlock], val n: Int, val nEdges: Long,
      val outWeights: Array[Double])

  /** Cache the blocks deserialized (iterations touch primitive arrays, no
    * decode) and cut their lineage: without the local checkpoint every
    * iteration job re-serializes the whole upstream Catalyst/RDD graph
    * into its task binary (measured ~200 ms/iteration at 403M edges). One
    * action, a `runJob` over the blocks themselves, materializes both and
    * returns each block's edge count and out-weight slice. */
  def materialize(built: RDD[CsrBlock], n: Int): Blocks = {
    val rdd = built.persist(StorageLevel.MEMORY_ONLY)
    rdd.localCheckpoint()
    val parts = perBlock(rdd)(b => (b.base, b.colInd.length.toLong, b.outW))
    val outW = if (parts.forall(_._3.isEmpty)) Array.emptyDoubleArray else {
      val w = new Array[Double](n)
      parts.foreach { case (base, _, slice) => System.arraycopy(slice, 0, w, base, slice.length) }
      w
    }
    new Blocks(rdd, n, parts.map(_._2).sum, outW)
  }

  /** `f` of every block, in partition order: one `runJob` straight over the
    * cached blocks (no per-call RDD, so a job is the job floor plus the
    * kernel). A partition past the range contract's last block holds none.
    * The caller's job group applies, as to any action. */
  private def perBlock[T: ClassTag](rdd: RDD[CsrBlock])(f: CsrBlock => T): Array[T] =
    rdd.sparkContext.runJob(rdd, (it: Iterator[CsrBlock]) => it.map(f).toArray).flatten

  /** CC/LP: labels start at the own id over the symmetric link blocks
    * ([[graft.graph.RangedCsr.buildSymmetric]]); a round that changes no
    * label ends the loop (the "changed" norm, as in the DataFrame tiers). */
  def labels(spark: SparkSession, edges: DataFrame, nVertices: Long,
      maxIter: Int, strategy: String, algo: String,
      afterScatter: (Array[Long], Double) => Unit = (_: Array[Long], _: Double) => ())(
      kernel: Kernel[Array[Long]]): (DataFrame, Seq[IterationMetrics]) = {
    require(nVertices <= Int.MaxValue, "broadcast-array kernel needs V <= 2^31")
    val n = nVertices.toInt
    val nParts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    run(spark, materialize(RangedCsr.buildSymmetric(edges, n, nParts), n),
      StateCodec.I64, Array.tabulate(n)(_.toLong),
      IterConfig(tol = 0.5, maxIter = maxIter, norm = "changed"),
      strategy, "label", afterScatter, algo = algo)(_ => kernel)
  }

  /** Iterate from `init` (which the driver may reuse as a buffer) and
    * release the blocks. Returns the final state as (id, valueCol) rows and
    * the per-iteration metrics. `startIter` is the number of iterations
    * `init` already ran (a resumed run), as in [[Iterate.loop]]: metrics
    * and snapshots count on from it, and the loop stops at `cfg.maxIter`.
    * Each iteration runs as the span `<algo>:iter:<n>` ([[graft.obs.Obs]]),
    * which only sets a local property unless the obs sink is on. */
  def run[S <: AnyRef, E <: AnyRef](
      spark: SparkSession,
      blocks: Blocks,
      codec: StateCodec[S, E],
      init: S,
      cfg: IterConfig,
      strategy: String,
      valueCol: String,
      afterScatter: (S, Double) => Unit = (_: S, _: Double) => (),
      startIter: Int = 0,
      algo: String)(
      kernel: S => Kernel[E]): (DataFrame, Seq[IterationMetrics]) = {
    val sc = spark.sparkContext
    val n = blocks.n
    val sum = cfg.norm != "linf"
    val metrics = scala.collection.mutable.ArrayBuffer.empty[IterationMetrics]
    var x = init
    var next = codec.alloc(n)
    var iter = startIter
    var delta = Double.MaxValue
    try {
      while (iter < cfg.maxIter && delta >= cfg.tol) {
        Obs.span(spark, s"$algo:iter:${iter + 1}") {
          val t0 = System.nanoTime()
          val k = kernel(x)
          val bc = sc.broadcast(codec.pack(x))
          val slices = perBlock(blocks.rdd) { b =>
            val (out, partial) = k(b, StateCache.get(bc, codec))
            (b.base, codec.packSlice(out), partial)
          }
          bc.unpersist(false) // non-blocking (destroy() is a blocking RPC per iteration)
          val into = next
          val covered = java.util.stream.IntStream.range(0, slices.length).parallel()
            .mapToLong(i => codec.scatter(slices(i)._2, into, slices(i)._1).toLong).sum()
          require(covered == n, s"blocks covered $covered of $n vertex ids")
          delta = 0.0
          slices.foreach(s => delta = if (sum) delta + s._3 else math.max(delta, s._3))
          afterScatter(next, delta)
          val tmp = x; x = next; next = tmp
          val secs = (System.nanoTime() - t0) / 1e9
          metrics += IterationMetrics(iter + 1, blocks.nEdges, secs,
            if (secs > 0) blocks.nEdges / secs else 0.0, delta, strategy)
          iter += 1
          cfg.snapshotDir.foreach { dir =>
            if (iter % cfg.snapshotEvery == 0 || delta < cfg.tol) {
              val snap = sc.broadcast(codec.pack(x))
              try Iterate.snapshot(dir, codec.toDf(spark, snap, n, "x"), iter, delta)
              finally snap.destroy()
            }
          }
        }
      }
    } finally org.apache.spark.sql.graft.bridge.releaseRDD(blocks.rdd)
    // the handoff broadcast lives as long as the result DataFrame reads it
    (codec.toDf(spark, sc.broadcast(codec.pack(x)), n, valueCol), metrics.toSeq)
  }
}
