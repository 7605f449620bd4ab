package graftbench

import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded input generators. The engine never sees these functions: each run
  * writes their output once as a parquet table and hands the engine only the
  * table. The oracle regenerates the same edges in memory.
  *
  * A graph is produced in `Slices` fixed slices, each from its own RNG
  * seeded by (seed, slice). The table therefore depends on the seed and the
  * shape only, never on the core count or on which task made which slice. */
object Gen {
  val Slices = 16

  /** One slice of a graph as primitive columns; `w` is null when unweighted. */
  final class Edges(val src: Array[Int], val dst: Array[Int], val w: Array[Double]) {
    def size: Int = src.length
  }

  private final class Buf(cap: Int, weighted: Boolean) {
    var src = new Array[Int](cap)
    var dst = new Array[Int](cap)
    var w: Array[Double] = if (weighted) new Array[Double](cap) else null
    var m = 0
    def add(s: Int, d: Int, wt: Double): Unit = {
      if (m == src.length) {
        val c = m * 2
        src = java.util.Arrays.copyOf(src, c)
        dst = java.util.Arrays.copyOf(dst, c)
        if (w != null) w = java.util.Arrays.copyOf(w, c)
      }
      src(m) = s; dst(m) = d
      if (w != null) w(m) = wt
      m += 1
    }
    def result: Edges = new Edges(
      java.util.Arrays.copyOf(src, m), java.util.Arrays.copyOf(dst, m),
      if (w == null) null else java.util.Arrays.copyOf(w, m))
  }

  private def rng(seed: Long, shape: Long, slice: Int): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ shape * 0xBF58476D1CE4E5B9L ^ slice)

  private def sliceRange(n: Int, slice: Int): (Int, Int) =
    ((n.toLong * slice / Slices).toInt, (n.toLong * (slice + 1) / Slices).toInt)

  /** A graph shape: vertex count plus a per-slice edge generator. */
  sealed trait Shape {
    def n: Int
    def weighted: Boolean
    def slice(seed: Long, s: Int): Edges

    /** All slices concatenated, in slice order (the oracle's copy). */
    def all(seed: Long): Edges = {
      // slices are independent, so they are made in parallel
      val parts = java.util.stream.IntStream.range(0, Slices).parallel()
        .mapToObj[Edges](s => slice(seed, s)).toArray.map(_.asInstanceOf[Edges])
      val m = parts.map(_.size).sum
      val b = new Buf(math.max(1, m), weighted)
      parts.foreach { e =>
        var i = 0
        while (i < e.size) { b.add(e.src(i), e.dst(i), if (e.w == null) 0.0 else e.w(i)); i += 1 }
      }
      b.result
    }

    /** Writes the graph as parquet (src LONG, dst LONG[, w DOUBLE]) and
      * returns the edge count. */
    def write(spark: SparkSession, seed: Long, path: String): Long = {
      import spark.implicits._
      val sh = this
      val rows = spark.sparkContext.parallelize(0 until Slices, Slices).flatMap { s =>
        val e = sh.slice(seed, s)
        Iterator.range(0, e.size).map(i =>
          (e.src(i).toLong, e.dst(i).toLong, if (e.w == null) 0.0 else e.w(i)))
      }
      val df = rows.toDF("src", "dst", "w")
      (if (weighted) df else df.drop("w")).write.option("parquet.enable.dictionary", "false")
        .parquet(path)
      spark.read.parquet(path).count()
    }
  }

  /** Web-like link graph. Pages are grouped into hosts of `HostSize`
    * consecutive ids. A page has no out-links with probability 1/25
    * (dangling), otherwise a uniform out-degree in [L/2, 3L/2]. That floor
    * matters: pages with one or two out-links form small traps that decay
    * at the damping rate, so with it PageRank needs a seed-independent
    * number of iterations (26 over seeds 1-8 at 2^19 x 24; 28-38 without
    * it), and the op's work does not vary with the seed. Each link is
    * host-local (75%), to a power-law hub (15%: hub rank floor(H·u³) over
    * H = n/HostSize hub pages spread by an odd multiplier), or uniform
    * (10%). Weights are anchor multiplicities 1..4. */
  final case class Web(n: Int, links: Int) extends Shape {
    require(Integer.bitCount(n) == 1, "page count must be a power of two")
    val HostSize = 256
    def weighted = true
    def slice(seed: Long, s: Int): Edges = {
      val r = rng(seed, 1L << 32 | n.toLong * 64 + links, s)
      val (lo, hi) = sliceRange(n, s)
      val b = new Buf((hi - lo) * links + 16, weighted = true)
      val hubs = n / HostSize
      var p = lo
      while (p < hi) {
        val deg = if (r.nextInt(25) == 0) 0 else links / 2 + r.nextInt(links + 1)
        val host = p - p % HostSize
        var k = 0
        while (k < deg) {
          val u = r.nextDouble()
          val d =
            if (u < 0.75) host + r.nextInt(HostSize)
            else if (u < 0.90) {
              val v = r.nextDouble()
              val rank = (hubs * v * v * v).toLong
              ((rank * 2654435761L) & (n - 1)).toInt
            } else r.nextInt(n)
          b.add(p, d, 1.0 + r.nextInt(4))
          k += 1
        }
        p += 1
      }
      b.result
    }
  }

  /** Community graph for label propagation: communities of `Community`
    * consecutive vertices, each vertex with `intra` links to uniform members
    * of its own community (self-loops possible, the engine drops them), one
    * bridge to a uniform vertex with probability 1/10, and one link to one of
    * `Hubs` hub vertices with probability 1/4. */
  final case class Communities(n: Int, intra: Int) extends Shape {
    val Community = 64
    val Hubs = 4
    def weighted = false
    def slice(seed: Long, s: Int): Edges = {
      val r = rng(seed, 2L << 32 | n.toLong * 64 + intra, s)
      val (lo, hi) = sliceRange(n, s)
      val b = new Buf((hi - lo) * (intra + 1) + 16, weighted = false)
      var v = lo
      while (v < hi) {
        val base = v - v % Community
        var k = 0
        while (k < intra) { b.add(v, base + r.nextInt(Community), 0.0); k += 1 }
        if (r.nextInt(10) == 0) b.add(v, r.nextInt(n), 0.0)
        if (r.nextInt(4) == 0) b.add(v, (r.nextInt(Hubs) * (n / Hubs) + n / (2 * Hubs)), 0.0)
        v += 1
      }
      b.result
    }
  }

  /** Order-independent digest of an edge table: (rows, Σ mix(row)). */
  def digest(e: Edges): (Long, Long) = {
    var h = 0L
    var i = 0
    while (i < e.size) {
      h += mix(e.src(i), e.dst(i), if (e.w == null) 0.0 else e.w(i))
      i += 1
    }
    (e.size.toLong, h)
  }

  def digest(df: DataFrame): (Long, Long) = {
    val weighted = df.columns.contains("w")
    df.rdd.map { row =>
      (1L, mix(row.getLong(0), row.getLong(1), if (weighted) row.getDouble(2) else 0.0))
    }.fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
  }

  private def mix(s: Long, d: Long, w: Double): Long = {
    var z = s * 0x9E3779B97F4A7C15L + d * 0xC2B2AE3D27D4EB4FL +
      java.lang.Double.doubleToLongBits(w)
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
