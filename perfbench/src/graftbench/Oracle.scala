package graftbench

/** Plain single-threaded implementations of the benchmark's problems: the
  * output oracle for every op, and `ref.single_thread_s` in traced runs. */
object Oracle {

  /** Damped, dangling-aware PageRank in probability form, with graft's
    * weighting: p(u,v) = w / Σ_out w(u); duplicate edges add up; a vertex
    * with no positive out-weight is dangling and its mass re-enters
    * uniformly. Stops once the L1 change is below `tol` or after `maxIter`
    * iterations. Returns (scores, iterations). */
  def pageRank(n: Int, e: Gen.Edges, damping: Double, tol: Double,
      maxIter: Int): (Array[Double], Int) = {
    val wtot = new Array[Double](n)
    var i = 0
    while (i < e.size) { wtot(e.src(i)) += e.w(i); i += 1 }
    // in-adjacency CSR by dst
    val rowPtr = new Array[Int](n + 1)
    i = 0
    while (i < e.size) { if (wtot(e.src(i)) > 0) rowPtr(e.dst(i) + 1) += 1; i += 1 }
    var v = 0
    while (v < n) { rowPtr(v + 1) += rowPtr(v); v += 1 }
    val fill = java.util.Arrays.copyOf(rowPtr, n)
    val colInd = new Array[Int](rowPtr(n))
    val colVal = new Array[Double](rowPtr(n))
    i = 0
    while (i < e.size) {
      val s = e.src(i)
      if (wtot(s) > 0) {
        val k = fill(e.dst(i)); fill(e.dst(i)) += 1
        colInd(k) = s; colVal(k) = e.w(i) / wtot(s)
      }
      i += 1
    }
    val dangling = (0 until n).filter(wtot(_) <= 0).toArray
    var x = Array.fill(n)(1.0 / n)
    var next = new Array[Double](n)
    var iter = 0
    var delta = Double.MaxValue
    while (iter < maxIter && delta >= tol) {
      var dm = 0.0
      dangling.foreach(d => dm += x(d))
      val base = (1.0 - damping) / n + damping * dm / n
      delta = 0.0
      v = 0
      while (v < n) {
        var s = 0.0
        var k = rowPtr(v)
        val end = rowPtr(v + 1)
        while (k < end) { s += colVal(k) * x(colInd(k)); k += 1 }
        val nv = base + damping * s
        delta += math.abs(nv - x(v))
        next(v) = nv
        v += 1
      }
      val t = x; x = next; next = t
      iter += 1
    }
    (x, iter)
  }

  /** Synchronous label propagation under graft's rule: links are
    * symmetrised and de-duplicated, self-loops excluded; every vertex starts
    * with its own id and adopts the most frequent neighbour label, the
    * smallest label on a tie, keeping its own label when it has no
    * neighbours. Stops after a round that changes no label, or after
    * `maxIter` rounds. Returns (labels, rounds). */
  def labelPropagation(n: Int, e: Gen.Edges, maxIter: Int): (Array[Long], Int) = {
    val keys = new Array[Long](2 * e.size)
    var m = 0
    var i = 0
    while (i < e.size) {
      val s = e.src(i); val d = e.dst(i)
      if (s != d) {
        keys(m) = s.toLong * n + d; keys(m + 1) = d.toLong * n + s
        m += 2
      }
      i += 1
    }
    java.util.Arrays.sort(keys, 0, m)
    val rowPtr = new Array[Int](n + 1)
    val nbr = new Array[Int](m)
    var u = 0
    i = 0
    while (i < m) {
      if (i == 0 || keys(i) != keys(i - 1)) {
        val s = (keys(i) / n).toInt
        nbr(u) = (keys(i) % n).toInt
        rowPtr(s + 1) += 1
        u += 1
      }
      i += 1
    }
    var v = 0
    while (v < n) { rowPtr(v + 1) += rowPtr(v); v += 1 }
    var x = Array.tabulate(n)(_.toLong)
    var next = new Array[Long](n)
    val tmp = new Array[Long](n)
    var iter = 0
    var changed = Long.MaxValue
    while (iter < maxIter && changed >= 1) {
      changed = 0
      v = 0
      while (v < n) {
        val lo = rowPtr(v); val hi = rowPtr(v + 1)
        var best = x(v)
        if (hi > lo) {
          var k = lo
          while (k < hi) { tmp(k - lo) = x(nbr(k)); k += 1 }
          java.util.Arrays.sort(tmp, 0, hi - lo)
          var bestCnt = 0
          var j = 0
          while (j < hi - lo) {
            var r = j
            while (r < hi - lo && tmp(r) == tmp(j)) r += 1
            if (r - j > bestCnt) { bestCnt = r - j; best = tmp(j) }
            j = r
          }
        }
        if (best != x(v)) changed += 1
        next(v) = best
        v += 1
      }
      val t = x; x = next; next = t
      iter += 1
    }
    (x, iter)
  }

  /** Per-vertex closeness of two score vectors: |a - b| <= rtol · max(|a|, |b|). */
  def allClose(a: Array[Double], b: Array[Double], rtol: Double): Boolean =
    a.length == b.length && a.indices.forall { i =>
      math.abs(a(i) - b(i)) <= rtol * math.max(math.abs(a(i)), math.abs(b(i)))
    }
}
