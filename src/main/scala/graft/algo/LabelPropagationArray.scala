package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.exec.BlockIterate
import graft.exec.BlockIterate.Kernel

/** Synchronous label propagation over per-partition flat CSR blocks with a
  * broadcast primitive label array — the K6 broadcast-gather kernel
  * (`/root/reference/include/graphCSR.hpp:215-249`) on the MODE "semiring":
  * per row, gather `labels[colInd[j]]` over the neighbors and take the most
  * frequent label, ties broken by the SMALLEST label — exactly the
  * deterministic argmax of the DataFrame [[LabelPropagation]] (ScalaTest
  * asserts the two paths row-identical on the bench structure), so the
  * north rule's "label propagation assignments exact" holds on both tiers.
  *
  * WHY a second LP path (the VERDICT r04 #2 kernel tier): LP was the
  * slowest per-iteration DataFrame lane (0.7-1.1 s/iter at 1M vertices —
  * a shuffle join and an aggregate shuffle every round, see
  * [[LabelPropagation]]). In the broadcast regime
  * (V <= ~10^8, labels fit one executor at 8 B/vertex) a whole LP round is
  * ONE zero-shuffle gather job over the cached CSR blocks: executors
  * compute per-row neighbor-label modes against the broadcast array and
  * return packed slices + a changed-count ([[graft.exec.BlockIterate]]).
  * So this is the DEFAULT tier in the broadcast regime: [[LabelPropagation]]
  * `.run` with `GatherStrategy.Auto` (V <= 4M) or `BroadcastState` returns
  * this path; `ShuffleJoin` keeps the DataFrame rounds. On a 2^14-vertex,
  * ~120k-link community graph a 10-round call took 0.33 s here against
  * 2.96 s on the DataFrame rounds (perfbench `lp_communities`, medians of
  * 10 runs each, 4-vCPU box).
  * No pointer compression (LP labels are NOT monotone, unlike CC's).
  *
  * Per-row mode: copy neighbor labels into a reused scratch buffer, sort,
  * scan runs — O(deg log deg) with zero allocation beyond the scratch
  * growth, and the ascending scan picks the smallest label on count ties
  * for free. (A hash histogram is O(deg) but allocation- and probe-heavy at
  * web-graph degrees; sort wins on cache behavior for deg <= ~10^4.)
  *
  * Convergence: sync LP can 2-cycle on bipartite structures (see
  * [[LabelPropagation]]), so the loop stops on "no label changed" OR
  * maxIter; the changed-count is exact (summed per block), and determinism
  * guarantees the same final assignment for the same (graph, maxIter) —
  * matching the DataFrame path iteration for iteration.
  */
object LabelPropagationArray {

  def run(
      spark: SparkSession,
      edges: DataFrame,
      nVertices: Long,
      maxIter: Int = 20): LabelPropagation.Result = {
    val (labels, metrics) = BlockIterate.labels(spark, edges, nVertices, maxIter,
      "BroadcastArrayMode", "lp")(modeRows)
    LabelPropagation.Result(labels, metrics)
  }

  /** label'[v] = most frequent neighbor label, smallest on ties, own label
    * without neighbors; partial = #changed. */
  private val modeRows: Kernel[Array[Long]] = (b, xs) => {
    val out = new Array[Long](b.rows)
    var scratch = new Array[Long](1024)
    var ch = 0L
    var r = 0
    while (r < out.length) {
      val own = xs(b.base + r)
      val beg = b.rowPtr(r); val end = b.rowPtr(r + 1)
      val deg = end - beg
      if (scratch.length < deg)
        scratch = new Array[Long](Integer.highestOneBit(deg - 1) << 1)
      var i = beg
      while (i < end) { scratch(i - beg) = xs(b.colInd(i)); i += 1 }
      java.util.Arrays.sort(scratch, 0, deg)
      // run-length scan, first strict max wins -> smallest label on ties
      var best = own; var bestCnt = 0
      var j = 0
      while (j < deg) {
        var k = j + 1
        while (k < deg && scratch(k) == scratch(j)) k += 1
        if (k - j > bestCnt) { bestCnt = k - j; best = scratch(j) }
        j = k
      }
      out(r) = best
      if (best != own) ch += 1
      r += 1
    }
    (out, ch.toDouble)
  }
}
