package graft.model

import java.sql.Timestamp

/** Core data model of the link-graph engine.
  *
  * Re-imagines the reference's sparse-matrix types
  * (`/root/reference/include/graphCOO.hpp:10-13` `struct value{row,col,val}`,
  * `weights`/`flow` vectors at `include/graphCOO.hpp:20-21`) as typed Spark
  * Datasets. Vertex ids are Long (the reference uses 32-bit int — too small
  * for 10^12-page scale), weights/state are Double (the reference uses float;
  * we accumulate in double and compare with tolerance, per SURVEY.md §1.3.5).
  */

/** One directed, weighted edge: `src -> dst` with weight `w`.
  * Maps the reference's COO triple `value{row, col, val}`
  * (`/root/reference/include/graphCOO.hpp:10-13`). */
final case class Edge(src: Long, dst: Long, w: Double)

/** Unweighted edge used by algorithms that ignore weights (CC, LP, triangles). */
final case class Link(src: Long, dst: Long)

/** Per-vertex state vector entry — the reference's `weights[i]` input /
  * `flow[i]` output (`/root/reference/include/graphCOO.hpp:20-21`). */
final case class VertexState(id: Long, x: Double)

/** CSR-like adjacency row: all out-neighbors of `src` with weights, sorted by
  * dst. Maps the reference's CSR layout (`/root/reference/include/graphCSR.hpp:382-384`:
  * csrRowPtr/csrColInd/csrVal) onto a grouped, columnar Dataset row. Built once
  * (one shuffle), persisted, reused every iteration. */
final case class Adjacency(src: Long, dsts: Array[Long], ws: Array[Double])

/** In-neighbor-oriented adjacency (the reference's transpose, C2:
  * `/root/reference/include/graphCOO.hpp:141-150`) — gather-by-dst form used
  * by PageRank. */
final case class InAdjacency(dst: Long, srcs: Array[Long], ws: Array[Double])

/** Common-Crawl-style page row per BASELINE.json `input_hint`. */
final case class Page(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String)

/** Vertex dictionary entry: url -> dense Long id (0-based, contiguous). */
final case class VertexId(url: String, id: Long)

/** Per-iteration execution metrics (north rule: throughput, shuffle-bytes,
  * and skew emitted per iteration). `shuffleReadBytes`/`shuffleWriteBytes`
  * are the task-level totals of the iteration's span — the jobs that ran
  * under its `graft.span` ([[graft.obs.Obs]]), never a concurrent job's;
  * `taskSkew` is max-task-time / mean-task-time over those tasks (1.0 =
  * perfectly balanced; a hot key or straggler shows as >> 1). -1 / NaN =
  * not collected (the array tiers record neither). */
final case class IterationMetrics(
    iteration: Int,
    edges: Long,
    seconds: Double,
    edgesPerSec: Double,
    delta: Double,
    strategy: String,
    shuffleReadBytes: Long = -1L,
    shuffleWriteBytes: Long = -1L,
    taskSkew: Double = Double.NaN)

/** Degree-distribution skew statistics
  * (reference analog: max row degree tracked during CSR build,
  * `/root/reference/include/graphCSR.hpp:464-467`, avg row length
  * `/root/reference/perf_compare/perf_compare.cpp:427-428`). */
final case class SkewStats(
    vertices: Long,
    edges: Long,
    maxDegree: Long,
    avgDegree: Double,
    p50Degree: Double,
    p99Degree: Double)
