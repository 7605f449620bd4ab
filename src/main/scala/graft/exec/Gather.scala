package graft.exec

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The per-iteration gather-scatter kernel and its physical strategies.
  *
  * The reference's kernel taxonomy (SURVEY.md §2.3) is one axis: HOW the
  * dense vertex-state vector x reaches the edge data.
  *   - K1/K2 (COO/CSR scalar)     -> shuffle join state against edges
  *   - K6-K10 (SIMD gather)       -> broadcast state, map-side lookup
  *   - K11 (short-row/skew)       -> AQE skew join + salted aggregation
  * Here that axis is an explicit [[GatherStrategy]]; `Auto` picks broadcast
  * while the state fits comfortably in executor memory (~16 B/vertex), else
  * shuffle — the same rule a 1000-executor cluster needs, sized by V not by
  * guesswork (`spark.sql.autoBroadcastJoinThreshold` does not see through an
  * iteration loop's changing statistics).
  */
sealed trait GatherStrategy
object GatherStrategy {
  /** Shuffle the O(V) state to the edge partitioning for the join; the O(E)
    * contribution aggregate then shuffles to its key. Required when the
    * state is too large to broadcast (10^9+ vertices: a broadcast would OOM
    * the driver). */
  case object ShuffleJoin extends GatherStrategy
  /** The state fits in driver and executor memory. PageRank
    * ([[graft.algo.PageRank.run]]) and LP ([[graft.algo.LabelPropagation.run]])
    * then run their broadcast-array tier: flat CSR blocks built once, the
    * state broadcast as a primitive array, one zero-shuffle job per
    * iteration (the reference's K6 broadcast-gather kernel). Only the
    * one-shot SpMV still runs [[Gather.gather]]'s DataFrame broadcast join,
    * with the state force-broadcast to every executor. */
  case object BroadcastState extends GatherStrategy
  /** Size-based choice per run: `BroadcastState` while the state ships
    * cheaply (~16 B/vertex/iteration to every executor), `ShuffleJoin`
    * beyond. PageRank and LP resolve their tier through [[resolve]]: the
    * array tier at V <= `maxBroadcastVertices`, the DataFrame ShuffleJoin
    * tier above it. Connected components does not take a strategy yet: it
    * always runs its DataFrame two-phase tier.
    *
    * The 4M-vertex default is kept as it was. It was measured against the
    * DataFrame broadcast plan, which is gone; it has not been measured for
    * the array tier, whose limits are memory (the state on the driver and
    * on each executor, the CSR cache), and is to be replaced by a bound
    * sized from memory (ROADMAP direction 4). */
  final case class Auto(maxBroadcastVertices: Long = 4L * 1000 * 1000)
      extends GatherStrategy

  def resolve(s: GatherStrategy, vertexCount: Long): GatherStrategy = s match {
    case Auto(maxV) =>
      if (vertexCount <= maxV) BroadcastState else ShuffleJoin
    case other => other
  }
}

object Gather {

  /** Generic gather: `y[key] = Σ_{msgs(key, lookup, p)} p * x[lookup]`.
    *
    * `msgs` is an edge-shaped DataFrame with columns (`keyCol`, `lookupCol`,
    * `pCol`); `state` has (id, x). Returns (`keyCol`, x) — only keys with at
    * least one message appear (callers complete with the vertex universe,
    * mirroring the reference's trailing-isolated-vertex hazard,
    * SURVEY.md §1.3.4).
    *
    * Physical shape, shuffle path: if `msgs` is hash-partitioned by
    * `lookupCol`, only `state` (O(V)) shuffles for the join; the groupBy then
    * partial-aggregates map-side before the O(V)-sized final shuffle. Edges
    * themselves never move after the one-time adjacency build.
    */
  /** @param withOldState also emit `x_old` = the key vertex's own previous
    *   state, extracted from the DIAGONAL message row (`lookupCol == keyCol`)
    *   in the SAME join + aggregate — zero extra joins, one extra aggregate
    *   expression. Requires `msgs` to contain one diagonal row per key
    *   (PageRank's zero-weight self-contribution rows provide exactly that).
    *   This is what feeds the loop's fused convergence delta
    *   (Iterate/IterConfig: the delta becomes a join-free scan-agg of the
    *   materialized state — no old-vs-new shuffle join). */
  /** @param blockKey r06 (guide §2.3 "aggregate before you shuffle"): when
    *   `msgs` is pre-partitioned on a COARSENED id block `blkCol = lookup
    *   div B` (instead of hash(lookup) directly), rows with nearby vertex
    *   ids stay in one partition, so on id-local graphs (bands, url-sorted
    *   web crawls — the ConnectedComponents phase-1 locality argument) the
    *   post-join partial aggregation actually reduces: hash(src) scatters
    *   each partition's dsts across the whole id space and the "partial"
    *   agg re-emitted ~80% of the join output (measured 347 MB/iter at
    *   2^20x16 vs ~30 MB with blocks). Pass Some((blkColName, B)); the
    *   join adds blkCol to the equi-keys (blk is a function of the lookup
    *   id on both sides, so the join result is IDENTICAL) and Catalyst
    *   recognizes HashPartitioning(blkCol) ⊆ {blkCol, lookupCol} — the
    *   cached msgs still never re-shuffle. */
  def gather(
      msgs: DataFrame,
      state: DataFrame,
      keyCol: String,
      lookupCol: String,
      pCol: String,
      strategy: GatherStrategy,
      withOldState: Boolean = false,
      blockKey: Option[(String, Long)] = None): DataFrame = {
    val st = state.select(col("id").as(lookupCol), col("x"))
    val joined = strategy match {
      case GatherStrategy.BroadcastState => msgs.join(broadcast(st), lookupCol)
      case _ =>
        // shuffle_hash, NOT the default sort-merge: SMJ re-SORTS the O(E)
        // cached edge relation every iteration (measured: 2.3 GB sort spill
        // and ~2x iteration time at 100M edges). SHJ builds a hash table on
        // the O(V) state side and streams the edges unsorted — the shape a
        // per-iteration gather wants at any scale.
        blockKey match {
          case Some((blkCol, b)) =>
            val stB = st.withColumn(blkCol, expr(s"$lookupCol div $b"))
            msgs.join(stB.hint("shuffle_hash"), Seq(blkCol, lookupCol))
          case None => msgs.join(st.hint("shuffle_hash"), lookupCol)
        }
    }
    val base = joined.groupBy(keyCol)
    if (withOldState)
      base.agg(sum(col(pCol) * col("x")).as("x"),
        max(when(col(lookupCol) === col(keyCol), col("x"))).as("x_old"))
    else base.agg(sum(col(pCol) * col("x")).as("x"))
  }

  /** Salted two-phase sum for hot aggregation keys (reference analog: the
    * short-row MULTIROW kernel's skew axis,
    * `/root/reference/include/graphCSR.hpp:13-81`). Phase 1 aggregates on
    * (key, salt) — spreading a hot key over `numSalts` reducers — phase 2
    * aggregates the ≤numSalts partials per key. Salt is derived
    * deterministically from `saltSource` (any column uncorrelated with the
    * key, e.g. the edge's other endpoint), never from rand(). */
  def sumSalted(
      df: DataFrame,
      keyCol: String,
      valueExpr: Column,
      saltSource: Column,
      numSalts: Int): DataFrame = {
    df.withColumn("_salt", pmod(hash(saltSource), lit(numSalts)))
      .groupBy(col(keyCol), col("_salt"))
      .agg(sum(valueExpr).as("_partial"))
      .groupBy(keyCol)
      .agg(sum("_partial").as("sum"))
  }
}
