package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.exec.{Gather, GatherStrategy, IterConfig, Iterate, LoopResult}

/** PageRank as iterated gather-scatter, in two tiers picked by `strategy`
  * exactly as [[LabelPropagation.run]] picks its tiers:
  *   - `GatherStrategy.resolve` gives `BroadcastState` (`Auto` at
  *     V <= `maxBroadcastVertices`, 4M, or an explicit `BroadcastState`):
  *     [[PageRankArray]], flat CSR blocks with a broadcast primitive-array
  *     state, resume included;
  *   - it gives `ShuffleJoin` (explicit, or `Auto` above the bound): the
  *     DataFrame body below, a persisted, pre-normalized, src-block-
  *     partitioned contribution table — the 10^12-vertex design.
  *
  * One iteration IS the reference's SpMV (its kernel is "the gather-scatter
  * kernel of one PageRank iteration", SURVEY.md TL;DR) in the transposed
  * orientation (reference C2): contributions flow src -> dst, aggregated per
  * dst. The reference stops at a single application; the north rule requires
  * full damped, dangling-aware power iteration to 1e-6 convergence.
  *
  * Scale design of the ShuffleJoin tier (per SURVEY.md §4.2):
  *   - edges are normalized ONCE (p = w / Σ_out w, or 1/outdeg unweighted) and
  *     persisted partitioned by src block: iterations never move edges, only
  *     the O(V) state and the partial-aggregated contributions;
  *   - dangling mass is recovered from mass conservation (1 - Σ contributions)
  *     — no per-iteration dangling join;
  *   - contribution aggregation partial-aggregates map-side before the O(V)
  *     final shuffle;
  *   - lineage checkpointed, state persisted/unpersisted per generation.
  *
  * `resumeFrom` = (an (id, x) state, e.g. from [[graft.exec.Iterate.resume]],
  * and its iteration number) continues a run on either tier; both write the
  * same [[graft.exec.Iterate.snapshot]] format, so a snapshot of one tier
  * resumes on the other.
  *
  * Scores sum to 1.0 (probability form):
  *   x'[v] = (1-d)/n + d * (Σ_{u->v} p(u,v)·x[u] + danglingMass/n)
  */
object PageRank {

  final case class Result(
      state: DataFrame,
      metrics: Seq[graft.model.IterationMetrics],
      strategy: GatherStrategy)

  def run(
      spark: SparkSession,
      edges: DataFrame,
      nVertices: Long,
      damping: Double = 0.85,
      cfg: IterConfig = IterConfig(),
      weighted: Boolean = true,
      strategy: GatherStrategy = GatherStrategy.Auto(),
      resumeFrom: Option[(DataFrame, Int)] = None): Result = {
    // before any conf.set: the array tier leaves the session conf alone
    if (GatherStrategy.resolve(strategy, nVertices) == GatherStrategy.BroadcastState)
      return PageRankArray.run(spark, edges, nVertices, damping, cfg, weighted,
        resumeFrom = resumeFrom)
    val nParts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt

    // One-time "CSR build" (reference C1): normalize edge weights, append a
    // zero-weight self-contribution per vertex (so the per-iteration gather
    // covers EVERY vertex and no completion join is needed), and pin the
    // physical partitioning explicitly: by src block (below), so only the
    // O(V) state moves for the join; the O(E) contribution shuffle to dst
    // remains (inherent when the state is too large to broadcast).
    // Explicit repartition(n, col), NOT a bare groupBy/join partitioning:
    // AQE coalesces those exchanges, the cached relation loses its
    // partitioning guarantee, and every iteration re-shuffles all edges
    // (measured: 243 MB/iter edge re-shuffle before this fix).
    // wtot <= 0 (all-zero or sign-cancelling weights) would make p NaN/Inf
    // and poison every score through the gather sums: such vertices keep no
    // out-edges and fall into the dangling set instead (computed from
    // normBase below), which is the probabilistically correct reading. So
    // does a non-finite wtot (a NaN or infinite weight): Spark SQL orders
    // NaN above every number, +inf included, so `< +inf` drops it — the
    // array tier's rule (live iff 0 < W < +inf, W not NaN).
    // outW persisted at its O(V) aggregate output: consumed by BOTH the
    // normalize join and the dangling anti-join below — without it each
    // consumer re-runs the O(E) aggregation scan (r06; guide §5 caching).
    val outW = edges.groupBy("src").agg(
      (if (weighted) sum("w") else count(lit(1)).cast("double")).as("wtot"))
      .filter(col("wtot") > 0 && col("wtot") < Double.PositiveInfinity)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // normalize-join shape (r06, guide §3.1): broadcast the O(V) weight
    // side below 8M vertices so the O(E) edge stream never shuffles for
    // the join; above that, shuffle_hash — default sort-merge would SORT
    // the O(E) side just to normalize it.
    val outWSide =
      if (nVertices <= (8L << 20)) broadcast(outW) else outW.hint("shuffle_hash")
    val normBase = edges.join(outWSide, "src")
      .select(col("src"), col("dst"),
        ((if (weighted) col("w") else lit(1.0)) / col("wtot")).as("p"))
    val zeros = spark.range(nVertices)
      .select(col("id").as("src"), col("id").as("dst"), lit(0.0).as("p"))
    // r06 (guide §2.3): pin the partitioning on a COARSENED src block
    // (_blk = src div B, ~64 blocks/partition) instead of hash(src). Joining
    // on (_blk, src) is semantically identical (blk is a function of src on
    // both sides) and Catalyst still sees the cached partitioning
    // (HashPartitioning(_blk) ⊆ clustering {_blk,src}), but rows with
    // NEARBY ids now share partitions, so on id-local graphs the post-join
    // partial aggregation collapses to ~V/P groups before the exchange —
    // the per-iteration shuffle dropped 347 MB -> ~30 MB at 2^20x16
    // (Gather.gather blockKey scaladoc). Hash of many small blocks, not
    // ranges: no sampling pass, and hot id regions spread across
    // partitions at block granularity.
    val blkSize = math.max(1L, nVertices / (nParts.toLong * 64))
    val norm = normBase.union(zeros)
      .withColumn("_blk", expr(s"src div $blkSize"))
      .repartition(nParts, col("_blk"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nEdges = norm.count() - nVertices // real edges only, for throughput

    // Dangling vertex set (no out-edges), computed once. Their mass is
    // re-gathered per iteration as a broadcast 1-row aggregate INSIDE the
    // iteration plan — one Spark job per iteration, no driver-side scalar
    // round-trip (the reference's trailing-isolated-vertex hazard,
    // SURVEY.md §1.3.4, handled as PageRank dangling mass).
    // outW IS the non-dangling set (one row per src with wtot > 0, exactly
    // the srcs surviving the normalize join): anti-join against the O(V)
    // cached aggregate, not an O(E) distinct re-scan of normBase (r06).
    val dangling = spark.range(nVertices).toDF("id")
      .join(outW.select(col("src").as("id")), Seq("id"), "left_anti")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nDangling = dangling.count()

    // The vertex universe is minted FRESH on every use: localCheckpoint
    // preserves attribute ids, so reusing one Range plan across state
    // generations creates "conflicting references" in the convergence join.
    def vertices = spark.range(nVertices).toDF("id")
    val init = resumeFrom.map(_._1.select(col("id"), col("x")))
      .getOrElse(vertices.select(col("id"), lit(1.0 / nVertices).as("x")))
    val startIter = resumeFrom.map(_._2).getOrElse(0)

    // the _blk co-partitioning is a deliberate SUBSET of the join keys
    // (HashPartitioning(_blk) under clustering {_blk, src}); Spark 3.3+'s
    // requireAllClusterKeysForCoPartition=true would re-shuffle the cached
    // norm every iteration to (_blk, src) — scope-disable it for the loop
    // (set/restore, the LP fallbackThreshold pattern). Skew guard stays:
    // _blk has ~64x more distinct values than partitions.
    val coPartKey = "spark.sql.requireAllClusterKeysForCoPartition"
    val coPartPrev = spark.conf.get(coPartKey, "true")
    spark.conf.set(coPartKey, "false")
    val loop: LoopResult = try Iterate.loop(init, cfg, nEdges, "ShuffleJoin", startIter, "pagerank") {
      (state, _) =>
        // zero self-contributions guarantee every vertex appears: the gather
        // output IS the dense state, no completion join. The same diagonal
        // rows carry each vertex's OLD state out of the gather aggregate
        // (withOldState), feeding the loop's fused convergence delta — the
        // delta is a join-free scan of the materialized state, never an
        // old-vs-new dist join.
        val completed = Gather
          .gather(norm, state, keyCol = "dst", lookupCol = "src", pCol = "p",
            GatherStrategy.ShuffleJoin, withOldState = true,
            blockKey = Some(("_blk", blkSize)))
          .select(col("dst").as("id"), col("x").as("g"), col("x_old"))
        if (nDangling == 0) {
          completed.select(col("id"),
            (lit((1.0 - damping) / nVertices) + lit(damping) * col("g")).as("x"),
            col("x_old"))
        } else {
          // dangling mass as a broadcast 1-row aggregate inside the SAME
          // plan: the whole iteration is one job, no scalar round-trip.
          val dm = state.join(dangling, "id")
            .agg(coalesce(sum("x"), lit(0.0)).as("dm"))
          completed.crossJoin(broadcast(dm))
            .select(col("id"),
              (lit((1.0 - damping) / nVertices) +
                lit(damping) * (col("g") + col("dm") / nVertices)).as("x"),
              col("x_old"))
        }
    } finally spark.conf.set(coPartKey, coPartPrev)
    dangling.unpersist()
    outW.unpersist()
    norm.unpersist()
    Result(loop.state, loop.metrics, GatherStrategy.ShuffleJoin)
  }
}
