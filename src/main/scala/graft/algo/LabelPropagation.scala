package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.exec.{GatherStrategy, IterConfig, Iterate}

/** Synchronous label propagation (community detection) over the symmetrized
  * link set. Every vertex starts with its own id as label; each iteration it
  * adopts the most frequent label among its neighbors, ties broken by the
  * SMALLEST label — fully deterministic (no randomized tie-break), so results
  * are exactly reproducible and exact-comparable (north rule "label
  * propagation assignments exact").
  *
  * Synchronous LP can 2-cycle on bipartite structures; the loop therefore
  * stops on no-change OR maxIter, and determinism guarantees the same final
  * assignment for the same (graph, maxIter).
  *
  * Tiers: `strategy` resolves like [[PageRank.run]]'s. `Auto` at
  * V <= `maxBroadcastVertices` (4M) and an explicit `BroadcastState` run
  * [[LabelPropagationArray]] — one zero-shuffle gather job per round over
  * flat CSR blocks, label-identical to the DataFrame rounds. `ShuffleJoin`,
  * explicit or from `Auto` above the bound, runs the DataFrame rounds below
  * (one shuffle join + one typed `label_mode` aggregate per round), the
  * 10^12-vertex design.
  */
object LabelPropagation {

  final case class Result(
      labels: DataFrame, // (id, label)
      metrics: Seq[graft.model.IterationMetrics])

  def run(
      spark: SparkSession,
      edges: DataFrame,
      nVertices: Long,
      maxIter: Int = 20,
      strategy: GatherStrategy = GatherStrategy.Auto()): Result = {
    // before any conf.set: the array tier leaves the session conf alone
    if (GatherStrategy.resolve(strategy, nVertices) == GatherStrategy.BroadcastState)
      return LabelPropagationArray.run(spark, edges, nVertices, maxIter)
    // pinned on the per-round join key (see ConnectedComponents.run: only an
    // explicit repartition survives as a cached partitioning guarantee).
    // A FLAGGED plumbing self-loop per vertex rides in the link set: flagged
    // rows are EXCLUDED from the neighbor histogram (a real self-loop in the
    // histogram would change LP semantics) but give every vertex a group and
    // carry its own previous label out of the aggregate — so the round needs
    // no completion join and no convergence join (fused changed-count).
    val nParts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val selfLoops = spark.range(nVertices)
      .select(col("id").as("src"), col("id").as("dst"), lit(true).as("self"))
    // r06 (guide §2.4 "remove shuffles outright"): dedup AFTER the pinned
    // repartition, not inside symmetrize — HashPartitioning(dst) satisfies
    // the (src, dst) clustering (subset rule), so dropDuplicates plans as a
    // partition-LOCAL aggregate over the same exchange instead of its own
    // O(2E) shuffle. Self rows can't collide with real rows (symmetric
    // expansion drops src == dst), so the dedup key is just (src, dst).
    // The cached relation's partitioning guarantee (pinned dst) survives:
    // an aggregate's output partitioning is its child's.
    val bothDirs = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .withColumn("self", lit(false))
    // _blk co-partitioning (r06, the PageRank Change-4 move — see
    // Gather.gather blockKey scaladoc): pin the cache on a coarsened id
    // block of the JOIN key so that on id-local graphs the groupBy(src)
    // partial aggregation collapses before the exchange (hash(dst) alone
    // scatters each vertex's 2-3 neighbor rows across unrelated
    // partitions, so the "partial" histograms multiplied instead of
    // merging). Join on (_blk, dst) is identical (blk is a function of
    // dst on both sides).
    val blkSize = math.max(1L, nVertices / (nParts.toLong * 64))
    val links = bothDirs
      .union(selfLoops)
      .withColumn("_blk", expr(s"dst div $blkSize"))
      .repartition(nParts, col("_blk"))
      // dedup key includes _blk (a function of dst — same key set) so
      // HashPartitioning(_blk) ⊆ the dedup clustering and the aggregate
      // stays partition-local over the pinned exchange
      .dropDuplicates("src", "dst", "_blk")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nLinks = links.count() - nVertices // plumbing rows aren't edges

    // labels as LONG end to end (no double-typed join keys — the CC r03
    // finding applies here identically)
    val vertices = spark.range(nVertices).toDF("id")
    val init = vertices.select(col("id"), col("id").as("x"))
    val cfg = IterConfig(tol = 0.5, maxIter = maxIter, norm = "changed")

    // LabelMode is a TypedImperativeAggregate -> ObjectHashAggregateExec,
    // which falls back to SORT-based aggregation once a task's hash map
    // holds `fallbackThreshold` groups (default 128 — sized for few-group
    // aggregates like bounded_top_k, not a per-vertex groupBy). Raise it so
    // the per-task group count (~V/P on the partial side) stays on the hash
    // path; clamp at 2^17 groups x ~100s of B/histogram ≈ low hundreds of
    // MB — beyond that (V/P >> 10^5) letting Spark spill to the sort path
    // IS the safe behavior at the 10^12 design point, not a bug.
    val fbKey = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val fbPrev = spark.conf.get(fbKey, "128")
    spark.conf.set(fbKey,
      math.min(1L << 17, math.max(128L, 4L * nVertices / nParts)).toString)
    // Hub-safe salted rounds (r06, VERDICT r05 "What's wrong #2"): the
    // one-phase LabelMode histogram is O(distinct neighbor labels) in a
    // SINGLE group's buffer — ~16 B x in-degree for a hub in early rounds
    // (1.6 GB at deg 10^8), an executor OOM the sort-fallback cannot help
    // (it bounds group COUNT, not one group's size). With
    // spark.graft.lp.salts = k > 1, phase 1 aggregates partial histograms
    // on (src, salt = pmod(hash(dst), k)) — any hub's buffer is split into
    // k bounded pieces — and phase 2 merges the <= k serialized partials
    // per src and takes the identical (count desc, label asc) argmax.
    // Deterministic salt from the NEIGHBOR id (never rand(): guide §2.5's
    // retry-duplication hazard); the plumbing self row rides whatever salt
    // its dst hashes to — the own-label flag survives both merges.
    // Default 1 (single-phase): the second exchange is pure overhead when
    // no vertex's neighbor-label diversity threatens executor memory.
    val salts = spark.conf.get("spark.graft.lp.salts", "1").toInt
    // subset-key co-partitioning for the per-round join (the PageRank
    // Change-4 conf scope: _blk ⊂ {_blk, dst} is deliberate)
    val coPartKey = "spark.sql.requireAllClusterKeysForCoPartition"
    val coPartPrev = spark.conf.get(coPartKey, "true")
    spark.conf.set(coPartKey, "false")
    val loop =
      try Iterate.loop(init, cfg, nLinks, "sync-lp") { (state, _) =>
        // ONE join + ONE aggregate per round (VERDICT r04 #5 rework): the
        // typed LabelMode aggregate partial-aggregates per-vertex label
        // histograms map-side, so the single shuffle carries serialized
        // (label, count) maps — not the exploded (src, label, cnt) relation
        // the old groupBy(src, label) + groupBy(src) double shuffle moved.
        // SHJ hint: links are cached pinned on _blk; hash-build the O(V)
        // state side instead of sort-merging (re-sorting) the O(E) links.
        val joined = links
          .join(state.withColumnRenamed("id", "dst")
            .withColumn("_blk", expr(s"dst div $blkSize"))
            .hint("shuffle_hash"), Seq("_blk", "dst"))
        val agged =
          if (salts <= 1)
            joined.groupBy("src")
              .agg(graft.functions.LabelMode.labelMode(col("x"), col("self")).as("m"))
          else
            joined
              .groupBy(col("src"), pmod(hash(col("dst")), lit(salts)).as("_salt"))
              .agg(graft.functions.LabelMode.labelHist(col("x"), col("self")).as("h"))
              .groupBy("src")
              .agg(graft.functions.LabelMode.labelModeMerge(col("h")).as("m"))
        agged.select(col("src").as("id"), col("m.x").as("x"),
          col("m.x_old").as("x_old"))
      } finally {
        spark.conf.set(fbKey, fbPrev)
        spark.conf.set(coPartKey, coPartPrev)
      }
    links.unpersist()
    Result(
      loop.state.select(col("id"), col("x").as("label")),
      loop.metrics)
  }
}
