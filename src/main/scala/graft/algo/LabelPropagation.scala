package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.exec.{GatherStrategy, IterConfig, Iterate}
import graft.graph.AdjacencyBuilder

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
  * (one shuffle join, then a count per (vertex, label) and a max per vertex
  * on Spark's built-in aggregates), the 10^12-vertex design.
  *
  * Every id must lie in [0, nVertices): a null id or one outside fails
  * with an IllegalArgumentException naming it, on both tiers.
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
      // keeps rows with a null id, so the links job below can reject them
      .filter(coalesce(col("src") =!= col("dst"), lit(true)))
      .withColumn("self", lit(false))
    // _blk co-partitioning (r06, the PageRank Change-4 move — see
    // Gather.gather blockKey scaladoc): the cache is pinned on a coarsened
    // id block of the JOIN key and only the state side shuffles to it.
    // Join on (_blk, dst) is identical (blk is a function of dst on both
    // sides).
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
    // ONE job counts the links and checks the ids: both directions are in,
    // so every edge endpoint is some row's src, and the null count, min and
    // max of src cover them all. Ids in [0, n) also make every label >= 0,
    // which the round's -label encoding needs.
    val stats = links.agg(count(lit(1)), count("src"), min("src"), max("src")).head()
    AdjacencyBuilder.requireIds(nVertices, stats.getLong(1) < stats.getLong(0),
      stats.get(2), stats.get(3))(links.unpersist())
    val nLinks = stats.getLong(0) - nVertices // plumbing rows aren't edges

    // labels as LONG end to end (no double-typed join keys — the CC r03
    // finding applies here identically)
    val vertices = spark.range(nVertices).toDF("id")
    val init = vertices.select(col("id"), col("id").as("x"))
    val cfg = IterConfig(tol = 0.5, maxIter = maxIter, norm = "changed")

    // subset-key co-partitioning for the per-round join (the PageRank
    // Change-4 conf scope: _blk ⊂ {_blk, dst} is deliberate)
    val coPartKey = "spark.sql.requireAllClusterKeysForCoPartition"
    val coPartPrev = spark.conf.get(coPartKey, "true")
    spark.conf.set(coPartKey, "false")
    val loop =
      try Iterate.loop(init, cfg, nLinks, "sync-lp", algo = "lp") { (state, _) =>
        // SHJ hint: links are cached pinned on _blk; hash-build the O(V)
        // state side instead of sort-merging (re-sorting) the O(E) links.
        val joined = links
          .join(state.withColumnRenamed("id", "dst")
            .withColumn("_blk", expr(s"dst div $blkSize"))
            .hint("shuffle_hash"), Seq("_blk", "dst"))
        // The argmax-count semiring on built-in aggregates, both partition-
        // local over ONE exchange on src: a count of neighbor rows per
        // (vertex, label), with the own label from the self row; then per
        // vertex the max of struct(count, -label), i.e. count desc, label
        // asc. Every buffer is fixed-width and one per (vertex, label), so
        // no group holds a hub's whole histogram and both steps can spill.
        joined.repartition(nParts, col("src"))
          .groupBy("src", "x")
          .agg(count(when(!col("self"), 1)).as("c"),
            max(when(col("self"), col("x"))).as("own"))
          .groupBy("src")
          .agg(max(struct(col("c"), (-col("x")).as("negX"))).as("best"),
            max("own").as("x_old"))
          .select(col("src").as("id"),
            when(col("best.c") > 0, -col("best.negX")).otherwise(col("x_old")).as("x"),
            col("x_old"))
      } finally spark.conf.set(coPartKey, coPartPrev)
    links.unpersist()
    Result(
      loop.state.select(col("id"), col("x").as("label")),
      loop.metrics)
  }
}
