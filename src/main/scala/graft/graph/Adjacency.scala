package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CSR-equivalent adjacency construction and degree/skew statistics.
  *
  * The reference folds a row-sorted COO into CSR once
  * (`/root/reference/include/graphCSR.hpp:450-485`) and then reuses it for
  * every kernel invocation. The Spark-native equivalent: ONE shuffle that
  * groups edges by vertex into sorted neighbor arrays, hash-partitioned on the
  * group key, persisted — after which iterations move only vertex state, never
  * edges (SURVEY.md §2.2 C1).
  */
object AdjacencyBuilder {

  /** Transpose (reference C2, `/root/reference/include/graphCOO.hpp:141-150`):
    * swap orientation so gather-by-in-neighbors becomes gather-by-src. */
  def transpose(edges: DataFrame): DataFrame =
    edges.select(col("dst").as("src"), col("src").as("dst"), col("w"))

  /** Out-adjacency: one row per src with dst-sorted neighbor/weight arrays.
    * Output is hash-partitioned by `src` (the groupBy shuffle) — callers
    * persist it and reuse the partitioning across iterations. */
  def outAdjacency(edges: DataFrame): DataFrame =
    edges.groupBy("src")
      .agg(sort_array(collect_list(struct(col("dst"), col("w")))).as("nbrs"))
      .select(col("src"), col("nbrs.dst").as("dsts"), col("nbrs.w").as("ws"))

  /** Undirected, deduplicated link set: both orientations, no self-loops.
    * Mirrors the reference's symmetric .mtx expansion
    * (`/root/reference/lib/MMIO/mmio_cpp.h:40-48`). */
  def symmetrize(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()

  /** The error for an edge with a null id or one outside [0, n): `id` is
    * "null" or the id. */
  def badId(n: Long, id: Any): IllegalArgumentException =
    new IllegalArgumentException(s"an edge has a null id or one outside [0, $n): $id")

  /** Checks an edge table's ids from one aggregate of it: `hasNull` when
    * some id is null, `bounds` the min and max of each id column (null over
    * no rows). On a bad id, `release` runs and [[badId]] is thrown. */
  def requireIds(n: Long, hasNull: Boolean, bounds: Any*)(release: => Unit): Unit = {
    val bad = if (hasNull) Some("null")
      else bounds.collectFirst { case id: Long if id < 0 || id >= n => id }
    bad.foreach { id => release; throw badId(n, id) }
  }

  /** Degree-skew statistics (reference A5/A6: max row degree at
    * `/root/reference/include/graphCSR.hpp:464-467`, avg at
    * `perf_compare/perf_compare.cpp:427-428`) — the north rule requires skew
    * metrics emitted per run. Single aggregation job. */
  def skewStats(edges: DataFrame): DataFrame = {
    val deg = edges.groupBy("src").agg(count(lit(1)).as("degree"))
    deg.agg(
      count(lit(1)).as("vertices"),
      sum("degree").as("edges"),
      max("degree").as("max_degree"),
      avg("degree").as("avg_degree"),
      expr("percentile_approx(degree, 0.5)").as("p50_degree"),
      expr("percentile_approx(degree, 0.99)").as("p99_degree"))
  }
}
