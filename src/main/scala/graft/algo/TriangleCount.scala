package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.graph.AdjacencyBuilder

/** Exact triangle counting by degree-ordered edge orientation + wedge close
  * (the standard distributed algorithm; exact counts per the north rule).
  *
  * 1. Symmetrize + dedup + drop self-loops (undirected simple graph).
  * 2. Orient each undirected edge from the endpoint with smaller
  *    (degree, id) to the larger — every triangle becomes exactly one
  *    directed path a->b->c plus the closing edge a->c, and the orientation
  *    bounds out-degree by O(sqrt(E)), which caps the wedge blow-up on
  *    power-law graphs (the skew move that matters at web scale; a naive
  *    id-orientation lets one hub generate ~deg² wedges).
  * 3. Wedges = oriented ⋈ oriented on the middle vertex; triangles = wedges
  *    semi-joined against the oriented closing edge.
  */
object TriangleCount {

  /** Oriented edge list (lo -> hi by (degree, id) order). */
  def orient(edges: DataFrame): DataFrame = {
    val und = AdjacencyBuilder.symmetrize(edges)
    val deg = und.groupBy("src").agg(count(lit(1)).as("deg"))
      .withColumnRenamed("src", "id")
    // und with both degrees; keep each undirected edge once, oriented.
    // shuffle_hash hints (r06, guide §3.1): the O(V) degree side builds the
    // hash table; default sort-merge would sort the O(E) edge side twice.
    und.filter(col("src") < col("dst")) // one representative per pair
      .join(deg.select(col("id").as("src"), col("deg").as("ds"))
        .hint("shuffle_hash"), "src")
      .join(deg.select(col("id").as("dst"), col("deg").as("dd"))
        .hint("shuffle_hash"), "dst")
      .select(
        when(col("ds") < col("dd") ||
          (col("ds") === col("dd") && col("src") < col("dst")),
          struct(col("src").as("a"), col("dst").as("b")))
          .otherwise(struct(col("dst").as("a"), col("src").as("b"))).as("e"))
      .select(col("e.a").as("src"), col("e.b").as("dst"))
  }

  /** Every triangle once, as (a, b, c) over the oriented edges `o`: the
    * wedges a->b->c closed by the edge a->c. */
  private def triangles(o: DataFrame): DataFrame = {
    val e1 = o.select(col("src").as("a"), col("dst").as("b"))
    val e2 = o.select(col("src").as("b2"), col("dst").as("c"))
    e1.join(e2.hint("shuffle_hash"), col("b") === col("b2"))
      .select(col("a"), col("b"), col("c"))
      .join(o.select(col("src").as("a"), col("dst").as("c"))
        .hint("shuffle_hash"), Seq("a", "c"), "left_semi")
  }

  /** Total triangle count. */
  def countTriangles(spark: SparkSession, edges: DataFrame): Long = {
    val o = orient(edges).persist(StorageLevel.MEMORY_AND_DISK)
    try triangles(o).count()
    finally { o.unpersist(); () }
  }

  /** Per-vertex triangle participation counts (each triangle credits its
    * three corners once). */
  def perVertex(spark: SparkSession, edges: DataFrame): DataFrame = {
    val o = orient(edges).persist(StorageLevel.MEMORY_AND_DISK)
    val out = triangles(o)
      .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("triangles"))
      // materialize at a checkpoint boundary BEFORE dropping the oriented
      // cache; no persist left behind for the caller to leak
      .localCheckpoint(true)
    o.unpersist()
    out
  }
}
