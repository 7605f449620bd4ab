package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.algo.{LabelPropagation, PageRank}
import graft.exec.IterConfig
import graft.model.IterationMetrics

/** The result of one public algorithm call, before it is collected. */
final case class Called(state: DataFrame, metrics: Seq[IterationMetrics])

/** One workload: an input shape, the public call an op makes on it, how the
  * op's result is collected, and the oracle it is checked against. */
sealed abstract class Workload[R] {
  def name: String
  def shape: Gen.Shape
  /** Warm-up ops that always run before timing starts. */
  def minWarmups: Int
  def call(spark: SparkSession, input: DataFrame, opDir: String): Called
  def collect(state: DataFrame): R
  def expected(e: Gen.Edges): R
  def same(got: R, want: R): Boolean
}

object Workloads {
  val Damping = 0.85

  def apply(name: String): Workload[_] = name match {
    case "pagerank_web"     => PageRankWeb
    case "lp_communities"   => LpCommunities
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** Collects an (id, value) result into a dense array indexed by id,
    * failing unless every id in [0, n) appears exactly once. */
  private def dense[T](n: Int, ids: Seq[Array[Long]], vals: Seq[Array[T]],
      out: Array[T]): Array[T] = {
    val seen = new java.util.BitSet(n)
    ids.zip(vals).foreach { case (is, vs) =>
      var i = 0
      while (i < is.length) {
        val id = is(i)
        require(id >= 0 && id < n && !seen.get(id.toInt), s"result id $id missing or repeated")
        seen.set(id.toInt); out(id.toInt) = vs(i)
        i += 1
      }
    }
    require(seen.cardinality() == n, s"result has ${seen.cardinality()} of $n ids")
    out
  }

  def collectDoubles(state: DataFrame, valCol: String, n: Int): Array[Double] = {
    import state.sparkSession.implicits._
    val parts = state.select(col("id").cast("long"), col(valCol).cast("double"))
      .as[(Long, Double)].mapPartitions { it =>
        val ids = Array.newBuilder[Long]; val vs = Array.newBuilder[Double]
        it.foreach { case (i, v) => ids += i; vs += v }
        Iterator.single((ids.result(), vs.result()))
      }.collect()
    dense(n, parts.map(_._1).toSeq, parts.map(_._2).toSeq, new Array[Double](n))
  }

  def collectLongs(state: DataFrame, valCol: String, n: Int): Array[Long] = {
    import state.sparkSession.implicits._
    val parts = state.select(col("id").cast("long"), col(valCol).cast("long"))
      .as[(Long, Long)].mapPartitions { it =>
        val ids = Array.newBuilder[Long]; val vs = Array.newBuilder[Long]
        it.foreach { case (i, v) => ids += i; vs += v }
        Iterator.single((ids.result(), vs.result()))
      }.collect()
    dense(n, parts.map(_._1).toSeq, parts.map(_._2).toSeq, new Array[Long](n))
  }

  /** PageRank to L1 change < 1e-6 on a web-like graph through `Auto`, which
    * routes to the broadcast-array tier in double precision. */
  object PageRankWeb extends Workload[Array[Double]] {
    val name = "pagerank_web"
    val shape = Gen.Web(1 << 19, 24)
    val cfg = IterConfig(tol = 1e-6, norm = "l1")
    val minWarmups = 3
    def call(spark: SparkSession, input: DataFrame, opDir: String): Called = {
      val r = PageRank.run(spark, input, shape.n, Damping, cfg)
      Called(r.state, r.metrics)
    }
    def collect(state: DataFrame): Array[Double] = collectDoubles(state, "x", shape.n)
    def expected(e: Gen.Edges): Array[Double] =
      Oracle.pageRank(shape.n, e, Damping, cfg.tol, cfg.maxIter)._1
    def same(got: Array[Double], want: Array[Double]): Boolean =
      Oracle.allClose(got, want, 1e-6)
  }

  /** Label propagation (the DataFrame tier) with a 10-round cap on a
    * community graph with bridges and hubs. */
  object LpCommunities extends Workload[Array[Long]] {
    val name = "lp_communities"
    val shape = Gen.Communities(1 << 14, 7)
    val rounds = 10
    val minWarmups = 3
    def call(spark: SparkSession, input: DataFrame, opDir: String): Called = {
      val r = LabelPropagation.run(spark, input, shape.n, rounds)
      Called(r.labels, r.metrics)
    }
    def collect(state: DataFrame): Array[Long] = collectLongs(state, "label", shape.n)
    def expected(e: Gen.Edges): Array[Long] = Oracle.labelPropagation(shape.n, e, rounds)._1
    def same(got: Array[Long], want: Array[Long]): Boolean =
      java.util.Arrays.equals(got, want)
  }
}
