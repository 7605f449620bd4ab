package graft.exec

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardCopyOption}
import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.JsonNode
import graft.model.IterationMetrics
import graft.obs.{Obs, Span}

/** Iteration settings and the one stop rule of both tiers, [[Iterate.loop]]
  * and [[BlockIterate.run]].
  *
  * Each iteration measures a delta between the new state x and the old
  * one, by `norm`:
  *   - "linf": max |x - x_old|;
  *   - "l1": Σ |x - x_old|;
  *   - "changed": Σ [x != x_old], the number of vertices whose x changed,
  *     exact for Long label states at any magnitude.
  * A PageRank state is a probability vector whose entries scale as 1/V, so
  * an absolute linf tolerance is met after one step at large V; the l1
  * delta (total-variation distance) is scale-free. Any other norm is
  * rejected here, and a tier rejects a norm it cannot compute
  * ([[requireNorm]]).
  *
  * The loop runs while fewer than `maxIter` iterations ran and the last
  * delta has not converged (is not below `tol`); at tol <= 0 it runs
  * exactly `maxIter` iterations, still recording each delta. With
  * `snapshotDir` set, every `snapshotEvery`-th iteration and the converged
  * one write a resumable snapshot ([[Iterate.snapshot]]). */
final case class IterConfig(
    tol: Double = 1e-6,
    maxIter: Int = 100,
    snapshotDir: Option[String] = None,
    snapshotEvery: Int = 5,
    norm: String = "linf") {
  requireNorm("IterConfig", "linf", "l1", "changed")

  /** l1 and changed sum their per-vertex terms; linf takes their max. */
  private val sums = norm != "linf"

  /** Fails, naming the accepted norms, unless `norm` is one of them. */
  def requireNorm(who: String, accepted: String*): Unit =
    require(accepted.contains(norm),
      s"$who: norm \"$norm\" is not one of ${accepted.mkString(", ")}")

  /** A delta below a positive `tol`; a NaN delta never converges. */
  private def converged(delta: Double): Boolean = tol > 0 && delta < tol

  /** Whether another iteration runs after `iter` iterations ending in `delta`. */
  def continues(iter: Int, delta: Double): Boolean = iter < maxIter && !converged(delta)

  /** The snapshot dir, when iteration number `iter` ending in `delta` writes one. */
  def snapshotAt(iter: Int, delta: Double): Option[String] =
    snapshotDir.filter(_ => iter % snapshotEvery == 0 || converged(delta))

  /** `acc` folded with one more per-vertex or per-block term. */
  def fold(acc: Double, term: Double): Double =
    if (sums) acc + term else if (term > acc) term else acc

  /** The delta as one aggregate over a state's `x` and `x_old` columns. */
  def deltaAgg: Column = norm match {
    case "linf"    => max(abs(col("x") - col("x_old")))
    case "l1"      => sum(abs(col("x") - col("x_old")))
    case "changed" => sum((col("x") =!= col("x_old")).cast("long"))
  }
}

final case class LoopResult(state: DataFrame, metrics: Seq[IterationMetrics])

/** The DataFrame-tier iteration driver. The reference re-invokes its kernel
  * in a driver loop (`/root/reference/include/abstractGraph.hpp:119-129`);
  * in Spark an unmanaged iterative plan grows its lineage without bound and
  * stalls the planner by iteration ~50 (SURVEY.md §7.5.3). Each iteration
  * here runs one path: the step emits (id, x, x_old), the result is marked
  * for a lazy `localCheckpoint` (a fresh plan leaf per generation, so plans
  * never grow and old and new generations never share attribute ids), and
  * one scan-aggregate of the marked state computes the delta
  * ([[IterConfig.deltaAgg]]). That scan is the iteration's one job: it
  * materializes the cache and performs the checkpoint as it reads it. The
  * previous generation is then released, and the snapshot, if due, written.
  */
object Iterate {

  /** The `cfg.norm` delta of a state marked for a lazy checkpoint: an O(V)
    * scan, partial-aggregated per partition with a 1-row final, that also
    * materializes the state. An empty state has delta 0. */
  private def scanDelta(state: DataFrame, cfg: IterConfig): Double = {
    val row = state.agg(cfg.deltaAgg.cast("double")).head()
    if (row.isNullAt(0)) 0.0 else row.getDouble(0)
  }

  /** Run `step` from `init` while `cfg` continues ([[IterConfig]]). `step`
    * must emit (id, x, x_old); it and the result see (id, x).
    *
    * Each iteration runs as the tracked span `<algo>:iter:<n>`
    * ([[graft.obs.Obs]]): its metrics' shuffle bytes and task skew come
    * from that span's jobs alone, read once the bus is drained at loop end.
    *
    * @param edgesPerIter edge count processed per iteration (for throughput)
    * @param startIter    first iteration number (used by resume)
    * @param algo         span name prefix: `pagerank`, `cc` or `lp`
    */
  def loop(
      init: DataFrame,
      cfg: IterConfig,
      edgesPerIter: Long,
      strategyName: String = "",
      startIter: Int = 0,
      algo: String)(step: (DataFrame, Int) => DataFrame): LoopResult = {
    // spark.graft.loop.aqe=off disables AQE for the loop (restored after).
    // MEASURED BOTH WAYS, so this is a knob, not a default-for-everyone:
    // in-JVM local[k] the iteration plan is static (pinned repartition,
    // hinted joins) and AQE re-planning is pure per-iteration driver
    // latency — off is 1.4-1.5x faster (pagerank_220_shuffle 12.0->7.9 s,
    // cc_blocks_1m 14.8->10.4 s; Bench.session sets off). On separate-JVM
    // executors (local-cluster / a real cluster) AQE used to EARN its cost
    // here: with the r04 per-iteration dist() join, forcing it off measured
    // 2x slower 4N iterations in the N->4N scaling protocol. With that join
    // fused away (r05) the gap flipped to a slight AQE-off win (4N leg
    // min-iteration 4.85 s off vs 5.24 s on, 201M-edge probe) — the
    // remaining per-iteration serial term is mostly scheduler/stage
    // round-trips, which AQE adds to. Default still keep: the delta is
    // within box noise and a real cluster wants AQE for skew/coalescing.
    val sess = init.sparkSession
    def body = loopBody(init, cfg, edgesPerIter, strategyName, startIter, algo)(step)
    if (sess.conf.get("spark.graft.loop.aqe", "keep") != "off") body
    else {
      val aqeBefore = sess.conf.get("spark.sql.adaptive.enabled", "true")
      sess.conf.set("spark.sql.adaptive.enabled", "false")
      try body finally sess.conf.set("spark.sql.adaptive.enabled", aqeBefore)
    }
  }

  private def loopBody(
      init: DataFrame,
      cfg: IterConfig,
      edgesPerIter: Long,
      strategyName: String,
      startIter: Int,
      algo: String)(step: (DataFrame, Int) => DataFrame): LoopResult = {
    var state = init.localCheckpoint(true)
    var mat = state // the materialized generation (owns the cache blocks)
    val metrics = scala.collection.mutable.ArrayBuffer.empty[(IterationMetrics, Span)]
    var iter = startIter
    var delta = Double.MaxValue
    while (cfg.continues(iter, delta)) {
      // the snapshot write belongs to its iteration's span too
      metrics += Obs.span(init.sparkSession, s"$algo:iter:${iter + 1}", track = true) {
        val t0 = System.nanoTime()
        val stepped = step(state, iter)
        require(stepped.columns.contains("x_old"),
          s"iteration step must emit (id, x, x_old), got ${stepped.columns.mkString(", ")}")
        val next = stepped.localCheckpoint(false)
        delta = scanDelta(next, cfg)
        val secs = (System.nanoTime() - t0) / 1e9
        val m = IterationMetrics(iter + 1, edgesPerIter, secs,
          if (secs > 0) edgesPerIter / secs else 0.0, delta, strategyName)
        mat.unpersist()
        mat = next
        // a plan-only prune over the cached state: x_old is never read again
        state = next.select("id", "x")
        iter += 1
        cfg.snapshotAt(iter, delta).foreach(snapshot(_, state, iter, delta))
        m
      }
    }
    Obs.drain(init.sparkSession.sparkContext)
    LoopResult(state, metrics.toSeq.map { case (m, s) =>
      m.copy(shuffleReadBytes = s.shuffleRead, shuffleWriteBytes = s.shuffleWrite,
        taskSkew = s.skew)
    })
  }

  /** Durable snapshot: state parquet written to a temp dir then the manifest
    * moved into place atomically (temp + ATOMIC_MOVE) — a crashed writer can
    * never leave a manifest pointing at a half-written state
    * (SURVEY.md §7.5.5). */
  def snapshot(dir: String, state: DataFrame, iteration: Int, delta: Double): Unit = {
    val statePath = s"$dir/state_$iteration"
    state.write.mode("overwrite").parquet(statePath)
    val manifest = Obs.json.createObjectNode()
      .put("iteration", iteration).put("delta", delta).put("state_path", statePath)
    val tmp = Paths.get(s"$dir/.manifest.tmp")
    Files.createDirectories(Paths.get(dir))
    Files.write(tmp, Obs.json.writeValueAsBytes(manifest))
    Files.move(tmp, Paths.get(s"$dir/manifest.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Resume point, if a snapshot exists: (state, nextIteration, lastDelta).
    * A manifest that is not JSON, lacks a field or has one of the wrong
    * type, or names a state that cannot be read (e.g. a missing directory),
    * fails with an IllegalArgumentException naming the manifest file. */
  def resume(spark: SparkSession, dir: String): Option[(DataFrame, Int, Double)] = {
    val mf = Paths.get(s"$dir/manifest.json")
    if (!Files.exists(mf)) None
    else {
      def bad(why: String, cause: Throwable = null): Nothing =
        throw new IllegalArgumentException(s"snapshot manifest $mf: $why", cause)
      val json =
        try Obs.json.readTree(mf.toFile)
        catch { case e: JsonProcessingException => bad(s"not valid JSON (${e.getOriginalMessage})", e) }
      def field(name: String, kind: String)(ok: JsonNode => Boolean): JsonNode =
        Option(json.get(name)).filter(ok).getOrElse(bad(s"field $name missing or not $kind"))
      val iter = field("iteration", "an int")(v => v.isIntegralNumber && v.canConvertToInt).intValue
      val delta = field("delta", "a number")(_.isNumber).doubleValue
      val path = field("state_path", "a string")(_.isTextual).textValue
      val state = try spark.read.parquet(path)
        catch { case e: AnalysisException => bad(s"state_path $path: ${e.getMessage}", e) }
      Some((state, iter, delta))
    }
  }
}
