package graft.exec

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import java.nio.file.{Files, Paths, StandardCopyOption}
import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.JsonNode
import graft.model.IterationMetrics
import graft.obs.{Obs, Span}

/** Iteration driver: convergence loop with lineage control and resumable
  * snapshots.
  *
  * The reference re-invokes its kernel in a driver loop
  * (`/root/reference/include/abstractGraph.hpp:119-129`); in Spark an
  * unmanaged iterative plan grows its lineage without bound and stalls the
  * planner by iteration ~50 (SURVEY.md §7.5.3). This driver:
  *   - persists each state generation, unpersists the previous,
  *   - truncates lineage with `localCheckpoint` every `checkpointEvery`
  *     iterations,
  *   - optionally writes a durable snapshot (parquet state + atomically
  *     renamed JSON manifest) so ANY run is resumable mid-iteration
  *     (north rule), and
  *   - records per-iteration throughput metrics (edges/sec, delta).
  */
/** @param norm convergence norm: "linf" (max per-vertex delta), "l1"
  *   (sum of deltas), or "changed" (exact count of rows whose x changed —
  *   the norm for label states: exact at ANY scale, unlike the retired
  *   "msum" sum-comparison form, whose `sum(x)` over Long labels wraps at
  *   V·maxLabel > 2^63 and loses exactness in double above 2^53 — a silent
  *   wrong-convergence hazard on the 10^12-vertex design path).
  *   HOW the delta is computed depends on the step's output shape: a step
  *   that emits (id, x, x_old) gets the FUSED path — x_old rides through
  *   the iteration's materialization (one extra 8 B column in the cached
  *   state), and the delta is then a JOIN-FREE O(V) scan-aggregate over the
  *   just-materialized in-memory state: partial agg per partition + a 1-row
  *   final — a job-floor-priced action, vs r04's `dist` which re-shuffled
  *   and hash-joined old-vs-new state every iteration (VERDICT r04 #1: the
  *   measured serial term limiting N->4N scaling). Every step must emit
  *   x_old.
  *   (First fused design used a task-side accumulator inside a typed map to
  *   make the iteration literally one job; RETIRED after N->4N legs showed
  *   the object-serde boundary erases the aggregate's hash partitioning —
  *   the next iteration's state join re-shuffles — and the extra AQE stage
  *   multiplies exposure to this host's scheduler freezes. The scan-agg
  *   pays one job-floor (~40 ms) instead and keeps the plan columnar
  *   end-to-end.)
  *   For PageRank the state is a probability vector whose
  *   entries scale as 1/V, so an ABSOLUTE linf tolerance of 1e-6 is
  *   trivially satisfied at V >= 10^6 after one step and meaningless at
  *   10^12 pages; the L1 delta (total-variation distance) is scale-free —
  *   use norm="l1" for convergence-mode PageRank at any size. */
final case class IterConfig(
    tol: Double = 1e-6,
    maxIter: Int = 100,
    checkpointEvery: Int = 1,
    snapshotDir: Option[String] = None,
    snapshotEvery: Int = 5,
    norm: String = "linf")

final case class LoopResult(state: DataFrame, metrics: Seq[IterationMetrics])

object Iterate {

  /** Join-free convergence delta over a MATERIALIZED (id, x, x_old) state:
    * an O(V) scan of the in-memory relation, partial-aggregated per
    * partition, 1-row final — no shuffle of data, no old-vs-new join, no
    * object serde. For Long label states use norm="changed": the comparison
    * is exact at any magnitude, whereas an l1/linf |x - x_old| on labels
    * would round through double above 2^53 (the retired msum hazard). */
  private def scanDelta(materialized: DataFrame, norm: String): Double = {
    val d = abs(col("x") - col("x_old"))
    val agg = norm match {
      case "l1"      => sum(d)
      case "changed" => sum((col("x") =!= col("x_old")).cast("long"))
      case _         => max(d)
    }
    val row = materialized.agg(agg.cast("double").as("d")).head()
    if (row.isNullAt(0)) 0.0 else row.getDouble(0)
  }

  /** Run `step` from `init` until the `cfg.norm` delta drops below
    * `cfg.tol` or `cfg.maxIter` iterations ran. `step` must emit
    * (id, x, x_old): the delta is a join-free scan of x against x_old over
    * the materialized state (see [[IterConfig]]).
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
    // Each state generation is cut at a localCheckpoint boundary: a fresh
    // LogicalRDD leaf with new attribute ids. This both bounds plan growth
    // AND prevents "conflicting references" when old and new generations
    // (which would otherwise share the same upstream plan, e.g. the vertex
    // universe) meet in the convergence join.
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
    while (iter < cfg.maxIter && delta >= cfg.tol) {
      // the snapshot write belongs to its iteration's span too
      metrics += Obs.span(init.sparkSession, s"$algo:iter:${iter + 1}", track = true) {
        val t0 = System.nanoTime()
        val steppedRaw = step(state, iter)
        // FUSED convergence (VERDICT r04 #1): the step's (id, x, x_old)
        // carries the old state THROUGH the materialization (one extra cached
        // column), and the delta is a join-free scan-agg of the materialized
        // result — no old-vs-new shuffle join, no object boundary (see the
        // IterConfig scaladoc for the retired accumulator design). tol <= 0
        // (fixed-iteration mode) just strips x_old before caching.
        require(steppedRaw.columns.contains("x_old"),
          s"iteration step must emit (id, x, x_old), got ${steppedRaw.columns.mkString(", ")}")
        val keepOld = cfg.tol > 0.0
        val stepped =
          if (keepOld) steppedRaw else steppedRaw.select(col("id"), col("x"))
        // localCheckpoint (not persist) every k iterations: persist alone
        // truncates recompute but NOT the logical plan, which otherwise grows
        // linearly and blows up the planner/AQE by iteration ~100.
        // r06 (VERDICT r05 #1c, the serial term): in fused-convergence mode
        // the checkpoint is LAZY — the scanDelta action below materializes
        // the cache AND performs the marked local checkpoint in its own job,
        // so a checkpoint-boundary iteration is ONE job, not two (eager
        // checkpoint + delta scan). Fixed mode keeps the eager checkpoint (it
        // has no delta action).
        val boundary = (iter + 1) % cfg.checkpointEvery == 0
        val next =
          if (boundary) stepped.localCheckpoint(!keepOld)
          else stepped.persist(StorageLevel.MEMORY_AND_DISK)
        // fixed-iteration mode (tol <= 0) never stops on delta: skip the
        // convergence action — one fewer job per iteration.
        delta =
          if (!keepOld) { // localCheckpoint(true) already materialized
            if (!boundary) next.count()
            Double.MaxValue
          } else {
            // The scan-agg delta ITSELF materializes the persist-branch cache:
            // InMemoryRelation builds its full-row cached batches on the first
            // scan regardless of the projection on top, so a count() first
            // would pay a second O(V) job per non-checkpoint iteration for
            // nothing (measured serial term at CKPT=3: the count+scan pair
            // was 2 jobs where 1 does both). At a checkpoint boundary the
            // same scan also performs the lazy local checkpoint.
            scanDelta(next, cfg.norm)
          }
        val secs = (System.nanoTime() - t0) / 1e9
        val m = IterationMetrics(iter + 1, edgesPerIter, secs,
          if (secs > 0) edgesPerIter / secs else 0.0,
          if (cfg.tol <= 0.0) Double.NaN else delta, // NaN = not measured
          strategyName)
        mat.unpersist()
        mat = next
        // steps, snapshots, and the result see the (id, x) shape; the
        // projection is a plan-only prune over the cached relation (x_old is
        // never scanned again), partitioning preserved.
        state = if (keepOld) next.select("id", "x") else next
        iter += 1
        cfg.snapshotDir.foreach { dir =>
          if (iter % cfg.snapshotEvery == 0 || delta < cfg.tol)
            snapshot(dir, state, iter, delta)
        }
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
