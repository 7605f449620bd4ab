package graftbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.LabelMode
import graft.graph.RangedCsr

/** Per-layer numbers of a traced run.
  *
  * Per op, the call's span is split at (call end − Σ returned iteration
  * seconds): before it is the one-time build, after it the iterations. Jobs
  * are attributed to the call by the job group set before it, and to build
  * or iterations by their start time; each stage counts once, with the first
  * job that ran it. Each per-op number is the median over the traced ops. */
final class Layers[R](a: Main.Args, spark: SparkSession, w: Workload[R], l: JobListener,
    spans: Spans, input: DataFrame, edges: Gen.Edges, nEdges: Long) {
  import Main.median
  private val sc = spark.sparkContext
  private val MB = 1e6

  private final case class Split(build: Seq[JobRec], iters: Seq[JobRec], iterStartMs: Long)

  private def split(r: OpRec): Split = {
    val iterStart = r.callEndMs - math.round(r.iterSecs.sum * 1000)
    val (b, it) = l.jobsOf(s"op${r.index}:call").partition(_.start < iterStart)
    Split(b, it, iterStart)
  }

  /** Stages of `jobs` that ran tasks, each counted once. */
  private def stagesOf(jobs: Seq[JobRec], seen: mutable.Set[Int]): Seq[StageRec] =
    jobs.flatMap(_.stageIds).filter(seen.add).map(l.stageRec).filter(_.taskMs.nonEmpty)

  private def widestSkew(j: JobRec): Option[Double] = {
    val st = j.stageIds.map(l.stageRec).filter(_.taskMs.nonEmpty)
    if (st.isEmpty) None
    else {
      val s = st.maxBy(s => (s.taskMs.length, s.completed - s.submitted))
      Some(s.taskMs.max / math.max(1.0, median(s.taskMs.map(_.toDouble).toSeq)))
    }
  }

  /** Time in [from, to) during which none of `jobs` was running, in seconds. */
  private def idle(jobs: Seq[JobRec], from: Long, to: Long): Double = {
    var covered = 0L
    var cursor = from
    jobs.map(j => (math.max(j.start, from), math.min(if (j.end < 0) to else j.end, to)))
      .filter(iv => iv._2 > iv._1).sortBy(_._1).foreach { case (s, e) =>
        if (e > cursor) { covered += e - math.max(s, cursor); cursor = e }
      }
    math.max(0L, to - from - covered) / 1e3
  }

  private def perOp(r: OpRec): Seq[(String, Double)] = {
    val sp = split(r)
    val nIt = math.max(1, r.iterSecs.length)
    val seen = mutable.Set.empty[Int]
    val buildSt = stagesOf(sp.build, seen)
    val iterSt = stagesOf(sp.iters, seen)
    val bcast = l.broadcasts.toArray.collect {
      case (t: Long, b: Long) if t >= sp.iterStartMs && t <= r.callEndMs => b
    }.sum
    val iterS = median(r.iterSecs)
    val kernelBytes = w.name match {
      case Workloads.PageRankWeb.name =>
        // computed, not measured: per edge an 8 B weight and a 4 B column
        // index; per row a 4 B row pointer, an 8 B dst id, the 8 B old score
        // and the 8 B new score. Score gathers are taken to hit cache.
        nEdges * 12.0 + w.shape.n * 28.0
      case _ => 0.0
    }
    val kernelS = median(sp.iters.filter(_.end > 0).map(j => (j.end - j.start) / 1e3))
    val childSpans = spans.children(r.spanId).map(_.secs).sum
    Seq(
      "graph.build_s" -> (r.call - r.iterSecs.sum),
      "graph.build_shuffle_mb" -> buildSt.map(s => s.shuffleWrite).sum / MB,
      "graph.build_spill_mb" -> buildSt.map(_.spill).sum / MB,
      "algo.iterations" -> r.iterSecs.length.toDouble,
      "algo.iter_s" -> iterS,
      "algo.iter_edges_per_s" -> nEdges / iterS,
      "algo.kernel_bytes_per_iter" -> kernelBytes,
      "algo.kernel_gbps" -> (if (kernelBytes > 0) kernelBytes / kernelS / 1e9 else 0.0),
      "exec.jobs_per_iter" -> sp.iters.length.toDouble / nIt,
      "exec.stages_per_iter" -> iterSt.length.toDouble / nIt,
      "exec.tasks_per_iter" -> iterSt.map(_.taskMs.length).sum.toDouble / nIt,
      "exec.shuffle_mb_per_iter" -> iterSt.map(_.shuffleWrite).sum / MB / nIt,
      "exec.broadcast_mb_per_iter" -> bcast / MB / nIt,
      "exec.task_skew" -> {
        val sk = sp.iters.flatMap(widestSkew)
        if (sk.isEmpty) 1.0 else median(sk)
      },
      "exec.driver_s_per_iter" -> idle(sp.iters, sp.iterStartMs, r.callEndMs) / nIt,
      "jvm.gc_s" -> r.gc,
      "host.steal_s" -> r.steal,
      "host.runnable" -> r.runnable.toDouble,
      "trace.residue_s" -> (r.wall - childSpans))
  }

  def fromOps(traced: Seq[OpRec], untraced: Seq[OpRec]): Seq[(String, Double)] = {
    val per = traced.filter(_.ok).map(perOp)
    val names = per.head.map(_._1)
    names.map(n => n -> median(per.map(_.toMap.apply(n)))) ++ Seq(
      "trace.overhead_s" -> (median(traced.map(_.wall)) - median(untraced.map(_.wall))),
      "jvm.heap_peak_mb" -> Probe.heapPeakAfterGc / MB)
  }

  private def timedCall(name: String)(f: => Unit): (Double, Seq[StageRec]) = {
    sc.addSparkListener(l)
    sc.setJobGroup(s"standalone:$name", s"graftbench standalone $name")
    val s = try spans.record(name)(_ => f)._2 finally sc.clearJobGroup()
    JobListener.drain(sc)
    sc.removeSparkListener(l)
    (s.secs, stagesOf(l.jobsOf(s"standalone:$name"), mutable.Set.empty[Int]))
  }

  /** Standalone timed calls into the layer beneath each workload, and the
    * same-box references. */
  def standalone(): Seq[(String, Double)] = {
    val n = w.shape.n
    val csrBuild = w.name match {
      case Workloads.PageRankWeb.name =>
        val wtot = new Array[Double](n)
        var i = 0
        while (i < edges.size) { wtot(edges.src(i)) += edges.w(i); i += 1 }
        val bc = sc.broadcast(wtot)
        val sel = input.select(col("dst").cast("long"), col("src").cast("long"),
          col("w").cast("double"))
        val s = timedCall("ranged_csr_build") {
          RangedCsr.buildWeighted(sel, n, a.cores, false, bc).count()
        }._1
        bc.destroy()
        s
      case _ => 0.0
    }
    val (labelModeS, labelModeSpill) = w.name match {
      case Workloads.LpCommunities.name =>
        val sym = input.select(col("src"), col("dst"))
          .union(input.select(col("dst").as("src"), col("src").as("dst")))
          .filter(col("src") =!= col("dst")).dropDuplicates("src", "dst")
          .persist()
        sym.count()
        val (s, st) = timedCall("label_mode") {
          sym.groupBy("src").agg(LabelMode.labelMode(col("dst"), lit(false)).as("m"))
            .agg(sum(col("m.x"))).head()
        }
        sym.unpersist(true)
        (s, st.map(_.spill).sum / MB)
      case _ => (0.0, 0.0)
    }
    val floor = {
      val reps = (0 until 25).map { _ =>
        val t0 = System.nanoTime()
        sc.parallelize(0 until a.cores, a.cores).foreach(_ => ())
        (System.nanoTime() - t0) / 1e9
      }
      median(reps.drop(5))
    }
    val (triad, triadBytes) = Triad.run(a.cores)
    Seq(
      "graph.csr_build_call_s" -> csrBuild,
      "functions.label_mode_s" -> labelModeS,
      "functions.spill_mb" -> labelModeSpill,
      "spark.job_floor_s" -> floor,
      "ref.triad_gbps" -> triad,
      "ref.triad_mb" -> triadBytes / MB,
      "host.l3_mb" -> Triad.l3Bytes / MB)
  }
}

/** STREAM-style triad a = b + s·c over `cores` threads, on arrays whose
  * total size is at least four times the last-level cache. */
object Triad {
  /** L3 size of cpu0, from sysfs; 105 MiB when it cannot be read. */
  def l3Bytes: Long = try {
    val src = scala.io.Source.fromFile("/sys/devices/system/cpu/cpu0/cache/index3/size")
    val s = try src.mkString.trim finally src.close()
    if (s.endsWith("K")) s.dropRight(1).toLong << 10
    else if (s.endsWith("M")) s.dropRight(1).toLong << 20
    else s.toLong
  } catch { case _: Exception => 105L << 20 }

  /** Returns (median GB/s over repetitions, bytes of the three arrays). */
  def run(cores: Int): (Double, Long) = {
    val len = math.max(1L << 20, 4 * l3Bytes / 24 + 1).toInt
    val x = new Array[Double](len); val b = Array.fill(len)(1.0); val c = Array.fill(len)(2.0)
    val chunk = (len + cores - 1) / cores
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    try {
      val rates = (0 until 7).map { rep =>
        val s = 1.0 + rep
        val t0 = System.nanoTime()
        val fs = (0 until cores).map { t =>
          pool.submit(new Runnable {
            def run(): Unit = {
              var i = t * chunk
              val end = math.min(len, i + chunk)
              while (i < end) { x(i) = b(i) + s * c(i); i += 1 }
            }
          })
        }
        fs.foreach(_.get())
        24.0 * len / ((System.nanoTime() - t0) / 1e9) / 1e9
      }
      (Main.median(rates.drop(2)), 24L * len)
    } finally pool.shutdown()
  }
}
