package graft.bench

import org.apache.spark.sql.SparkSession
import graft.sources.Synth
import graft.algo.PageRank
import graft.exec.{GatherStrategy, IterConfig}

/** Two-parallelism scaling evidence (north rule: >= 0.8 throughput-scaling
  * efficiency from N to 4N executors; evidenced in this sandbox by running
  * the identical job at local[8] and local[32] on the same input —
  * see the driver instruction and SURVEY.md §6).
  *
  * Mirrors the reference's thread-pinned scaling scripts
  * (`/root/reference/scripts/measure.sh:13` pins OMP_NUM_THREADS=32) but
  * across Spark task parallelism. Emits one JSON line:
  *   {"n":..,"l":..,"iters":..,"runs":[{"cores":8,"edges_per_sec":..},...],
  *    "scaling_efficiency":..}
  * where efficiency = (T_8 / T_32) / 4.
  *
  * Profiling: SPARK_GRAFT_CONF="spark.graft.obs.path=/tmp/obs.jsonl"
  * appends one JSON record per iteration span ([[graft.obs.Obs]]).
  */
object Scaling {

  /** `kernel` "array" runs [[graft.algo.PageRankArray]] (f32 with
    * SPARK_GRAFT_FLOAT=1), "shuffle" the DataFrame ShuffleJoin tier. */
  def run(cores: Int, n: Long, l: Int, iters: Int,
      kernel: String): (Double, Double, Double, Seq[Double]) = {
    // SPARK_GRAFT_MASTER overrides (e.g. "local-cluster[4,8,8192]": separate
    // executor JVMs — the truest N-vs-4N-executor analog on one box). Ship
    // the app jar via SPARK_GRAFT_JARS (sbt package output) in that mode.
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cores]")
    // SAME number of shuffle partitions at every parallelism level (override
    // via SPARK_GRAFT_PARTS): the two cluster sizes must run the IDENTICAL
    // job — only executor slots differ — or the comparison measures plan
    // changes, not scaling.
    val parts = sys.env.getOrElse("SPARK_GRAFT_PARTS", cores.toString)
    val b = SparkSession.builder()
      .master(master)
      .appName(s"graft-scaling-$cores")
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // local-cluster mode: executors are SEPARATE JVMs and need the app jar
    // shipped; default to the sbt package output.
    val defaultJar = "target/scala-2.13/parallelizinggraphalgorithmsspark_2.13-0.1.0.jar"
    val jars = sys.env.get("SPARK_GRAFT_JARS").orElse(
      if (master.startsWith("local-cluster") &&
          java.nio.file.Files.exists(java.nio.file.Paths.get(defaultJar)))
        Some(defaultJar)
      else None)
    jars.foreach(b.config("spark.jars", _))
    // shuffle/spill on tmpfs when present (shared /root disk throttles)
    if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get("/dev/shm"))) {
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get("/dev/shm/graft-spark"))
      b.config("spark.local.dir", "/dev/shm/graft-spark")
    }
    // ad-hoc conf overrides: SPARK_GRAFT_CONF="k=v;k2=v2"
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").filter(_.nonEmpty)
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2); b.config(k, v)
      })
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    StageProf.attachIfEnabled(spark.sparkContext)
    try {
      // cold-run discard, generalized: the first iterations pay JIT +
      // codegen + cache-fill; steady state is iterations 4.. (reference
      // discards its cold run the same way,
      // `/root/reference/include/abstractGraph.hpp:52-56`)
      val warm = 3
      // SPARK_GRAFT_CKPT: lineage-truncation cadence for the loop. The
      // localCheckpoint materialization is part of every iteration's fixed
      // cost; spacing it out (e.g. 2-3) trades a slightly larger task
      // binary on the off iterations for one less storage write per step.
      val ckpt = sys.env.getOrElse("SPARK_GRAFT_CKPT", "1").toInt
      // SPARK_GRAFT_TOL: >0 runs CONVERGENCE mode — the north-rule metric
      // is per-iteration throughput of "PageRank to 1e-6 convergence", and
      // since r05 a convergence-mode iteration costs fixed mode's
      // materialization job plus ONE job-floor-priced scan-agg delta over
      // the cached state (join-free; see Iterate). Default 1e-300 with
      // norm=l1: the delta is computed and checked every iteration but
      // never stops the loop early, so both cluster sizes run the
      // IDENTICAL iteration count.
      val tol = sys.env.getOrElse("SPARK_GRAFT_TOL", "1e-300").toDouble
      val cfg = IterConfig(tol = tol, maxIter = iters + warm,
        checkpointEvery = ckpt, norm = "l1")
      val r =
        if (kernel == "array")
          graft.algo.PageRankArray.run(spark, Synth.band(spark, n, l), n,
            cfg = cfg,
            floatPrecision = sys.env.get("SPARK_GRAFT_FLOAT").contains("1"))
        else PageRank.run(spark, Synth.band(spark, n, l), n,
          cfg = cfg,
          strategy = GatherStrategy.ShuffleJoin)
      val steady = r.metrics.drop(warm)
      steady.foreach(m => println(
        f"[scaling] cores=$cores iter=${m.iteration} secs=${m.seconds}%.3f"))
      val secs = steady.map(_.seconds).sum
      val eps = steady.map(_.edges).sum / secs
      // min-of-iterations: robust to interference on a shared box (this
      // sandbox shows multi-second load spikes from outside the JVM)
      val minIter = steady.map(_.seconds).min
      println(f"[scaling] cores=$cores min_iter_secs=$minIter%.3f " +
        f"edges_per_sec_min=${steady.head.edges / minIter}%.3e")
      (secs, eps, minIter, r.metrics.map(_.seconds))
    } finally spark.stop()
  }

  /** 1-minute load average — recorded around each measurement so a shared-
    * box interference spike is visible in the evidence, not silent noise. */
  private def loadAvg(): Double =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg"))).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Cumulative (busy, total) jiffies from /proc/stat's aggregate cpu line.
    * busy = everything but idle+iowait. Diffing two reads gives box-wide
    * busy-core count over the interval — a SHARP interference signal,
    * unlike the 60-second-smoothed loadavg (a 25 s iteration disturbed by a
    * 30 s external burst is invisible to loadavg but unmistakable here). */
  private def cpuJiffies(): (Long, Long) =
    try {
      val cols = scala.io.Source.fromFile("/proc/stat").getLines()
        .next().trim.split("\\s+").drop(1).map(_.toLong)
      val total = cols.sum
      val idle = cols(3) + (if (cols.length > 4) cols(4) else 0L)
      (total - idle, total)
    } catch { case _: Throwable => (-1L, -1L) }

  /** Background sampler: every ~2 s append (elapsed-sec, busy-cores,
    * load1m). Busy-cores is computed from consecutive /proc/stat diffs.
    * The analysis script joins these against the per-iteration walls to
    * classify each ITERATION quiet/disturbed (scaling_eff.py). */
  private final class CpuSampler(t0: Long) extends Thread {
    setDaemon(true)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Double, Double)]
    @volatile private var stopped = false
    def halt(): Unit = { stopped = true; interrupt() }
    override def run(): Unit = {
      var (pb, pt) = cpuJiffies()
      while (!stopped) {
        try Thread.sleep(2000) catch { case _: InterruptedException => }
        if (!stopped) {
          val (b, t) = cpuJiffies()
          val cores = java.lang.Runtime.getRuntime.availableProcessors()
          val busy =
            if (pb >= 0 && b > pb && t > pt) (b - pb).toDouble / (t - pt) * cores
            else -1.0
          out.add(((System.nanoTime() - t0) / 1e9, busy, loadAvg()))
          pb = b; pt = t
        }
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else (1L << 17)
    val l = if (args.length > 1) args(1).toInt else 16
    val iters = if (args.length > 2) args(2).toInt else 10
    val kernel = sys.env.getOrElse("SPARK_GRAFT_KERNEL", "array")
    require(kernel == "array" || kernel == "shuffle",
      s"SPARK_GRAFT_KERNEL must be array or shuffle, got '$kernel'")
    // --cores C: measure ONE parallelism level in THIS JVM and exit (clean
    // heap/JIT per measurement; a prior session's GC debt otherwise skews
    // the second run). An outer script runs the two JVMs and combines.
    val single = args.indexOf("--cores")
    if (single >= 0) {
      val c = args(single + 1).toInt
      val load0 = loadAvg()
      val t0 = System.nanoTime()
      val sampler = new CpuSampler(t0)
      sampler.start()
      val (secs, eps, minIter, walls) = run(c, n, l, iters, kernel)
      val tReturn = (System.nanoTime() - t0) / 1e9
      sampler.halt()
      val load1 = loadAvg()
      // walls = every iteration's seconds IN ORDER (warm included); the
      // iterations run back-to-back and END at ~t_return, so the analysis
      // reconstructs each iteration's window backwards from t_return and
      // joins it against cpu_samples to classify quiet/disturbed.
      val wallsJson = walls.map(w => f"$w%.3f").mkString("[", ",", "]")
      val samplesJson = {
        import scala.jdk.CollectionConverters._
        sampler.out.asScala.map { case (t, busy, ld) =>
          f"[$t%.1f,$busy%.2f,$ld%.2f]"
        }.mkString("[", ",", "]")
      }
      println(s"""{"cores":$c,"n":$n,"l":$l,"iters":$iters,"kernel":"$kernel","seconds":$secs,"edges_per_sec":$eps,"min_iter_secs":$minIter,"load_before":$load0,"load_after":$load1,"t_return":$tReturn,"walls":$wallsJson,"cpu_samples":$samplesJson}""")
      return
    }
    val results = Seq(8, 32).map { c =>
      val (secs, eps, _, _) = run(c, n, l, iters, kernel)
      (c, secs, eps)
    }
    val t8 = results.find(_._1 == 8).get._2
    val t32 = results.find(_._1 == 32).get._2
    val eff = (t8 / t32) / 4.0
    val runs = results.map { case (c, s, e) =>
      s"""{"cores":$c,"seconds":$s,"edges_per_sec":$e}"""
    }.mkString("[", ",", "]")
    println(s"""{"n":$n,"l":$l,"iters":$iters,"kernel":"$kernel","runs":$runs,"scaling_efficiency":$eff}""")
  }
}
