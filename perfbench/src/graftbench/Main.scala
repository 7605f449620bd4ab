package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One benchmark run in one JVM: write the seeded input table, compute the
  * oracle, warm up, then a closed loop of ops (one client, one op in flight)
  * for the requested seconds. Every op is checked against the oracle.
  *
  * Events go to stdout as lines `GB <json>`; `perfbench/run.py` turns them
  * into the result line. With `--trace 1` the timed ops alternate between
  * untraced and traced, and the run adds the standalone layer calls and the
  * same-box references, then reports per-layer numbers. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, traceOut: String, cores: Int)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("work"), m("trace-out"), m("cores").toInt)
  }

  def emit(kind: String, fields: (String, Any)*): Unit = {
    println("GB " + Json(("event" -> kind) +: fields))
    Console.out.flush()
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("graftbench")
      // the engine's own local-mode settings (graft.Bench.session), with
      // every scratch path inside the run's work dir
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.graft.loop.aqe", "off")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.broadcast.compress", "false")
      .config("spark.task.maxDirectResultSize", "64m")
      .config("spark.memory.storageFraction", "0.65")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    Probe.cpuNs // registers the GC listener before any work
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val w = Workloads(a.workload)
    val t0 = System.nanoTime()
    val spark = session(a)
    val sessionS = (System.nanoTime() - t0) / 1e9
    try new Run(a, spark, w, jvmStartMs, sessionS).go()
    finally spark.stop()
  }
}

/** Record of one op. Times in seconds; the epoch-ms end of the public call
  * places its iterations among the listener's records. */
final case class OpRec(index: Int, kind: String, traced: Boolean, ok: Boolean, error: String,
    wall: Double, call: Double, collect: Double, check: Double, cpu: Double, gc: Double,
    steal: Double, runnable: Int, iterSecs: Seq[Double], callEndMs: Long, spanId: Int)

final class Run[R](a: Main.Args, spark: SparkSession, w: Workload[R], jvmStartMs: Long,
    sessionS: Double) {
  import Main._
  private val WarmupS = 20.0
  private val MaxWarmupS = 30.0
  private val sc = spark.sparkContext
  private val spans = new Spans
  private val listener = new JobListener
  private var nEdges = 0L
  private var nOps = 0

  def go(): Unit = {
    emit("start", "workload" -> w.name, "seed" -> a.seed, "cores" -> a.cores,
      "vertices" -> w.shape.n)
    val inPath = s"${a.work}/input"
    val tw = System.nanoTime()
    nEdges = w.shape.write(spark, a.seed, inPath)
    val writeS = (System.nanoTime() - tw) / 1e9
    val input = spark.read.parquet(inPath)

    // the oracle is the benchmark's own work: it runs before the warm-ups
    // and its time is taken out of setup_s
    val to = System.nanoTime()
    val edges = w.shape.all(a.seed)
    val tsolve = System.nanoTime()
    val want = w.expected(edges)
    val solveS = (System.nanoTime() - tsolve) / 1e9
    val oracleS = (System.nanoTime() - to) / 1e9

    // Warm up for at least WarmupS seconds and minWarmups ops, then for as
    // long as the last op is 5% faster than every op before it, up to
    // MaxWarmupS seconds: the JIT keeps compiling Spark and engine code for
    // tens of seconds, and timing starts only once ops stop speeding up.
    val warm = mutable.ArrayBuffer.empty[OpRec]
    val tw0 = System.nanoTime()
    def warmS = (System.nanoTime() - tw0) / 1e9
    def speedingUp = warm.forall(_.ok) && warm.last.wall < 0.95 * warm.init.map(_.wall).min
    while (warm.length < w.minWarmups || warmS < WarmupS || (warmS < MaxWarmupS && speedingUp))
      warm += op(input, want, "warmup", traced = false)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - oracleS
    emit("setup", "setup_s" -> setupS, "session_s" -> sessionS, "write_s" -> writeS,
      "oracle_s" -> oracleS, "warmups" -> warm.length, "edges" -> nEdges)

    val timed = mutable.ArrayBuffer.empty[OpRec]
    val tt = System.nanoTime()
    def traced(i: Int) = a.trace && i % 2 == 1
    def more = (System.nanoTime() - tt) / 1e9 < a.seconds ||
      timed.count(r => !r.traced) < 3 || (a.trace && timed.count(_.traced) < 2)
    while (more) timed += op(input, want, "timed", traced(timed.length))

    if (a.trace) {
      val layers = new Layers(a, spark, w, listener, spans, input, edges, nEdges)
      val m = layers.fromOps(timed.filter(_.traced).toSeq, timed.filter(!_.traced).toSeq)
      val extra = layers.standalone()
      emit("layers", "metrics" -> (m ++ extra ++ Seq("ref.single_thread_s" -> solveS,
        "setup.session_s" -> sessionS, "setup.write_s" -> writeS,
        "setup.warmups" -> warm.length.toDouble)))
      writeSpans()
    }
    emit("end")
  }

  private def op(input: DataFrame, want: R, kind: String, traced: Boolean): OpRec = {
    val i = nOps
    nOps += 1
    emit("op_start", "index" -> i, "kind" -> kind)
    val opDir = s"${a.work}/op$i"
    if (traced) sc.addSparkListener(listener)
    val cpu0 = Probe.cpuNs; val gc0 = Probe.gcMs; val steal0 = Probe.stealTicks
    val t0 = System.nanoTime()
    var error = ""
    var iterSecs = Seq.empty[Double]
    var callEndMs = 0L
    var tc, tl = t0
    var ok = false
    val opSpan = spans.record(s"op$i", -1) { opId =>
      def child[T](name: String)(f: => T): T =
        if (traced) {
          sc.setJobGroup(s"op$i:$name", s"graftbench $kind op $i $name")
          try spans.record(name, opId)(_ => f)._1 finally sc.clearJobGroup()
        } else f
      try {
        val called = child("call")(w.call(spark, input, opDir))
        callEndMs = System.currentTimeMillis()
        iterSecs = called.metrics.map(_.seconds)
        tc = System.nanoTime()
        val got = child("collect")(w.collect(called.state))
        tl = System.nanoTime()
        ok = child("check")(w.same(got, want))
        if (!ok) error = "output differs from the oracle"
      } catch {
        case e: Exception => error = s"${e.getClass.getSimpleName}: ${e.getMessage}"
      }
    }._2
    val t3 = System.nanoTime()
    val rec = OpRec(i, kind, traced, ok, error,
      wall = (t3 - t0) / 1e9, call = (tc - t0) / 1e9, collect = (tl - tc) / 1e9,
      check = (t3 - tl) / 1e9, cpu = (Probe.cpuNs - cpu0) / 1e9, gc = (Probe.gcMs - gc0) / 1e3,
      steal = (Probe.stealTicks - steal0) / Probe.ticksPerSec, runnable = Probe.runnable,
      iterSecs = iterSecs, callEndMs = callEndMs, spanId = opSpan.id)
    if (traced) { JobListener.drain(sc); sc.removeSparkListener(listener) }
    emit("op", "index" -> i, "kind" -> kind, "traced" -> traced, "ok" -> ok, "error" -> error,
      "wall_s" -> rec.wall, "call_s" -> rec.call, "collect_s" -> rec.collect,
      "check_s" -> rec.check, "cpu_s" -> rec.cpu, "gc_s" -> rec.gc, "steal_s" -> rec.steal,
      "runnable" -> rec.runnable, "iterations" -> iterSecs.length, "edges" -> nEdges)
    // between ops, outside the timed span: drop what the op left cached and
    // collect, so every op starts from the same memory state
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    deleteTree(new File(opDir))
    System.gc()
    rec
  }

  private def writeSpans(): Unit = {
    val path = Paths.get(a.traceOut, s"spans-${w.name}-seed${a.seed}.jsonl")
    Files.createDirectories(path.getParent)
    val lines = spans.all.map(s => Json(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    Files.write(path, (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Minimal JSON writer for flat event records. */
object Json {
  def apply(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}")
  private def value(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => apply(xs.asInstanceOf[Seq[(String, Any)]])
    case other => quote(other.toString)
  }
  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
