package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{Mtx, Synth}
import graft.graph.AdjacencyBuilder
import graft.algo.{ConnectedComponents, LabelPropagation, PageRank, SpMV, TriangleCount}
import graft.exec.{GatherStrategy, IterConfig}

/** spark-submit entry point mirroring the reference CLI
  * (`/root/reference/src/main.cpp:43-86`: `single` / `scaling` / `compare`).
  *
  *   single  --input <edges.parquet|file.mtx> | --n <V> --l <L>
  *           --algo spmv|pagerank|cc|lp|triangles
  *           [--tol 1e-6] [--max-iter 100] [--snapshot-dir DIR] [--out DIR]
  *           [--metrics-out FILE.jsonl] [--metrics-csv FILE.csv]
  *   scaling --n <V> --l <L> [--iters 10]         # sweep sizes at fixed cores
  *   compare --n <V> --l <L>                       # ShuffleJoin vs array tier
  *
  * Graph algorithms print convergence/throughput metrics per iteration
  * (edges/sec — BASELINE.json metric) and optionally write results.
  */
object Main {

  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(s"--$name")
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def session(appName: String): SparkSession = {
    val b = SparkSession.builder().appName(appName)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .config("spark.sql.session.timeZone", "UTC")
    val s = (if (sys.env.contains("SPARK_GRAFT_MASTER"))
      b.master(sys.env("SPARK_GRAFT_MASTER"))
    else if (!sys.props.contains("spark.master"))
      b.master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
    else b).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.bench.StageLog.attach(s)
    s
  }

  def loadEdges(spark: SparkSession, args: Array[String]): (DataFrame, Long) =
    arg(args, "input") match {
      case Some(p) if p.endsWith(".mtx") =>
        val (h, e) = Mtx.read(spark, p)
        (e, h.rows)
      case Some(p) =>
        val e = spark.read.parquet(p)
        // cast: int-typed src/dst parquet would ClassCastException on getLong;
        // null: an empty edge table aggregates to NULL — fail with a message.
        val row = e.agg(greatest(max(col("src").cast("long")),
          max(col("dst").cast("long")))).head()
        if (row.isNullAt(0)) sys.error(s"--input $p: edge table is empty")
        (e.select(col("src").cast("long").as("src"),
          col("dst").cast("long").as("dst"), col("w")), row.getLong(0) + 1)
      case None =>
        val n = arg(args, "n").map(_.toLong).getOrElse(1L << 14)
        arg(args, "blocks") match {
          case Some(b) => (Synth.blocks(spark, n, b.toLong), n)
          case None =>
            val l = arg(args, "l").map(_.toInt).getOrElse(16)
            (Synth.band(spark, n, l), n)
        }
    }

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: single|scaling|compare [options]"); sys.exit(2)
    }
    val spark = session(s"graft-${args.head}")
    val rest = args.tail
    args.head match {
      case "single" => single(spark, rest)
      case "scaling" => scaling(spark, rest)
      case "compare" => compare(spark, rest)
      case other =>
        System.err.println(s"unknown subcommand: $other"); sys.exit(2)
    }
    spark.stop()
  }

  /** Metrics sink (reference O1-O4, CSV rows at
    * `/root/reference/src/main.cpp:96-108`): per-iteration JSON lines to
    * stdout and optionally to a file via --metrics-out; --metrics-csv writes
    * the reference-shaped CSV (header + one row per iteration). */
  private def reportCsv(name: String,
      metrics: Seq[graft.model.IterationMetrics], path: String): Unit = {
    val header = "algo,iteration,edges,seconds,edges_per_sec," +
      "shuffle_read_bytes,shuffle_write_bytes,task_skew,delta,strategy"
    val rows = metrics.map { m =>
      s"$name,${m.iteration},${m.edges},${m.seconds},${m.edgesPerSec}," +
        s"${m.shuffleReadBytes},${m.shuffleWriteBytes},${m.taskSkew}," +
        s"${m.delta},${m.strategy}"
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (header +: rows).mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  private def report(name: String, metrics: Seq[graft.model.IterationMetrics],
      metricsOut: Option[String] = None): Unit = {
    metrics.foreach { m =>
      println(f"$name iter=${m.iteration}%3d delta=${m.delta}%.3e " +
        f"secs=${m.seconds}%.3f edges_per_sec=${m.edgesPerSec}%.3e " +
        f"shuf_r=${m.shuffleReadBytes / 1e6}%.1fMB shuf_w=${m.shuffleWriteBytes / 1e6}%.1fMB " +
        f"skew=${m.taskSkew}%.2f [${m.strategy}]")
    }
    metricsOut.foreach { path =>
      val lines = metrics.map { m =>
        val d = if (m.delta.isNaN) "null" else m.delta.toString
        val sk = if (m.taskSkew.isNaN) "null" else m.taskSkew.toString
        s"""{"algo":"$name","iteration":${m.iteration},"edges":${m.edges},""" +
          s""""seconds":${m.seconds},"edges_per_sec":${m.edgesPerSec},""" +
          s""""shuffle_read_bytes":${m.shuffleReadBytes},""" +
          s""""shuffle_write_bytes":${m.shuffleWriteBytes},"task_skew":$sk,""" +
          s""""delta":$d,"strategy":"${m.strategy}"}"""
      }
      java.nio.file.Files.write(java.nio.file.Paths.get(path),
        lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
  }

  def single(spark: SparkSession, args: Array[String]): Unit = {
    val (edges, n) = loadEdges(spark, args)
    val cfg = IterConfig(
      tol = arg(args, "tol").map(_.toDouble).getOrElse(1e-6),
      maxIter = arg(args, "max-iter").map(_.toInt).getOrElse(100),
      snapshotDir = arg(args, "snapshot-dir"))
    val out = arg(args, "out")
    val metricsOut = arg(args, "metrics-out")
    val metricsCsv = arg(args, "metrics-csv")
    val algo = arg(args, "algo").getOrElse("pagerank")
    val result: DataFrame = algo match {
      case "spmv" =>
        SpMV(edges, Synth.state(spark, n), Some(spark.range(n).toDF("id")))
      case "pagerank" =>
        val r = PageRank.run(spark, edges, n, cfg = cfg)
        report("pagerank", r.metrics, metricsOut)
        metricsCsv.foreach(reportCsv("pagerank", r.metrics, _)); r.state
      case "cc" =>
        val r = ConnectedComponents.run(spark, edges, n, cfg)
        report("cc", r.metrics, metricsOut)
        metricsCsv.foreach(reportCsv("cc", r.metrics, _)); r.labels
      case "lp" =>
        val r = LabelPropagation.run(spark, edges, n, cfg.maxIter)
        report("lp", r.metrics, metricsOut)
        metricsCsv.foreach(reportCsv("lp", r.metrics, _)); r.labels
      case "triangles" =>
        val c = TriangleCount.countTriangles(spark, edges)
        println(s"triangles total=$c")
        spark.createDataFrame(Seq(Tuple1(c))).toDF("n_triangles")
      case other => sys.error(s"unknown algo: $other")
    }
    // skew metrics (north rule) emitted on every run
    AdjacencyBuilder.skewStats(edges).show(truncate = false)
    out match {
      case Some(dir) => result.write.mode("overwrite").parquet(dir)
      case None => println(s"rows=${result.count()}")
    }
  }

  /** Size sweep at fixed parallelism (reference E2, `src/main.cpp:124-162`). */
  def scaling(spark: SparkSession, args: Array[String]): Unit = {
    val l = arg(args, "l").map(_.toInt).getOrElse(16)
    val iters = arg(args, "iters").map(_.toInt).getOrElse(10)
    Seq(1L << 14, 1L << 15, 1L << 16, 1L << 17).foreach { n =>
      val r = PageRank.run(spark, Synth.band(spark, n, l), n,
        cfg = IterConfig(tol = 0.0, maxIter = iters))
      val secs = r.metrics.map(_.seconds).sum
      val eps = r.metrics.map(_.edges).sum / secs
      println(f"scaling n=$n%8d nnz=${n * l}%10d iters=$iters secs=$secs%8.2f edges_per_sec=$eps%.3e")
    }
  }

  /** PageRank tier shoot-out on one input (reference E3,
    * `src/main.cpp:163-202`): the DataFrame ShuffleJoin tier vs the
    * broadcast-array tier ([[graft.algo.PageRankArray]], which an explicit
    * `BroadcastState` runs). */
  def compare(spark: SparkSession, args: Array[String]): Unit = {
    val n = arg(args, "n").map(_.toLong).getOrElse(1L << 16)
    val l = arg(args, "l").map(_.toInt).getOrElse(16)
    val iters = arg(args, "iters").map(_.toInt).getOrElse(5)
    Seq(GatherStrategy.ShuffleJoin, GatherStrategy.BroadcastState).foreach { st =>
      val r = PageRank.run(spark, Synth.band(spark, n, l), n,
        cfg = IterConfig(tol = 0.0, maxIter = iters), strategy = st)
      val secs = r.metrics.map(_.seconds).sum
      println(f"compare tier=${if (st == GatherStrategy.ShuffleJoin) "dataframe" else "array"} " +
        f"n=$n nnz=${n * l} secs=$secs%8.2f " +
        f"edges_per_sec=${r.metrics.map(_.edges).sum / secs}%.3e")
    }
  }
}
