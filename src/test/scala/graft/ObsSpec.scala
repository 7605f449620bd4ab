package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import java.util.concurrent.atomic.AtomicBoolean
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col

import graft.algo.{PageRank, PageRankArray}
import graft.exec.{GatherStrategy, IterConfig}
import graft.obs.Obs
import graft.sources.Synth
import graft.SparkSuite.withTempDir

/** The span listener ([[graft.obs.Obs]]): per-iteration metrics count the
  * iteration's own jobs only, the JSONL sink writes one record per span,
  * and the caller's job group passes through untouched. */
class ObsSpec extends SparkSuite {

  /** `f` with the obs sink on, writing to a file in a temp dir. */
  private def withSink[T](f: Path => T): T = withTempDir("graft-obs") { dir =>
    val path = dir.resolve("obs.jsonl")
    spark.conf.set(Obs.SinkConf, path.toString)
    try f(path) finally spark.conf.unset(Obs.SinkConf)
  }

  /** The sink's records so far (drains the bus first). */
  private def records(path: Path): Seq[JsonNode] = {
    Obs.drain(spark.sparkContext)
    if (!Files.exists(path)) Nil
    else Files.readAllLines(path).asScala.toSeq.map(Obs.json.readTree)
  }

  test("a concurrent job's tasks and shuffle never land in a ShuffleJoin iteration") {
    val n = 2048L
    val edges = Synth.band(spark, n, 8)
    // per iteration: (iteration, tasks, shuffle read bytes, shuffle write bytes)
    def loop(): Seq[(Int, Long, Long, Long)] = withSink { path =>
      val r = PageRank.run(spark, edges, n, cfg = IterConfig(tol = 0.0, maxIter = 4),
        strategy = GatherStrategy.ShuffleJoin)
      val tasks = records(path).map(_.get("tasks").asLong)
      assert(tasks.length == r.metrics.length)
      r.metrics.zip(tasks).map { case (m, t) =>
        (m.iteration, t, m.shuffleReadBytes, m.shuffleWriteBytes)
      }
    }
    val alone = loop()
    assert(loop() == alone, "the loop alone does not repeat")
    assert(alone.length == 4 && alone.forall { case (_, t, r, w) => t > 0 && r > 0 && w > 0 })

    val stop = new AtomicBoolean(false)
    val running = new CountDownLatch(1)
    val other = new Thread(() =>
      while (!stop.get()) {
        spark.range(0, 100000, 1, 4).groupBy((col("id") % 1000).as("k")).count().collect()
        running.countDown()
      })
    other.start()
    running.await()
    val busy = try loop() finally { stop.set(true); other.join() }
    assert(busy == alone)
  }

  test("the sink writes one record per iteration span, with the caller's job group") {
    val sc = spark.sparkContext
    val n = 256L
    val edges = Synth.band(spark, n, 4)
    val groups = new ConcurrentLinkedQueue[String]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    withSink { path =>
      sc.addSparkListener(l)
      sc.setJobGroup("obs-caller", "obs sink test")
      try {
        PageRank.run(spark, edges, n, cfg = IterConfig(tol = 0.0, maxIter = 3),
          strategy = GatherStrategy.ShuffleJoin)
        PageRankArray.run(spark, edges, n, cfg = IterConfig(tol = 0.0, maxIter = 3))
      } finally sc.clearJobGroup()
      val recs = records(path)
      sc.removeSparkListener(l)
      val iters = Seq("pagerank:iter:1", "pagerank:iter:2", "pagerank:iter:3")
      assert(recs.map(_.get("span").asText) == iters ++ iters)
      assert(recs.forall(_.get("group").asText == "obs-caller"))
      assert(!groups.isEmpty && groups.asScala.forall(_ == "obs-caller"), groups)
      val (shuffleJoin, array) = recs.splitAt(3)
      shuffleJoin.foreach { r =>
        assert(r.get("jobs").asInt >= 1 && r.get("tasks").asInt > 0, r)
        assert(r.get("shuffle_write_bytes").asLong > 0, r)
        assert(r.get("plan").get("exchanges").asInt > 0, r)
        assert(r.get("plan").get("joins").size > 0, r)
      }
      // the array tier: one runJob per iteration, no SQL plan
      array.foreach(r => assert(r.get("jobs").asInt == 1 && r.get("plan").isNull, r))
    }
    assert(sc.getLocalProperty(Obs.SpanKey) == null)
  }

  test("--metrics-out: one JSON object per iteration, a non-finite value as null") {
    withTempDir("graft-metrics-out") { dir =>
      Synth.blocks(spark, 64, 8).write.parquet(s"$dir/edges")
      graft.cli.Main.single(spark, Array("--input", s"$dir/edges", "--algo", "cc",
        "--metrics-out", s"$dir/m.jsonl"))
      val lines = Files.readAllLines(dir.resolve("m.jsonl")).asScala.toSeq.map(Obs.json.readTree)
      assert(lines.nonEmpty)
      lines.foreach { j =>
        assert(j.fieldNames.asScala.toSeq == Seq("algo", "iteration", "edges", "seconds",
          "edges_per_sec", "shuffle_read_bytes", "shuffle_write_bytes", "task_skew", "delta",
          "strategy"))
        assert(j.get("algo").asText == "cc")
      }
      // phase 1 measures no delta (NaN) and reads its shuffle from its span
      val p1 = lines.head
      assert(p1.get("strategy").asText == "local-contract" && p1.get("delta").isNull)
      assert(p1.get("shuffle_write_bytes").asLong > 0 && p1.get("task_skew").isNumber)
    }
  }
}
