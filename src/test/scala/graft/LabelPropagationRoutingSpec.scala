package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

import graft.algo.LabelPropagation
import graft.exec.GatherStrategy
import graft.sources.Synth

/** `LabelPropagation.run` picks its tier the way `PageRank.run` does:
  *   - Auto at V <= maxBroadcastVertices (and explicit BroadcastState) runs
  *     the broadcast-array tier, label-identical to the DataFrame rounds;
  *   - ShuffleJoin, or Auto above the bound, runs the DataFrame rounds;
  *   - the array path never writes the shared session conf, and the
  *     DataFrame rounds run on built-in aggregates only.
  */
class LabelPropagationRoutingSpec extends SparkSuite {
  import spark.implicits._
  import BlockIterateSpec.withPartitions

  private def labels(df: DataFrame): Seq[(Long, Long)] =
    df.orderBy("id").as[(Long, Long)].collect().toSeq
  private def strategies(r: LabelPropagation.Result): Seq[String] =
    r.metrics.map(_.strategy).distinct

  /** perfbench's community shape in small: 64-vertex communities with 7
    * intra links per vertex, a random bridge from 1 vertex in 10 and a link
    * to one of 4 hubs from 1 in 4. */
  private def communities(n: Int, seed: Long): DataFrame = {
    val r = new scala.util.Random(seed)
    (0 until n).flatMap { v =>
      val base = v - v % 64
      Seq.fill(7)((v.toLong, (base + r.nextInt(64)).toLong)) ++
        (if (r.nextInt(10) == 0) Seq((v.toLong, r.nextInt(n).toLong)) else Nil) ++
        (if (r.nextInt(4) == 0) Seq((v.toLong, (r.nextInt(4) * (n / 4) + n / 8).toLong))
         else Nil)
    }.toDF("src", "dst")
  }

  private def graphs: Seq[(String, Long, Int, DataFrame)] =
    BlockIterateSpec.shapes(spark) :+
      (("communities with hubs and bridges", 2048L, 4, communities(2048, 7)))

  test("default LP runs the array tier below the bound, row-identical to ShuffleJoin") {
    for ((name, n, p, edges) <- graphs; iters <- Seq(1, 10)) withPartitions(spark, p) {
      val auto = LabelPropagation.run(spark, edges, n, maxIter = iters)
      val df = LabelPropagation.run(spark, edges, n, maxIter = iters,
        strategy = GatherStrategy.ShuffleJoin)
      assert(strategies(auto) == Seq("BroadcastArrayMode"), s"$name, $iters rounds")
      assert(strategies(df) == Seq("sync-lp"), s"$name, $iters rounds")
      assert(auto.metrics.length == df.metrics.length, s"$name, $iters rounds")
      val got = labels(auto.labels)
      assert(got.map(_._1) == (0L until n), name)
      assert(got == labels(df.labels), s"$name, $iters rounds")
    }
  }

  test("explicit BroadcastState runs the array tier; Auto above the bound the DataFrame rounds") {
    val n = 600L
    val edges = Synth.blocks(spark, n, 30)
    val bc = LabelPropagation.run(spark, edges, n, maxIter = 4,
      strategy = GatherStrategy.BroadcastState)
    val above = LabelPropagation.run(spark, edges, n, maxIter = 4,
      strategy = GatherStrategy.Auto(maxBroadcastVertices = n - 1))
    assert(strategies(bc) == Seq("BroadcastArrayMode"))
    assert(strategies(above) == Seq("sync-lp"))
    assert(labels(bc.labels) == labels(above.labels))
  }

  test("the Auto path leaves the session conf as a concurrent reader sees it") {
    val keys = Seq("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      "spark.sql.requireAllClusterKeysForCoPartition")
    def read(): Seq[Option[String]] = keys.map(spark.conf.getOption)
    /** Every conf value a second thread reads while `f` runs. */
    def seenDuring(f: => Unit): Set[Seq[Option[String]]] = {
      val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Seq[Option[String]]]()
      @volatile var running = true
      val reader = new Thread(() => while (running) { seen.add(read()); Thread.sleep(1) })
      reader.start()
      try f finally { running = false; reader.join() }
      seen.add(read())
      scala.jdk.CollectionConverters.SetHasAsScala(seen).asScala.toSet
    }
    val n = 2048L
    val edges = communities(n.toInt, 3)
    val before = read()
    assert(seenDuring(LabelPropagation.run(spark, edges, n, maxIter = 3)) == Set(before))
    // The DataFrame rounds leave the object-hash fallback threshold alone:
    // they plan no ObjectHashAggregate. They still scope the co-partition
    // key, which also shows the observer works; a conf-free co-partitioned
    // join is what remains of ROADMAP direction 5.
    val df = seenDuring(LabelPropagation.run(spark, edges, n, maxIter = 3,
      strategy = GatherStrategy.ShuffleJoin))
    assert(df.map(_.head) == Set(before.head), df)
    assert(df.size > 1 && df.contains(before), df)
  }

  test("the ShuffleJoin rounds plan no ObjectHashAggregate") {
    val nodes = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    def collect(p: SparkPlanInfo): Unit = { nodes.add(p.nodeName); p.children.foreach(collect) }
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => collect(s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate => collect(u.sparkPlanInfo)
        case _ =>
      }
    }
    val n = 2048L
    spark.sparkContext.addSparkListener(l)
    try {
      LabelPropagation.run(spark, communities(n.toInt, 5), n, maxIter = 3,
        strategy = GatherStrategy.ShuffleJoin).labels.count()
      org.apache.spark.sql.graft.bridge.drainListenerBus(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    val seen = scala.jdk.CollectionConverters.SetHasAsScala(nodes).asScala.toSet
    assert(seen("HashAggregate") && !seen("ObjectHashAggregate"), seen)
  }
}
