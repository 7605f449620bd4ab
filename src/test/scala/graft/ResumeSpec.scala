package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import graft.sources.Synth
import graft.algo.{PageRank, PageRankArray}
import graft.exec.{GatherStrategy, IterConfig, Iterate}
import graft.SparkSuite.withTempDir

/** Checkpoint/resume (north rule: "resumable from checkpoint with
  * per-partition lineage + metrics"; SURVEY.md §5.2 resume ≡ uninterrupted),
  * on both PageRank tiers; a malformed manifest or resume state is rejected
  * with an error that names it. */
class ResumeSpec extends SparkSuite {
  import spark.implicits._

  private def scores(df: DataFrame): Array[(Long, Double)] =
    df.orderBy("id").as[(Long, Double)].collect()

  test("PageRank resumed from a mid-run snapshot equals the uninterrupted run") {
    val n = 128L; val l = 6
    val edges = Synth.band(spark, n, l)
    type Run = (IterConfig, Option[(DataFrame, Int)]) => PageRank.Result
    val tiers: Seq[(String, Run)] = Seq(
      "Auto (array tier, f64)" -> ((cfg, from) =>
        PageRank.run(spark, edges, n, cfg = cfg, resumeFrom = from)),
      "ShuffleJoin" -> ((cfg, from) => PageRank.run(spark, edges, n, cfg = cfg,
        strategy = GatherStrategy.ShuffleJoin, resumeFrom = from)),
      "array tier, f32" -> ((cfg, from) => PageRankArray.run(spark, edges, n, cfg = cfg,
        floatPrecision = true, resumeFrom = from)))
    for ((tier, run) <- tiers) withTempDir("graft-resume") { tmp =>
      val dir = tmp.toString

      // uninterrupted: 8 fixed iterations
      val full = scores(run(IterConfig(tol = 0.0, maxIter = 8), None).state)

      // interrupted: 3 iterations with snapshots, then a FRESH load + 5 more
      run(IterConfig(tol = 0.0, maxIter = 3, snapshotDir = Some(dir), snapshotEvery = 1), None)
      val Some((state, iter, _)) = Iterate.resume(spark, dir)
      assert(iter == 3, tier)
      val resumedRun = run(IterConfig(tol = 0.0, maxIter = 8), Some((state, iter)))
      assert(resumedRun.metrics.map(_.iteration) == (4 to 8), tier)
      val resumed = scores(resumedRun.state)

      assert(full.length == n && resumed.length == n, tier)
      full.zip(resumed).foreach { case ((idF, xF), (idR, xR)) =>
        assert(idF == idR)
        assert(math.abs(xF - xR) < 1e-12, s"$tier, vertex $idF")
      }
    }
  }

  test("snapshot manifest is written atomically and parses back") {
    withTempDir("graft-manifest") { tmp =>
      val dir = tmp.toString
      val st = Seq((0L, 0.5), (1L, 0.5)).toDF("id", "x")
      Iterate.snapshot(dir, st, iteration = 7, delta = 0.123)
      val Some((loaded, iter, delta)) = Iterate.resume(spark, dir)
      assert(iter == 7 && math.abs(delta - 0.123) < 1e-12)
      assert(loaded.as[(Long, Double)].collect().toSet == Set((0L, 0.5), (1L, 0.5)))
    }
  }

  test("resume on an empty dir returns None") {
    withTempDir("graft-empty") { dir =>
      assert(Iterate.resume(spark, dir.toString).isEmpty)
    }
  }

  test("a truncated, non-JSON or mistyped manifest, or a missing state dir, is rejected by name") {
    withTempDir("graft-bad-manifest") { tmp =>
      val dir = tmp.toString
      Iterate.snapshot(dir, Seq((0L, 1.0)).toDF("id", "x"), iteration = 3, delta = 0.1)
      val mf = Paths.get(dir, "manifest.json")
      val state = s"$dir/state_3"
      def rejected(manifest: String): String = {
        Files.write(mf, manifest.getBytes(StandardCharsets.UTF_8))
        val e = intercept[IllegalArgumentException](Iterate.resume(spark, dir))
        assert(e.getMessage.contains(mf.toString), e.getMessage)
        e.getMessage
      }
      rejected("""{"iteration":3,"delta":0.1,"sta""")
      rejected("garbage")
      rejected("")
      assert(rejected(s"""{"delta":0.1,"state_path":"$state"}""").contains("iteration"))
      assert(rejected(s"""{"iteration":"3","delta":0.1,"state_path":"$state"}""")
        .contains("iteration"))
      assert(rejected(s"""{"iteration":3,"delta":0.1,"state_path":7}""").contains("state_path"))
      assert(rejected(s"""{"iteration":3,"delta":0.1,"state_path":"$dir/state_9"}""")
        .contains(s"$dir/state_9"))
      // the same manifest with the real state dir still loads
      Files.write(mf, s"""{"iteration":3,"delta":0.1,"state_path":"$state"}"""
        .getBytes(StandardCharsets.UTF_8))
      assert(Iterate.resume(spark, dir).map(_._2).contains(3))
    }
  }

  test("the array tier rejects a resume state with a missing, repeated or out-of-range id") {
    val n = 6L
    val edges = Synth.band(spark, n, 2)
    val good = (0L until n).map(i => (i, 1.0 / n))
    def rejected(rows: Seq[(Long, Double)]): String =
      intercept[IllegalArgumentException](PageRank.run(spark, edges, n,
        cfg = IterConfig(tol = 0.0, maxIter = 4),
        resumeFrom = Some((rows.toDF("id", "x"), 2)))).getMessage
    assert(rejected(good.filter(_._1 != 3)).contains("id 3 is missing"))
    assert(rejected(good :+ ((4L, 0.0))).contains("id 4 appears more than once"))
    assert(rejected(good.init :+ ((n, 0.0))).contains(s"id $n outside [0, $n)"))
    for (bad <- Seq(None, Some(Double.NaN))) {
      val badX = Seq((0L, Some(0.5)), (1L, bad)).toDF("id", "x")
      assert(intercept[IllegalArgumentException](PageRankArray.run(spark, edges, n,
        floatPrecision = true, resumeFrom = Some((badX, 1)))).getMessage
        .contains("id 1 has a null or NaN x"))
    }
  }
}
