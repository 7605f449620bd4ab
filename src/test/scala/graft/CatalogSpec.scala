package graft

import graft.sources.{SnapshotCatalog, Synth}
import graft.SparkSuite.withTempDir

/** Snapshot catalog: atomic commits + time travel (Iceberg-semantics
  * substitution, SURVEY.md §7.1). */
class CatalogSpec extends SparkSuite {
  import spark.implicits._

  test("commit / read / time travel / snapshot list") {
    withTempDir("graft-catalog") { tmp =>
      val root = tmp.toString
      val cat = new SnapshotCatalog(root)
      assert(cat.currentSnapshot("pages").isEmpty)
      assert(cat.snapshots("pages").isEmpty)

      val v0 = Synth.pages(spark, 10, 2)
      val id0 = cat.commit("pages", v0)
      assert(id0 == 0 && cat.currentSnapshot("pages").contains(0L))
      assert(cat.read(spark, "pages").count() == 10)

      val v1 = Synth.pages(spark, 25, 2)
      val id1 = cat.commit("pages", v1)
      assert(id1 == 1)
      assert(cat.read(spark, "pages").count() == 25)       // current
      assert(cat.readAt(spark, "pages", 0).count() == 10)  // time travel
      assert(cat.snapshots("pages") == Seq(0L, 1L))

      // committed data is byte-stable: re-read equals source
      val got = cat.read(spark, "pages").select("url", "text")
        .as[(String, String)].collect().toSet
      val want = v1.select("url", "text").as[(String, String)].collect().toSet
      assert(got == want)
    }
  }

  test("measure harness: adaptive sampling yields sane statistics") {
    var calls = 0
    val r = graft.bench.Measure.adaptive(pilotRuns = 5, maxRuns = 10) {
      calls += 1; Thread.sleep(2)
    }
    assert(calls >= 6 && r.samples >= 5) // cold + pilot at minimum
    assert(r.mean > 0.001 && r.mean < 0.5)
    assert(r.ciHalfWidth >= 0.0 && r.median > 0.0)
    // t-quantiles: spot-check against standard tables
    assert(math.abs(graft.bench.Measure.t95(10) - 2.228) < 0.01)
    assert(math.abs(graft.bench.Measure.t95(30) - 2.042) < 0.01)
    assert(math.abs(graft.bench.Measure.t95(4) - 2.776) < 0.03)
  }
}
