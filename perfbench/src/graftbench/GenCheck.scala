package graftbench

import org.apache.spark.sql.SparkSession

/** Generator checks, run by `perfbench/test_gen.py`: the same seed gives an
  * identical table, a different seed a different one, and the table the
  * engine reads equals the edges the oracle regenerates. Small shapes of the
  * workloads' generators. Exits non-zero on the first failure. */
object GenCheck {
  def main(args: Array[String]): Unit = {
    val work = args(0)
    val spark = SparkSession.builder().master("local[2]").appName("graftbench-gencheck")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    var failed = 0
    def check(name: String, cond: Boolean): Unit = {
      println(s"${if (cond) "ok  " else "FAIL"} $name")
      if (!cond) failed += 1
    }
    try {
      for (shape <- Seq(Gen.Web(1 << 12, 8), Gen.Communities(1 << 12, 7))) {
        val label = shape.productPrefix
        def table(seed: Long, tag: String) = {
          val path = s"$work/$label-$seed-$tag"
          shape.write(spark, seed, path)
          Gen.digest(spark.read.parquet(path))
        }
        val a1 = table(11, "a"); val a2 = table(11, "b"); val b = table(12, "a")
        check(s"$label: same seed, identical table", a1 == a2)
        check(s"$label: different seed, different table", a1 != b)
        check(s"$label: table equals the oracle's edges", a1 == Gen.digest(shape.all(11)))
        check(s"$label: has edges", a1._1 > shape.n)
      }
    } finally spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
