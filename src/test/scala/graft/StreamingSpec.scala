package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming lane: the batch hourly aggregation of `events` and
  * the same query run as a stream over the identical parquet input must
  * agree (stream/batch unification — the engine's streaming surface).
  * The reference has no streaming counterpart (SURVEY.md §2.7); this is part
  * of the Spark-native re-imagining. */
class StreamingSpec extends SparkSuite {
  import spark.implicits._

  val sfDir = "/root/testdata/sf0.001"

  /** File streaming source needs a DIRECTORY (and TIMESTAMP, not NTZ, for
    * watermarks): stage the single parquet file into a temp dir. */
  private def withStreamDir[T](f: String => T): T =
    SparkSuite.withTempDir("graft-stream") { d =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sfDir/events.parquet"),
        d.resolve("events.parquet"))
      f(d.toString)
    }

  test("streaming hourly aggregation == batch result (memory sink)") {
    withStreamDir { streamDir =>
      val raw = spark.read.parquet(s"$sfDir/events.parquet")
      val batchDf = raw.withColumn("ts", $"ts".cast("timestamp"))

      val stream = spark.readStream
        .schema(raw.schema)
        .parquet(streamDir)
        .withColumn("ts", $"ts".cast("timestamp"))
        .withWatermark("ts", "1 hour")
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n"), sum($"value").as("total_value"))
        .select($"window.start".as("h"), $"event_type", $"n", $"total_value")

      val q = stream.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName("hourly_events")
        .trigger(Trigger.AvailableNow())
        .start()
      q.processAllAvailable()
      q.stop()

      val streamed = spark.table("hourly_events")
        .as[(java.sql.Timestamp, String, Long, Double)]
        .collect().map(t => ((t._1, t._2), (t._3, t._4))).toMap

      val batch = batchDf
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n"), sum($"value").as("total_value"))
        .select($"window.start".as("h"), $"event_type", $"n", $"total_value")
        .as[(java.sql.Timestamp, String, Long, Double)]
        .collect().map(t => ((t._1, t._2), (t._3, t._4))).toMap

      assert(streamed.keySet == batch.keySet)
      batch.foreach { case (k, (n, v)) =>
        val (sn, sv) = streamed(k)
        assert(sn == n, s"count at $k")
        assert(math.abs(sv - v) < 1e-6, s"sum at $k")
      }
      assert(batch.nonEmpty)
    }
  }

  test("stateful stream: running count per user via flatMapGroupsWithState-free agg") {
    withStreamDir { streamDir =>
      // complete-mode aggregation over user_id: streaming state store path
      val batchDf = spark.read.parquet(s"$sfDir/events.parquet")
      val stream = spark.readStream.schema(batchDf.schema).parquet(streamDir)
        .groupBy($"user_id").agg(count(lit(1)).as("n"))
      val q = stream.writeStream.outputMode("complete")
        .format("memory").queryName("user_counts")
        .trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()
      val streamed = spark.table("user_counts")
        .as[(Long, Long)].collect().toMap
      val batch = batchDf.groupBy($"user_id").agg(count(lit(1)).as("n"))
        .as[(Long, Long)].collect().toMap
      assert(streamed == batch && batch.nonEmpty)
    }
  }
}
