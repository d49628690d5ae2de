package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Checkpoint recovery: a watermarked, append-mode windowed aggregation
  * is stopped after consuming half its input, then a NEW query (fresh
  * StreamingQuery object, same checkpoint) drains the rest. The durable
  * output must equal one uninterrupted batch aggregation — no window
  * lost at the crash point, none emitted twice on replay. This is the
  * property the q_stream_* gates assume but cannot show (each gate runs
  * a single uninterrupted drain): the state store and file-source log
  * actually survive a restart.
  */
class StreamRecoverySpec extends SparkSuite {
  import spark.implicits._

  private val hourMs = 3600L * 1000

  /** (user_id, value) events, `perHour` per hour for hours [0, nHours),
    * epoch-anchored at 2024-01-01. */
  private def hourFile(dir: String, hour: Int, perHour: Int): Unit = {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    (0 until perHour).map { i =>
      (new java.sql.Timestamp(base + hour * hourMs + i * 60000L),
        (hour * perHour + i).toLong)
    }.toDF("ts", "value")
      .coalesce(1).write.mode("append").parquet(s"$dir/h$hour")
  }

  private def windowed(df: org.apache.spark.sql.DataFrame) = df
    .withWatermark("ts", "1 minute")
    .groupBy(window($"ts", "1 hour"))
    .agg(count(lit(1)).as("n"), sum($"value").as("total"))
    .select($"window.start".as("ws"), $"n", $"total")

  test("append-mode windowed agg resumes from checkpoint exactly-once") {
    val root = tempDir("graft_recovery")
    val (in, out, ckpt) = (s"$root/in", s"$root/out", s"$root/ckpt")
    new java.io.File(in).mkdirs()

    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.LongType)))

    // one file per batch: several watermark advances per phase, so
    // finalized windows flush DURING a phase, not only at its end
    def drain(): Unit = {
      val q = windowed(spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .option("recursiveFileLookup", "true").parquet(in))
        .writeStream.outputMode("append").format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    // ---- phase 1: hours 0..2, then "crash" (query object discarded)
    (0 to 2).foreach(hourFile(in, _, perHour = 5))
    drain()
    val phase1 = spark.read.parquet(out).collect()
      .map(r => r.getTimestamp(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(phase1.nonEmpty,
      "some windows must finalize before the crash (watermark passed them)")
    assert(phase1.size < 6, "not all windows may exist yet — fixture sanity")

    // ---- phase 2: hours 3..5 + a far-future sentinel that pushes the
    // watermark beyond every real window; a NEW query resumes the ckpt
    (3 to 5).foreach(hourFile(in, _, perHour = 5))
    hourFile(in, 100, perHour = 1)
    drain()

    val got = spark.read.parquet(out).collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2))).toSeq
    // no window emitted twice across the restart (replay would duplicate
    // rows in the append sink — the file source must resume mid-log)
    assert(got.map(_._1).distinct.size == got.size,
      s"duplicate windows across restart: $got")
    // windows finalized before the crash are byte-identical afterwards
    phase1.foreach { case (ws, (n, total)) =>
      assert(got.contains((ws, n, total)),
        s"pre-crash window $ws changed or vanished after recovery")
    }
    // the union equals one uninterrupted batch aggregation over
    // everything except the sentinel's own (never-finalized) window
    val expected = windowedBatch(in).filter(_._2 == 5L)
    assert(got.sortBy(_._1.getTime) == expected,
      s"recovered stream != single-pass batch:\n got      $got\n expected $expected")
    assert(expected.size == 6, "all 6 real hourly windows must finalize")
  }

  private def windowedBatch(in: String): Seq[(java.sql.Timestamp, Long, Long)] =
    spark.read.option("recursiveFileLookup", "true").parquet(in)
      .groupBy(window($"ts", "1 hour"))
      .agg(count(lit(1)).as("n"), sum($"value").as("total"))
      .select($"window.start".as("ws"), $"n", $"total")
      .orderBy($"ws")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2))).toSeq
}
