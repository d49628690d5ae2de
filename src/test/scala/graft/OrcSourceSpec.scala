package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** ORC source behaviors the hash gate can't show: predicate pushdown
  * reaches the ORC scan, column pruning narrows the read schema, and
  * type round-trip covers timestamps (the type that bit r4 on parquet —
  * ORC has its own epoch conventions worth pinning). */
class OrcSourceSpec extends SparkSuite {
  import spark.implicits._

  private def writeSample(dir: String): Unit =
    Seq(
      (1L, "alpha", 1.5, java.sql.Timestamp.valueOf("2024-01-01 12:00:00")),
      (2L, "beta", -2.25, java.sql.Timestamp.valueOf("2024-06-15 23:59:59")),
      (3L, "alpha", 0.0, java.sql.Timestamp.valueOf("1969-12-31 23:59:59")))
      .toDF("id", "tag", "score", "at")
      .coalesce(1).write.orc(dir)

  test("filter is pushed into the ORC scan and columns are pruned") {
    val dir = tempDir("graft_orc_spec") + "/t"
    writeSample(dir)
    val df = spark.read.orc(dir).filter($"id" > 1L).select($"tag")
    df.collect()
    // v1 ORC relation: pushed filters + read schema live on the
    // FileSourceScanExec's metadata
    val scans = walkPlan(df).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty, "no scan node found")
    val desc = scans.map(_.toString).mkString("\n")
    assert(desc.contains("GreaterThan(id,1)") || desc.contains("id > 1"),
      s"id > 1 not pushed into the ORC scan:\n$desc")
    assert(!desc.contains("score"),
      s"unprojected column 'score' still in the ORC read schema:\n$desc")
  }

  test("timestamps round-trip ORC exactly, including pre-epoch values") {
    val dir = tempDir("graft_orc_spec") + "/t"
    writeSample(dir)
    val back = spark.read.orc(dir).orderBy($"id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getTimestamp(3).toString))
    assert(back.toSeq == Seq(
      (1L, "alpha", 1.5, "2024-01-01 12:00:00.0"),
      (2L, "beta", -2.25, "2024-06-15 23:59:59.0"),
      (3L, "alpha", 0.0, "1969-12-31 23:59:59.0")))
  }

  test("gated query equals its own parquet-side batch twin") {
    val sfDir = "/root/testdata/sf0.001"
    val viaOrc = graft.sources.Ingest.orcSourceQuery(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val direct = graft.sources.Tables.events(spark, sfDir)
      .filter($"event_id" % 25 === 0 && $"event_type" =!= "error")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        graft.functions.Exact.sumExact($"value").as("total_value"))
      .orderBy($"event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(viaOrc == direct, s"ORC round-trip drifted:\n $viaOrc\n $direct")
    assert(viaOrc.nonEmpty)
  }
}
