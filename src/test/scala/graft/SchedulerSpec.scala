package graft

import graft.operators.{PipelineRunner, Scheduler}
import graft.operators.Scheduler.Trigger

/** Cadence semantics of the scheduler analog (SURVEY residual #1):
  * every rule the fixture catalog encodes, pinned independently of the
  * oracle, plus the PipelineRunner wiring (dependency-closure subset
  * run, run log, idempotence). */
class SchedulerSpec extends SparkSuite {

  private def due(triggers: Seq[Trigger],
      now: String = Scheduler.FixedNow): Seq[(String, Long, Long)] =
    Scheduler.dueRuns(spark, triggers, now).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq

  private def epoch(s: String): Long =
    java.time.LocalDateTime.parse(s.replace(' ', 'T'))
      .toEpochSecond(java.time.ZoneOffset.UTC)

  test("hourly catch-up owes every missed tick through the last one <= now") {
    val t = Seq(Trigger("h", 60, "2024-03-01 00:00:00",
      Some("2024-03-01 09:00:00"), "all", enabled = true))
    assert(due(t) == Seq(
      ("h", 10L, epoch("2024-03-01 10:00:00")),
      ("h", 11L, epoch("2024-03-01 11:00:00")),
      ("h", 12L, epoch("2024-03-01 12:00:00"))))
  }

  test("latest-only coalesces the backlog to the newest owed tick") {
    val t = Seq(Trigger("m", 30, "2024-03-01 00:00:00",
      Some("2024-03-01 10:45:00"), "latest", enabled = true))
    assert(due(t) == Seq(("m", 24L, epoch("2024-03-01 12:00:00"))))
  }

  test("never-run trigger owes its anchor tick; a tick at now is due") {
    val t = Seq(Trigger("d", 60, "2024-03-01 11:07:00", None, "all",
      enabled = true))
    assert(due(t) == Seq(
      ("d", 0L, epoch("2024-03-01 11:07:00")),
      ("d", 1L, epoch("2024-03-01 12:07:00"))))
  }

  test("daily cadence steps across the Feb-29 leap day") {
    val t = Seq(Trigger("q", 1440, "2024-02-01 06:30:00",
      Some("2024-02-27 06:30:00"), "all", enabled = true))
    assert(due(t).map(_._3) == Seq("2024-02-28 06:30:00",
      "2024-02-29 06:30:00", "2024-03-01 06:30:00").map(epoch))
  }

  test("disabled and up-to-date triggers owe nothing") {
    val t = Seq(
      Trigger("off", 5, "2024-03-01 00:00:00",
        Some("2024-03-01 00:00:00"), "all", enabled = false),
      Trigger("cur", 60, "2024-03-01 00:00:00",
        Some("2024-03-01 12:00:00"), "all", enabled = true))
    assert(due(t).isEmpty)
  }

  test("runDue materializes due models with dependency closure and is idempotent") {
    val out = java.nio.file.Files.createTempDirectory("graft_sched").toString
    val sf = "/root/testdata/sf0.001"
    val t = Seq(Trigger("fct_trips", 15, "2024-03-01 00:05:00",
      Some("2024-03-01 11:20:00"), "all", enabled = true))
    // the log is replaced in place through writeAudited: no staging or
    // parked copy is left beside it after either call
    def noLeftovers() = Seq("_run_log.staging", "_run_log.old").foreach { d =>
      assert(!new java.io.File(s"$out/$d").exists, d)
    }
    try {
      val counts = Scheduler.runDue(spark, sf, out, t)
      noLeftovers()
      // fct_trips pulls its whole upstream closure
      assert(counts.keySet == PipelineRunner.models.map(_.name).toSet)
      assert(counts("fct_trips") > 0)
      // owed ticks 11:35, 11:50, 12:05 are logged
      val log = spark.read.parquet(s"$out/_run_log").collect()
        .map(r => (r.getString(0), r.getLong(1))).sortBy(_._2)
      assert(log.toSeq == Seq("2024-03-01 11:35:00", "2024-03-01 11:50:00",
        "2024-03-01 12:05:00").map(s => ("fct_trips", epoch(s))))
      // advancing last_run to the newest logged tick owes nothing more
      val caughtUp = t.map(_.copy(lastRun = Some("2024-03-01 12:05:00")))
      assert(Scheduler.runDue(spark, sf, out, caughtUp).isEmpty)
      noLeftovers()
      assert(spark.read.parquet(s"$out/_run_log").count() == 0)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  test("runSubset rejects unknown model names") {
    intercept[IllegalArgumentException] {
      PipelineRunner.runSubset(spark, "/root/testdata/sf0.001",
        "/tmp/unused", Seq("no_such_model"))
    }
  }
}
