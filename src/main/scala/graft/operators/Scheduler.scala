package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Schedule/trigger cadence — the Mage trigger-config analog
  * (reference: scheduler_data/scheduler/pipelines/taxi_zones/
  * metadata.yaml:51 declares `settings.triggers`; Mage schedule
  * triggers carry a frequency + anchor ("start time") and the
  * scheduler materializes every run time the cadence owes since the
  * last completed run).
  *
  * The cadence itself is pure integer arithmetic over epoch seconds —
  * a trigger (anchor a, period p) owes run k at time a + k·p — so the
  * due-run expansion is an ordinary relational query: one
  * `sequence`/`explode` per trigger row, oracle-gated like any other
  * operator (q_schedule_due). Semantics modeled:
  *
  *  - catch-up (`policy = 'all'`): every missed tick since the last
  *    run, bounded below by the anchor for never-run triggers;
  *  - coalescing (`policy = 'latest'`): only the most recent owed tick
  *    (the "skip backfill" scheduler mode);
  *  - `enabled = false` triggers owe nothing;
  *  - a tick landing exactly at `now` is due (closed upper bound);
  *  - a trigger whose last run is current owes nothing.
  *
  * Scale: one row per owed run — the expansion is O(owed ticks), never
  * O(elapsed time), because k ranges are computed arithmetically
  * (k0/kmax) before the sequence is generated. A trigger catalog is
  * config-sized; the frame exists so the SAME query runs over a
  * millions-of-triggers multi-tenant catalog, where per-trigger
  * driver loops would be the scale bug.
  *
  * [[runDue]] closes the loop with [[PipelineRunner]]: due pipelines
  * that name DAG models are materialized (with their dependency
  * closure, dbt `--select`-style) and the run log is written with
  * replace semantics — re-running with an up-to-date log is a no-op.
  */
object Scheduler {

  /** The evaluation instant — fixed so the gate is deterministic (a
    * real deployment passes the wall clock). */
  val FixedNow = "2024-03-01 12:07:00"

  /** every_minutes, anchor, last completed run (None = never ran),
    * catch-up policy, enabled. */
  final case class Trigger(pipeline: String, everyMinutes: Long,
      anchor: String, lastRun: Option[String], policy: String,
      enabled: Boolean)

  /** Deterministic config fixture (the metadata.yaml analog), shaped
    * to exercise every cadence rule: hourly catch-up, off-anchor
    * 15-min cadence, daily across the Feb-29 leap day, latest-only
    * coalescing, a disabled trigger, a never-run trigger whose first
    * tick is the anchor itself, a tick landing exactly on `now`, and
    * an up-to-date trigger owing nothing. */
  def triggerCatalog: Seq[Trigger] = Seq(
    Trigger("hourly_zones", 60, "2024-03-01 00:00:00",
      Some("2024-03-01 09:00:00"), "all", enabled = true),
    Trigger("fct_trips", 15, "2024-03-01 00:05:00",
      Some("2024-03-01 11:20:00"), "all", enabled = true),
    Trigger("daily_quality", 1440, "2024-02-01 06:30:00",
      Some("2024-02-27 06:30:00"), "all", enabled = true),
    Trigger("monthly_agg", 30, "2024-03-01 00:00:00",
      Some("2024-03-01 10:45:00"), "latest", enabled = true),
    Trigger("disabled_job", 5, "2024-03-01 00:00:00",
      Some("2024-03-01 00:00:00"), "all", enabled = false),
    Trigger("fresh_job", 120, "2024-03-01 08:00:00", None, "all",
      enabled = true),
    Trigger("on_the_dot", 60, "2024-03-01 11:07:00", None, "all",
      enabled = true),
    Trigger("up_to_date", 60, "2024-03-01 00:00:00",
      Some("2024-03-01 12:00:00"), "all", enabled = true))

  private def triggerFrame(spark: SparkSession,
      triggers: Seq[Trigger]): DataFrame = {
    import spark.implicits._
    triggers
      .map(t => (t.pipeline, t.everyMinutes, t.anchor, t.lastRun,
        t.policy, t.enabled))
      .toDF("pipeline", "every_minutes", "anchor", "last_run", "policy",
        "enabled")
  }

  /** Owed runs at `now`: (pipeline, run_seq, run_epoch) — run k of a
    * trigger fires at epoch a + k·p. Epoch-second BIGINTs cross the
    * engine boundary (house timestamp discipline — DuckDB
    * `to_timestamp` yields TIMESTAMPTZ, which would not compare). */
  def dueRuns(spark: SparkSession,
      triggers: Seq[Trigger] = triggerCatalog,
      now: String = FixedNow): DataFrame = {
    import spark.implicits._
    val base = triggerFrame(spark, triggers)
      .filter($"enabled")
      .select($"pipeline", $"policy",
        ($"every_minutes" * 60).as("p_e"),
        unix_timestamp(to_timestamp($"anchor")).as("a_e"),
        // never-run ⇒ lower bound one second before the anchor, so
        // k = 0 (the anchor tick itself) is owed
        coalesce(unix_timestamp(to_timestamp($"last_run")),
          unix_timestamp(to_timestamp($"anchor")) - 1).as("lb_e"),
        unix_timestamp(to_timestamp(lit(now))).as("now_e"))
    // first owed tick strictly after the last run — clamped to the
    // anchor (k = 0): a last_run recorded BEFORE the anchor must not
    // manufacture pre-anchor ticks. Last owed tick at or before now.
    // Double division then floor: both engines round identically
    // (exact IEEE doubles at epoch magnitude)
    val ks = base
      .withColumn("k0", greatest(
        floor(($"lb_e" - $"a_e") / $"p_e".cast("double")).cast("long") + 1,
        lit(0L)))
      .withColumn("kmax",
        floor(($"now_e" - $"a_e") / $"p_e".cast("double")).cast("long"))
      .filter($"kmax" >= $"k0")
    ks
      .withColumn("run_seq", explode(sequence($"k0", $"kmax")))
      .filter($"policy" === "all" || $"run_seq" === $"kmax")
      .select($"pipeline", $"run_seq",
        ($"a_e" + $"run_seq" * $"p_e").as("run_epoch"))
      .orderBy($"pipeline", $"run_seq")
  }

  /** The same expansion in ANSI SQL over the same literal catalog. */
  def dueRunsSql(now: String = FixedNow): String = {
    val rows = triggerCatalog.map { t =>
      val lr = t.lastRun
        .map(s => s"TIMESTAMP '$s'")
        .getOrElse("CAST(NULL AS TIMESTAMP)")
      s"('${t.pipeline}', ${t.everyMinutes}, TIMESTAMP '${t.anchor}', " +
        s"$lr, '${t.policy}', ${t.enabled})"
    }.mkString(",\n|  ")
    s"""WITH trig(pipeline, every_minutes, anchor, last_run, policy, enabled) AS (VALUES
       |  $rows),
       |base AS (
       |  SELECT pipeline, policy,
       |         every_minutes * 60 AS p_e,
       |         CAST(floor(epoch(anchor)) AS BIGINT) AS a_e,
       |         CAST(floor(epoch(coalesce(last_run,
       |               anchor - INTERVAL 1 SECOND))) AS BIGINT) AS lb_e,
       |         CAST(floor(epoch(TIMESTAMP '$now')) AS BIGINT) AS now_e
       |  FROM trig WHERE enabled),
       |ks AS (
       |  SELECT pipeline, policy, p_e, a_e,
       |         -- clamped to the anchor tick: a pre-anchor last_run
       |         -- must not manufacture negative-k runs
       |         greatest(CAST(floor((lb_e - a_e) / CAST(p_e AS DOUBLE))
       |           AS BIGINT) + 1, 0) AS k0,
       |         CAST(floor((now_e - a_e) / CAST(p_e AS DOUBLE)) AS BIGINT)
       |           AS kmax
       |  FROM base),
       |due AS (
       |  SELECT pipeline, policy, kmax, a_e, p_e,
       |         unnest(range(k0, kmax + 1)) AS run_seq
       |  FROM ks WHERE kmax >= k0)
       |SELECT pipeline, CAST(run_seq AS BIGINT) AS run_seq,
       |       CAST(a_e + run_seq * p_e AS BIGINT) AS run_epoch
       |FROM due
       |WHERE policy = 'all' OR run_seq = kmax
       |ORDER BY pipeline, run_seq""".stripMargin
  }

  /** Execute owed runs against the model DAG: every due pipeline that
    * names a [[PipelineRunner]] model is materialized once (latest
    * owed tick — execution coalesces regardless of the catch-up
    * policy's LOG entries, like a scheduler draining a backlog into
    * one fresh build), with its dependency closure. The run log
    * (pipeline, run_epoch) replaces `outRoot/_run_log` in place through
    * [[graft.sources.Ingest.writeAudited]], like the models beside it.
    * Returns pipeline → rows materialized; triggers naming no model
    * still log their owed ticks (externally-executed pipelines).
    * Re-invoking with last_run advanced to the logged ticks owes
    * nothing — idempotence is SchedulerSpec's contract. */
  def runDue(spark: SparkSession, sfDir: String, outRoot: String,
      triggers: Seq[Trigger] = triggerCatalog,
      now: String = FixedNow): Map[String, Long] = {
    val due = dueRuns(spark, triggers, now)
    // config-sized by construction (≤ one row per owed tick of a
    // config catalog); the collect is the scheduler's control plane
    val owed = due.collect()
      .map(r => (r.getString(0), r.getLong(2)))
    val modelNames = PipelineRunner.models.map(_.name).toSet
    val toRun = owed.map(_._1).distinct.filter(modelNames.contains)
    val counts = PipelineRunner.runSubset(spark, sfDir, outRoot, toRun)
    import spark.implicits._
    graft.sources.Ingest.writeAudited(
      owed.toSeq.toDF("pipeline", "run_epoch"), s"$outRoot/_run_log")(_.count())
    counts
  }
}
