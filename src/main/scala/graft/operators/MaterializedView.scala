package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession, SaveMode}
import org.apache.spark.sql.functions._
import graft.functions.Exact
import graft.sources.Tables

/** Incremental view maintenance (IVM) — keeping an aggregate table
  * current by folding in a delta instead of recomputing the world.
  * COUNT and SUM are self-maintainable (partials merge associatively),
  * so maintenance is: aggregate THE DELTA ONLY, union with the stored
  * aggregate, and re-aggregate the (groups-sized) union. Derived
  * measures (avg) are recomputed from the maintained sums — the
  * algebraic-aggregate rule.
  *
  * Scale: the refresh cost is O(|delta| + |groups|) — the base table
  * is never rescanned (the maintenance plan reads the stored aggregate
  * parquet plus the delta scan, asserted in MatViewSpec). At 100 TB
  * with daily deltas this is the difference between a minutes-long
  * merge and a full-table job; MIN/MAX or DISTINCT measures are not
  * self-maintainable under deletes and need either delete-free feeds
  * (this shape) or auxiliary state. */
object MaterializedView {

  private[graft] def viewOf(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"), Exact.sumDecimal(col("value")).as("total_dec"))

  /** Fold a delta's aggregate into the stored aggregate. */
  private[graft] def maintain(stored: DataFrame, delta: DataFrame): DataFrame =
    stored.unionByName(viewOf(delta))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("n")).as("n"), sum(col("total_dec")).as("total_dec"))

  /** Gated query: build the view from the base (90% of events), then
    * maintain it with the held-out delta; the oracle is the FULL
    * recompute, so any drift between maintain() and recompute fails
    * the hash. Output carries the derived avg to pin the algebraic
    * rule too. */
  def incrementalAggQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val tmp = graft.functions.Staged.scratchDir("graft_ivm_").toString
    try {
      val events = Tables.events(spark, sfDir)
      viewOf(events.filter($"event_id" % 10 =!= 0))
        .write.mode(SaveMode.Overwrite).parquet(s"$tmp/view")
      val stored = spark.read.parquet(s"$tmp/view")
      maintain(stored, events.filter($"event_id" % 10 === 0))
        .select($"event_type", $"day", $"n",
          $"total_dec".cast("double").as("total_value"),
          round($"total_dec".cast("double") / $"n", 6).as("avg_value"))
        .orderBy($"event_type", $"day")
        .localCheckpoint(eager = true) // materialize before tmp cleanup
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      ()
    }
  }

  val incrementalAggSql: String =
    """SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n,
      |       CAST(sum(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS total_value,
      |       round(CAST(sum(CAST(value AS DECIMAL(27,6))) AS DOUBLE) / count(*), 6)
      |         AS avg_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY event_type, day""".stripMargin

  // -------------------------------------------------- MV auto-rewrite

  /** The serve-side MV for [[graft.plans.MvRewrite]]: per
    * (event_type, day) partials — row count, exact decimal sum,
    * min/max. Richer than [[viewOf]] (which stays minimal for the
    * maintain-path queries) but the same IVM algebra applies: all four
    * partials are insert-only self-maintainable. */
  private[graft] def dailyMv(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"),
        Exact.sumDecimal(col("value")).as("total_dec"),
        // non-null count partial: what a rewritten AVG divides by
        // (the row count n over-divides when the measure has nulls)
        count(col("value")).as("n_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))

  /** Register the daily events MV with the rewrite rule. The dim and
    * measure expressions resolve through `Tables.events`' own decode
    * projection, so a user query written against the decoded table
    * matches even though the relation column is raw int64 nanos. */
  private[graft] def registerDailyMv(spark: SparkSession, sfDir: String,
      mvPath: String): graft.plans.MvRewrite.MvDef = {
    import graft.plans.MvRewrite
    val base = Tables.events(spark, sfDir)
    val d = MvRewrite.MvDef(
      name = "events_daily",
      basePathSuffix = s"$sfDir/events.parquet",
      mvPath = mvPath,
      dims = Map(
        MvRewrite.resolvedSql(base, col("event_type")) -> "event_type",
        MvRewrite.resolvedSql(base, to_date(col("ts"))) -> "day"),
      sums = Map(MvRewrite.resolvedSql(base, Exact.decimal(col("value"))) -> "total_dec"),
      mins = Map(MvRewrite.resolvedSql(base, col("value")) -> "min_value"),
      maxs = Map(MvRewrite.resolvedSql(base, col("value")) -> "max_value"),
      cnts = Map(MvRewrite.resolvedSql(base, Exact.decimal(col("value"))) -> "n_value"),
      countCol = Some("n"),
      dayDims = Map(MvRewrite.resolvedSql(base, col("ts")) -> "day"),
      // the decode chain (div, timestamp_micros, to_date) is
      // null-intolerant, so day is null exactly when raw ts is
      nullDims = Map("ts" -> "day"))
    MvRewrite.register(d)
    d
  }

  /** Gated query: build the daily MV, register it, and run a plain
    * aggregate over the BASE table — a dim-subset rollup (event_type
    * only) with dim filters (day range + type exclusion) and
    * count/sum/min/max measures. The rule must serve it from the MV:
    * the `require` pins the rewrite (a silently-broken matcher would
    * still return correct rows via the base scan — loud beats lucky),
    * and the DuckDB oracle recomputes from the base table, so the
    * rewrite must be bit-exact, rollup and all. */
  def mvRewriteQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.plans.MvRewrite
    val tmp = graft.functions.Staged.scratchDir("graft_mv_").toString
    try {
      val events = Tables.events(spark, sfDir)
      dailyMv(events).write.mode(SaveMode.Overwrite).parquet(s"$tmp/mv")
      registerDailyMv(spark, sfDir, s"$tmp/mv")
      MvRewrite.enable(spark)
      val out = events
        .filter(to_date($"ts") >= lit("2024-01-10") && $"event_type" =!= "error")
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          Exact.sumDecimal($"value").as("total_dec"),
          // native AVG exercises the sum/count-partial division rewrite
          avg(Exact.decimal($"value")).as("avg_dec"),
          min($"value").as("min_value"),
          max($"value").as("max_value"))
        .select($"event_type", $"n",
          $"total_dec".cast("double").as("total_value"),
          round($"total_dec".cast("double") / $"n", 6).as("avg_value"),
          $"avg_dec".cast("double").as("avg_native"),
          $"min_value", $"max_value")
        .orderBy($"event_type")
      val physical = out.queryExecution.executedPlan.toString
      require(physical.contains(tmp),
        "MV rewrite did not fire: plan still scans the base table")
      require(!physical.contains("events.parquet"),
        "MV rewrite left a base-table scan in the plan")
      out.localCheckpoint(eager = true)
    } finally {
      graft.plans.MvRewrite.disable(spark)
      graft.plans.MvRewrite.unregister("events_daily")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      ()
    }
  }

  /** The avg_native oracle replicates Spark's decimal AVG digit for
    * digit from exact integers: avg(decimal(27,6)) divides at the
    * precision-loss-adjusted scale 17 (HALF_UP), casts to the (31,10)
    * result (HALF_UP again), and the double display is one exact IEEE
    * division R10/1e10 (both operands exactly representable, one
    * correctly-rounded op ≡ Spark's BigDecimal.doubleValue). S is the
    * unscaled sum (×1e6, exact), C the non-null count; values are
    * positive so HALF_UP(x) = (2·num + den) // (2·den). */
  val mvRewriteSql: String =
    """WITH partials AS (
      |  SELECT event_type, count(*) AS n,
      |         sum(CAST(value AS DECIMAL(27,6))) AS sum_dec,
      |         CAST(sum(CAST(value AS DECIMAL(27,6))) * 1000000 AS HUGEINT) AS s6,
      |         count(value) AS cnt,
      |         min(value) AS min_value, max(value) AS max_value
      |  FROM events
      |  WHERE CAST(ts AS DATE) >= DATE '2024-01-10' AND event_type <> 'error'
      |  GROUP BY 1
      |)
      |SELECT event_type, n,
      |       CAST(sum_dec AS DOUBLE) AS total_value,
      |       round(CAST(sum_dec AS DOUBLE) / n, 6) AS avg_value,
      |       CAST(((2 * s6 * 100000000000 + cnt) // (2 * cnt) + 5000000)
      |              // 10000000 AS DOUBLE) / 1e10 AS avg_native,
      |       min_value, max_value
      |FROM partials
      |ORDER BY 1""".stripMargin
}
