package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables

/** Window-function surface beyond the reference's two `row_number` SKs
  * (SURVEY §2.5 notes the reference uses nothing else): running
  * aggregates with explicit frames, lag/lead, rank, and gap-based
  * sessionization — the analytics any engine user of this library would
  * expect, each with a DuckDB oracle.
  *
  * Scale: every window here is PARTITIONED (by customer / user) — state
  * per partition key, shuffled once on the partition key, no global
  * ordering anywhere. The unpartitioned-window trap (all rows through
  * one task) is reserved for dim-scale SK assignment only (GoldDims).
  *
  * Determinism: every window ORDER BY carries a unique tiebreaker
  * (orderkey / event_id) so frame contents — and therefore running
  * decimal sums — are identical across engines and partitionings.
  */
object WindowOps {

  /** Per-customer order history: running lifetime revenue (explicit
    * ROWS frame), order sequence number, gap in days since the previous
    * order (lag), and next-order date (lead). */
  def runningTotals(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    Tables.orders(spark, sfDir)
      .withColumn("order_seq", row_number().over(w))
      .withColumn("running_revenue",
        graft.functions.Exact.sumDecimal($"o_totalprice")
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double"))
      .withColumn("days_since_prev",
        datediff(to_date($"o_orderdate"), to_date(lag($"o_orderdate", 1).over(w))))
      .withColumn("next_order_date", to_date(lead($"o_orderdate", 1).over(w)))
      .select($"o_orderkey", $"o_custkey", to_date($"o_orderdate").as("order_date"),
        $"order_seq", $"running_revenue", $"days_since_prev", $"next_order_date")
      .orderBy($"o_custkey", $"order_seq")
  }

  val runningTotalsSql: String =
    """SELECT o_orderkey, o_custkey,
      |       CAST(o_orderdate AS DATE) AS order_date,
      |       CAST(row_number() OVER w AS INTEGER) AS order_seq,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) OVER
      |            (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |         AS running_revenue,
      |       CAST(date_diff('day', CAST(lag(o_orderdate, 1) OVER w AS DATE),
      |                      CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since_prev,
      |       CAST(lead(o_orderdate, 1) OVER w AS DATE) AS next_order_date
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, order_seq""".stripMargin

  /** Time-based RANGE frame — the window surface the ROWS-frame query
    * above does not cover: for every event, the count and value sum of
    * the SAME USER's events in the trailing hour, frame bounds defined
    * on the ORDER VALUE (epoch seconds), not row offsets. Peers (equal
    * timestamps) enter the frame together in both engines, which is
    * what makes RANGE — unlike ROWS — insensitive to tie order; the
    * sum stays decimal-routed so frame accumulation order never shows.
    *
    * Scale: one shuffle on user_id, per-task state is the sliding
    * frame, bounded by events-per-hour-per-user — never the corpus. */
  def rollingHour(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts_sec")
      .rangeBetween(-3600, 0)
    Tables.events(spark, sfDir)
      .withColumn("ts_sec", unix_timestamp($"ts"))
      .select($"user_id", $"event_id", $"ts_sec", $"value",
        count(lit(1)).over(w).as("n_trailing_1h"),
        graft.functions.Exact.sumDecimal($"value").over(w).cast("double")
          .as("sum_trailing_1h"))
      .orderBy($"user_id", $"event_id")
  }

  val rollingHourSql: String =
    """SELECT user_id, event_id,
      |       CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec, value,
      |       COUNT(*) OVER w AS n_trailing_1h,
      |       CAST(sum(CAST(value AS DECIMAL(27,6))) OVER w AS DOUBLE) AS sum_trailing_1h
      |FROM events
      |WINDOW w AS (PARTITION BY user_id
      |             ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
      |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, event_id""".stripMargin

  /** Equal-frequency decile binning (ntile) — the quantile-bucketing
    * feature transform, with a TOTAL order (amount + unique line key)
    * so bucket boundaries are deterministic and the ANSI floor
    * distribution of remainder rows agrees across engines. */
  def ntileDeciles(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"l_returnflag")
      .orderBy($"l_extendedprice", $"l_orderkey", $"l_linenumber")
    Tables.lineitem(spark, sfDir)
      .withColumn("decile", ntile(10).over(w))
      .groupBy($"l_returnflag".as("service_type"), $"decile")
      .agg(count(lit(1)).as("n"),
        min($"l_extendedprice").as("lo"),
        max($"l_extendedprice").as("hi"))
      .orderBy($"service_type", $"decile")
  }

  val ntileDecilesSql: String =
    """WITH d AS (
      |  SELECT l_returnflag, l_extendedprice,
      |         CAST(ntile(10) OVER (PARTITION BY l_returnflag
      |              ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS INTEGER) AS decile
      |  FROM lineitem)
      |SELECT l_returnflag AS service_type, decile,
      |       COUNT(*) AS n,
      |       min(l_extendedprice) AS lo,
      |       max(l_extendedprice) AS hi
      |FROM d
      |GROUP BY 1, 2
      |ORDER BY service_type, decile""".stripMargin

  /** Gap-based sessionization of the event stream: a >30-minute silence
    * starts a new session (the lag → flag → running-sum idiom); output
    * is one row per (user, session) with span and value totals. */
  def sessionize(spark: SparkSession, sfDir: String, gapMinutes: Int = 30): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(spark, sfDir)
      .withColumn("prev_ts", lag($"ts", 1).over(w))
      .withColumn("is_new_session",
        ($"prev_ts".isNull ||
          (unix_timestamp($"ts") - unix_timestamp($"prev_ts")) > gapMinutes * 60L).cast("int"))
      .withColumn("session_id",
        sum($"is_new_session").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"session_id")
      .agg(
        count(lit(1)).as("n_events"),
        min($"ts").as("session_start"),
        max($"ts").as("session_end"),
        (unix_timestamp(max($"ts")) - unix_timestamp(min($"ts"))).as("duration_sec"),
        graft.functions.Exact.sumExact($"value").as("total_value"))
      .orderBy($"user_id", $"session_id")
  }

  def sessionizeSql(gapMinutes: Int = 30): String =
    s"""WITH flagged AS (
       |  SELECT user_id, event_id, ts, value,
       |         -- floor(epoch()) matches Spark's unix_timestamp second
       |         -- truncation; raw epoch() is fractional for these
       |         -- microsecond timestamps and would flip gap decisions
       |         CASE WHEN lag(ts, 1) OVER w IS NULL
       |                OR CAST(floor(epoch(ts)) AS BIGINT)
       |                   - CAST(floor(epoch(lag(ts, 1) OVER w)) AS BIGINT) > $gapMinutes * 60
       |              THEN 1 ELSE 0 END AS is_new_session
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |sessions AS (
       |  SELECT user_id, ts, value,
       |         CAST(sum(is_new_session) OVER
       |           (PARTITION BY user_id ORDER BY ts, event_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
       |  FROM flagged)
       |SELECT user_id, session_id,
       |       COUNT(*) AS n_events,
       |       min(ts) AS session_start,
       |       max(ts) AS session_end,
       |       CAST(floor(epoch(max(ts))) AS BIGINT)
       |         - CAST(floor(epoch(min(ts))) AS BIGINT) AS duration_sec,
       |       ${graft.functions.Exact.sumExactSql("value")} AS total_value
       |FROM sessions
       |GROUP BY 1, 2
       |ORDER BY user_id, session_id""".stripMargin

  /** Time-series gap-fill + interpolation: a per-type hourly spine
    * (`sequence` from min to max observed hour), left-joined against the
    * observed hourly counts, with the two standard fills side by side —
    * zero-fill (`COALESCE`) and last-observation-carried-forward
    * (`last(..., ignoreNulls)` over an ordered running frame). The
    * missing-hour rows are real at every SF (sf0.001 is ~75% gaps).
    *
    * Scale: the only scan-sized shuffle is the hourly pre-aggregation;
    * the spine is (n_types × hours) rows — generated from a 1-row-per-type
    * aggregate, never from the raw scan — and the LOCF window partitions
    * by event_type over that bounded spine, not over raw events. */
  def gapFillHourly(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val hourly = Tables.events(spark, sfDir)
      .groupBy($"event_type", date_trunc("hour", $"ts").as("hr"))
      .agg(count(lit(1)).as("n_events"))
    val spine = hourly.groupBy($"event_type")
      .agg(min($"hr").as("h0"), max($"hr").as("h1"))
      .select($"event_type",
        explode(sequence($"h0", $"h1", expr("interval 1 hour"))).as("hr"))
    val w = Window.partitionBy($"event_type").orderBy($"hr")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(hourly, Seq("event_type", "hr"), "left")
      .withColumn("n_events_zerofill", coalesce($"n_events", lit(0L)))
      .withColumn("n_events_locf", last($"n_events", ignoreNulls = true).over(w))
      .withColumn("was_gap", $"n_events".isNull)
      .orderBy($"event_type", $"hr")
  }

  val gapFillHourlySql: String =
    """WITH hourly AS (
      |  SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*) AS n_events
      |  FROM events GROUP BY 1, 2),
      |spine AS (
      |  SELECT event_type,
      |         UNNEST(generate_series(MIN(hr), MAX(hr), INTERVAL 1 HOUR)) AS hr
      |  FROM hourly GROUP BY event_type)
      |SELECT s.event_type, s.hr,
      |       h.n_events,
      |       CAST(COALESCE(h.n_events, 0) AS BIGINT) AS n_events_zerofill,
      |       CAST(last_value(h.n_events IGNORE NULLS) OVER
      |            (PARTITION BY s.event_type ORDER BY s.hr
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |         AS n_events_locf,
      |       (h.n_events IS NULL) AS was_gap
      |FROM spine s LEFT JOIN hourly h ON s.event_type = h.event_type AND s.hr = h.hr
      |ORDER BY s.event_type, s.hr""".stripMargin

  /** Remaining ranking/navigation surface in one gated pass:
    * percent_rank, cume_dist, nth_value, first_value, lead-with-offset
    * — per-status partitions ordered with a unique tiebreaker so frame
    * contents (and thus every navigation answer) are engine-identical.
    * nth_value runs under the default cumulative frame in both engines:
    * null until the partition's 3rd row enters the frame. */
  def windowMisc(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_orderstatus")
      .orderBy($"o_totalprice", $"o_orderkey")
    Tables.orders(spark, sfDir)
      .select($"o_orderkey", $"o_orderstatus",
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cdist"),
        first_value($"o_orderkey").over(w).as("cheapest_key"),
        nth_value($"o_orderkey", 3).over(w).as("third_key"),
        lead($"o_orderkey", 2).over(w).as("lead2_key"))
      .orderBy($"o_orderkey")
  }

  val windowMiscSql: String =
    """SELECT o_orderkey, o_orderstatus,
      |       round(percent_rank() OVER w, 6) AS pct_rank,
      |       round(cume_dist() OVER w, 6) AS cdist,
      |       first_value(o_orderkey) OVER w AS cheapest_key,
      |       nth_value(o_orderkey, 3) OVER w AS third_key,
      |       lead(o_orderkey, 2) OVER w AS lead2_key
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderstatus
      |             ORDER BY o_totalprice, o_orderkey)
      |ORDER BY o_orderkey""".stripMargin
}
