package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.Exact
import graft.sources.Tables

/** Behavioral / product analytics over the events stream: ordered
  * conversion funnels, weekly cohort retention, and per-group top-k —
  * the classic event-warehouse queries a user of the reference's
  * analytics notebook layer (reference `analysis/analysis.ipynb`,
  * demand/revenue rollups) would reach for next. All exact and
  * DuckDB-oracle-gated.
  *
  * Scale notes:
  *  - Every stage keys on `user_id` — one shuffle per stage, state per
  *    user, never a global window.
  *  - The funnel frontier (users who reached stage N) shrinks
  *    monotonically; each later stage joins the frontier back to a
  *    TYPE-FILTERED scan (the filter reaches parquet, so stage inputs
  *    are ~1/5 of the table each, and the join key is the same
  *    user_id every time).
  *  - Retention's two aggregates (first-seen, distinct active weeks)
  *    share the user_id shuffle key; the (cohort, offset) rollup that
  *    follows is dimension-sized.
  */
object Behavioral {

  // ---- ordered conversion funnel: view -> click -> purchase --------

  /** Stage times per user with STRICT ordering: the first `click`
    * AFTER the user's first `view`, and the first `purchase` AFTER
    * that click. A purchase that precedes the view does not count —
    * this is the ordered-sequence semantic (min-per-type alone would
    * overcount), and it is what makes the funnel a 3-stage dependent
    * aggregation rather than one conditional groupBy. */
  private[graft] def funnelStages(events: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val v = events.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
    val c = events.filter(col("event_type") === "click")
      .join(v, "user_id")
      .filter(col("ts") > col("t_view"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
    val p = events.filter(col("event_type") === "purchase")
      .join(c, "user_id")
      .filter(col("ts") > col("t_click"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
    (v, c, p)
  }

  /** Funnel summary: users reaching each ordered stage. Counts are
    * computed in-plan (aggregate of each frontier, unioned) — one
    * job, no driver-side `count()` actions. */
  def funnel(spark: SparkSession, sfDir: String): DataFrame =
    funnelFrom(Tables.events(spark, sfDir))

  private[graft] def funnelFrom(events: DataFrame): DataFrame = {
    val (v, c, p) = funnelStages(events)
    def stage(df: DataFrame, idx: Int, name: String): DataFrame =
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(idx).as("stage_idx"), lit(name).as("stage"), col("n_users"))
    stage(v, 1, "view")
      .unionByName(stage(c, 2, "click"))
      .unionByName(stage(p, 3, "purchase"))
      .orderBy(col("stage_idx"))
  }

  val funnelSql: String =
    """WITH v AS (
      |  SELECT user_id, min(ts) AS t_view FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |c AS (
      |  SELECT e.user_id, min(e.ts) AS t_click
      |  FROM events e JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click' AND e.ts > v.t_view
      |  GROUP BY e.user_id),
      |p AS (
      |  SELECT e.user_id, min(e.ts) AS t_purchase
      |  FROM events e JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      |  GROUP BY e.user_id)
      |SELECT 1 AS stage_idx, 'view' AS stage, (SELECT count(*) FROM v) AS n_users
      |UNION ALL
      |SELECT 2, 'click', (SELECT count(*) FROM c)
      |UNION ALL
      |SELECT 3, 'purchase', (SELECT count(*) FROM p)
      |ORDER BY stage_idx""".stripMargin

  // ---- weekly cohort retention matrix ------------------------------

  /** Cohort = ISO week (Monday-truncated, both engines) of the user's
    * first event; a cell (cohort_week, week_offset) counts the cohort's
    * users active in that later week. Offsets are exact multiples of 7
    * days, so the integer division is exact in both engines. */
  def retention(spark: SparkSession, sfDir: String): DataFrame =
    retentionFrom(Tables.events(spark, sfDir))

  private[graft] def retentionFrom(events: DataFrame): DataFrame = {
    val cohorts = events.groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_ts"))
      .select(col("user_id"),
        date_trunc("week", col("first_ts")).cast("date").as("cohort_week"))
    val active = events
      .select(col("user_id"),
        date_trunc("week", col("ts")).cast("date").as("active_week"))
      .distinct()
    active.join(cohorts, "user_id")
      .withColumn("week_offset",
        (datediff(col("active_week"), col("cohort_week")) / 7).cast("int"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  val retentionSql: String =
    """WITH cohorts AS (
      |  SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
      |  FROM events GROUP BY user_id),
      |active AS (
      |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS active_week
      |  FROM events)
      |SELECT c.cohort_week,
      |       CAST(date_diff('day', c.cohort_week, a.active_week) / 7 AS INTEGER)
      |         AS week_offset,
      |       count(*) AS n_users
      |FROM active a JOIN cohorts c ON a.user_id = c.user_id
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  // ---- top-k per group ---------------------------------------------

  /** Top 3 users by total value within each event type — the grouped
    * top-k shape (aggregate, then rank within group). The sum is
    * decimal-routed so totals are accumulation-order independent, and
    * the rank order carries user_id as tiebreaker, so row_number is
    * deterministic.
    *
    * Scale: the heavy step is the (type, user) aggregate — full
    * map-side partial combine, one shuffle. The window then partitions
    * by type over ALREADY-AGGREGATED rows (one row per (type, user)),
    * so per-partition state is #users-per-type, not #events; with few
    * huge groups, swap the window for an aggregate top-k monoid
    * (fixed-size heap per group) — same contract, no per-group sort. */
  def topKPerGroup(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame =
    topKPerGroupFrom(Tables.events(spark, sfDir), k)

  private[graft] def topKPerGroupFrom(events: DataFrame, k: Int): DataFrame = {
    val totals = events.groupBy(col("event_type"), col("user_id"))
      .agg(Exact.sumDecimal(col("value")).as("total_value_dec"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("total_value_dec").desc, col("user_id"))
    totals.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("event_type"), col("rank"), col("user_id"),
        col("total_value_dec").cast("double").as("total_value"))
      .orderBy(col("event_type"), col("rank"))
  }

  /** The huge-group alternative promised above: a fixed-size top-k
    * AGGREGATE (bounded sorted buffer, k entries per partial) instead
    * of a per-group rank window. No per-group sort, no window state —
    * partials of size k merge associatively, so the heavy (type, user)
    * totals never need to be co-sorted, only co-grouped. Kept
    * differentially tested against the window form (BehavioralSpec);
    * at scale you pick this one when groups are few and enormous. */
  private class TopKByValue(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        (String, Long, String), Seq[(Long, String)], Seq[(Long, String)]] {
    // rank on the EXACT decimal (the window form's order) — a double
    // cast before ranking could collapse distinct totals into a tie
    // and swap top-k membership at the boundary. The total rides as
    // its STRING rendering: a BigDecimal-typed buffer would pass
    // through the encoder's default decimal(38,18) and silently null
    // out totals beyond 20 integer digits that decimal(27,6) allows.
    private def order(a: (Long, String), b: (Long, String)): Boolean = {
      val cmp = BigDecimal(a._2).compare(BigDecimal(b._2))
      cmp > 0 || (cmp == 0 && a._1 < b._1)
    }
    def zero: Seq[(Long, String)] = Seq.empty
    def reduce(buf: Seq[(Long, String)], row: (String, Long, String)): Seq[(Long, String)] =
      ((row._2, row._3) +: buf).sortWith(order).take(k)
    def merge(a: Seq[(Long, String)], b: Seq[(Long, String)]): Seq[(Long, String)] =
      (a ++ b).sortWith(order).take(k)
    def finish(buf: Seq[(Long, String)]): Seq[(Long, String)] = buf
    def bufferEncoder: org.apache.spark.sql.Encoder[Seq[(Long, String)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Long, String)]]()
    def outputEncoder: org.apache.spark.sql.Encoder[Seq[(Long, String)]] =
      bufferEncoder
  }

  private[graft] def topKPerGroupHeapFrom(events: DataFrame, k: Int): DataFrame = {
    import events.sparkSession.implicits._
    val totals = events.groupBy(col("event_type"), col("user_id"))
      .agg(Exact.sumDecimal(col("value")).cast("string").as("total_value_dec"))
      .as[(String, Long, String)]
    val agg = new TopKByValue(k)
    totals.groupByKey(_._1)
      .agg(agg.toColumn.name("top"))
      .toDF("event_type", "top")
      .select(col("event_type"), posexplode(col("top")).as(Seq("pos", "entry")))
      .select(col("event_type"), (col("pos") + 1).cast("int").as("rank"),
        col("entry._1").as("user_id"),
        col("entry._2").cast("double").as("total_value"))
      .orderBy(col("event_type"), col("rank"))
  }

  /** Gated entry for the heap aggregate — SAME oracle as
    * q_topk_per_group, pinning drop-in equivalence of the two physical
    * strategies (window sort vs bounded-buffer aggregate). */
  def topKPerGroupHeap(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame =
    topKPerGroupHeapFrom(Tables.events(spark, sfDir), k)

  // ---- marketing attribution: first-touch / last-touch -------------

  /** For every purchase, the user's FIRST and MOST RECENT prior click
    * — the two classic attribution models, computed in one pass with
    * conditional struct-extrema windows (min/max of (ts, event_id)
    * structs over the preceding-rows frame: the struct carries the
    * tiebreaker, so both models are deterministic under equal
    * timestamps; no self-join, no per-model scan).
    *
    * Scale: one user_id shuffle, one ordered walk per user; state is
    * two structs per partition row. The stream-stream attribution join
    * ([[graft.streaming.EventsStream]]) is this operator's unbounded
    * twin with a bounded time horizon. */
  def attribution(spark: SparkSession, sfDir: String): DataFrame =
    attributionFrom(Tables.events(spark, sfDir))

  private[graft] def attributionFrom(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val clickTag = when(col("event_type") === "click",
      struct(col("ts"), col("event_id")))
    events
      .withColumn("first_click", min(clickTag).over(w))
      .withColumn("last_click", max(clickTag).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        col("first_click.event_id").as("first_click_id"),
        col("last_click.event_id").as("last_click_id"))
      .orderBy(col("event_id"))
  }

  val attributionSql: String =
    """WITH tagged AS (
      |  SELECT event_id, user_id, event_type,
      |         min(CASE WHEN event_type = 'click' THEN {'ts': ts, 'eid': event_id} END)
      |           OVER w AS first_click,
      |         max(CASE WHEN event_type = 'click' THEN {'ts': ts, 'eid': event_id} END)
      |           OVER w AS last_click
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
      |SELECT event_id, user_id,
      |       first_click.eid AS first_click_id,
      |       last_click.eid AS last_click_id
      |FROM tagged
      |WHERE event_type = 'purchase'
      |ORDER BY event_id""".stripMargin

  // ---- A/B test report ---------------------------------------------

  /** Deterministic A/B analysis: users hash into variants (the
    * [[graft.functions.Sampling]] bucket discipline — assignment is a
    * pure function of the user, stable under corpus changes), purchase
    * values compared via exact decimal moments, and Welch's
    * t-statistic as one fixed-order double expression. Everything a
    * rerun must reproduce bit-for-bit does. */
  def abTest(spark: SparkSession, sfDir: String, salt: String = "ab_v1"): DataFrame = {
    val events = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .withColumn("variant",
        when(graft.functions.Sampling.bucket(col("user_id"), salt) % 2 === 0, "A")
          .otherwise("B"))
    // ONE conditional aggregation — filtering a shared aggregate twice
    // and cross-joining would re-run the scan+groupBy per variant
    def side(v: String) = (
      sum(when(col("variant") === v, 1L).otherwise(0L)),
      Exact.sumDecimal(when(col("variant") === v, col("value"))),
      Exact.sumDecimal(when(col("variant") === v, col("value") * col("value"))))
    val (na, s1a, s2a) = side("A")
    val (nb, s1b, s2b) = side("B")
    val m = events.agg(
      na.as("n_a"), s1a.as("s1_a"), s2a.as("s2_a"),
      nb.as("n_b"), s1b.as("s1_b"), s2b.as("s2_b"))
    m.select(col("n_a"), col("n_b"),
        (col("s1_a").cast("double") / col("n_a")).as("mean_a"),
        (col("s1_b").cast("double") / col("n_b")).as("mean_b"),
        ((col("s2_a").cast("double") - col("s1_a").cast("double") * col("s1_a").cast("double") / col("n_a"))
          / (col("n_a") - 1)).as("var_a"),
        ((col("s2_b").cast("double") - col("s1_b").cast("double") * col("s1_b").cast("double") / col("n_b"))
          / (col("n_b") - 1)).as("var_b"))
      .select(col("n_a"), col("n_b"),
        round(col("mean_a"), 6).as("mean_a"), round(col("mean_b"), 6).as("mean_b"),
        round((col("mean_a") - col("mean_b"))
          / sqrt(col("var_a") / col("n_a") + col("var_b") / col("n_b")), 6)
          .as("t_stat"))
      // an empty variant has no comparison to report — zero rows, which
      // is also what the oracle's two-subquery cross join produces
      .filter(col("n_a") > 0 && col("n_b") > 0)
  }

  def abTestSql(salt: String = "ab_v1"): String = {
    val bucket = graft.functions.Sampling.bucketSql("user_id", salt)
    s"""WITH p AS (
      |  SELECT user_id, value,
      |         CASE WHEN ($bucket) % 2 = 0 THEN 'A' ELSE 'B' END AS variant
      |  FROM events WHERE event_type = 'purchase'),
      |m AS (
      |  SELECT variant, count(*) AS n,
      |         CAST(sum(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS s1d,
      |         CAST(sum(CAST(value * value AS DECIMAL(27,6))) AS DOUBLE) AS s2d
      |  FROM p GROUP BY 1),
      |mm AS (
      |  SELECT variant, n, s1d / n AS mean,
      |         (s2d - s1d * s1d / n) / (n - 1) AS variance
      |  FROM m)
      |SELECT a.n AS n_a, b.n AS n_b,
      |       round(a.mean, 6) AS mean_a, round(b.mean, 6) AS mean_b,
      |       round((a.mean - b.mean)
      |         / sqrt(a.variance / a.n + b.variance / b.n), 6) AS t_stat
      |FROM (SELECT * FROM mm WHERE variant = 'A') a,
      |     (SELECT * FROM mm WHERE variant = 'B') b""".stripMargin
  }

  val topKPerGroupSql: String =
    """WITH totals AS (
      |  SELECT event_type, user_id,
      |         sum(CAST(value AS DECIMAL(27,6))) AS total_value_dec
      |  FROM events GROUP BY 1, 2),
      |ranked AS (
      |  SELECT event_type, user_id, total_value_dec,
      |         CAST(row_number() OVER (PARTITION BY event_type
      |              ORDER BY total_value_dec DESC, user_id) AS INTEGER) AS rank
      |  FROM totals)
      |SELECT event_type, rank, user_id,
      |       CAST(total_value_dec AS DOUBLE) AS total_value
      |FROM ranked WHERE rank <= 3
      |ORDER BY event_type, rank""".stripMargin
}
