package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Gold dimensions — the reference's star-schema dim models
  * (reference: scheduler_data/dbt_nyc_taxi/models/gold/dim_date.sql,
  * dim_zone.sql, dim_payment_type.sql, dim_rate_code.sql).
  *
  * Operators covered (SURVEY §2): G1 generated date spine (no recursion —
  * `sequence` + `explode` replaces Snowflake's WITH RECURSIVE),
  * G2 VALUES inline dims, W1/W2 `row_number` surrogate keys,
  * F5/F8/F9/F13 date parts & formatting, F10/F16 string cleaning and
  * CASE decodes, U2 synthetic unknown-row union.
  *
  * Scale: every dim here is broadcast-sized (thousands of rows max).
  * The unpartitioned `row_number` window is safe ONLY at dim scale —
  * it funnels through one partition by construction and must never be
  * applied to a fact (dim_date.sql:17 has the same property: 4,018 rows).
  */
object GoldDims {

  /** Cross-engine day-of-week: ISO numbering, Monday=1..Sunday=7.
    * Spark `dayofweek` is Sunday=1 and DuckDB's is Sunday=0 (the F5
    * hazard) — `weekday()` (Monday=0) + 1 equals DuckDB `isodow`. */
  private def isoDow(c: org.apache.spark.sql.Column) = weekday(c) + lit(1)

  /** G1/W1: date spine 1995-01-01..2001-12-31 (testdata date range;
    * reference spine is 2015..2025, dim_date.sql:6-12) with surrogate
    * keys and calendar attributes. */
  def dimDate(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val spine = spark.sql(
      """SELECT explode(sequence(to_date('1995-01-01'), to_date('2001-12-31'),
        |                        interval 1 day)) AS date_actual""".stripMargin)
    spine
      .withColumn("date_sk", row_number().over(Window.orderBy($"date_actual")))
      .withColumn("year", year($"date_actual"))
      .withColumn("month", month($"date_actual"))
      .withColumn("day", dayofmonth($"date_actual"))
      .withColumn("quarter", quarter($"date_actual"))
      .withColumn("week_of_year", weekofyear($"date_actual"))
      .withColumn("day_of_week", isoDow($"date_actual"))
      .withColumn("date_str", date_format($"date_actual", "yyyy-MM-dd"))
      // F9: TO_CHAR name formats — 'EEEE'/'MMMM' ↔ strftime %A/%B (both
      // English; Snowflake's 9-char blank padding is NOT replicated —
      // trimmed names chosen and encoded in the oracle)
      .withColumn("day_name", date_format($"date_actual", "EEEE"))
      .withColumn("month_name", date_format($"date_actual", "MMMM"))
      .withColumn("is_weekend", isoDow($"date_actual") >= 6)
      .withColumn("fiscal_quarter",
        concat(lit("Q"), quarter($"date_actual").cast("string")))
      .select("date_sk", "date_actual", "year", "month", "day", "quarter",
        "week_of_year", "day_of_week", "date_str", "day_name", "month_name",
        "is_weekend", "fiscal_quarter")
  }

  private[operators] val dimDateBody: String =
    """SELECT CAST(row_number() OVER (ORDER BY date_actual) AS INTEGER) AS date_sk,
      |       date_actual,
      |       CAST(year(date_actual) AS INTEGER) AS year,
      |       CAST(month(date_actual) AS INTEGER) AS month,
      |       CAST(day(date_actual) AS INTEGER) AS day,
      |       CAST(quarter(date_actual) AS INTEGER) AS quarter,
      |       CAST(weekofyear(date_actual) AS INTEGER) AS week_of_year,
      |       CAST(isodow(date_actual) AS INTEGER) AS day_of_week,
      |       strftime(date_actual, '%Y-%m-%d') AS date_str,
      |       strftime(date_actual, '%A') AS day_name,
      |       strftime(date_actual, '%B') AS month_name,
      |       isodow(date_actual) >= 6 AS is_weekend,
      |       'Q' || CAST(quarter(date_actual) AS VARCHAR) AS fiscal_quarter
      |FROM (SELECT CAST(generate_series AS DATE) AS date_actual
      |      FROM generate_series(DATE '1995-01-01', DATE '2001-12-31', INTERVAL 1 DAY))""".stripMargin

  val dimDateSql: String = dimDateBody + "\nORDER BY date_sk"

  /** W2/F10/F16/U2: zone dimension from nation ⨝ region — string
    * cleaning (trim/replace/upper/LIKE), CASE decodes, row_number SK,
    * then union with the synthetic Unknown row (sk 0, locationid -1;
    * dim_zone.sql:59-76). region is broadcast (5 rows). */
  def dimZone(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val nat = graft.sources.Tables.nation(spark, sfDir)
    val reg = graft.sources.Tables.region(spark, sfDir)
    val zones = nat
      // P5: null-key filter before SK assignment (dim_zone.sql:56)
      .filter($"n_nationkey".isNotNull)
      .join(broadcast(reg), $"n_regionkey" === $"r_regionkey")
      .select(
        $"n_nationkey".as("locationid"),
        regexp_replace(trim($"n_name"), "_", " ").as("zone_name"),
        // F16 CASE-as-decode: region code → display borough
        when($"r_name" === "AFRICA", "Africa")
          .when($"r_name" === "AMERICA", "America")
          .when($"r_name" === "ASIA", "Asia")
          .when($"r_name" === "EUROPE", "Europe")
          .when($"r_name" === "MIDDLE EAST", "Middle East")
          .otherwise("Unknown").as("borough"),
        when($"r_regionkey".isin(0, 1), "Yellow Zone")
          .when($"r_regionkey".isin(2, 3), "Green Zone")
          .otherwise("Boro Zone").as("service_zone"))
      .withColumn("is_hub", upper($"zone_name").like("%1%"))
      .withColumn("zone_sk", row_number().over(Window.orderBy($"locationid")))
    val unknown = spark.sql(
      """SELECT 0 AS zone_sk, -1 AS locationid, 'Unknown' AS zone_name,
        |'Unknown' AS borough, 'Unknown' AS service_zone,
        |CAST(false AS BOOLEAN) AS is_hub""".stripMargin)
    zones.select("zone_sk", "locationid", "zone_name", "borough",
        "service_zone", "is_hub")
      .unionByName(unknown)
      .orderBy($"zone_sk")
  }

  private[operators] val dimZoneBody: String =
    """WITH zones AS (
      |  SELECT CAST(row_number() OVER (ORDER BY n_nationkey) AS INTEGER) AS zone_sk,
      |         n_nationkey AS locationid,
      |         replace(trim(n_name), '_', ' ') AS zone_name,
      |         CASE r_name WHEN 'AFRICA' THEN 'Africa' WHEN 'AMERICA' THEN 'America'
      |              WHEN 'ASIA' THEN 'Asia' WHEN 'EUROPE' THEN 'Europe'
      |              WHEN 'MIDDLE EAST' THEN 'Middle East' ELSE 'Unknown' END AS borough,
      |         CASE WHEN r_regionkey IN (0,1) THEN 'Yellow Zone'
      |              WHEN r_regionkey IN (2,3) THEN 'Green Zone'
      |              ELSE 'Boro Zone' END AS service_zone,
      |         upper(replace(trim(n_name), '_', ' ')) LIKE '%1%' AS is_hub
      |  FROM nation JOIN region ON n_regionkey = r_regionkey)
      |SELECT * FROM zones
      |UNION ALL
      |SELECT 0, -1, 'Unknown', 'Unknown', 'Unknown', false""".stripMargin

  val dimZoneSql: String = dimZoneBody + "\nORDER BY zone_sk"

  /** G2: VALUES inline dim — order-status decode
    * (dim_payment_type.sql:29-32 analog: 7 literal rows). */
  def dimPaymentType(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("O", "Open", true, false),
      ("F", "Fulfilled", true, false),
      ("P", "Pending", true, true),
      ("-", "Unknown", false, false))
      .toDF("status_code", "status_desc", "is_valid", "needs_review")
      .orderBy($"status_code")
  }

  private[operators] val dimPaymentTypeBody: String =
    """SELECT * FROM (VALUES
      |  ('O', 'Open', true, false),
      |  ('F', 'Fulfilled', true, false),
      |  ('P', 'Pending', true, true),
      |  ('-', 'Unknown', false, false))
      |  t(status_code, status_desc, is_valid, needs_review)""".stripMargin

  val dimPaymentTypeSql: String = dimPaymentTypeBody + "\nORDER BY status_code"

  /** G2: VALUES inline dim — order-priority decode
    * (dim_rate_code.sql:12-21 analog). */
  def dimRateCode(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("1-URGENT", "Urgent priority", true, false),
      ("2-HIGH", "High priority", true, false),
      ("3-MEDIUM", "Medium priority", false, false),
      ("4-NOT SPECIFIED", "Unspecified priority", false, true),
      ("5-LOW", "Low priority", false, false),
      ("-1", "Unknown", false, true))
      .toDF("priority_code", "priority_desc", "is_expedited", "needs_review")
      .orderBy($"priority_code")
  }

  private[operators] val dimRateCodeBody: String =
    """SELECT * FROM (VALUES
      |  ('1-URGENT', 'Urgent priority', true, false),
      |  ('2-HIGH', 'High priority', true, false),
      |  ('3-MEDIUM', 'Medium priority', false, false),
      |  ('4-NOT SPECIFIED', 'Unspecified priority', false, true),
      |  ('5-LOW', 'Low priority', false, false),
      |  ('-1', 'Unknown', false, true))
      |  t(priority_code, priority_desc, is_expedited, needs_review)""".stripMargin

  val dimRateCodeSql: String = dimRateCodeBody + "\nORDER BY priority_code"
}
