package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-quality module — the reference's 32 declarative dbt tests,
  * reproduced check-for-check
  * (reference: scheduler_data/dbt_nyc_taxi/models/gold/schema.yml:1-107,
  * models/silver/schema.yml:1-43; README.md:101-123 "32 PASS").
  *
  * Inventory (matches the reference's schema.yml line by line):
  *  - silver staging: 7 not_null + 1 accepted_values            =  8
  *  - fct_trips: 8 not_null + 1 accepted_values + 4 relationships = 13
  *  - dim_date: date_sk / date_actual, each not_null + unique    =  4
  *  - dim_zone: zone_sk not_null + unique, locationid not_null   =  3
  *  - dim_payment_type: key not_null + unique                    =  2
  *  - dim_rate_code: key not_null + unique                       =  2
  * total 32 = 21 not_null, 5 unique, 4 relationships, 2 accepted_values
  * (counted directly from models/gold/schema.yml + models/silver/
  * schema.yml; an 18/8/4/2 split is sometimes quoted for this suite but
  * does not match the yml — e.g. only the five dim keys carry `unique`).
  * Note the reference deliberately has NO unique test on fct trip_id
  * ("may have duplicates for identical trips", gold/schema.yml:8) — the
  * engine's stronger invariant that OUR key construction is in fact
  * unique on the testdata lives in PipelineSpec, not in this suite.
  *
  * Each check family maps to a DataFrame pattern (SURVEY §2):
  *  - `not_null`           → conditional-sum over one scan
  *  - `unique` (A9)        → groupBy(key).count.filter(count > 1)
  *  - `relationships` (J5) → conditional-sum of `fk IS NOT NULL AND NOT
  *    resolves`, `resolves` an existence join fact→dim (broadcast)
  *  - `accepted_values` (A10) → conditional-sum (non-null, out-of-domain)
  *
  * The report is one row per check with its violation count — asserted
  * all-zero in ScalaTest, and exposed as an oracle-verified query
  * (violation *counts* are deterministic; violating *rows* may not be).
  *
  * Scale: all same-table checks share ONE scan via conditional
  * aggregation. Silver's 8 checks are one pass; the fact's 13 checks
  * ([[factChecks]]) are one pass over the materialized fact (parquet
  * prunes it to the 8 columns they touch), its 4 relationships broadcast
  * existence joins inside that pass — the fact is read once, with no
  * fact-sized shuffle.
  */
object Quality {

  /** `dbt test` CLI analog: print the report, exit non-zero if any
    * check has violations (README.md:119-123 — "32 PASS" run shape).
    * Usage: `runMain graft.operators.Quality <sfDir>` */
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.GraftSession.local(appName = "graft-quality")
    try {
      val rows = report(spark, sfDir).collect()
      rows.foreach { r =>
        val status = if (r.getLong(1) == 0L) "PASS" else "FAIL"
        println(f"$status%-5s ${r.getString(0)}%-45s violations=${r.getLong(1)}")
      }
      val failed = rows.count(_.getLong(1) > 0)
      println(s"${rows.length - failed} PASS / $failed FAIL")
      if (failed > 0) sys.exit(1)
    } finally spark.stop()
  }

  /** Batched same-table checks: every (name, violation-predicate) pair
    * becomes one conditional sum, all evaluated in a SINGLE scan, then
    * stacked to (check_name, violations) rows. `coalesce(..., 0)`:
    * a sum over an empty table is NULL, and an empty table has zero
    * violations, not unknown. */
  private def condChecks(df: DataFrame, checks: Seq[(String, Column)]): DataFrame = {
    val aggs = checks.zipWithIndex.map { case ((_, viol), i) =>
      coalesce(sum(when(viol, 1L).otherwise(0L)), lit(0L)).as(s"c$i")
    }
    df.select(aggs.toIndexedSeq: _*).selectExpr(
      s"stack(${checks.size}, " +
        checks.zipWithIndex.map { case ((n, _), i) => s"'$n', c$i" }.mkString(", ") +
        ") as (check_name, violations)")
  }

  /** The fact's 13 checks — 8 not_null, 1 accepted_values and the 4
    * relationships — in ONE pass over `fact`. Each FK projects a
    * boolean "resolves" column, an existence join against its dim key
    * (never a left join: a duplicated dim key cannot multiply fact
    * rows), counted as `fk IS NOT NULL AND NOT resolves`. A NULL FK is
    * the not_null test's violation, not a relationships one: dbt's
    * `relationships` test filters `where <fk> is not null`. */
  private[graft] def factChecks(fact: DataFrame, dimDate: DataFrame,
      dimZone: DataFrame): DataFrame = {
    // relationships ×4 (J5): both date SKs resolve in dim_date, both
    // zone SKs in dim_zone — the reference's exact same-dim-twice shape
    val fks = Seq(
      ("pickup_date_sk", dimDate, "date_sk"),
      ("dropoff_date_sk", dimDate, "date_sk"),
      ("pickup_zone_sk", dimZone, "zone_sk"),
      ("dropoff_zone_sk", dimZone, "zone_sk"))
    val nnCols = Seq("trip_id", "service_type", "pickup_date_sk",
      "dropoff_date_sk", "pickup_zone_sk", "dropoff_zone_sk",
      "quantity", "extended_price")
    val resolved = fks.foldLeft(fact) {
      case (df, (fk, dim, key)) => df.withColumn(s"${fk}_resolves",
        dim.select(col(key)).where(col(key) === col(fk).outer()).exists())
    }
    condChecks(resolved,
      nnCols.map(c => s"not_null_fct_$c" -> col(c).isNull) ++
        Seq("accepted_values_fct_service_type" ->
          !col("service_type").isin("yellow", "green")) ++
        fks.map { case (fk, _, _) =>
          s"relationships_fct_$fk" -> (col(fk).isNotNull && !col(s"${fk}_resolves"))
        })
  }

  /** One row per check: (check_name, violations) — 32 rows, sorted. */
  def report(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._

    def uniqueCheck(df: DataFrame, key: String, name: String): DataFrame =
      df.groupBy(col(key)).agg(count(lit(1)).as("n"))
        .filter($"n" > 1)
        .agg(coalesce(count(lit(1)), lit(0L)).as("violations"))
        .select(lit(name).as("check_name"), $"violations")

    // ---- silver staging: 7 not_null + 1 accepted_values, ONE pass ----
    val silver = Silver.build(spark, sfDir)
    val silverNnCols = Seq("service_type", "order_key", "line_number",
      "quantity", "extended_price", "tax", "ship_ts")
    val silverChecks = condChecks(silver,
      silverNnCols.map(c => s"not_null_silver_$c" -> col(c).isNull) :+
        // dbt accepted_values semantics: NULLs are not violations here
        // (they are the not_null test's job); isin is null-safe that way
        ("accepted_values_silver_service_type" ->
          !$"service_type".isin("yellow", "green")))

    val dimZone = GoldDims.dimZone(spark, sfDir)
    val dimDate = GoldDims.dimDate(spark)
    val dimPayment = GoldDims.dimPaymentType(spark)
    val dimRate = GoldDims.dimRateCode(spark)

    // the materialized fact (the fct_trips table a run published for
    // this corpus, else a scratch build), exactly how dbt test runs
    // against the model's table rather than re-deriving the join chain
    val fact = factChecks(GoldStage.fact(spark, sfDir), dimDate, dimZone)

    // ---- dims: not_null batched per dim (one tiny pass), unique ×5 ----
    val dimNn =
      condChecks(dimDate, Seq(
        "not_null_dim_date_date_sk" -> $"date_sk".isNull,
        "not_null_dim_date_date_actual" -> $"date_actual".isNull))
        .unionByName(condChecks(dimZone, Seq(
          "not_null_dim_zone_zone_sk" -> $"zone_sk".isNull,
          "not_null_dim_zone_locationid" -> $"locationid".isNull)))
        .unionByName(condChecks(dimPayment, Seq(
          "not_null_dim_payment_type_status_code" -> $"status_code".isNull)))
        .unionByName(condChecks(dimRate, Seq(
          "not_null_dim_rate_code_priority_code" -> $"priority_code".isNull)))

    val uniques =
      uniqueCheck(dimDate, "date_sk", "unique_dim_date_date_sk")
        .unionByName(uniqueCheck(dimDate, "date_actual", "unique_dim_date_date_actual"))
        .unionByName(uniqueCheck(dimZone, "zone_sk", "unique_dim_zone_zone_sk"))
        .unionByName(uniqueCheck(dimPayment, "status_code", "unique_dim_payment_type_status_code"))
        .unionByName(uniqueCheck(dimRate, "priority_code", "unique_dim_rate_code_priority_code"))

    silverChecks.select($"check_name", $"violations".cast("long"))
      .unionByName(fact.select($"check_name", $"violations".cast("long")))
      .unionByName(dimNn.select($"check_name", $"violations".cast("long")))
      .unionByName(uniques)
      .orderBy($"check_name")
  }

  // ---- oracle --------------------------------------------------------

  /** Strip a trailing top-level ORDER BY so a verified-query SQL can be
    * embedded as a CTE body. */
  private def noOrder(sql: String): String =
    sql.replaceAll("(?s)\nORDER BY [^\n]*$", "")

  private def nnSql(cte: String, table: String, c: String): String =
    s"""SELECT 'not_null_${table}_$c' AS check_name,
       |       CAST(coalesce(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS violations
       |FROM $cte""".stripMargin

  private def uqSql(cte: String, table: String, c: String): String =
    s"""SELECT 'unique_${table}_$c', CAST(count(*) AS BIGINT)
       |FROM (SELECT $c FROM $cte GROUP BY $c HAVING count(*) > 1)""".stripMargin

  private def accSql(cte: String, table: String, c: String): String =
    s"""SELECT 'accepted_values_${table}_$c',
       |       CAST(coalesce(sum(CASE WHEN $c NOT IN ('yellow','green') THEN 1 ELSE 0 END), 0) AS BIGINT)
       |FROM $cte""".stripMargin

  private def relSql(fk: String, dimCte: String, dimKey: String): String =
    s"""SELECT 'relationships_fct_$fk', CAST(count(*) AS BIGINT)
       |FROM q_fact WHERE $fk NOT IN (SELECT $dimKey FROM $dimCte)""".stripMargin

  /** The 32 checks in DuckDB SQL. The fact / silver / dim CTE bodies are
    * the SAME strings the individual verified queries use (embedded via
    * [[noOrder]]), so the check oracle can never drift from the model
    * oracles. */
  val reportSql: String = {
    val silverNn = Seq("service_type", "order_key", "line_number",
      "quantity", "extended_price", "tax", "ship_ts")
      .map(nnSql("q_silver", "silver", _))
    val factNn = Seq("trip_id", "service_type", "pickup_date_sk",
      "dropoff_date_sk", "pickup_zone_sk", "dropoff_zone_sk",
      "quantity", "extended_price")
      .map(nnSql("q_fact", "fct", _))
    val checks: Seq[String] =
      silverNn :+ accSql("q_silver", "silver", "service_type")
    val all: Seq[String] = checks ++ factNn ++ Seq(
      accSql("q_fact", "fct", "service_type"),
      relSql("pickup_date_sk", "q_date", "date_sk"),
      relSql("dropoff_date_sk", "q_date", "date_sk"),
      relSql("pickup_zone_sk", "q_zone", "zone_sk"),
      relSql("dropoff_zone_sk", "q_zone", "zone_sk"),
      nnSql("q_date", "dim_date", "date_sk"),
      nnSql("q_date", "dim_date", "date_actual"),
      nnSql("q_zone", "dim_zone", "zone_sk"),
      nnSql("q_zone", "dim_zone", "locationid"),
      nnSql("q_payment", "dim_payment_type", "status_code"),
      nnSql("q_rate", "dim_rate_code", "priority_code"),
      uqSql("q_date", "dim_date", "date_sk"),
      uqSql("q_date", "dim_date", "date_actual"),
      uqSql("q_zone", "dim_zone", "zone_sk"),
      uqSql("q_payment", "dim_payment_type", "status_code"),
      uqSql("q_rate", "dim_rate_code", "priority_code"))
    s"""WITH q_silver AS (${noOrder(Silver.silverUnionSql)}),
       |q_fact AS (${noOrder(GoldFact.fctTripsSql)}),
       |q_date AS (${noOrder(GoldDims.dimDateSql)}),
       |q_zone AS (${noOrder(GoldDims.dimZoneSql)}),
       |q_payment AS (${noOrder(GoldDims.dimPaymentTypeSql)}),
       |q_rate AS (${noOrder(GoldDims.dimRateCodeSql)})
       |SELECT check_name, violations FROM (
       |${all.mkString("\nUNION ALL\n")})
       |ORDER BY check_name""".stripMargin
  }
}
