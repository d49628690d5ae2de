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
  * The catalogue ([[catalogue]]) declares every check once, as a
  * schema.yml block per model: the model, the label its check names
  * carry and its checks. A check's name is `<kind>_<label>_<col>`.
  * [[report]] and [[reportSql]] both fold it, so a check cannot exist
  * on one side only. The oracle reads each model's one SQL body,
  * compiled once for all six ([[PipelineRunner.compile]]).
  *
  * Each check family maps to a DataFrame pattern (SURVEY §2):
  *  - `not_null`           → conditional-sum over one scan
  *  - `unique` (A9)        → groupBy(key).count.filter(count > 1)
  *  - `relationships` (J5) → conditional-sum of `fk IS NOT NULL AND NOT
  *    resolves`, `resolves` an existence join to the target model
  *  - `accepted_values` (A10) → conditional-sum (non-null, out-of-domain)
  *
  * The report is one row per check with its violation count — asserted
  * all-zero in ScalaTest, and exposed as an oracle-verified query
  * (violation *counts* are deterministic; violating *rows* may not be).
  *
  * `dbt test` runs against the models' tables: the report reads each
  * model through [[PipelineRunner.table]], the table a run published or
  * else a scratch build, never a re-derived plan. Per model, every
  * not_null, accepted_values and relationships check is one conditional
  * sum in ONE scan (parquet prunes the fact to the 8 columns its 13
  * checks touch; its 4 relationships are existence joins inside that
  * pass, so the fact is read once, with no fact-sized shuffle), and each
  * unique check is one grouped query.
  */
object Quality {

  /** A dbt schema test on one column of a model. */
  sealed trait Check {
    def col: String
    /** The dbt test name, the first part of the check's name. */
    def kind: String
  }
  case class NotNull(col: String) extends Check { def kind = "not_null" }
  case class Unique(col: String) extends Check { def kind = "unique" }
  case class AcceptedValues(col: String, values: Seq[String]) extends Check {
    def kind = "accepted_values"
  }
  /** dbt `relationships`: every non-NULL `col` is some `toKey` of
    * `toModel` (the test filters `where <col> is not null`, so a NULL
    * FK is the not_null test's violation). */
  case class Relationship(col: String, toModel: String, toKey: String) extends Check {
    def kind = "relationships"
  }

  /** One model's schema.yml block: its checks, named by `label`. */
  case class ModelChecks(model: String, label: String, checks: Seq[Check]) {
    def name(c: Check): String = s"${c.kind}_${label}_${c.col}"
  }

  private val serviceTypes = Seq("yellow", "green")

  /** The reference's 32 tests (models/silver/schema.yml,
    * models/gold/schema.yml), one block per model. */
  val catalogue: Seq[ModelChecks] = Seq(
    ModelChecks("stg_trips_unified", "silver",
      Seq("service_type", "order_key", "line_number", "quantity",
        "extended_price", "tax", "ship_ts").map(NotNull) :+
        AcceptedValues("service_type", serviceTypes)),
    ModelChecks("fct_trips", "fct",
      Seq("trip_id", "service_type", "pickup_date_sk", "dropoff_date_sk",
        "pickup_zone_sk", "dropoff_zone_sk", "quantity", "extended_price").map(NotNull) ++
        Seq(AcceptedValues("service_type", serviceTypes),
          // the reference's same-dim-twice shape
          Relationship("pickup_date_sk", "dim_date", "date_sk"),
          Relationship("dropoff_date_sk", "dim_date", "date_sk"),
          Relationship("pickup_zone_sk", "dim_zone", "zone_sk"),
          Relationship("dropoff_zone_sk", "dim_zone", "zone_sk"))),
    ModelChecks("dim_date", "dim_date", Seq(
      NotNull("date_sk"), NotNull("date_actual"), Unique("date_sk"), Unique("date_actual"))),
    ModelChecks("dim_zone", "dim_zone", Seq(
      NotNull("zone_sk"), NotNull("locationid"), Unique("zone_sk"))),
    ModelChecks("dim_payment_type", "dim_payment_type", Seq(
      NotNull("status_code"), Unique("status_code"))),
    ModelChecks("dim_rate_code", "dim_rate_code", Seq(
      NotNull("priority_code"), Unique("priority_code"))))

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

  /** dbt `unique`: the number of `key` values carried by more than one row. */
  private def uniqueCheck(df: DataFrame, key: String, name: String): DataFrame =
    df.groupBy(col(key)).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .agg(count(lit(1)).as("violations"))
      .select(lit(name).as("check_name"), col("violations"))

  /** One model's checks, (check_name, violations) rows, over the frames
    * `table` names: the model's own, and for a relationship its target.
    * The not_null, accepted_values and relationships checks share ONE
    * pass over the model; each relationship projects a boolean
    * "resolves" column, an existence join against the target key (never
    * a left join: a duplicated target key cannot multiply rows). Each
    * unique check is one grouped query. */
  private[graft] def checks(m: ModelChecks, table: String => DataFrame): DataFrame = {
    val t = table(m.model)
    val resolved = m.checks.foldLeft(t) {
      case (df, Relationship(fk, to, key)) => df.withColumn(s"${fk}_resolves",
        table(to).select(col(key)).where(col(key) === col(fk).outer()).exists())
      case (df, _) => df
    }
    val conds = m.checks.collect {
      case c @ NotNull(k) => m.name(c) -> col(k).isNull
      // NULLs are the not_null test's job: isin is null-safe that way
      case c @ AcceptedValues(k, vs) => m.name(c) -> !col(k).isin(vs: _*)
      case c @ Relationship(k, _, _) => m.name(c) -> (col(k).isNotNull && !col(s"${k}_resolves"))
    }
    m.checks.collect { case c @ Unique(k) => uniqueCheck(t, k, m.name(c)) }
      .foldLeft(condChecks(resolved, conds))(_ unionByName _)
  }

  /** One row per check: (check_name, violations) — 32 rows, sorted —
    * over the models' tables ([[PipelineRunner.table]]). */
  def report(spark: SparkSession, sfDir: String): DataFrame = {
    val tables = catalogue.map(m => m.model -> PipelineRunner.table(spark, sfDir, m.model)).toMap
    catalogue.map(checks(_, tables)).reduce(_ unionByName _).orderBy(col("check_name"))
  }

  // ---- oracle: each check over its model's CTE ----------------------

  private def nnSql(model: String, name: String, c: String): String =
    s"""SELECT '$name' AS check_name,
       |       CAST(coalesce(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS violations
       |FROM $model""".stripMargin

  private def uqSql(model: String, name: String, c: String): String =
    s"""SELECT '$name', CAST(count(*) AS BIGINT)
       |FROM (SELECT $c FROM $model GROUP BY $c HAVING count(*) > 1)""".stripMargin

  private def accSql(model: String, name: String, c: String, values: Seq[String]): String = {
    val in = values.map(v => s"'$v'").mkString(",")
    s"""SELECT '$name',
       |       CAST(coalesce(sum(CASE WHEN $c NOT IN ($in) THEN 1 ELSE 0 END), 0) AS BIGINT)
       |FROM $model""".stripMargin
  }

  private def relSql(model: String, name: String, fk: String, to: String, toKey: String): String =
    s"""SELECT '$name', CAST(count(*) AS BIGINT)
       |FROM $model WHERE $fk NOT IN (SELECT $toKey FROM $to)""".stripMargin

  /** The 32 checks in DuckDB SQL, rendered from [[catalogue]] over the
    * six models compiled once ([[PipelineRunner.compile]]): each model's
    * CTE is the body its own oracle compiles, so the check oracle cannot
    * drift from the model oracles. */
  val reportSql: String = {
    val all = catalogue.flatMap { m =>
      m.checks.map {
        case c @ NotNull(k) => nnSql(m.model, m.name(c), k)
        case c @ Unique(k) => uqSql(m.model, m.name(c), k)
        case c @ AcceptedValues(k, vs) => accSql(m.model, m.name(c), k, vs)
        case c @ Relationship(k, to, key) => relSql(m.model, m.name(c), k, to, key)
      }
    }
    PipelineRunner.compile(catalogue.map(_.model),
      s"""SELECT check_name, violations FROM (
         |${all.mkString("\nUNION ALL\n")})
         |ORDER BY check_name""".stripMargin)
  }
}
