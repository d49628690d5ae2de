package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Silver stage — the reference's `stg_trips_unified` model
  * (reference: scheduler_data/dbt_nyc_taxi/models/silver/stg_trips_unified.sql):
  * two raw branches with divergent schemas are rename-standardized (P1),
  * literal/NULL-padded to a common shape (P2), quality-filtered (P3) and
  * UNION ALL'd (U1 — `unionByName`, never positional union).
  *
  * Testdata analog (FIXTURES.md §3): lineitem split on l_linestatus
  * ('O' → "yellow" service, 'F' → "green"); each branch first gets
  * branch-prefixed raw column names (the tpep_/lpep_ divergence analog,
  * stg_trips_unified.sql:12-13,56-57) and is then standardized back.
  *
  * Scale: the whole stage is narrow (project/filter/union — no shuffle);
  * filters sit directly on the scan so parquet pushdown applies, and the
  * union is a zero-cost logical concat of the two branch plans.
  */
object Silver {

  private val stdCols = Seq("service_type", "order_key", "line_number",
    "part_key", "supp_key", "quantity", "extended_price", "discount",
    "tax", "return_flag", "ship_ts", "ehail_fee", "airport_fee")

  /** Branch with raw, service-specific column names (`y_*` / `g_*`) —
    * models the two distinct raw tables of the reference. */
  private def rawBranch(li: DataFrame, statusFlag: String, prefix: String): DataFrame = {
    val pruned = li.filter(col("l_linestatus") === statusFlag).drop("l_linestatus")
    pruned.toDF(pruned.columns.map(c => prefix + c.stripPrefix("l_")).toIndexedSeq: _*)
  }

  /** P1 rename-projection + P2 literal/null padding for one branch. */
  private def standardize(raw: DataFrame, prefix: String, service: String,
      nullCol: String, keptCol: String): DataFrame = {
    val base = raw.select(
      lit(service).as("service_type"),
      col(s"${prefix}orderkey").as("order_key"),
      col(s"${prefix}linenumber").as("line_number"),
      col(s"${prefix}partkey").as("part_key"),
      col(s"${prefix}suppkey").as("supp_key"),
      col(s"${prefix}quantity").as("quantity"),
      col(s"${prefix}extendedprice").as("extended_price"),
      col(s"${prefix}discount").as("discount"),
      col(s"${prefix}tax").as("tax"),
      col(s"${prefix}returnflag").as("return_flag"),
      col(s"${prefix}shipdate").as("ship_ts"))
    // NULL-typed padding needs the explicit cast for unionByName
    // (stg_trips_unified.sql:36,77 — NULL AS ehail_fee / airport_fee)
    base
      .withColumn(nullCol, lit(null).cast("double"))
      .withColumn(keptCol, (col("tax") * lit(0.5)).cast("double"))
      .select(stdCols.map(col).toIndexedSeq: _*)
  }

  /** The unified silver table: rename → pad → quality-filter → union. */
  def build(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val yellow = standardize(rawBranch(li, "O", "y_"), "y_", "yellow",
      nullCol = "ehail_fee", keptCol = "airport_fee")
    val green = standardize(rawBranch(li, "F", "g_"), "g_", "green",
      nullCol = "airport_fee", keptCol = "ehail_fee")
    yellow.unionByName(green)
      .filter(col("ship_ts").isNotNull &&
        col("quantity") >= 0 && col("extended_price") >= 0 && col("tax") >= 0)
  }

  /** Verified query: the full silver relation, total-ordered. */
  def silverUnion(spark: SparkSession, sfDir: String): DataFrame =
    build(spark, sfDir)
      .orderBy(col("service_type"), col("order_key"), col("line_number"))

  private[operators] val silverBody: String =
    """WITH yellow AS (
      |  SELECT 'yellow' AS service_type, l_orderkey AS order_key,
      |         l_linenumber AS line_number, l_partkey AS part_key,
      |         l_suppkey AS supp_key, l_quantity AS quantity,
      |         l_extendedprice AS extended_price, l_discount AS discount,
      |         l_tax AS tax, l_returnflag AS return_flag,
      |         l_shipdate AS ship_ts,
      |         CAST(NULL AS DOUBLE) AS ehail_fee,
      |         CAST(l_tax * 0.5 AS DOUBLE) AS airport_fee
      |  FROM lineitem WHERE l_linestatus = 'O'),
      |green AS (
      |  SELECT 'green' AS service_type, l_orderkey AS order_key,
      |         l_linenumber AS line_number, l_partkey AS part_key,
      |         l_suppkey AS supp_key, l_quantity AS quantity,
      |         l_extendedprice AS extended_price, l_discount AS discount,
      |         l_tax AS tax, l_returnflag AS return_flag,
      |         l_shipdate AS ship_ts,
      |         CAST(l_tax * 0.5 AS DOUBLE) AS ehail_fee,
      |         CAST(NULL AS DOUBLE) AS airport_fee
      |  FROM lineitem WHERE l_linestatus = 'F')
      |SELECT * FROM (SELECT * FROM yellow UNION ALL SELECT * FROM green)
      |WHERE ship_ts IS NOT NULL AND quantity >= 0
      |  AND extended_price >= 0 AND tax >= 0""".stripMargin

  val silverUnionSql: String = silverBody + "\nORDER BY service_type, order_key, line_number"
}
