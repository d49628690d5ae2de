package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Cross-engine-deterministic aggregates.
  *
  * Spark sums doubles in partition order (partial + final HashAggregate),
  * so a raw `sum(double)` differs from a sequential engine (the DuckDB
  * oracle, or the reference's Snowflake warehouse) in the last ulp and is
  * not even stable across Spark runs. Routing the aggregation through a
  * DECIMAL cast makes the sum exact and order-independent, then a final
  * cast back to DOUBLE is exact for |x| < 2^53. The same expression in
  * ANSI SQL (`CAST(SUM(CAST(x AS DECIMAL(27,6))) AS DOUBLE)`) is
  * bit-identical, which is what the driver's hash compare needs.
  *
  * The only Scala code that names the exact type (`GraftSessionSpec`
  * guards it): every Spark-side exact sum is [[sumDecimal]] or built on
  * it, so the aggregate can be swapped in one place.
  *
  * At 100 TB this costs one decimal widening per row in the partial
  * aggregate — still codegen'd, still map-side combined; it does not add
  * a shuffle or break WholeStageCodegen.
  */
object Exact {

  /** The exact measure: a double cast to DECIMAL(27,6) (HALF_UP at the
    * 6th digit; 21 integer digits, beyond which the ANSI cast fails). For
    * the places that name the measure rather than sum it. */
  def decimal(c: Column): Column = c.cast(DecimalType(27, 6))

  /** Order-independent SUM kept as a decimal: for partials that are
    * merged again (MV, salted, IVM), ranked before the double cast, or
    * windowed through `.over(w)`. */
  def sumDecimal(c: Column): Column = sum(decimal(c))

  /** Order-independent SUM of a double column, exact to 6 decimal places. */
  def sumExact(c: Column): Column = sumDecimal(c).cast("double")

  /** Order-independent AVG: exact decimal sum, one IEEE division at the end. */
  def avgExact(c: Column): Column = sumExact(c) / count(c)

  /** SQL text equivalents for the DuckDB oracle. */
  def sumExactSql(expr: String): String =
    s"CAST(SUM(CAST($expr AS DECIMAL(27,6))) AS DOUBLE)"

  def avgExactSql(expr: String): String =
    s"CAST(SUM(CAST($expr AS DECIMAL(27,6))) AS DOUBLE) / COUNT($expr)"
}
