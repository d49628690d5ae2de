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
  * guards it): every Spark-side exact sum is built here, so the
  * aggregate can be swapped in one place.
  *
  * The cast costs a `Double.toString` and a `BigDecimal` rounding per
  * row, so [[sumExact]] takes most rows on a long fast path instead,
  * built from built-in functions only (still codegen'd and map-side
  * combined). Let `y = x * 1e6` (one IEEE multiply) and call a row fast
  * when `|y| < 2^43` and `|y - floor(y) - 0.5| > 2^-8`. For a fast row
  * the cast's HALF_UP result, in millionths, is `u = floor(y + 0.5)`:
  *
  *  - `Double.toString(x)` parses back to `x`, so its decimal `s` is
  *    within `ulp(x)/2` of `x`, and `10^6 * ulp(x) < 2 ulp(y)`; with
  *    `y`'s own rounding, `|s * 10^6 - y| < 1.5 ulp(y) <= 1.5 * 2^-10`
  *    below 2^43, inside the 2^-8 margin. So `s * 10^6` and `y` lie on
  *    the same side of every half-integer and round to the same integer;
  *    no tie can be fast, so the rounding mode does not matter.
  *  - `y - floor(y) - 0.5` is exact, and `y + 0.5`, at most one ulp
  *    off, stays more than the margin from an integer.
  *
  * The fast `u` are summed as two longs (`u >> 21` and `u & (2^21 - 1)`,
  * exact below 2^41 rows). Every other non-null row (ties, `|x|` at or
  * above 2^43 / 10^6 ~ 8.8e6) goes through the cast, so it rounds,
  * overflows and fails exactly as the SQL text. The parts meet in one
  * decimal, the same value as the all-cast sum, so the double is the
  * same. NaN and +-Inf fail the sum with [[NonFinite]], as the oracle's
  * cast fails on them; Spark's own cast would turn them NULL (even
  * under ANSI), dropping the row from the sum while `count` still
  * counts it. [[sumDecimal]] keeps Spark's cast and so still drops them.
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

  /** The error a NaN or +-Inf row raises in [[sumExact]]. */
  val NonFinite = "Exact.sumExact: NaN or Infinity has no DECIMAL(27,6) value"

  private val loBits = 21
  private def millionths(c: Column): Column = c * lit(1e6)

  /** True where `decimal(c)`, in millionths, is `floor(c * 1e6 + 0.5)`
    * (see the proof above); never true for NULL, NaN and +-Inf. */
  private[graft] def fast(c: Column): Column = {
    val y = millionths(c)
    abs(y) < lit(math.pow(2, 43)) && abs(y - floor(y) - lit(0.5)) > lit(math.pow(2, -8))
  }

  /** Order-independent SUM of a double column, exact to 6 decimal places.
    * An expression over several aggregates: use it inside `agg`, and
    * [[sumDecimal]] for partials and windows. */
  def sumExact(c: Column): Column = {
    val isFast = fast(c)
    val u = floor(millionths(c) + lit(0.5))
    val hi = sum(when(isFast, shiftright(u, loBits)))
    val lo = sum(when(isFast, u.bitwiseAND(lit((1L << loBits) - 1))))
    val slow = sum(when(c.isNotNull && !isFast,
      when(isnan(c) || abs(c) === lit(Double.PositiveInfinity), raise_error(lit(NonFinite)))
        .otherwise(decimal(c))))
    // NULL exactly when the group has no fast row (hi and lo go together)
    val fastSum = (hi.cast(DecimalType(38, 0)) * lit(1L << loBits) + lo) *
      lit(new java.math.BigDecimal("0.000001"))
    coalesce(fastSum + coalesce(slow, lit(0)), slow)
      .cast(DecimalType(37, 6)).cast("double")
  }

  /** Order-independent AVG: exact decimal sum, one IEEE division at the end. */
  def avgExact(c: Column): Column = sumExact(c) / count(c)

  /** SQL text equivalents for the DuckDB oracle. */
  def sumExactSql(expr: String): String =
    s"CAST(SUM(CAST($expr AS DECIMAL(27,6))) AS DOUBLE)"

  def avgExactSql(expr: String): String =
    s"CAST(SUM(CAST($expr AS DECIMAL(27,6))) AS DOUBLE) / COUNT($expr)"
}
