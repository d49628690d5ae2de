package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities for hot keys.
  *
  * AQE's skew-join splitting handles most cases at runtime
  * (`spark.sql.adaptive.skewJoin.enabled`); these are the explicit
  * tools for the two shapes AQE does not cover:
  *
  *  - [[saltedAggregate]]: two-phase aggregation when a handful of
  *    grouping keys dominate (one reducer receives a large share of all
  *    rows). Phase 1 aggregates on (key, salt) — the hot key's rows
  *    spread over `salts` reducers — phase 2 merges the partials.
  *    Works for any algebraic aggregate (sum/count/min/max here).
  *  - [[saltedJoinKeys]]: explode the small side × salts, salt the big
  *    side's key, equi-join on (key, salt) — classic broadcast-defeating
  *    hot-key join repair when the small side is too big to broadcast.
  */
object Skew {

  /** Deterministic salt in [0, salts) derived from stable row content —
    * NOT random: reproducible across retries/engines. */
  def salt(on: Column, salts: Int): Column = pmod(xxhash64(on), lit(salts))

  /** Two-phase sum/count aggregation over a skew-prone key.
    * Result is identical to `df.groupBy(key).agg(sum, count)` — decimal
    * partials make the re-merge order-independent (so ANY salt
    * assignment yields the same answer). The salt is a per-row counter,
    * NOT a hash of row values: hashing the value column degenerates to
    * one salt when a hot key carries a constant/null measure — exactly
    * the data shape that produces hot keys. */
  def saltedAggregate(df: DataFrame, key: String, valueCol: String,
      salts: Int = 16): DataFrame = {
    import df.sparkSession.implicits._
    df.withColumn("_salt", pmod(monotonically_increasing_id(), lit(salts.toLong)))
      .groupBy(col(key), $"_salt")
      .agg(
        Exact.sumDecimal(col(valueCol)).as("_psum"),
        count(lit(1)).as("_pcnt"))
      .groupBy(col(key))
      .agg(
        sum($"_psum").cast("double").as(s"sum_$valueCol"),
        sum($"_pcnt").as("n_rows"))
  }

  /** (bigWithSaltedKey, smallExplodedOverSalts) ready to equi-join on
    * (key, "_salt"). The big side's salt must NOT derive from the join
    * key alone (all rows of the hot key would share one salt — a no-op);
    * it hashes the FULL row (or `saltOn`, when given), which spreads a
    * hot key's rows across salts whenever anything else in the row
    * varies. Join results are identical for any salt assignment: each
    * big row meets exactly the one small-side copy carrying its salt.
    *
    * Why a content hash and not `monotonically_increasing_id`: the
    * counter depends on partition/row order, so if the big side sits
    * downstream of a shuffle, a fetch-failure recompute could re-salt
    * rows differently and the partially-recomputed shuffle would drop or
    * duplicate join rows (the classic nondeterministic-mapper hazard).
    * A row-content hash is stable under any recompute. Degenerate case:
    * rows that are FULLY identical (every column) land on one salt —
    * if such duplicates dominate a hot key, pass `saltOn` naming a
    * disambiguating column (an event id, a line number), or — ONLY when
    * the big side is a deterministic scan (no shuffle/nondeterminism
    * upstream, so recomputes replay identically) — set
    * `counterSalt = true` to spread even perfect duplicates with a
    * per-row counter. */
  def saltedJoinKeys(big: DataFrame, small: DataFrame, key: String,
      salts: Int = 16, saltOn: Seq[String] = Nil,
      counterSalt: Boolean = false): (DataFrame, DataFrame) = {
    val hashCols = (if (saltOn.nonEmpty) saltOn else big.columns.toSeq).map(col)
    val bigSalted = big.withColumn("_salt",
      if (counterSalt) pmod(monotonically_increasing_id(), lit(salts.toLong))
      else pmod(xxhash64(hashCols: _*), lit(salts.toLong)))
    // long-typed sequence: a generator cannot be nested under a Cast,
    // and the big side's hash-based salt is long
    val smallExploded = small.withColumn("_salt",
      explode(sequence(lit(0L), lit((salts - 1).toLong))))
    (bigSalted, smallExploded)
  }
}
