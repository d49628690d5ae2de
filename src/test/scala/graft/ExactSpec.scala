package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.functions.Exact

/** The contract any faster implementation of [[Exact]] must keep: the
  * DataFrame aggregates equal Spark SQL running the oracle text
  * ([[Exact.sumExactSql]], [[Exact.avgExactSql]]) over the same view,
  * bit for bit, at 1 and at 13 partitions, grouped and global; the
  * decimal sum is the sum of the per-row casts (HALF_UP at the 6th
  * digit); a value past the type's 21 integer digits fails on both
  * sides, and NaN and +-Inf fail the DataFrame form, as the oracle's
  * cast fails on them. The data covers both of `sumExact`'s
  * paths (the long fast path and the cast fallback) and their edges. */
class ExactSpec extends SparkSuite {

  import spark.implicits._

  private val rnd = new scala.util.Random(11)

  /** Ties at the 7th decimal digit: the shortest rendering of each
    * double ends in that 5, so the cast must round it (HALF_UP). */
  private val ties = Seq.fill(60) {
    val sign = if (rnd.nextBoolean()) -1 else 1
    val v = (BigDecimal(rnd.nextInt(1000)) +
      BigDecimal(BigInt(rnd.nextInt(1000000) * 10L + 5), 7)) * sign
    val d = v.toDouble
    assert(BigDecimal(d) == v, s"$v is not the shortest rendering of its double")
    d
  }
  /** Magnitudes near 10^20 (still inside DECIMAL(27,6)) with small
    * values mixed in, so the cast back to double rounds. */
  private val large = Seq.fill(30)(rnd.between(-9.99, 9.99) * 1e20) ++
    Seq(123.456789, -0.000001, 7.5e-7)
  private val negatives = Seq.tabulate(40) { i =>
    if (i % 3 == 0) None else Some(math.rint(rnd.between(-1e6, 0.0) * 1e4) / 1e4)
  }

  /** The fast path's magnitude bound, 2^43 / 10^6, and its neighbours. */
  private val bound = math.pow(2, 43) / 1e6
  private val nearBound = Seq(bound, -bound).flatMap { b =>
    Seq(b, math.nextDown(b), math.nextUp(b), math.nextDown(math.nextDown(b)),
      math.nextUp(math.nextUp(b)), b - 1e-6, b + 1e-6)
  }
  /** `x * 1e6` at a distance `d` from a half: inside the 2^-8 margin
    * (fallback), on it, and just outside it (fast). */
  private val nearHalf = for {
    k <- Seq(0L, 7L, 123456L, 98765432109L, 4398046511103L)
    d <- Seq(1.0 / 512, 1.0 / 256, 1.0 / 256 + 1.0 / 1024, 1.0 / 128, 0.01)
    sd <- Seq(d, -d)
    sign <- Seq(1, -1)
  } yield sign * (k + 0.5 + sd) / 1e6
  /** Signed magnitudes spread from 1e-7 to 1e9. */
  private val spread = {
    val r = new scala.util.Random(17)
    Seq.fill(10000) {
      val v = math.pow(10, r.between(-7.0, 9.0))
      if (r.nextBoolean()) -v else v
    }
  }

  private val rows: Seq[(Int, Option[Double])] =
    ties.map(v => (1, Some(v))) ++ large.map(v => (2, Some(v))) ++
      negatives.map(v => (3, v)) ++ Seq.fill(5)((4, None)) ++
      Seq(-0.0, 0.0, -0.0).map(v => (5, Some(v))) ++
      nearBound.map(v => (6, Some(v))) ++ nearHalf.map(v => (7, Some(v))) ++
      // every row falls back / fast and fallback rows mixed
      (ties.take(10) ++ large.take(5)).map(v => (8, Some(v))) ++
      (ties.take(10) ++ negatives.flatten.take(10)).map(v => (9, Some(v))) ++
      spread.map(v => (10, Some(v)))

  private def bits(r: Row, i: Int): Option[Long] =
    if (r.isNullAt(i)) None else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(i)))

  /** Per-row casts summed on the driver: what the decimal sum must be. */
  private def reference(vs: Seq[Option[Double]]): Option[BigDecimal] =
    vs.flatten.map(v => BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP))
      .reduceOption(_ + _)

  /** Both forms over `data`, grouped by `g` or global, per partition count. */
  private def forms(data: Seq[(Int, Option[Double])], grouped: Boolean)
      : Seq[(Int, DataFrame, DataFrame)] = Seq(1, 13).map { parts =>
    val t = data.toDF("g", "v").repartition(parts)
    t.createOrReplaceTempView(s"exact_v$parts")
    val keys = if (grouped) Seq("g") else Nil
    val api = t.groupBy(keys.map(col): _*)
      .agg(Exact.sumExact($"v"), Exact.avgExact($"v"), Exact.sumDecimal($"v"))
    val sql = spark.sql((keys ++ Seq(Exact.sumExactSql("v"), Exact.avgExactSql("v")))
      .mkString("SELECT ", ", ", s" FROM exact_v$parts" + (if (grouped) " GROUP BY g" else "")))
    (parts, api, sql)
  }

  private def agree(data: Seq[(Int, Option[Double])], grouped: Boolean): Unit =
    forms(data, grouped).foreach { case (parts, api, sql) =>
      val k = if (grouped) 1 else 0
      def key(r: Row) = if (grouped) r.getInt(0) else 0
      val a = api.collect().map(r => key(r) ->
        (bits(r, k), bits(r, k + 1), Option(r.getDecimal(k + 2)).map(BigDecimal(_)))).toMap
      val s = sql.collect().map(r => key(r) -> (bits(r, k), bits(r, k + 1))).toMap
      assert(a.keySet == s.keySet, s"$parts partitions")
      val byKey = data.groupBy(r => if (grouped) r._1 else 0)
      a.foreach { case (g, (sumBits, avgBits, dec)) =>
        val clue = s"group $g at $parts partitions"
        assert((sumBits, avgBits) == s(g), clue)
        // the decimal partial: the per-row casts' sum, and the same
        // double as the oracle text once cast
        assert(dec == reference(byKey.getOrElse(g, Nil).map(_._2)), clue)
        assert(dec.map(d => java.lang.Double.doubleToRawLongBits(d.toDouble)) == s(g)._1, clue)
      }
    }

  test("sumExact, sumDecimal and avgExact equal the oracle SQL text bit for bit, grouped") {
    agree(rows, grouped = true)
  }

  test("the same holds for global aggregates, empty input included") {
    agree(rows, grouped = false)
    agree(Seq.empty, grouped = false)
  }

  /** Rows of `vs` on the fast path, counted by Spark. */
  private def fastRows(vs: Seq[Double]): Long =
    vs.toDF("v").filter(Exact.fast($"v")).count()

  test("the data reaches both paths, on either side of each edge") {
    assert(fastRows(ties) == 0, "a tie must fall back")
    assert(fastRows(Seq(-0.0, 0.0)) == 2)
    val (below, above) = (bound * 0.999999, bound * 1.000001)
    assert(fastRows(Seq(below, -below)) == 2 && fastRows(Seq(above, -above)) == 0)
    val inside = Seq(0.5 + 1.0 / 512, 0.5 - 1.0 / 512, 7.5 + 1.0 / 512).map(_ / 1e6)
    val outside = Seq(0.5 + 1.0 / 128, 0.5 - 1.0 / 128, 7.5 - 0.01).map(_ / 1e6)
    assert(fastRows(inside) == 0 && fastRows(outside) == outside.size)
    assert(fastRows(large.take(5)) == 0)
    val mixed = fastRows(nearHalf ++ nearBound)
    assert(mixed > 0 && mixed < nearHalf.size + nearBound.size)
    assert(fastRows(spread) > spread.size / 2)
  }

  test("a value beyond DECIMAL(27,6) fails on both sides") {
    Seq(true, false).foreach { grouped =>
      forms(Seq((1, Some(2e21)), (1, Some(1.0))), grouped).foreach { case (parts, api, sql) =>
        def condition(df: DataFrame): String = {
          val e = intercept[Exception](df.collect())
          Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).collectFirst {
            case t: org.apache.spark.SparkThrowable if t.getCondition != null => t.getCondition
          }.getOrElse(fail(s"no error condition at $parts partitions", e))
        }
        assert(condition(api) == condition(sql), s"$parts partitions")
      }
    }
  }

  test("NaN and +-Inf fail the DataFrame form, as the oracle's cast does") {
    Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity).foreach { v =>
      val data = Seq((1, Some(v)), (1, Some(1.5)), (2, Some(0.1)), (2, None))
      Seq(true, false).foreach { grouped =>
        forms(data, grouped).foreach { case (parts, api, _) =>
          val e = intercept[Exception](api.collect())
          assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            .exists(t => String.valueOf(t.getMessage).contains(Exact.NonFinite)),
            s"$v at $parts partitions, grouped=$grouped: $e")
        }
      }
    }
  }

  test("the fast path is the common path on the reference measures") {
    val li = graft.sources.Tables.lineitem(spark, sf)
    val tip = when($"l_extendedprice" > 0, $"l_tax" / $"l_extendedprice" * 100)
      .otherwise(lit(0.0))
    def fallback(c: org.apache.spark.sql.Column, rows: DataFrame = li): (Long, Long) = {
      val r = rows.agg(count(c), count(when(!Exact.fast(c), 1))).head()
      (r.getLong(0), r.getLong(1))
    }
    Seq($"l_extendedprice", $"l_quantity", $"l_extendedprice" * (lit(1.0) - $"l_discount"))
      .foreach { c =>
        val (n, slow) = fallback(c)
        assert(n > 0 && slow == 0, s"$c: $slow of $n rows fall back")
      }
    val (n, slow) = fallback($"t", li.select(tip.as("t")).filter($"t" > 0 && $"t" < 100))
    assert(n > 0 && slow <= n * 0.02, s"tip_percentage: $slow of $n rows fall back")
    println(s"[exact] tip_percentage: $slow of $n rows fall back")
  }
}
