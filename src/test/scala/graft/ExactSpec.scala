package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.functions.Exact

/** The contract any faster implementation of [[Exact]] must keep: the
  * DataFrame aggregates equal Spark SQL running the oracle text
  * ([[Exact.sumExactSql]], [[Exact.avgExactSql]]) over the same view,
  * bit for bit, at 1 and at 13 partitions, grouped and global; the
  * decimal sum is the sum of the per-row casts (HALF_UP at the 6th
  * digit); and a value past the type's 21 integer digits fails on
  * both sides. */
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

  private val rows: Seq[(Int, Option[Double])] =
    ties.map(v => (1, Some(v))) ++ large.map(v => (2, Some(v))) ++
      negatives.map(v => (3, v)) ++ Seq.fill(5)((4, None))

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
}
