package graft

import org.apache.spark.sql.functions._
import graft.operators.Analytics

/** VALUE parity for the reference's 7 analytics queries (the
  * evidencias CSV analogs) on a hand-designed taxi-shaped
  * micro-fixture (VERDICT r5 #7: EvidenciasShapeSpec pins shape/caps/
  * grain; this spec pins exact VALUES).
  *
  * The fixture is built so every output cell has a closed form:
  *  - 4 zones (one "Unknown") in 2 boroughs; customer k maps to zone k.
  *  - per (customer k, year y ∈ {2023, 2024}): 100·k orders at
  *    y-06-15 08:00 UTC, one lineitem each with quantity 5, price 200,
  *    discount 0.25, tax 20 (⇒ net 150, tip 10%), and duration
  *    6·(i + [y=2024]·100k) minutes (i-th order) ⇒ zone k pools the
  *    distinct durations (1..200k)·0.1 h across both years.
  *  - separate 2000-dated lineitems (orderkey 0 — join-inert): months
  *    m ∈ 1..3 × flags {A, N}, 50·m rows of quantity m, price 10m.
  *  - 60 events in 2024: hours {0, 7, 20} × {click, purchase} × 10,
  *    value = hour + 1, ts stored as un-annotated INT64 micros (also
  *    exercises the footer-min unit inference).
  */
class EvidenciasValueSpec extends SparkSuite with org.scalatest.BeforeAndAfterAll {
  import spark.implicits._

  /** The fixture's directory, once [[dir]] has made it. */
  private var made: Option[String] = None

  override def afterAll(): Unit =
    try made.foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
    finally super.afterAll()

  private def ts(s: String) =
    java.sql.Timestamp.from(java.time.Instant.parse(s))
  private def d(s: String) = java.sql.Date.valueOf(s)

  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_taxi_micro_").toString
    made = Some(d)
    Seq((0, "Manhattan"), (1, "Queens"))
      .toDF("r_regionkey", "r_name").write.parquet(s"$d/region.parquet")
    Seq((0, "Midtown", 0), (1, "Harlem", 0), (2, "Astoria", 1), (3, "Unknown", 1))
      .toDF("n_nationkey", "n_name", "n_regionkey").write.parquet(s"$d/nation.parquet")
    (1 to 4).map(k => (k.toLong, s"c$k", k - 1, 0.0, "SEG"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.parquet(s"$d/customer.parquet")
    def okey(y: Int, k: Int, i: Int): Long = y.toLong * 1000000 + k * 100000 + i
    val orders = for (y <- Seq(2023, 2024); k <- 1 to 4; i <- 1 to 100 * k)
      yield (okey(y, k, i), k.toLong, "O", 0.0, ts(s"$y-06-15T08:00:00Z"), "1-URGENT")
    orders.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority").write.parquet(s"$d/orders.parquet")
    val durLines = for (y <- Seq(2023, 2024); k <- 1 to 4; i <- 1 to 100 * k) yield {
      val durMin = 6L * (i + (if (y == 2024) 100 * k else 0))
      (okey(y, k, i), 1L, 1L, 1, 5.0, 200.0, 0.25, 20.0, "T", "F",
        java.sql.Timestamp.from(
          java.time.Instant.parse(s"$y-06-15T08:00:00Z").plusSeconds(durMin * 60)))
    }
    val monthLines = for (m <- 1 to 3; f <- Seq("A", "N"); _ <- 1 to 50 * m)
      yield (0L, 1L, 1L, 1, m.toDouble, 10.0 * m, 0.0, 0.0, f, "F",
        ts(f"2000-$m%02d-10T08:00:00Z"))
    (durLines ++ monthLines).toDF("l_orderkey", "l_partkey", "l_suppkey",
      "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_returnflag", "l_linestatus", "l_shipdate")
      .write.parquet(s"$d/lineitem.parquet")
    val events = for (h <- Seq(0, 7, 20); t <- Seq("click", "purchase"); j <- 0 until 10)
      yield {
        val inst = java.time.Instant.parse(f"2024-02-01T$h%02d:30:00Z").plusSeconds(j)
        (h * 100L + (if (t == "click") 0L else 10000L) + j,
          inst.getEpochSecond * 1000000L, j.toLong, t, h + 1.0, "{}")
      }
    events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$d/events.parquet")
    d
  }

  test("monthly agg: trips/avg distance/avg amount per (flag, 2000-month)") {
    val got = Analytics.monthlyAgg(spark, dir).collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    val want = for (m <- 1 to 3; f <- Seq("A", "N"))
      yield (f, f"2000-$m%02d-01", 50L * m, m.toDouble, 10.0 * m)
    assert(got.toSeq == want.toSeq)
  }

  test("demand by zone: 100k trips per (zone k, year); Unknown excluded") {
    val got = Analytics.demandByZone(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3)))
    val want = Seq(
      ("Astoria", "Queens", 2023, 300L), ("Astoria", "Queens", 2024, 300L),
      ("Harlem", "Manhattan", 2023, 200L), ("Harlem", "Manhattan", 2024, 200L),
      ("Midtown", "Manhattan", 2023, 100L), ("Midtown", "Manhattan", 2024, 100L))
    assert(got.toSeq == want)
  }

  test("revenue & tips: net 150/trip, tip 10%, Unknown NOT excluded") {
    val got = Analytics.revenueTips(spark, dir).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getDouble(2), r.getDouble(3),
        r.getLong(4)))
    // Manhattan = zones 1+2 → 300 trips/yr; Queens = zones 3+4 → 700
    val want = Seq(
      ("Manhattan", 2023, 45000.0, 10.0, 300L), ("Queens", 2023, 105000.0, 10.0, 700L),
      ("Manhattan", 2024, 45000.0, 10.0, 300L), ("Queens", 2024, 105000.0, 10.0, 700L))
    assert(got.toSeq == want)
  }

  test("duration percentiles: pooled (1..200k)·0.1h per zone, HAVING excludes 200-trip Midtown") {
    val got = Analytics.durationPercentiles(spark, dir).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    // zone k pools n = 200k distinct durations (1..n)·0.1 h:
    // p50 = (n+1)/20, p90 = (0.9·(n−1)+1)/10, avg = (n+1)/20
    val want = Seq(
      ("Unknown", 3, 800L, 40.05, 72.01, 40.05),
      ("Astoria", 2, 600L, 30.05, 54.01, 30.05),
      ("Harlem", 1, 400L, 20.05, 36.01, 20.05))
    got.zip(want).foreach { case (g, w) =>
      assert(g._1 == w._1 && g._2 == w._2 && g._3 == w._3, s"$g vs $w")
      assert(math.abs(g._4 - w._4) < 1e-9, s"p50 ${g._4} vs ${w._4}")
      assert(math.abs(g._5 - w._5) < 1e-9, s"p90 ${g._5} vs ${w._5}")
      assert(math.abs(g._6 - w._6) < 1e-9, s"avg ${g._6} vs ${w._6}")
    }
    assert(got.length == 3, "Midtown (exactly 200 trips) must fail HAVING > 200")
  }

  test("hourly matrix: 20 events/hour in 2024, avg value = hour + 1") {
    val got = Analytics.hourlyMatrix(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq((2024, 0, 20L, 1.0), (2024, 7, 20L, 8.0),
      (2024, 20, 20L, 21.0)))
  }

  test("speed band: Nocturno for hours 0/20, Diurno for 7; per-type split") {
    val got = Analytics.speedBand(spark, dir).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getDouble(3),
        r.getLong(4)))
    val want = for (t <- Seq("click", "purchase"); h <- Seq(0, 7, 20))
      yield (t, h, if (h == 7) "Diurno" else "Nocturno", h + 1.0, 10L)
    assert(got.toSeq == want.toSeq)
  }

  test("coverage matrix: month totals with exact first/last trip dates") {
    val got = Analytics.coverageMatrix(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDate(6), r.getDate(7)))
    val y2000 = for (m <- 1 to 3; f <- Seq("A", "N")) yield
      (2000, m, f, 50L * m, 50.0 * m * m, 500.0 * m * m,
        d(f"2000-$m%02d-10"), d(f"2000-$m%02d-10"))
    // 2023: max duration 6·400 min = 40 h → Jun 17 00:00;
    // 2024: max 6·800 min = 80 h → Jun 18 16:00
    val trips = Seq(
      (2023, 6, "T", 1000L, 5000.0, 200000.0, d("2023-06-15"), d("2023-06-17")),
      (2024, 6, "T", 1000L, 5000.0, 200000.0, d("2024-06-15"), d("2024-06-18")))
    assert(got.toSeq == (y2000 ++ trips).toSeq)
  }
}
