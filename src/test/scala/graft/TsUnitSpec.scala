package graft

import org.apache.spark.sql.functions._

/** Fixture-drift tripwire for the events timestamp decode (VERDICT r4
  * item 1/2): the driver's testdata regeneration silently switched
  * events.parquet from TIMESTAMP(NANOS) to TIMESTAMP(MICROS) and the
  * old hard-coded nanos recipe shifted every timestamp 1000×. The
  * loader now probes the parquet footer and dispatches on the actual
  * unit; this spec feeds the SAME rows stored as NANOS, MICROS and
  * MILLIS through the one loader and requires identical decoded
  * timestamps from all three, plus a loud failure when the footer min
  * stat decodes outside the plausible window. */
class TsUnitSpec extends SparkSuite {
  import graft.sources.Tables

  private val baseSec = 1704067200L // 2024-01-01T00:00:00Z

  /** Write `n` events rows with `ts` stored as INT64 annotated with
    * `unit` (or unannotated when unit is None) via the parquet example
    * writer — Spark itself cannot emit TIMESTAMP(NANOS), the writer
    * below can emit all three. */
  private def writeEvents(dir: String,
      unit: Option[org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit],
      tsOf: Int => Long, n: Int = 10): String = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val tsField = unit match {
      case Some(u) => Types.required(INT64)
        .as(LogicalTypeAnnotation.timestampType(false, u)).named("ts")
      case None => Types.required(INT64).named("ts")
    }
    val schema = Types.buildMessage()
      .required(INT64).named("event_id")
      .addField(tsField)
      .required(INT64).named("user_id")
      .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("event_type")
      .required(DOUBLE).named("value")
      .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("props")
      .named("events")
    val file = s"$dir/events.parquet"
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(file))
      .withType(schema)
      .withConf(new org.apache.hadoop.conf.Configuration())
      .build()
    val fac = new SimpleGroupFactory(schema)
    try (0 until n).foreach { i =>
      val g = fac.newGroup()
      g.add("event_id", i.toLong)
      g.add("ts", tsOf(i))
      g.add("user_id", (i % 3).toLong)
      g.add("event_type", "click")
      g.add("value", i * 1.5)
      g.add("props", "{}")
      writer.write(g)
    } finally writer.close()
    file
  }

  private def decodedTs(file: String): Seq[java.sql.Timestamp] = {
    Tables.prepareEvents(spark, file)
    Tables.decodeEventTs(
        spark.read.schema(Tables.eventsRaw).parquet(file))
      .orderBy("event_id").select("ts")
      .collect().map(_.getTimestamp(0)).toSeq
  }

  test("NANOS, MICROS and MILLIS files decode to identical timestamps") {
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
    val work = tempDir("graft_tsunit_")
    def mk(name: String) = { val d = s"$work/$name"; new java.io.File(d).mkdirs(); d }
    // second-aligned instants so every unit represents them exactly
    val nanos  = writeEvents(mk("nanos"),  Some(TimeUnit.NANOS),  i => (baseSec + i * 60) * 1000000000L)
    val micros = writeEvents(mk("micros"), Some(TimeUnit.MICROS), i => (baseSec + i * 60) * 1000000L)
    val millis = writeEvents(mk("millis"), Some(TimeUnit.MILLIS), i => (baseSec + i * 60) * 1000L)
    val (n, u, m) = (decodedTs(nanos), decodedTs(micros), decodedTs(millis))
    assert(n == u && u == m, s"unit-dependent decode: nanos=$n micros=$u millis=$m")
    assert(n.head == java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(baseSec)))
    // probe reports the true unit of each file
    assert(Tables.probeEventsTsUnit(spark, nanos)._1 == "NANOS")
    assert(Tables.probeEventsTsUnit(spark, micros)._1 == "MICROS")
    assert(Tables.probeEventsTsUnit(spark, millis)._1 == "MILLIS")
  }

  test("raw INT64 feed: footer inference OVERRIDES a wrong session pin") {
    // round-6 review: pin-first silently decoded a NANOS-era raw copy
    // 1000x off whenever an earlier prepare had pinned MICROS in the
    // same session. The footer stats identify the unit unambiguously
    // (disjoint plausibility windows), so inference must win over a
    // stale pin — in both directions.
    val work = tempDir("graft_tsunit_raw_")
    val rawMicros = writeEvents(work, None, i => (baseSec + i) * 1000000L)
    assert(Tables.probeEventsTsUnit(spark, rawMicros)._1 == "NONE")
    spark.conf.set(Tables.TsUnitKey, "NANOS")
    assert(Tables.prepareEvents(spark, rawMicros) == "MICROS")
    val rawNanos = writeEvents(
      tempDir("graft_tsunit_raw2_"),
      None, i => (baseSec + i) * 1000000000L)
    spark.conf.set(Tables.TsUnitKey, "MICROS")
    assert(Tables.prepareEvents(spark, rawNanos) == "NANOS")
  }

  test("raw INT64 feed in a FRESH session: unit inferred from footer min, never assumed") {
    // ADVICE r5: with no previously pinned unit, a silent MICROS default
    // would decode a NANOS-era copy 1000x off with no tripwire. The
    // plausibility windows of the three units never overlap, so the
    // footer min identifies the unit — or prepare fails loudly.
    val work = tempDir("graft_tsunit_fresh_")
    def mk(name: String) = { val d = s"$work/$name"; new java.io.File(d).mkdirs(); d }
    val rawNanos = writeEvents(mk("n"), None, i => (baseSec + i) * 1000000000L)
    val rawMicros = writeEvents(mk("u"), None, i => (baseSec + i) * 1000000L)
    val rawMillis = writeEvents(mk("m"), None, i => (baseSec + i) * 1000L)
    val rawJunk = writeEvents(mk("x"), None, i => 42L + i)
    def fresh[T](body: => T): T = {
      val prev = spark.conf.getOption(Tables.TsUnitKey)
      spark.conf.unset(Tables.TsUnitKey)
      try body finally { prev.foreach(spark.conf.set(Tables.TsUnitKey, _)); () }
    }
    assert(fresh(Tables.prepareEvents(spark, rawNanos)) == "NANOS")
    assert(fresh(Tables.prepareEvents(spark, rawMicros)) == "MICROS")
    assert(fresh(Tables.prepareEvents(spark, rawMillis)) == "MILLIS")
    val e = fresh(intercept[IllegalStateException](
      Tables.prepareEvents(spark, rawJunk)))
    assert(e.getMessage.contains("cannot infer"))
  }

  test("tripwire: implausible footer min fails loudly with the footer unit") {
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
    val work = tempDir("graft_tsunit_bad_")
    // values that would be plausible as MICROS, but the file says NANOS:
    // exactly the r4 fixture-drift shape, caught at prepare time now
    val bad = writeEvents(work, Some(TimeUnit.NANOS), i => (baseSec + i) * 1000000L)
    spark.conf.set(Tables.TsUnitKey, "MICROS")
    val e = intercept[IllegalArgumentException](Tables.prepareEvents(spark, bad))
    assert(e.getMessage.contains("unit=NANOS"))
    assert(e.getMessage.contains("tripwire"))
    // a failed prepare must not poison the session's pinned unit
    assert(spark.conf.get(Tables.TsUnitKey) == "MICROS")
  }

  test("generalized NANOS dispatch: a NANOS orders file loads with valid dates") {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val work = tempDir("graft_tsunit_ord_")
    val schema = Types.buildMessage()
      .required(INT64).named("o_orderkey")
      .required(INT64).named("o_custkey")
      .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("o_orderstatus")
      .required(DOUBLE).named("o_totalprice")
      .required(INT64).as(LogicalTypeAnnotation.timestampType(false,
        LogicalTypeAnnotation.TimeUnit.NANOS)).named("o_orderdate")
      .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("o_orderpriority")
      .named("orders")
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$work/orders.parquet"))
      .withType(schema).withConf(new org.apache.hadoop.conf.Configuration()).build()
    val fac = new SimpleGroupFactory(schema)
    try (0 until 5).foreach { i =>
      val g = fac.newGroup()
      g.add("o_orderkey", i.toLong); g.add("o_custkey", i.toLong)
      g.add("o_orderstatus", "O"); g.add("o_totalprice", 100.0 + i)
      g.add("o_orderdate", (baseSec + i * 86400) * 1000000000L)
      g.add("o_orderpriority", "1-URGENT")
      writer.write(g)
    } finally writer.close()
    val df = Tables.load(spark, work, "orders")
    assert(df.schema("o_orderdate").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val lo = df.agg(min(col("o_orderdate"))).collect()(0).getTimestamp(0)
    assert(lo == java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(baseSec)),
      s"NANOS orders decode drift: $lo")
  }

  test("the driver fixture itself passes the tripwire and decodes into 2024") {
    val unit = Tables.prepareEventsDir(spark, sf)
    assert(Set("NANOS", "MICROS", "MILLIS").contains(unit))
    val ts = Tables.events(spark, sf).agg(min(col("ts")), max(col("ts"))).collect()(0)
    val lo = ts.getTimestamp(0).toInstant
    val hi = ts.getTimestamp(1).toInstant
    assert(lo.isAfter(java.time.Instant.parse("2000-01-01T00:00:00Z")), s"min=$lo")
    assert(hi.isBefore(java.time.Instant.parse("2100-01-01T00:00:00Z")), s"max=$hi")
  }
}
