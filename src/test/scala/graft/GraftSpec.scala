package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators._
import graft.functions.{Dedup, Multimodal, Similarity, TextAnalysis}

/** Shared session: the one every main builds ([[GraftSession.local]]),
  * at local[4]. */
trait SparkSuite extends AnyFunSuite {

  /** AQE/QueryStage-aware physical-plan walk (executes the frame first
    * so the adaptive plan is final; query stages are traversal leaves
    * unless descended explicitly, and the identity set collapses reused
    * stages to one visit). The ONE copy the plan-shape specs share. */
  def walkPlan(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    df.collect()
    walkFrom(df.queryExecution.executedPlan)
  }

  /** The same stage-descending walk from an arbitrary node — for
    * SUBTREE assertions ("every global window sits above a limit /
    * local-prune"), where the flat whole-plan list can't say which
    * node is under which. */
  def walkFrom(root: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    val out = scala.collection.mutable.ArrayBuffer[SparkPlan]()
    def walk(p: SparkPlan): Unit = if (seen.add(p)) {
      out += p
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case other => other.children.foreach(walk)
      }
    }
    walk(root)
    out.toSeq
  }
  lazy val spark: SparkSession = GraftSession.local(4)
  val sf = "/root/testdata/sf0.001"

  /** Directories [[tempDir]] made during the running test. */
  private val testDirs = scala.collection.mutable.ArrayBuffer[java.io.File]()

  /** A fresh `prefix*` directory under `java.io.tmpdir`, deleted when
    * the test that made it ends, whatever its outcome. */
  def tempDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    testDirs.synchronized(testDirs += dir)
    dir.getPath
  }

  override def withFixture(test: NoArgTest): org.scalatest.Outcome =
    try super.withFixture(test)
    finally testDirs.synchronized {
      testDirs.foreach(org.apache.commons.io.FileUtils.deleteQuietly)
      testDirs.clear()
    }

  /** `body` over a private copy of [[sf]], deleted afterwards: its
    * staged artifacts are new to this JVM, and its tables may be
    * rewritten. */
  def withSfCopy[T](body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft_sf_copy_").toFile
    try {
      org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(sf), dir)
      body(dir.getPath)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  /** Re-ingest the `lineitem` table of the corpus at `dir` as a strict
    * subset of its rows (even order keys), as a rewriting load would. */
  def halveLineitem(dir: String): Unit = {
    val li = s"$dir/lineitem.parquet"
    val subset = s"$dir/_lineitem_subset"
    graft.sources.Tables.lineitem(spark, dir).filter(col("l_orderkey") % 2 === 0)
      .write.parquet(subset)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(li))
    org.apache.commons.io.FileUtils.moveDirectory(new java.io.File(subset), new java.io.File(li))
  }

  /** Four partitions that each sleep 60 s: a Spark job that only
    * cancellation ends early. */
  def sleepyFrame(s: SparkSession): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    s.range(0, 4, 1, 4).mapPartitions { it => Thread.sleep(60000); it }.toDF()
  }

  /** Runs `call` on its own thread and interrupts that thread once a
    * Spark job is active. Asserts that `call` gives up within 5 s, that
    * no Spark job is left running 10 s later, and that the failure
    * names `task`. */
  def assertInterruptCancels(task: String)(call: => Any): Unit = {
    val tracker = spark.sparkContext.statusTracker
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val caller = new Thread(() => try { call; () } catch { case e: Throwable => failure.set(e) })
    caller.start()
    try {
      val deadline = System.nanoTime + 30L * 1000000000
      while (tracker.getActiveJobIds.isEmpty && System.nanoTime < deadline) Thread.sleep(50)
      assert(tracker.getActiveJobIds.nonEmpty, "the long job never started")
      val interrupted = System.nanoTime
      caller.interrupt()
      caller.join(10000)
      assert(!caller.isAlive && System.nanoTime - interrupted < 5L * 1000000000,
        "the call did not give up within 5 s of the interrupt")
      val idle = System.nanoTime + 10L * 1000000000
      while (tracker.getActiveJobIds.nonEmpty && System.nanoTime < idle) Thread.sleep(100)
      assert(tracker.getActiveJobIds.isEmpty, "the long job outlived its caller")
      assert(failure.get != null && String.valueOf(failure.get.getMessage).contains(task),
        s"failure does not name $task: ${failure.get}")
    } finally spark.sparkContext.cancelAllJobs()
  }

  /** Session confs for the duration of `body`, previous values (set or
    * unset) restored after — the one copy of the snapshot/restore
    * dance the pressure/optimizer specs all need. */
  def withConfs[T](confs: Map[String, String])(body: => T): T = {
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try { confs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally prev.foreach { case (k, v) => v match {
      case Some(x) => spark.conf.set(k, x); case None => spark.conf.unset(k) } }
  }
}

class PipelineSpec extends SparkSuite {

  test("silver union: both branches present, quality filters hold, schema padded") {
    val silver = Silver.build(spark, sf).cache()
    val services = silver.select("service_type").distinct().collect().map(_.getString(0)).sorted
    assert(services.toSeq == Seq("green", "yellow"))
    assert(silver.filter(col("quantity") < 0 || col("extended_price") < 0).count() == 0)
    assert(silver.columns.contains("ehail_fee") && silver.columns.contains("airport_fee"))
    // padding: yellow has null ehail_fee, green has null airport_fee
    assert(silver.filter(col("service_type") === "yellow" && col("ehail_fee").isNotNull).count() == 0)
    assert(silver.filter(col("service_type") === "green" && col("airport_fee").isNotNull).count() == 0)
    silver.unpersist()
  }

  test("dim_date: contiguous spine, dense unique SKs, ISO dow") {
    val d = GoldDims.dimDate(spark).cache()
    val n = d.count()
    assert(n == 2557) // 1995-01-01..2001-12-31
    assert(d.select("date_sk").distinct().count() == n)
    assert(d.agg(min("date_sk"), max("date_sk")).collect().head.toSeq == Seq(1, n.toInt))
    // 1995-01-01 was a Sunday → ISO dow 7
    assert(d.filter(col("date_str") === "1995-01-01").select("day_of_week")
      .collect().head.getInt(0) == 7)
    d.unpersist()
  }

  test("dim_zone: sentinel row coexists with unique SKs") {
    val z = GoldDims.dimZone(spark, sf).cache()
    assert(z.filter(col("zone_sk") === 0 && col("zone_name") === "Unknown").count() == 1)
    assert(z.select("zone_sk").distinct().count() == z.count())
    assert(z.filter(col("borough") === "Unknown").count() == 1)
    z.unpersist()
  }

  test("fact: every FK resolves (sentinel included), trip_id unique, night-trip bug faithful") {
    val f = GoldFact.build(spark, sf).cache()
    val zoneSks = GoldDims.dimZone(spark, sf).select("zone_sk")
    assert(f.join(zoneSks, f("pickup_zone_sk") === zoneSks("zone_sk"), "left_anti").count() == 0)
    assert(f.select("trip_id").distinct().count() == f.count())
    // the reference's HOUR BETWEEN 22 AND 6 is vacuously false — replicated
    assert(f.filter(col("is_night_trip")).count() == 0)
    f.unpersist()
  }

  test("quality report: all 32 checks green, family counts match the reference suite") {
    val rows = Quality.report(spark, sf).collect()
    val bad = rows.filter(_.getLong(1) > 0)
    assert(bad.isEmpty, s"violating checks: ${bad.mkString(",")}")
    // the reference's dbt suite: 32 tests = 21 not_null + 5 unique +
    // 4 relationships + 2 accepted_values (models/gold/schema.yml,
    // models/silver/schema.yml; README "32 PASS")
    assert(rows.length == 32, s"expected 32 checks, got ${rows.length}")
    def fam(p: String) = rows.count(_.getString(0).startsWith(p))
    assert(fam("not_null_") == 21)
    assert(fam("unique_") == 5)
    assert(fam("relationships_") == 4)
    assert(fam("accepted_values_") == 2)
    // the names, one per schema.yml test (the inventory in Quality's header)
    assert(rows.map(_.getString(0)).toSeq == Seq(
      "accepted_values_fct_service_type", "accepted_values_silver_service_type",
      "not_null_dim_date_date_actual", "not_null_dim_date_date_sk",
      "not_null_dim_payment_type_status_code", "not_null_dim_rate_code_priority_code",
      "not_null_dim_zone_locationid", "not_null_dim_zone_zone_sk",
      "not_null_fct_dropoff_date_sk", "not_null_fct_dropoff_zone_sk",
      "not_null_fct_extended_price", "not_null_fct_pickup_date_sk",
      "not_null_fct_pickup_zone_sk", "not_null_fct_quantity",
      "not_null_fct_service_type", "not_null_fct_trip_id",
      "not_null_silver_extended_price", "not_null_silver_line_number",
      "not_null_silver_order_key", "not_null_silver_quantity",
      "not_null_silver_service_type", "not_null_silver_ship_ts", "not_null_silver_tax",
      "relationships_fct_dropoff_date_sk", "relationships_fct_dropoff_zone_sk",
      "relationships_fct_pickup_date_sk", "relationships_fct_pickup_zone_sk",
      "unique_dim_date_date_actual", "unique_dim_date_date_sk",
      "unique_dim_payment_type_status_code", "unique_dim_rate_code_priority_code",
      "unique_dim_zone_zone_sk").sorted)
  }
}

class PipelineRunnerSpec extends SparkSuite
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
  import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
  import graft.functions.Staged

  /** The listener events posted while `body` runs. A marker job after
    * `body` flushes the listener bus: events reach a listener in the
    * order they were posted. */
  private def events(body: => Unit): Seq[SparkListenerEvent] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerEvent]
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val marker = s"listened-${System.nanoTime}"
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker))
          flushed.countDown()
        else seen.add(e): Unit
      override def onOtherEvent(e: SparkListenerEvent): Unit = seen.add(e): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.sparkContext.setJobDescription(marker)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus not flushed")
      seen.toArray(Array.empty[SparkListenerEvent]).toSeq
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** The SQL executions that write fact rows (a `fct_trips*` destination)
    * while `body` runs. */
  private def factWrites(body: => Unit): Int = {
    val dest = """Arguments: \S*/fct_trips[\w.\-]*""".r
    events(body).count {
      case s: SparkListenerSQLExecutionStart =>
        s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand") &&
          dest.findFirstIn(s.physicalPlanDescription).isDefined
      case _ => false
    }
  }

  test("dbt-run analog: DAG materializes in dependency order, replace semantics") {
    // outside the corpus dir: a write under it would change its key
    val out = java.nio.file.Files.createTempDirectory("graft_pipeline_run").toString
    try withSfCopy { dir =>
      val factBuilds = () => Staged.buildTimes.keySet.filter(_.startsWith("fct_trips_"))
      val before = factBuilds()
      var counts = Map.empty[String, Long]
      val started = java.time.Instant.now().truncatedTo(java.time.temporal.ChronoUnit.MILLIS)
      // `dbt test` reads the fact `dbt run` wrote: one write for both
      val writes = factWrites {
        counts = PipelineRunner.run(spark, dir, out)
        assert(Quality.report(spark, dir).collect().forall(_.getLong(1) == 0L))
      }
      val finished = java.time.Instant.now()
      assert(writes == 1, s"$writes executions wrote fact rows")
      assert(counts("fct_trips") > 0)
      assert(counts("dim_date") == 2557)
      assert(counts.keySet == Set("stg_trips_unified", "dim_date", "dim_zone",
        "dim_payment_type", "dim_rate_code", "fct_trips"))
      assert((factBuilds() -- before).size == 1)
      // every row of a run carries the run's one load time
      def loadedAt() = spark.read.parquet(s"$out/fct_trips")
        .select("dbt_loaded_at").distinct().collect().map(_.getTimestamp(0).toInstant)
      val first = loadedAt()
      assert(first.length == 1, first.mkString(", "))
      assert(!first.head.isBefore(started) && !first.head.isAfter(finished),
        s"${first.head} outside [$started, $finished]")
      // rerun = replace, not append
      val counts2 = PipelineRunner.run(spark, dir, out)
      assert(counts2 == counts)
      val second = loadedAt()
      assert(second.length == 1 && second.head.isAfter(first.head), second.mkString(", "))
      // fct read back from the materialized table: the model's public
      // columns plus the audit column, no join intermediates
      assert(spark.read.parquet(s"$out/fct_trips").columns.toSeq ==
        GoldFact.verifiedColumns :+ "dbt_loaded_at")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  test("dbt test checks the fct_trips table dbt run wrote") {
    val out = java.nio.file.Files.createTempDirectory("graft_pipeline_test").toString
    try withSfCopy { dir =>
      PipelineRunner.run(spark, dir, out)
      /** Replace the published table `model` with `edit` of its rows. */
      def rewrite(model: String)(edit: DataFrame => DataFrame): Unit = {
        val table = s"$out/$model"
        graft.sources.Ingest.writeAudited(edit(spark.read.parquet(table)), table)(_.count()); ()
      }
      /** `c` set NULL on the first row by `keys`, a unique key. */
      def nullOne(c: String, keys: String*)(df: DataFrame): DataFrame = {
        val v = df.select(keys.map(col): _*).orderBy(keys.map(col): _*).head()
        val hit = keys.zipWithIndex.map { case (k, i) => col(k) === lit(v.get(i)) }.reduce(_ && _)
        df.withColumn(c, when(hit, lit(null)).otherwise(col(c)))
      }
      rewrite("fct_trips")(nullOne("trip_id", "trip_id"))
      rewrite("stg_trips_unified")(nullOne("order_key", "order_key", "line_number"))
      rewrite("dim_zone")(z => z.unionByName(z.limit(1)))
      val report = Quality.report(spark, dir).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(report("not_null_fct_trip_id") == 1L, report)
      assert(report("not_null_silver_order_key") == 1L, report)
      assert(report("unique_dim_zone_zone_sk") == 1L, report)
      assert(report.count(_._2 != 0L) == 3, report)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  test("after a run, dbt test scans only the tables the run wrote") {
    val out = java.nio.file.Files.createTempDirectory("graft_pipeline_scans").toString
    try withSfCopy { dir =>
      PipelineRunner.run(spark, dir, out)
      val report = Quality.report(spark, dir)
      assert(report.collect().forall(_.getLong(1) == 0L))
      val root = new java.io.File(out).getAbsolutePath
      val scans = collectWithSubqueries(report.queryExecution.executedPlan) {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.relation.location.rootPaths.map(_.toUri.getPath)
      }.flatten
      assert(scans.nonEmpty)
      assert(scans.forall(_.startsWith(root + "/")), scans.mkString(", "))
      assert(scans.map(p => new java.io.File(p).getName).toSet ==
        PipelineRunner.models.map(_.name).toSet, scans.mkString(", "))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  test("after a run, the fact reads the tables its deps name") {
    val out = java.nio.file.Files.createTempDirectory("graft_pipeline_refs").toString
    try withSfCopy { dir =>
      PipelineRunner.run(spark, dir, out)
      val fact = GoldFact.build(spark, dir)
      fact.collect()
      val scans = collectWithSubqueries(fact.queryExecution.executedPlan) {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.relation.location.rootPaths.map(_.toUri.getPath)
      }.flatten
      val root = new java.io.File(out).getAbsolutePath + "/"
      val (models, corpus) = scans.partition(_.startsWith(root))
      val deps = PipelineRunner.models.find(_.name == "fct_trips").get.deps
      assert(models.map(_.stripPrefix(root)).toSet == deps.toSet, scans.mkString(", "))
      assert(corpus.map(p => new java.io.File(p).getName).toSet ==
        Set("orders.parquet", "customer.parquet", "supplier.parquet"), scans.mkString(", "))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  test("republishing after an input rewrite replaces each model's stage entry") {
    val out = java.nio.file.Files.createTempDirectory("graft_pipeline_republish").toString
    try withSfCopy { dir =>
      val before = Staged.buildTimes.keySet
      PipelineRunner.run(spark, dir, out)
      halveLineitem(dir)
      PipelineRunner.run(spark, dir, out)
      val added = Staged.buildTimes.keySet -- before
      assert(added.size == PipelineRunner.models.size, added.mkString(", "))
      val key = Staged.sfKey(dir)
      assert(added == PipelineRunner.models.map(m => s"${m.name}_$key").toSet, added.mkString(", "))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  test("no stale or dangling fact artifact: another corpus's publish, a deleted table") {
    val out = java.nio.file.Files.createTempDirectory("graft_pipeline_stale").toString
    try withSfCopy { a => withSfCopy { b =>
      halveLineitem(b) // corpus b: a strict subset of a's trips
      val standaloneA = GoldFact.build(spark, a).count()
      assert(PipelineRunner.run(spark, a, out)("fct_trips") == standaloneA)
      // b's fact replaces a's table: a is no longer served from it
      val countB = PipelineRunner.run(spark, b, out)("fct_trips")
      assert(countB < standaloneA)
      val report = Quality.report(spark, a).collect()
      assert(report.length == 32 && report.forall(_.getLong(1) == 0L), report.mkString(", "))
      assert(GoldFact.fctTrips(spark, a).count() == standaloneA)
      assert(GoldFact.fctTrips(spark, b).count() == countB)
      // a deleted table is rebuilt, not read
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
      assert(GoldFact.fctTrips(spark, b).count() == countB)
    }} finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  test("a failing model throws only after its siblings finish writing") {
    val out = java.nio.file.Files.createTempDirectory("graft_pipeline_fail").toString
    try {
      val ms = Seq(
        PipelineRunner.Model("boom", Nil, "", (_, _) => sys.error("boom")),
        PipelineRunner.Model("slow", Nil, "", (s, _) => { Thread.sleep(2000); s.range(3).toDF() }))
      val e = intercept[RuntimeException](PipelineRunner.runModels(spark, sf, out, ms))
      assert(e.getMessage == "boom: boom" && e.getCause.getMessage == "boom")
      assert(new java.io.File(s"$out/slow/_SUCCESS").exists(),
        "run threw while a sibling model was still writing")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  test("a model that fails mid-write leaves its last good table readable") {
    val out = java.nio.file.Files.createTempDirectory("graft_pipeline_keep").toString
    try {
      val good = PipelineRunner.Model("trips", Nil, "", (s, _) => s.range(10).toDF())
      assert(PipelineRunner.runModels(spark, sf, out, Seq(good)) == Map("trips" -> 10L))
      // the rerun's write fails inside a task, after the write has begun
      val bad = PipelineRunner.Model("trips", Nil, "", (s, _) =>
        s.range(10).selectExpr("CAST(raise_error('mid-write') AS BIGINT) AS id"))
      val e = intercept[Exception](PipelineRunner.runModels(spark, sf, out, Seq(bad)))
      assert(e.getMessage.startsWith("trips: "), e.getMessage)
      assert(e.getMessage.contains("mid-write"), e.getMessage)
      assert(spark.read.parquet(s"$out/trips").count() == 10)
      assert(!new java.io.File(s"$out/trips.staging").exists())
      assert(!new java.io.File(s"$out/trips.old").exists())
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  test("an interrupted run cancels its models' Spark jobs") {
    val out = java.nio.file.Files.createTempDirectory("graft_pipeline_cancel").toString
    try assertInterruptCancels("sleepy") {
      PipelineRunner.runModels(spark, sf, out,
        Seq(PipelineRunner.Model("sleepy", Nil, "", (s, _) => sleepyFrame(s))))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  test("models are read with the schema they were written with: no inference job") {
    val out = java.nio.file.Files.createTempDirectory("graft_pipeline_schema").toString
    try withSfCopy { dir =>
      PipelineRunner.run(spark, dir, out)
      // a parquet read without a schema starts one "parquet at ..." job
      val jobs = events(GoldFact.build(spark, dir)).collect {
        case j: SparkListenerJobStart => j.stageInfos.map(_.name).mkString(", ")
      }
      assert(!jobs.exists(_.contains("parquet at")), jobs.mkString("; "))
      PipelineRunner.models.foreach { m =>
        assert(PipelineRunner.table(spark, dir, m.name).schema ==
          spark.read.parquet(s"$out/${m.name}").schema, m.name)
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  test("the fact and check oracles compile each model's one SQL body, in deps order") {
    val ms = PipelineRunner.models
    val order = PipelineRunner.waves(ms).flatten.map(_.name)
    def cte(m: PipelineRunner.Model) = s"${m.name} AS (\n${m.sql})"
    for (sql <- Seq(GoldFact.fctTripsSql, Quality.reportSql)) {
      assert("""\bnull\b""".r.findFirstIn(sql).isEmpty, sql)
      ms.foreach(m => assert(sql.split(java.util.regex.Pattern.quote(m.sql), -1).length == 2, m.name))
      val at = ms.map(m => m.name -> sql.indexOf(cte(m))).toMap
      assert(order.map(at) == order.map(at).sorted && !at.values.exists(_ < 0), at)
    }
    val fact = ms.find(_.name == "fct_trips").get.sql
    assert("""\b(lineitem|nation|region)\b""".r.findFirstIn(fact).isEmpty, fact)
  }

  test("topo order puts fct last and respects declared deps") {
    assert(PipelineRunner.waves(PipelineRunner.models).map(_.map(_.name)) == Seq(
      Seq("stg_trips_unified", "dim_date", "dim_zone", "dim_payment_type", "dim_rate_code"),
      Seq("fct_trips")))
  }
}

class ApproxSpec extends SparkSuite {

  test("sketch aggregates land within error bounds of the exact values") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val approx = Analytics.approxStats(spark, "/root/testdata/sf0.01")
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val exactDistinct = Analytics.distinctCounts(spark, "/root/testdata/sf0.01")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exactP50 = graft.sources.Tables.lineitem(spark, "/root/testdata/sf0.01")
      .groupBy($"l_returnflag")
      .agg(expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY l_extendedprice)").as("p50"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    exactDistinct.foreach { case (flag, distinctParts) =>
      val (approxP50, approxParts) = approx(flag)
      val hllErr = math.abs(approxParts - distinctParts).toDouble / distinctParts
      assert(hllErr < 0.1, s"$flag: HLL rel err $hllErr")
      val p50Err = math.abs(approxP50 - exactP50(flag)) / exactP50(flag)
      assert(p50Err < 0.05, s"$flag: approx_percentile rel err $p50Err")
    }
  }

  test("count-min sketch brackets the exact heavy-hitter counts (mergeable one-pass scale path)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the sketch is built DISTRIBUTED (partial sketches per partition,
    // merged counter-wise — order-independent), probed on the driver:
    // the one-pass approximate twin of TextAnalysis.heavyHitters for
    // corpora where even the token aggregate's shuffle is too big
    val toks = graft.sources.Tables.documents(spark, sf)
      .select(explode(split(trim(lower($"text")), "\\s+")).as("token"))
      .filter($"token" =!= "")
    val eps = 0.001
    val sketchBytes = toks
      .agg(expr(s"count_min_sketch(token, CAST($eps AS DOUBLE), CAST(0.99 AS DOUBLE), 42)"))
      .head().getAs[Array[Byte]](0)
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(sketchBytes))
    val total = toks.count()
    val exact = graft.functions.TextAnalysis.heavyHitters(spark, sf, k = 10)
      .select($"token", $"n_occurrences").as[(String, Long)].collect()
    exact.foreach { case (token, n) =>
      val est = cms.estimateCount(token)
      assert(est >= n, s"$token: CMS can only over-count ($est < $n)")
      assert(est <= n + (eps * total).toLong + 1,
        s"$token: estimate $est outside eps bound of $n (total=$total)")
    }
  }
}

class DedupSpec extends SparkSuite {
  import spark.implicits._

  test("shingles: empty/short text yields empty array, no down-counting sequence") {
    val df = Seq("", "one", "one two", "one two three", "a b c d")
      .toDF("text").select(Dedup.shingles(col("text")).as("sh"))
    val sizes = df.select(size($"sh")).collect().map(_.getInt(0)).toSeq
    assert(sizes == Seq(0, 0, 0, 1, 2))
  }

  test("sorted_shingles expression equals the composable HOF chain, byte for byte") {
    // the fused codegen expression vs its differential oracle
    // (sort_array(array_distinct(transform(...)))) over the real corpus
    // — including empty/short docs and every engineered near-dup
    val toks = graft.sources.Tables.documents(spark, "/root/testdata/sf0.01")
      .select($"doc_id", Dedup.tokens($"text").as("t"))
    val fused = toks.select($"doc_id",
      graft.plans.ShingleExpression.sortedShingles($"t").as("sh"))
    val hof = toks.select($"doc_id",
      sort_array(Dedup.shinglesFromTokens($"t")).as("sh"))
    assert(fused.exceptAll(hof).count() == 0)
    assert(hof.exceptAll(fused).count() == 0)
    assert(fused.count() == 500)
    // and via spark.sql (the session registers the SQL functions)
    val viaSql = spark.sql("SELECT sorted_shingles(array('a','b','c','a','b','c','x')) AS sh")
      .collect().head.getSeq[String](0)
    assert(viaSql == Seq("a b c", "b c a", "b c x", "c a b").sorted)
  }

  test("prefix-filtered jaccard join equals the naive sparse join (completeness)") {
    val fast = Dedup.ngramJaccardPairs(spark, "/root/testdata/sf0.01", 0.5)
    val naive = Dedup.ngramJaccardPairsNaive(spark, "/root/testdata/sf0.01", 0.5)
    assert(fast.exceptAll(naive).count() == 0)
    assert(naive.exceptAll(fast).count() == 0)
    assert(naive.count() > 0)
  }

  test("minhash-LSH finds the engineered near-dups with exact-verified precision") {
    val lsh = Dedup.minhashDupPairs(spark, "/root/testdata/sf0.01", 0.9)
    val exact = Dedup.ngramJaccardPairs(spark, "/root/testdata/sf0.01", 0.9)
    val l = lsh.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val e = exact.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(l == e, s"LSH=${l.size} exact=${e.size}")
    assert(e.nonEmpty)
  }

  test("dup clusters: keeper is the min member; every paired doc is labeled") {
    val clusters = Dedup.dupClusters(spark, "/root/testdata/sf0.01", 0.9)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = Dedup.ngramJaccardPairs(spark, "/root/testdata/sf0.01", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(clusters.contains(a) && clusters.contains(b))
      assert(clusters(a) == clusters(b), s"pair ($a,$b) split across clusters")
      assert(clusters(a) <= math.min(a, b))
    }
    // keeper is itself a member of the cluster
    clusters.values.foreach(k => assert(clusters(k) == k))
  }

  test("minhash banded pipeline: bounded shuffle budget, no cartesian") {
    // pins the groupBy + left-semi bucket-prune shape: the agg shuffle
    // is combiner-reduced to one row per bucket per map task, the
    // surviving bucket list is collision-bounded so AQE broadcasts the
    // semi-join (banded never shuffles into it), and only the FILTERED
    // active frame pays the self-join exchanges — a window count would
    // shuffle the full banded frame and buffer each hot bucket in one
    // task BEFORE the cap could drop it. Budget: sig repartition +
    // bucket agg + self-join exchanges + candidate distinct + 2 verify
    // joins + result sort, with AQE coalescing/broadcast on top.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def shuffles(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      val seen = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
      def walk(p: SparkPlan): Unit = if (seen.add(p)) p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case other => other.children.foreach(walk)
      }
      walk(df.queryExecution.executedPlan)
      import scala.jdk.CollectionConverters._
      seen.asScala.count(_.isInstanceOf[ShuffleExchangeLike])
    }
    // the capped entry builds the full pipeline inline (no staged
    // parquet shortcut); a sky-high cap keeps it lossless
    val pipeline = Dedup.minhashDupPairs(spark, "/root/testdata/sf0.01", 0.9,
      bucketCap = Some(1000000))
    val n = shuffles(pipeline)
    assert(n <= 8, s"minhash banded pipeline shuffle budget blown: $n")
    val plan = pipeline.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "banded pipeline must stay an equi-join")
  }

  test("simhash: near-identical docs land within small hamming distance") {
    val sh = Dedup.simhash(spark, "/root/testdata/sf0.01")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc pair (98, 290) has Jaccard ≈ 0.99 (engineered dup)
    val d = java.lang.Long.bitCount(sh(98L) ^ sh(290L))
    assert(d <= 6, s"hamming=$d")
  }
}

class SimilaritySpec extends SparkSuite {

  test("knn: brute force returns k ranked neighbors per query, cosine within [-1,1]") {
    val knn = Similarity.knnBruteForce(spark, "/root/testdata/sf0.01", nQueries = 5, k = 5).cache()
    assert(knn.count() == 25)
    assert(knn.filter(col("cosine") > 1.0 || col("cosine") < -1.0).count() == 0)
    val ranks = knn.groupBy("query_id").agg(max("rank").as("m"))
      .select("m").collect().map(_.getInt(0)).toSet
    assert(ranks == Set(5))
    knn.unpersist()
  }

  test("knn-IVF: probes nProbes cells, k results per query, decent recall") {
    val bf = Similarity.knnBruteForce(spark, "/root/testdata/sf0.01", 10, 5)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.knnIvf(spark, "/root/testdata/sf0.01", 10, 5)
    val pairs = ivf.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.nonEmpty)
    val perQuery = ivf.groupBy("query_id").count().collect().map(_.getLong(1))
    assert(perQuery.forall(_ <= 5))
    val recall = (bf intersect pairs).size.toDouble / bf.size
    assert(recall >= 0.2, s"IVF recall@5 too low: $recall")
  }

  test("knn-SQ8: int8 quantize + oversampled exact re-rank recovers the exact top-k") {
    val bf = Similarity.knnBruteForce(spark, "/root/testdata/sf0.01", 10, 5)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sq = Similarity.knnQuantized(spark, "/root/testdata/sf0.01", 10, 5)
    val pairs = sq.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the spec must be EXACTLY as strong as the driver gate: the query
    // is oracle-compared row-for-row against brute force, so anything
    // short of full equality here would let CI pass a failing gate
    assert(pairs == bf, s"SQ8 top-k != exact top-k: missing=${(bf diff pairs).size} " +
      s"extra=${(pairs diff bf).size}")
    // emitted cosines are EXACT: identical values to brute force on the
    // common (query, neighbor) pairs
    val bfCos = Similarity.knnBruteForce(spark, "/root/testdata/sf0.01", 10, 5)
      .select("query_id", "neighbor_id", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    sq.select("query_id", "neighbor_id", "cosine").collect().foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      bfCos.get(key).foreach(c => assert(c == r.getDouble(2), s"cosine drift at $key"))
    }
    // quantization round-trip sanity: quantized dot ≈ exact dot
    import org.apache.spark.sql.functions.{col, lit, abs => sabs}
    import graft.plans.QuantExpressions._
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.01")
      .withColumn("qscale", vectorAbsMax(col("embedding")) / lit(127.0))
      .withColumn("qvec", quantize(col("embedding"), col("qscale")))
      .limit(50)
    val drift = emb.as("a").crossJoin(emb.as("b"))
      .select(sabs(
        quantizedDot(col("a.qvec"), col("b.qvec")) * col("a.qscale") * col("b.qscale") -
          graft.plans.VectorExpressions.dotProduct(col("a.embedding"), col("b.embedding")))
        .as("err"))
      .agg(org.apache.spark.sql.functions.max(col("err"))).collect().head.getDouble(0)
    assert(drift < 0.5, s"quantized dot drift too large: $drift")
  }

  test("knn-LSH: candidates only from the query's bucket; recall@5 sane on clustered data") {
    val bf = Similarity.knnBruteForce(spark, "/root/testdata/sf0.01", 10, 5)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.knnLsh(spark, "/root/testdata/sf0.01", 10, 5)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // single-probe LSH on 12 planes: expect SOME overlap, full recall not guaranteed
    assert(ann.nonEmpty)
    assert((bf intersect ann).nonEmpty)
  }
}

class MultimodalSpec extends SparkSuite {

  test("PNG round-trip: known bytes decode to staged dims and exact pixel lumas") {
    val src = "the quick brown fox jumps over the lazy dog 0123456789"
      .getBytes("UTF-8")
    val n = src.length
    val (ew, eh) = Multimodal.PngCodec.dims(n.toLong)
    val png = Multimodal.PngCodec.encode(src)
    // real container: PNG signature present, IHDR dims at offsets 16-23
    assert(png.take(8).map(_ & 0xFF).toSeq ==
      Seq(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A))
    def be32(off: Int) = (0 until 4).foldLeft(0)((a, i) => (a << 8) | (png(off + i) & 0xFF))
    assert(be32(16) == ew && be32(20) == eh)
    val (w, h, grid) = Multimodal.PngCodec.decode(png)
    assert(w == ew && h == eh)
    // every sampled luma equals the encoder's pure-integer formula
    for (r <- 0 until Multimodal.dhashRows; c <- 0 until Multimodal.dhashCols) {
      val (px, py) = (c * w / Multimodal.dhashCols, r * h / Multimodal.dhashRows)
      val expected = src((py * w + px) % n) & 0xFF
      assert(grid(r * Multimodal.dhashCols + c) == expected,
        s"cell ($r,$c) at ($px,$py)")
    }
  }

  test("WAV round-trip: decoded frame count and PCM bytes equal the source") {
    val src = (0 until 300).map(i => ((i * 37) % 256).toByte).toArray
    val wav = Multimodal.WavCodec.encode(src)
    assert(new String(wav.take(4), "US-ASCII") == "RIFF")
    val (frames, data) = Multimodal.WavCodec.decode(wav)
    assert(frames == src.length.toLong)
    assert(data.toSeq == src.toSeq)
  }

  test("Y4M round-trip: real header parse, FRAME-marker walk, cycled plane bytes") {
    val src = (0 until 500).map(i => ((i * 91 + 7) % 256).toByte).toArray
    val n = src.length
    val y4m = Multimodal.Y4mCodec.encode(src)
    // real container: ASCII magic + parameter tags
    val header = new String(y4m.takeWhile(_ != '\n'.toByte), "US-ASCII")
    assert(header.startsWith("YUV4MPEG2 W"))
    val (ew, eh) = Multimodal.Y4mCodec.dims(n.toLong)
    assert(ew % 2 == 0 && eh % 2 == 0, "YUV convention: even geometry")
    val (w, h, frames, data) = Multimodal.Y4mCodec.decode(y4m)
    assert(w == ew && h == eh)
    assert(frames == Multimodal.Y4mCodec.frameCount(n.toLong))
    assert(data.length == frames * w * h)
    // the cycling identity the oracle replays: plane byte j = src[j mod n]
    (0 until data.length by 37).foreach { j =>
      assert(data(j) == src(j % n), s"plane byte $j")
    }
    // a corrupted marker must fail loudly, not decode garbage
    val broken = y4m.clone()
    broken(header.length + 1) = 'X'.toByte
    intercept[IllegalArgumentException](Multimodal.Y4mCodec.decode(broken))
  }

  test("real decode path agrees with the encoder parameterization on every asset") {
    import spark.implicits._
    val feats = Multimodal.mediaFeatures(spark, sf).cache()
    // image rows: decoded dims equal the staging formulas; luma_sum real
    val badImg = feats.filter($"kind" === "image")
      .filter($"width" =!= (lit(16) + pmod($"n_bytes".cast("long") * 7919, lit(48))).cast("int") ||
        $"height" =!= (lit(16) + pmod($"n_bytes".cast("long") * 104729, lit(48))).cast("int") ||
        $"n_frames" =!= 1 || $"luma_sum".isNull)
    assert(badImg.count() == 0)
    // audio rows: container-decoded frame count = source byte count
    val badAud = feats.filter($"kind" === "audio")
      .filter($"n_frames" =!= $"n_bytes".cast("long") || $"width" =!= 0)
    assert(badAud.count() == 0)
    // video rows: container-parsed geometry/frames equal the staging
    // formulas; luma_sum real (sampled from the demuxed plane stream)
    val badVid = feats.filter($"kind" === "video")
      .filter($"n_frames" =!= (lit(1) + pmod($"n_bytes", lit(16))).cast("long") ||
        $"width" =!= (lit(16) + lit(2) * pmod($"n_bytes".cast("long") * 7919, lit(24))).cast("int") ||
        $"height" =!= (lit(16) + lit(2) * pmod($"n_bytes".cast("long") * 104729, lit(24))).cast("int") ||
        $"luma_sum".isNull)
    assert(badVid.count() == 0)
    feats.unpersist()
  }

  test("media table: binary payload survives round-trip, kinds cycle") {
    val m = Multimodal.mediaTable(spark, sf).cache()
    assert(m.filter(octet_length(col("payload")) === 0).count() == 0)
    assert(m.select("kind").distinct().count() == 3)
    m.unpersist()
  }

  test("frame sample: video-only, every asset yields ceil(n_frames/stride) frames") {
    val fs = Multimodal.frameSample(spark, sf, stride = 4).cache()
    assert(fs.filter(col("kind") =!= "video").count() == 0)
    assert(fs.count() > 0)
    val bad = fs.groupBy("media_id", "n_frames")
      .agg(count(lit(1)).as("n_samples"))
      .filter(col("n_samples") =!= floor((col("n_frames") - 1) / 4) + 1)
    assert(bad.count() == 0)
    fs.unpersist()
  }
}

class StreamingSpec extends SparkSuite {

  test("amortized gates: artifact-read re-invocation equals the first drain") {
    // enrich/sessions/dedup publish their drained result as a per-JVM
    // staged table (the long-lived-pipeline semantic); the second
    // invocation reads the artifact and must be row-identical
    for (q <- Seq("q_stream_enrich", "q_stream_sessions", "q_stream_dedup")) {
      val first = SparkEntry.queries(q)(spark, sf).cache()
      val again = SparkEntry.queries(q)(spark, sf)
      assert(first.count() > 0, q)
      assert(first.exceptAll(again).count() == 0, q)
      assert(again.exceptAll(first).count() == 0, q)
      first.unpersist()
    }
  }

  test("incremental ingest: each run picks up only new files, exactly once") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = tempDir("graft_incremental")
    val (landing, bronze, ckpt) = (s"$base/landing", s"$base/bronze", s"$base/ckpt")
    graft.sources.Tables.prepareEvents(spark, "/root/testdata/sf0.001/events.parquet")
    val src = spark.read.schema(graft.sources.Tables.eventsRaw)
      .parquet("/root/testdata/sf0.001/events.parquet")
    val n = src.count()
    // month 1 arrives
    src.write.parquet(s"$landing/part1")
    val after1 = graft.streaming.EventsStream.incrementalIngest(spark, landing, bronze, ckpt)
    assert(after1 == n, s"first run: $after1 != $n")
    // re-run with nothing new: no duplicates (checkpoint no-op)
    val rerun = graft.streaming.EventsStream.incrementalIngest(spark, landing, bronze, ckpt)
    assert(rerun == n, s"idempotent rerun: $rerun != $n")
    // month 2 arrives (disjoint ids derived from the same testdata)
    src.withColumn("event_id", $"event_id" + lit(10000000L))
      .write.parquet(s"$landing/part2")
    val after2 = graft.streaming.EventsStream.incrementalIngest(spark, landing, bronze, ckpt)
    assert(after2 == 2 * n, s"second run: $after2 != ${2 * n}")
  }

  test("mapGroupsWithState rollup equals the batch groupBy") {
    val streamed = graft.streaming.EventsStream
      .runStatefulUserRollup(spark, "/root/testdata/sf0.001", "t_user_rollup")
    val batch = graft.streaming.EventsStream.userRollupBatch(spark, "/root/testdata/sf0.001")
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
    assert(batch.count() > 0)
  }

  test("structured stream (AvailableNow) equals the batch twin") {
    val streamed = graft.streaming.EventsStream
      .runHourlyStream(spark, "/root/testdata/sf0.001", "t_events_hourly")
    val batch = graft.streaming.EventsStream.hourlyBatch(spark, "/root/testdata/sf0.001")
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
    assert(batch.count() > 0)
  }

  test("stream-stream attribution join equals the batch twin") {
    val streamed = graft.streaming.EventsStream
      .runStreamStreamJoin(spark, "/root/testdata/sf0.001", "t_attribution")
    val batch = graft.streaming.EventsStream
      .attributionBatch(spark, "/root/testdata/sf0.001")
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
    assert(batch.count() > 0)
  }

  test("streaming dedup collapses duplicated arrivals to the batch-distinct result") {
    import spark.implicits._
    val landing = tempDir("graft_dedup_stream_")
    // the same RAW source delivered twice (a re-downloaded month /
    // retried batch — every event_id arrives exactly two times)
    graft.sources.Tables.prepareEvents(spark, "/root/testdata/sf0.001/events.parquet")
    val src = spark.read.schema(graft.sources.Tables.eventsRaw)
      .parquet("/root/testdata/sf0.001/events.parquet")
    src.write.parquet(s"$landing/arrival1")
    src.write.parquet(s"$landing/arrival2")
    val deduped = graft.streaming.EventsStream
      .runStreamingDedup(spark, landing, "t_events_deduped")
    val n = src.count()
    assert(deduped.count() == n,
      s"expected $n deduped rows from ${2 * n} arrivals, got ${deduped.count()}")
    // key set identical to the batch-distinct twin
    val streamIds = deduped.select($"event_id")
    val batchIds = src.select($"event_id").distinct()
    assert(streamIds.exceptAll(batchIds).count() == 0)
    assert(batchIds.exceptAll(streamIds).count() == 0)
  }
}

class IngestSpec extends SparkSuite {

  test("manifest: every table loaded with declared width") {
    val m = graft.sources.Ingest.manifest(spark, sf).cache()
    assert(m.count() == 10)
    assert(m.filter(col("status") =!= "loaded").count() == 0)
    assert(m.filter(col("row_count") <= 0).count() == 0)
    m.unpersist()
  }

  test("missing source becomes a brecha row, not a failure") {
    assert(!graft.sources.Ingest.available("/root/testdata/sf0.001/nope.parquet"))
  }

  test("footer metadata: rows/cols/bytes from the footer alone (S3)") {
    val m = graft.sources.Ingest.footerMeta(spark, "/root/testdata/sf0.001/nation.parquet")
    val df = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    assert(m.rows == df.count())
    assert(m.nCols == df.columns.length)
    assert(m.dataBytes > 0 && m.dataBytes < m.fileBytes,
      "compressed data bytes must be positive and smaller than the file (footer excluded)")
  }

  test("HTTP ingestion: HEAD probe hit / miss->brecha, streamed URL fetch (S1/S5)") {
    // hermetic in-process HTTP server — the reference's CloudFront
    // endpoint shape (HEAD probe, then streamed GET) without egress
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val payload = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/testdata/sf0.001/nation.parquet"))
    server.createContext("/data/nation.parquet",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        if (ex.getRequestMethod == "HEAD") {
          ex.getResponseHeaders.add("Content-Length", payload.length.toString)
          ex.sendResponseHeaders(200, -1)
        } else {
          ex.sendResponseHeaders(200, payload.length)
          ex.getResponseBody.write(payload)
        }
        ex.close()
      })
    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      ex.sendResponseHeaders(404, -1); ex.close()
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      // S1: probe hit and probe miss (the brecha branch), no exceptions
      assert(graft.sources.Ingest.available(s"$base/data/nation.parquet"))
      assert(!graft.sources.Ingest.available(s"$base/data/missing_2099-01.parquet"))
      // S5: fetch streams to local, is idempotent, and the result scans
      val dir = tempDir("graft_fetch_")
      val local = graft.sources.Ingest.fetch(s"$base/data/nation.parquet", dir)
      assert(java.nio.file.Files.size(java.nio.file.Paths.get(local)) == payload.length)
      val again = graft.sources.Ingest.fetch(s"$base/data/nation.parquet", dir)
      assert(again == local, "re-fetch must reuse the downloaded file")
      assert(spark.read.parquet(local).count() ==
        spark.read.parquet("/root/testdata/sf0.001/nation.parquet").count())
      // a failed GET must not leave a torn file behind
      intercept[java.io.IOException] {
        graft.sources.Ingest.fetch(s"$base/data/missing_2099-01.parquet", dir)
      }
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "missing_2099-01.parquet")))
    } finally server.stop(0)
  }
}

class StagedSpec extends SparkSuite {

  test("concurrent requests for one artifact build it exactly once") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import spark.implicits._
    var builds = 0
    def get() = graft.functions.Staged.materialize("conc_probe", spark) {
      builds += 1 // guarded by Staged's lock
      Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    }
    val results = Await.result(
      Future.sequence(List.fill(6)(Future(get().count()))), 60.seconds)
    assert(results.forall(_ == 2L))
    assert(builds == 1, s"artifact built $builds times under contention")
  }

  test("a rewritten input table rebuilds the staged fact in the same JVM") {
    withSfCopy { dir =>
      val before = GoldFact.fctTrips(spark, dir).count()
      halveLineitem(dir)
      val after = GoldFact.fctTrips(spark, dir).count()
      assert(after < before, s"fact count $after after the rewrite, $before before")
    }
  }

  test("a publish that fails mid-write registers nothing") {
    val out = java.nio.file.Files.createTempDirectory("graft_publish_fail").toString
    try {
      val bad = spark.range(10).selectExpr("CAST(raise_error('mid-write') AS BIGINT) AS id")
      val e = intercept[Exception](
        graft.functions.Staged.publish("publish_probe", bad, s"$out/probe")(_.count()))
      assert(String.valueOf(e.getMessage).contains("mid-write"), e)
      assert(!graft.functions.Staged.buildTimes.contains("publish_probe"))
      assert(!new java.io.File(s"$out/probe").exists())
      // the key is not served from the failed table: it builds
      assert(graft.functions.Staged.materialize("publish_probe", spark)(spark.range(3).toDF())
        .count() == 3)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }
}

class SamplingSpec extends SparkSuite {
  import spark.implicits._

  test("hash-bucket sampling: reproducible, partition-independent, rate-accurate") {
    val rates = Map("en" -> 0.5, "zh" -> 0.8)
    val s1 = functions.Sampling.stratifiedSample(spark, sf, rates)
    val s2 = functions.Sampling.stratifiedSample(spark, sf, rates)
    // bitwise repeatable (no RNG, no partition dependence)
    assert(s1.exceptAll(s2).count() == 0 && s2.exceptAll(s1).count() == 0)
    // per-stratum rates within binomial noise; unlisted strata untouched
    val total = graft.sources.Tables.documents(spark, sf)
      .groupBy($"lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = s1.groupBy($"lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rates.foreach { case (lang, r) =>
      val frac = kept(lang).toDouble / total(lang)
      assert(math.abs(frac - r) < 0.15, s"$lang kept $frac, wanted ~$r")
    }
    Seq("es", "de", "fr").foreach(l => assert(kept(l) == total(l), s"$l must be untouched"))
  }

  test("split leakage: finds cross-split near-dup pairs and agrees with recomputation") {
    import spark.implicits._
    // 25/25/50 splits make straddling pairs likely among the 25
    // engineered near-dups — the detector must FIND them, and its
    // labels must agree with the split assignment recomputed directly
    val sfd = "/root/testdata/sf0.01"
    val leaks = functions.Sampling.splitLeakage(spark, sfd, 0.9, 25, 25).cache()
    assert(leaks.count() > 0, "expected at least one straddling pair at 25/25/50")
    def splitOf(id: Long): String = {
      val b = functions.Sampling.bucket(lit(id), "split_v1")
      Seq(id).toDF("x").select(
        when(b < 250, "test").when(b < 500, "val").otherwise("train"))
        .collect().head.getString(0)
    }
    val reported = leaks.collect().map { r =>
      assert(splitOf(r.getLong(0)) == r.getString(3))
      assert(splitOf(r.getLong(1)) == r.getString(4))
      assert(r.getString(3) != r.getString(4))
      (r.getLong(0), r.getLong(1))
    }.toSet
    // COMPLETENESS, independently recomputed: take every staged
    // near-dup pair, reassign splits from scratch, and the straddling
    // set must equal the report exactly — a dropped pair fails here
    val expected = functions.DedupStage.pairs(spark, sfd, 0.9)
      .select($"doc_a", $"doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => splitOf(a) != splitOf(b) }.toSet
    assert(reported == expected,
      s"missing=${(expected diff reported).size} extra=${(reported diff expected).size}")
    leaks.unpersist()
  }

  test("train/val/test: membership is per-document, stable under corpus changes") {
    val full = graft.sources.Tables.documents(spark, sf)
    def assign(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("b", functions.Sampling.bucket($"doc_id", "split_v1"))
      .withColumn("split", when($"b" < 10, "test").when($"b" < 20, "val").otherwise("train"))
      .select($"doc_id", $"split")
    val whole = assign(full).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // removing half the corpus must not move any surviving document
    val half = assign(full.filter($"doc_id" % 2 === 0)).collect()
    half.foreach { r => assert(whole(r.getLong(0)) == r.getString(1)) }
    // the reported matrix covers every (lang, split) with sane counts
    val matrix = functions.Sampling.trainValTest(spark, sf)
    val n = matrix.agg(sum($"n_docs")).collect().head.getLong(0)
    assert(n == full.count())
  }
}

class TextAnalysisSpec extends SparkSuite {

  test("chunking: every token covered exactly once per stride, chunks bounded") {
    import spark.implicits._
    val cs = 64; val st = 48
    val chunks = TextAnalysis.chunkDocuments(spark, sf, cs, st).cache()
    assert(chunks.filter($"n_tokens" <= 0 || $"n_tokens" > cs).count() == 0)
    // last chunk ends exactly at the document's token count:
    // max(chunk_idx)·stride + its n_tokens == n tokens of the doc
    val perDoc = chunks.groupBy($"doc_id")
      .agg(max($"chunk_idx").as("last_idx"),
        max(struct($"chunk_idx", $"n_tokens")).as("last"))
      .select($"doc_id", ($"last_idx" * st + $"last.n_tokens").as("covered"))
    val docTokens = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", size(graft.functions.Dedup.tokens($"text")).as("n"))
      .filter($"n" > 0)
    val mismatched = perDoc.join(docTokens, "doc_id")
      .filter($"covered" =!= $"n").count()
    assert(mismatched == 0, "chunk coverage must end exactly at the last token")
    assert(chunks.select($"doc_id").distinct().count() == docTokens.count())
    chunks.unpersist()
  }

  test("sequence packing: token-conserving, contiguous pack ids per shard") {
    import spark.implicits._
    val packs = TextAnalysis.packChunks(spark, sf, windowTokens = 256).cache()
    val chunkTokens = TextAnalysis.chunkDocuments(spark, sf)
      .agg(sum($"n_tokens")).collect().head.getLong(0)
    // conservation: every chunk's tokens land in exactly one pack
    assert(packs.agg(sum($"pack_tokens")).collect().head.getLong(0) == chunkTokens)
    // per shard: pack ids are 0..max with no holes (the cut is contiguous)
    packs.groupBy($"shard")
      .agg(min($"pack_id").as("lo"), max($"pack_id").as("hi"),
        count(lit(1)).as("n"))
      .collect().foreach { r =>
        assert(r.getLong(1) == 0L, s"shard ${r.getLong(0)}: first pack not 0")
        assert(r.getLong(3) == r.getLong(2) + 1,
          s"shard ${r.getLong(0)}: pack ids not contiguous")
      }
    packs.unpersist()
  }

  test("lang_id: predictions are deterministic and from the closed label set") {
    val preds = TextAnalysis.langId(spark, sf).select("lang_pred")
      .distinct().collect().map(_.getString(0)).toSet
    assert(preds.subsetOf(Set("en", "es", "de", "fr", "zh", "und")))
  }

  test("quality score bounded in [0,1]") {
    val q = TextAnalysis.qualityScore(spark, sf)
    assert(q.filter(col("quality_score") < 0 || col("quality_score") > 1).count() == 0)
  }

  test("token counts: bpe-ish ≥ whitespace tokens on punctuation-bearing text") {
    val t = TextAnalysis.tokenCounts(spark, sf)
    assert(t.filter(col("ws_tokens") <= 0).count() == 0)
  }
}
