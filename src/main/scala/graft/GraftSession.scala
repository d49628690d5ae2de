package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is configured. Every main
  * (`Bench`, `Verify`, `Quality`, `Probe`, `ExplainTool`, `ScaleSoak`),
  * perfbench and the test suite's shared session build it through
  * [[local]], so the oracle gate, the benchmark and the tests run under
  * the same settings (shuffle partitions = cores, AQE on, small
  * maxPartitionBytes for single-file test inputs, UTC, the graft SQL
  * functions registered).
  *
  * It also sizes Spark's codegen cache, a static setting only a session
  * build can set: at Spark's default of 100 entries, a refresh pass
  * (~200 generated classes) and the 7 reference queries (~105) evicted
  * classes they needed again, so every pass recompiled them, cold in the JIT.
  *
  * On a real cluster, build your own session — then only [[configure]]
  * matters: it registers the SQL functions and applies the settings
  * that are scale-independent (UTC, AQE).
  */
object GraftSession {

  /** A `local[cores]` session; `cores` defaults to `SPARK_GRAFT_CPUS`,
    * else 4. Also sets the WARN log level and mutes the sanctioned
    * window warnings. */
  def local(cores: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt),
      appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // 256 of 256/512/1000 tried: a refresh pass compiles 8 classes, not 200; a dashboard block 0, not 42
      .config("spark.sql.codegen.cache.maxEntries", "256")
      .getOrCreate()
    configure(spark)
    spark.sparkContext.setLogLevel("WARN")
    // bounded-frame windows: see SCALE.md "Sanctioned global windows"
    muteSanctionedWindowWarns()
    spark
  }

  /** Cluster-agnostic session setup: UTC semantics (oracle/warehouse
    * parity), AQE, and the graft SQL function surface. */
  def configure(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    graft.plans.GraftFunctions.register(spark)
  }

  /** Raise the WindowExec logger to ERROR (r9 verdict "What's wrong"
    * #3): every `Window.partitionBy()`-less window on the registered
    * surface is a SANCTIONED bounded frame — each site carries a bound
    * comment and the full catalogue lives in SCALE.md ("Sanctioned
    * global windows") — yet the `No Partition Defined` WARN fired 700+
    * times per bench/test run, burying real signals (the r8 DdSketch
    * WARN hid in exactly this spam). Suppressing the CATEGORY (not the
    * level globally) keeps a future real unbounded window findable: it
    * would appear in SCALE.md review, plan audits, and the soak, while
    * the log stays readable. Call after the session is up. */
  def muteSanctionedWindowWarns(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
}
