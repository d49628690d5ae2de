package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.GraftSession
import graft.functions.Staged
import graft.operators._

/** JVM half of the benchmark: sets up, runs one workload's timed passes
  * against the program's public entry points, and writes raw timings,
  * spans and counters to `<work>/raw.json` for `run.py` to reduce.
  *
  * Args (all `--key value`): workload, seconds, trace, work, sf, cores,
  * blocks (dashboard query blocks a timed window runs at least). Pass
  * directories, the warm-up input and the query sequence are
  * prepared by `run.py` under `work`.
  */
object Main {

  final case class Pass(idx: Int, traced: Boolean, wallS: Double, cpuS: Double,
      retainedHeap: Long, span: Int, ok: Boolean, why: String, staged: Seq[(String, Double)],
      codegen: Long, jitMs: Long, gcMs: Long, extra: Seq[(String, Any)])

  final case class Query(name: String, seqIdx: Int, start: Double, end: Double,
      ok: Boolean, planMs: Double, pass: Int)

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuS: Double = osBean.getProcessCpuTime / 1e9
  private val jit = ManagementFactory.getCompilationMXBean
  private def jitMs: Long = jit.getTotalCompilationTime
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  /** Whole-stage/expression classes compiled so far (code-cache misses). */
  private def codegen: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Order-insensitive digest of a result: columns sorted by name, rows
    * rendered and sorted. Equal digests mean equal results. */
  def digest(df: DataFrame, rows: Array[Row]): String = {
    val cols = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => cols.map(i => String.valueOf(r.get(i))).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opt("workload")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = opt("work")
    val sf = opt("sf")
    val minBlocks = opt("blocks").toInt
    val cores = opt("cores").toInt
    val lines = (f: String) => scala.io.Source.fromFile(s"$work/$f").getLines().toVector

    val setupS = ArrayBuffer[(String, Double)]()
    val passes = ArrayBuffer[Pass]()
    val queries = new java.util.concurrent.ConcurrentLinkedQueue[Query]()
    var spark: SparkSession = null
    // a write command's "Arguments:" line starts with its destination; the
    // scans in the same plan name their sources under "Location:" instead
    val attr = new Attribution(s"""Arguments: \\S*$work/gold_out_(\\d+)/(\\w+)""".r)

    def session(): SparkSession = {
      if (spark != null) spark.stop()
      val s = GraftSession.local(cores, "perfbench")
      GraftSession.muteSanctionedWindowWarns()
      s.sparkContext.setLogLevel("ERROR")
      s.sparkContext.addSparkListener(attr)
      s
    }
    def sc = spark.sparkContext

    /** Timed set-up: the session, the workload's fixture, and a warm-up of
      * the JIT and code caches on the session the timed passes then use. */
    def setup(fixture: => Unit)(warmUp: => Unit): Unit = {
      val t = ArrayBuffer(Clock.nowMs)
      spark = session(); t += Clock.nowMs
      fixture; t += Clock.nowMs
      warmUp; t += Clock.nowMs
      setupS ++= Seq("session", "fixture", "warm_up").zip(t.zip(t.tail))
        .map { case (k, (a, b)) => k -> (b - a) / 1e3 }
    }

    /** One timed pass: a pass span (always) around `body`, with CPU, heap
      * and the Staged builds it caused, as the program records them in
      * `Staged.buildTimes` (key → build seconds). */
    def timedPass(idx: Int, tr: Boolean)(body: Int => (Boolean, String, Seq[(String, Any)])): Pass = {
      Trace.layers = tr
      val builtBefore = Staged.buildTimes.keySet
      System.gc()
      val (cg0, jit0, gc0) = (codegen, jitMs, gcMs)
      val c0 = cpuS
      val t0 = Clock.nowMs
      var spanId = 0
      Trace.passThread = Thread.currentThread
      val (ok, why, extra) =
        try Trace.span(sc, "bench.pass", 0, layer = false) {
          spanId = Trace.current
          body(spanId)
        } catch { case e: Throwable => (false, s"threw ${e.getClass.getSimpleName}: ${e.getMessage}", Nil) }
      val wall = (Clock.nowMs - t0) / 1e3
      val cpu = cpuS - c0
      val (cg, jt, gc) = (codegen - cg0, jitMs - jit0, gcMs - gc0)
      Trace.layers = false
      val staged = (Staged.buildTimes -- builtBefore).toSeq.sortBy(_._1)
      PerfbenchBus.drain(sc)
      // what the pass leaves in use: the least heap in use over three full
      // collections, the pauses letting Spark's ContextCleaner drop the
      // broadcast and shuffle state each collection released
      val retained = (0 until 3).map { _ =>
        System.gc()
        Thread.sleep(300)
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      }.min
      Pass(idx, tr, wall, cpu, retained, spanId, ok, why, staged, cg, jt, gc, extra)
    }

    /** Passes over the prepared pass directories until `seconds` elapse.
      * A traced run alternates traced and untraced passes, at least one of
      * each, which gives the tracing overhead from the same run. */
    def passLoop(dirs: Vector[String])(body: (Int, String, Int) => (Boolean, String, Seq[(String, Any)])): Unit = {
      val t0 = Clock.nowMs
      var i = 0
      while (i < dirs.length && (i < (if (traced) 2 else 1) || Clock.nowMs - t0 < seconds * 1e3)) {
        val tr = traced && i % 2 == 0
        passes += timedPass(i, tr)(span => body(i, dirs(i), span))
        i += 1
      }
    }

    workload match {
      case "gold_refresh" =>
        def goldPass(p: Int, dir: String, pass: Int): (Boolean, String, Seq[(String, Any)]) = {
          val out = s"$work/gold_out_$p"
          val counts = Trace.span(sc, "operators.PipelineRunner.run", pass) {
            PipelineRunner.run(spark, dir, out)
          }
          val report = Trace.span(sc, "operators.Quality.report", pass) {
            Quality.report(spark, dir).collect()
          }
          Trace.span(sc, "operators.ClusteredLayout.write", pass) {
            ClusteredLayout.writeClustered(spark, dir, s"$work/gold_clustered_$p")
          }
          val bad = report.filter(_.getLong(1) != 0L).map(_.getString(0))
          val ok = report.length == 32 && bad.isEmpty
          (ok, if (ok) "" else s"quality: ${report.length} checks, failing ${bad.mkString(",")}",
            Seq("checks" -> report.length, "counts" -> counts.toSeq.sortBy(_._1)))
        }
        setup(()) {
          val (ok, why, _) = goldPass(1000, lines("warm_dirs.txt").head, 0)
          require(ok, s"warm-up pass failed: $why")
        }
        passLoop(lines("pass_dirs.txt"))(goldPass)
        // model spans recorded by the listener, placed under their runner span
        Trace.spans.asScala.filter(_.name == "operators.PipelineRunner.run").toVector.foreach { run =>
          val p = passes.find(_.span == run.parent).map(_.idx).getOrElse(-1)
          attr.models.asScala.foreach { case ((pp, model), se) =>
            if (pp == p && se(1) > 0) {
              val name = model match {
                case "stg_trips_unified" => "operators.Silver.build"
                case "fct_trips" => "operators.GoldFact.build"
                case _ => "operators.GoldDims.build"
              }
              Trace.add(name, run.id, run.pass, se(0), se(1))
            }
          }
        }

      case "dashboard" =>
        val names = Vector("monthly_agg", "demand_by_zone", "revenue_tips",
          "duration_percentiles", "hourly_matrix", "speed_band", "coverage_matrix",
          "clustered_monthly_agg")
        var clustered = ""
        def query(name: String): DataFrame = name match {
          case "monthly_agg" => Analytics.monthlyAgg(spark, sf)
          case "demand_by_zone" => Analytics.demandByZone(spark, sf)
          case "revenue_tips" => Analytics.revenueTips(spark, sf)
          case "duration_percentiles" => Analytics.durationPercentiles(spark, sf)
          case "hourly_matrix" => Analytics.hourlyMatrix(spark, sf)
          case "speed_band" => Analytics.speedBand(spark, sf)
          case "coverage_matrix" => Analytics.coverageMatrix(spark, sf)
          case "clustered_monthly_agg" =>
            ClusteredLayout.monthlyAggOn(ClusteredLayout.readClustered(spark, clustered))
        }
        val ref = new java.util.concurrent.ConcurrentHashMap[String, String]()
        val seq = lines("queries.txt")
        val next = new AtomicInteger(0)

        /** Two closed-loop clients drawing from the shared sequence until
          * `secs` elapse (and at least `minBlocks` blocks ran); past the
          * deadline they only finish the current block, so every window runs
          * whole blocks of the query mix. A query without a reference result
          * yet writes its result as the reference: run.py checks it against
          * the oracle, and every later run of the query must reproduce its
          * digest. */
        def clients(w: Int, pass: Int, secs: Double, minBlocks: Int = 0): Unit = {
          val deadline = Clock.nowMs + secs * 1e3
          val floor = next.get + minBlocks * names.length
          val stopAt = new AtomicInteger(Int.MaxValue)
          def claim(): Int = {
            val i = next.getAndIncrement()
            if (Clock.nowMs >= deadline)
              stopAt.compareAndSet(Int.MaxValue, (i + names.length - 1) / names.length * names.length)
            i
          }
          val threads = (0 until 2).map { c =>
            val t = new Thread(() => {
              var i = claim()
              while (i < seq.length && (i < floor || i < stopAt.get)) {
                val n = seq(i)
                val t0 = Clock.nowMs
                var ok = false
                var planMs = 0.0
                try Trace.span(sc, s"operators.Analytics.$n", pass) {
                  val df = query(n)
                  val rows = df.collect()
                  // blocks overlap across the two clients: the other one may
                  // reach this query again while its reference is being
                  // written, and waits for it here
                  val expected = ref.computeIfAbsent(n, _ => {
                    spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
                      .write.parquet(s"$work/ref/$n")
                    val back = spark.read.parquet(s"$work/ref/$n")
                    digest(back, back.collect())
                  })
                  ok = digest(df, rows) == expected
                  val phases = df.queryExecution.tracker.phases
                  planMs = phases.values.map(_.durationMs).sum.toDouble
                  if (Trace.layers) phases.foreach { case (phase, t) =>
                    Trace.add(s"plans.$phase", Trace.current, pass, t.startTimeMs, t.endTimeMs)
                  }
                } catch { case _: Throwable => ok = false }
                queries.add(Query(n, i, t0, Clock.nowMs, ok, planMs, w))
                i = claim()
              }
            }, s"perfbench-client-$c")
            t.start(); t
          }
          threads.foreach(_.join())
          // the claims that stopped the clients ran nothing: the next window
          // starts at the block boundary they stopped at
          next.set(math.max(floor, stopAt.get))
        }

        setup {
          clustered = s"$work/dash_clustered"
          ClusteredLayout.writeClustered(spark, sf, clustered)
        } {
          // an untimed reference block, then two untimed warm-up blocks
          clients(-1, 0, 0, minBlocks = 3)
          require(queries.asScala.forall(_.ok), "a warm-up query returned a wrong result")
          queries.clear()
        }
        // one window of `seconds` and at least `minBlocks` blocks, so the
        // latency percentiles always rank the same number of samples; a
        // traced run splits it into a traced and an untraced half (a block
        // or more each), which gives the tracing overhead
        val windows =
          if (traced) Seq((true, seconds / 2, 1), (false, seconds / 2, 1))
          else Seq((false, seconds, minBlocks))
        windows.zipWithIndex.foreach { case ((tr, secs, blocks), w) =>
          passes += timedPass(w, tr) { pass =>
            clients(w, pass, secs, blocks)
            val bad = queries.asScala.count(q => q.pass == w && !q.ok)
            (bad == 0, if (bad == 0) "" else s"$bad queries returned a wrong result", Nil)
          }
        }
    }
    PerfbenchBus.drain(sc)

    // environment record: recorded only, never used to drop a run
    val rt = Runtime.getRuntime
    val info = Seq("nproc" -> rt.availableProcessors(), "cores" -> cores,
      "heap_max_mb" -> rt.maxMemory() / (1 << 20),
      "jdk" -> System.getProperty("java.runtime.version"), "spark" -> spark.version,
      "probe_spin_s" -> graft.Sentinel.spinSeconds(),
      "probe_disk_s" -> graft.Sentinel.diskSeconds(32),
      "probe_membw_s" -> graft.Sentinel.membwSeconds(64, 8))
    spark.stop()
    writeRaw(s"$work/raw.json", setupS.toMap, passes.toSeq, queries.asScala.toSeq,
      attr.stagedEnd.asScala.toMap, info)
  }

  // ---- raw output -------------------------------------------------------

  private def js(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case (k: String, x) => s"[${js(k)}, ${js(x)}]"
    case m: Map[_, _] => m.map { case (k, x) => s"${js(k.toString)}: ${js(x)}" }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(js).mkString("[", ", ", "]")
    case o => js(o.toString)
  }

  private def writeRaw(path: String, setup: Map[String, Double], passes: Seq[Pass],
      queries: Seq[Query], stagedEnd: Map[String, Double], info: Seq[(String, Any)]): Unit = {
    val spans = Trace.spans.asScala.toSeq.map { s =>
      val c = Trace.counters.get(s.id)
      val cm: Map[String, Any] = if (c == null) Map.empty else Map(
        "jobs" -> c.jobs.get, "tasks" -> c.tasks.get, "run_ms" -> c.runMs.get,
        "gc_ms" -> c.gcMs.get, "in_bytes" -> c.inBytes.get, "in_rows" -> c.inRows.get,
        "out_bytes" -> c.outBytes.get, "shuffle_write" -> c.shuffleWrite.get,
        "spill" -> c.spill.get)
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "pass" -> s.pass,
        "start" -> s.start, "end" -> s.end, "counters" -> cm)
    }
    val doc = Map(
      "setup_s" -> setup,
      "passes" -> passes.map(p => Map("idx" -> p.idx, "traced" -> p.traced,
        "wall_s" -> p.wallS, "cpu_s" -> p.cpuS, "retained_heap" -> p.retainedHeap,
        "span" -> p.span, "ok" -> p.ok, "why" -> p.why, "staged" -> p.staged.toMap,
        "codegen" -> p.codegen, "jit_ms" -> p.jitMs, "gc_ms" -> p.gcMs,
        "extra" -> p.extra.toMap)),
      "queries" -> queries.map(q => Map("name" -> q.name, "idx" -> q.seqIdx, "start" -> q.start,
        "end" -> q.end, "ok" -> q.ok, "plan_ms" -> q.planMs, "pass" -> q.pass)),
      "spans" -> spans,
      "staged_end" -> stagedEnd,
      "oracle_sql" -> Map(
        "dashboard" -> graft.SparkEntry.oracleSql.filter { case (k, _) =>
          Set("q_monthly_agg", "q_demand_by_zone", "q_revenue_tips",
            "q_duration_percentiles", "q_hourly_matrix", "q_speed_band",
            "q_coverage_matrix").contains(k) },
        "silver" -> Silver.silverUnionSql, "fct" -> GoldFact.fctTripsSql,
        "dim_date" -> GoldDims.dimDateSql, "dim_zone" -> GoldDims.dimZoneSql,
        "dim_payment_type" -> GoldDims.dimPaymentTypeSql,
        "dim_rate_code" -> GoldDims.dimRateCodeSql),
      "info" -> info.toMap)
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.write(js(doc)) finally w.close()
  }
}
