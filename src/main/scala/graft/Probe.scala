package graft

/** Dev tool (not part of the driver contract): run named registered
  * queries once (noop-sink semantics via count over the final frame is
  * what Bench times; here we fully execute and then walk the executed
  * plan) and print per-operator metrics — the empirical attribution
  * step of the optimization guide (§1: measure first, §7.2: read the
  * plan). Usage:
  *   tools/run_graft.sh graft.Probe <sfDir> <q1> [q2 ...]
  * Prints, per query: wall seconds (2 runs), then every plan node with
  * its non-zero metrics (rows, time, spill, broadcast size).
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val spark = GraftSession.local()
    SparkEntry.entry(spark).count() // warm-up, untimed

    def walk(p: org.apache.spark.sql.execution.SparkPlan, depth: Int): Unit = {
      val ms = p.metrics.toSeq
        .filter(_._2.value > 0)
        .sortBy(_._1)
        .map { case (k, m) => s"$k=${m.value}" }
        .mkString(" ")
      println("  " + ("  " * depth) + p.nodeName + (if (ms.nonEmpty) s"  [$ms]" else ""))
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.executedPlan, depth + 1)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          walk(q.plan, depth + 1)
        case r: org.apache.spark.sql.execution.ReusedSubqueryExec =>
          walk(r.child, depth + 1)
        case i: org.apache.spark.sql.execution.InputAdapter =>
          walk(i.child, depth + 1)
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec =>
          walk(w.child, depth + 1)
        case other => other.children.foreach(walk(_, depth + 1))
      }
    }

    // stage-build pseudo-queries: time the shared prebuilds exactly as
    // Bench does (single run — the artifact persists afterwards)
    val stages = Map[String, () => Unit](
      "prebuild:dedup" -> (() => graft.functions.DedupStage.prebuild(spark, sfDir)),
      "prebuild:fact" -> (() => { operators.PipelineRunner.table(spark, sfDir, "fct_trips").count(); () }),
      "prebuild:basket" -> (() => operators.BasketStage.prebuild(spark, sfDir)),
      "prebuild:model" -> (() => graft.functions.QualityModel.prebuild(spark, sfDir)))
    args.tail.foreach { q =>
      println(s"===== $q =====")
      if (stages.contains(q)) {
        val t0 = System.nanoTime()
        stages(q)()
        println(f"  wall: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      } else {
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(q)(spark, sfDir)
      df.count()
      val t1 = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      val t0b = System.nanoTime()
      val df2 = SparkEntry.queries(q)(spark, sfDir)
      df2.collect() // collect, not count: executes df2's OWN
      // QueryExecution so the walk below reads real metrics
      val t2 = (System.nanoTime() - t0b) / 1e9
      println(f"  wall: run1=$t1%.2f s run2=$t2%.2f s")
      walk(df2.queryExecution.executedPlan, 0)
      }
    }
    spark.stop()
  }
}
