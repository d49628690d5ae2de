package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators._

/** Physical-plan invariants — the scale contract, asserted.
  *
  * Correctness says what a query returns; these tests pin HOW: filters
  * reach the parquet scan, column pruning holds, small dims broadcast,
  * the hot vector path stays inside WholeStageCodegen, and partition
  * pruning fires on the clustered layout. A regression here is a silent
  * 10-100× cliff at 100 TB even though every oracle still matches.
  */
class PlanSpec extends SparkSuite {

  private def planOf(df: DataFrame): String = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    df.collect() // force AQE final plan
    // AQE prints materialized stages as opaque references — expand them
    def walk(p: SparkPlan): Seq[String] = {
      val nested = p.collect {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
      }.flatten
      p.toString +: nested
    }
    walk(df.queryExecution.executedPlan).mkString("\n---\n")
  }

  test("flagship scan: date filter pushed to parquet, columns pruned") {
    val plan = Analytics.monthlyAgg(spark, sf).queryExecution
      .executedPlan.toString
    assert(plan.contains("PushedFilters: ["), plan.take(800))
    assert(plan.contains("l_shipdate"), "pushed filter must name l_shipdate")
    // projection prunes to the 3 referenced columns
    assert(!plan.contains("l_orderkey"), "unused columns must not be read")
  }

  test("tpch q6: all range predicates pushed to the scan, no shuffle") {
    val df = graft.operators.TpchQueries.q6(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // the query's whole cost model is min/max row-group skipping — every
    // predicate must reach the parquet reader
    val pushed = plan.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    Seq("l_shipdate", "l_discount", "l_quantity").foreach(c =>
      assert(pushed.contains(c), s"$c not pushed: $pushed"))
    // scalar aggregate: partial sums merge over a single-partition
    // exchange only — no keyed shuffle. Must execute first and walk
    // through the adaptive wrapper: a collect{} on the pre-execution
    // plan never descends into AdaptiveSparkPlanExec (a leaf) and would
    // pass vacuously
    df.collect()
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    var keyed = 0
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case s: ShuffleExchangeLike =>
        if (s.outputPartitioning.numPartitions > 1) keyed += 1
        s.children.foreach(walk)
      case other => other.children.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    assert(keyed == 0, "q6 must not shuffle on a key")
  }

  test("tpch q4: EXISTS compiles to a left-semi join (no inner-join + distinct blowup)") {
    val plan = planOf(graft.operators.TpchQueries.q4(spark, sf))
    assert(plan.contains("LeftSemi"), plan.take(800))
    assert(!plan.contains("Distinct"), "semi join must not need a dedup")
  }

  test("demand query: dims broadcast, fact side never broadcast") {
    val plan = planOf(Analytics.demandByZone(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan.take(500))
    // nation+region enter via BroadcastExchange; orders must not
    val broadcasts = plan.split("BroadcastExchange").length - 1
    assert(broadcasts >= 2, s"expected >=2 broadcast exchanges, got $broadcasts")
  }

  test("top-k compiles to TakeOrderedAndProject, not a global sort") {
    val plan = Analytics.demandByZone(spark, sf).queryExecution
      .executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(500))
  }

  test("custom vector expressions run inside WholeStageCodegen") {
    val knn = graft.functions.Similarity.knnBruteForce(spark, "/root/testdata/sf0.01", 3, 3)
    val plan = planOf(knn)
    // `*(n)` prefixes mark WholeStageCodegen stages in the plan string:
    // the scoring Project containing dotproduct must carry one
    val scoringLines = plan.split("\n").filter(_.contains("dotproduct"))
    assert(scoringLines.nonEmpty, plan.take(1200))
    assert(scoringLines.exists(_.contains("*(")),
      s"dotproduct not inside a codegen stage:\n${scoringLines.mkString("\n")}")
  }

  test("LSH sign-signature plan: codegen dot products, no interpreted HOFs") {
    // the bucket assignment used to be aggregate(zip_with(...)) — an
    // interpreted per-element lambda per plane (the measured 20-55×
    // cliff). It must stay expressed as the codegen DotProduct.
    val plan = planOf(graft.functions.Similarity.knnLsh(spark, "/root/testdata/sf0.01", 5, 3))
    assert(!plan.contains("aggregate("), "interpreted HOF found in knn_lsh plan")
    assert(!plan.contains("zip_with"), "interpreted HOF found in knn_lsh plan")
    val sigLines = plan.split("\n").filter(_.contains("dotproduct"))
    assert(sigLines.nonEmpty, plan.take(1200))
    assert(sigLines.exists(_.contains("*(")),
      s"sign-signature dotproduct not inside a codegen stage:\n${sigLines.take(3).mkString("\n")}")
  }

  test("sampling filters evaluate on the scan; packing window is shard-partitioned") {
    // sampling: a narrow filter pipeline — no shuffle at all before the
    // final presentation sort
    val sample = graft.functions.Sampling.stratifiedSample(
      spark, "/root/testdata/sf0.01", Map("en" -> 0.5))
    // limit + orderBy compiles to TakeOrderedAndProject: the whole
    // sampled read must be scan → filter → top-k with NO exchange and
    // no window — the narrow no-shuffle shape the scaladoc promises
    val sPlan = planOf(sample.limit(5))
    assert(sPlan.contains("FileScan"), sPlan.take(400))
    assert(!sPlan.contains("Exchange"), "sampling must not shuffle:\n" + sPlan.take(800))
    assert(!sPlan.contains("Window"), "sampling must not window:\n" + sPlan.take(800))
    // packing: the running sum must be partitioned by shard — an
    // unpartitioned window would funnel the corpus through one task
    val pack = graft.functions.TextAnalysis.packChunks(spark, "/root/testdata/sf0.01")
    val pPlan = planOf(pack.limit(5))
    assert(pPlan.contains("Window"), pPlan.take(400))
    // Window prints as `windowspecdefinition(shard#N, ...)`, and the
    // node's partition spec is the first bracketed list after the
    // projection: `], [shard#13L], [doc_id ...`
    assert(pPlan.contains("windowspecdefinition(shard"),
      "packing window must be partitioned by shard:\n" +
        pPlan.split("\n").filter(_.contains("Window")).mkString("\n"))
  }

  test("shuffle budget: flagship agg <= 2 exchanges; demand query <= 5") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // structural count of DISTINCT shuffle nodes (the plan-string form
    // renders stages repeatedly and over-counts)
    def shuffles(df: DataFrame): Int = {
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
    // monthly agg: scan → partial agg → ONE shuffle → final agg
    // (+ at most a result-sort exchange on the 36-row output)
    val flag = shuffles(Analytics.monthlyAgg(spark, sf))
    assert(flag <= 2, s"flagship should shuffle once (+result sort), saw $flag")
    // demand: pre-agg shuffle + customer join + re-agg; dims broadcast
    val demand = shuffles(Analytics.demandByZone(spark, sf))
    assert(demand <= 5, s"demand query exchange budget blown: $demand")
  }

  test("clustered layout: partition pruning reads only the filtered year") {
    val dir = tempDir("graft_plan_spec_clustered")
    ClusteredLayout.writeClustered(spark, sf, dir)
    val pruned = ClusteredLayout.readClustered(spark, dir)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(800))
    val years = spark.read.parquet(dir)
      .select("ship_year").distinct().count()
    assert(years > 1, "layout must actually span multiple years")
    assert(pruned.select("ship_year").distinct().count() == 1)
  }

  test("dynamic partition pruning: runtime dim filter prunes fact partitions") {
    import spark.implicits._
    val (dir, dimDir) = (tempDir("graft_plan_spec_dpp"), tempDir("graft_plan_spec_dpp-dim"))
    ClusteredLayout.writeClustered(spark, sf, dir)
    // the year filter lives on the DIM side only — the fact's partition
    // filter must be injected at runtime (DPP), not statically. Two
    // traps this test pins: the dim must be file-backed (a LocalRelation
    // constant-folds the filter away before DPP's selective-predicate
    // detection), and the predicate must survive as EqualTo(attr, lit)
    // (a boolean flag simplifies to a bare attribute, which fails
    // isLikelySelective).
    (1995 to 2001).map(y => (y, if (y == 2000) "target" else "other"))
      .toDF("y", "label").write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir).filter($"label" === "target")
    // aggregate real data columns — a partition-column-only scan has ~0
    // estimated size and DPP's benefit check would skip the filter
    val q = spark.read.parquet(dir)
      .join(dim, $"ship_year" === $"y")
      .groupBy($"ship_year")
      .agg(sum($"l_extendedprice").as("rev"), count(lit(1)).as("n"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), plan.take(1200))
    assert(q.collect().map(_.getInt(0)).toSeq == Seq(2000))
  }

  test("fact build: every dim join is a broadcast join (no fact shuffle per dim)") {
    // assert on the BUILDER: the query surface reads the materialized
    // fact (PipelineRunner.table), whose plan is just a parquet scan
    val plan = planOf(GoldFact.build(spark, sf).limit(1))
    val bhj = plan.split("BroadcastHashJoin").length - 1
    assert(bhj >= 4, s"expected >=4 broadcast dim joins, got $bhj\n${plan.take(800)}")
    // the dims are read as tables: their SK windows never reach the fact
    val windows = graft.plans.WindowAudit.globalWindows(
      GoldFact.build(spark, sf).queryExecution.optimizedPlan)
    assert(windows == 0, s"$windows global windows in the fact plan")
  }

  test("weighted sample: TakeOrderedAndProject, no global sort of the corpus") {
    val df = graft.functions.Sampling.weightedSample(spark, sf, k = 20)
    val plan = planOf(df)
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
    // the inner top-k must not materialize as a full Sort+Exchange of
    // the corpus; the only Sort allowed is the k-row doc_id re-sort
    val sortLines = plan.split("\n").filter(l =>
      l.trim.startsWith("+- Sort") || l.trim.startsWith("Sort"))
    assert(sortLines.length <= 1, sortLines.mkString("\n"))
  }

  test("substring spans: fused ngrams in plan, no interpreted transform lambda") {
    val df = graft.functions.Dedup.substringSpans(spark, sf, k = 5, minSpan = 8)
    val plan = planOf(df)
    assert(plan.contains("ngrams"), plan.take(800))
    assert(!plan.toLowerCase.contains("lambdafunction"),
      "interpreted HOF left in the gram path")
    assert(plan.contains("row_number"), plan.take(800))
  }

  test("contamination: bench side broadcasts, fused gram expression in plan") {
    val df = graft.functions.Decontaminate.contamination(spark, sf)
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    assert(plan.contains("ngrams"), "fused gram expression missing")
  }
}

class ScaleToolsSpec extends SparkSuite {
  import org.apache.spark.sql.functions._

  test("co-bucketed join plans with NO shuffle exchange (the 100TB fact-fact shape)") {
    import spark.implicits._
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      graft.sources.Tables.lineitem(spark, sf)
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("li_bucketed")
      graft.sources.Tables.orders(spark, sf)
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("o_bucketed")
      val joined = spark.table("li_bucketed")
        .join(spark.table("o_bucketed"), $"l_orderkey" === $"o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n${plan.take(900)}")
      assert(joined.count() > 0)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS o_bucketed")
    }
  }

  test("runtime bloom filter injects on a selective-dim shuffle join (100TB shuffle-volume lever)") {
    import spark.implicits._
    // the local threshold defaults assume cluster-sized scans; lower the
    // application-side floor so injection fires on test data. At real
    // scale the defaults (10 GB scan) gate it to exactly the joins that
    // matter: a selectively-filtered creation side pre-prunes the fact
    // shuffle instead of shipping every row to the join.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    try {
      val li = graft.sources.Tables.lineitem(spark, sf)
      val sel = graft.sources.Tables.orders(spark, sf)
        .filter($"o_orderstatus" === "F")
      val joined = li.join(sel, $"l_orderkey" === $"o_orderkey")
      val opt = joined.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain"),
        s"expected an injected bloom runtime filter on the fact side:\n${opt.take(900)}")
      assert(joined.count() > 0)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.enabled")
      spark.conf.unset(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    }
  }

  test("salted aggregate equals the direct aggregate (skew repair, exact)") {
    val direct = graft.sources.Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity").cast("decimal(27,6)")).cast("double").as("sum_l_quantity"),
        count(lit(1)).as("n_rows"))
    val salted = graft.functions.Skew.saltedAggregate(
      graft.sources.Tables.lineitem(spark, sf), "l_returnflag", "l_quantity")
    assert(salted.exceptAll(direct).count() == 0)
    assert(direct.exceptAll(salted).count() == 0)
  }

  test("salted join equals the plain join") {
    import spark.implicits._
    val li = graft.sources.Tables.lineitem(spark, sf).select($"l_orderkey", $"l_quantity")
    val o = graft.sources.Tables.orders(spark, sf).select($"o_orderkey", $"o_orderpriority")
    val plain = li.join(o, $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority").agg(count(lit(1)).as("n"))
    val (bigS, smallS) = graft.functions.Skew.saltedJoinKeys(
      li.withColumnRenamed("l_orderkey", "k"), o.withColumnRenamed("o_orderkey", "k"), "k")
    val saltedJoin = bigS.join(smallS.withColumnRenamed("k", "k2").withColumnRenamed("_salt", "_salt2"),
        bigS("k") === col("k2") && bigS("_salt") === col("_salt2"))
      .groupBy($"o_orderpriority").agg(count(lit(1)).as("n"))
    assert(saltedJoin.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(saltedJoin).count() == 0)
  }
}

class AsOfExecSpec extends SparkSuite {
  import org.apache.spark.sql.functions._

  test("custom AsOfJoinExec equals the composition (differential oracle)") {
    import spark.implicits._
    val sfd = "/root/testdata/sf0.01"
    val left = graft.sources.Tables.events(spark, sfd)
      .select($"event_id", $"user_id", $"ts")
    val right = graft.sources.Tables.events(spark, sfd)
      .groupBy($"user_id".as("d_user"), date_trunc("day", $"ts").as("day_ts"))
      .agg(graft.functions.Exact.sumExact($"value").as("day_value"))
    val native = graft.plans.AsOfJoinNative.asofJoin(
        left, right, "user_id", "d_user", "ts", "day_ts")
      .select($"event_id", $"user_id", to_date($"day_ts").as("matched_day"), $"day_value")
    val composed = graft.operators.AsOfJoin.eventsAsOfDaily(spark, sfd)
      .select($"event_id", $"user_id", $"matched_day", $"day_value")
    assert(native.exceptAll(composed).count() == 0)
    assert(composed.exceptAll(native).count() == 0)
    assert(composed.count() > 0)
  }

  test("AsOfJoinExec: direct collect works (UnsafeRow contract) and null keys drop") {
    import spark.implicits._
    val sfd = "/root/testdata/sf0.001"
    val base = graft.sources.Tables.events(spark, sfd).select($"event_id", $"user_id", $"ts")
    val right = graft.sources.Tables.events(spark, sfd)
      .groupBy($"user_id".as("d_user"), date_trunc("day", $"ts").as("day_ts"))
      .agg(count(lit(1)).as("n"))
    // no projection between the exec and collect — exercises the
    // operator's own UnsafeRow output path
    val direct = graft.plans.AsOfJoinNative.asofJoin(
      base, right, "user_id", "d_user", "ts", "day_ts").collect()
    assert(direct.length == base.count())
    // null-keyed left rows are dropped (inner semantics, both oracles agree)
    val withNulls = base.withColumn("user_id",
      when($"event_id" % 10 === 0, lit(null).cast("long")).otherwise($"user_id"))
    val n = graft.plans.AsOfJoinNative.asofJoin(
      withNulls, right, "user_id", "d_user", "ts", "day_ts").count()
    assert(n == withNulls.filter($"user_id".isNotNull).count())
  }

  test("AsOfJoinExec left_outer: unmatched and null-keyed left rows kept with null right") {
    import spark.implicits._
    val sfd = "/root/testdata/sf0.001"
    val base = graft.sources.Tables.events(spark, sfd).select($"event_id", $"user_id", $"ts")
    // right side restricted to half the users — the rest must survive
    // as unmatched left rows with a null payload
    val right = graft.sources.Tables.events(spark, sfd)
      .filter($"user_id" % 2 === 0)
      .groupBy($"user_id".as("d_user"), date_trunc("day", $"ts").as("day_ts"))
      .agg(count(lit(1)).as("n"))
    val withNulls = base.withColumn("user_id",
      when($"event_id" % 10 === 0, lit(null).cast("long")).otherwise($"user_id"))
    val outer = graft.plans.AsOfJoinNative.asofJoin(
      withNulls, right, "user_id", "d_user", "ts", "day_ts", "left_outer")
    // every left row appears exactly once (outer totality)
    assert(outer.count() == withNulls.count())
    // null-keyed left rows carry a null right side
    assert(outer.filter($"user_id".isNull && $"d_user".isNotNull).count() == 0)
    // odd users never match; even users always do (their own day rollup)
    assert(outer.filter($"user_id" % 2 === 1 && $"d_user".isNotNull).count() == 0)
    assert(outer.filter($"user_id" % 2 === 0 && $"d_user".isNull).count() == 0)
    // matched subset == the inner result (outer only ADDS null rows)
    val inner = graft.plans.AsOfJoinNative.asofJoin(
      withNulls, right, "user_id", "d_user", "ts", "day_ts")
    val matched = outer.filter($"d_user".isNotNull)
    assert(matched.exceptAll(inner).count() == 0)
    assert(inner.exceptAll(matched).count() == 0)
  }

  test("AsOfJoinExec (Int key, Date time): differential vs window composition") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // synthetic frames with Int keys and Date times, unique (key, time)
    // on the right (the operator's determinism contract)
    val left = (1 to 200).map(i =>
        (i, i % 7, java.sql.Date.valueOf(f"2024-01-${i % 28 + 1}%02d")))
      .toDF("id", "k", "t")
    val right = (0 until 7).flatMap(k => Seq(5, 12, 20).map(d =>
        (k, java.sql.Date.valueOf(f"2024-01-$d%02d"), k * 100 + d)))
      .toDF("rk", "rt", "payload")
    val native = graft.plans.AsOfJoinNative.asofJoin(
        left, right, "k", "rk", "t", "rt")
      .select($"id", $"k", $"rt", $"payload")
    val w = Window.partitionBy($"id").orderBy($"rt".desc)
    val composed = left.join(right, $"k" === $"rk" && $"rt" <= $"t")
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select($"id", $"k", $"rt", $"payload")
    assert(native.exceptAll(composed).count() == 0)
    assert(composed.exceptAll(native).count() == 0)
    assert(native.count() > 0)
    // left_outer on the same shape: total, matched subset identical
    val outer = graft.plans.AsOfJoinNative.asofJoin(
      left, right, "k", "rk", "t", "rt", "left_outer")
    assert(outer.count() == left.count())
    assert(outer.filter($"rk".isNotNull).count() == native.count())
  }

  test("AsOfJoinExec refuses shared lineage (duplicate exprIds across sides)") {
    import spark.implicits._
    val sfd = "/root/testdata/sf0.001"
    val base = graft.sources.Tables.events(spark, sfd).select($"event_id", $"user_id", $"ts")
    // same analyzed attributes on both sides — the output projection
    // would silently read left values for right columns if allowed
    val ex = intercept[IllegalArgumentException] {
      graft.plans.AsOfJoinNative.asofJoin(
        base, base.filter($"event_id" > 0), "user_id", "user_id", "ts", "ts")
    }
    assert(ex.getMessage.contains("re-alias"))
  }

  test("AsOfJoinExec plan: merge-walk node present, sorted inputs, no window/blow-up join") {
    import spark.implicits._
    val sfd = "/root/testdata/sf0.001"
    val left = graft.sources.Tables.events(spark, sfd).select($"event_id", $"user_id", $"ts")
    val right = graft.sources.Tables.events(spark, sfd)
      .groupBy($"user_id".as("d_user"), date_trunc("day", $"ts").as("day_ts"))
      .agg(count(lit(1)).as("n"))
    val df = graft.plans.AsOfJoinNative.asofJoin(
      left, right, "user_id", "d_user", "ts", "day_ts")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), plan.take(600))
    assert(!plan.contains("Window"), "native path must not fall back to the window composition")
  }
}

class SqlSurfaceSpec extends SparkSuite {

  test("custom expressions callable from spark.sql after registration") {
    val r = spark.sql(
      "SELECT dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d, " +
        "sorted_intersect_size(array('a','b','c'), array('b','c','d')) AS i, " +
        "size(minhash_sig(array(1L, 2L, 3L))) AS k").collect().head
    assert(r.getDouble(0) == 11.0)
    assert(r.getInt(1) == 2)
    assert(r.getInt(2) == 64)
  }

  test("sketch scalars callable from spark.sql: hll_sketch and ddsketch_bin") {
    // hll_sketch: coordinates match the Scala sketch math exactly
    val s = spark.sql(
      "SELECT hll_sketch('abc').reg AS reg, hll_sketch('abc').rho AS rho")
      .collect().head
    import org.apache.spark.sql.functions._
    val expected = spark.range(1)
      .select(graft.functions.Hll.sketchCol(lit("abc")).as("s"))
      .select("s.reg", "s.rho").collect().head
    assert(s.getInt(0) == expected.getInt(0) && s.getInt(1) == expected.getInt(1))
    assert(s.getInt(0) >= 0 && s.getInt(0) < graft.functions.Hll.Registers)
    assert(s.getInt(1) >= 1 && s.getInt(1) <= 61)
    // ddsketch_bin: ⌈ln x / ln γ⌉ with the shared literals
    val b = spark.sql("SELECT ddsketch_bin(100.0D) AS b").collect().head.getInt(0)
    assert(b == math.ceil(math.log(100.0) / graft.functions.DdSketch.LnGamma).toInt)
    // the SQL-only sketch-build shape: GROUP BY the scalar's coordinates
    graft.sources.Tables.registerAll(spark, sf)
    val regs = spark.sql(
      """SELECT source, hll_sketch(text).reg AS reg, MAX(hll_sketch(text).rho) AS r
        |FROM documents GROUP BY 1, 2""".stripMargin)
    assert(regs.count() > 0)
  }

  test("registerAll exposes every testdata table to SQL") {
    graft.sources.Tables.registerAll(spark, sf)
    val n = spark.sql(
      """SELECT count(*) FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderpriority = '1-URGENT'""".stripMargin).collect().head.getLong(0)
    assert(n > 0)
  }

  test("GraftExtensions injects functions at session build") {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
    spark // the shared session (and its SparkContext) exists first
    // getOrCreate would return the shared session, whose functions come
    // from `register`; with the active and default sessions cleared it
    // builds a fresh one, and only the extensions can add them there
    val (active, default) = (SparkSession.getActiveSession, SparkSession.getDefaultSession)
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .withExtensions(new graft.plans.GraftExtensions)
        .getOrCreate()
      assert(s2 ne spark)
      // not stopped: it shares the SparkContext with the shared session
      val injected = s2.sessionState.functionRegistry.listFunction().map(_.funcName).toSet --
        FunctionRegistry.builtin.listFunction().map(_.funcName)
      assert(injected == graft.plans.GraftFunctions.fns.map(_._1).toSet)
      assert(s2.sql("SELECT dot_product(array(1.0D), array(2.0D))")
        .collect().head.getDouble(0) == 2.0)
    } finally {
      active.foreach(SparkSession.setActiveSession)
      default.foreach(SparkSession.setDefaultSession)
    }
  }
}

class SourceFormatsSpec extends SparkSuite {

  test("bronze round-trips through parquet, orc, json with identical contents") {
    val src = graft.sources.Tables.nation(spark, sf)
    Seq("parquet", "orc", "json").foreach { fmt =>
      val back = graft.sources.Ingest.writeBronze(src, tempDir(s"graft_fmt_$fmt"), fmt)
      assert(back.exceptAll(src).count() == 0, fmt)
      assert(src.exceptAll(back).count() == 0, fmt)
    }
  }

  test("text source reads raw lines") {
    import spark.implicits._
    val dir = tempDir("graft_fmt_text")
    graft.sources.Tables.region(spark, sf).select($"r_name")
      .coalesce(1).write.mode("overwrite").text(dir)
    assert(spark.read.text(dir).count() == 5)
  }
}

class CsvSourceSpec extends SparkSuite {

  test("CSV source: header + uppercase normalization round-trip (S5)") {
    import spark.implicits._
    val dir = tempDir("graft_csv_spec")
    // build a zones-lookup-like CSV from the nation table
    graft.sources.Tables.nation(spark, sf)
      .select($"n_nationkey".as("locationid"), $"n_name".as("zone"))
      .coalesce(1).write.mode("overwrite").option("header", "true").csv(dir)
    val back = graft.sources.Ingest.readCsv(spark, dir)
    assert(back.columns.toSeq == Seq("LOCATIONID", "ZONE"))
    assert(back.count() == 25)
  }

  test("CSV malformed rows: PERMISSIVE pads, DROPMALFORMED drops, FAILFAST throws") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_csv_bad_").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/data.csv"),
      "id,amount\n1,10.5\n2,not_a_number\n3,30.0\n".getBytes)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("amount", DoubleType)))
    def read(mode: String) = spark.read
      .option("header", "true").option("mode", mode).schema(schema)
      .csv(dir)
    // PERMISSIVE (the ingestion default): malformed field -> null, row kept
    val permissive = read("PERMISSIVE").collect()
    assert(permissive.length == 3)
    assert(permissive.count(_.isNullAt(1)) == 1)
    // DROPMALFORMED: the bad row disappears. Gotcha pinned on purpose:
    // count() prunes ALL columns, so nothing gets parsed and nothing is
    // "malformed" — count() returns 3 even in this mode. Only a read
    // that materializes the typed columns applies the drop.
    assert(read("DROPMALFORMED").count() == 3)
    assert(read("DROPMALFORMED").collect().length == 2)
    // FAILFAST: the bad row is a loud error, not silent data loss
    val err = intercept[org.apache.spark.SparkException] {
      read("FAILFAST").collect()
    }
    assert(err.getMessage.toLowerCase.contains("malformed") ||
      Option(err.getCause).exists(_.getMessage.toLowerCase.contains("malformed")))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }
}

/** Temperature mixing: surviving counts follow the n^alpha law. */
class TemperatureMixSpec extends SparkSuite {
  import spark.implicits._

  test("smallest domain kept fully; larger domains thinned toward n^alpha") {
    val alpha = 0.5
    val corpus = graft.sources.Tables.documents(spark, sf)
      .groupBy($"lang").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nMin = corpus.values.min
    val kept = graft.functions.Sampling.temperatureMix(spark, sf, alpha)
      .groupBy($"lang").agg(count(lit(1)).as("k")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val minLang = corpus.minBy(_._2)._1
    assert(kept(minLang) == corpus(minLang), "smallest domain must keep all rows")
    corpus.foreach { case (lang, n) =>
      val expected = n * math.pow(n.toDouble / nMin, alpha - 1)
      // hash-bucket binomial noise: allow a generous band, but the en
      // head must be decisively thinned while staying above exact n^α/2
      assert(math.abs(kept(lang) - expected) < 0.35 * expected + 5,
        s"$lang kept ${kept(lang)} vs expected ~$expected of $n")
    }
    // determinism
    val again = graft.functions.Sampling.temperatureMix(spark, sf, alpha)
      .collect().toSeq
    assert(again == graft.functions.Sampling.temperatureMix(spark, sf, alpha)
      .collect().toSeq)
  }
}

/** Plan shapes of the round-5 quantized gate twins: the integer paths
  * must keep the same distribution discipline as their FP scale twins
  * (broadcast the query/centroid side, never shuffle the corpus for
  * model-sized state). */
class QuantGatePlanSpec extends SparkSuite {

  private def hasBroadcast(df: org.apache.spark.sql.DataFrame): Boolean =
    walkPlan(df).exists(p =>
      p.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec] ||
      p.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec])

  test("knnLshQuant joins the corpus against BROADCAST queries") {
    assert(hasBroadcast(graft.functions.Similarity.knnLshQuant(spark, sf)))
  }

  test("knnIvfQuant assigns cells via BROADCAST centroids") {
    assert(hasBroadcast(graft.functions.Similarity.knnIvfQuant(spark, sf)))
  }

  test("quantized gates agree with themselves across runs (determinism)") {
    val a = graft.functions.Similarity.knnLshQuant(spark, sf).collect().toSeq
    val b = graft.functions.Similarity.knnLshQuant(spark, sf).collect().toSeq
    assert(a == b)
  }
}
