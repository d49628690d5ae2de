package graft

import org.apache.spark.sql.functions._
import graft.functions.{Pii, TextAnalysis}

/** Specs for the compliance / corpus-quality operators (round 2+). */
class PiiSpec extends SparkSuite {
  import spark.implicits._

  test("pii scan: counts every family on constructed text") {
    val df = Seq(
      (1L, "mail a@b.io and c.d+e@f-g.org, call 555-123-4567"),
      (2L, "card 4111-1111-1111-1234 ip 10.0.0.1 ssn 123-45-6789"),
      (3L, "no pii here at all"),
      (4L, "two ips 192.168.0.1 8.8.8.8 and email x@y.co")
    ).toDF("id", "text")
    val out = Pii.scan(df, $"text").orderBy($"id")
      .select("id", "n_email", "n_phone", "n_ipv4", "n_ssn", "n_cc", "has_pii")
      .collect().map(_.toSeq)
    assert(out(0) == Seq(1L, 2, 1, 0, 0, 0, true))
    assert(out(1) == Seq(2L, 0, 0, 1, 1, 1, true))
    assert(out(2) == Seq(3L, 0, 0, 0, 0, 0, false))
    assert(out(3) == Seq(4L, 1, 0, 2, 0, 0, true))
  }

  test("pii counts honor redaction precedence on overlapping candidates") {
    // the email consumes the embedded dotted quad — one email, zero IPs,
    // and the counts must agree with the redacted text
    val df = Seq((1L, "mail me at x@10.0.0.7.net now")).toDF("id", "text")
    val out = Pii.scan(df, $"text")
      .select("n_email", "n_ipv4", "redacted").collect().head
    assert(out.getInt(0) == 1 && out.getInt(1) == 0)
    assert(out.getString(2) == "mail me at <EMAIL> now")
  }

  test("pii redact: fixed order keeps a 4-4-4-4 run whole and leaves clean text alone") {
    val df = Seq(
      (1L, "pay 4111-1111-1111-1234 or call 555-123-4567"),
      (2L, "ssn 123-45-6789 from 10.1.2.3"),
      (3L, "clean text stays byte-identical")
    ).toDF("id", "text")
    val out = Pii.scan(df, $"text").orderBy($"id")
      .select("redacted").as[String].collect()
    assert(out(0) == "pay <CC> or call <PHONE>")
    assert(out(1) == "ssn <SSN> from <IP>")
    assert(out(2) == "clean text stays byte-identical")
  }

  test("pii gated query: every doc has an email, residue classes hit, no CC counted as phone") {
    val q = Pii.piiScan(spark, sf).cache()
    val n = q.count()
    assert(n > 0)
    assert(q.filter($"n_email" < 1).count() == 0)
    // doc_id % 11 == 0 rows carry a CC; the CC must never leak into n_phone
    val ccRows = q.filter($"doc_id" % 11 === 0)
    assert(ccRows.count() > 0)
    assert(ccRows.filter($"n_cc" =!= 1).count() == 0)
    assert(q.filter($"doc_id" % 11 =!= 0 && $"n_cc" =!= 0).count() == 0)
    // phone only on doc_id % 3 == 0
    assert(q.filter(($"doc_id" % 3 === 0) =!= ($"n_phone" === 1)).count() == 0)
    assert(q.filter(!$"has_pii").count() == 0)
    q.unpersist()
  }

  test("k-anonymity: every reported combo is under k, and suppressed rows leave an anonymous table") {
    val k = 5
    val viol = Pii.kAnonymity(spark, sf, k).cache()
    assert(viol.count() > 0, "sf fixture should contain small quasi-id groups")
    assert(viol.filter($"n_members" >= k).count() == 0)
    // the audit is complete: after dropping every member of a reported
    // combo, the remaining table is k-anonymous under the same quasi-ids
    val remaining = graft.sources.Tables.customer(spark, sf)
      .select($"c_nationkey", $"c_mktsegment",
        floor($"c_acctbal" / 1000.0).cast("long").as("acctbal_band"))
      .join(viol.select($"c_nationkey", $"c_mktsegment", $"acctbal_band"),
        Seq("c_nationkey", "c_mktsegment", "acctbal_band"), "left_anti")
      .groupBy($"c_nationkey", $"c_mktsegment", $"acctbal_band")
      .agg(count(lit(1)).as("n"))
    assert(remaining.filter($"n" < k).count() == 0,
      "suppressing reported combos must leave no residual violations")
    viol.unpersist()
  }

  test("longest-keeper dedup: kept member dominates its cluster on (n_chars, -doc_id)") {
    val kept = graft.functions.Dedup.dedupedCorpusLongest(spark, sf)
      .select($"doc_id").as[Long].collect().toSet
    val members = graft.functions.DedupStage.clusters(spark, sf)
      .join(graft.sources.Tables.documents(spark, sf)
        .select($"doc_id", $"n_chars"), Seq("doc_id"))
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getLong(2)))
      .groupBy(_._1) // keeper label -> members (label, doc_id, n_chars)
    assert(members.nonEmpty, "sf fixture should contain dup clusters")
    members.foreach { case (label, ms) =>
      val inKept = ms.filter(m => kept.contains(m._2))
      assert(inKept.length == 1,
        s"cluster $label must keep exactly one member, kept ${inKept.toSeq}")
      val best = ms.minBy(m => (-m._3, m._2))
      assert(inKept.head._2 == best._2,
        s"cluster $label kept ${inKept.head} but longest is $best")
    }
    // same cluster count as the min-id variant — only the choice differs
    val minIdCount = graft.functions.Dedup.dedupedCorpus(spark, sf).count()
    assert(kept.size.toLong == minIdCount)
  }
}

class ScdSpec extends SparkSuite {
  import spark.implicits._
  import java.sql.Timestamp
  import graft.operators.Scd

  private def t(s: Int) = Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")

  test("scd2: collapses consecutive repeats, versions intervals, marks current") {
    val log = Seq(
      (1L, t(1), 10L, "A"), (1L, t(2), 11L, "A"), // repeat collapses
      (1L, t(3), 12L, "B"), (1L, t(4), 13L, "A"), // value flaps back
      (2L, t(5), 14L, "X")
    ).toDF("user_id", "ts", "event_id", "event_type")
    val out = Scd.scd2(log, "user_id", "ts", "event_id", "event_type")
      .orderBy($"user_id", $"version")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getTimestamp(3), r.getTimestamp(4), r.getBoolean(5)))
    assert(out.toSeq == Seq(
      (1L, 1, "A", t(1), t(3), false),
      (1L, 2, "B", t(3), t(4), false),
      (1L, 3, "A", t(4), null, true),
      (2L, 1, "X", t(5), null, true)))
  }

  test("scd2: same-instant changes order by the tiebreaker") {
    val log = Seq(
      (1L, t(1), 20L, "A"), (1L, t(1), 21L, "B")
    ).toDF("user_id", "ts", "event_id", "event_type")
    val out = Scd.scd2(log, "user_id", "ts", "event_id", "event_type")
      .orderBy($"version").select("status").as[String].collect()
    assert(out.toSeq == Seq("A", "B"))
  }

  test("scd2 gated query: dense versions, one open interval per user, chained intervals") {
    val q = Scd.userStatusScd2(spark, sf).cache()
    assert(q.count() > 0)
    // exactly one is_current per user, and it carries the max version
    val bad = q.groupBy($"user_id").agg(
      sum(when($"is_current", 1).otherwise(0)).as("n_open"),
      max($"version").as("vmax"), count(lit(1)).as("n"))
      .filter($"n_open" =!= 1 || $"vmax" =!= $"n")
    assert(bad.count() == 0)
    // valid_to of version v == valid_from of version v+1
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"version")
    val chained = q.withColumn("nxt_from", lead($"valid_from", 1).over(w))
      .filter($"nxt_from".isNotNull && $"valid_to" =!= $"nxt_from")
    assert(chained.count() == 0)
    q.unpersist()
  }
}

class WapSpec extends SparkSuite {
  import spark.implicits._
  import graft.sources.Ingest

  private def v1 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")

  /** A temp table with v1 published; `body` gets its dir. */
  private def withTable(body: String => Unit): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_wap_").toString
    try {
      assert(Ingest.writeAudited(v1, s"$tmp/t")(_.count()) == 2L)
      body(s"$tmp/t")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      ()
    }
  }

  /** v1 is still served and the failed publish left nothing behind. */
  private def assertV1Intact(table: String): Unit = {
    val served = spark.read.parquet(table).orderBy($"id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(served.toSeq == Seq((1L, "a"), (2L, "b")))
    assert(!new java.io.File(s"$table.staging").exists())
    assert(!new java.io.File(s"$table.old").exists())
  }

  test("write-audit-publish: good data publishes, bad data rejected with previous version intact") {
    withTable { table =>
      assert(spark.read.parquet(table).count() == 2)
      // v2 fails its audit (empty not allowed) → v1 must still be served
      val v2 = v1.filter($"id" > 99)
      val e = intercept[IllegalArgumentException] {
        Ingest.writeAudited(v2, table) { a =>
          require(a.count() > 0, s"audit rejected an empty $table")
        }
      }
      assert(e.getMessage.contains(table), e.getMessage)
      assertV1Intact(table)
      // v3 passes → replaces v1
      val v3 = Seq((9L, "z")).toDF("id", "v")
      assert(Ingest.writeAudited(v3, table)(_.count()) == 1L)
      assert(spark.read.parquet(table).count() == 1)
    }
  }

  test("write-audit-publish: a write that throws leaves the previous version intact") {
    withTable { table =>
      // a range, not a local Seq: the optimizer would evaluate a
      // projection over local rows before the write began
      val failing = spark.range(1, 3)
        .selectExpr("id", "CAST(raise_error('mid-write') AS STRING) AS v")
      val e = intercept[Exception](Ingest.writeAudited(failing, table)(_.count()))
      assert(e.getMessage.contains("mid-write"), e.getMessage)
      assertV1Intact(table)
    }
  }

  test("write-audit-publish: an audit that throws leaves the previous version intact") {
    withTable { table =>
      val v2 = Seq((3L, "c")).toDF("id", "v")
      val e = intercept[Exception] {
        Ingest.writeAudited(v2, table)(_.selectExpr("raise_error('audit blew up')").collect())
      }
      assert(e.getMessage.contains("audit blew up"), e.getMessage)
      assertV1Intact(table)
    }
  }
}

class UpsertSpec extends SparkSuite {
  import spark.implicits._
  import graft.sources.Ingest

  test("upsert: updates win on collision, unmatched base survives, new keys insert") {
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val updates = Seq((2L, "B2"), (4L, "D")).toDF("id", "v")
    val out = Ingest.upsert(base, updates, "id")
      .orderBy($"id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq((1L, "a"), (2L, "B2"), (3L, "c"), (4L, "D")))
  }

  test("upsert gated query: row count preserved, every 5th event rewritten") {
    val q = Ingest.upsertQuery(spark, sf).cache()
    val total = graft.sources.Tables.events(spark, sf).count()
    assert(q.count() == total)
    assert(q.filter($"event_id" % 5 === 0 && $"event_type" =!= "updated").count() == 0)
    assert(q.filter($"event_id" % 5 =!= 0 && $"event_type" === "updated").count() == 0)
    q.unpersist()
  }
}

class KMeansSpec extends SparkSuite {
  import spark.implicits._
  import graft.functions.Clustering

  test("kmeans: inertia non-increasing, assignments are nearest centroids, clusters cover corpus") {
    val (assigned, centroids, inertias) =
      Clustering.kmeansFull(spark, sf, k = 4, iters = 4)
    // Lloyd's guarantee: each step cannot increase inertia
    assert(inertias.zip(inertias.tail).forall { case (a, b) => b <= a + 1e-6 },
      inertias.toString)
    val total = graft.sources.Tables.embeddings(spark, sf).count()
    assert(assigned.count() == total)
    // spot-verify the argmin in plain Scala using the SAME expansion as
    // production (v_sq − 2·dot + c_sq, left-to-right accumulation) —
    // the direct Σ(a−b)² form rounds differently and could disagree on
    // a near-tie even when the operator is correct
    val rows = assigned.limit(50)
      .select($"vec_id", $"embedding", $"cluster_id").collect()
    for (r <- rows) {
      val v = r.getSeq[Float](1).map(_.toDouble)
      val vSq = v.foldLeft(0.0)((acc, x) => acc + x * x)
      def d2(c: Seq[Double]) = {
        val cSq = c.map(x => x * x).sum
        val dot = v.zip(c).foldLeft(0.0) { case (acc, (a, b)) => acc + a * b }
        math.max(vSq - 2.0 * dot + cSq, 0.0)
      }
      val best = centroids.minBy { case (cid, c) => (d2(c), cid) }._1
      val gotD2 = d2(centroids.find(_._1 == r.getInt(2)).get._2)
      val bestD2 = d2(centroids.find(_._1 == best).get._2)
      assert(r.getInt(2) == best || math.abs(gotD2 - bestD2) < 1e-9,
        s"vec ${r.getLong(0)}")
    }
  }

  test("kmeans: deterministic across runs") {
    def run() = Clustering.kmeansSummary(spark, sf, k = 4, iters = 3)
      .collect().map(_.toSeq).toSeq
    assert(run() == run())
  }
}

class ZOrderSpec extends SparkSuite {
  import spark.implicits._
  import graft.operators.ZOrderLayout

  test("zValue interleaves bits (Morton order on a known grid)") {
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (2L, 3L))
      .toDF("a", "b")
    val z = df.select(ZOrderLayout.zValue($"a", $"b", 4).as("z"))
      .as[Long].collect().toSeq
    // a even bits, b odd bits: (2,3) → a=10 at bits 0,2 → 0b100? and
    // b=11 at bits 1,3 → interleaved 0b1110 = 14
    assert(z == Seq(0L, 1L, 2L, 3L, 14L))
  }

  test("z-ordered layout scans fewer rows than date-sorted for a 2-dim box query") {
    val sf01 = "/root/testdata/sf0.01" // enough rows for row-group granularity
    val tmp = java.nio.file.Files.createTempDirectory("graft_zorder_").toString
    try {
      ZOrderLayout.writeZOrdered(spark, sf01, s"$tmp/z", nFiles = 8, blockBytes = 128 * 1024)
      ZOrderLayout.writeDateSorted(spark, sf01, s"$tmp/lin", nFiles = 8, blockBytes = 128 * 1024)
      val maxPart = graft.sources.Tables.lineitem(spark, sf01)
        .agg(max($"l_partkey")).collect().head.getLong(0)
      val (pLo, pHi) = (maxPart / 25, maxPart / 25 + maxPart / 50) // a 2% part slice
      def scanned(dir: String): Long = {
        val q = ZOrderLayout.boxQuery(spark.read.parquet(dir), pLo, pHi)
        q.collect()
        ZOrderLayout.rowsScanned(q)
      }
      val total = graft.sources.Tables.lineitem(spark, sf01).count()
      val zRows = scanned(s"$tmp/z")
      val linRows = scanned(s"$tmp/lin")
      info(s"box query scanned: z=$zRows linear=$linRows total=$total")
      // both layouts must skip most of the table; z-order must also cut
      // the part dimension, beating the date-only sort
      assert(zRows < total / 2, s"z-order scanned $zRows of $total")
      assert(zRows < linRows,
        s"z-order ($zRows rows) should beat date-sorted ($linRows rows)")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      ()
    }
  }
}

class RollingWindowSpec extends SparkSuite {
  import spark.implicits._
  import org.apache.spark.sql.expressions.Window

  test("paragraph dedup: global first occurrence wins; unique docs round-trip; full dups empty out") {
    val docs = Seq(
      (1L, "a b c d e f"), // both 3-word blocks globally first → intact
      (2L, "a b c x y z"), // first block repeats doc 1's → dropped
      (3L, "a b c d e f"), // full duplicate → every block lost
      (4L, "p q r")        // unique, shorter than one window
    ).toDF("doc_id", "text")
    val out = graft.functions.Dedup.paragraphDedupOn(docs, window = 3)
      .select("doc_id", "n_paras", "n_kept", "dedup_md5").collect()
    def h(s: String) = org.apache.commons.codec.digest.DigestUtils.md5Hex(s)
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq ==
      Seq((1L, 2L, 2L, h("a b c d e f")),
        (2L, 2L, 1L, h("x y z")),
        (3L, 2L, 0L, h("")),
        (4L, 1L, 1L, h("p q r"))))
  }

  test("RANGE frame: trailing-hour bounds are inclusive on both ends") {
    val df = Seq((1L, 0L), (1L, 1800L), (1L, 3600L), (1L, 7200L))
      .toDF("user_id", "ts_sec")
    val w = Window.partitionBy($"user_id").orderBy($"ts_sec")
      .rangeBetween(-3600, 0)
    val counts = df.withColumn("n", count(lit(1)).over(w))
      .orderBy($"ts_sec").select("n").as[Long].collect().toSeq
    // at t=3600 the frame [0, 3600] includes all three earlier-or-equal
    // events; at t=7200 only [3600, 7200] → itself + one
    assert(counts == Seq(1L, 2L, 3L, 2L))
  }
}

class OutlierPlanSpec extends SparkSuite {
  test("amountOutliers: group stats re-enter via broadcast, scan side never shuffles for the join") {
    val plan = graft.operators.Analytics.amountOutliers(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(500))
  }
}

class MixtureSampleSpec extends SparkSuite {
  import spark.implicits._
  import graft.functions.Sampling

  test("mixture sample: smallest stratum keeps 100%, dominant stratum thins toward sqrt") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val before = docs.groupBy($"lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = Sampling.mixtureSample(spark, sf).groupBy($"lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val minLang = before.minBy(_._2)._1
    assert(kept(minLang) == before(minLang)) // rate 1.0 → fully kept
    val nMin = before.values.min.toDouble
    for ((lang, n) <- before) {
      val expected = math.sqrt(nMin / n) * n
      // hash buckets are uniform-ish; allow a generous tolerance
      assert(math.abs(kept.getOrElse(lang, 0L) - expected) <= 0.25 * n + 5,
        s"$lang: kept ${kept.getOrElse(lang, 0L)}, expected ~$expected of $n")
    }
  }

  test("mixture sample: deterministic across runs") {
    val a = Sampling.mixtureSample(spark, sf).select("doc_id").as[Long].collect().toSeq
    val b = Sampling.mixtureSample(spark, sf).select("doc_id").as[Long].collect().toSeq
    assert(a == b && a.nonEmpty)
  }
}

class CompactionSpec extends SparkSuite {
  import spark.implicits._
  import graft.sources.Ingest

  test("compact: bin-packs to ceil(bytes/target) files, preserves rows") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_compact_spec_").toString
    try {
      val df = spark.range(10000).selectExpr("id", "id % 7 AS k", "uuid() AS payload")
      df.repartition(32).write.parquet(s"$tmp/in")
      val inFiles = new java.io.File(s"$tmp/in").listFiles
        .count(f => f.getName.endsWith(".parquet"))
      assert(inFiles == 32)
      val bytes = new java.io.File(s"$tmp/in").listFiles
        .filter(f => f.getName.endsWith(".parquet")).map(_.length).sum
      val target = bytes / 3 + 1 // force exactly 3 output files
      val out = Ingest.compact(spark, s"$tmp/in", s"$tmp/out", target)
      val outFiles = new java.io.File(s"$tmp/out").listFiles
        .count(f => f.getName.endsWith(".parquet"))
      assert(outFiles == 3, s"expected 3 files, got $outFiles")
      assert(out.count() == 10000)
      // content identical, not just count
      assert(out.select("id").except(df.select("id")).isEmpty)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      ()
    }
  }
}

class ContaminationSpec extends SparkSuite {
  import spark.implicits._
  import graft.functions.Decontaminate

  test("contamination: overlapping 8-gram found, clean docs absent, ratio exact") {
    val mk = (0 until 12).map(i => s"w$i").mkString(" ") // 12 tokens → 5 grams
    val df = Seq(
      (1L, mk, "eval"),                       // benchmark doc
      (2L, mk + " tail tokens here", "tr"),   // shares grams with benchmark
      (3L, (20 until 40).map(i => s"v$i").mkString(" "), "tr") // clean
    ).toDF("doc_id", "text", "source")
    val out = Decontaminate.contaminationOf(df, "eval", 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    // doc 2: 15 tokens → 8 distinct 8-grams, the first 5 lie inside doc 1
    assert(out.toSeq == Seq((2L, 8, 5)))
  }

  test("contamination: benchmark gram set joins as broadcast (corpus never shuffles)") {
    val plan = Decontaminate.contamination(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(500))
    assert(!plan.contains("SortMergeJoin"), plan.take(500))
  }

  test("contamination gated query: ratios bounded, hits subset of grams") {
    val q = Decontaminate.contamination(spark, sf).collect()
    q.foreach { r =>
      assert(r.getInt(2) >= 1 && r.getInt(2) <= r.getInt(1))
      assert(r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0)
    }
  }
}

class StreamSessionSpec extends SparkSuite {
  import spark.implicits._
  import java.sql.Timestamp
  import graft.streaming.EventsStream

  test("session_window boundary: gap > 30min splits, gap == 30min merges") {
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    def plus(sec: Int) = new Timestamp(t0.getTime + sec * 1000L)
    val df = Seq(
      (1L, t0), (1L, plus(1801)),      // past the gap → two sessions
      (2L, t0), (2L, plus(1800))       // exactly the gap → merges (inclusive)
    ).toDF("user_id", "ts_s")
    val n = df.groupBy($"user_id", session_window($"ts_s", "30 minutes"))
      .count().groupBy($"user_id").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(n == Map(1L -> 2L, 2L -> 1L))
  }

  test("streaming sessionization equals its batch twin") {
    val stream = EventsStream.runSessionStream(spark, sf).collect().toSeq
    val batch = EventsStream.sessionWindowBatch(spark, sf).collect().toSeq
    assert(stream.nonEmpty)
    assert(stream == batch)
  }
}

class Bm25Spec extends SparkSuite {
  import spark.implicits._
  import graft.functions.Retrieval

  test("bm25: hand-computed score on a tiny corpus") {
    val docs = Seq(
      (1L, Seq("spark", "join", "spark")),
      (2L, Seq("join", "scan")),
      (3L, Seq("scan", "filter", "agg", "sort"))
    ).toDF("doc_id", "t")
    val out = Retrieval.bm25(docs, Seq("spark", "join"), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    // N=3, avgdl=3; manual BM25 (k1=1.2, b=0.75)
    def idf(df: Int) = math.log(1.0 + (3 - df + 0.5) / (df + 0.5))
    def w(tf: Int, dl: Int, df: Int) =
      idf(df) * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / 3.0))
    val exp1 = w(2, 3, 1) + w(1, 3, 2) // doc 1: spark tf=2 df=1; join tf=1 df=2
    val exp2 = w(1, 2, 2)              // doc 2: join tf=1
    assert(out.map(_._1).toSeq == Seq(1L, 2L)) // doc 3 has no hits
    assert(math.abs(out(0)._2 - exp1) < 1e-6 && out(0)._3 == 2)
    assert(math.abs(out(1)._2 - exp2) < 1e-6 && out(1)._3 == 1)
  }

  test("bm25: ranking is top-k (TakeOrderedAndProject), not a full sort") {
    val plan = Retrieval.bm25Query(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(500))
  }

  test("hybrid search: rrf exact for docs ranked by both, one, or neither scorer") {
    val q = Retrieval.hybridSearch(spark, sf).collect()
    assert(q.nonEmpty && q.length <= 20)
    for (r <- q) {
      val rLex = if (r.isNullAt(1)) None else Some(r.getInt(1))
      val rVec = if (r.isNullAt(2)) None else Some(r.getInt(2))
      assert(rLex.isDefined || rVec.isDefined)
      val exp = rLex.map(x => 1.0 / (60 + x)).getOrElse(0.0) +
        rVec.map(x => 1.0 / (60 + x)).getOrElse(0.0)
      assert(math.abs(r.getDouble(3) - exp) < 1e-6)
    }
    // descending fused score
    val rrfs = q.map(_.getDouble(3))
    assert(rrfs.zip(rrfs.tail).forall { case (a, b) => a >= b })
  }

  test("bm25 gated query: top-k bounded, scores descending, hits positive") {
    val q = Retrieval.bm25Query(spark, sf).collect()
    assert(q.nonEmpty && q.length <= 20)
    val scores = q.map(_.getDouble(1))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    assert(q.forall(_.getInt(2) >= 1))
  }
}

class RepetitionSpec extends SparkSuite {
  import spark.implicits._

  test("repetition: signals bounded, distinct-3-gram consistency") {
    val q = TextAnalysis.repetition(spark, sf).cache()
    assert(q.count() > 0)
    for (c <- Seq("top_token_ratio", "top_bigram_ratio", "dup_3gram_frac"))
      assert(q.filter(col(c) < 0.0 || col(c) > 1.0).count() == 0, c)
    // every doc has at least one token → top_token_ratio strictly positive
    assert(q.filter($"top_token_ratio" <= 0.0).count() == 0)
    q.unpersist()
  }

  test("repetition: plain-Scala differential on one document") {
    val row = graft.sources.Tables.documents(spark, sf)
      .filter($"doc_id" === 1).select("text").as[String].collect().head
    val t = row.trim.toLowerCase.split("\\s+").toSeq
    val n = t.size
    def grams(k: Int) = t.sliding(k).filter(_.size == k).map(_.mkString(" ")).toSeq
    val expTopTok = t.groupBy(identity).values.map(_.size).max.toDouble / n
    val expTopBi = grams(2).groupBy(identity).values.map(_.size).max.toDouble / (n - 1)
    val expDup3 = 1.0 - grams(3).distinct.size.toDouble / (n - 2)
    val got = TextAnalysis.repetition(spark, sf).filter($"doc_id" === 1)
      .select("top_token_ratio", "top_bigram_ratio", "dup_3gram_frac")
      .collect().head
    assert(math.abs(got.getDouble(0) - expTopTok) < 1e-6)
    assert(math.abs(got.getDouble(1) - expTopBi) < 1e-6)
    assert(math.abs(got.getDouble(2) - expDup3) < 1e-6)
  }
}

class GapFillSpec extends SparkSuite {
  import spark.implicits._

  test("gap fill: spine is dense per type, fills agree, LOCF carries the last observation") {
    val out = graft.operators.WindowOps.gapFillHourly(spark, sf).cache()
    // spine density: per type, row count == hours between min and max + 1
    val spans = out.groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        ((unix_timestamp(max($"hr")) - unix_timestamp(min($"hr"))) / 3600 + 1).as("expect"))
      .collect()
    spans.foreach(r => assert(r.getLong(1) == r.getDouble(2).toLong, r.getString(0)))
    // sf0.001 genuinely has gaps — the operator must be exercised
    assert(out.filter($"was_gap").count() > 0)
    // fills: gap rows are zero-filled; non-gap rows keep their count in all three columns
    assert(out.filter($"was_gap" && $"n_events_zerofill" =!= 0L).count() == 0)
    assert(out.filter(!$"was_gap" &&
      ($"n_events_zerofill" =!= $"n_events" || $"n_events_locf" =!= $"n_events")).count() == 0)
    // LOCF differential on one type: walk the hours in order, carrying forward
    val rows = out.filter($"event_type" === "click").orderBy($"hr")
      .select($"n_events", $"n_events_locf").collect()
    var carry: java.lang.Long = null
    rows.foreach { r =>
      if (!r.isNullAt(0)) carry = r.getLong(0)
      assert(r.getLong(1) == carry.longValue())
    }
    out.unpersist()
  }
}

class HeavyHittersSpec extends SparkSuite {
  import spark.implicits._

  test("heavy hitters: plain-Scala differential on the full sf0.001 corpus") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val counts = scala.collection.mutable.Map[String, (Long, Set[Long])]()
    docs.foreach { case (id, text) =>
      text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).foreach { t =>
        val (n, ds) = counts.getOrElse(t, (0L, Set.empty[Long]))
        counts(t) = (n + 1, ds + id)
      }
    }
    val expect = counts.toSeq
      .map { case (t, (n, ds)) => (t, n, ds.size.toLong) }
      .sortBy { case (t, n, _) => (-n, t) }.take(25)
    val got = TextAnalysis.heavyHitters(spark, sf)
      .select($"token", $"n_occurrences", $"doc_freq")
      .as[(String, Long, Long)].collect().toSeq
    assert(got == expect)
  }

  test("heavy hitters: top-k plans as TakeOrderedAndProject, no global sort") {
    val plan = TextAnalysis.heavyHitters(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
  }
}

class CorpusShuffleSpec extends SparkSuite {
  import spark.implicits._

  test("corpus shuffle: complete, deterministic, contiguous positions per shard") {
    val s1 = graft.functions.Sampling.corpusShuffle(spark, sf).cache()
    val total = graft.sources.Tables.documents(spark, sf).count()
    assert(s1.count() == total)                       // a permutation, not a sample
    assert(s1.select($"doc_id").distinct().count() == total)
    // every shard numbers its rows 1..n with no holes
    val byShard = s1.groupBy($"shard")
      .agg(count(lit(1)).as("n"), max($"pos_in_shard").as("mx"), min($"pos_in_shard").as("mn"))
      .collect()
    assert(byShard.length > 1)                        // really sharded
    byShard.foreach(r => assert(r.getInt(3) == 1 && r.getLong(1) == r.getInt(2).toLong))
    // pure function of (data, seed): identical on recompute, different under a new seed
    val s2 = graft.functions.Sampling.corpusShuffle(spark, sf)
    assert(s1.except(s2).count() == 0 && s2.except(s1).count() == 0)
    val reseeded = graft.functions.Sampling.corpusShuffle(spark, sf, seed = "shuffle_v2")
    assert(s1.except(reseeded).count() > 0)
    s1.unpersist()
  }
}

class CdcApplySpec extends SparkSuite {
  import spark.implicits._

  test("cdc apply: multi-batch foreachBatch MERGE converges to the single-shot upsert") {
    graft.sources.Tables.prepareEventsDir(spark, sf)
    val work = java.nio.file.Files.createTempDirectory("graft_cdc_spec_").toString
    try {
      val base = graft.sources.Tables.events(spark, sf)
      base.write.parquet(s"$work/table")
      base.filter($"event_id" % 5 === 0)
        .withColumn("value", $"value" + 100.0)
        .withColumn("event_type", lit("updated"))
        .repartition(4)
        .write.parquet(s"$work/feed")
      val batches = graft.streaming.EventsStream.runCdcApply(
        spark, s"$work/table", s"$work/feed", s"$work/ckpt")
      assert(batches > 1, "maxFilesPerTrigger=1 over a 4-file feed must take several MERGEs")
      val streamed = spark.read.parquet(s"$work/table")
        .select($"event_id", $"event_type", $"value").localCheckpoint()
      val oneShot = graft.sources.Ingest.upsertQuery(spark, sf)
        .select($"event_id", $"event_type", $"value")
      assert(streamed.except(oneShot).count() == 0 && oneShot.except(streamed).count() == 0)
      assert(streamed.count() == base.count())
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(work))
      ()
    }
  }
}

class QualityGateSpec extends SparkSuite {
  import spark.implicits._

  test("quality gate: keeps exactly the at-or-above-median half, threshold in-plan") {
    val scored = TextAnalysis.qualityScore(spark, sf)
      .select($"doc_id", $"quality_score").cache()
    val kept = TextAnalysis.qualityGate(spark, sf).cache()
    val n = scored.count()
    // at least half survives (>= median); fewer than all unless degenerate
    assert(kept.count() >= n / 2 && kept.count() < n)
    // membership differential: exactly the docs >= the exact median
    val median = scored.agg(
      expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY quality_score)")).head().getDouble(0)
    val expect = scored.filter($"quality_score" >= median)
    assert(kept.select($"doc_id").except(expect.select($"doc_id")).count() == 0)
    assert(expect.select($"doc_id").except(kept.select($"doc_id")).count() == 0)
    // the 1-row threshold joins by broadcast, not a shuffle
    val plan = TextAnalysis.qualityGate(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"))
    scored.unpersist(); kept.unpersist()
  }
}

class GroupingSetsSpec extends SparkSuite {
  import spark.implicits._

  test("grouping sets: one Expand pass, exactly the 3 requested sets, no grand total") {
    val q = graft.operators.Analytics.groupingSetsRevenue(spark, sf).cache()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("Expand"))
    val levels = q.select($"grouping_level").distinct()
      .as[Int].collect().sorted.toSeq
    assert(levels == Seq(0, 1, 2))                    // (t,y)=0, (t)=1, (y)=2 — no ()=3
    // subtotal consistency: the (type)-level rows equal the sum of their (type,year) details
    val detail = q.filter($"grouping_level" === 0)
      .groupBy($"service_type").agg(sum($"trips").as("t"))
    val sub = q.filter($"grouping_level" === 1).select($"service_type", $"trips")
    val joined = detail.join(sub, "service_type")
    assert(joined.filter($"t" =!= $"trips").count() == 0 && joined.count() > 0)
    q.unpersist()
  }
}
