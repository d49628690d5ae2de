package graft

import org.apache.spark.sql.functions._
import graft.functions.Blocklist
import graft.plans.AhoCorasickExpression.blocklistCounts
import graft.plans.AcAutomaton
import org.apache.spark.unsafe.types.UTF8String

/** Aho–Corasick blocklist semantics the hash gate can't show: the
  * leftmost non-overlapping cursor, per-pattern independence under
  * nesting/overlap, and bit-parity with the replace()-difference count
  * the oracle uses — asserted per (doc, pattern) over the real corpus. */
class BlocklistSpec extends SparkSuite {
  import spark.implicits._

  private def counts(text: String, pats: Seq[String]): Seq[Long] = {
    val ac = new AcAutomaton(pats.toArray)
    val a = ac.countMatches(UTF8String.fromString(text))
    (0 until pats.length).map(a.getLong)
  }

  test("leftmost non-overlapping: self-overlapping patterns count like replace()") {
    assert(counts("aaa", Seq("aa")) == Seq(1L))       // not 2 (overlap skipped)
    assert(counts("aaaa", Seq("aa")) == Seq(2L))
    assert(counts("ababa", Seq("aba")) == Seq(1L))    // second start inside first
    assert(counts("abababa", Seq("aba")) == Seq(2L))
    assert(counts("table table table", Seq("table table")) == Seq(1L))
  }

  test("nested patterns are independent: each counts at full strength") {
    val pats = Seq("a", "an", "can", "scan")
    // "scan" contains all four, each exactly once
    assert(counts("scan", pats) == Seq(1L, 1L, 1L, 1L))
    // a match of a long pattern never suppresses the short one's cursor
    assert(counts("scan a can", pats) == Seq(3L, 2L, 2L, 1L))
  }

  test("degenerate inputs: empty text, no-hit patterns, match at both ends") {
    assert(counts("", Seq("a", "zz")) == Seq(0L, 0L))
    assert(counts("xyx", Seq("a")) == Seq(0L))
    assert(counts("abxxba", Seq("ab", "ba")) == Seq(1L, 1L))
  }

  test("bit-parity with the replace()-difference count, per doc and pattern, sf0.001") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", lower($"text").as("t"))
    val pats = Blocklist.DefaultPatterns
    val ac = docs.select($"doc_id", blocklistCounts($"t", pats).as("c"))
    val ref = docs.select($"doc_id" +: pats.zipWithIndex.map { case (p, i) =>
      ((length($"t") - length(regexp_replace($"t", java.util.regex.Pattern.quote(p), "")))
        / lit(p.length)).cast("long").as(s"p$i") }: _*)
    val joined = ac.join(ref, "doc_id").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val got = r.getAs[scala.collection.Seq[Long]]("c")
      pats.indices.foreach { i =>
        assert(got(i) == r.getAs[Long](s"p$i"),
          s"doc ${r.getAs[Long]("doc_id")} pattern '${pats(i)}': ac=${got(i)} replace=${r.getAs[Long](s"p$i")}")
      }
    }
  }

  test("report reconciles: every pattern present, n_docs <= corpus, hits positive where docs hit") {
    val rep = Blocklist.blocklistReport(spark, "/root/testdata/sf0.001").collect()
    assert(rep.map(_.getAs[String]("pattern")).toSeq ==
      Blocklist.DefaultPatterns.sorted)
    val nDocs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001").count()
    rep.foreach { r =>
      val (d, h) = (r.getAs[Long]("n_docs"), r.getAs[Long]("n_hits"))
      assert(d >= 0L && d <= nDocs && h >= d, s"inconsistent row: $r")
    }
    // the synthetic corpus certainly contains the single-letter pattern
    assert(rep.find(_.getAs[String]("pattern") == "a").get.getAs[Long]("n_hits") > 0L)
  }

  test("SQL surface: blocklist_counts registered and matching the Column API") {
    val r = spark.sql(
      "SELECT blocklist_counts('scan a can', array('a','an','can','scan')) AS c")
      .collect().head.getAs[scala.collection.Seq[Long]]("c")
    assert(r.toSeq == Seq(3L, 2L, 2L, 1L))
  }

  test("blocklist expression stays inside whole-stage codegen") {
    val df = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(blocklistCounts(lower($"text"), Blocklist.DefaultPatterns).as("c"))
      .select(sum(element_at($"c", 1)))
    // `*(n)` prefixes mark WholeStageCodegen stages (the PlanSpec idiom)
    val plan = walkPlan(df).map(_.toString).mkString("\n")
    val exprLines = plan.split("\n").filter(_.toLowerCase.contains("blocklistcounts"))
    assert(exprLines.nonEmpty, plan.take(1200))
    assert(exprLines.exists(_.contains("*(")),
      s"blocklistcounts not inside a codegen stage:\n${exprLines.take(3).mkString("\n")}")
  }
}
