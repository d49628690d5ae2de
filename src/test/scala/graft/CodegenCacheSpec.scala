package graft

import org.apache.spark.metrics.source.CodegenMetrics
import graft.operators.{Analytics, PipelineRunner}

/** A round of queries the session has run before compiles no generated
  * class again: the codegen cache GraftSession.local sizes holds every
  * class of the 7 reference queries (105 on sf0.001 in a fresh JVM,
  * more than Spark's default 100 entries, so an undersized cache
  * recompiles every round).
  * `Quality.report` is left out: its union of independent branches
  * finishes AQE stages in a varying order, and the whole-stage codegen
  * ids, part of the generated source, vary with it. */
class CodegenCacheSpec extends SparkSuite {

  /** Generated classes compiled while `body` runs. */
  private def compiled(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a repeated round of the reference queries compiles nothing") {
    val round = Seq[String => org.apache.spark.sql.DataFrame](
      Analytics.monthlyAgg(spark, _), Analytics.demandByZone(spark, _),
      Analytics.revenueTips(spark, _), Analytics.durationPercentiles(spark, _),
      Analytics.hourlyMatrix(spark, _), Analytics.speedBand(spark, _),
      Analytics.coverageMatrix(spark, _))
    val first = compiled(round.foreach(_(sf).collect()))
    println(s"[codegen] round 1 compiled $first classes")
    val second = compiled(round.foreach(_(sf).collect()))
    assert(second == 0, s"round 2 compiled $second classes (round 1: $first)")
  }

  test("a repeated refresh compiles nothing: dbt_loaded_at is data, not a literal") {
    val out = java.nio.file.Files.createTempDirectory("graft_codegen_run").toString
    try withSfCopy { dir =>
      val runs = (1 to 3).map(_ => compiled { PipelineRunner.run(spark, dir, out); () })
      println(s"[codegen] refreshes compiled ${runs.mkString(", ")} classes")
      assert(runs(2) == 0, s"refresh 3 compiled ${runs(2)} classes (${runs.mkString(", ")})")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }
}
