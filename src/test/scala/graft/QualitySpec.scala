package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.catalyst.plans.LeftAnti
import graft.operators.Quality

class QualitySpec extends SparkSuite with AdaptiveSparkPlanHelper {

  /** Trip 1 resolves everywhere; trip 2 has a NULL pickup zone; trip 3
    * a dropoff zone no dim row carries. */
  private def fact: DataFrame = {
    val s = spark
    import s.implicits._
    Seq[(String, String, Int, Int, Option[Int], Option[Int], Double, Double)](
      ("t1", "yellow", 1, 2, Some(0), Some(1), 1.0, 10.0),
      ("t2", "green", 1, 1, None, Some(1), 2.0, 20.0),
      ("t3", "yellow", 2, 2, Some(1), Some(99), 3.0, 30.0))
      .toDF("trip_id", "service_type", "pickup_date_sk", "dropoff_date_sk",
        "pickup_zone_sk", "dropoff_zone_sk", "quantity", "extended_price")
  }

  /** The fact's catalogue block over the hand-built frames. */
  private def counts(dimDate: DataFrame, dimZone: DataFrame): Map[String, Long] =
    Quality.checks(Quality.catalogue.find(_.model == "fct_trips").get,
      Map("fct_trips" -> fact, "dim_date" -> dimDate, "dim_zone" -> dimZone)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  private def dims: (DataFrame, DataFrame) = {
    val s = spark
    import s.implicits._
    (Seq(1, 2).toDF("date_sk"), Seq(0, 1).toDF("zone_sk"))
  }

  test("relationships skip NULL FKs: the NULL is the not_null check's violation") {
    val (date, zone) = dims
    val c = counts(date, zone)
    assert(c.size == 13)
    assert(c("not_null_fct_pickup_zone_sk") == 1)
    assert(c("relationships_fct_pickup_zone_sk") == 0)
    assert(c("relationships_fct_dropoff_zone_sk") == 1)
    assert(c.removedAll(Seq("not_null_fct_pickup_zone_sk",
      "relationships_fct_dropoff_zone_sk")).values.forall(_ == 0L), c)
  }

  test("a duplicated dim key leaves every fact count unchanged") {
    val (date, zone) = dims
    assert(counts(date.union(date), zone.union(zone)) == counts(date, zone))
  }

  test("the report reads the staged fact once, with no anti-join") {
    val report = Quality.report(spark, sf)
    assert(report.collect().length == 32)
    val plan = report.queryExecution.executedPlan
    val factScans = collect(plan) {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.getName.startsWith("fct_trips_")) => s
    }
    assert(factScans.size == 1, plan)
    assert(factScans.head.requiredSchema.fieldNames.toSet == Set("trip_id",
      "service_type", "pickup_date_sk", "dropoff_date_sk", "pickup_zone_sk",
      "dropoff_zone_sk", "quantity", "extended_price"))
    assert(collect(plan) { case j: BaseJoinExec if j.joinType == LeftAnti => j }.isEmpty, plan)
  }
}
