package graft
/** Dev tool (not part of the driver contract): print the formatted
  * physical plan of named registered queries — the `.explain` audit the
  * scale discipline requires after every operator change. */
object ExplainTool {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val d = "/root/testdata/sf0.01"
    // stage-build frames (not registered queries): explain the BUILD
    // plan the staged artifact pays, which consumer queries never show
    val stages = Map[String, () => org.apache.spark.sql.DataFrame](
      "stage:basket_pairs" ->
        (() => operators.BasketStage.pairSupportsBuild(spark, d)),
      "stage:qm_pack" ->
        (() => graft.functions.QualityModel.packBuild(spark, d)))
    args.foreach { q =>
      println(s"===== $q =====")
      stages.get(q) match {
        case Some(f) => f().explain("formatted")
        case None => SparkEntry.queries(q)(spark, d).explain("formatted")
      }
    }
    spark.stop()
  }
}
