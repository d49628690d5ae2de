package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.current_timestamp

/** The `dbt run` analog — the reference's main entry point (SURVEY §3
  * E1): a model DAG materialized in dependency order as tables.
  *
  * Reference shape: dbt reads the manifest, topologically orders
  * `stg_trips_unified → {dim_date, dim_zone, dim_payment_type,
  * dim_rate_code} → fct_trips` and ships each as CREATE TABLE AS SELECT
  * to the warehouse (dbt_project.yml, profiles.yml `threads: 4/8`).
  *
  * Spark shape: each model is a `DataFrame`-producing function; deps are
  * an explicit edge list; materialization is an overwrite parquet write
  * + re-read (the "table"). Independent models launch concurrently on
  * the scheduler pool (the dbt `threads` analog — Spark's scheduler
  * interleaves their jobs; per-job parallelism is Spark tasks).
  *
  * `fct_trips` is the staged fact ([[GoldStage.fact]]) plus its audit
  * column: the one fact build per corpus that `dbt test`
  * ([[Quality.report]]) also reads, so a run followed by the quality
  * suite builds the join chain once. Its deps are lineage (the `ref()`
  * edges): they order the run and close `--select` subsets.
  */
object PipelineRunner {

  case class Model(name: String, deps: Seq[String],
      build: (SparkSession, String) => DataFrame)

  /** The reference's six models, each built from the corpus dir. */
  def models: Seq[Model] = Seq(
    Model("stg_trips_unified", Nil, Silver.build),
    Model("dim_date", Nil, (s, _) => GoldDims.dimDate(s)),
    Model("dim_zone", Nil, GoldDims.dimZone),
    Model("dim_payment_type", Nil, (s, _) => GoldDims.dimPaymentType(s)),
    Model("dim_rate_code", Nil, (s, _) => GoldDims.dimRateCode(s)),
    // F14: the audit column, nondeterministic, so not part of the staged fact
    Model("fct_trips",
      Seq("stg_trips_unified", "dim_date", "dim_zone", "dim_payment_type", "dim_rate_code"),
      (s, sf) => GoldStage.fact(s, sf).withColumn("dbt_loaded_at", current_timestamp())))

  /** Kahn topological order over the declared edges. */
  private[graft] def topoOrder(ms: Seq[Model]): Seq[Model] = {
    val byName = ms.map(m => m.name -> m).toMap
    val resolved = scala.collection.mutable.LinkedHashSet[String]()
    def visit(m: Model, path: Set[String]): Unit = {
      require(!path.contains(m.name), s"cycle at ${m.name}")
      if (!resolved.contains(m.name)) {
        m.deps.foreach(d => visit(byName(d), path + m.name))
        resolved += m.name
      }
    }
    ms.foreach(visit(_, Set.empty))
    resolved.toSeq.map(byName)
  }

  /** Run the DAG: independent roots concurrently, dependents after
    * their upstreams; returns (model → materialized row count). */
  def run(spark: SparkSession, sfDir: String, outRoot: String): Map[String, Long] =
    runModels(spark, sfDir, outRoot, models)

  /** dbt `--select`-style subset run: the named models plus their
    * transitive dependency closure (a model never builds against a
    * stale or missing upstream), in dependency order. Unknown names
    * fail loudly. */
  def runSubset(spark: SparkSession, sfDir: String, outRoot: String,
      names: Seq[String]): Map[String, Long] = {
    if (names.isEmpty) return Map.empty
    val byName = models.map(m => m.name -> m).toMap
    names.foreach(n => require(byName.contains(n), s"unknown model $n"))
    val selected = scala.collection.mutable.LinkedHashSet[String]()
    def close(n: String): Unit = if (!selected.contains(n)) {
      byName(n).deps.foreach(close)
      selected += n
    }
    names.foreach(close)
    runModels(spark, sfDir, outRoot, models.filter(m => selected.contains(m.name)))
  }

  /** Every model's future settles before anything is rethrown (a
    * fail-fast wait would leave siblings writing after `run` threw);
    * then the first failure in topological order propagates. */
  private[graft] def runModels(spark: SparkSession, sfDir: String, outRoot: String,
      ms: Seq[Model]): Map[String, Long] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val ordered = topoOrder(ms)
    val done = scala.collection.concurrent.TrieMap[String, Future[DataFrame]]()
    ordered.foreach { m =>
      done(m.name) = Future.sequence(m.deps.map(done)).map { _ =>
        val dir = s"$outRoot/${m.name}"
        m.build(spark, sfDir).write.mode(SaveMode.Overwrite).parquet(dir)
        spark.read.parquet(dir)
      }
    }
    ordered.foreach(m => Await.ready(done(m.name), Duration.Inf))
    ordered.map { m =>
      m.name -> Await.result(done(m.name), Duration.Inf).count()
    }.toMap
  }
}
