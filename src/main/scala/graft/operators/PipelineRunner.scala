package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast
import graft.functions.Staged
import graft.sources.Ingest

/** The `dbt run` analog — the reference's main entry point (SURVEY §3
  * E1): a model DAG materialized in dependency order as tables.
  *
  * Reference shape: dbt reads the manifest, topologically orders
  * `stg_trips_unified → {dim_date, dim_zone, dim_payment_type,
  * dim_rate_code} → fct_trips` and ships each as CREATE TABLE AS SELECT
  * to the warehouse (dbt_project.yml, profiles.yml `threads: 4/8`).
  *
  * Spark shape: each model is a `DataFrame`-producing function; deps are
  * an explicit edge list; materialization is a parquet table at
  * `outRoot/<model>`, replaced through [[graft.sources.Ingest.writeAudited]]
  * (the `CREATE OR REPLACE TABLE` analog): the model writes to staging,
  * the audit counts the staged rows, and only then is the old table
  * swapped out, so a model that fails mid-write leaves its last good
  * table readable. The DAG runs in dependency-depth waves
  * (roots, then `fct_trips`), each one [[graft.Concurrent.all]] call
  * (the dbt `threads` analog): a failing model fails its wave, named,
  * once its siblings settle, and the later waves (its dependents) are
  * skipped.
  *
  * `fct_trips` is the fact's rows ([[GoldStage.rows]]) plus its audit
  * column, written once: the model publishes its table as the corpus's
  * `Staged` artifact ([[graft.functions.Staged.publish]]), so `dbt test`
  * ([[Quality.report]]) and the query surface read the table `dbt run`
  * wrote, and a run followed by the quality suite builds the join chain
  * once. Its deps are lineage (the `ref()` edges): they order the run
  * and close `--select` subsets.
  */
object PipelineRunner {

  /** A model: its name, its `ref()` deps, its rows for a corpus dir, and
    * the `Staged` key (for a corpus dir) its published table serves as,
    * if consumers read it as an artifact. */
  case class Model(name: String, deps: Seq[String],
      build: (SparkSession, String) => DataFrame,
      artifact: Option[String => String])

  /** The reference's six models, each built from the corpus dir. */
  def models: Seq[Model] = Seq(
    Model("stg_trips_unified", Nil, Silver.build, None),
    Model("dim_date", Nil, (s, _) => GoldDims.dimDate(s), None),
    Model("dim_zone", Nil, GoldDims.dimZone, None),
    Model("dim_payment_type", Nil, (s, _) => GoldDims.dimPaymentType(s), None),
    Model("dim_rate_code", Nil, (s, _) => GoldDims.dimRateCode(s), None),
    Model("fct_trips",
      Seq("stg_trips_unified", "dim_date", "dim_zone", "dim_payment_type", "dim_rate_code"),
      (s, sf) => loadedAt(GoldStage.rows(s, sf)), Some(GoldStage.key)))

  /** F14: `df` plus `dbt_loaded_at`, one timestamp taken per
    * model build. It reaches the rows as data, a one-row broadcast
    * relation, not as a literal: Spark inlines a literal (what the SQL
    * current-time functions fold to) into the generated code, so every
    * build would compile its stage again. */
  private def loadedAt(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    df.crossJoin(broadcast(
      Seq(java.sql.Timestamp.from(java.time.Instant.now())).toDF("dbt_loaded_at")))
  }

  /** The models in dependency-depth waves, roots first: a model's depth
    * is one more than its deepest dep's. A cycle fails loudly. */
  private[graft] def waves(ms: Seq[Model]): Seq[Seq[Model]] = {
    val byName = ms.map(m => m.name -> m).toMap
    def depth(m: Model, path: Set[String]): Int = {
      require(!path.contains(m.name), s"cycle at ${m.name}")
      m.deps.map(d => depth(byName(d), path + m.name) + 1).maxOption.getOrElse(0)
    }
    ms.groupBy(depth(_, Set.empty)).toSeq.sortBy(_._1).map(_._2)
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

  /** One [[graft.Concurrent.all]] per wave; a failed wave stops the
    * later ones. Each model is written once, through
    * [[graft.sources.Ingest.writeAudited]]; a model with an artifact key
    * publishes through [[graft.functions.Staged.publish]], which also
    * registers its table under that key. Model -> materialized row
    * count. */
  private[graft] def runModels(spark: SparkSession, sfDir: String, outRoot: String,
      ms: Seq[Model]): Map[String, Long] =
    waves(ms).flatMap { wave =>
      graft.Concurrent.all(spark, wave.map { m => m.name -> { () =>
        val (df, dir) = (m.build(spark, sfDir), s"$outRoot/${m.name}")
        m.name -> m.artifact.fold(Ingest.writeAudited(df, dir)(_.count()))(
          key => Staged.publish(key(sfDir), df, dir)(_.count()))
      }})
    }.toMap
}
