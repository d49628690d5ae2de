package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast
import graft.functions.Staged

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
  * `outRoot/<model>`, published through
  * [[graft.functions.Staged.publish]] (the `CREATE OR REPLACE TABLE`
  * analog): the model writes to staging, the audit counts the staged
  * rows, and only then is the old table swapped out, so a model that
  * fails mid-write leaves its last good table readable. The DAG runs in
  * dependency-depth waves (roots, then `fct_trips`), each one
  * [[graft.Concurrent.all]] call (the dbt `threads` analog): a failing
  * model fails its wave, named, once its siblings settle, and the later
  * waves (its dependents) are skipped.
  *
  * Every model is written once and is its corpus's artifact: the
  * published table serves the key `<model>_<sfKey>`, so `dbt test`
  * ([[Quality.report]]) and the query surface read the tables `dbt run`
  * wrote, through [[table]]. With no run before them (the `dbt test`
  * CLI, the oracle-gated queries) [[table]] builds the model into
  * scratch once. A model's deps are its `ref()`s: they order the run,
  * close `--select` subsets and, for `fct_trips`, name the tables
  * [[GoldFact.build]] reads, the ones wave 1 just published.
  *
  * The same deps compile each model's one oracle SQL body as dbt
  * compiles `ref()`s ([[compile]]): each upstream model becomes a CTE
  * named after it, in the fact's oracle and in the 32-check oracle.
  */
object PipelineRunner {

  /** A model: its name, its `ref()` deps, its oracle SQL body (DuckDB,
    * no `ORDER BY`; it reads its deps by model name) and its rows for a
    * corpus dir. */
  case class Model(name: String, deps: Seq[String], sql: String,
      build: (SparkSession, String) => DataFrame)

  /** The reference's six models, each built from the corpus dir. The
    * fact is [[GoldFact.build]], which reads its deps through [[table]],
    * plus its audit column. */
  def models: Seq[Model] = Seq(
    Model("stg_trips_unified", Nil, Silver.silverBody, Silver.build),
    Model("dim_date", Nil, GoldDims.dimDateBody, (s, _) => GoldDims.dimDate(s)),
    Model("dim_zone", Nil, GoldDims.dimZoneBody, GoldDims.dimZone),
    Model("dim_payment_type", Nil, GoldDims.dimPaymentTypeBody,
      (s, _) => GoldDims.dimPaymentType(s)),
    Model("dim_rate_code", Nil, GoldDims.dimRateCodeBody, (s, _) => GoldDims.dimRateCode(s)),
    Model("fct_trips",
      Seq("stg_trips_unified", "dim_date", "dim_zone", "dim_payment_type", "dim_rate_code"),
      GoldFact.fctTripsBody, (s, sf) => loadedAt(GoldFact.build(s, sf))))

  /** dbt's `ref()` compilation: `body` headed by one CTE per model in
    * `refs` and their transitive deps, each named after its model and in
    * [[waves]] order, so every CTE follows the ones it reads. A body
    * with refs is one SELECT, not a WITH of its own. */
  private[graft] def compile(refs: Seq[String], body: String): String =
    waves(closure(refs)).flatten.map(m => s"${m.name} AS (\n${m.sql})")
      .mkString("WITH ", ",\n", s"\n$body")

  /** Model `name`'s table for the corpus at `sfDir`: the table a run
    * published for this corpus state, or else a scratch build, read as
    * parquet. Consumers project the columns they read (the fact also
    * carries `dbt_loaded_at`); parquet prunes the rest. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val m = models.find(_.name == name).getOrElse(sys.error(s"unknown model $name"))
    Staged.materialize(s"${name}_${Staged.sfKey(sfDir)}", spark)(m.build(spark, sfDir))
  }

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
      names: Seq[String]): Map[String, Long] =
    runModels(spark, sfDir, outRoot, closure(names))

  /** The models `names` name plus their transitive deps, in [[models]]
    * order. Unknown names fail loudly. */
  private def closure(names: Seq[String]): Seq[Model] = {
    val ms = models
    val byName = ms.map(m => m.name -> m).toMap
    names.foreach(n => require(byName.contains(n), s"unknown model $n"))
    val selected = scala.collection.mutable.Set[String]()
    def close(n: String): Unit = if (selected.add(n)) byName(n).deps.foreach(close)
    names.foreach(close)
    ms.filter(m => selected(m.name))
  }

  /** One [[graft.Concurrent.all]] per wave; a failed wave stops the
    * later ones. Each model is written once and published as its
    * corpus's artifact ([[graft.functions.Staged.publish]]). Model ->
    * materialized row count. */
  private[graft] def runModels(spark: SparkSession, sfDir: String, outRoot: String,
      ms: Seq[Model]): Map[String, Long] = {
    val sfKey = Staged.sfKey(sfDir)
    waves(ms).flatMap { wave =>
      graft.Concurrent.all(spark, wave.map { m => m.name -> { () =>
        m.name -> Staged.publish(s"${m.name}_$sfKey", m.build(spark, sfDir),
          s"$outRoot/${m.name}")(_.count())
      }})
    }.toMap
  }
}
