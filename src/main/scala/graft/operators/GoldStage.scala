package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.functions.Staged

/** Materialized gold fact — the dbt `materialized='table'` semantic for
  * the engine's own query surface.
  *
  * In the reference, `fct_trips` is built ONCE per dbt run and every
  * downstream consumer reads the table: the analytics models select
  * from it, and `dbt test` runs its 13 fct checks against the
  * materialized rows (never against a re-derived CTE). Round 1/2 built
  * the fact independently in q_fct_trips and q_quality_report — the
  * same join chain (silver ⨝ orders ⨝ customer ⨝ supplier + 5
  * broadcast dims) twice per bench pass. This stage is the missing DAG
  * edge, with the same mechanics as [[graft.functions.DedupStage]].
  *
  * [[PipelineRunner]]'s `fct_trips` model writes [[rows]] (plus its
  * audit column) once, to the chosen output directory, and publishes
  * that table as the corpus's artifact ([[key]]): the query surface and
  * the quality suite then read the table `dbt run` wrote. With no run
  * before them (the `dbt test` CLI, the oracle-gated queries) they
  * build the artifact into scratch once. Plan-shape specs assert on
  * [[GoldFact.build]] directly (the builder is the operator; this is
  * its materialization).
  */
object GoldStage {

  /** The corpus's artifact key: rewriting an input table changes it. */
  def key(sfDir: String): String = s"fct_trips_${Staged.sfKey(sfDir)}"

  /** The fact's rows, projected to [[GoldFact.verifiedColumns]]: the
    * raw build also carries every join intermediate (~35 cols); the
    * artifact carries only the model's public surface. */
  def rows(spark: SparkSession, sfDir: String): DataFrame =
    GoldFact.build(spark, sfDir).select(GoldFact.verifiedColumns.map(col): _*)

  /** The fact table, built once per (JVM, corpus state) and read as
    * parquet thereafter — the table a run published, or else a scratch
    * build — projected to [[GoldFact.verifiedColumns]]. Column pruning
    * applies on read, so a consumer that needs 8 of the 22 columns
    * scans only those. */
  def fact(spark: SparkSession, sfDir: String): DataFrame =
    Staged.materialize(key(sfDir), spark)(rows(spark, sfDir))
      .select(GoldFact.verifiedColumns.map(col): _*)
}
