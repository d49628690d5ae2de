package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * This is the only place the fact is built: [[PipelineRunner]]'s
  * `fct_trips` model writes this artifact (plus its audit column) to
  * the chosen output directory, and the query surface and the quality
  * suite read it. Plan-shape specs assert on [[GoldFact.build]]
  * directly (the builder is the operator; this is its materialization).
  */
object GoldStage {

  /** The fact table, built once per (JVM, corpus state) and read as
    * parquet thereafter (rewriting an input table changes the key) — projected to [[GoldFact.verifiedColumns]]: staging
    * the raw build would also write every join intermediate (~35 cols);
    * the artifact carries only the model's public surface. Column
    * pruning applies on read, so a consumer that needs 8 of the 22
    * columns scans only those. */
  def fact(spark: SparkSession, sfDir: String): DataFrame =
    Staged.materialize(s"fct_trips_${Staged.sfKey(sfDir)}", spark) {
      GoldFact.build(spark, sfDir)
        .select(GoldFact.verifiedColumns.map(org.apache.spark.sql.functions.col): _*)
    }
}
