package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{Decontaminate, Dedup, Divergence, Pii, QualityModel, TextAnalysis}

/** Corpus-release data card — the composition report (r10 verdict #3).
  *
  * Every audit a corpus data card states (Gebru et al., "Datasheets
  * for Datasets", CACM 2021; the Dolma/RefinedWeb release-report
  * practice) already exists in this library as its own hash-gated
  * query; what a 100 TB pipeline SHIPS is one artifact composing them
  * per release. This operator emits that artifact in long form — one
  * row per (section, item, metric) with an exact BIGINT value — so the
  * gate pins the COMPOSITION (which audits, which summaries, which
  * quantization) the way q_curation pins the curation funnel:
  *
  *   - mixture:       diversity indices per categorical axis
  *                    ([[Profile.mixtureReport]] — entropy/Simpson e9)
  *   - dedup_funnel:  corpus → exact-dup → near-dup → shipped masses
  *                    ([[graft.functions.Dedup.dedupFunnel]])
  *   - contamination: benchmark n-gram overlap summary
  *                    ([[graft.functions.Decontaminate.contaminationOf]])
  *   - lang_id:       detector accuracy per labeled language
  *                    (diagonal of [[TextAnalysis.langIdConfusion]])
  *   - drift_kl:      per-source word-mix KL from the corpus
  *                    ([[graft.functions.Divergence.sliceDivergence]])
  *   - drift_ks:      per-source quality-score KS drift
  *                    ([[graft.functions.Divergence.ksTest]])
  *   - zipf:          per-source rank-frequency OLS
  *                    ([[TextAnalysis.zipfSlope]])
  * plus the release-evidence sections a corpus card states before
  * shipping (r11 verdict #1 — present in every Datasheets/Dolma-style
  * card, previously missing from the composition):
  *   - pii:           per-family planted-PII hit totals + flagged-doc
  *                    count ([[graft.functions.Pii.piiScan]])
  *   - contamination_fuzzy: paraphrase-level (MinHash-LSH) benchmark
  *                    overlap summary
  *                    ([[Decontaminate.fuzzyContamination]])
  *   - quality_calibration: the trained filter's reliability diagram
  *                    ([[QualityModel.calibration]] — per-bin
  *                    confidence/accuracy gap, the ECE integrand)
  *   - quality_auc:   held-out ROC-AUC of the same classifier
  *                    ([[QualityModel.rocAuc]])
  *
  * Doubles cross the section boundary only as the components' own
  * quantized integers (entropy_e9, kl_e9, slope_e9, *_micro) or as one
  * floor of a bit-exact-cross-engine double (ks_d, at_value, auc,
  * max_jaccard — IEEE ops over exact integers per
  * [[graft.functions.Divergence.ksTestOf]] / the hash-gated component
  * outputs, so the floored e-units are identical in both engines).
  * Integer ratios use Spark's integral `div`, mirroring DuckDB's `//`
  * exactly with no double-division detour (r11 ADVICE — floor-of-double
  * only matches `//` while numerators stay below 2^53).
  *
  * Scale: pure composition — each component keeps its own one-scan /
  * staged-artifact plan (the funnel and fuzzy-contamination sections
  * re-read the staged MinHash chain; the quality sections read the
  * staged classifier scores; nothing here adds a corpus-sized
  * exchange), and every summary this operator adds on top (the
  * contamination/PII rollups, the confusion diagonal) aggregates
  * component OUTPUTS, which are doc-, cell- or source-sized. The
  * report itself is ~hundreds of rows at any corpus size. */
object DataCard {

  private def melt(df: DataFrame, section: String, item: Column,
      metrics: (String, Column)*): DataFrame = {
    val entries = metrics.map { case (name, c) =>
      struct(lit(name).as("metric"), c.cast("long").as("value")) }
    df.select(lit(section).as("section"), item.cast("string").as("item"),
        explode(array(entries: _*)).as("e"))
      .select(col("section"), col("item"),
        col("e.metric").as("metric"), col("e.value").as("value"))
  }

  def dataCard(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    def mix = melt(Profile.mixtureReport(spark, sfDir), "mixture", $"axis",
      "n_rows" -> $"n_rows", "n_cells" -> $"n_cells",
      "entropy_e9" -> $"entropy_e9", "simpson_e9" -> $"simpson_e9")
    def funnel = melt(Dedup.dedupFunnel(spark, sfDir), "dedup_funnel",
      lit("corpus"),
      "n_docs" -> $"n_docs", "n_exact_unique" -> $"n_exact_unique",
      "n_exact_dup_docs" -> $"n_exact_dup_docs",
      "n_neardup_pairs" -> $"n_neardup_pairs",
      "n_docs_in_clusters" -> $"n_docs_in_clusters",
      "n_dropped" -> $"n_dropped", "n_final" -> $"n_final",
      "retention_x1000" -> $"retention_x1000")
    // summary over the per-doc contamination hits; max ratio re-derived
    // from the integer columns (never the rounded double) via integral
    // division — the same `div` both engines evaluate exactly
    def contam = melt(
      Decontaminate.contamination(spark, sfDir).agg(
        count(lit(1)).as("n_docs_flagged"),
        coalesce(sum($"n_contaminated".cast("long")), lit(0L))
          .as("n_contaminated_grams"),
        coalesce(max(expr(
          "(CAST(n_contaminated AS BIGINT) * 1000000) div n_grams")),
          lit(0L)).as("max_ratio_x1e6")),
      "contamination", lit("src0"),
      "n_docs_flagged" -> $"n_docs_flagged",
      "n_contaminated_grams" -> $"n_contaminated_grams",
      "max_ratio_x1e6" -> $"max_ratio_x1e6")
    // detector accuracy = the confusion matrix's diagonal share
    def conf = TextAnalysis.langIdConfusion(spark, sfDir)
    def lang = melt(
      conf.groupBy($"lang_labeled").agg(
        max($"n_labeled").as("n_labeled"),
        coalesce(sum(when($"lang_pred" === $"lang_labeled", $"n")), lit(0L))
          .as("n_correct")),
      "lang_id", $"lang_labeled",
      "n_labeled" -> $"n_labeled", "n_correct" -> $"n_correct",
      "acc_x1000" -> expr("(n_correct * 1000) div n_labeled"))
    def kl = melt(Divergence.sliceDivergence(spark, sfDir), "drift_kl",
      $"source",
      "n_tokens" -> $"n_tokens", "vocab_used" -> $"vocab_used",
      "kl_e9" -> $"kl_e9")
    def ks = melt(Divergence.ksTest(spark, sfDir), "drift_ks", $"source",
      "ks_d_e9" -> floor($"ks_d" * lit(1e9)),
      "at_value_e6" -> floor($"at_value" * lit(1e6)))
    def zipf = melt(TextAnalysis.zipfSlope(spark, sfDir), "zipf", $"source",
      "n_terms" -> $"n_terms", "slope_e9" -> $"slope_e9",
      "r2_e9" -> $"r2_e9")
    // release evidence (r11 verdict #1): PII exposure, paraphrase-level
    // benchmark overlap, and classifier trustworthiness — summaries of
    // the individually-gated component outputs, same as the rest
    def pii = melt(
      Pii.piiScan(spark, sfDir).agg(
        sum($"has_pii".cast("long")).as("n_docs_flagged"),
        sum($"n_email".cast("long")).as("n_email"),
        sum($"n_cc".cast("long")).as("n_cc"),
        sum($"n_ssn".cast("long")).as("n_ssn"),
        sum($"n_phone".cast("long")).as("n_phone"),
        sum($"n_ipv4".cast("long")).as("n_ipv4")),
      "pii", lit("corpus"),
      "n_docs_flagged" -> $"n_docs_flagged", "n_email" -> $"n_email",
      "n_cc" -> $"n_cc", "n_ssn" -> $"n_ssn",
      "n_phone" -> $"n_phone", "n_ipv4" -> $"n_ipv4")
    // max_jaccard is the component's hash-gated double (identical IEEE
    // value in both engines), so its floored e6-units match exactly
    def fuzzy = melt(
      Decontaminate.fuzzyContamination(spark, sfDir).agg(
        count(lit(1)).as("n_docs_flagged"),
        coalesce(sum($"n_bench_matches".cast("long")), lit(0L))
          .as("n_bench_matches"),
        coalesce(floor(max($"max_jaccard") * lit(1e6)), lit(0L))
          .as("max_jaccard_e6")),
      "contamination_fuzzy", lit("src0"),
      "n_docs_flagged" -> $"n_docs_flagged",
      "n_bench_matches" -> $"n_bench_matches",
      "max_jaccard_e6" -> $"max_jaccard_e6")
    def cal = melt(QualityModel.calibration(spark, sfDir),
      "quality_calibration", $"bin",
      "n" -> $"n", "avg_conf_micro" -> $"avg_conf_micro",
      "pos_rate_micro" -> $"pos_rate_micro", "gap_micro" -> $"gap_micro")
    def auc = melt(QualityModel.rocAuc(spark, sfDir),
      "quality_auc", lit("holdout"),
      "n_pos" -> $"n_pos", "n_neg" -> $"n_neg", "u2" -> $"u2",
      "auc_e9" -> floor($"auc" * lit(1e9)))
    // The 11 sections are independent audits: composed into one plan
    // they ran as ~90 tiny sequential stages (6.5 s for a 247-row report
    // at sf0.1). So they are built (the `def`s above) and evaluated as
    // concurrent jobs, each pinned through checkpointAudited so a global
    // window cannot hide behind the truncation; quality_auc, the one
    // global-window carrier, is pinned at the catalogued site
    // "dataCard.quality_auc" (WindowAudit.SanctionedCheckpointSites).
    // dataCard is therefore eager: every section runs before it returns.
    val sections = Seq[(String, () => DataFrame)](
      "mixture" -> (() => mix), "dedup_funnel" -> (() => funnel),
      "contamination" -> (() => contam), "lang_id" -> (() => lang),
      "drift_kl" -> (() => kl), "drift_ks" -> (() => ks),
      "zipf" -> (() => zipf), "pii" -> (() => pii),
      "contamination_fuzzy" -> (() => fuzzy),
      "quality_calibration" -> (() => cal),
      "quality_auc" -> (() => auc))
    graft.Concurrent.all(spark, sections.map { case (name, build) =>
      name -> (() => graft.plans.WindowAudit.checkpointAudited(s"dataCard.$name", build()))
    }).reduce(_.unionByName(_)).orderBy($"section", $"item", $"metric")
  }

  /** The same composition in SQL: each component's published oracle as
    * a derived table, melted with identical integer arithmetic. */
  def dataCardSql(): String = {
    def m(cte: String, section: String, item: String,
        metrics: Seq[(String, String)]): String =
      metrics.map { case (name, expr) =>
        s"""SELECT '$section' AS section, CAST($item AS VARCHAR) AS item,
           |       '$name' AS metric, CAST($expr AS BIGINT) AS value
           |FROM $cte""".stripMargin
      }.mkString("\nUNION ALL\n")
    s"""WITH dc_mix AS (SELECT * FROM (${Profile.mixtureReportSql})),
       |dc_funnel AS (SELECT * FROM (${Dedup.dedupFunnelSql()})),
       |dc_contam AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs_flagged,
       |         COALESCE(CAST(SUM(n_contaminated) AS BIGINT), 0)
       |           AS n_contaminated_grams,
       |         COALESCE(MAX(CAST(n_contaminated AS BIGINT) * 1000000
       |                      // n_grams), 0) AS max_ratio_x1e6
       |  FROM (${Decontaminate.contaminationSql()})),
       |dc_conf AS (
       |  SELECT lang_labeled,
       |         MAX(n_labeled) AS n_labeled,
       |         COALESCE(CAST(SUM(CASE WHEN lang_pred = lang_labeled
       |                                THEN n END) AS BIGINT), 0) AS n_correct
       |  FROM (${TextAnalysis.langIdConfusionSql})
       |  GROUP BY 1),
       |dc_kl AS (SELECT * FROM (${Divergence.sliceDivergenceSql})),
       |dc_ks AS (SELECT * FROM (${Divergence.ksTestSql})),
       |dc_zipf AS (SELECT * FROM (${TextAnalysis.zipfSlopeSql()})),
       |dc_pii AS (
       |  SELECT CAST(SUM(CASE WHEN has_pii THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_docs_flagged,
       |         CAST(SUM(n_email) AS BIGINT) AS n_email,
       |         CAST(SUM(n_cc) AS BIGINT) AS n_cc,
       |         CAST(SUM(n_ssn) AS BIGINT) AS n_ssn,
       |         CAST(SUM(n_phone) AS BIGINT) AS n_phone,
       |         CAST(SUM(n_ipv4) AS BIGINT) AS n_ipv4
       |  FROM (${Pii.piiScanSql})),
       |dc_fuzzy AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs_flagged,
       |         COALESCE(CAST(SUM(n_bench_matches) AS BIGINT), 0)
       |           AS n_bench_matches,
       |         COALESCE(CAST(FLOOR(MAX(max_jaccard) * 1e6) AS BIGINT), 0)
       |           AS max_jaccard_e6
       |  FROM (${Decontaminate.fuzzyContaminationSql()})),
       |dc_cal AS (SELECT * FROM (${QualityModel.calibrationSql()})),
       |dc_auc AS (SELECT * FROM (${QualityModel.rocAucSql()}))
       |${m("dc_mix", "mixture", "axis", Seq(
            "n_rows" -> "n_rows", "n_cells" -> "n_cells",
            "entropy_e9" -> "entropy_e9", "simpson_e9" -> "simpson_e9"))}
       |UNION ALL
       |${m("dc_funnel", "dedup_funnel", "'corpus'", Seq(
            "n_docs" -> "n_docs", "n_exact_unique" -> "n_exact_unique",
            "n_exact_dup_docs" -> "n_exact_dup_docs",
            "n_neardup_pairs" -> "n_neardup_pairs",
            "n_docs_in_clusters" -> "n_docs_in_clusters",
            "n_dropped" -> "n_dropped", "n_final" -> "n_final",
            "retention_x1000" -> "retention_x1000"))}
       |UNION ALL
       |${m("dc_contam", "contamination", "'src0'", Seq(
            "n_docs_flagged" -> "n_docs_flagged",
            "n_contaminated_grams" -> "n_contaminated_grams",
            "max_ratio_x1e6" -> "max_ratio_x1e6"))}
       |UNION ALL
       |${m("dc_conf", "lang_id", "lang_labeled", Seq(
            "n_labeled" -> "n_labeled", "n_correct" -> "n_correct",
            "acc_x1000" -> "n_correct * 1000 // n_labeled"))}
       |UNION ALL
       |${m("dc_kl", "drift_kl", "source", Seq(
            "n_tokens" -> "n_tokens", "vocab_used" -> "vocab_used",
            "kl_e9" -> "kl_e9"))}
       |UNION ALL
       |${m("dc_ks", "drift_ks", "source", Seq(
            "ks_d_e9" -> "FLOOR(ks_d * 1e9)",
            "at_value_e6" -> "FLOOR(at_value * 1e6)"))}
       |UNION ALL
       |${m("dc_zipf", "zipf", "source", Seq(
            "n_terms" -> "n_terms", "slope_e9" -> "slope_e9",
            "r2_e9" -> "r2_e9"))}
       |UNION ALL
       |${m("dc_pii", "pii", "'corpus'", Seq(
            "n_docs_flagged" -> "n_docs_flagged", "n_email" -> "n_email",
            "n_cc" -> "n_cc", "n_ssn" -> "n_ssn",
            "n_phone" -> "n_phone", "n_ipv4" -> "n_ipv4"))}
       |UNION ALL
       |${m("dc_fuzzy", "contamination_fuzzy", "'src0'", Seq(
            "n_docs_flagged" -> "n_docs_flagged",
            "n_bench_matches" -> "n_bench_matches",
            "max_jaccard_e6" -> "max_jaccard_e6"))}
       |UNION ALL
       |${m("dc_cal", "quality_calibration", "bin", Seq(
            "n" -> "n", "avg_conf_micro" -> "avg_conf_micro",
            "pos_rate_micro" -> "pos_rate_micro",
            "gap_micro" -> "gap_micro"))}
       |UNION ALL
       |${m("dc_auc", "quality_auc", "'holdout'", Seq(
            "n_pos" -> "n_pos", "n_neg" -> "n_neg", "u2" -> "u2",
            "auc_e9" -> "FLOOR(auc * 1e9)"))}
       |ORDER BY section, item, metric""".stripMargin
  }
}
