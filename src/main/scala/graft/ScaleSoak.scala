package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-soak main (NOT part of the driver contract): replicates the
  * base tables ×m into a temp dir and runs a representative slice of
  * the registered queries through their real public entry points, so
  * the library's scaling SLOPE is measured instead of asserted.
  *
  * The point: sf0.1 correctness runs prove semantics; this proves the
  * plans. A query whose cost grows like O(n·log n) or better shows a
  * scaling exponent α = log(t_m/t_1)/log(m) ≤ ~1 as m grows; a hidden
  * quadratic (all-pairs join, driver loop over rows) shows α → 2 and
  * is flagged loudly. Results land as one JSON line per (query, m) on
  * stdout plus a summary with per-query α — recorded in SCALE.md.
  *
  * Replication remaps the join keys (orderkey ×m + r on both sides of
  * the orders⋈lineitem edge, doc/vec/event ids likewise) so key
  * cardinality scales with the data — replicating WITHOUT remapping
  * would turn every key into an m-way hot key and measure skew, not
  * scale. Document text is salted with the replica index so the
  * near-dup rate stays constant as the corpus grows (the realistic
  * regime; un-salted replication would make every document an m-way
  * duplicate and measure cluster blow-up instead).
  *
  * Usage: SPARK_GRAFT_SF_DIR=<base> runMain graft.ScaleSoak [m1,m2,...]
  * (default multipliers 1,4,16).
  */
object ScaleSoak {

  /** Queries chosen to cover the distinct cost shapes: scan+agg,
    * multi-join star, shuffle join + top-k, window/sessionization,
    * hash dedup, LSH banded near-dup + components, text analysis,
    * LSH ANN over embeddings. */
  val SoakQueries: Seq[String] = Seq(
    "q_monthly_agg",     // scan + group-by (flagship)
    "q_tpch_q3",         // 3-way join + agg + top-k
    "q_fct_trips",       // star-schema fact build (multi-join)
    "q_demand_by_zone",  // dim join + count + top-k
    "q_sessionize",      // per-user window gaps over events
    "q_dedup_exact",     // hash group-by dedup
    "q_minhash_dedup",   // shingle → minhash → banded LSH join
    "q_dup_clusters",    // components over mined pairs (regime switch)
    "q_curation",        // composed funnel over the staged LSH index
    "q_token_counts",    // text tokenization + agg
    "q_pagerank",        // iterative graph (10 rounds)
    "q_knn_lsh",         // sign-hyperplane bucketed ANN
    "q_gopher_rules",    // pure per-doc rule map (α should be ~1)
    "q_dsir_sample",     // two gram scans + B-sized broadcast + top-k
    "q_contamination_bloom", // bitmap build (eval-sized) + narrow probe scan
    "q_contamination_fuzzy", // cross-set LSH probe of the staged band index
    "q_slice_divergence",    // corpus explode + vocab×sources grid
    "q_unigram_model",       // Viterbi-EM over distinct words; driver state vocab-sized
    "q_unigram_encode",      // EM-learned vocab + distinct-word Viterbi
    "q_quality_classifier",  // 8-round full-batch GD: weights out, D+1 gradient rows back
    "q_classifier_eval",     // held-out F1 of the same machinery (stability invariant)
    "q_containment",         // one-sided prefix-filtered doc-in-doc miner (exact → structural ×m)
    "q_roc_auc",             // held-out ranking quality (1 row; AUC stability invariant)
    "q_ks_test",             // per-source ECDF drift (resolution-bounded windows; rows = #sources)
    "q_dp_release",          // cell-count release + PRF noise (rows = #langs)
    "q_mixture_report",      // diversity indices (every cell scales ×m → VALUES exactly invariant)
    "q_dedup_funnel",        // staged-chain report (components ×m → retention exactly invariant)
    "q_tfidf_terms",         // per-source signature terms (rows = 5 × #sources at every m)
    "q_bootstrap_ci",        // Poisson-bootstrap CI (point mean exactly invariant; CI tightens)
    "q_knn_ivfpq",           // IVF-PQ ANN (fixed queries/centroids; recall-vs-IVF floor at every m)
    "q_domain_reweight",     // per-domain loss + MW rounds (rows = #sources at every m)
    "q_hard_negatives",      // semi-hard mining (fixed anchors; k rows/anchor at every m)
    "q_dup_weighted_sample", // 1/n_copies PRF survival (rows ×m; dup structure replicates)
    "q_curriculum",          // banded interleave (rows ×m; per-shard windows only)
    "q_source_overlap",      // source-pair matrix (rows = base pair set at every m)
    "q_tokenizer_fertility", // pieces/word per source (rows = #sources at every m)
    "q_mixture_budget",      // sqrt-temperature allocation (rows = #sources at every m)
    "q_blocklist_scrub",     // one automaton pass/doc (rows = #patterns at every m; counts ×m)
    "q_embedding_drift",     // corpus×dim explode → labels×dims moments (rows = #labels)
    "q_zipf_slope",          // vocab ranking + per-source OLS (rows = #sources)
    "q_hll_distinct",        // 256-register sketch (rows = #sources; 3σ tracking at every m)
    "q_ddsketch_quantiles",  // log-γ quantile sketch (rows = 3·#sources; α bound at every m)
    "q_theta_overlap",       // KMV pair-overlap sketch (rows = source pairs at every m; audit-bounded)
    "q_theta_overlap_sketch",// the audit-free scale path (rows = source pairs at every m; stage-free plan)
    "q_preference_pairs",    // BT-margin training pairs (fixed users → duels, margins and kept set m-invariant)
    "q_t_closeness",         // QI-group TVD audit (cells ×m → every tvd_e9 exactly invariant)
    "q_bradley_terry",       // MM preference strengths (user set fixed → duels invariant → output bit-equal)
    "q_coreset",             // greedy k-center (k+1 rows at every m; radii non-increasing, round-1 monotone in m)
    "q_mg_topk",             // Misra–Gries offset summary (≤ k rows/source; λ(k+1) ≤ n bound at every m)
    "q_mg_merge",            // MG shard-merge (union bound enforced at every m; heap-regime parity)
    "q_countmin",            // CMS point-query audit (topN rows at every m; one-sided error enforced by the gate columns)
    "q_preference_length_bias", // duel length-bias audit (bucket sums m-invariant; bit-equal under user growth)
    "q_data_card",           // composed release report (rows = fixed section geometry at every m)
    "q_manifest_prune",      // footer-stats manifest prune (12 month rows at every m; 1-of-7 files enforced in-band)
    "q_knn_ivf_incremental") // staged-base + batch-assign ANN maintenance (== full rebuild at every m; step cost O(batch))
  // q_nn_graph is soaked OUTSIDE the fixed-default loop: fixed-width
  // banding is inherently n²·2^-r, so the corpus-sized variant
  // (nnGraphParams: r ≈ log₂ n) is what scale runs — see the
  // dedicated block in the invariant section.

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // subset filter for incremental soaks (same contract as Bench's
    // SPARK_GRAFT_BENCH_ONLY): replication dirs are reused, so soaking
    // only the queries added since the last full run is cheap
    val soakQueries = sys.env.get("SPARK_GRAFT_SOAK_ONLY") match {
      case Some(s) =>
        val want = s.split(",").map(_.trim).filter(_.nonEmpty).toSet
        val unknown = want -- SoakQueries.toSet - "q_nn_graph"
        require(unknown.isEmpty, s"SPARK_GRAFT_SOAK_ONLY unknown: $unknown")
        SoakQueries.filter(want)
      case None => SoakQueries
    }
    val mults = args.headOption.getOrElse("1,4,16")
      .split(",").map(_.trim.toInt).toSeq
    val spark = GraftSession.local()

    // un-timed warm-up circuit at the smallest multiplier: the first
    // execution of each query shape absorbs session/codegen/JIT
    // warm-up (~1-3 s), which would otherwise land entirely on the
    // m=min timings and fake a negative scaling exponent
    // warmed against the BASE dir, not a soak dir: per-dir staged
    // artifacts mean warming an m that is also timed would pre-pay
    // that m's stage builds and skew its timings against the others'
    locally {
      soakQueries.foreach(q => SparkEntry.queries(q)(spark, base).count())
      if (sys.env.get("SPARK_GRAFT_SOAK_ONLY").forall(_.contains("q_nn_graph")))
        graft.functions.Similarity.nnGraph(spark, base).count()
      spark.catalog.clearCache()
    }

    val times = scala.collection.mutable.LinkedHashMap[(String, Int), Double]()
    val rows = scala.collection.mutable.LinkedHashMap[(String, Int), Long]()
    val monthly = scala.collection.mutable.LinkedHashMap[Int, Map[(String, String), Seq[String]]]()
    val oneRow = scala.collection.mutable.LinkedHashMap[(String, Int), Seq[String]]()
    for (m <- mults) {
      val dir = replicate(spark, base, m)
      for (q <- soakQueries) {
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val n = SparkEntry.queries(q)(spark, dir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        times((q, m)) = dt; rows((q, m)) = n
        println(f"""{"soak":"$q","m":$m,"sec":$dt%.3f,"rows":$n}""")
      }
      // full flagship output for the value-level invariant below
      if (soakQueries.contains("q_monthly_agg"))
        monthly(m) = SparkEntry.queries("q_monthly_agg")(spark, dir)
          .collect().map { r =>
            (r.getString(0), String.valueOf(r.get(1))) ->
              r.toSeq.drop(2).map(String.valueOf)
          }.toMap
      // single-row contract/metric outputs for the value-level
      // invariants below (re-running is cheap: both read per-dir
      // staged artifacts, so this collects — it doesn't retrain)
      for (q <- Seq("q_unigram_model", "q_classifier_eval", "q_roc_auc",
          "q_dedup_funnel", "q_bootstrap_ci").filter(soakQueries.contains))
        oneRow((q, m)) = SparkEntry.queries(q)(spark, dir)
          .collect()(0).toSeq.map(String.valueOf)
      if (soakQueries.contains("q_mixture_report"))
        oneRow(("q_mixture_report", m)) =
          SparkEntry.queries("q_mixture_report")(spark, dir)
            .collect().toSeq.flatMap(_.toSeq.map(String.valueOf))
      // per-anchor rank-1 hard-negative cosine, for the superset
      // monotonicity invariant below (anchors are pinned base ids)
      if (soakQueries.contains("q_hard_negatives"))
        oneRow(("q_hard_negatives", m)) =
          SparkEntry.queries("q_hard_negatives")(spark, dir)
            .filter(col("rank") === 1).orderBy("query_id")
            .collect().toSeq.map(r => s"${r.getLong(0)}:${r.getDouble(3)}")
      // full blocklist report (12 rows) for the per-pattern linearity
      // invariant below
      if (soakQueries.contains("q_blocklist_scrub"))
        oneRow(("q_blocklist_scrub", m)) =
          SparkEntry.queries("q_blocklist_scrub")(spark, dir)
            .collect().toSeq.map(r =>
              s"${r.getString(0)}|${r.getLong(1)}|${r.getLong(2)}")
      if (soakQueries.contains("q_zipf_slope"))
        oneRow(("q_zipf_slope", m)) =
          SparkEntry.queries("q_zipf_slope")(spark, dir)
            .collect().toSeq.map(r => String.valueOf(r.get(2)))
      if (soakQueries.contains("q_hll_distinct"))
        oneRow(("q_hll_distinct", m)) =
          SparkEntry.queries("q_hll_distinct")(spark, dir)
            .collect().toSeq.map(r =>
              s"${r.getString(0)}|${r.getLong(2)}|${r.getLong(3)}")
      if (soakQueries.contains("q_ddsketch_quantiles"))
        oneRow(("q_ddsketch_quantiles", m)) =
          SparkEntry.queries("q_ddsketch_quantiles")(spark, dir)
            .collect().toSeq.map(r =>
              s"${r.getString(0)}|${r.getString(1)}|${r.getAs[Boolean]("within_bound")}")
      // per-pair estimate error vs the exact audit columns, for the
      // KMV bound invariant below
      if (soakQueries.contains("q_theta_overlap"))
        oneRow(("q_theta_overlap", m)) =
          SparkEntry.queries("q_theta_overlap")(spark, dir)
            .collect().toSeq.map(r =>
              s"${r.getString(0)}|${r.getString(1)}|${r.getAs[Long]("abs_err_e6")}")
      // full outputs for the bit-equality invariants below: customer is
      // copied verbatim and orders/events fan out ×m on unchanged
      // custkey/user_id, so the QI distributions and the duel matrix
      // are structurally m-invariant
      // (t-closeness drops the ×m-scaling n_rows column here — its
      // linearity is asserted separately below; everything else is
      // bit-equal across m)
      if (soakQueries.contains("q_t_closeness")) {
        val tc = SparkEntry.queries("q_t_closeness")(spark, dir).collect().toSeq
        oneRow(("q_t_closeness", m)) = tc.map(r =>
          s"${r.get(0)}|${r.getString(1)}|${r.getLong(3)}|${r.getBoolean(4)}")
        oneRow(("q_t_closeness_nrows", m)) =
          tc.map(r => String.valueOf(r.getLong(2)))
      }
      if (soakQueries.contains("q_bradley_terry")) {
        oneRow(("q_bradley_terry", m)) =
          SparkEntry.queries("q_bradley_terry")(spark, dir)
            .collect().toSeq.map(_.toSeq.map(String.valueOf).mkString("|"))
        // USER-GROWTH mode (r9 verdict #6): the fixed-user replication
        // above never stresses the per-user pair fan-out — engagement
        // scales ×m on the SAME users, so the duel matrix is the base
        // matrix by construction. Here the user set itself scales ×m:
        // replica r of each base user (recovered from event_id mod m —
        // remap is id·m + rep) replays the base user's judgments under
        // a fresh user_id. Structural claims asserted below: item set
        // fixed, duel matrix ≤ items² with wins EXACTLY ×m, and the MM
        // trajectory within floor-noise of the base fit. The timed
        // build is the duel-matrix shuffle — the part whose fan-out
        // grows — feeding the α < 1 summary row as bt_usergrowth.
        val evu = graft.sources.Tables.events(spark, dir)
          .withColumn("user_id",
            col("user_id") * m + pmod(col("event_id"), lit(m.toLong)))
        val t0u = System.nanoTime()
        val duelsU = graft.functions.Preference.duelMatrixFrom(evu)
          .collect().toSeq
        val dtu = (System.nanoTime() - t0u) / 1e9
        times(("bt_usergrowth", m)) = dtu
        rows(("bt_usergrowth", m)) = duelsU.length.toLong
        println(f"""{"soak":"bt_usergrowth","m":$m,"sec":$dtu%.3f,"rows":${duelsU.length}}""")
        oneRow(("bt_usergrowth_wins", m)) = duelsU
          .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
          .sortBy(t => (t._1, t._2))
          .map { case (wn, ls, n) =>
            require(n % m == 0,
              s"soak invariant: user-growth wins $wn>$ls=$n not divisible by m=$m")
            s"$wn|$ls|${n / m}"
          }
        val duelsDf = spark.createDataFrame(duelsU
            .map(r => (r.getString(0), r.getString(1), r.getLong(2))))
          .toDF("winner", "loser", "n_wins")
        oneRow(("bt_usergrowth_pi", m)) =
          graft.functions.Preference.bradleyTerryFrom(spark, duelsDf)
            .collect().toSeq.map(r => s"${r.getString(0)}|${r.getLong(7)}")
      }
      // preference-pair artifact under USER growth (r10 verdict #2):
      // replica r of each base user replays the base judgments, so the
      // kept (chosen, rejected, totals, margin) set must appear EXACTLY
      // ×m — one copy per replica user — and nothing else. Timed as the
      // α row for the pair-emission path (duel build + broadcast
      // strength join). The length-bias audit over the same grown frame
      // must be BIT-EQUAL to the base report (per-replica lengths are
      // base lengths — unlike the fixed-user mode, nothing scales).
      if (soakQueries.contains("q_preference_pairs")) {
        val evp = graft.sources.Tables.events(spark, dir)
          .withColumn("user_id",
            col("user_id") * m + pmod(col("event_id"), lit(m.toLong)))
        val t0p = System.nanoTime()
        val keptU = graft.functions.Preference.keptPairsFrom(spark, evp)
          .select(floor(col("user_id") / m).cast("long").as("base_user"),
            col("chosen"), col("rejected"),
            col("chosen_tot_e6"), col("rejected_tot_e6"), col("margin_e9"))
          .groupBy("base_user", "chosen", "rejected",
            "chosen_tot_e6", "rejected_tot_e6", "margin_e9")
          .agg(count(lit(1)).as("n_copies"))
          .collect().toSeq
        val dtp = (System.nanoTime() - t0p) / 1e9
        times(("pref_usergrowth", m)) = dtp
        rows(("pref_usergrowth", m)) = keptU.length.toLong
        println(f"""{"soak":"pref_usergrowth","m":$m,"sec":$dtp%.3f,"rows":${keptU.length}}""")
        require(keptU.forall(_.getLong(6) == m.toLong),
          s"soak invariant: user-growth kept pair not exactly ×$m copies")
        // pair identity compared EXACTLY; the BT margin separately with
        // the trajectory's floor-noise band (wins scale ×m, so pi4
        // drifts ≤ 16 e9-units per item — see bt_usergrowth_pi)
        oneRow(("pref_usergrowth_set", m)) = keptU
          .map(r => (0 to 4).map(i => String.valueOf(r.get(i))).mkString("|"))
          .sorted
        oneRow(("pref_usergrowth_margin", m)) = keptU
          .map(r => ((0 to 2).map(i => String.valueOf(r.get(i))).mkString("|"),
            r.getLong(5)))
          .sortBy(_._1).map { case (k2, mg) => s"$k2=$mg" }
        // length-bias report: per-replica lengths are BASE lengths, so
        // bucket geometry, medians and win rates are bit-equal while
        // the three COUNT columns scale exactly ×m — normalize them
        oneRow(("pref_usergrowth_lenbias", m)) =
          graft.functions.Preference.preferenceLengthBiasFrom(spark, evp)
            .collect().toSeq.map { r =>
              val counts = (1 to 3).map { i =>
                val c = r.getLong(i)
                require(c % m == 0,
                  s"soak invariant: user-growth length-bias count col $i=$c not ×$m at m=$m")
                c / m
              }
              (Seq(r.get(0)) ++ counts ++ (4 to 7).map(r.get))
                .map(String.valueOf).mkString("|")
            }
      }
      if (soakQueries.contains("q_coreset"))
        oneRow(("q_coreset", m)) =
          SparkEntry.queries("q_coreset")(spark, dir)
            .collect().toSeq.drop(1).map(r => String.valueOf(r.getLong(2)))
      // per-source survivor counts + the λ(k+1) ≤ n bound column, for
      // the capacity/bound invariants below (the salt multiplies each
      // source's count MULTISET ×m, so λ and the survivor set move
      // with m by design — only the capacity and the bound are claims)
      if (soakQueries.contains("q_mg_topk")) {
        val mgDefault = SparkEntry.queries("q_mg_topk")(spark, dir)
          .collect().toSeq.map(_.toSeq.map(String.valueOf).mkString("|"))
        oneRow(("q_mg_topk", m)) =
          mgDefault.map(s => s"${s.split('|')(0)}|${s.split('|')(5)}")
        // heap-regime parity AT CORPUS SCALE (r10): the unit spec
        // proves heap == window on gate data; here the same gated
        // query re-runs through the forced bounded-buffer regime at
        // every ×m and must be bit-identical to the default run —
        // the regime switch can never change answers, only plans
        // (regime forced via the heapLimit PARAMETER — r10 ADVICE:
        // no shared-state mutation, concurrent queries unaffected)
        val mgHeap = graft.functions.CountMin
          .mgTopk(spark, dir, heapLimit = 0L)
          .collect().toSeq.map(_.toSeq.map(String.valueOf).mkString("|"))
        require(mgHeap == mgDefault,
          s"soak invariant: mg heap regime != window regime at m=$m")
      }
      // MG MERGE path (r10 verdict #2): the union bound under the
      // fattening ×m tail, the merged-capacity bound, the merged-λ
      // guarantee, and heap-regime parity THROUGH the merge — the
      // frequency twin of the HLL/DDSketch merge soaks (their merges
      // are exact; MG's is lossy, so the enforceable algebra is the
      // mergeable-summaries bound est ≤ true ≤ est + Σλ, which the
      // query carries in-row as bound_ok)
      if (soakQueries.contains("q_mg_merge")) {
        val mgm = SparkEntry.queries("q_mg_merge")(spark, dir)
          .collect().toSeq
        require(mgm.forall(_.getAs[Boolean]("bound_ok")),
          s"soak invariant: MG merge union bound broken at m=$m")
        val k = graft.functions.CountMin.MgK
        val shards = graft.functions.CountMin.MgShards
        mgm.groupBy(_.getString(0)).foreach { case (src, rs) =>
          require(rs.length <= shards * k,
            s"soak invariant: MG merge support for $src over shard capacity at m=$m: ${rs.length}")
          // each shard's λ ≤ n_shard/(k+1), so Σλ ≤ n/(k+1) exactly
          require(rs.forall(r =>
              r.getAs[Long]("lam_sum") * (k + 1) <= r.getAs[Long]("n_tokens")),
            s"soak invariant: MG merged Σλ > n/(k+1) for $src at m=$m")
        }
        val mgmHeap = graft.functions.CountMin
          .mgMerge(spark, dir, heapLimit = 0L)
          .collect().toSeq.map(_.toSeq.map(String.valueOf).mkString("|"))
        require(mgmHeap == mgm.map(_.toSeq.map(String.valueOf).mkString("|")),
          s"soak invariant: MG merge heap regime != window regime at m=$m")
      }
      // incremental IVF maintenance (r11 verdict #6): the generic timed
      // row above paid the one-time staged-base build; THIS row times
      // the maintenance round alone — batch assignment + probe against
      // the hot artifact — which is the recurring cost a growing corpus
      // pays per batch (batch scales ×m ⇒ α ≈ 1 is the claim; a base
      // re-scan would read as the build cost and blow the slope). The
      // invariant is the maintenance contract itself: the maintained
      // index answers BIT-IDENTICALLY to a full rebuild at every m.
      if (soakQueries.contains("q_knn_ivf_incremental")) {
        val t0i = System.nanoTime()
        val incRows = SparkEntry.queries("q_knn_ivf_incremental")(spark, dir)
          .collect().toSeq
        val dti = (System.nanoTime() - t0i) / 1e9
        times(("ivf_incr_step", m)) = dti
        rows(("ivf_incr_step", m)) = incRows.length.toLong
        println(f"""{"soak":"ivf_incr_step","m":$m,"sec":$dti%.3f,"rows":${incRows.length}}""")
        val fullRows = graft.functions.Similarity.knnIvfQuant(spark, dir)
          .collect().toSeq
        require(incRows.map(_.toSeq.map(String.valueOf)) ==
            fullRows.map(_.toSeq.map(String.valueOf)),
          s"soak invariant: incremental IVF != full rebuild at m=$m")
      }
      // length-bias audit: per-bucket geometry shifts with m (lengths
      // scale ×m, so digit buckets move) but the length COMPARISONS are
      // scale-invariant (c·m > r·m iff c > r) — the bucket-summed pair /
      // longer-chosen / tie masses must be m-invariant
      if (soakQueries.contains("q_preference_length_bias")) {
        val lb = SparkEntry.queries("q_preference_length_bias")(spark, dir)
          .collect().toSeq
        oneRow(("pref_lenbias_sums", m)) = Seq(
          lb.map(_.getLong(1)).sum, lb.map(_.getLong(2)).sum,
          lb.map(_.getLong(3)).sum).map(String.valueOf)
      }
      // sketch MERGE paths at scale (r8 verdict #8): the build paths
      // above soak the one-shot sketches; here the corpus is split
      // into 8 doc-sharded sub-sketches and merged back — HLL by
      // register MAX, DDSketch by bin-count addition — and the merged
      // state must equal the whole-corpus state EXACTLY at every m
      // (the algebra the incremental/cross-shard deployments rely on,
      // exercised at corpus scale rather than unit scale).
      if (soakQueries.contains("q_hll_distinct")) {
        val docs = graft.sources.Tables.documents(spark, dir)
        val toks = docs.select(pmod(col("doc_id"), lit(8)).as("shard"),
          col("source"), explode(regexp_extract_all(lower(col("text")),
            lit("[a-z0-9]+"), lit(0))).as("tok"))
        val whole = graft.functions.Hll.registersOf(toks)
        val merged = graft.functions.Hll.registersOf(
          toks.withColumn("source", concat_ws(" ", col("shard"), col("source"))))
          .withColumn("source", substring_index(col("source"), " ", -1))
          .groupBy(col("source"), col("reg")).agg(max(col("r")).as("r"))
        val diff = whole.exceptAll(merged).count() + merged.exceptAll(whole).count()
        println(s"""{"soak":"hll_merge","m":$m,"regs":${merged.count()},"mismatch":$diff}""")
        require(diff == 0, s"soak invariant: HLL shard-merge != whole at m=$m")
      }
      if (soakQueries.contains("q_ddsketch_quantiles")) {
        val vals = graft.sources.Tables.documents(spark, dir)
          .select(pmod(col("doc_id"), lit(8)).as("shard"),
            col("source"), col("n_chars").as("x"))
        val whole = graft.functions.DdSketch.sketchOf(vals)
        val merged = graft.functions.DdSketch.sketchOf(
          vals.withColumn("source", concat_ws(" ", col("shard"), col("source"))))
          .withColumn("source", substring_index(col("source"), " ", -1))
          .groupBy(col("source"), col("bin")).agg(sum(col("cnt")).as("cnt"))
        val diff = whole.exceptAll(merged).count() + merged.exceptAll(whole).count()
        println(s"""{"soak":"ddsketch_merge","m":$m,"bins":${merged.count()},"mismatch":$diff}""")
        require(diff == 0, s"soak invariant: DDSketch shard-merge != whole at m=$m")
      }
    }

    // ---- correctness-at-scale invariants (loud failure, not just
    // timings): replication semantics make exact expectations provable.
    val m0 = mults.min
    for (m <- mults) {
      // flagship: groups identical; per-group count scales ×(m/m0);
      // per-group averages are replication-invariant up to the final
      // decimal-division rounding ulp (sum·k / count·k rounds at a
      // different magnitude than sum/count) — compare at 1e-9 relative
      val (b, c) = (monthly.getOrElse(m0, Map.empty), monthly.getOrElse(m, Map.empty))
      require(b.keySet == c.keySet,
        s"soak invariant: monthly groups differ at m=$m")
      b.foreach { case (k, bv) =>
        val cv = c(k)
        require(cv.head.toLong * m0 == bv.head.toLong * m,
          s"soak invariant: count at m=$m group $k: ${cv.head} vs base ${bv.head}")
        cv.tail.zip(bv.tail).foreach { case (x, y) =>
          val (dx, dy) = (BigDecimal(x), BigDecimal(y))
          require((dx - dy).abs <= dy.abs * 1e-9,
            s"soak invariant: average drifted at m=$m group $k: $x vs $y")
        }
      }
      // linear row-count families: dedup output, near-dup pairs, text.
      // q_minhash_dedup's ×m equality is probabilistic, not structural:
      // the per-replica salt re-rolls each true pair's band agreement,
      // so a J < 1 pair can in principle be missed in one replica. The
      // equality is still asserted exactly because the miss bound at
      // the corpus's engineered pair strengths is negligible —
      // (1-J^4)^16 ≤ 4e-8 per pair·replica at J = 0.9, ~2e-23 at the
      // J ≈ 0.99 template dups — so a trip here means a real recall
      // regression, not band luck.
      // q_contamination_fuzzy joins the ×m list with the same
      // probabilistic caveat as q_minhash_dedup: its gate-corpus
      // matches sit at J ≥ 0.97, where a per-replica band re-roll
      // misses with probability (1−J⁴)¹⁶ ≈ 1e-15 — a trip means a
      // recall regression, not band luck. q_quality_classifier scores
      // every doc, so its ×m is structural.
      // q_containment's ×m is STRUCTURAL (unlike minhash): the salt
      // maps base shingles bijectively within each replica, and the
      // prefix filter is lossless, so each replica mines exactly the
      // base pair set (row/key-exemption overlap sits far below 0.9)
      // q_dup_weighted_sample / q_curriculum emit one row per doc, so
      // their ×m is structural (the PRF decisions inside the rows
      // change with the remapped ids — only the row count is asserted)
      for (q <- Seq("q_dedup_exact", "q_minhash_dedup", "q_token_counts",
          "q_gopher_rules", "q_contamination_fuzzy",
          "q_quality_classifier", "q_containment",
          "q_dup_weighted_sample", "q_curriculum").filter(soakQueries.contains))
        require(rows((q, m)) * m0 == rows((q, m0)) * m,
          s"soak invariant: $q rows at m=$m: ${rows((q, m))} vs ×${m}/${m0} of ${rows((q, m0))}")
      // fixed-budget / contract-sized outputs: row counts must be
      // m-INVARIANT (dsir's k-sample; the two 1-row contract frames)
      // q_hard_negatives: anchors are the pinned low vec_ids (base
      // vectors at every m), output is k rows per anchor regardless of
      // corpus size. q_source_overlap: sources are copied verbatim and
      // every base pair keeps n_common ≥ 1 (replica 0 is bit-identical),
      // so the pair set is the base pair set at every m.
      for (q <- Seq("q_dsir_sample", "q_unigram_model",
          "q_classifier_eval", "q_roc_auc", "q_ks_test",
          "q_dp_release", "q_mixture_report", "q_dedup_funnel",
          "q_tfidf_terms", "q_bootstrap_ci", "q_knn_ivfpq",
          "q_domain_reweight", "q_hard_negatives", "q_source_overlap",
          "q_tokenizer_fertility", "q_mixture_budget",
          "q_blocklist_scrub", "q_embedding_drift", "q_zipf_slope",
          "q_hll_distinct", "q_ddsketch_quantiles", "q_theta_overlap",
          "q_theta_overlap_sketch", "q_preference_pairs",
          "q_t_closeness", "q_bradley_terry", "q_coreset",
          "q_countmin", "q_data_card",
          // 12 month rows / 10·k neighbor rows at every m: dates and
          // the query+centroid prefix replicate unchanged
          "q_manifest_prune", "q_knn_ivf_incremental")
          .filter(soakQueries.contains))
        require(rows((q, m)) == rows((q, m0)),
          s"soak invariant: $q rows at m=$m: ${rows((q, m))} vs ${rows((q, m0))} at m=$m0")
      // blocklist per-pattern linearity is STRUCTURAL under the s4
      // word-suffix salt: the salt appends [q0-9]+ to every word, no
      // pattern contains 'q' or a digit, and single-word patterns match
      // strictly inside word prefixes — so each replica reproduces the
      // base corpus's within-word matches exactly (n_docs and n_hits
      // scale ×m), while the one phrase pattern ("table table") can
      // only ever match in replica 0 (the salt breaks the space join),
      // so its counts are m-INVARIANT
      (oneRow.get(("q_blocklist_scrub", m0)), oneRow.get(("q_blocklist_scrub", m))) match {
        case (Some(b), Some(c)) =>
          b.zip(c).foreach { case (bs, cs) =>
            val Array(bp, bd, bh) = bs.split('|'); val Array(cp, cd, ch) = cs.split('|')
            require(bp == cp, s"soak invariant: blocklist pattern order at m=$m")
            if (bp.contains(' '))
              require(bd == cd && bh == ch,
                s"soak invariant: phrase '$bp' counts moved at m=$m: $cs vs $bs")
            else
              require(cd.toLong * m0 == bd.toLong * m && ch.toLong * m0 == bh.toLong * m,
                s"soak invariant: pattern '$bp' not ×$m/$m0 at m=$m: $cs vs $bs")
          }
        case _ => ()
      }
      // zipf: every source's slope stays strictly negative at every m
      // (the salt multiplies the vocabulary, it doesn't invert the law)
      oneRow.get(("q_zipf_slope", m)).foreach(slopes =>
        require(slopes.forall(s => s != "null" && s.toLong < 0L),
          s"soak invariant: non-negative zipf slope at m=$m: $slopes"))
      // HLL: the estimate must TRACK the growing truth at every m —
      // per-source distinct vocabulary grows ~×m under the salt, and
      // the fixed 256-register sketch has to stay inside 3σ (19.5 %
      // relative) of the exact count as the registers saturate
      oneRow.get(("q_hll_distinct", m)).foreach(rowsStr =>
        rowsStr.foreach { s =>
          val Array(src, truth, est) = s.split('|')
          require(math.abs(est.toLong - truth.toLong).toDouble / truth.toLong <= 0.195,
            s"soak invariant: hll estimate off > 3σ at m=$m source $src: est=$est true=$truth")
        })
      // DDSketch: the α relative-error bound (vs the exact rank item,
      // recomputed per dir) must hold for every (source, quantile) at
      // every m — n_chars replicates verbatim, so the value multisets
      // scale ×m and the log-γ bins are the structural constant
      oneRow.get(("q_ddsketch_quantiles", m)).foreach(rowsStr =>
        rowsStr.foreach { s =>
          require(s.endsWith("|true"),
            s"soak invariant: ddsketch α bound broken at m=$m: $s")
        })
      // theta/KMV: every pair's Jaccard estimate stays inside the
      // k = 256 sampling bound (~4σ of the binomial error) vs the
      // exact audit column at every m — the salt grows each source's
      // vocabulary ×m, so this exercises the sketch in its sampled
      // (union_k = k) regime, not just the small complete-sketch one
      oneRow.get(("q_theta_overlap", m)).foreach(rowsStr =>
        rowsStr.foreach { s =>
          val err = s.substring(s.lastIndexOf('|') + 1).toLong
          require(err <= 200000L,
            s"soak invariant: theta estimate outside KMV bound at m=$m: $s")
        })
      // t-closeness / Bradley–Terry: EXACT bit-equality to the base
      // run. t-closeness: every cell count scales ×m so the TVD
      // rational (num·m²)/(den·m²) floors to the same integer;
      // Bradley–Terry: the user set is fixed and per-(user, type)
      // engagement scales ×m with unchanged sign ordering, so the duel
      // matrix — and with it the entire MM trajectory — is the base
      // matrix at every m. Any drift is an operator bug, not noise.
      for (q <- Seq("q_t_closeness", "q_bradley_terry")
          .filter(soakQueries.contains))
        (oneRow.get((q, m0)), oneRow.get((q, m))) match {
          case (Some(b), Some(c)) =>
            require(b == c,
              s"soak invariant: $q output drifted at m=$m vs m=$m0")
          case _ => ()
        }
      // Bradley–Terry user-growth: the duel matrix stays items²-bounded
      // (row count = the base pair set at every m — no pair invented by
      // user fan-out), per-pair wins/m is bit-equal to the base matrix
      // (each replica user replays the base judgments exactly), and the
      // round-4 strengths sit within integer-floor noise of the base
      // fit (wins and games both scale ×m, so the MM trajectory is
      // scale-invariant up to the e9 renormalization floor).
      if (soakQueries.contains("q_bradley_terry")) {
        require(rows(("bt_usergrowth", m)) == rows(("bt_usergrowth", m0)),
          s"soak invariant: user-growth duel matrix rows at m=$m: " +
            s"${rows(("bt_usergrowth", m))} vs ${rows(("bt_usergrowth", m0))}")
        require(oneRow(("bt_usergrowth_wins", m)) ==
            oneRow(("bt_usergrowth_wins", m0)),
          s"soak invariant: user-growth wins/m matrix drifted at m=$m")
        val basePi = oneRow(("bt_usergrowth_pi", m0))
          .map(_.split('|')).map(a => a(0) -> a(1).toLong).toMap
        oneRow(("bt_usergrowth_pi", m)).map(_.split('|')).foreach { a =>
          val (it, pi) = (a(0), a(1).toLong)
          require(math.abs(pi - basePi(it)) <= 16L,
            s"soak invariant: user-growth pi4($it)=$pi drifted from ${basePi(it)} at m=$m")
        }
      }
      // preference pairs under user growth: the deduped kept set is the
      // base set at every m (the ×m copy count is enforced in-loop),
      // and the length-bias report over the grown frame is bit-equal
      if (soakQueries.contains("q_preference_pairs")) {
        require(oneRow(("pref_usergrowth_set", m)) ==
            oneRow(("pref_usergrowth_set", m0)),
          s"soak invariant: user-growth kept-pair set drifted at m=$m")
        val baseMg = oneRow(("pref_usergrowth_margin", m0))
          .map(_.split('=')).map(a => a(0) -> a(1).toLong).toMap
        oneRow(("pref_usergrowth_margin", m)).map(_.split('=')).foreach { a =>
          require(math.abs(a(1).toLong - baseMg(a(0))) <= 32L,
            s"soak invariant: user-growth margin ${a(0)}=${a(1)} drifted " +
              s"from ${baseMg(a(0))} at m=$m")
        }
        require(oneRow(("pref_usergrowth_lenbias", m)) ==
            oneRow(("pref_usergrowth_lenbias", m0)),
          s"soak invariant: user-growth length-bias report (counts/m) drifted at m=$m")
      }
      // fixed-user mode: bucket geometry moves with m but the summed
      // pair/longer/tie masses are comparison-invariant under ×m
      if (soakQueries.contains("q_preference_length_bias"))
        require(oneRow(("pref_lenbias_sums", m)) ==
            oneRow(("pref_lenbias_sums", m0)),
          s"soak invariant: length-bias bucket sums drifted at m=$m: " +
            s"${oneRow(("pref_lenbias_sums", m))} vs ${oneRow(("pref_lenbias_sums", m0))}")
      // Misra–Gries: capacity ≤ k per source and the λ(k+1) ≤ n
      // guarantee column true for every survivor at every m
      oneRow.get(("q_mg_topk", m)).foreach { rows9 =>
        val bySrc = rows9.groupBy(_.split('|')(0))
        bySrc.foreach { case (src, rs) =>
          require(rs.length <= graft.functions.CountMin.MgK,
            s"soak invariant: mg summary for $src over capacity at m=$m: ${rs.length}")
        }
        require(rows9.forall(_.endsWith("|true")),
          s"soak invariant: mg λ(k+1) ≤ n bound broken at m=$m")
      }
      // t-closeness group sizes scale exactly ×m (orders fan out on
      // unchanged custkeys)
      (oneRow.get(("q_t_closeness_nrows", m0)),
          oneRow.get(("q_t_closeness_nrows", m))) match {
        case (Some(b), Some(c)) =>
          b.zip(c).foreach { case (bs, cs) =>
            require(cs.toLong * m0 == bs.toLong * m,
              s"soak invariant: t-closeness n_rows at m=$m: $cs vs ×$m/$m0 of $bs")
          }
        case _ => ()
      }
      // coreset: Gonzalez radii non-increasing at every m, and the
      // ROUND-1 radius (max distance to the pinned base seed) is
      // monotone non-decreasing in m — replica 0 is bit-identical, so
      // the m-corpus is a superset of the base corpus and the farthest
      // point can only get farther. (Later rounds select different
      // sets across m; no cross-m claim is sound for them.)
      oneRow.get(("q_coreset", m)).foreach { radii =>
        val rs = radii.map(_.toLong)
        require(rs.zip(rs.tail).forall { case (a, b2) => a >= b2 },
          s"soak invariant: coreset radii not non-increasing at m=$m: $rs")
        oneRow.get(("q_coreset", m0)).foreach { base0 =>
          require(rs.head >= base0.head.toLong,
            s"soak invariant: coreset round-1 radius fell at m=$m: " +
              s"${rs.head} vs ${base0.head} at m=$m0")
        }
      }
      // unigram model contract booleans (cols 2..5: covers_all_chars,
      // vocab_size_le_max, logp_negative, piece_len_le_max) must hold
      // at every scale — vocab stays bounded no matter how the
      // distinct-word space grows
      oneRow.get(("q_unigram_model", m)).foreach { r =>
        require(r.drop(2).forall(_ == "true"),
          s"soak invariant: unigram model contract broken at m=$m: $r")
      }
      // classifier held-out F1 (micro units, last col) must be STABLE:
      // the salt keeps labels and signal buckets replica-aligned, so
      // growing the corpus must not degrade the learned filter beyond
      // the denser-collision noise floor (band: ±0.10 absolute)
      (oneRow.get(("q_classifier_eval", m0)),
          oneRow.get(("q_classifier_eval", m))) match {
        case (Some(b), Some(c)) =>
          val (f0, fm) = (b.last.toLong, c.last.toLong)
          require(math.abs(fm - f0) <= 100000L,
            s"soak invariant: classifier F1 drifted at m=$m: $fm vs $f0 micro")
        case _ => ()
      }
      // held-out ROC-AUC (col 3) stable within the same band: the
      // doc_id remap reshuffles split membership per replica, so the
      // holdout is not an exact replica of the base holdout — exact
      // equality is NOT expected, but the ranking quality of the same
      // learnable signal must not decay with corpus growth
      (oneRow.get(("q_roc_auc", m0)), oneRow.get(("q_roc_auc", m))) match {
        case (Some(b), Some(c)) =>
          val (a0, am) = (b(3).toDouble, c(3).toDouble)
          require(math.abs(am - a0) <= 0.10,
            s"soak invariant: ROC-AUC drifted at m=$m: $am vs $a0")
        case _ => ()
      }
      // mixture diversity is EXACTLY replication-invariant: every cell
      // scales ×m, so p = c·m/(n·m) is the same double and the
      // quantized entropy/Simpson integers must be bit-equal. The
      // whole flattened report (minus the ×m n_rows column, indices
      // 1 and 7 of the 2×6 flatten) must match the base run.
      (oneRow.get(("q_mixture_report", m0)),
          oneRow.get(("q_mixture_report", m))) match {
        case (Some(b), Some(c)) =>
          val drop = Set(1, 7)
          val (bv, cv) = (b.zipWithIndex.filterNot(x => drop(x._2)),
            c.zipWithIndex.filterNot(x => drop(x._2)))
          require(bv == cv,
            s"soak invariant: mixture report drifted at m=$m: $c vs $b")
          require(c(1).toLong * m0 == b(1).toLong * m,
            s"soak invariant: mixture n_rows at m=$m: ${c(1)} vs ×$m/$m0 of ${b(1)}")
        case _ => ()
      }
      // bootstrap CI: the point mean is EXACTLY replication-invariant
      // (n_chars is copied per replica: Σx·m / n·m is the same double)
      // and the resampling interval must TIGHTEN as n grows — a wider
      // CI at ×64 would mean the resample weights stopped averaging out
      (oneRow.get(("q_bootstrap_ci", m0)),
          oneRow.get(("q_bootstrap_ci", m))) match {
        case (Some(b), Some(c)) =>
          require(c(2) == b(2),
            s"soak invariant: bootstrap point mean at m=$m: ${c(2)} vs ${b(2)}")
          val (w0, wm) = (b(4).toDouble - b(3).toDouble,
            c(4).toDouble - c(3).toDouble)
          require(m == m0 || wm <= w0,
            s"soak invariant: bootstrap CI widened at m=$m: $wm vs $w0")
        case _ => ()
      }
      // hard negatives: the m-corpus candidate set is a STRICT SUPERSET
      // of the base corpus's (replica 0 is bit-identical, ids stable),
      // so each pinned anchor's best different-label cosine can only
      // rise as the corpus grows — a drop means the miner lost a
      // candidate it used to see (a completeness bug, not noise)
      (oneRow.get(("q_hard_negatives", m0)),
          oneRow.get(("q_hard_negatives", m))) match {
        case (Some(b), Some(c)) =>
          b.zip(c).foreach { case (bs, cs) =>
            val (bq, bc) = (bs.split(":")(0), bs.split(":")(1).toDouble)
            val (cq, cc) = (cs.split(":")(0), cs.split(":")(1).toDouble)
            require(bq == cq && cc >= bc,
              s"soak invariant: hard-negative top cosine fell at m=$m anchor $cq: $cc vs $bc")
          }
        case _ => ()
      }
      // dedup funnel: every mass column scales ×m (the salt keeps
      // per-replica dup structure identical and cross-replica texts
      // disjoint), so per-mille retention (last col) is exactly equal
      (oneRow.get(("q_dedup_funnel", m0)),
          oneRow.get(("q_dedup_funnel", m))) match {
        case (Some(b), Some(c)) =>
          (0 until 7).foreach { i =>
            require(c(i).toLong * m0 == b(i).toLong * m,
              s"soak invariant: funnel col $i at m=$m: ${c(i)} vs ×$m/$m0 of ${b(i)}")
          }
          require(c(7) == b(7),
            s"soak invariant: funnel retention at m=$m: ${c(7)} vs ${b(7)}")
        case _ => ()
      }
      // IVF-PQ: queries/centroids/codebooks are the UNCHANGED base
      // vectors at every m (the s3 remap pins low ids to replica 0),
      // so the probed cells keep their meaning as the corpus grows and
      // the honest scale question is recall: how much of the
      // exact-over-probed-cells top-k (knnIvfQuant — same cells, full
      // dot) does the PQ-coded ADC shortlist retain once rotated
      // newcomers compete for shortlist slots? Floor 0.8 = 1 slip per
      // 5-list; base-corpus recall is 1.0, decay below the floor means
      // the ADC quantization (not cell routing — identical by
      // construction) stopped separating true neighbors.
      // IVF-PQ recall vs exact-over-cells (knnIvfQuant: same probed
      // cells, full-precision dot). Two measurements, two claims:
      // DEFAULT knobs now self-size from the corpus (ivfParams — the
      // r9 closure of the r8 finding): the r8 soak measured FIXED
      // knobs decaying 0.84 / 0.68 / 0.54 / 0.32 at ×1/4/16/64 while
      // oversample ∝ m restored 0.98, so the rule (nlist ≈ √(n/8),
      // probes = nlist/4, oversample ∝ n) is applied IN the operator
      // and the invariant is no longer a no-collapse tripwire but the
      // production bar: recall ≥ 0.75 at EVERY m with defaults. Both
      // sides of the comparison (exact-in-probed-cells IVF and the
      // ADC path) derive the same cell structure, so the recall
      // isolates ADC ordering loss — the thing oversample repairs.
      if (soakQueries.contains("q_knn_ivfpq")) {
        val dirM = replicate(spark, base, m)
        def pairSet(df: DataFrame) = df
          .select("query_id", "neighbor_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val ivf = pairSet(SparkEntry.queries("q_knn_ivf")(spark, dirM))
        val pq = pairSet(SparkEntry.queries("q_knn_ivfpq")(spark, dirM))
        val recall = (pq & ivf).size.toDouble / ivf.size
        val (dc, dp, dov) = graft.functions.Similarity.ivfParams(
          graft.sources.Tables.embeddings(spark, dirM).count())
        println(f"""{"soak":"ivfpq_recall","m":$m,"nCells":$dc,"nProbes":$dp,"oversample":$dov,"recall":$recall%.2f}""")
        require(recall >= 0.75,
          s"soak invariant: IVF-PQ default-knob recall at m=$m: $recall")
      }
      // NN graph, through the corpus-sized banding (r ≈ log₂ n — the
      // production knob; the fixed gate default is n²·2^-16 and only
      // right at gate corpus sizes). Timed here with its params in the
      // soak line; invariant: one row per covered vector, never empty,
      // never more than the corpus.
      if (sys.env.get("SPARK_GRAFT_SOAK_ONLY")
          .forall(_.contains("q_nn_graph"))) {
        val dirM = replicate(spark, base, m)
        val nv = spark.read.parquet(s"$dirM/embeddings.parquet").count()
        val (b, r) = graft.functions.Similarity.nnGraphParams(nv)
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val e = graft.functions.Similarity
          .nnGraph(spark, dirM, bands = b, rowsPerBand = r).count()
        val dt = (System.nanoTime() - t0) / 1e9
        times(("q_nn_graph", m)) = dt; rows(("q_nn_graph", m)) = e
        println(f"""{"soak":"q_nn_graph","m":$m,"sec":$dt%.3f,"rows":$e,"bands":$b,"rows_per_band":$r}""")
        require(e > 0 && e <= nv,
          s"soak invariant: nn_graph edges at m=$m: $e of $nv vectors")
      }
    }
    println(s"""{"soak":"invariants","status":"ok","checked":${mults.size}}""")
    // scaling exponent α over the largest step: α = log(t_M/t_1)/log(M).
    // Sub-second t_1 entries are fixed-cost dominated — the inflated
    // t_1 shrinks the ratio, so α UNDERestimates the asymptotic slope;
    // read it with the absolute numbers alongside.
    val m1 = mults.min; val mM = mults.max
    if (mM > m1) {
      val summary = times.keysIterator.map(_._1).toSeq.distinct
        .filter(q => times.contains((q, m1)) && times.contains((q, mM)))
        .map { q =>
        val a = math.log(times((q, mM)) / times((q, m1))) / math.log(mM.toDouble / m1)
        f""""$q":{"t1":${times((q, m1))}%.2f,"tM":${times((q, mM))}%.2f,"alpha":$a%.2f}"""
      }.mkString("{", ",", "}")
      println(s"""{"soak":"summary","m1":$m1,"mM":$mM,"alpha_by_query":$summary}""")
    }
    spark.stop()
  }

  /** Write the ×m replicated table set under /tmp (raw parquet in, raw
    * parquet out — loaders re-apply declared schemas downstream).
    * Reuses an existing soak dir: the replication is deterministic. */
  def replicate(spark: SparkSession, base: String, m: Int): String = {
    val name = new java.io.File(base).getName
    // s4 = salt revision 4 (signed-permutation embedding replication; s3
    // rotated, s2 added the row/key exemption) — markers are per-revision so
    // a stale dir from an earlier scheme is never served
    val dir = s"/tmp/graft_soak_${name}_s4_x$m"
    val marker = new java.io.File(s"$dir/_SOAK_DONE")
    if (marker.exists()) return dir
    def raw(t: String) = spark.read.parquet(s"$base/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.write.mode(SaveMode.Overwrite).parquet(s"$dir/$t.parquet")
    val rep = explode(sequence(lit(0L), lit(m - 1L))).as("rep")
    def remap(c: String) = (col(c) * m + col("rep")).as(c)

    // dimension-shaped tables: copied verbatim (a 100 TB growth story
    // grows facts, not region/nation/part catalogs)
    Seq("region", "nation", "customer", "supplier", "part")
      .foreach(t => write(raw(t), t))
    write(raw("orders").select(rep, col("*"))
      .select(raw("orders").columns.map {
        case "o_orderkey" => remap("o_orderkey"); case c => col(c) }: _*), "orders")
    write(raw("lineitem").select(rep, col("*"))
      .select(raw("lineitem").columns.map {
        case "l_orderkey" => remap("l_orderkey"); case c => col(c) }: _*), "lineitem")
    write(raw("events").select(rep, col("*"))
      .select(raw("events").columns.map {
        case "event_id" => remap("event_id"); case c => col(c) }: _*), "events")
    write(raw("documents").select(rep, col("*"))
      .select(raw("documents").columns.map {
        case "doc_id" => remap("doc_id")
        // constant dup-rate regime: replica k>0 SUFFIXES every word
        // with a rep-specific token, which maps each base shingle
        // (w1,w2,w3) to exactly one salted shingle (w1qkq,w2qkq,w3qkq)
        // — pairwise Jaccard within a replica is IDENTICAL to the
        // base corpus's, shingles across reps are disjoint, and token
        // counts are unchanged. Near-dup pairs therefore scale ×m
        // (linear). Two rejected salts, for the record: a tail-only
        // salt leaves replicas ≥0.9-similar to their base doc
        // (measures m-way dup blow-up, not corpus growth); a
        // BETWEEN-words interleave degrades 3-gram matching to
        // unigram matching ((qkq,w,qkq) shingles collide on any
        // shared word) and exploded LSH candidates 500× over linear
        // …with ONE exemption: the literal tokens "row"/"key" keep
        // their base form in every replica (salt-then-unsalt; the \b
        // can't fire inside a salted word like windowq3q, and the
        // base-word map stays a bijection so within-replica Jaccard is
        // still exactly the base corpus's). WHY: the quality
        // classifier's weak label counts exactly these two tokens, and
        // its hashed signal buckets must mean the same thing in every
        // replica — otherwise replication would erase the labels of
        // (m−1)/m of the corpus and the soak would measure label
        // distribution shift, not scale. Cross-replica shingle overlap
        // from the exemption is capped at all-signal 3-gram runs (a
        // handful of docs corpus-wide) — far below the J ≥ 0.5 verify
        // thresholds, so near-dup outputs still replicate exactly ×m.
        case "text" => when(col("rep") === 0, col("text"))
          .otherwise(regexp_replace(
            regexp_replace(col("text"), lit("(\\S+)"),
              concat(lit("$1q"), col("rep"), lit("q"))),
            concat(lit("\\b(row|key)q"), col("rep"), lit("q\\b")),
            lit("$1"))).as("text")
        case c => col(c) }: _*), "documents")
    // embeddings get their OWN replication scheme (salt rev s4), for
    // two reasons the ×m+rep id remap + verbatim copy could not serve:
    //  1. verbatim vector copies make every vector an m-way EXACT twin
    //     — every sign-LSH band key collides across replicas, bucket
    //     sizes scale ×m and candidate joins ×m², so the soak would
    //     measure exact-dup blow-up, not corpus growth (the embedding
    //     twin of the document-salt argument above);
    //  2. the ANN ops pin queries/centroids/codebooks to LOW vec_ids,
    //     and under ×m+rep the ids below nQueries all decode to
    //     replicas of base vector 0 — a degenerate query/centroid set.
    // So: vec_id = base + rep·N keeps replica 0 BIT-IDENTICAL to the
    // base corpus (fixed ids keep meaning the same real vectors at
    // every m), and each rep>0 vector is transformed by a per-replica
    // SIGNED PERMUTATION of the coordinates (deterministic shuffle +
    // ±1 diagonal, seeded by the replica index). A signed permutation
    // is orthogonal — norms and within-replica cosines are preserved
    // EXACTLY — and the random sign flips make the cross-replica
    // expected cosine exactly 0 by symmetry. The s3 scheme (cyclic
    // rotation) failed here in practice: these synthetic embeddings
    // are SMOOTH, so small shifts are highly autocorrelated and each
    // vector's rotations formed a near-dup chain (measured ×64 band
    // buckets of ~1500 = cluster × ~30 adjacent shifts — dup blow-up
    // again, just one level up).
    locally {
      val base0 = raw("embeddings")
      val nEmb = base0.count()
      val d = base0.select(size(col("embedding"))).head.getInt(0)
      val frames = (0 until m).map { k =>
        val ids = (col("vec_id") + lit(k.toLong * nEmb)).as("vec_id")
        val emb =
          if (k == 0) col("embedding")
          else {
            val rnd = new scala.util.Random(k)
            val perm = rnd.shuffle((0 until d).toVector)
            val sgn = Vector.fill(d)(if (rnd.nextBoolean()) 1.0f else -1.0f)
            array(perm.zip(sgn).map { case (src, s) =>
              (col("embedding").getItem(src) * lit(s)).cast("float") }: _*)
              .as("embedding")
          }
        base0.select(base0.columns.map {
          case "vec_id" => ids
          case "embedding" => emb
          case c => col(c) }: _*)
      }
      write(frames.reduce(_.unionByName(_)), "embeddings")
    }
    marker.createNewFile()
    dir
  }
}
