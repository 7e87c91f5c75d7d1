package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-slope benchmark: inflates the sf0.1 testdata `SCALE_MULT`-fold
  * (default 10× ≈ sf1) into a local parquet dir, runs a headline query
  * set at both scales, and prints per-query ratios — the measured
  * evidence behind the "would this survive 100×?" design claims. One
  * JSON line on stdout: {"mult":M,"queries":{name:{"base":s,"scaled":s,
  * "ratio":r}},...}; a ratio near M is linear scaling, >2×M flags a
  * super-linear operator.
  *
  * Inflation preserves each table's join/density structure instead of
  * naively duplicating rows:
  *  - fact keys (orders/lineitem/customer/... and doc/vec/event ids)
  *    shift by copy × 10^7, so per-copy FK joins stay consistent and
  *    group cardinalities scale linearly;
  *  - dimension tables (region/nation) are NOT inflated — dims stay
  *    dim-sized at any corpus scale;
  *  - documents move to per-copy sources AND get per-copy
  *    token-renamed text (word w → w_cN): every within-copy statistic —
  *    shingle sets, signatures, dup groups, candidate pairs — is
  *    isomorphic to the base corpus, while shingles are disjoint across
  *    copies, so the text-similarity families (q41/q45/q46/q53/q86)
  *    scale by copy count the way a real grown corpus does. Verbatim
  *    duplication made their candidate sets grow quadratically in the
  *    multiplier BY FIXTURE CONSTRUCTION (measuring the inflation, not
  *    the operator), which is why earlier rounds had to exclude them;
  *  - embeddings get FRESH deterministic pseudo-random vectors per copy
  *    (near-orthogonal to everything else), keeping near-dup density
  *    per-copy — duplicating vectors verbatim would square the true
  *    near-dup pair count, benchmarking the DATA, not the operator.
  *
  * At `SPARK_GRAFT_SCALE_MULT` >= 100 the query set narrows to the
  * registered SCALE-PATH queries (Headline100): the exact quadratic
  * baselines (q31/q33 and friends) are input-capped by design and the
  * relational floor is already proven sub-linear at 10× — the 100×
  * capture exists to prove the routed/banded/budgeted paths stay
  * sub-linear two orders past the oracle scale.
  */
object BenchScale {
  private val Cap = 10000000L

  private def inflate(spark: SparkSession, base: String, out: String, mult: Int): Unit = {
    val fs = new java.io.File(out)
    if (new java.io.File(fs, "_DONE").exists()) return
    fs.mkdirs()
    def read(t: String) = spark.read.parquet(s"$base/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")

    def copies(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until mult).map(i => f(df, i)).reduce(_ unionByName _)

    def shifted(df: DataFrame, keys: Seq[String]): DataFrame =
      copies(df) { (d, i) =>
        keys.foldLeft(d)((acc, k) => acc.withColumn(k, col(k) + lit(i * Cap)))
      }

    write(read("region"), "region")
    write(read("nation"), "nation")
    // per-copy name tag with DOUBLED digits ("17" -> "_1177"): any two
    // distinct copy tags differ in >= 2 aligned positions, so q142's
    // ed<=1 join never pairs across copies — verbatim names would make
    // its output quadratic in the multiplier by fixture construction
    // (the entity analog of the per-copy token renaming below)
    write(copies(read("customer")) { (d, i) =>
      if (i == 0) d
      else d.withColumn("c_custkey", col("c_custkey") + lit(i * Cap))
        .withColumn("c_name", concat(col("c_name"),
          lit("_" + f"$i%02d".flatMap(c => s"$c$c"))))
    }, "customer")
    write(shifted(read("supplier"), Seq("s_suppkey")), "supplier")
    write(shifted(read("part"), Seq("p_partkey")), "part")
    write(shifted(read("orders"), Seq("o_orderkey", "o_custkey")), "orders")
    write(shifted(read("lineitem"), Seq("l_orderkey", "l_partkey", "l_suppkey")), "lineitem")
    // events.ts is ns-int64; read raw (legacy conf) and write back as-is
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    write(shifted(read("events"), Seq("event_id", "user_id")), "events")
    write(copies(read("documents")) { (d, i) =>
      if (i == 0) d
      else d.withColumn("doc_id", col("doc_id") + lit(i * Cap))
        .withColumn("source", concat(col("source"), lit(s"_c$i")))
        // per-copy token renaming — see the scaladoc: keeps each copy's
        // internal dup/candidate structure exactly, makes shingles and
        // signatures disjoint across copies (the text analog of the
        // fresh random embedding vectors below)
        .withColumn("text", array_join(transform(split(col("text"), " "),
          w => concat(w, lit(s"_c$i"))), " "))
    }, "documents")
    write(copies(read("embeddings")) { (d, i) =>
      if (i == 0) d
      else d.withColumn("vec_id", col("vec_id") + lit(i * Cap))
        .withColumn("embedding",
          transform(sequence(lit(0), lit(63)),
            dd => (xxhash64(col("vec_id"), lit(i), dd).cast("double") /
              lit(Long.MaxValue.toDouble)).cast("float")))
    }, "embeddings")
    new java.io.FileOutputStream(new java.io.File(fs, "_DONE")).close()
  }

  private val Headline = Seq(
    "q01_pricing_summary", "q03_segment_revenue", "q05_top_customers",
    "q07_running_spend", "q09_rollup_lineitem", "q18_events_hourly",
    "q20_since_last_error", "q30_broadcast_match", "q31_cosine_topk",
    "q33_embedding_neardup", "q34_lsh_neardup", "q35_ivf_topk",
    "q40_dedup_exact", "q41_jaccard_pairs", "q42_text_stats",
    "q44_fingerprint", "q45_minhash_lsh", "q46_simhash",
    "q48_tfidf_topterms", "q49_hash_split", "q53_dup_clusters",
    "q57_pack_shards", "q58_stratified_cap", "q61_kmeans",
    "q63_pack_global", "q72_product_quantize", "q73_pq_adc_topk",
    "q76_ann_autoroute", "q77_neardup_autoroute", "q84_merge_pairs",
    "q85_bloom_decontaminate", "q86_source_overlap", "q87_semdedup",
    "q88_oov_rate", "q89_random_projection", "q90_countmin_tokens",
    "q91_input_ids", "q92_training_rows", "q93_rag_retrieval",
    "q96_countmin_probe", "q97_bm25_topk", "q98_hybrid_rrf",
    "q99_hard_negatives", "q100_substring_spans", "q101_substring_clean",
    "q116_dsir_weights", "q117_prototypicality", "q118_kmv_distinct",
    "q119_exact_quantiles", "q121_phash_neardup", "q122_ts_motif",
    "q128_asof_native", "q129_asof_broadcast", "q130_asof_forward",
    "q131_cohort_retention", "q132_event_lift", "q133_survival_km",
    "q135_corr_matrix", "q136_benford_audit", "q137_cusum_changepoint",
    "q138_blocklist_trie", "q139_prefix_jaccard", "q140_attribution",
    "q141_zorder_stats", "q142_fastss_editjoin", "q144_activity_streaks",
    "q145_heavy_hitters", "q146_markov_transitions", "q147_triangle_count",
    "q148_asof_nearest", "q152_interval_overlap", "q153_containment_pairs",
    "q154_record_linkage", "q155_bloom_join_reduce", "q156_session_paths",
    "q158_pit_lookup", "q159_salted_join", "q160_twap", "q161_ab_ztest",
    "q162_skyline", "q163_chi_square", "q164_basket_cooc",
    "q165_mad_outliers", "q166_gini", "q167_trend_slope",
    "q168_decay_score", "q169_threshold_sweep", "q170_lag_xcorr",
    "q171_mutual_knn", "q172_column_profiler", "q173_seasonal_anomaly",
    "q174_decile_report", "q175_cluster_canonical", "q176_cluster_cosplit",
    "q177_dau_wau", "q178_linear_attribution", "q180_bounce_rate",
    "q181_semi_additive", "q182_rollup_ratios", "q183_ltv_cohorts",
    "q184_rfm_segments", "q185_new_returning", "q186_calibration",
    "q187_psi_drift", "q188_auc", "q189_ndcg", "q190_kappa",
    // q192/q193 are NOT slope-measured: their exact-pair audit arm is
    // input-capped by design (at scale the audit runs a sample slice)
    "q191_eval_summary", "q194_bootstrap_ci", "q195_auc_by_lang",
    "q196_triangle_estimate", "q197_ks_drift", "q198_cuped",
    // q199 runs 6 peel rounds over a barely-shrinking 1.2M-edge graph
    // (97% of edges survive the 80-core) — iterative by nature, linear
    // per round; 100×-excluded for the q147 reason (per-round edge-set
    // checkpoints at 120M edges exceed one local JVM)
    "q199_kcore",
    // q200's window partitions on the fixture's SIX cameras — at 100×
    // that is 20M rows per partition task (production fleets have
    // streams ≫ cores, the real parallelism unit), so it is
    // 10×-measured only
    "q200_scene_segments",
    "q201_embedding_drift", "q202_trending_terms", "q203_emd_drift",
    // q204/q205 are 10×-only: q204 localCheckpoints the canonical edge
    // set (the q147-class memory shape at 120M edges); q205's heavy arm
    // is the jaccardPairs self-join derivation
    "q204_assortativity", "q205_lpa_communities",
    "q303_assortativity_sampled", "q302_kmv_source_overlap",
    "q206_vocab_coverage", "q207_lexical_diversity",
    // q208-q211's exact audit arm is the documented sample-slice
    // baseline — linear here (probes x corpus) but 10×-only by the
    // q192 precedent
    "q208_ivf_recall", "q209_ivf_tuned", "q210_pq_recall",
    "q211_pq_tuned",
    // iterative centrality (the q111 pageRank class: score relations
    // shuffle per pass, edges materialize once). q111 itself joined the
    // list in r11 for the forced-distributed captures
    // (SPARK_GRAFT_DRIVER_EDGE_LIMIT=0 → SCALE_SLOPE_DISTGRAPH_*.json).
    // That variable now sets Route.ForceDistributedConf, so it forces
    // EVERY driver fast-path guard distributed (Markov, Bradley-Terry, MMR,
    // k-means/PQ and BPE too), not only the graph guards: a new
    // SCALE_SLOPE_DISTGRAPH capture is not comparable with the
    // committed SCALE_SLOPE_DISTGRAPH_10x.json.
    "q111_pagerank", "q212_hits", "q213_unseen_mass",
    // round-9 tier. q219-q221 re-block as of r10: a nation block past
    // the 512-record budget splits into md5-parity sub-blocks on the
    // name's digit tail, so in-block pair work is ~budget × n (linear
    // in the multiplier) and the tier is slope-measurable again.
    // q215/q217/q218's value spines grow with distinct money values —
    // measured at 10× to keep that cost visible, 100×-excluded like
    // q188's score spine. q222's wedge stream is linear in copies but
    // ~870M rows at 100× through one local JVM (the q147 class);
    // q222b is its DOULION-sampled 100×-capable twin.
    "q219_linkage_scores", "q220_linkage_entities", "q221_golden_record",
    "q214_chi2_independence", "q215_mann_whitney", "q216_welch_ttest",
    "q217_winsorize", "q218_robust_scale", "q222_link_prediction",
    "q222b_link_prediction_sampled",
    "q223_theil_sen", "q224_conformal", "q225_diff_in_diff",
    "q226_ipw_ate",
    // round-9 later waves. q231's value spine is distinct money values
    // (the q215 class) — 10×-measured to keep the spine cost visible.
    // q234 measures the ×reps randomization kernel; q233 shares it
    // (same explosion, split 25 ways) and is not separately slope-run.
    // q237 measures summary build + routed query — build is the q01
    // one-shuffle class, the routed read is summary-sized.
    "q227_boilerplate_strip", "q228_skew_audit", "q229_hist_quantiles",
    "q230_spearman", "q231_kruskal_wallis", "q232_anova_f",
    "q234_permutation_test", "q235_k_anonymity", "q236_dp_counts",
    "q237_rollup_route",
    // round-9 continuation wave. q240 is slope-EXCLUDED by the q219
    // precedent: its (type, size) blocks are a fixed domain while
    // inflation grows every block, so in-block pair work is quadratic
    // in the multiplier BY FIXTURE CONSTRUCTION. q245 carries a kMeans
    // training (the q61 class) — 10×-measured only. q248's exact-moment
    // bound (< 2^53) holds through ~sf1; measured at 10× where the
    // bound is proven, not at 100× where the fixture would exceed it.
    "q241_seasonal_decompose", "q242_des_forecast", "q243_fd_audit",
    "q244_seq_pattern", "q245_silhouette", "q246_bfs_hops",
    "q247_phrase_search", "q248_ols2", "q249_nfc_normalize",
    "q250_table_diff", "q251_tokenizer_fertility",
    // q252's quantile spine is distinct money values (the q215 class —
    // 10×-measured to keep the spine cost visible, 100×-excluded)
    "q252_qte_deciles", "q253_mcnemar", "q254_mann_kendall",
    "q255_nelson_aalen", "q256_ips_offpolicy", "q257_boolean_search",
    // q258 rides the q252 money-value spine (10×-only); q259 is one
    // partial-aggregatable pass + a scalar crossJoin
    "q258_trimmed_mean", "q259_freshness_audit",
    // q260: key projection + forward as-of over a 128-row broadcast ring
    "q260_ring_rebalance",
    // vocabulary-bounded graphs/windows over one tokenize pass
    "q261_collocations", "q262_textrank",
    // one conditional-aggregate pass / two bounded-cell shuffles
    "q263_churn_labels", "q264_feature_hashing",
    // round-9 closing wave: corpus agg + bounded prefix window (q265),
    // capped-basket rule mining (q266), level-bounded encoder
    // aggregations (q267/q268), the 100-probe exact retrieval audit
    // (q269 — the q208 class), bounded bins/spines (q270-q272), the
    // vocab × label NB grid (q273), the per-root BFS panel (q274 — the
    // q246 one-JVM class at 100×), and the per-user as-of match (q275)
    "q265_pareto_abc", "q266_assoc_rules", "q267_target_encoding",
    "q268_woe_iv", "q269_mrr", "q270_brier_decomposition",
    "q271_sprt_monitor", "q272_acf", "q273_naive_bayes",
    "q274_closeness", "q275_psm_att",
    // post-close additions: one key-pruned anti-join + union (q276 —
    // the q155 join class), a corpus agg to the bounded nation×segment
    // grid then windows over CELLS (q277), and one per-user pass +
    // broadcast joins over the 32-row coalition lattice (q278)
    "q276_cdc_merge", "q277_raking", "q278_shapley_attribution",
    // causal/stats completion wave: bounded duration×group spine
    // (q279), the (source × term) grid (q280 — the q202 class), the
    // |types|² transition grid iterated (q281), per-user counts then
    // grid-only MM rounds (q282), and one conditional-aggregate pass
    // each (q283/q284)
    "q279_logrank", "q280_jsd_drift", "q281_markov_stationary",
    "q282_bradley_terry", "q283_rdd", "q284_iv_wald",
    // panel tests over the (user × type) relation with per-BLOCK
    // ranking windows (q285/q286), the q281-class grid iteration
    // (q287), grid-sized readouts over q277's rake (q288) and q214's
    // cells (q290), and the top-V-bounded OLS fit (q289)
    "q285_friedman", "q286_cochran_q", "q287_markov_absorption",
    "q288_design_effect", "q289_zipf_fit", "q290_chi2_effects",
    // one-pass exact-moment fits (q291/q294/q296), the q287 grid
    // iteration (q292), and vocab-bounded share/top-K grids
    // (q293/q295)
    "q291_gumbel_tail", "q292_time_to_absorb",
    "q293_source_concentration", "q294_burstiness",
    "q295_vocab_churn", "q296_eb_rates",
    // broadcast-spine splits/eval/normalization: conditional
    // projections + counting aggregates (q297/q298); per-GROUP
    // ranking windows + a 257-row broadcast spine (q299)
    "q297_walkforward_cv", "q298_next_event_eval",
    "q299_quantile_normalize",
    // one conditional-aggregate pass each (the q216 moment class)
    "q300_cohens_d", "q301_odds_ratio")

  /** The registered scale-path queries measured at 100× (the VERDICT's
    * "~12 headline scale-path queries"): every one routes, bands,
    * buckets or budgets rather than scanning pairs — the design claims
    * whose 100 TB story needs a two-orders-of-magnitude measurement. */
  private val Headline100 = Seq(
    "q34_lsh_neardup", "q40_dedup_exact", "q45_minhash_lsh",
    "q63_pack_global", "q76_ann_autoroute", "q77_neardup_autoroute",
    "q85_bloom_decontaminate", "q87_semdedup", "q90_countmin_tokens",
    "q91_input_ids", "q92_training_rows", "q93_rag_retrieval",
    "q96_countmin_probe", "q97_bm25_topk", "q98_hybrid_rrf",
    "q99_hard_negatives", "q100_substring_spans", "q101_substring_clean",
    "q116_dsir_weights", "q117_prototypicality", "q118_kmv_distinct",
    "q119_exact_quantiles", "q121_phash_neardup", "q122_ts_motif",
    "q128_asof_native", "q129_asof_broadcast", "q130_asof_forward",
    "q131_cohort_retention", "q132_event_lift", "q133_survival_km",
    "q137_cusum_changepoint", "q138_blocklist_trie", "q140_attribution",
    "q141_zorder_stats", "q142_fastss_editjoin", "q145_heavy_hitters",
    // q147 is 10×-measured only: its work is Σ_edges(deg_u+deg_v),
    // exactly linear in copies by fixture construction, but the 100×
    // volume (~120 GB through the adjacency join) exceeds one 16 GiB
    // local JVM — on a cluster it spills and distributes; here it
    // OOM-kills the context and takes the rest of the run with it.
    // q196 is its 100×-capable twin: DOULION edge sampling shrinks the
    // exact-counting volume ~p² before the same adjacency joins run
    "q196_triangle_estimate",
    // q222b is q222's 100×-capable twin the same way: the md5 coin on
    // the shared right node cuts the wedge stream 16× before the exact
    // overlap sums run
    "q222b_link_prediction_sampled",
    // the re-blocked linkage tier (512-record sub-block budget) keeps
    // in-block pair work linear in the multiplier
    "q219_linkage_scores", "q220_linkage_entities", "q221_golden_record",
    "q148_asof_nearest", "q152_interval_overlap",
    "q154_record_linkage", "q155_bloom_join_reduce", "q160_twap",
    "q164_basket_cooc", "q165_mad_outliers", "q168_decay_score",
    // q179 is excluded from slope capture (the q147 precedent): the
    // candidate space is |users| x |items| and the inflation grows BOTH
    // factors, so measured work is quadratic in the multiplier BY
    // FIXTURE CONSTRUCTION — the operator itself is linear in
    // candidates at any one scale
    "q173_seasonal_anomaly", "q176_cluster_cosplit", "q177_dau_wau",
    "q178_linear_attribution", "q183_ltv_cohorts", "q185_new_returning",
    // bounded-state monitors/readouts: grid spines (q197/q203), a 2-row
    // moment reduction (q198), a per-dim moment grid (q201), and the
    // vocab-by-periods grid (q202) — the 100 TB shapes by construction
    "q197_ks_drift", "q198_cuped", "q201_embedding_drift",
    "q202_trending_terms", "q203_emd_drift",
    "q206_vocab_coverage", "q207_lexical_diversity", "q213_unseen_mass",
    // round-9 bounded-state readouts: fixed contingency cells (q214),
    // one conditional-aggregate pass (q216/q225/q226), a fixed daily
    // grid (q223), and the 1e-6-rounded classifier-score spine (q224)
    "q214_chi2_independence", "q216_welch_ttest", "q223_theil_sen",
    "q224_conformal", "q225_diff_in_diff", "q226_ipw_ate",
    // round-9 later waves, the bounded-state shapes only: q229's fixed
    // grid, q230's 50×11 contingency cells, q232's one
    // conditional-aggregate pass, q235's two-aggregation class audit,
    // q236's literal-domain count release. The ×99 randomization
    // explosions (q233/q234) and the money-value spines (q231) are
    // 10×-only; q237's summary build is the q01 relational class.
    "q229_hist_quantiles", "q230_spearman", "q232_anova_f",
    "q235_k_anonymity", "q236_dp_counts",
    // round-9 continuation: q241's window runs over the bounded bucket
    // spine (inflation grows per-bucket mass, not bucket count); q243's
    // shuffles carry key-pair cardinality; q244's per-user strings stay
    // per-user-sized; q246's frontier rounds are fixed; q247/q249 are
    // token/projection passes; q250 ships digests. q242's per-user
    // windows and q251's BPE stack are 10×-only (the q103/q151 class).
    "q241_seasonal_decompose", "q243_fd_audit", "q244_seq_pattern",
    "q247_phrase_search", "q249_nfc_normalize",
    "q250_table_diff",
    // one conditional-aggregate pass (q253/q257), the fixed daily
    // spine (q254), the bounded survival spine (q255), and integer-
    // ratio propensity terms (q256) — 100 TB shapes by construction.
    // q246 (BFS) is 10×-only, the q147 one-JVM class: the 120M-row
    // symmetrized edge distinct + frontier joins overflow one local
    // JVM's aggregate memory (AGGREGATE_OUT_OF_MEMORY at 100×) —
    // on a cluster those stages spill and distribute
    "q253_mcnemar", "q254_mann_kendall", "q255_nelson_aalen",
    "q256_ips_offpolicy", "q257_boolean_search", "q259_freshness_audit",
    "q260_ring_rebalance", "q261_collocations", "q262_textrank",
    "q263_churn_labels", "q264_feature_hashing",
    // round-9 closing wave 100×-capable shapes: bounded-spine windows
    // and level/bin/label-bounded aggregations (q265/q267/q268/
    // q270-q273), capped-basket rules (q266), the per-user as-of match
    // (q275 — the q128 merge class). q269's exact retrieval audit and
    // q274's BFS panel are 10×-only (the q208 / q246 precedents).
    "q265_pareto_abc", "q266_assoc_rules", "q267_target_encoding",
    "q268_woe_iv", "q270_brier_decomposition", "q271_sprt_monitor",
    "q272_acf", "q273_naive_bayes", "q275_psm_att",
    // post-close: the changeset anti-join never re-aggregates the base
    // (q276); q277/q278 reduce the corpus to bounded grids (cells /
    // the 32-coalition lattice) before any window or join
    "q276_cdc_merge", "q277_raking", "q278_shapley_attribution",
    // causal/stats completion: every query reduces the corpus to a
    // bounded spine/grid in one pass (duration×group, source×term,
    // |types|², moments) before any window, join, or iteration
    "q279_logrank", "q280_jsd_drift", "q281_markov_stationary",
    "q282_bradley_terry", "q283_rdd", "q284_iv_wald",
    // panel/grid shapes: per-BLOCK k-row ranking windows (q285/q286 —
    // no global sort), the checkpointed-grid iteration (q287), rake-
    // grid and contingency-cell readouts (q288/q290), top-V OLS (q289)
    "q285_friedman", "q286_cochran_q", "q287_markov_absorption",
    "q288_design_effect", "q289_zipf_fit", "q290_chi2_effects",
    // one-pass exact-moment fits and bounded grids, all partial-
    // aggregatable (q291/q293/q294/q296); the q287 iteration class
    // (q292); the per-period top-K grid join (q295)
    "q291_gumbel_tail", "q292_time_to_absorb",
    "q293_source_concentration", "q294_burstiness",
    "q295_vocab_churn", "q296_eb_rates",
    // 6-row / |types|-row / 257-row broadcast spines against
    // conditional projections and per-group windows — no global sort
    "q297_walkforward_cv", "q298_next_event_eval",
    "q299_quantile_normalize",
    // exact-moment one-pass reductions (the q216 class)
    "q300_cohens_d", "q301_odds_ratio",
    // q204's DOULION twin: true degrees stream (no edge checkpoint),
    // moments fold over the 1/16 coin-kept edges
    "q303_assortativity_sampled",
    // q86's sketch twin: one corpus pass to 256-row per-source
    // sketches; the pair space never touches a corpus row
    "q302_kmv_source_overlap")

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mult = sys.env.getOrElse("SPARK_GRAFT_SCALE_MULT", "10").toInt
    // SPARK_GRAFT_ONLY=q171_mutual_knn,q93_... re-measures a subset
    // (merge into the capture file by hand) — rerunning the full list to
    // chase one slope costs ~30 min at mult=100. A subset may name ANY
    // registered query (the forced-distributed graph captures need
    // guard-excluded queries at 100×); only the default full run sticks
    // to the curated lists
    val list = graft.Bench.only(if (mult >= 100) Headline100 else Headline)
    val out = s"target/scaled_x$mult"
    val spark = graft.Bench.session()
    inflate(spark, base, out, mult)
    spark.range(1000).selectExpr("sum(id)").collect()
    // per-query warm-up + min-of-2 timed noop-sink runs (the noise-floor
    // methodology, swept like Bench): single cold runs at mult=100
    // wobbled up to 2.5× between captures, and even warmed single runs
    // swung with GC and page-cache state over the 1.6 GB inflated
    // corpus — the MINIMUM of repeated trials is the standard estimator
    // for the work actually required, which is what a scale SLOPE is
    // supposed to measure
    def time(dir: String): Seq[Double] =
      graft.Bench.measure(spark, graft.Bench.bind(list, dir), trials = 2).map(_.seconds)
    // phase-separated timing: ALL base measurements first, then all
    // scaled. Interleaving let each scaled run (heap garbage + page
    // cache churn from the inflated corpus) pollute the NEXT query's
    // base time — measured up to 8× base inflation at mult=100, which
    // silently flatters every ratio.
    val bases = time(base)
    spark.range(1000).selectExpr("sum(id)").collect()
    val scaleds = time(out)
    val qs = list.lazyZip(bases).lazyZip(scaleds).map { (q, b, s) =>
      val ratio = if (b > 0 && s > 0) s / b else -1.0
      f""""$q":{"base":$b%.3f,"scaled":$s%.3f,"ratio":$ratio%.2f}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scale_slope","mult":$mult,"base_sf":"$base","queries":$qs}""")
    spark.stop()
  }
}
