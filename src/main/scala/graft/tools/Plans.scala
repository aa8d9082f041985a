package graft.tools

import java.nio.file.{Files, Paths}

/** Writes PLANS.md: the formatted physical plan of each headline query
  * at sf0.001 — the artifact for reviewing pushdown/broadcast/shuffle
  * structure without running anything. */
object Plans {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Sessions.local("4")
    val headline = Seq(
      "a3_province_order_window", "a1_keyed_tumbling_window",
      "j1_order_wide_table", "j4_snowflake_dim_chain",
      "a7_first_wins_dedup", "cep_bounce_sessions",
      "job_user_spu_order_window", "job_unique_visitor_detail",
      "job_tm_cat_refund_window",
      "llm_dedup_minhash", "llm_repetition", "llm_decontaminate",
      "llm_sequence_packing", "llm_ann_bruteforce",
      "llm_dsir_score", "llm_lm_perplexity", "llm_mixture_rebalance",
      "llm_budget_select", "llm_training_order",
      "j_semi_join", "q_topk_orders", "w_status_priority_cube",
      // r4 surface
      "llm_decontaminate_bloom", "llm_domain_stats", "llm_domain_cap",
      "llm_gopher_rules", "llm_corpus_build_v2", "llm_bpe_tokenize",
      "llm_ann_ivfpq",
      // r4 late additions
      "j_asof_join", "w_trailing_range_window", "w_resample_ffill",
      "llm_bm25_topk", "llm_fuzzy_join", "llm_ann_sq8",
      "llm_pmi_cooccurrence", "q_topk_per_group",
      "b_funnel_conversion", "b_retention_cohorts", "dim_scd2_build",
      "llm_priority_sample",
      "j_bloom_pruned_join", "dim_scd2_lookup", "llm_heavy_hitters",
      "w_status_pivot", "w_grouping_sets", "w_lineitem_unpivot",
      "w_analytic_functions", "g_pagerank_copurchase",
      // r5 surface
      "dim_scd2_lookup_incremental", "job_base_log_split",
      "g_triangle_copurchase", "q_profile_orders",
      "q_histogram_totalprice", "dim_agg_rollup_incremental",
      "ts_ewma_daily_revenue", "ts_anomaly_supplier_weekly",
      // r5 later additions
      "ts_seasonality_dow", "ts_autocorr_daily_qty",
      "ts_cusum_changepoint", "ml_ols_returnflag",
      "b_markov_transitions", "q_expectations", "g_bfs_hops",
      "g_kcore_copurchase", "llm_bigram_lm", "ml_nb_model",
      "ml_nb_predict", "llm_entity_resolution", "b_user_paths",
      "llm_span_corruption", "q_robust_stats", "q_drift_psi",
      // r6 surface
      "llm_jaro_winkler", "llm_containment_dedup", "ts_holt_forecast",
      "g_sssp_copurchase", "g_labelprop_communities", "llm_cms_audit",
      "llm_kmv_distinct", "b_rfm_segments", "ml_item_cf",
      "ml_assoc_rules", "q_global_quantiles", "llm_hybrid_rrf",
      // r6 later additions
      "ml_eval_confusion", "ml_eval_auc", "ml_cf_eval_hitrate",
      "g_adamic_adar", "g_hits_copurchase", "llm_dedup_snm",
      "llm_retrieval_ndcg", "dim_wide_join_incremental",
      // r7 surface: two correlated/LATERAL fuzz shapes, plus the
      // native recursive-CTE execution (UnionLoop) entries
      "fuzz_6000", "fuzz_6002", "cte_month_spine_gapfill", "fuzz_7001",
      // r7 later additions
      "ts_mann_kendall", "ts_theil_sen", "ts_holtwinters_forecast",
      "b_attribution_credit", "q_referential_integrity",
      "q_grouped_quantiles", "g_ppr_copurchase", "fuzz_9003",
      "b_survival_km", "b_abtest_conversion", "ts_classical_decompose",
      "b_activity_islands", "q_key_skew_report", "fuzz_10004",
      // r8 surface: the small-delta IVM gate entry and two
      // timestamp/interval fuzz shapes
      "dim_wide_join_smalldelta", "fuzz_11000", "fuzz_11007")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans (sf0.001, local)\n\n")
    sb.append("Generated by `sbt \"runMain graft.tools.Plans\"`. What to check:\n")
    sb.append("`PushedFilters`/`ReadSchema` on every scan, `BroadcastHashJoin`\n")
    sb.append("on dim joins, partial→final `HashAggregate` pairs, one\n")
    sb.append("`Exchange` per logical repartition.\n\n")
    sb.append("Note (r5): `job_base_log_split` was flagged in the r4 bench\n")
    sb.append("(1.64 s r3 → 2.89 s driver reprobe). Re-measured in a quiet\n")
    sb.append("window at sf0.1, min-of-3: 2.21 s — within the 1.5× band of\n")
    sb.append("the r3 number. The operator code is UNCHANGED since round 1\n")
    sb.append("(git log of `ComposedJobs.baseLogSplitJob`/`LogSplit`), the\n")
    sb.append("plan below is the r3 plan, and the r4 suspicion (the nanos\n")
    sb.append("magnitude guard in `Tables.events`) is not in the path —\n")
    sb.append("current testdata scans as TIMESTAMP_NTZ micros, which takes\n")
    sb.append("the cast-only branch. Residual delta is environment noise,\n")
    sb.append("not a plan regression.\n\n")
    sb.append("Note (r6): the two r5 bench watch items were re-measured in\n")
    sb.append("a quiet window, min-of-4: `llm_dedup_ngram_jaccard` 2.55 s\n")
    sb.append("(1.17× of r4) and `llm_gopher_rules` 0.76 s (1.29×) — the\n")
    sb.append("committed r5 values (4.10/0.90 s) were box contention on\n")
    sb.append("untouched code, no plan change. Iterative operators (sssp,\n")
    sb.append("labelprop, pagerank, bfs, kcore) execute their rounds during\n")
    sb.append("query construction; the plan shown is the final round-file\n")
    sb.append("read, the per-round shapes live in the operators' Scaladoc\n")
    sb.append("and SCALE.md.\n\n")
    sb.append("Note (r7): `dim_wide_join_incremental`'s cost is the COMMIT\n")
    sb.append("path, not this read plan — the TxLog pruned merge (pk-hash\n")
    sb.append("ranges + parquet blooms, append fast path, concurrent\n")
    sb.append("accumulator commits) moved it from O(view) to O(delta +\n")
    sb.append("holder files) per batch; receipts in SCALE.md (JoinIvmProbe:\n")
    sb.append("1%-insert commits ~3.1 s flat regardless of view size).\n")
    sb.append("The plan below is the final wide-table read. The two fuzz_6xxx\n")
    sb.append("entries show Catalyst's decorrelation targets for the new\n")
    sb.append("correlated-scalar/LATERAL space: a left join against the\n")
    sb.append("grouped build side keyed on the correlation column.\n\n")
    sb.append("Note (r8): the IVM commit path was rebuilt stage-first —\n")
    sb.append("the batch executes once into final-form files, bloom hits\n")
    sb.append("are refined by one exact containment scan (a bloom false\n")
    sb.append("positive no longer forces a view-sized rewrite), the wide\n")
    sb.append("commit's data plane overlaps the accumulator commits behind\n")
    sb.append("a publish gate, and update-heavy callers (SCD2, AggIndex)\n")
    sb.append("declare themselves back onto the classic probe-then-merge\n")
    sb.append("path with a view-scale probe bailout. Receipts in SCALE.md;\n")
    sb.append("`dim_wide_join_smalldelta` is the driver-checked gate for\n")
    sb.append("the O(delta) small-delta regime (its plan below is the\n")
    sb.append("final wide read, like the other IVM entries). r7 bench\n")
    sb.append("watch items adjudicated (quiet window, min-of-5):\n")
    sb.append("ts_anomaly_supplier_weekly 1.77 s and llm_ann_ivfpq 4.76 s\n")
    sb.append("(contention on unchanged code, ~= r6); dim_scd2_lookup_\n")
    sb.append("incremental was real probe overhead on view-scale deltas —\n")
    sb.append("fixed by the RowsStat bailout (5.31 -> 4.80 s).\n")
    headline.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      sb.append(s"\n## $name\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      sb.append("```\n")
    }
    Files.writeString(Paths.get("/root/repo/PLANS.md"), sb.toString)
    println(s"[plans] wrote PLANS.md (${headline.size} queries)")
    spark.stop()
  }
}
