"""Workload definitions: query lists with their module attribution, and
the sizes of the generated inputs."""

# batch_dataflows: oracle-checked batch twins of the reference's DWD/DWS
# dataflows, 18 of the ~80 so that one round fits the measuring time. Each query is attributed to the operator module of its main
# operator (the `operators.state` dedup/visit-flag steps count as dws).
DWD = """p1_json_quarantine p3_cdc_extract p8_search_keyword_filter
j1_order_wide_table j3_dic_lookup_join j4_snowflake_dim_chain
j6_interval_join set_except job_cart_add""".split()
DWS = """a1_keyed_tumbling_window a3_province_order_window
a8_last_wins_dedup a9_first_per_day_flags cep_bounce_sessions
u1_a6_keyword_frequency w_trailing_range_window w_session_window
job_order_window""".split()

BATCH = [(q, "operators.dwd") for q in DWD] + [(q, "operators.dws") for q in DWS]

# eager_kernels: queries that do their work before the action. The dim_*
# view merges three batches into a TxLog table and reads it back; the
# rest iterate on the driver.
EAGER = [
    ("dim_agg_rollup_incremental", "operators.dim"),
    ("g_pagerank_copurchase", "operators.graph"),
    ("llm_dedup_cc", "operators.llm"),
    ("ml_item_cf", "operators.ml"),
]

WORKLOADS = {
    # ops, table scale factor, queries the warm-up runs once
    "batch_dataflows": {"ops": BATCH, "sf": 0.01,
                        "warm": ["p4_state_transition", "j1_order_wide_table",
                                 "a1_keyed_tumbling_window"]},
    "eager_kernels": {"ops": EAGER, "sf": 0.002,
                      "warm": ["p4_state_transition", "dim_agg_rollup_incremental"]},
    "stream_ods_dws": {},
}

# stream_ods_dws backlog: one file per micro-batch, half of them before the
# restart; `tie_pairs` same-second CDC pairs of each kind
STREAM = {"log_files": 4, "log_lines": 2500, "cdc_files": 4,
          "cdc_per_file": 300, "cdc_keys": 300, "tie_pairs": 20}
