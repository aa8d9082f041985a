package graft

/** Physical-plan assertions (the 100 TB posture, SURVEY §7.4): filters
  * and column pruning reach the parquet scan, small dims broadcast,
  * codegen stays on for the hot paths. These guard against plan
  * regressions the row-count tests can't see. */
class PlanSpec extends SparkTestBase {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf0001).queryExecution.executedPlan.toString

  test("p7 compound filter is pushed to the parquet scan") {
    val p = plan("p7_compound_filter")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("o_orderstatus"), p)
  }

  test("j1 pre-projection prunes the scan to needed columns") {
    val p = plan("j1_order_wide_table")
    // lineitem scan must not read l_discount/l_tax/l_returnflag etc.
    val scanLines = p.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(!scanLines.contains("l_discount"), scanLines)
    assert(!scanLines.contains("l_tax"), scanLines)
  }

  test("a3 flagship broadcasts the dim side, shuffles the fact join once") {
    val p = plan("a3_province_order_window")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("j4 snowflake chain is all broadcast joins — no shuffle join") {
    val p = plan("j4_snowflake_dim_chain")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("j3 dictionary lookup join broadcasts both dim aliases") {
    val p = plan("j3_dic_lookup_join")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("job_order_refund: both dictionary aliases broadcast, no shuffle join") {
    val p = plan("job_order_refund")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the refund-side filter reaches the lineitem scan
    assert(p.contains("PushedFilters: ["), p)
    assert(p.linesIterator.filter(_.contains("PushedFilters"))
      .mkString.contains("l_returnflag"), p)
  }

  test("whole-stage codegen is active on the windowed agg") {
    // AQE finalizes codegen stages only at execution: run, then inspect
    val df = SparkEntry.queries("a1_keyed_tumbling_window")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), p) // `*(n)` = whole-stage-codegen stage marker
  }

  test("a5 global window has partial aggregation before the exchange") {
    val p = plan("a5_global_tumbling_window")
    // partial_ aggregate functions appear below the shuffle
    assert(p.contains("partial_"), p)
  }

  test("wide-output queries carry no final global sort") {
    // The correctness gate is order-insensitive; a trailing range-sort
    // of the full output is pure waste at scale (measured 3x on j1).
    // Guard the de-sorted queries against regression. (a7 keeps its
    // per-key window sort — that one is content-defining.)
    for (q <- Seq("j1_order_wide_table", "j2_left_outer_activity",
                  "j3_dic_lookup_join", "job_order_preprocess",
                  "j_semi_join", "j_anti_join", "set_intersect",
                  "set_except")) {
      val p = plan(q)
      assert(!p.contains("rangepartitioning"), s"$q has a global sort:\n$p")
    }
  }

  test("job_user_spu_order_window: dedup window and orders join share one fact exchange") {
    // lineitem is pre-partitioned on l_orderkey, which co-locates every
    // (l_orderkey, l_linenumber) dedup group AND satisfies the orders
    // join — the fact table must cross the wire exactly once
    val p = plan("job_user_spu_order_window")
    val factExchanges = p.linesIterator
      .filter(_.contains("hashpartitioning(l_orderkey")).size
    assert(factExchanges == 1, s"expected 1 fact exchange, plan:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("job_unique_visitor_detail: session gap and daily dedup share one user exchange") {
    // both window functions cluster on user_id; HashPartitioning(user_id)
    // satisfies the (user_id, day) clustering of the second, so the
    // events table must cross the wire exactly once
    val p = plan("job_unique_visitor_detail")
    val userExchanges = p.linesIterator
      .filter(_.contains("hashpartitioning(user_id")).size
    assert(userExchanges == 1, s"expected 1 user exchange, plan:\n$p")
  }

  test("job_tm_cat_refund_window: sku dim joins before the agg, name dims after — all broadcast") {
    val p = plan("job_tm_cat_refund_window")
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // distinct order count expands to a two-level aggregate, never a
    // per-group set materialization
    assert(p.contains("HashAggregate"), p)
  }

  test("llm_repetition: all windows and the final agg reuse one doc_id exchange") {
    // position window, per-(doc,gram) counts, the top-bigram rank and
    // the final aggregate all cluster on supersets of doc_id
    val p = plan("llm_repetition")
    val docExchanges = p.linesIterator
      .filter(_.contains("hashpartitioning(doc_id")).size
    assert(docExchanges == 1, s"expected 1 doc_id exchange, plan:\n$p")
  }

  test("llm_classifier_score: one doc_id exchange, no joins anywhere") {
    // token explode -> weight expression -> partial->final aggregate;
    // the weight lookup is pure expression, so a join appearing here
    // means someone materialized the stand-in weight table
    val p = plan("llm_classifier_score")
    val docExchanges = p.linesIterator
      .filter(_.contains("hashpartitioning(doc_id")).size
    assert(docExchanges == 1, s"expected 1 doc_id exchange, plan:\n$p")
    assert(!p.contains("Join"), s"classifier must be join-free, plan:\n$p")
    assert(p.contains("HashAggregate"), p)
  }

  test("llm_line_dedup: one doc_id aggregate pass, boiler side broadcast") {
    val p = plan("llm_line_dedup")
    // the rebuild is ONE partial->final aggregate on doc_id (the
    // flag-join form); an anti-join + per-doc-count rejoin shape would
    // show a second doc_id exchange
    val docExchanges = p.linesIterator
      .filter(_.contains("hashpartitioning(doc_id")).size
    assert(docExchanges == 1, s"expected 1 doc_id exchange, plan:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
    // exactly one line-keyed exchange: the boilerplate frequency agg
    val lineExchanges = p.linesIterator
      .filter(_.contains("hashpartitioning(line")).size
    assert(lineExchanges == 1, s"expected 1 line exchange, plan:\n$p")
  }

  test("llm_span_dedup: coverage window and rebuild reuse the token exchange") {
    val p = plan("llm_span_dedup")
    // two identical doc_id token shuffles (probe branch + dup-frequency
    // branch — AQE reuses the stage at runtime); a THIRD would mean the
    // coverage window or the rebuild re-partitioned after the join
    val docExchanges = p.linesIterator
      .filter(_.contains("hashpartitioning(doc_id")).size
    assert(docExchanges == 2, s"expected 2 doc_id exchanges, plan:\n$p")
    val gramExchanges = p.linesIterator
      .filter(_.contains("hashpartitioning(gram")).size
    assert(gramExchanges == 1, s"expected 1 gram exchange, plan:\n$p")
    // the over-threshold gram set broadcasts back onto the probe side
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("llm_mixture_rebalance: stratum stats broadcast back, corpus side never shuffle-joins") {
    val p = plan("llm_mixture_rebalance")
    // counts (≤ #strata rows) joins broadcast; the 1-row binding
    // stratum arrives via broadcast nested-loop cross join
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("llm_dsir_score: bucket weight table broadcasts for the scoring join") {
    val p = plan("llm_dsir_score")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("llm_budget_select: single-partition window only over the bucket table") {
    val p = plan("llm_budget_select")
    // the kept-score set joins back broadcast — the corpus is never
    // globally sorted for selection
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // exactly one SinglePartition exchange (the ≤10^4-row score-bucket
    // cumsum), never a corpus-wide one — plus the final presentation sort
    val single = p.linesIterator.count(_.contains("SinglePartition"))
    assert(single <= 2, s"unexpected single-partition stages:\n$p")
  }

  test("llm_lm_perplexity: model tables broadcast; training exchange is reused") {
    // AQE finalizes the join strategy at execution: run, then inspect
    val df = SparkEntry.queries("llm_lm_perplexity")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin"), p)
    // model, backoff-unigram, and doc-coverage joins all broadcast
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 3, p)
    // the unigram table rides the bigram model's target-slice exchange
    // instead of re-exploding the slice
    assert(p.contains("ReusedExchange"), p)
  }

  test("llm_bm25_topk: the query-term tf pass runs once and is reused") {
    // the tf aggregate feeds the score and its df table; identical
    // subtrees must collapse to one exchange in the final adaptive plan
    val df = SparkEntry.queries("llm_bm25_topk")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange"), p)
  }

  test("top-k plans as TakeOrderedAndProject, never a global sort") {
    val p = plan("q_topk_orders")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("rangepartitioning"), p)
  }

  test("document operators carry no round-robin exchange at production settings") {
    // Tables.spread is a local-mode accommodation for single-row-group
    // test files; at the default conf (spread disabled) the shipped
    // plan must not re-shuffle the corpus in front of document work.
    assert(spark.conf.get("spark.graft.spread.enabled", "false") != "true")
    for (q <- Seq("llm_text_quality", "llm_token_count",
                  "llm_dedup_simhash", "u1_a6_keyword_frequency")) {
      val p = plan(q)
      assert(!p.contains("RoundRobinPartitioning"),
        s"$q re-shuffles the corpus (RoundRobinPartitioning):\n$p")
    }
    // and the gate actually works when a local session opts in
    spark.conf.set("spark.graft.spread.enabled", "true")
    try {
      val p = plan("llm_text_quality")
      assert(p.contains("RoundRobinPartitioning"), s"spread gate inert:\n$p")
    } finally spark.conf.unset("spark.graft.spread.enabled")
  }

  test("scrub family: pure narrow projections — no hash exchange, no join") {
    // PII redaction and NFC normalization are scan -> project (+ the
    // presentation sort); a hash exchange or join appearing here means
    // someone de-narrowed the scrub path
    Seq("llm_redact_pii", "llm_text_normalize").foreach { q =>
      val p = plan(q)
      assert(!p.contains("hashpartitioning("), s"$q grew an exchange:\n$p")
      assert(!p.contains("Join"), s"$q grew a join:\n$p")
    }
  }

  test("llm_domain_stats: two-level aggregate, no Expand, no join") {
    val p = plan("llm_domain_stats")
    // the two-level shape: (domain, doc) pre-agg then domain agg —
    // multi-DISTINCT in one pass would plan an Expand (3× the URL
    // rows through the first exchange)
    assert(!p.contains("Expand"), s"multi-distinct Expand reappeared:\n$p")
    // three domain-prefixed exchanges, each carrying pre-aggregated
    // rows: (domain,doc) pre-agg, the single-distinct's (domain,lang)
    // partial, and the final domain merge — every one map-side combined
    val domainExchanges = p.linesIterator
      .filter(_.contains("hashpartitioning(domain")).size
    assert(domainExchanges <= 3, s"expected <=3 domain exchanges, plan:\n$p")
    assert(!p.contains("Join"), s"domain stats must be join-free:\n$p")
    // partial aggregation runs before the exchange (map-side combine)
    assert(p.contains("partial_count"), p)
  }

  test("llm_decontaminate_bloom: bloom filter sits before the verify join") {
    val df = SparkEntry.queries("llm_decontaminate_bloom")(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    // the UDF pre-screen must appear, and the exact join must still be
    // a broadcast (the gram set side) — the bloom replaces neither
    assert(p.contains("UDF"), s"bloom pre-screen missing:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"verify join not broadcast:\n$p")
  }

  test("trailing range window: one key exchange, bounded frame") {
    val p = plan("w_trailing_range_window")
    val keyEx = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning(o_custkey")).size
    assert(keyEx == 1, s"expected 1 o_custkey exchange:\n$p")
    assert(p.contains("RangeFrame"), p)
  }

  test("unpivot is a pure Expand: zero exchanges") {
    val p = plan("w_lineitem_unpivot")
    assert(p.contains("Expand"), p)
    assert(!p.contains("Exchange"), s"melt must not shuffle:\n$p")
  }

  test("grouping sets: one Expand feeding one aggregate exchange") {
    val p = plan("w_grouping_sets")
    assert(p.contains("Expand"), p)
    val ex = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).size
    assert(ex == 1, s"expected 1 aggregate exchange:\n$p")
  }

  test("bloom-pruned join: the UDF prune sits under the join") {
    val p = plan("j_bloom_pruned_join")
    assert(p.contains("UDF"), s"bloom prune missing from plan:\n$p")
  }

  private def factScans(p: String, table: String): Int =
    p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains(table))

  /** Count of cache READERS — the shared-subtree proof. (A raw
    * FileScan count can't carry it: the plan string prints each
    * consumer's InMemoryRelation WITH its cached lineage, so the one
    * physical scan appears once per consumer textually.) */
  private def cacheReads(p: String): Int =
    p.linesIterator.count(l => l.contains("InMemoryTableScan") ||
      l.contains("TableCacheQueryStage"))

  test("b_survival_km: the at-risk frame is shared, not re-derived — " +
      "both the curve fold and the final join read the cache") {
    val p = plan("b_survival_km")
    assert(cacheReads(p) >= 2, s"risk frame re-derived:\n$p")
  }

  test("b_abtest_conversion: per-user frame shared by median and arms, " +
      "broadcast median, single-row final aggregate") {
    val p = plan("b_abtest_conversion")
    assert(cacheReads(p) >= 2, s"per-user frame re-derived:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"median must broadcast, never shuffle-join:\n$p")
    // both arms' (n, x) come from ONE conditional aggregate
    assert(p.linesIterator.exists(l => l.contains("HashAggregate") &&
      l.contains("arm") && l.contains("converted")), p)
  }

  test("ts_classical_decompose: the trended frame is shared — " +
      "seasonal aggregate and final assembly read the cache") {
    val p = plan("ts_classical_decompose")
    assert(cacheReads(p) >= 2, s"trended frame re-derived:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"seasonal join must broadcast:\n$p")
  }

  test("b_activity_islands: single pass — one user exchange chain, no join") {
    val p = plan("b_activity_islands")
    assert(!p.contains("Join"), s"islands must not join:\n$p")
    // (user, day) dedup exchange + user window exchange, nothing more
    val hashEx = p.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(hashEx <= 2, s"expected at most 2 hash exchanges:\n$p")
  }

  test("cte_month_spine_gapfill: the recursion is a UnionLoop spine; " +
      "the fact table is aggregated ONCE outside it") {
    val p = plan("cte_month_spine_gapfill")
    assert(p.contains("UnionLoop"), s"native recursion missing:\n$p")
    assert(factScans(p, "orders.parquet") == 1,
      s"the recursion must never rescan the fact table per iteration:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"spine join must broadcast:\n$p")
  }
}
