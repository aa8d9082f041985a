package graft

import org.apache.spark.sql.{DataFrame, SparkSession, functions}
import graft.core.Tables
import graft.operators.dwd._
import graft.operators.dws._
import graft.operators.state._
import graft.operators.llm

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry is one operator/pipeline from SURVEY.md §2
  * re-expressed Spark-first, runnable batch-deterministically on a
  * `/root/testdata/sf*` directory; `oracleSql` holds its DuckDB twin
  * (same column names — the driver hash-compares after sorting columns
  * by name). Streaming parity of the stateful operators is exercised in
  * the ScalaTest suites (`graft.streaming`), not here.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    ProvinceOrderWindow(
      Tables.lineitem(spark, d), Tables.orders(spark, d),
      Tables.customer(spark, d), Tables.nation(spark, d))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    baseQueries ++
      // property-based differential fuzz: seeded random filter/agg/join
      // fragments over `events`, each rendered from ONE AST as both the
      // DataFrame plan here and the DuckDB SQL in oracleSql — the
      // 120-case sweep runs locally in FuzzDiffSpec; these 8 vetted
      // cases replay against the real DuckDB oracle every round
      graft.operators.FuzzGen.driverSuite.map(f => f.name -> f.build).toMap

  private val baseQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.3 projections / filters
    "p1_json_quarantine" -> ((s, d) => EventFilters.jsonQuarantine(Tables.events(s, d))),
    "p2_optype_filter" -> ((s, d) => EventFilters.opTypeFilter(Tables.events(s, d))),
    "p3_cdc_extract" -> ((s, d) => EventFilters.cdcExtract(Tables.events(s, d))),
    "p4_state_transition" -> ((s, d) => EventFilters.stateTransition(Tables.orders(s, d))),
    "p5_conditional_delta" -> ((s, d) => EventFilters.conditionalDelta(Tables.events(s, d))),
    "p7_compound_filter" -> ((s, d) => EventFilters.compoundFilter(Tables.orders(s, d))),
    "p8_search_keyword_filter" -> ((s, d) => EventFilters.searchKeywordFilter(Tables.events(s, d))),
    "p9_page_whitelist_filter" -> ((s, d) => EventFilters.pageWhitelistFilter(Tables.events(s, d))),
    "p10_login_filter" -> ((s, d) => EventFilters.loginFilter(Tables.events(s, d))),
    "p11_pay_success_filter" -> ((s, d) => EventFilters.paySuccessFilter(Tables.events(s, d))),
    "p12_favor_add_filter" -> ((s, d) => EventFilters.favorAddFilter(Tables.events(s, d))),
    "f_scalar_functions" -> ((s, d) => EventFilters.scalarFns(Tables.events(s, d))),
    // higher-order array surface: transform/filter/fold/zip/exists/
    // sort/slice in pure integer arithmetic
    "f_array_functions" -> ((s, d) => EventFilters.arrayFns(Tables.events(s, d))),
    // three-valued-logic corners: nullif / IS DISTINCT FROM / coalesce
    "f_null_semantics" -> ((s, d) =>
      SetOps.nullSemantics(Tables.orders(s, d))),
    // Spark 4 VARIANT: parse_json once -> typed variant_get paths
    // (schema-free semi-structured payloads, engine-native)
    "f_variant_props_agg" -> ((s, d) =>
      graft.functions.JsonFns.variantPropsAgg(Tables.events(s, d))),
    // §2.4 joins + §2.6 union
    "j1_order_wide_table" -> ((s, d) =>
      Joins.orderWideTable(Tables.lineitem(s, d), Tables.orders(s, d))),
    "j2_left_outer_activity" -> ((s, d) =>
      Joins.leftOuterActivity(Tables.lineitem(s, d), Tables.part(s, d))),
    "j3_dic_lookup_join" -> ((s, d) =>
      Joins.dicLookupJoin(Tables.orders(s, d), Joins.baseDic(s))),
    "j4_snowflake_dim_chain" -> ((s, d) =>
      Joins.snowflakeEnrich(Tables.lineitem(s, d), Tables.part(s, d),
        Tables.supplier(s, d), Tables.nation(s, d), Tables.region(s, d))),
    "j5_config_routing" -> ((s, d) =>
      graft.operators.dim.ConfigRouting(Tables.events(s, d),
        graft.operators.dim.ConfigRouting.configFrame(s))),
    "j6_interval_join" -> ((s, d) => Joins.intervalJoin(Tables.events(s, d))),
    "j7_full_outer_join" -> ((s, d) => Joins.fullOuterJoin(Tables.events(s, d))),
    "u_union_three_way" -> ((s, d) => Joins.unionThreeWay(Tables.events(s, d))),
    // relational completeness beyond the reference (§2.4/§2.6 gaps)
    "j_semi_join" -> ((s, d) =>
      SetOps.semiJoin(Tables.orders(s, d), Tables.lineitem(s, d))),
    "j_anti_join" -> ((s, d) =>
      SetOps.antiJoin(Tables.customer(s, d), Tables.orders(s, d))),
    // AS-OF join: union-tag + running carry-forward (one shuffle, no
    // range explosion) — last-touch purchase→click attribution
    "j_asof_join" -> ((s, d) =>
      AsofJoin.purchaseAttribution(Tables.events(s, d))),
    // runtime bloom pruning before the fact shuffle; exact join drops
    // the fpp survivors, so the plain join oracles it bit-for-bit
    "j_bloom_pruned_join" -> ((s, d) =>
      Joins.bloomPrunedJoin(Tables.lineitem(s, d), Tables.orders(s, d))),
    // trailing event-time RANGE frame (rolling 7-day spend per customer)
    "w_trailing_range_window" -> ((s, d) =>
      AdvancedWindows.trailingOrderWindow(Tables.orders(s, d))),
    // DISTINCT over a RANGE frame (collect→dedup twin of the native
    // DISTINCT window aggregate) + deterministic frame min
    "w_trailing_distinct" -> ((s, d) =>
      AdvancedWindows.trailingDistinctWindow(Tables.orders(s, d))),
    // exact median / stddev / Pearson corr per group
    "w_stats_aggregates" -> ((s, d) =>
      AdvancedWindows.statsAggregates(Tables.orders(s, d))),
    // PIVOT with a pinned value list (one pass, stable schema)
    "w_status_pivot" -> ((s, d) =>
      AdvancedWindows.statusPivot(Tables.orders(s, d))),
    // the analytic-function surface: rank family, offsets, ntile,
    // distribution functions
    "w_analytic_functions" -> ((s, d) =>
      AdvancedWindows.analyticFunctions(Tables.orders(s, d))),
    // explicit GROUPING SETS (one Expand pass, grouping() labels)
    "w_grouping_sets" -> ((s, d) =>
      AdvancedWindows.orderGroupingSets(Tables.orders(s, d))),
    // UNPIVOT/melt: wide measures → narrow rows, one Expand pass
    "w_lineitem_unpivot" -> ((s, d) =>
      AdvancedWindows.lineitemUnpivot(Tables.lineitem(s, d))),
    // hourly resample + forward fill = grid explode ∘ as-of join
    "w_resample_ffill" -> ((s, d) =>
      AdvancedWindows.resampleFfill(Tables.events(s, d))),
    // truncated EWMA over the daily-revenue series: the day aggregate
    // shrinks 100 TB of orders to calendar cardinality FIRST, so the
    // unpartitioned analytic window runs on a bounded series (the
    // a5_global posture); α=0.5 keeps the weights exact binary
    "ts_ewma_daily_revenue" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, to_date, sum, date_format}
      val daily = Tables.orders(s, d)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(col("o_totalprice").cast("bigint")).as("rev"))
      AdvancedWindows.ewma(daily, Seq.empty, "day", "rev")
        .select(date_format(col("day"), "yyyy-MM-dd").as("day_s"),
          col("rev"), col("ewma"))
        .orderBy("day_s")
    }),
    // rolling z-score anomaly flags on per-supplier weekly shipped
    // quantity — each point scored against its TRAILING window only
    "ts_anomaly_supplier_weekly" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, date_trunc, sum, date_format}
      val weekly = Tables.lineitem(s, d)
        .groupBy(col("l_suppkey"),
          date_trunc("week", col("l_shipdate")).as("wk"))
        .agg(sum(col("l_quantity").cast("bigint")).as("qty"))
      AdvancedWindows.rollingZscore(weekly, Seq("l_suppkey"), "wk", "qty")
        .select(col("l_suppkey"),
          date_format(col("wk"), "yyyy-MM-dd").as("week_s"),
          col("qty"), col("z"), col("is_anomaly"))
        .orderBy("l_suppkey", "week_s")
    }),
    // day-of-week seasonality index of daily revenue (integer weekday
    // arithmetic — engine-locale-free; totals derived from the 7-slot
    // sums, not a second scan)
    "ts_seasonality_dow" -> ((s, d) =>
      graft.operators.dws.TimeSeries.seasonalityIndex(Tables.orders(s, d))),
    // lag-1..7 autocorrelation from BIGINT sufficient statistics
    "ts_autocorr_daily_qty" -> ((s, d) =>
      graft.operators.dws.TimeSeries.autocorrelation(Tables.lineitem(s, d))),
    // integer-scaled CUSUM changepoint on the daily quantity series
    "ts_cusum_changepoint" -> ((s, d) =>
      graft.operators.dws.TimeSeries.cusumChangepoint(Tables.lineitem(s, d))),
    // Holt double-exponential smoothing: one ordered fold per key over
    // the daily aggregate (dyadic α/β so the oracle's recursive CTE
    // replays the recurrence bit-identically before rounding)
    "ts_holt_forecast" -> ((s, d) =>
      graft.operators.dws.TimeSeries.holtForecast(Tables.orders(s, d))),
    // additive Holt–Winters (weekly seasonality): the same sequential
    // per-key fold carrying a 7-slot seasonal vector; dyadic α/β/γ so
    // the oracle's recursive CTE (7 slot columns, CASE-updated)
    // replays the recurrence bit-identically before rounding
    "ts_holtwinters_forecast" -> ((s, d) =>
      graft.operators.dws.TimeSeries.holtWintersForecast(
        Tables.orders(s, d))),
    // clamped (saturating) cumulative sum — the recurrence SQL
    // windows cannot express (each prefix depends on the CLAMPED
    // previous prefix); per-key ordered fold, all-integer, the
    // oracle replays it as a recursive CTE
    "ts_clamped_inventory" -> ((s, d) =>
      graft.operators.dws.TimeSeries.clampedInventory(Tables.orders(s, d))),
    // Mann–Kendall trend test: BIGINT S + tie-corrected var×18 over
    // the calendar-bounded monthly series; the α=0.05 verdict is an
    // exact integer cross-multiplication (no float in the decision)
    "ts_mann_kendall" -> ((s, d) =>
      graft.operators.dws.TrendTests.mannKendall(Tables.orders(s, d))),
    // Theil–Sen robust slope: lower-median RANK SELECTION over
    // single-division pairwise slopes (never an average of floats)
    "ts_theil_sen" -> ((s, d) =>
      graft.operators.dws.TrendTests.theilSen(Tables.orders(s, d))),
    // multi-touch attribution (first/last/linear) with exact integer
    // cent-splitting — per-conversion credits sum to cents exactly
    "b_attribution_credit" -> ((s, d) =>
      graft.operators.dws.Behavior.attributionCredit(Tables.events(s, d))),
    // classical additive decomposition (trend + weekly seasonal +
    // residual), exact via the ×7 scaling — BIGINT window sums,
    // one division per seasonal slot, fixed-op residual assembly
    "ts_classical_decompose" -> ((s, d) =>
      graft.operators.dws.TimeSeries.classicalDecompose(
        Tables.orders(s, d))),
    // gaps-and-islands: per-user consecutive-day streaks via the
    // epoch_day − row_number grouping key (no self-join)
    "b_activity_islands" -> ((s, d) =>
      graft.operators.dws.Behavior.activityIslands(Tables.events(s, d))),
    // Kaplan–Meier repurchase survival: exact integer d/c/n over the
    // duration-bounded frame, sequential product fold (recursive-CTE
    // oracle, identical IEEE op sequence)
    "b_survival_km" -> ((s, d) =>
      graft.operators.dws.Survival.kaplanMeierRepurchase(
        Tables.orders(s, d))),
    // two-proportion A/B z-test: four exact integers in, one fixed
    // IEEE expression out — deterministic verdict cross-engine
    "b_abtest_conversion" -> ((s, d) =>
      graft.operators.ml.Experiment.abTestConversion(Tables.events(s, d))),
    // referential-integrity audit: per-FK-edge orphan/null counts via
    // distinct-built anti-joins (the Expectations/Profile sibling)
    "q_referential_integrity" -> ((s, d) =>
      graft.operators.quality.Integrity.audit(s, d)),
    // RFM customer segmentation: distributed global ranking (range
    // exchange + offset windows — no single-partition Window.orderBy)
    // over the customer aggregate; explicit floor-division buckets
    "b_rfm_segments" -> ((s, d) =>
      graft.operators.dws.Behavior.rfmSegments(Tables.orders(s, d))),
    // exact global percentiles by distributed rank selection (the
    // scale-safe alternative to percentile()'s per-group buffering)
    "q_global_quantiles" -> ((s, d) =>
      graft.operators.quality.Profile.globalQuantiles(Tables.orders(s, d))),
    // exact per-group percentiles: one keyed window, no per-group
    // value buffering (the grouped sibling of q_global_quantiles)
    "q_grouped_quantiles" -> ((s, d) =>
      graft.operators.quality.Profile.groupedQuantiles(Tables.orders(s, d))),
    // the 100 TB sketch swap: Greenwald–Khanna approx_percentile, one
    // map-side aggregate; rows-only, drift bounded vs the exact twin
    // in ProfileSpec (the a3_*_approx pairing contract)
    "q_grouped_quantiles_approx" -> ((s, d) =>
      graft.operators.quality.Profile.groupedQuantilesApprox(
        Tables.orders(s, d))),
    // key-skew report: exact Gini over rank-weighted key counts via
    // the range-exchange global row_number (never one-partition sort)
    "q_key_skew_report" -> ((s, d) =>
      graft.operators.quality.Profile.keySkewReport(
        Tables.events(s, d), "user_id")),
    // item-item co-purchase cosine (customers-who-bought-X-also-bought):
    // basket-capped pair generation, micro-integer cosine, top-10/item
    "ml_item_cf" -> ((s, d) =>
      graft.operators.ml.ItemCf.itemCosine(
        Tables.lineitem(s, d), Tables.orders(s, d))),
    // association rules at itemset size 2: support/confidence/lift in
    // micros off the same capped-basket counts as ml_item_cf
    "ml_assoc_rules" -> ((s, d) =>
      graft.operators.ml.ItemCf.assocRules(
        Tables.lineitem(s, d), Tables.orders(s, d))),
    // declarative data-quality expectations: one scan per table plus
    // one key anti-join; report cardinality = rule count
    "q_expectations" -> ((s, d) =>
      graft.operators.quality.Expectations.orderSuite(
        Tables.orders(s, d), Tables.lineitem(s, d))),
    // robust per-group stats: exact median / MAD / robust-z outliers
    "q_robust_stats" -> ((s, d) =>
      graft.operators.quality.Drift.robustStats(Tables.orders(s, d))),
    // population stability index between two date regimes
    "q_drift_psi" -> ((s, d) =>
      graft.operators.quality.Drift.psiReport(Tables.orders(s, d))),
    // first-order Markov transition matrix of the per-user event
    // stream (row-normalized over the bounded type-pair frame)
    "b_markov_transitions" -> ((s, d) =>
      Behavior.markovTransitions(Tables.events(s, d))),
    // top first-k event paths per user (in-row struct sort, no
    // second window)
    "b_user_paths" -> ((s, d) =>
      Behavior.topUserPaths(Tables.events(s, d))),
    // deterministic T5-style span corruption — map-only, no shuffle
    "llm_span_corruption" -> ((s, d) =>
      llm.Sampling.spanCorruption(Tables.documents(s, d))),
    // per-group OLS fit from six BIGINT-exact sufficient statistics —
    // one aggregate over the fact, closed form, no iteration
    "ml_ols_returnflag" -> ((s, d) =>
      graft.operators.ml.Regression.olsPerGroup(Tables.lineitem(s, d),
        "l_returnflag", "l_quantity", "l_extendedprice")),
    // Naive Bayes: class-conditional micro-log-prob model (train)
    "ml_nb_model" -> ((s, d) =>
      graft.operators.ml.NaiveBayes.trainLangModel(Tables.documents(s, d))),
    // Naive Bayes argmax scoring — integer micro-log sums, order-free
    "ml_nb_predict" -> ((s, d) =>
      graft.operators.ml.NaiveBayes.predictLang(Tables.documents(s, d))),
    // temporal-split recommender evaluation: train item-CF before the
    // pivot, recommend top-5 unseen neighbors per customer, hit-rate
    // against post-pivot purchases — one metrics row
    "ml_cf_eval_hitrate" -> ((s, d) =>
      graft.operators.ml.ItemCf.evalHitRate(
        Tables.lineitem(s, d), Tables.orders(s, d))),
    // classifier evaluation: (true, pred) confusion matrix with
    // per-class floored-micro precision/recall/F1 — one corpus-sized
    // aggregate, label-sized everything after
    "ml_eval_confusion" -> ((s, d) =>
      graft.operators.ml.Evaluation.nbConfusion(Tables.documents(s, d))),
    // exact one-vs-rest ROC-AUC by the Mann–Whitney rank statistic —
    // integer pair counts (U2 = 2·U keeps tie half-credit integral)
    "ml_eval_auc" -> ((s, d) =>
      graft.operators.ml.Evaluation.nbAuc(Tables.documents(s, d))),
    // ordered funnel: earliest-qualifying-event semantics, strict >
    "b_funnel_conversion" -> ((s, d) =>
      Behavior.funnel(Tables.events(s, d))),
    // deadline-windowed funnel: steps 2/3 must land within 60 min of
    // the user's first step-1 event (session-deadline protocol)
    "b_funnel_windowed" -> ((s, d) =>
      Behavior.funnelWindowed(Tables.events(s, d))),
    // Benford first-digit audit of the order totals: observed vs
    // log10(1+1/d) shares, micro-int deviations
    "q_benford_totalprice" -> ((s, d) =>
      graft.operators.quality.Drift.benfordAudit(Tables.orders(s, d))),
    // NATIVE recursive CTE (Spark 4 UnionLoop): monthly rollup on a
    // recursively generated month spine, gap months kept — the SQL
    // text is shared verbatim with the DuckDB oracle
    "cte_month_spine_gapfill" -> ((s, d) =>
      graft.plans.RecursiveCte.monthSpineGapfill(Tables.orders(s, d))),
    // retention matrix keyed by first-active day
    "b_retention_cohorts" -> ((s, d) =>
      Behavior.retentionCohorts(Tables.events(s, d))),
    // SCD2 validity intervals from versioned change rows
    "dim_scd2_build" -> ((s, d) =>
      graft.operators.dim.Scd2.scd2Build(Tables.orders(s, d))),
    // point-in-time lookup against the SCD2 history (temporal join as
    // the as-of kernel over interval starts — gapless chaining makes
    // the interval end redundant)
    "dim_scd2_lookup" -> ((s, d) =>
      graft.operators.dim.Scd2.pointInTimeLookup(Tables.events(s, d),
        graft.operators.dim.Scd2.scd2Build(Tables.orders(s, d)))),
    // same lookup, but the SCD2 table is built INCREMENTALLY: three
    // hash-split change batches (keys straddle batches, so every merge
    // reopens closed intervals) TxLog-merged in sequence — the SQL
    // oracle is the BATCH path's, so rebuild-equivalence of the
    // incremental maintenance is itself driver-checked
    "dim_scd2_lookup_incremental" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, pmod, lit}
      val table = graft.core.Scratch.dir(s, "scd2-inc")
      val orders = Tables.orders(s, d)
      (0 until 3).foreach(i => graft.operators.dim.Scd2.mergeVersions(
        orders.filter(pmod(col("o_orderkey"), lit(3)) === i),
        table, mergeVersion = i + 1L))
      graft.operators.dim.Scd2.pointInTimeLookup(Tables.events(s, d),
        graft.operators.dim.Scd2.loadScd2(s, table).get)
    }),
    // incremental aggregate maintenance (distributive IVM): the rollup
    // is built by THREE hash-split TxLog merges — keys straddle
    // batches, so every merge combines old and new partials — and the
    // oracle is the plain one-shot GROUP BY, so rebuild equivalence of
    // the incremental path is itself driver-checked
    "dim_agg_rollup_incremental" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, pmod, lit, date_format}
      val table = graft.core.Scratch.dir(s, "aggidx")
      val li = Tables.lineitem(s, d)
      (0 until 3).foreach(i => graft.streaming.AggIndex.mergeBatch(
        li.filter(pmod(col("l_orderkey"), lit(3)) === i), table,
        "l_suppkey", Seq("l_quantity", "l_extendedprice"),
        Seq("l_shipdate"), batchId = i + 1L))
      graft.streaming.AggIndex.load(s, table).get
        .select(col("l_suppkey"), col("ct"),
          col("sum_l_quantity"), col("sum_l_extendedprice"),
          date_format(col("min_l_shipdate"), "yyyy-MM-dd HH:mm:ss")
            .as("min_ship"),
          date_format(col("max_l_shipdate"), "yyyy-MM-dd HH:mm:ss")
            .as("max_ship"))
        .orderBy("l_suppkey")
    }),
    // ALGEBRAIC incremental aggregate (variance family): the rollup
    // additionally maintains exact BIGINT sums of squares, so
    // population variance derives at read time as pure integer
    // arithmetic (ct·Σx² − (Σx)² = ct²·var) — the incremental path is
    // bit-identical to the one-shot GROUP BY for any batch order, and
    // the oracle checks the derived numerator exactly
    "dim_agg_var_incremental" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, pmod, lit}
      val table = graft.core.Scratch.dir(s, "aggvar")
      val li = Tables.lineitem(s, d)
      (0 until 3).foreach(i => graft.streaming.AggIndex.mergeBatch(
        li.filter(pmod(col("l_orderkey"), lit(3)) === i), table,
        "l_suppkey", Seq("l_quantity"), Nil, batchId = i + 1L,
        sumSqCols = Seq("l_quantity")))
      graft.streaming.AggIndex.load(s, table).get
        .select(col("l_suppkey"), col("ct"),
          col("sum_l_quantity").as("sum_q"),
          col("sumsq_l_quantity").as("sumsq_q"),
          (col("ct") * col("sumsq_l_quantity") -
            col("sum_l_quantity") * col("sum_l_quantity")).as("var_num"))
        .orderBy("l_suppkey")
    }),
    // incremental JOIN maintenance (delta-join IVM): the orders ⋈
    // lineitem view is built by THREE batch pairs, split so lineitems
    // straddle batches AND precede their order row (arrival order is
    // free — a wide row lands when its LAST side does); the oracle is
    // the one-shot join, so rebuild equivalence is driver-checked
    "dim_wide_join_incremental" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, pmod, lit, round}
      val table = graft.core.Scratch.dir(s, "joinidx")
      val ord = Tables.orders(s, d).select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
      // wide-row identity: the FULL right row — the driver's synthetic
      // lineitem has no natural pk (linenumbers repeat per order, and
      // at sf0.001 even (okey, ln, pkey, skey) collides with distinct
      // payloads), so row identity = row content, and the operator's
      // eager uniqueness check proves no full duplicates exist
      val liCols = Seq("o_orderkey", "l_linenumber", "l_partkey",
        "l_suppkey", "l_quantity", "l_extendedprice")
      val li = Tables.lineitem(s, d).select(
        col("l_orderkey").as("o_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"),
        col("l_quantity"), col("l_extendedprice"))
      (0 until 3).foreach(i =>
        graft.core.Walls.timed(s"dim_wide_join_incremental.third$i")(
          graft.streaming.JoinIndex.mergeBatch(
            ord.filter(pmod(col("o_orderkey"), lit(3)) === i),
            li.filter(pmod(col("o_orderkey") + col("l_linenumber"),
              lit(3)) === i),
            table, key = "o_orderkey", pkCols = liCols,
            batchId = i + 1L)))
      graft.streaming.JoinIndex.load(s, table).get
        .select(col("o_orderkey"), col("l_linenumber"), col("o_custkey"),
          col("o_orderstatus"),
          col("l_quantity").cast("bigint").as("qty"),
          round(col("l_extendedprice") * 100).cast("bigint")
            .as("price_cents"))
        .orderBy("o_orderkey", "l_linenumber")
    }),
    // the SAME delta-join view in the 100 TB regime the design is FOR:
    // one bulk seed commit (~96% of both sides) followed by four ~1%
    // delta batches. dim_wide_join_incremental proves the algebra on
    // view-sized deltas (worst case for pruning); THIS entry makes the
    // O(delta + overlapping files) commit claim driver-visible — the
    // oracle is still the one-shot join, and the bench tracks that the
    // four small commits cost a fraction of the view-thirds schedule
    "dim_wide_join_smalldelta" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, pmod, lit, round}
      val table = graft.core.Scratch.dir(s, "joinsd")
      val ord = Tables.orders(s, d).select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
      val liCols = Seq("o_orderkey", "l_linenumber", "l_partkey",
        "l_suppkey", "l_quantity", "l_extendedprice")
      val li = Tables.lineitem(s, d).select(
        col("l_orderkey").as("o_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"),
        col("l_quantity"), col("l_extendedprice"))
      // 100 hash buckets; the split keys DIFFER per side so ~4% of
      // lineitems arrive before/after their order row — the cross-batch
      // materialization path stays exercised even in the bulk regime
      val ordB = pmod(col("o_orderkey"), lit(100))
      val liB = pmod(col("o_orderkey") + col("l_linenumber"), lit(100))
      // each commit's wall recorded separately (Walls → the bench
      // artifact's "walls" member): the query total is dominated by
      // the view-sized seed, so a per-delta regression — the number
      // the O(delta) claim actually rides on — would otherwise hide
      // inside the seed's noise round-over-round
      graft.core.Walls.timed("dim_wide_join_smalldelta.seed")(
        graft.streaming.JoinIndex.mergeBatch(
          ord.filter(ordB >= 4), li.filter(liB >= 4),
          table, key = "o_orderkey", pkCols = liCols, batchId = 1L))
      (0 until 4).foreach(i =>
        graft.core.Walls.timed(s"dim_wide_join_smalldelta.delta$i")(
          graft.streaming.JoinIndex.mergeBatch(
            ord.filter(ordB === i), li.filter(liB === i),
            table, key = "o_orderkey", pkCols = liCols,
            batchId = i + 2L)))
      graft.streaming.JoinIndex.load(s, table).get
        .select(col("o_orderkey"), col("l_linenumber"), col("o_custkey"),
          col("o_orderstatus"),
          col("l_quantity").cast("bigint").as("qty"),
          round(col("l_extendedprice") * 100).cast("bigint")
            .as("price_cents"))
        .orderBy("o_orderkey", "l_linenumber")
    }),
    // fixed-point PageRank: BIGINT ranks, integer DIV — iteration is
    // order-independent, so the oracle replays it bit-identically
    "g_pagerank_copurchase" -> ((s, d) =>
      graft.operators.graph.PageRank.copurchasePageRank(
        Tables.lineitem(s, d), Tables.orders(s, d))),
    // personalized PageRank: teleport mass lands on the seed set only
    // (node % 100 = 0 customers); same BIGINT fixed-point, 6 rounds
    "g_ppr_copurchase" -> ((s, d) =>
      graft.operators.graph.PageRank.copurchasePpr(
        Tables.lineitem(s, d), Tables.orders(s, d))),
    // exact triangle counting by degree orientation on the part↔part
    // co-purchase projection (the bipartite PageRank graph is
    // triangle-free by construction, so triangles live here)
    "g_triangle_copurchase" -> ((s, d) =>
      graft.operators.graph.Triangles.copurchaseTriangles(
        Tables.lineitem(s, d))),
    // single-source BFS hop counts over the co-purchase bipartite
    // graph (level-synchronous frontier, materialized rounds)
    "g_bfs_hops" -> ((s, d) =>
      graft.operators.graph.Traversal.copurchaseBfs(
        Tables.lineitem(s, d), Tables.orders(s, d))),
    // k-core peel of the part-part co-purchase projection
    "g_kcore_copurchase" -> ((s, d) =>
      graft.operators.graph.Traversal.copurchaseKCore(
        Tables.lineitem(s, d))),
    // weighted single-source shortest paths (Bellman-Ford rounds over
    // the co-purchase bipartite graph; BIGINT distances)
    "g_sssp_copurchase" -> ((s, d) =>
      graft.operators.graph.ShortestPaths.copurchaseSssp(
        Tables.lineitem(s, d), Tables.orders(s, d))),
    // community detection: determinized synchronous label propagation
    // (neighbor majority + self-vote, min-label ties) on the part-part
    // projection, materialized rounds
    "g_labelprop_communities" -> ((s, d) =>
      graft.operators.graph.LabelProp.copurchaseCommunities(
        Tables.lineitem(s, d))),
    // link prediction: Adamic–Adar top-20 over the support-filtered
    // co-purchase graph (micro-int 1/ln(deg) weights, hub-capped)
    "g_adamic_adar" -> ((s, d) =>
      graft.operators.graph.LinkPrediction.copurchaseAdamicAdar(
        Tables.lineitem(s, d))),
    // HITS hubs (customers) and authorities (parts): integer-micro
    // mutual recursion, max-normalized by BIGINT div each half-round
    "g_hits_copurchase" -> ((s, d) =>
      graft.operators.graph.Hits.copurchaseHits(
        Tables.lineitem(s, d), Tables.orders(s, d))),
    // local clustering coefficients (Watts–Strogatz) on the
    // support-filtered graph — floored micros, deg ≥ 2 nodes
    "g_clustering_coeff" -> ((s, d) =>
      graft.operators.graph.Triangles.supportClusteringCoeff(
        Tables.lineitem(s, d))),
    // table profiling: per-column nulls/exact-distinct/min/max in ONE
    // full-scan aggregate (Expand-based multi-distinct plan)
    "q_profile_orders" -> ((s, d) =>
      graft.operators.quality.Profile.profile(Tables.orders(s, d),
        Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_orderpriority", "o_orderdate"))),
    // the at-scale swap: HLL++ cardinalities, single aggregate pair,
    // no Expand — rows-only (estimates), exact twin above is oracled
    "q_profile_orders_approx" -> ((s, d) =>
      graft.operators.quality.Profile.profileApprox(Tables.orders(s, d),
        Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_orderpriority", "o_orderdate"))),
    // fixed-bound equi-width histogram, one scan + broadcast zero-pad
    "q_histogram_totalprice" -> ((s, d) =>
      graft.operators.quality.Profile.histogram(Tables.orders(s, d),
        "o_totalprice", 0.0, 500000.0, 10)),
    "set_intersect" -> ((s, d) => SetOps.intersectCustomers(Tables.orders(s, d))),
    "set_except" -> ((s, d) => SetOps.exceptCustomers(Tables.orders(s, d))),
    "w_status_priority_cube" -> ((s, d) =>
      SetOps.statusPriorityCube(Tables.orders(s, d))),
    "q_topk_orders" -> ((s, d) => SetOps.topKOrders(Tables.orders(s, d))),
    // per-key top-k via bounded typed Aggregator: the exchange carries
    // ≤k rows per key (map-side combine), no per-key full sort
    "q_topk_per_group" -> ((s, d) =>
      SetOps.topKPerGroup(Tables.orders(s, d))),
    // deliberately skewed join (half the fact lands on one hot key),
    // executed through the salting kernel — the benched artifact for
    // the skew-mitigation claims; oracle = the plain join in SQL
    "q_skew_salted_join" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(
        functions.when(functions.col("l_orderkey") % 10 < 5, 0L)
          .otherwise(functions.col("l_orderkey")).as("k"),
        functions.col("l_quantity"))
      val rt = Tables.orders(s, d).select(
        functions.when(functions.col("o_orderkey") % 10 < 5, 0L)
          .otherwise(functions.col("o_orderkey")).as("k"))
        .distinct()
      graft.operators.skew.Salting.saltedJoin(li, rt, "k", salts = 8)
        .groupBy("k")
        .agg(functions.count(functions.lit(1)).as("line_ct"),
          functions.round(functions.sum(functions.col("l_quantity")), 2)
            .as("qty_sum"))
        .orderBy("k")
    }),
    // §2.5 windowed aggregations
    "a2_user_spu_order_window" -> ((s, d) =>
      TradeWindows.userSpuOrderWindow(Tables.lineitem(s, d),
        Tables.orders(s, d), Tables.part(s, d))),
    "a4_refund_window" -> ((s, d) =>
      TradeWindows.refundWindow(Tables.lineitem(s, d), Tables.part(s, d))),
    "a1_keyed_tumbling_window" -> ((s, d) => TrafficWindows.keyedWindow(Tables.events(s, d))),
    "a3_province_order_window" -> ((s, d) =>
      ProvinceOrderWindow(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.nation(s, d))),
    // the 100 TB distinct swap as a runnable flag (rows-only check:
    // HLL++ estimates have no exact oracle; drift vs the exact twin is
    // bounded in DwsJobSpec)
    "a3_province_order_window_approx" -> ((s, d) =>
      ProvinceOrderWindow.approx(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.nation(s, d))),
    "a5_global_tumbling_window" -> ((s, d) => TrafficWindows.globalWindow(Tables.events(s, d))),
    "a10_daily_unique_visitors" -> ((s, d) => TrafficWindows.dailyUv(Tables.events(s, d))),
    // §2.5 stateful kernels (batch twins; streaming forms in graft.streaming)
    "a7_first_wins_dedup" -> ((s, d) =>
      Dedup.firstWins(Tables.lineitem(s, d), Seq("l_orderkey"),
          Seq(functions.col("l_linenumber"), functions.col("l_partkey"),
            functions.col("l_suppkey"), functions.col("l_extendedprice")))
        .select(functions.col("l_orderkey"), functions.col("l_linenumber"),
          functions.col("l_partkey"),
          functions.round(functions.col("l_extendedprice"), 2).as("amount"))),
    "a8_last_wins_dedup" -> ((s, d) =>
      Dedup.lastWins(Tables.events(s, d), Seq("user_id", "event_type"),
          Seq(functions.col("ts").desc, functions.col("event_id").desc))
        .select(functions.col("user_id"), functions.col("event_type"),
          functions.col("event_id"),
          functions.round(functions.col("value"), 2).as("value"),
          functions.date_format(functions.col("ts"), "yyyy-MM-dd HH:mm:ss")
            .as("last_time"))
        .orderBy("user_id", "event_type")),
    "a9_first_per_day_flags" -> ((s, d) =>
      VisitFlags.firstPerDayFlags(Tables.events(s, d))),
    "a9_login_winback" -> ((s, d) => VisitFlags.winBack(Tables.events(s, d))),
    "a9_home_detail_uv" -> ((s, d) => VisitFlags.homeDetailUv(Tables.events(s, d))),
    "a11_is_new_correction" -> ((s, d) =>
      VisitFlags.isNewCorrection(Tables.events(s, d))),
    "cep_bounce_sessions" -> ((s, d) =>
      Sessionize.bounceSessions(Tables.events(s, d))),
    // §2.8 transformWithState (Spark 4 arbitrary-state API): the
    // PROCESSORS run here — a synchronous MemoryStream replay in 3
    // time-ordered batches (cross-batch ValueState accumulation and
    // event-time timer fires both exercised) — and the oracle is the
    // batch semantics (cumulative window / gap-session assembly)
    "tws_running_spend" -> ((s, d) =>
      graft.streaming.TwsStreams.runningSpendReplay(s, Tables.events(s, d))),
    "tws_gap_sessions" -> ((s, d) =>
      graft.streaming.TwsStreams.gapSessionReplay(s, Tables.events(s, d))),
    // MapState (per-type running totals) + ListState (trailing-3 sum,
    // O(1) state) in one processor — the two tws primitives the
    // running/session processors don't touch
    "tws_map_list_state" -> ((s, d) =>
      graft.streaming.TwsStreams.mapListReplay(s, Tables.events(s, d))),
    // clamped running balance: the streaming leg of
    // ts_clamped_inventory — a non-windowable recurrence held as one
    // ValueState tuple per key; oracle is a per-key recursive CTE
    "tws_clamped_balance" -> ((s, d) =>
      graft.streaming.TwsStreams.clampedBalanceReplay(
        s, Tables.events(s, d))),
    // §2.9 UDTF + A6
    "u1_a6_keyword_frequency" -> ((s, d) => TrafficWindows.keywordFrequency(Tables.documents(s, d))),
    // U1 CJK parity: same pipeline over the Chinese fixture (the
    // driver's documents are ASCII-only, so CJK segmentation needs its
    // own deterministic corpus)
    "u1_cjk_keyword_frequency" -> ((s, d) =>
      TrafficWindows.keywordFrequency(TrafficWindows.cjkFixture(s))),
    // whole-job compositions (§3.2/§3.3) + SQL surface
    "job_order_preprocess" -> ((s, d) =>
      ComposedJobs.orderPreProcess(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.part(s, d), Joins.baseDic(s))),
    "job_payment_suc_window" -> ((s, d) =>
      ComposedJobs.paymentSucWindow(Tables.events(s, d))),
    "job_user_spu_order_window" -> ((s, d) =>
      ComposedJobs.userSpuOrderJob(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.part(s, d), Tables.supplier(s, d), Tables.nation(s, d),
        Tables.region(s, d))),
    "job_base_log_split" -> ((s, d) =>
      ComposedJobs.baseLogSplitJob(Tables.events(s, d))),
    "job_refund_pay_suc" -> ((s, d) =>
      ComposedJobs.refundPaySucJob(Tables.lineitem(s, d), Tables.orders(s, d),
        Joins.baseDic(s))),
    "job_traffic_union_window" -> ((s, d) =>
      ComposedJobs.trafficUnionJob(Tables.events(s, d))),
    "sql_hourly_type_window" -> ((s, d) =>
      ComposedJobs.sqlHourlyTypeWindow(s, Tables.events(s, d))),
    "job_cancel_detail" -> ((s, d) =>
      DwdApps.cancelDetail(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.part(s, d), Joins.baseDic(s))),
    "job_order_detail" -> ((s, d) =>
      DwdApps.orderDetail(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.part(s, d), Joins.baseDic(s))),
    "job_order_refund" -> ((s, d) =>
      DwdApps.orderRefund(Tables.lineitem(s, d), Tables.orders(s, d),
        Joins.baseDic(s))),
    "job_pay_detail_suc" -> ((s, d) =>
      DwdApps.payDetailSuc(Tables.events(s, d), Joins.baseDic(s))),
    "job_cart_add" -> ((s, d) =>
      DwdApps.cartAdd(Tables.events(s, d), Joins.baseDic(s))),
    "job_comment_dic" -> ((s, d) =>
      DwdApps.commentDic(Tables.events(s, d), Joins.baseDic(s))),
    "job_user_register" -> ((s, d) =>
      DwdApps.userRegister(Tables.events(s, d))),
    "job_coupon_phases" -> ((s, d) =>
      DwdApps.couponPhases(Tables.orders(s, d))),
    "job_unique_visitor_detail" -> ((s, d) =>
      DwdApps.uniqueVisitorDetail(Tables.events(s, d))),
    "job_register_window" -> ((s, d) =>
      DwsApps.registerWindow(Tables.events(s, d))),
    "job_cart_add_uu_window" -> ((s, d) =>
      DwsApps.cartAddUuWindow(Tables.events(s, d))),
    "job_order_window" -> ((s, d) =>
      DwsApps.orderWindow(Tables.lineitem(s, d), Tables.orders(s, d))),
    "job_tm_cat_refund_window" -> ((s, d) =>
      DwsApps.tmCatUserRefundWindow(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.part(s, d))),
    // windowing beyond the reference: session/sliding/rollup
    "w_session_window" -> ((s, d) =>
      AdvancedWindows.sessionWindowAgg(Tables.events(s, d))),
    "w_sliding_window" -> ((s, d) =>
      AdvancedWindows.slidingWindowAgg(Tables.events(s, d))),
    "w_region_brand_rollup" -> ((s, d) =>
      AdvancedWindows.regionBrandRollup(Tables.lineitem(s, d), Tables.part(s, d),
        Tables.supplier(s, d), Tables.nation(s, d), Tables.region(s, d))),
    // LLM-pipeline ops: dedup
    "llm_dedup_exact" -> ((s, d) => llm.DedupOps.exact(Tables.documents(s, d))),
    "llm_dedup_minhash" -> ((s, d) =>
      llm.DedupOps.minhashPairs(llm.DedupOps.withNearDuplicates(Tables.documents(s, d)))),
    "llm_dedup_simhash" -> ((s, d) =>
      llm.DedupOps.simhashPairs(llm.DedupOps.withNearDuplicates(Tables.documents(s, d)))),
    "llm_dedup_ngram_jaccard" -> ((s, d) =>
      llm.DedupOps.ngramJaccardPairs(llm.DedupOps.withNearDuplicates(Tables.documents(s, d)))),
    // dedup clustering: pairs → connected components → one canonical
    // doc per cluster (alternating large-star/small-star)
    "llm_dedup_cc" -> ((s, d) =>
      llm.Components.connectedComponents(
        llm.Components.chainFixture(Tables.documents(s, d)))
        .orderBy("doc_id")),
    "llm_dedup_canonical" -> ((s, d) =>
      llm.Components.canonicalize(Tables.documents(s, d),
        llm.Components.chainFixture(Tables.documents(s, d)))
        .orderBy("doc_id")),
    "llm_dedup_cluster_stats" -> ((s, d) =>
      llm.Components.clusterStats(
        llm.Components.chainFixture(Tables.documents(s, d)))),
    "llm_token_percentiles" -> ((s, d) =>
      llm.TextAnalysis.tokenPercentiles(Tables.documents(s, d))),
    // the 100 TB percentile swap (t-digest) as a runnable flag
    // (rows-only check; drift vs the exact twin bounded in LlmOpsSpec)
    "llm_token_percentiles_approx" -> ((s, d) =>
      llm.TextAnalysis.tokenPercentilesApprox(Tables.documents(s, d))),
    "llm_content_signals" -> ((s, d) =>
      llm.TextAnalysis.contentSignals(Tables.documents(s, d))),
    "llm_embedding_stats" -> ((s, d) =>
      llm.Similarity.embeddingStats(Tables.embeddings(s, d))),
    "llm_embed_normalize" -> ((s, d) =>
      llm.Similarity.l2Normalized(Tables.embeddings(s, d))),
    "llm_embed_projection" -> ((s, d) =>
      llm.Similarity.randomProjected(Tables.embeddings(s, d))),
    "llm_sequence_packing" -> ((s, d) =>
      llm.Sampling.sequencePacking(Tables.documents(s, d))),
    "llm_redact" -> ((s, d) =>
      llm.TextAnalysis.redact(Tables.documents(s, d))),
    // fixture: the corpus has no newlines, so chunk each doc into
    // 8-token lines first (the oracle applies the same rewrite); the
    // planted duplicate docs make their chunk lines corpus-repeated
    "llm_line_dedup" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val tk = split(col("text"), " ")
      val chunked = Tables.documents(s, d).select(col("doc_id"),
        array_join(
          transform(
            sequence(lit(0), ceil(size(tk) / lit(8.0)).cast("int") - 1),
            i => array_join(slice(tk, i * lit(8) + 1, lit(8)), " ")),
          "\n").as("text"))
      llm.TextAnalysis.lineDedup(chunked)
    }),
    "llm_span_dedup" -> ((s, d) =>
      llm.TextAnalysis.spanDedup(Tables.documents(s, d))),
    "llm_quality_gate" -> ((s, d) =>
      llm.TextAnalysis.qualityGate(Tables.documents(s, d))),
    // the full verdict: gate rules + DSIR target-likeness + LM ppl
    "llm_selection_verdict" -> ((s, d) =>
      llm.TextAnalysis.selectionVerdict(Tables.documents(s, d))),
    "llm_chunk_split" -> ((s, d) =>
      llm.TextAnalysis.chunkSplit(Tables.documents(s, d))),
    "llm_tfidf_terms" -> ((s, d) =>
      llm.TextAnalysis.tfidfTopTerms(Tables.documents(s, d))),
    // JDK-zlib codec boundary — DuckDB has no deflate, so the oracle
    // joins a COMMITTED fixture of the zlib outputs (deflate_bytes +
    // ratio, computed once at sf0.01 — the correctness gate's SF) and
    // recomputes raw_bytes independently from documents.text; the
    // invariants spec in LlmOpsSpec still covers other SFs
    "llm_compression_ratio" -> ((s, d) =>
      llm.TextAnalysis.compressionRatio(Tables.documents(s, d))),
    // the capstone composition: gate -> exact-dedup canonical -> pack
    "llm_corpus_build" -> ((s, d) =>
      llm.TextAnalysis.corpusBuild(Tables.documents(s, d))),
    // the r4 composition capstone: gopher gate -> PII scrub -> per-host
    // cap -> exact dedup on scrubbed text -> per-host packing
    "llm_corpus_build_v2" -> ((s, d) =>
      llm.Scrub.curationV2(Tables.documents(s, d))),
    "llm_decontaminate" -> ((s, d) => {
      val (corpus, bench) =
        llm.DedupOps.contaminationFixture(Tables.documents(s, d))
      llm.DedupOps.contaminationReport(corpus, bench)
    }),
    // the 100 TB decontamination path: Bloom pre-screen + exact verify
    // join — bit-identical to llm_decontaminate (same oracle SQL)
    "llm_decontaminate_bloom" -> ((s, d) => {
      val (corpus, bench) =
        llm.DedupOps.contaminationFixture(Tables.documents(s, d))
      llm.DedupOps.contaminationReportBloom(corpus, bench)
    }),
    // scrub / normalize / web-provenance surface
    "llm_redact_pii" -> ((s, d) => llm.Scrub.redactPii(Tables.documents(s, d))),
    "llm_text_normalize" -> ((s, d) => llm.Scrub.normalizeText(Tables.documents(s, d))),
    "llm_gopher_rules" -> ((s, d) => llm.Scrub.gopherRules(Tables.documents(s, d))),
    "llm_blocklist_filter" -> ((s, d) => llm.Scrub.blocklistFilter(Tables.documents(s, d))),
    "llm_html_extract" -> ((s, d) => llm.Scrub.htmlExtract(Tables.documents(s, d))),
    "llm_sentence_stats" -> ((s, d) => llm.Scrub.sentenceStats(Tables.documents(s, d))),
    "llm_domain_stats" -> ((s, d) => llm.WebOps.domainStats(Tables.documents(s, d))),
    "llm_domain_cap" -> ((s, d) => llm.WebOps.domainCapSample(Tables.documents(s, d))),
    // real learned-BPE tokenizer; oracle = committed fixture computed by
    // the INDEPENDENT pure-Python twin (tools/gen_bpe_fixture.py) at
    // sf0.01 — full-sequence md5 equality per document
    "llm_bpe_tokenize" -> ((s, d) => llm.Bpe.tokenize(Tables.documents(s, d))),
    // crawl-frontier URL canonicalization + dedup
    "llm_url_dedup" -> ((s, d) => llm.WebOps.urlDedup(Tables.documents(s, d))),
    // CCNet head/middle/tail perplexity tiers per language
    "llm_ppl_buckets" -> ((s, d) => llm.TextAnalysis.pplBuckets(Tables.documents(s, d))),
    // surgical decontamination: strip leaked spans, keep the document
    "llm_decontaminate_strip" -> ((s, d) => {
      val (corpus, bench) =
        llm.DedupOps.contaminationFixture(Tables.documents(s, d))
      llm.TextAnalysis.decontaminateStrip(corpus, bench)
    }),
    // oracle-able twin variants: same machinery, md5-derived hash family
    // (or no hashing at all) that DuckDB replays bit-identically
    // containment (subset/superset) near-dup: rare-gram blocking,
    // integer inter/size contract — catches quote-inclusion pairs
    // Jaccard dilutes
    "llm_containment_dedup" -> ((s, d) =>
      llm.DedupOps.containmentPairs(Tables.documents(s, d))),
    "llm_twin_ngram_jaccard" -> ((s, d) =>
      llm.DedupOps.twinNgramJaccard(Tables.documents(s, d))),
    "llm_twin_simhash_hamming" -> ((s, d) =>
      llm.DedupOps.twinSimhashHamming(Tables.documents(s, d))),
    "llm_twin_minhash_est" -> ((s, d) =>
      llm.DedupOps.twinMinhashEst(Tables.documents(s, d))),
    // LLM-pipeline ops: similarity search
    "llm_ann_bruteforce" -> ((s, d) =>
      llm.Similarity.bruteForceTopK(Tables.embeddings(s, d), Seq(0L, 1L, 2L, 3L, 4L))),
    "llm_ann_lsh" -> ((s, d) =>
      llm.Similarity.lshTopK(Tables.embeddings(s, d), Seq(0L, 1L, 2L, 3L, 4L))),
    "llm_ann_ivf" -> ((s, d) =>
      llm.Similarity.ivfTopK(Tables.embeddings(s, d), Seq(0L, 1L, 2L, 3L, 4L))),
    // full-probe IVF ≡ brute force exactly (probing every cell makes the
    // candidate set the whole corpus), so the IVF machinery — k-means,
    // cell assignment, probe ranking, candidate join — gets a real oracle
    "llm_ann_ivf_fullprobe" -> ((s, d) =>
      llm.Similarity.ivfTopK(Tables.embeddings(s, d), Seq(0L, 1L, 2L, 3L, 4L),
        nProbe = 16)),
    // product quantization: ADC over m-code compressed vectors,
    // exact rerank of the shortlist (rows-only; recall pinned in spec)
    "llm_ann_ivfpq" -> ((s, d) =>
      llm.PqAnn.pqTopK(Tables.embeddings(s, d), Seq(0L, 1L, 2L, 3L, 4L))),
    // shortlist >= |corpus| makes the exact rerank see every vector,
    // so PQ degenerates to brute force bit-for-bit — a real oracle for
    // the codebook/encode/LUT/rerank machinery
    "llm_ann_ivfpq_rerank_all" -> ((s, d) =>
      llm.PqAnn.pqTopK(Tables.embeddings(s, d), Seq(0L, 1L, 2L, 3L, 4L),
        shortlist = 1000000)),
    // scalar int8 quantization: calibrate→quantize→dequantize→score is
    // pure deterministic arithmetic, so the FULL pipeline is SQL-oracled
    "llm_ann_sq8" -> ((s, d) =>
      llm.SqAnn.sq8TopK(Tables.embeddings(s, d), Seq(0L, 1L, 2L, 3L, 4L))),
    // IVF × SQ8 composition (probe 4/16 cells; recall spec-pinned)
    "llm_ann_ivfsq8" -> ((s, d) =>
      llm.SqAnn.ivfSq8TopK(Tables.embeddings(s, d), Seq(0L, 1L, 2L, 3L, 4L))),
    // probing every cell makes IVF×SQ8 degenerate to the full SQ8 scan
    // bit-for-bit — a real oracle for the cell/probe/candidate wiring
    "llm_ann_ivfsq8_fullprobe" -> ((s, d) =>
      llm.SqAnn.ivfSq8TopK(Tables.embeddings(s, d), Seq(0L, 1L, 2L, 3L, 4L),
        nProbe = 16)),
    // BM25 ranked retrieval (Lucene idf variant), query terms broadcast
    "llm_bm25_topk" -> ((s, d) =>
      llm.Retrieval.bm25TopK(Tables.documents(s, d))),
    // hybrid retrieval: lexical BM25 ⊕ dense cosine fused by
    // reciprocal rank (integer micros — order-free fused sum)
    "llm_hybrid_rrf" -> ((s, d) =>
      llm.Retrieval.hybridRrfTopK(
        Tables.documents(s, d), Tables.embeddings(s, d))),
    // ranking-quality metrics: graded-relevance nDCG@5 + first-full-
    // hit reciprocal rank over the BM25 ranking, integer discounts
    "llm_retrieval_ndcg" -> ((s, d) =>
      llm.Retrieval.bm25RankingMetrics(Tables.documents(s, d))),
    // PMI collocations: integer-count pmi over doc-level co-occurrence
    "llm_pmi_cooccurrence" -> ((s, d) =>
      llm.Retrieval.pmiCooccurrence(Tables.documents(s, d))),
    // add-one-smoothed bigram LM: P(w2|w1) from one (w1,w2) aggregate
    "llm_bigram_lm" -> ((s, d) =>
      llm.Retrieval.bigramLm(Tables.documents(s, d))),
    // Misra–Gries sketch discovers, exact pass verifies — the output
    // IS "HAVING count > n/k", so the plain aggregate oracles it
    "llm_heavy_hitters" -> ((s, d) =>
      llm.HeavyHitters.frequentTokens(Tables.documents(s, d))),
    // Count-Min sketch audited against exact counts (md5 hash family
    // the oracle replays cell-by-cell; over_err >= 0 invariant)
    "llm_cms_audit" -> ((s, d) =>
      llm.Sketches.cmsEstimate(Tables.documents(s, d))),
    // KMV distinct-count sketch per language + merged (all) rollup
    // built from the SKETCHES (mergeability law), next to exact counts
    "llm_kmv_distinct" -> ((s, d) =>
      llm.Sketches.kmvDistinct(Tables.documents(s, d))),
    // fuzzy vocabulary self-join: lossless bigram blocking + exact
    // levenshtein verify over distinct part names
    "llm_fuzzy_join" -> ((s, d) =>
      llm.FuzzyJoin.partNameNearMatch(Tables.part(s, d))),
    // prefix-weighted near-match on the native codegen'd Jaro-Winkler
    // expression, attribute-blocked on brand; micro-integer contract
    // pinned bit-exact to DuckDB's rapidfuzz
    "llm_jaro_winkler" -> ((s, d) =>
      llm.FuzzyJoin.partNameJaroWinkler(Tables.part(s, d))),
    // sorted-neighborhood near-dup blocking: bucket-partitioned
    // sliding window over the normalized sort key, JW verify
    "llm_dedup_snm" -> ((s, d) =>
      llm.DedupOps.snmNearDups(Tables.documents(s, d))),
    // entity-resolution capstone: fuzzy pairs → min-label clusters →
    // lexicographic-min canonical + cluster size
    "llm_entity_resolution" -> ((s, d) =>
      llm.FuzzyJoin.partEntityResolution(Tables.part(s, d))),
    // each twin's single nearest neighbor is its source by construction
    "llm_ann_lsh_twin_top1" -> ((s, d) =>
      llm.Similarity.lshTwinTop1(Tables.embeddings(s, d))),
    // multi-probe LSH on the same twin corpus — recall can only rise
    // vs single-probe, so the exact twin answer oracles this path too
    "llm_ann_lsh_multiprobe" -> ((s, d) =>
      llm.Similarity.lshMultiProbeTwinTop1(Tables.embeddings(s, d))),
    "llm_ann_neardup_cosine" -> ((s, d) =>
      llm.Similarity.cosineNearDupPairs(Tables.embeddings(s, d))),
    // SemDeDup: kmeans cells → same-cell cosine pairs → components →
    // canonical (general form rows-only; LlmOpsSpec pins it equal to
    // the exact twin below on the planted-twin corpus)
    "llm_semdedup" -> ((s, d) =>
      llm.Similarity.semanticDedup(
        llm.Similarity.withVectorTwins(Tables.embeddings(s, d)))),
    "llm_semdedup_twin" -> ((s, d) =>
      llm.Similarity.semanticDedupTwin(Tables.embeddings(s, d))),
    // LLM-pipeline ops: text analysis + multimodal plumbing
    "llm_text_quality" -> ((s, d) => llm.TextAnalysis.quality(Tables.documents(s, d))),
    "llm_repetition" -> ((s, d) => llm.TextAnalysis.repetition(Tables.documents(s, d))),
    "llm_lang_id" -> ((s, d) => llm.TextAnalysis.langId(Tables.documents(s, d))),
    "llm_token_count" -> ((s, d) => llm.TextAnalysis.tokenCounts(Tables.documents(s, d))),
    "llm_fingerprint" -> ((s, d) => llm.TextAnalysis.fingerprint(Tables.documents(s, d))),
    "llm_winnow_fingerprint" -> ((s, d) =>
      llm.TextAnalysis.winnowFingerprints(Tables.documents(s, d))),
    "llm_stratified_sample" -> ((s, d) =>
      llm.Sampling.stratifiedSample(Tables.documents(s, d))),
    // weighted sampling w/o replacement: top-k of w/u priorities — no
    // transcendental, so the ranking replays bit-identically
    "llm_priority_sample" -> ((s, d) =>
      llm.Sampling.prioritySample(Tables.documents(s, d))),
    "llm_budget_select" -> ((s, d) =>
      llm.Sampling.budgetSelect(Tables.documents(s, d))),
    "llm_mixture_rebalance" -> ((s, d) =>
      llm.Sampling.mixtureRebalance(Tables.documents(s, d))),
    // τ-reweighted mixture: targets derived from corpus counts
    "llm_temperature_mix" -> ((s, d) =>
      llm.Sampling.temperatureMix(Tables.documents(s, d))),
    // dedup-aware split over the oracled multi-hop CC fixture: a whole
    // near-dup component always lands in one split
    "llm_split_assign" -> ((s, d) =>
      llm.Sampling.splitAssign(Tables.documents(s, d),
        llm.Components.chainFixture(Tables.documents(s, d)))),
    "llm_training_order" -> ((s, d) =>
      llm.Sampling.trainingOrder(Tables.documents(s, d))),
    "llm_dsir_score" -> ((s, d) =>
      llm.TextAnalysis.importanceScores(Tables.documents(s, d))),
    "llm_classifier_score" -> ((s, d) =>
      llm.TextAnalysis.classifierScore(Tables.documents(s, d))),
    "llm_lm_perplexity" -> ((s, d) =>
      llm.TextAnalysis.lmPerplexity(Tables.documents(s, d))),
    "llm_corpus_stats" -> ((s, d) =>
      llm.Sampling.corpusStats(Tables.documents(s, d))),
    "llm_multimodal_format_stats" -> ((s, d) =>
      llm.Multimodal.formatStats(Tables.documents(s, d)))
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  /** The NB scoring CTE chain (toks → … → sc: per-(doc, class) micro
    * score sums) shared verbatim by `ml_nb_predict` and the two
    * evaluation oracles built on its output. */
  private val nbScoreCte: String =
    """WITH toks AS (
      |  SELECT doc_id, lang, unnest(list_filter(
      |           string_split_regex(lower(text), '\s+'),
      |           t -> t <> '')) AS w
      |  FROM documents),
      |v AS (SELECT count(DISTINCT w) AS v FROM toks),
      |tokc AS (SELECT lang, count(*) AS tok_c FROM toks GROUP BY 1),
      |info AS (
      |  SELECT cls.lang,
      |         CAST(round(ln(CAST(docs_c AS DOUBLE) / docs_n) * 1e6)
      |              AS BIGINT) AS prior_micro,
      |         CAST(round(ln(CAST(1.0 AS DOUBLE) / (tok_c + v)) * 1e6)
      |              AS BIGINT) AS default_micro
      |  FROM (SELECT lang, count(*) AS docs_c FROM documents
      |        GROUP BY 1) cls
      |  CROSS JOIN (SELECT count(*) AS docs_n FROM documents) n
      |  JOIN tokc USING (lang) CROSS JOIN v),
      |model AS (
      |  SELECT c.lang, c.w,
      |         CAST(round(ln(CAST(ct + 1 AS DOUBLE) / (tok_c + v)) * 1e6)
      |              AS BIGINT) AS logp_micro
      |  FROM (SELECT lang, w, count(*) AS ct FROM toks GROUP BY 1, 2) c
      |  JOIN tokc USING (lang) CROSS JOIN v),
      |sc AS (
      |  SELECT t.doc_id, i.lang,
      |         i.prior_micro +
      |           CAST(sum(coalesce(m.logp_micro, i.default_micro))
      |                AS BIGINT) AS score_micro
      |  FROM (SELECT doc_id, w FROM toks) t
      |  CROSS JOIN info i
      |  LEFT JOIN model m ON m.lang = i.lang AND m.w = t.w
      |  GROUP BY t.doc_id, i.lang, i.prior_micro)""".stripMargin

  /** The BM25 CTE chain (q → toks → … → ranked) shared by
    * `llm_bm25_topk` and the nDCG metrics oracle built on it. */
  private val bm25RankedCte: String =
    """WITH q(query_id, qw) AS (
      |  VALUES (0,'spark'),(0,'fast'),(0,'hash'),
      |         (1,'window'),(1,'sort'),(1,'table'),
      |         (2,'slow'),(2,'batch'),(2,'merge')),
      |toks AS (SELECT doc_id, unnest(list_filter(
      |           string_split_regex(lower(text), '\s+'),
      |           w -> w <> '')) AS w
      |         FROM documents),
      |lens AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY 1),
      |stats AS (SELECT count(*) AS n_docs, sum(len) AS sum_len FROM lens),
      |tf AS (SELECT doc_id, w, count(*) AS tf FROM toks
      |       WHERE w IN (SELECT qw FROM q) GROUP BY 1, 2),
      |df AS (SELECT w, count(DISTINCT doc_id) AS df FROM toks
      |       WHERE w IN (SELECT qw FROM q) GROUP BY 1),
      |contrib AS (
      |  SELECT q.query_id, tf.doc_id,
      |         round(round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)), 6) *
      |               (tf * 2.2) /
      |               (tf + 1.2 * (0.25 + 0.75 *
      |                 (CAST(len AS DOUBLE) /
      |                  (CAST(sum_len AS DOUBLE) / CAST(n_docs AS DOUBLE))))),
      |               6) AS c
      |  FROM tf JOIN df USING (w) JOIN lens USING (doc_id)
      |       CROSS JOIN stats JOIN q ON q.qw = tf.w),
      |agg AS (SELECT query_id, doc_id, round(sum(c), 4) AS score
      |        FROM contrib GROUP BY 1, 2),
      |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |                     ORDER BY score DESC, doc_id) AS rank FROM agg)""".stripMargin

  /** Shared by `llm_decontaminate` and its Bloom-prescreened twin —
    * the two plans produce bit-identical results by construction. */
  private val decontaminateSql: String =
    """WITH tok AS (
      |  SELECT doc_id, text,
      |         list_filter(string_split_regex(lower(text), '\s+'),
      |                     w -> w <> '') AS t
      |  FROM documents),
      |bench AS (
      |  SELECT doc_id / 97 AS b_idx,
      |         array_to_string(t[1:12], ' ') AS snippet, t AS bt
      |  FROM tok WHERE doc_id % 97 = 0),
      |corpus AS (
      |  SELECT d.doc_id,
      |         list_filter(string_split_regex(lower(
      |           CASE WHEN d.doc_id % 31 = 5 AND b.snippet IS NOT NULL
      |                THEN d.text || ' ' || b.snippet
      |                ELSE d.text END), '\s+'), w -> w <> '') AS t
      |  FROM tok d LEFT JOIN bench b ON d.doc_id % 5 = b.b_idx
      |  WHERE d.doc_id % 97 <> 0),
      |cg AS (
      |  SELECT doc_id, unnest(CASE WHEN len(t) >= 8 THEN
      |    list_transform(generate_series(1, len(t) - 7),
      |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
      |           || ' ' || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6]
      |           || ' ' || t[i+7]) ELSE [] END) AS gram
      |  FROM corpus),
      |bg AS (
      |  SELECT DISTINCT unnest(CASE WHEN len(bt) >= 8 THEN
      |    list_transform(generate_series(1, len(bt) - 7),
      |      i -> bt[i] || ' ' || bt[i+1] || ' ' || bt[i+2] || ' ' || bt[i+3]
      |           || ' ' || bt[i+4] || ' ' || bt[i+5] || ' ' || bt[i+6]
      |           || ' ' || bt[i+7]) ELSE [] END) AS gram
      |  FROM bench)
      |SELECT doc_id, count(DISTINCT gram) AS leaked_gram_ct
      |FROM cg JOIN bg USING (gram)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "j1_order_wide_table" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, o_custkey, o_orderstatus,
        |       round(l_quantity, 2) AS quantity,
        |       round(l_extendedprice, 2) AS amount,
        |       strftime(o_orderdate, '%Y-%m-%d') AS order_date
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |ORDER BY l_orderkey, l_linenumber, l_partkey, amount""".stripMargin,
    "j2_left_outer_activity" ->
      """SELECT l_orderkey, l_linenumber,
        |       coalesce(activity_brand, '') AS activity_brand,
        |       round(l_extendedprice, 2) AS amount
        |FROM lineitem LEFT JOIN
        |  (SELECT p_partkey, p_brand AS activity_brand FROM part
        |   WHERE p_retailprice > 1500) a ON l_partkey = p_partkey
        |ORDER BY l_orderkey, l_linenumber, activity_brand, amount""".stripMargin,
    "j3_dic_lookup_join" ->
      """WITH dic(dic_code, dic_name) AS (VALUES
        |  ('O','Open'),('F','Finished'),('P','Pending'),('1','Urgent'),
        |  ('2','High'),('3','Medium'),('4','NotSpecified'),('5','Low'))
        |SELECT o_orderkey, s.dic_name AS status_name,
        |       p.dic_name AS priority_name,
        |       round(o_totalprice, 2) AS o_totalprice
        |FROM orders
        |JOIN dic s ON o_orderstatus = s.dic_code
        |JOIN dic p ON split_part(o_orderpriority, '-', 1) = p.dic_code
        |ORDER BY o_orderkey""".stripMargin,
    "j4_snowflake_dim_chain" ->
      """SELECT r_name, p_brand, count(*) AS line_ct,
        |       round(sum(l_quantity), 2) AS qty_sum,
        |       round(sum(l_extendedprice), 2) AS amount_sum
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "j5_config_routing" ->
      """WITH cfg(source_table, sink_table, sink_columns) AS (VALUES
        |  ('click','dwd_click','event_id,user_id'),
        |  ('purchase','dwd_purchase','event_id,user_id,value'),
        |  ('signup','dwd_signup','event_id'))
        |SELECT sink_table, event_id,
        |       CASE WHEN list_contains(string_split(sink_columns, ','), 'user_id')
        |            THEN user_id END AS user_id,
        |       CASE WHEN list_contains(string_split(sink_columns, ','), 'value')
        |            THEN round(value, 2) END AS value
        |FROM events JOIN cfg ON event_type = source_table
        |ORDER BY sink_table, event_id""".stripMargin,
    "j6_interval_join" ->
      """SELECT a.event_id AS signup_id, b.event_id AS purchase_id, a.user_id,
        |       strftime(a.ts, '%Y-%m-%d %H:%M:%S') AS signup_time,
        |       strftime(b.ts, '%Y-%m-%d %H:%M:%S') AS purchase_time
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id AND a.event_type = 'signup'
        |  AND b.event_type = 'purchase'
        |  AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
        |ORDER BY signup_id, purchase_id""".stripMargin,
    "j7_full_outer_join" ->
      """SELECT coalesce(p.user_id, c.user_id) AS user_id,
        |       coalesce(p.purchase_amount, 0.0) AS purchase_amount,
        |       coalesce(c.click_ct, 0) AS click_ct
        |FROM (SELECT user_id, round(sum(value), 2) AS purchase_amount
        |      FROM events WHERE event_type = 'purchase' GROUP BY 1) p
        |FULL JOIN (SELECT user_id, count(*) AS click_ct
        |           FROM events WHERE event_type = 'click' GROUP BY 1) c
        |  ON p.user_id IS NOT DISTINCT FROM c.user_id
        |ORDER BY user_id""".stripMargin,
    "u_union_three_way" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS cur_date, kind, count(*) AS ct,
        |       round(sum(value), 2) AS val_sum
        |FROM (SELECT ts, 'uv' AS kind, value FROM events WHERE event_type = 'view'
        |      UNION ALL
        |      SELECT ts, 'err', value FROM events WHERE event_type = 'error'
        |      UNION ALL
        |      SELECT ts, 'buy', value FROM events WHERE event_type = 'purchase')
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "j_semi_join" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        |       round(o_totalprice, 2) AS total
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o.o_orderkey AND l_quantity > 45)
        |ORDER BY o_orderkey""".stripMargin,
    "j_anti_join" ->
      """SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c.c_custkey
        |                    AND month(o_orderdate) = 1)
        |ORDER BY c_custkey""".stripMargin,
    // AS-OF semantics replayed as a deterministic LATERAL top-1 probe:
    // latest click at-or-before each purchase per user, ties to the
    // highest click event_id — exactly the carry-forward tie rules
    "j_asof_join" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'purchase'),
        |c AS (SELECT event_id, user_id, ts, value FROM events
        |      WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id,
        |       c2.event_id AS asof_click_id,
        |       round(c2.value, 4) AS click_value,
        |       epoch_us(p.ts) - epoch_us(c2.ts) AS gap_us
        |FROM p LEFT JOIN LATERAL (
        |  SELECT event_id, ts, value FROM c
        |  WHERE c.user_id = p.user_id AND c.ts <= p.ts
        |  ORDER BY ts DESC, event_id DESC LIMIT 1) c2 ON true
        |ORDER BY p.event_id""".stripMargin,
    // RANGE frame bounds are inclusive at both ends in both engines;
    // Spark anchors on epoch seconds, DuckDB on the timestamp — same
    // 7-day arithmetic under the pinned UTC session
    "w_trailing_range_window" ->
      """SELECT o_orderkey, o_custkey,
        |       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |       count(*) OVER w AS trailing_ct,
        |       round(sum(o_totalprice) OVER w, 2) AS trailing_sum
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
        |             RANGE BETWEEN INTERVAL 7 DAYS PRECEDING
        |                       AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin,
    // the native DISTINCT window aggregate replays the collect→dedup
    // twin; min over the frame is order-independent
    "w_trailing_distinct" ->
      """SELECT o_orderkey, o_custkey,
        |       CAST(count(DISTINCT o_orderpriority) OVER w AS INT)
        |         AS distinct_prio,
        |       min(o_orderkey) OVER w AS min_key_in_window
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
        |             RANGE BETWEEN INTERVAL 7 DAYS PRECEDING
        |                       AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin,
    // quantile_cont == Spark's exact interpolated percentile; stddev
    // and corr rounded where accumulation order can differ
    "w_stats_aggregates" ->
      """SELECT o_orderstatus, count(*) AS ct,
        |       round(quantile_cont(round(o_totalprice, 2), 0.5), 2)
        |         AS median_price,
        |       round(stddev_samp(o_totalprice), 2) AS stddev_price,
        |       round(corr(o_totalprice, o_custkey), 6) AS corr_price_cust
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // pivot cells are FILTER aggregates; empty sum → NULL, empty
    // count → 0 in both engines
    "w_status_pivot" ->
      """SELECT month(o_orderdate) AS month,
        |  count(*) FILTER (WHERE o_orderstatus = 'O') AS O_ct,
        |  round(sum(round(o_totalprice, 2))
        |        FILTER (WHERE o_orderstatus = 'O'), 2) AS O_sum,
        |  count(*) FILTER (WHERE o_orderstatus = 'F') AS F_ct,
        |  round(sum(round(o_totalprice, 2))
        |        FILTER (WHERE o_orderstatus = 'F'), 2) AS F_sum,
        |  count(*) FILTER (WHERE o_orderstatus = 'P') AS P_ct,
        |  round(sum(round(o_totalprice, 2))
        |        FILTER (WHERE o_orderstatus = 'P'), 2) AS P_sum
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "w_analytic_functions" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(row_number() OVER w1 AS INT) AS rn,
        |  CAST(rank() OVER (PARTITION BY o_custkey
        |       ORDER BY o_orderpriority, o_orderkey) AS INT) AS prio_rank,
        |  CAST(dense_rank() OVER (PARTITION BY o_custkey
        |       ORDER BY o_orderpriority) AS INT) AS prio_dense,
        |  lag(o_orderkey, 1) OVER w1 AS prev_key,
        |  lead(o_orderkey, 1) OVER w1 AS next_key,
        |  CAST(ntile(4) OVER w1 AS INT) AS quartile,
        |  round(percent_rank() OVER w1, 6) AS pct_rank,
        |  round(cume_dist() OVER w1, 6) AS cume
        |FROM orders
        |WINDOW w1 AS (PARTITION BY o_custkey
        |              ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "w_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |       month(o_orderdate) AS month,
        |       count(*) AS ct,
        |       round(sum(round(o_totalprice, 2)), 2) AS total,
        |       CAST(grouping(o_orderstatus) AS INT) AS g_status,
        |       CAST(grouping(o_orderpriority) AS INT) AS g_prio,
        |       CAST(grouping(month(o_orderdate)) AS INT) AS g_month
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |                        (o_orderstatus), (month(o_orderdate)))
        |ORDER BY 1, 2, 3""".stripMargin,
    // melt replayed as UNION ALL — unambiguous in both dialects
    "w_lineitem_unpivot" ->
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
        |       round(l_quantity, 2) AS value FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_extendedprice',
        |       round(l_extendedprice, 2) FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_discount',
        |       round(l_discount, 2) FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_tax',
        |       round(l_tax, 2) FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin,
    // the grid is inclusive of both truncated endpoints in both
    // engines; the fill replays the as-of LATERAL probe per boundary
    "w_resample_ffill" ->
      """WITH b AS (SELECT user_id, date_trunc('hour', min(ts)) AS mn,
        |                  date_trunc('hour', max(ts)) AS mx
        |           FROM events GROUP BY 1),
        |grid AS (SELECT user_id,
        |                unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
        |         FROM b)
        |SELECT g.user_id, strftime(g.h, '%Y-%m-%d %H:%M:%S') AS hour_ts,
        |       e2.event_id AS src_event_id, round(e2.value, 4) AS ffill_value
        |FROM grid g LEFT JOIN LATERAL (
        |  SELECT event_id, value FROM events e
        |  WHERE e.user_id = g.user_id AND e.ts <= g.h
        |  ORDER BY ts DESC, event_id DESC LIMIT 1) e2 ON true
        |ORDER BY g.user_id, hour_ts""".stripMargin,
    // bloom pruning is a pre-shuffle superset filter; the exact join
    // makes the result identical to the unpruned join
    "j_bloom_pruned_join" ->
      """SELECT l_orderkey, l_partkey, o_custkey,
        |       round(l_quantity, 2) AS qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE month(o_orderdate) = 1""".stripMargin,
    // deadline funnel: the 60-minute window rides t1 through the
    // chain; interval arithmetic is timestamp-exact in both engines
    "b_funnel_windowed" ->
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t1,
        |         min(ts) + INTERVAL 60 MINUTE AS deadline
        |  FROM events WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2,
        |              min(s1.deadline) AS deadline
        |       FROM events e JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'click'
        |         AND e.ts > s1.t1 AND e.ts <= s1.deadline
        |       GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |       JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'purchase'
        |         AND e.ts > s2.t2 AND e.ts <= s2.deadline
        |       GROUP BY 1),
        |c AS (SELECT (SELECT count(*) FROM s1) AS u1,
        |             (SELECT count(*) FROM s2) AS u2,
        |             (SELECT count(*) FROM s3) AS u3)
        |SELECT 1 AS step, 'view' AS step_type, u1 AS users,
        |       CAST(1.0 AS DOUBLE) AS conv_rate FROM c
        |UNION ALL
        |SELECT 2, 'click', u2,
        |       round(CAST(u2 AS DOUBLE) / CAST(u1 AS DOUBLE), 4) FROM c
        |UNION ALL
        |SELECT 3, 'purchase', u3,
        |       round(CAST(u3 AS DOUBLE) / CAST(u2 AS DOUBLE), 4) FROM c
        |ORDER BY step""".stripMargin,
    // Benford: digit extraction is IEEE double arithmetic on both
    // sides; expectation log10(1+1/d) rounded to micros
    "q_benford_totalprice" ->
      """WITH d AS (
        |  SELECT CAST(floor(o_totalprice /
        |           pow(10.0, floor(log10(o_totalprice)))) AS INT)
        |           AS digit
        |  FROM orders WHERE o_totalprice >= 1.0),
        |c AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
        |t AS (SELECT sum(n) AS total FROM c)
        |SELECT digit, n,
        |       CAST(floor(1000000 * n / total) AS BIGINT)
        |         AS share_micro,
        |       CAST(round(log10(1.0 + 1.0 / digit) * 1e6) AS BIGINT)
        |         AS benford_micro,
        |       abs(CAST(floor(1000000 * n / total) AS BIGINT) -
        |           CAST(round(log10(1.0 + 1.0 / digit) * 1e6)
        |                AS BIGINT)) AS dev_micro
        |FROM c CROSS JOIN t ORDER BY digit""".stripMargin,
    // native recursive CTE: the ORACLE IS THE SPARK TEXT — both
    // engines execute the identical WITH RECURSIVE statement
    "cte_month_spine_gapfill" ->
      graft.plans.RecursiveCte.monthSpineGapfillSql,
    // funnel steps chain strictly-after minima; counts integer-exact
    "b_funnel_conversion" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |            WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |       JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |       JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1),
        |c AS (SELECT (SELECT count(*) FROM s1) AS u1,
        |             (SELECT count(*) FROM s2) AS u2,
        |             (SELECT count(*) FROM s3) AS u3)
        |SELECT 1 AS step, 'view' AS step_type, u1 AS users,
        |       CAST(1.0 AS DOUBLE) AS conv_rate FROM c
        |UNION ALL
        |SELECT 2, 'click', u2,
        |       round(CAST(u2 AS DOUBLE) / CAST(u1 AS DOUBLE), 4) FROM c
        |UNION ALL
        |SELECT 3, 'purchase', u3,
        |       round(CAST(u3 AS DOUBLE) / CAST(u2 AS DOUBLE), 4) FROM c
        |ORDER BY step""".stripMargin,
    "b_retention_cohorts" ->
      """WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |             FROM events),
        |coh AS (SELECT user_id, min(day) AS cohort_day FROM act GROUP BY 1)
        |SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_date,
        |       CAST(datediff('day', cohort_day, day) AS INT) AS day_offset,
        |       count(DISTINCT a.user_id) AS active_users
        |FROM act a JOIN coh USING (user_id)
        |GROUP BY cohort_day, datediff('day', cohort_day, day)
        |ORDER BY 1, 2""".stripMargin,
    "dim_scd2_build" ->
      """SELECT o_custkey, o_orderkey, o_orderstatus, o_orderpriority,
        |       strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
        |       strftime(lead(o_orderdate) OVER w, '%Y-%m-%d') AS valid_to,
        |       CASE WHEN lead(o_orderdate) OVER w IS NULL THEN 1 ELSE 0 END
        |         AS is_current
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    // temporal semantics collapse to "latest version at-or-before ts"
    // under gapless chaining — the LATERAL probe replays that directly
    "dim_scd2_lookup" ->
      """SELECT e.event_id, e.user_id, v.o_orderkey AS version_key,
        |       v.o_orderstatus AS status_at_ts
        |FROM events e LEFT JOIN LATERAL (
        |  SELECT o_orderkey, o_orderstatus FROM orders o
        |  WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
        |  ORDER BY o.o_orderdate DESC, o.o_orderkey DESC LIMIT 1) v ON true
        |ORDER BY e.event_id""".stripMargin,
    // identical oracle to dim_scd2_lookup ON PURPOSE: the incremental
    // TxLog merge must land on exactly the batch-built history
    "dim_scd2_lookup_incremental" ->
      """SELECT e.event_id, e.user_id, v.o_orderkey AS version_key,
        |       v.o_orderstatus AS status_at_ts
        |FROM events e LEFT JOIN LATERAL (
        |  SELECT o_orderkey, o_orderstatus FROM orders o
        |  WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
        |  ORDER BY o.o_orderdate DESC, o.o_orderkey DESC LIMIT 1) v ON true
        |ORDER BY e.event_id""".stripMargin,
    "set_intersect" ->
      """SELECT o_custkey FROM orders WHERE month(o_orderdate) = 1
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE month(o_orderdate) = 2
        |ORDER BY o_custkey""".stripMargin,
    "set_except" ->
      """SELECT o_custkey FROM orders WHERE month(o_orderdate) = 1
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE month(o_orderdate) = 2
        |ORDER BY o_custkey""".stripMargin,
    "w_status_priority_cube" ->
      """SELECT CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'ALL'
        |            ELSE coalesce(o_orderstatus, 'NULL') END AS status,
        |       CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'ALL'
        |            ELSE coalesce(o_orderpriority, 'NULL') END AS priority,
        |       CAST(count(*) AS BIGINT) AS order_ct,
        |       round(sum(o_totalprice), 2) AS total_sum
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,
    "q_topk_orders" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total
        |FROM orders
        |ORDER BY total DESC, o_orderkey LIMIT 100""".stripMargin,
    // the aggregator's bounded buffer must equal the window form
    // exactly: rank on RAW price (value desc, id asc), round at output
    "q_topk_per_group" ->
      """SELECT o_custkey, o_orderkey, CAST(rank AS INT) AS rank,
        |       round(o_totalprice, 2) AS total
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |        ORDER BY o_totalprice DESC, o_orderkey) AS rank
        |      FROM orders)
        |WHERE rank <= 3 ORDER BY o_custkey, rank""".stripMargin,
    "q_skew_salted_join" ->
      """WITH li AS (
        |  SELECT CASE WHEN l_orderkey % 10 < 5 THEN 0 ELSE l_orderkey END AS k,
        |         l_quantity
        |  FROM lineitem),
        |rt AS (
        |  SELECT DISTINCT CASE WHEN o_orderkey % 10 < 5 THEN 0
        |                       ELSE o_orderkey END AS k
        |  FROM orders)
        |SELECT li.k, count(*) AS line_ct, round(sum(l_quantity), 2) AS qty_sum
        |FROM li JOIN rt ON li.k = rt.k
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "a2_user_spu_order_window" ->
      """SELECT strftime(date_trunc('day', o_orderdate), '%Y-%m-%d %H:%M:%S') AS stt,
        |       strftime(date_trunc('day', o_orderdate) + INTERVAL 1 DAY, '%Y-%m-%d %H:%M:%S') AS edt,
        |       o_custkey AS user_id, p_brand,
        |       round(sum(l_extendedprice), 2) AS order_amount,
        |       count(DISTINCT l_orderkey) AS order_ct
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN part ON l_partkey = p_partkey
        |GROUP BY 1, 2, 3, 4 ORDER BY 1, 3, 4""".stripMargin,
    "a4_refund_window" ->
      """SELECT strftime(date_trunc('day', l_shipdate), '%Y-%m-%d %H:%M:%S') AS stt,
        |       strftime(date_trunc('day', l_shipdate) + INTERVAL 1 DAY, '%Y-%m-%d %H:%M:%S') AS edt,
        |       p_brand, p_type,
        |       count(DISTINCT l_orderkey) AS refund_order_ct,
        |       count(*) AS refund_line_ct
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_returnflag = 'R'
        |GROUP BY 1, 2, 3, 4 ORDER BY 1, 3, 4""".stripMargin,
    "p1_json_quarantine" ->
      """SELECT event_type,
        |       CAST(sum(CASE WHEN NOT json_valid(payload) THEN 1 ELSE 0 END) AS BIGINT) AS dirty_ct,
        |       CAST(sum(CASE WHEN json_valid(payload) THEN 1 ELSE 0 END) AS BIGINT) AS clean_ct,
        |       CAST(sum(CASE WHEN json_valid(payload)
        |                THEN CAST(json_extract_string(payload, '$.k') AS BIGINT)
        |                ELSE 0 END) AS BIGINT) AS k_sum
        |FROM (SELECT event_type,
        |             CASE WHEN event_id % 10 = 0 THEN substring(props, 1, 3)
        |                  ELSE props END AS payload
        |      FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "p2_optype_filter" ->
      """SELECT event_id, user_id, event_type, round(value, 2) AS value
        |FROM events WHERE event_type IN ('purchase', 'signup', 'click')
        |ORDER BY event_id""".stripMargin,
    "p3_cdc_extract" ->
      """SELECT * FROM (
        |  SELECT event_id, event_type AS table_name,
        |         CAST(json_extract_string(props, '$.k') AS INT) AS k,
        |         strftime(ts, '%Y-%m-%d %H:%M:%S') AS event_time
        |  FROM events)
        |WHERE k IS NOT NULL AND k > 50 ORDER BY event_id""".stripMargin,
    "p4_state_transition" ->
      """SELECT o_orderkey AS order_id, 'O' AS prev_status,
        |       o_orderstatus AS cur_status
        |FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY order_id""".stripMargin,
    "p5_conditional_delta" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS cur_date,
        |       round(sum(CASE WHEN event_type = 'purchase' THEN value
        |                      WHEN event_type = 'error' THEN -value
        |                      ELSE 0 END), 2) AS net_value,
        |       count(*) AS event_ct
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "p7_compound_filter" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice,
        |       o_orderpriority
        |FROM orders
        |WHERE o_orderstatus = 'O' AND o_totalprice > 100000
        |  AND o_orderpriority IN ('1-URGENT', '2-HIGH')
        |ORDER BY o_orderkey""".stripMargin,
    "p8_search_keyword_filter" ->
      """SELECT event_id, user_id,
        |       CAST(json_extract_string(props, '$.k') AS INT) AS k
        |FROM events
        |WHERE event_type = 'click' AND user_id IS NOT NULL
        |  AND json_extract_string(props, '$.k') IS NOT NULL
        |ORDER BY event_id""".stripMargin,
    "p9_page_whitelist_filter" ->
      """SELECT event_id, user_id, event_type, round(value, 2) AS value
        |FROM events WHERE event_type IN ('view', 'click')
        |ORDER BY event_id""".stripMargin,
    "p10_login_filter" ->
      """SELECT event_id, user_id, event_type
        |FROM events
        |WHERE user_id IS NOT NULL
        |  AND (json_extract_string(props, '$.k') IS NULL
        |       OR event_type = 'signup')
        |ORDER BY event_id""".stripMargin,
    "p11_pay_success_filter" ->
      """SELECT event_id, user_id, round(value, 2) AS value
        |FROM events
        |WHERE event_type = 'purchase'
        |  AND CAST(json_extract_string(props, '$.k') AS INT) % 16 = 2
        |ORDER BY event_id""".stripMargin,
    "p12_favor_add_filter" ->
      """SELECT event_id, user_id, event_type, round(value, 2) AS value
        |FROM events
        |WHERE event_type = 'click' OR (event_type = 'error' AND value < 50)
        |ORDER BY event_id""".stripMargin,
    "f_scalar_functions" ->
      """SELECT event_id,
        |       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
        |       strftime(ts, '%Y-%m-%d') AS dt,
        |       CAST(hour(ts) AS INT) AS hr,
        |       CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
        |       concat_ws('-', event_type, user_id) AS joined,
        |       upper(event_type) AS upper_type,
        |       CAST(length(event_type) AS INT) AS type_len,
        |       split_part(event_type, 'i', 1) AS first_part,
        |       CASE WHEN value > 100 THEN 'high' ELSE 'low' END AS band,
        |       coalesce(json_extract_string(props, '$.missing'), 'none') AS missing_prop
        |FROM events WHERE event_id < 100 ORDER BY event_id""".stripMargin,
    // Spark-side VARIANT path extraction replayed as DuckDB JSON
    // string extraction + CAST — integer payloads, bit-exact
    "f_variant_props_agg" ->
      """SELECT event_type, count(*) AS ct,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |            AS BIGINT) AS k_sum,
        |       min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_min,
        |       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // zip_with has no DuckDB twin: the reversed dot product is
    // replayed by index (a[i]·a[n-i+1]) — same integer arithmetic
    "f_array_functions" ->
      """WITH e AS (SELECT event_id,
        |                  generate_series(1, event_id % 7 + 2) AS a
        |           FROM events WHERE event_id < 200)
        |SELECT event_id,
        |       CAST(len(a) AS INT) AS n,
        |       CAST(list_aggregate(list_transform(a, x -> x * x), 'sum')
        |            AS BIGINT) AS sum_sq,
        |       CAST(len(list_filter(a, x -> x % 2 = 0)) AS INT) AS even_ct,
        |       CAST(list_aggregate(list_transform(
        |              generate_series(1, len(a)),
        |              i -> a[i] * a[len(a) - i + 1]), 'sum') AS BIGINT)
        |         AS dot_rev,
        |       list_contains(a, 5) AS has_five,
        |       array_to_string((list_sort(a, 'DESC'))[1:3], ',') AS top3,
        |       list_aggregate(list_transform(a, x -> 'e' || x),
        |                      'string_agg', ',') AS tagged
        |FROM e ORDER BY event_id""".stripMargin,
    "f_null_semantics" ->
      """SELECT o_orderkey,
        |       nullif(o_orderstatus, 'O') AS nulled,
        |       o_orderstatus IS DISTINCT FROM 'O' AS distinct_from,
        |       coalesce(nullif(o_orderstatus, 'O'), 'fallback') AS coal,
        |       CAST(nullif(o_orderkey % 2, 0) AS BIGINT) + 10 AS null_arith,
        |       CASE WHEN nullif(o_orderstatus, 'O') = 'F' THEN 1 ELSE 0 END
        |         AS null_cmp_case
        |FROM orders WHERE o_orderkey < 500
        |ORDER BY o_orderkey""".stripMargin,
    "a1_keyed_tumbling_window" ->
      """SELECT strftime(to_timestamp(floor(epoch(ts)/10)*10), '%Y-%m-%d %H:%M:%S') AS stt,
        |       strftime(to_timestamp(floor(epoch(ts)/10)*10) + INTERVAL 10 SECOND, '%Y-%m-%d %H:%M:%S') AS edt,
        |       event_type, count(*) AS pv_ct, round(sum(value), 2) AS val_sum
        |FROM events GROUP BY 1, 2, 3 ORDER BY 1, 3""".stripMargin,
    "a3_province_order_window" -> ProvinceOrderWindow.oracle,
    "a5_global_tumbling_window" ->
      """SELECT strftime(to_timestamp(floor(epoch(ts)/3600)*3600), '%Y-%m-%d %H:%M:%S') AS stt,
        |       strftime(to_timestamp(floor(epoch(ts)/3600)*3600) + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S') AS edt,
        |       count(*) AS ev_ct, round(sum(value), 2) AS val_sum,
        |       count(DISTINCT user_id) AS uu_ct
        |FROM events GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    "a10_daily_unique_visitors" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS cur_date,
        |       count(DISTINCT user_id) AS uv_ct, count(*) AS pv_ct
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "a7_first_wins_dedup" ->
      """SELECT l_orderkey, l_linenumber, l_partkey,
        |       round(l_extendedprice, 2) AS amount
        |FROM (SELECT *, row_number() OVER (PARTITION BY l_orderkey
        |                 ORDER BY l_linenumber, l_partkey, l_suppkey,
        |                          l_extendedprice) AS rn
        |      FROM lineitem)
        |WHERE rn = 1 ORDER BY l_orderkey""".stripMargin,
    "a8_last_wins_dedup" ->
      """SELECT user_id, event_type, event_id, round(value, 2) AS value,
        |       strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_time
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |                                   ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
    "a9_first_per_day_flags" ->
      """SELECT cur_date, count(*) AS uu_ct,
        |       CAST(sum(CASE WHEN cur_date = first_date THEN 1 ELSE 0 END) AS BIGINT) AS new_uu_ct
        |FROM (SELECT user_id, cur_date,
        |             min(cur_date) OVER (PARTITION BY user_id) AS first_date
        |      FROM (SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS cur_date
        |            FROM events))
        |GROUP BY cur_date ORDER BY cur_date""".stripMargin,
    "a9_login_winback" ->
      """SELECT strftime(d, '%Y-%m-%d') AS cur_date,
        |       CAST(sum(CASE WHEN prev_d IS NOT NULL AND d - prev_d >= 8
        |                THEN 1 ELSE 0 END) AS BIGINT) AS back_uu_ct,
        |       count(*) AS active_uu_ct
        |FROM (SELECT user_id, d,
        |             lag(d, 1) OVER (PARTITION BY user_id ORDER BY d) AS prev_d
        |      FROM (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events))
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "a9_home_detail_uv" ->
      """WITH pages AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN event_type = 'view' THEN 'home'
        |              ELSE 'good_detail' END AS page_kind
        |  FROM events WHERE event_type IN ('view', 'click')),
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |           PARTITION BY user_id, page_kind, strftime(ts, '%Y-%m-%d')
        |           ORDER BY ts, event_id) AS rn
        |  FROM pages)
        |SELECT strftime(to_timestamp(floor(epoch(ts)/10)*10), '%Y-%m-%d %H:%M:%S') AS stt,
        |       strftime(to_timestamp(floor(epoch(ts)/10)*10 + 10), '%Y-%m-%d %H:%M:%S') AS edt,
        |       CAST(sum(CASE WHEN page_kind = 'home' THEN 1 ELSE 0 END) AS BIGINT) AS home_uv_ct,
        |       CAST(sum(CASE WHEN page_kind = 'good_detail' THEN 1 ELSE 0 END) AS BIGINT) AS good_detail_uv_ct
        |FROM ranked WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    "a11_is_new_correction" ->
      """SELECT cur_date,
        |       CASE WHEN cur_date = first_date THEN 1 ELSE 0 END AS is_new,
        |       count(*) AS ev_ct, count(DISTINCT user_id) AS uu_ct
        |FROM (SELECT user_id, strftime(ts, '%Y-%m-%d') AS cur_date,
        |             min(strftime(ts, '%Y-%m-%d')) OVER (PARTITION BY user_id) AS first_date
        |      FROM events)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "cep_bounce_sessions" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
        |              THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts,
        |         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                             ROWS UNBOUNDED PRECEDING) AS sess_id
        |  FROM flagged),
        |agg AS (
        |  SELECT user_id, sess_id, min(ts) AS sess_start, count(*) AS ev_ct
        |  FROM sess GROUP BY 1, 2)
        |SELECT strftime(sess_start, '%Y-%m-%d') AS cur_date,
        |       count(*) AS session_ct,
        |       CAST(sum(CASE WHEN ev_ct = 1 THEN 1 ELSE 0 END) AS BIGINT) AS bounce_ct,
        |       CAST(sum(ev_ct) AS BIGINT) AS event_ct
        |FROM agg GROUP BY 1 ORDER BY 1""".stripMargin,
    "tws_running_spend" ->
      """SELECT user_id, event_id,
        |       count(*) OVER w AS n_events,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w
        |            AS BIGINT) AS total_cents
        |FROM events
        |WHERE user_id % 4 = 0
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS UNBOUNDED PRECEDING)
        |ORDER BY user_id, event_id""".stripMargin,
    "tws_map_list_state" ->
      """WITH pts AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         CAST(round(value * 100) AS BIGINT) AS cents FROM events
        |  WHERE user_id % 4 = 0)
        |SELECT user_id, event_id, event_type,
        |       CAST(sum(cents) OVER (PARTITION BY user_id, event_type
        |         ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
        |         AS BIGINT) AS type_total_cents,
        |       CAST(sum(cents) OVER (PARTITION BY user_id
        |         ORDER BY ts, event_id
        |         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |         AS BIGINT) AS last3_sum_cents
        |FROM pts
        |ORDER BY user_id, event_id""".stripMargin,
    "tws_clamped_balance" ->
      """WITH RECURSIVE e AS (
        |  SELECT user_id, event_id,
        |         CAST(round(value * 100) AS BIGINT) AS cents,
        |         CAST(row_number() OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS BIGINT) AS i
        |  FROM events WHERE user_id % 4 = 0),
        |f(user_id, i, event_id, bal, lo, hi) AS (
        |  SELECT user_id, CAST(0 AS BIGINT), CAST(-1 AS BIGINT),
        |         CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        |  FROM (SELECT DISTINCT user_id FROM e) u
        |  UNION ALL
        |  SELECT f.user_id, f.i + 1, e.event_id,
        |         greatest(CAST(0 AS BIGINT),
        |           least(CAST(100000 AS BIGINT), f.bal + e.cents - 5000)),
        |         f.lo + CASE WHEN f.bal + e.cents - 5000 < 0
        |                     THEN 1 ELSE 0 END,
        |         f.hi + CASE WHEN f.bal + e.cents - 5000 > 100000
        |                     THEN 1 ELSE 0 END
        |  FROM f JOIN e ON e.user_id = f.user_id AND e.i = f.i + 1)
        |SELECT user_id, event_id, bal AS balance_cents,
        |       lo AS floor_clamps, hi AS cap_clamps
        |FROM f WHERE i > 0
        |ORDER BY user_id, event_id""".stripMargin,
    "tws_gap_sessions" ->
      """WITH pts AS (
        |  SELECT user_id, ts, event_id,
        |         CAST(round(value * 100) AS BIGINT) AS cents FROM events
        |  WHERE user_id % 4 = 0),
        |flagged AS (
        |  SELECT user_id, ts, event_id, cents,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
        |                   >= 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM pts
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts, cents,
        |         sum(new_sess) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sess_id
        |  FROM flagged)
        |SELECT user_id,
        |       strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
        |       strftime(max(ts) + INTERVAL 30 MINUTE,
        |                '%Y-%m-%d %H:%M:%S.%f') AS session_end,
        |       CAST(count(*) AS BIGINT) AS ev_ct,
        |       CAST(sum(cents) AS BIGINT) AS cents
        |FROM sess GROUP BY user_id, sess_id
        |ORDER BY user_id, session_start""".stripMargin,
    "job_order_preprocess" ->
      """WITH dic(dic_code, dic_name) AS (VALUES
        |  ('O','Open'),('F','Finished'),('P','Pending'),('1','Urgent'),
        |  ('2','High'),('3','Medium'),('4','NotSpecified'),('5','Low'))
        |SELECT l_orderkey, l_linenumber, o_custkey,
        |       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |       dic_name AS status_name,
        |       coalesce(a.activity_brand, '') AS activity_brand,
        |       coalesce(c.coupon_type, '') AS coupon_type,
        |       round(l_extendedprice, 2) AS amount
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |LEFT JOIN (SELECT p_partkey, p_brand AS activity_brand FROM part
        |           WHERE p_retailprice > 1500) a ON l_partkey = a.p_partkey
        |LEFT JOIN (SELECT p_partkey, p_type AS coupon_type FROM part
        |           WHERE p_size > 40) c ON l_partkey = c.p_partkey
        |JOIN dic ON o_orderstatus = dic_code
        |ORDER BY l_orderkey, l_linenumber, coupon_type, amount""".stripMargin,
    "job_payment_suc_window" ->
      """SELECT cur_date, count(*) AS pay_uu_ct,
        |       CAST(sum(CASE WHEN cur_date = first_date THEN 1 ELSE 0 END) AS BIGINT) AS pay_new_ct
        |FROM (SELECT user_id, cur_date,
        |             min(cur_date) OVER (PARTITION BY user_id) AS first_date
        |      FROM (SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS cur_date
        |            FROM events WHERE event_type = 'purchase'))
        |GROUP BY cur_date ORDER BY cur_date""".stripMargin,
    "job_user_spu_order_window" ->
      """WITH detail AS (
        |  SELECT l_orderkey, l_partkey, l_suppkey, l_extendedprice
        |  FROM (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |               l_extendedprice,
        |               row_number() OVER (
        |                 PARTITION BY l_orderkey, l_linenumber
        |                 ORDER BY l_extendedprice, l_partkey, l_suppkey) AS rn
        |        FROM lineitem)
        |  WHERE rn = 1)
        |SELECT strftime(date_trunc('day', o_orderdate), '%Y-%m-%d %H:%M:%S') AS stt,
        |       strftime(date_trunc('day', o_orderdate) + INTERVAL 1 DAY, '%Y-%m-%d %H:%M:%S') AS edt,
        |       o_custkey AS user_id, p_brand,
        |       n_name AS nation_name, r_name AS region_name,
        |       round(sum(l_extendedprice), 2) AS order_amount,
        |       count(DISTINCT l_orderkey) AS order_ct
        |FROM detail
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2, 3, 4, 5, 6
        |ORDER BY 1, 3, 4, 5""".stripMargin,
    "job_base_log_split" ->
      """WITH base AS (
        |  SELECT event_id % 97 = 0 AS dirty,
        |         event_id % 7 = 0 AS has_start,
        |         event_id % 11 = 0 AS has_err,
        |         event_id % 13 = 0 AS has_action,
        |         event_id % 3 AS n_disp,
        |         epoch_ms(ts) AS ts_ms
        |  FROM events)
        |SELECT * FROM (
        |  SELECT 'action' AS split,
        |         count(*) FILTER (WHERE NOT dirty AND has_action) AS ct,
        |         CAST(coalesce(sum(ts_ms) FILTER (WHERE NOT dirty AND has_action), 0) AS BIGINT) AS chk
        |  FROM base
        |  UNION ALL
        |  SELECT 'dirty', count(*) FILTER (WHERE dirty), 0 FROM base
        |  UNION ALL
        |  SELECT 'display',
        |         CAST(coalesce(sum(n_disp) FILTER (WHERE NOT dirty), 0) AS BIGINT),
        |         count(*) FILTER (WHERE NOT dirty AND n_disp = 2) FROM base
        |  UNION ALL
        |  SELECT 'err', count(*) FILTER (WHERE NOT dirty AND has_err),
        |         CAST(coalesce(sum(ts_ms) FILTER (WHERE NOT dirty AND has_err), 0) AS BIGINT) FROM base
        |  UNION ALL
        |  SELECT 'page', count(*) FILTER (WHERE NOT dirty AND NOT has_start),
        |         CAST(coalesce(sum(ts_ms) FILTER (WHERE NOT dirty AND NOT has_start), 0) AS BIGINT) FROM base
        |  UNION ALL
        |  SELECT 'start', count(*) FILTER (WHERE NOT dirty AND has_start),
        |         CAST(coalesce(sum(ts_ms) FILTER (WHERE NOT dirty AND has_start), 0) AS BIGINT) FROM base
        |) ORDER BY split""".stripMargin,
    "job_refund_pay_suc" ->
      """WITH rp AS (
        |  SELECT l_orderkey AS order_id, l_partkey AS sku_id,
        |         l_linenumber AS id, l_linestatus AS payment_type,
        |         l_shipdate AS callback_time, l_quantity,
        |         l_extendedprice AS total_amount
        |  FROM lineitem WHERE l_returnflag = 'R'),
        |ri AS (
        |  SELECT order_id, sku_id, round(sum(l_quantity), 2) AS refund_num
        |  FROM rp GROUP BY 1, 2),
        |oi AS (
        |  SELECT o_orderkey, o_custkey AS user_id,
        |         string_split(o_orderpriority, '-')[1] AS province_id,
        |         o_orderstatus
        |  FROM orders WHERE o_orderstatus = 'F'),
        |dic(dic_code, dic_name) AS (VALUES
        |  ('O','Open'),('F','Finished'),('P','Pending'),('1','Urgent'),
        |  ('2','High'),('3','Medium'),('4','NotSpecified'),('5','Low'))
        |SELECT rp.id, oi.user_id, rp.order_id, rp.sku_id, oi.province_id,
        |       rp.payment_type, pd.dic_name AS payment_type_name,
        |       sd.dic_name AS order_status_name,
        |       strftime(rp.callback_time, '%Y-%m-%d') AS date_id,
        |       ri.refund_num,
        |       round(rp.total_amount, 2) AS refund_amount
        |FROM rp
        |JOIN oi ON rp.order_id = oi.o_orderkey
        |JOIN ri ON rp.order_id = ri.order_id AND rp.sku_id = ri.sku_id
        |JOIN dic pd ON rp.payment_type = pd.dic_code
        |JOIN dic sd ON oi.o_orderstatus = sd.dic_code""".stripMargin,
    "job_traffic_union_window" ->
      """WITH enr AS (
        |  SELECT event_id, ts, user_id, event_type, value,
        |         strftime(ts, '%Y-%m-%d') AS cur_date,
        |         min(strftime(ts, '%Y-%m-%d')) OVER (PARTITION BY user_id) AS first_date,
        |         lag(ts) OVER w AS prev_ts,
        |         lead(ts) OVER w AS next_ts,
        |         row_number() OVER (PARTITION BY user_id, strftime(ts, '%Y-%m-%d')
        |                            ORDER BY ts, event_id) AS day_rn
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |enr2 AS (
        |  SELECT ts, value, day_rn,
        |         (prev_ts IS NULL OR epoch_ms(ts) - epoch_ms(prev_ts) > 1800000) AS new_sess,
        |         (prev_ts IS NULL OR epoch_ms(ts) - epoch_ms(prev_ts) > 1800000)
        |           AND (next_ts IS NULL OR epoch_ms(next_ts) - epoch_ms(ts) > 1800000) AS is_bounce,
        |         'v' || (event_id % 3)::VARCHAR AS vc,
        |         event_type AS ch,
        |         (user_id % 5)::VARCHAR AS ar,
        |         CASE WHEN cur_date = first_date THEN '1' ELSE '0' END AS is_new
        |  FROM enr),
        |u AS (
        |  SELECT vc, ch, ar, is_new, ts,
        |         1::BIGINT uv, 0::BIGINT sv, 0::BIGINT pv, 0.0 dur, 0::BIGINT uj
        |  FROM enr2 WHERE day_rn = 1
        |  UNION ALL
        |  SELECT vc, ch, ar, is_new, ts, 0, 0, 0, 0.0, 1
        |  FROM enr2 WHERE is_bounce
        |  UNION ALL
        |  SELECT vc, ch, ar, is_new, ts, 0,
        |         CASE WHEN new_sess THEN 1 ELSE 0 END, 1, value, 0
        |  FROM enr2)
        |SELECT strftime(to_timestamp(floor(epoch(ts)/10)*10), '%Y-%m-%d %H:%M:%S') AS stt,
        |       strftime(to_timestamp(floor(epoch(ts)/10)*10 + 10), '%Y-%m-%d %H:%M:%S') AS edt,
        |       vc, ch, ar, is_new,
        |       CAST(sum(uv) AS BIGINT) AS uv_ct, CAST(sum(sv) AS BIGINT) AS sv_ct,
        |       CAST(sum(pv) AS BIGINT) AS pv_ct,
        |       round(sum(dur), 2) AS dur_sum, CAST(sum(uj) AS BIGINT) AS uj_ct
        |FROM u GROUP BY 1, 2, 3, 4, 5, 6
        |ORDER BY 1, 3, 4, 5, 6""".stripMargin,
    "job_order_refund" ->
      """WITH dic(dic_code, dic_name) AS (VALUES
        |  ('O','Open'),('F','Finished'),('P','Pending'),('1','Urgent'),
        |  ('2','High'),('3','Medium'),('4','NotSpecified'),('5','Low')),
        |ri AS (
        |  SELECT l_linenumber AS id, l_suppkey AS user_id,
        |         l_orderkey AS order_id, l_partkey AS sku_id,
        |         ((l_partkey % 5) + 1)::VARCHAR AS refund_type_code,
        |         ((l_suppkey % 5) + 1)::VARCHAR AS refund_reason_type_code,
        |         'reason-' || ((l_suppkey % 5) + 1)::VARCHAR AS refund_reason_txt,
        |         round(l_quantity, 2) AS refund_num,
        |         round(l_extendedprice, 2) AS refund_amount,
        |         strftime(l_shipdate, '%Y-%m-%d %H:%M:%S') AS create_time,
        |         strftime(l_shipdate, '%Y-%m-%d') AS date_id
        |  FROM lineitem WHERE l_returnflag = 'R'),
        |oi AS (
        |  SELECT o_orderkey AS oi_id,
        |         string_split(o_orderpriority, '-')[1] AS province_id
        |  FROM orders WHERE o_orderstatus = 'F')
        |SELECT ri.id, ri.user_id, ri.order_id, ri.sku_id, oi.province_id,
        |       ri.date_id, ri.create_time,
        |       ri.refund_type_code, td.dic_name AS refund_type_name,
        |       ri.refund_reason_type_code, rd.dic_name AS refund_reason_type_name,
        |       ri.refund_reason_txt, ri.refund_num, ri.refund_amount
        |FROM ri
        |JOIN oi ON ri.order_id = oi.oi_id
        |JOIN dic td ON ri.refund_type_code = td.dic_code
        |JOIN dic rd ON ri.refund_reason_type_code = rd.dic_code
        |ORDER BY ri.order_id, ri.id""".stripMargin,
    "job_cancel_detail" ->
      """WITH dic(dic_code, dic_name) AS (VALUES
        |  ('O','Open'),('F','Finished'),('P','Pending'),('1','Urgent'),
        |  ('2','High'),('3','Medium'),('4','NotSpecified'),('5','Low')),
        |pre AS (
        |  SELECT l_orderkey, l_linenumber, o_custkey,
        |         strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |         dic_name AS status_name,
        |         coalesce(a.activity_brand, '') AS activity_brand,
        |         coalesce(c.coupon_type, '') AS coupon_type,
        |         round(l_extendedprice, 2) AS amount,
        |         o_orderstatus,
        |         strftime(o_orderdate, '%Y-%m-%d') AS cancel_date
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  LEFT JOIN (SELECT p_partkey, p_brand AS activity_brand FROM part
        |             WHERE p_retailprice > 1500) a ON l_partkey = a.p_partkey
        |  LEFT JOIN (SELECT p_partkey, p_type AS coupon_type FROM part
        |             WHERE p_size > 40) c ON l_partkey = c.p_partkey
        |  JOIN dic ON o_orderstatus = dic_code)
        |SELECT l_orderkey, l_linenumber, o_custkey, order_date, status_name,
        |       activity_brand, coupon_type, amount, cancel_date
        |FROM pre WHERE o_orderstatus = 'F'
        |ORDER BY l_orderkey, l_linenumber, coupon_type, amount""".stripMargin,
    "job_order_detail" ->
      """WITH dic(dic_code, dic_name) AS (VALUES
        |  ('O','Open'),('F','Finished'),('P','Pending'),('1','Urgent'),
        |  ('2','High'),('3','Medium'),('4','NotSpecified'),('5','Low'))
        |SELECT l_orderkey, l_linenumber, o_custkey,
        |       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |       dic_name AS status_name,
        |       coalesce(a.activity_brand, '') AS activity_brand,
        |       coalesce(c.coupon_type, '') AS coupon_type,
        |       round(l_extendedprice, 2) AS amount
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |LEFT JOIN (SELECT p_partkey, p_brand AS activity_brand FROM part
        |           WHERE p_retailprice > 1500) a ON l_partkey = a.p_partkey
        |LEFT JOIN (SELECT p_partkey, p_type AS coupon_type FROM part
        |           WHERE p_size > 40) c ON l_partkey = c.p_partkey
        |JOIN dic ON o_orderstatus = dic_code
        |WHERE o_orderstatus <> 'F'
        |ORDER BY l_orderkey, l_linenumber, coupon_type, amount""".stripMargin,
    "job_pay_detail_suc" ->
      """WITH dic(dic_code, dic_name) AS (VALUES
        |  ('O','Open'),('F','Finished'),('P','Pending'),('1','Urgent'),
        |  ('2','High'),('3','Medium'),('4','NotSpecified'),('5','Low')),
        |pay AS (
        |  SELECT event_id AS pay_id, user_id, ts AS pay_ts,
        |         round(value, 2) AS pay_amount,
        |         CAST((CAST(json_extract_string(props, '$.k') AS INT) % 5) + 1
        |              AS VARCHAR) AS payment_type
        |  FROM events
        |  WHERE event_type = 'purchase'
        |    AND CAST(json_extract_string(props, '$.k') AS INT) % 16 = 2),
        |det AS (
        |  SELECT event_id AS detail_id, user_id AS d_user, ts AS d_ts,
        |         round(value, 2) AS split_total_amount
        |  FROM events WHERE event_type = 'view')
        |SELECT detail_id, pay_id, user_id, payment_type,
        |       dic_name AS payment_type_name,
        |       strftime(pay_ts, '%Y-%m-%d %H:%M:%S') AS callback_time,
        |       pay_amount, split_total_amount
        |FROM pay
        |JOIN det ON user_id = d_user AND pay_ts >= d_ts
        |        AND pay_ts <= d_ts + INTERVAL 24 HOUR
        |JOIN dic ON payment_type = dic_code
        |ORDER BY pay_id, detail_id""".stripMargin,
    "job_cart_add" ->
      """WITH dic(dic_code, dic_name) AS (VALUES
        |  ('O','Open'),('F','Finished'),('P','Pending'),('1','Urgent'),
        |  ('2','High'),('3','Medium'),('4','NotSpecified'),('5','Low')),
        |env AS (
        |  SELECT event_id, user_id, ts,
        |         CASE WHEN event_id % 3 = 0 THEN 'insert' ELSE 'update' END AS type,
        |         CAST(json_extract_string(props, '$.k') AS INT) AS newn,
        |         CASE WHEN event_id % 3 <> 0 THEN
        |           CAST(json_extract_string(props, '$.k') AS INT)
        |             - (event_id % 7) + 3 END AS oldn,
        |         CAST((event_id % 5) + 1 AS VARCHAR) AS source_type
        |  FROM events WHERE event_type = 'click')
        |SELECT event_id, user_id, strftime(ts, '%Y-%m-%d') AS date_id,
        |       CAST(CASE WHEN oldn IS NOT NULL THEN newn - oldn
        |                 ELSE newn END AS INT) AS sku_num,
        |       source_type, dic_name AS source_type_name
        |FROM env JOIN dic ON source_type = dic_code
        |WHERE type = 'insert'
        |   OR (type = 'update' AND oldn IS NOT NULL AND newn > oldn)
        |ORDER BY event_id""".stripMargin,
    "job_comment_dic" ->
      """WITH dic(dic_code, dic_name) AS (VALUES
        |  ('O','Open'),('F','Finished'),('P','Pending'),('1','Urgent'),
        |  ('2','High'),('3','Medium'),('4','NotSpecified'),('5','Low'))
        |SELECT event_id, user_id,
        |       CAST((CAST(json_extract_string(props, '$.k') AS INT) % 5) + 1
        |            AS VARCHAR) AS appraise,
        |       dic_name AS appraise_name,
        |       strftime(ts, '%Y-%m-%d') AS date_id
        |FROM events
        |JOIN dic ON CAST((CAST(json_extract_string(props, '$.k') AS INT) % 5) + 1
        |                 AS VARCHAR) = dic_code
        |WHERE event_type = 'click' AND user_id IS NOT NULL
        |ORDER BY event_id""".stripMargin,
    "job_user_register" ->
      """SELECT user_id, event_id, strftime(ts, '%Y-%m-%d') AS date_id,
        |       strftime(ts, '%Y-%m-%d %H:%M:%S') AS create_time
        |FROM events WHERE event_type = 'signup'
        |ORDER BY event_id""".stripMargin,
    "job_coupon_phases" ->
      """WITH env AS (
        |  SELECT o_orderkey AS coupon_use_id, o_custkey AS user_id,
        |         strftime(o_orderdate, '%Y-%m-%d') AS date_id,
        |         o_orderstatus AS st
        |  FROM orders)
        |SELECT 'get' AS phase, coupon_use_id, user_id, date_id
        |FROM env WHERE st = 'O'
        |UNION ALL
        |SELECT 'order', coupon_use_id, user_id, date_id FROM env WHERE st = 'P'
        |UNION ALL
        |SELECT 'pay', coupon_use_id, user_id, date_id FROM env WHERE st = 'F'
        |ORDER BY phase, coupon_use_id""".stripMargin,
    "job_unique_visitor_detail" ->
      """WITH pages AS (
        |  SELECT user_id, ts, event_id,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |           AS prev_ts
        |  FROM events
        |  WHERE event_type IN ('view', 'click') AND user_id IS NOT NULL),
        |starts AS (
        |  SELECT user_id, ts, event_id,
        |         row_number() OVER (
        |           PARTITION BY user_id, strftime(ts, '%Y-%m-%d')
        |           ORDER BY ts, event_id) AS rn
        |  FROM pages
        |  WHERE prev_ts IS NULL
        |     OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000)
        |SELECT user_id, strftime(ts, '%Y-%m-%d') AS date_id, event_id,
        |       strftime(ts, '%Y-%m-%d %H:%M:%S') AS visit_time
        |FROM starts WHERE rn = 1
        |ORDER BY user_id, date_id""".stripMargin,
    "job_register_window" ->
      """SELECT strftime(to_timestamp(floor(epoch(ts)/10)*10),
        |                '%Y-%m-%d %H:%M:%S') AS stt,
        |       strftime(to_timestamp(floor(epoch(ts)/10)*10 + 10),
        |                '%Y-%m-%d %H:%M:%S') AS edt,
        |       count(*) AS register_ct
        |FROM events WHERE event_type = 'signup'
        |GROUP BY 1, 2 ORDER BY stt""".stripMargin,
    "job_cart_add_uu_window" ->
      """WITH firsts AS (
        |  SELECT user_id, ts,
        |         row_number() OVER (
        |           PARTITION BY user_id, strftime(ts, '%Y-%m-%d')
        |           ORDER BY ts, event_id) AS rn
        |  FROM events WHERE event_type = 'click' AND user_id IS NOT NULL)
        |SELECT strftime(to_timestamp(floor(epoch(ts)/10)*10),
        |                '%Y-%m-%d %H:%M:%S') AS stt,
        |       strftime(to_timestamp(floor(epoch(ts)/10)*10 + 10),
        |                '%Y-%m-%d %H:%M:%S') AS edt,
        |       count(*) AS cart_add_uu_ct
        |FROM firsts WHERE rn = 1
        |GROUP BY 1, 2 ORDER BY stt""".stripMargin,
    "job_order_window" ->
      """WITH detail AS (
        |  SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount, l_tax,
        |         row_number() OVER (PARTITION BY l_orderkey, l_linenumber
        |           ORDER BY l_extendedprice, l_discount, l_tax) AS rn
        |  FROM lineitem),
        |joined AS (
        |  SELECT d.*, o_custkey, strftime(o_orderdate, '%Y-%m-%d') AS cur_date
        |  FROM detail d JOIN orders ON l_orderkey = o_orderkey
        |  WHERE rn = 1),
        |flagged AS (
        |  SELECT *,
        |         row_number() OVER (PARTITION BY o_custkey, cur_date
        |           ORDER BY l_orderkey, l_linenumber) AS urn,
        |         min(cur_date) OVER (PARTITION BY o_custkey) AS first_date
        |  FROM joined)
        |SELECT cur_date,
        |       CAST(sum(CASE WHEN urn = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS order_uu_ct,
        |       CAST(sum(CASE WHEN urn = 1 AND cur_date = first_date
        |                THEN 1 ELSE 0 END) AS BIGINT) AS order_new_ct,
        |       round(sum(CAST(round(l_extendedprice * l_discount * 100)
        |                      AS BIGINT)) / 100.0, 2)
        |         AS activity_reduce_amount,
        |       round(sum(CAST(round(l_extendedprice * l_tax * 100)
        |                      AS BIGINT)) / 100.0, 2) AS coupon_reduce_amount,
        |       round(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |             / 100.0, 2) AS original_total_amount
        |FROM flagged GROUP BY cur_date ORDER BY cur_date""".stripMargin,
    "job_tm_cat_refund_window" ->
      """WITH agg AS (
        |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS cur_date,
        |         o_custkey AS user_id,
        |         p_brand AS trademark_id, p_type AS category_id,
        |         count(DISTINCT l_orderkey) AS refund_ct
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN part ON l_partkey = p_partkey
        |  WHERE l_returnflag = 'R'
        |  GROUP BY 1, 2, 3, 4)
        |SELECT cur_date, user_id, trademark_id,
        |       replace(trademark_id, 'Brand#', 'TM-') AS trademark_name,
        |       category_id,
        |       upper(split_part(category_id, ' ', 1)) AS category_name,
        |       refund_ct
        |FROM agg
        |ORDER BY cur_date, user_id, trademark_id, category_id""".stripMargin,
    "sql_hourly_type_window" ->
      """SELECT strftime(to_timestamp(floor(epoch(ts)/3600)*3600), '%Y-%m-%d %H:%M:%S') AS stt,
        |       event_type, count(*) AS ev_ct,
        |       count(DISTINCT user_id) AS uu_ct,
        |       round(sum(value), 2) AS val_sum
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "w_session_window" ->
      """WITH s AS (
        |  SELECT user_id, ts, event_id, value,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800
        |              THEN 1 ELSE 0 END AS ns
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (
        |  SELECT user_id, ts, value,
        |         sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                       ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM s)
        |SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS stt,
        |       strftime(max(ts) + INTERVAL 1800 SECOND, '%Y-%m-%d %H:%M:%S') AS edt,
        |       user_id, count(*) AS ev_ct, round(sum(value), 2) AS val_sum
        |FROM g GROUP BY user_id, sid ORDER BY user_id, stt""".stripMargin,
    "w_sliding_window" ->
      """WITH b AS (SELECT user_id,
        |                  to_timestamp(floor(epoch(ts)/1800)*1800) AS b0
        |           FROM events),
        |w AS (SELECT user_id, b0 - INTERVAL 1800 SECOND AS wstart FROM b
        |      UNION ALL SELECT user_id, b0 FROM b)
        |SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS stt,
        |       strftime(wstart + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S') AS edt,
        |       count(*) AS ev_ct, count(DISTINCT user_id) AS uu_ct
        |FROM w GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    "w_region_brand_rollup" ->
      """SELECT CASE WHEN GROUPING(r_name) = 1 THEN 'ALL'
        |            ELSE coalesce(r_name, 'NULL') END AS r_name,
        |       CASE WHEN GROUPING(p_brand) = 1 THEN 'ALL'
        |            ELSE coalesce(p_brand, 'NULL') END AS p_brand,
        |       count(*) AS line_ct,
        |       round(sum(l_extendedprice), 2) AS amount_sum
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, p_brand) ORDER BY 1, 2""".stripMargin,
    "llm_dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS canonical_doc_id,
        |       count(*) AS dup_ct
        |FROM documents GROUP BY 1 ORDER BY 2""".stripMargin,
    // connected-components oracles: DuckDB replays the deterministic
    // chain/star fixture with a recursive reachability CTE — exact
    // min-reachable-id per node, multi-hop (the Spark side contracts
    // the same graph with large-star/small-star rounds)
    "llm_dedup_cc" ->
      """WITH RECURSIVE edges AS (
        |  SELECT doc_id AS u, doc_id + 1 AS v FROM documents
        |  WHERE doc_id % 7 < 4
        |    AND doc_id + 1 IN (SELECT doc_id FROM documents)
        |  UNION
        |  SELECT doc_id - doc_id % 50 AS u, doc_id AS v FROM documents
        |  WHERE doc_id % 50 IN (10, 20, 30)
        |    AND doc_id - doc_id % 50 IN (SELECT doc_id FROM documents)),
        |sym AS (SELECT u AS a, v AS b FROM edges
        |        UNION SELECT v, u FROM edges),
        |reach(node, r) AS (
        |  SELECT a, a FROM sym
        |  UNION
        |  SELECT s.b, reach.r FROM reach JOIN sym s ON s.a = reach.node)
        |SELECT node AS doc_id, min(r) AS component_id
        |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin,
    "llm_dedup_canonical" ->
      """WITH RECURSIVE edges AS (
        |  SELECT doc_id AS u, doc_id + 1 AS v FROM documents
        |  WHERE doc_id % 7 < 4
        |    AND doc_id + 1 IN (SELECT doc_id FROM documents)
        |  UNION
        |  SELECT doc_id - doc_id % 50 AS u, doc_id AS v FROM documents
        |  WHERE doc_id % 50 IN (10, 20, 30)
        |    AND doc_id - doc_id % 50 IN (SELECT doc_id FROM documents)),
        |sym AS (SELECT u AS a, v AS b FROM edges
        |        UNION SELECT v, u FROM edges),
        |reach(node, r) AS (
        |  SELECT a, a FROM sym
        |  UNION
        |  SELECT s.b, reach.r FROM reach JOIN sym s ON s.a = reach.node),
        |comp AS (SELECT node, min(r) AS component_id FROM reach GROUP BY node)
        |SELECT doc_id, text, lang, source, n_chars,
        |       coalesce(component_id, doc_id) AS component_id
        |FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
        |QUALIFY row_number() OVER (
        |  PARTITION BY coalesce(component_id, doc_id) ORDER BY doc_id) = 1
        |ORDER BY doc_id""".stripMargin,
    "llm_dedup_cluster_stats" ->
      """WITH RECURSIVE edges AS (
        |  SELECT doc_id AS u, doc_id + 1 AS v FROM documents
        |  WHERE doc_id % 7 < 4
        |    AND doc_id + 1 IN (SELECT doc_id FROM documents)
        |  UNION
        |  SELECT doc_id - doc_id % 50 AS u, doc_id AS v FROM documents
        |  WHERE doc_id % 50 IN (10, 20, 30)
        |    AND doc_id - doc_id % 50 IN (SELECT doc_id FROM documents)),
        |sym AS (SELECT u AS a, v AS b FROM edges
        |        UNION SELECT v, u FROM edges),
        |reach(node, r) AS (
        |  SELECT a, a FROM sym
        |  UNION
        |  SELECT s.b, reach.r FROM reach JOIN sym s ON s.a = reach.node),
        |comp AS (SELECT node, min(r) AS component_id FROM reach GROUP BY node),
        |sizes AS (SELECT component_id, count(*) AS cluster_size
        |          FROM comp GROUP BY 1)
        |SELECT cluster_size, count(*) AS cluster_ct,
        |       CAST(sum(cluster_size) AS BIGINT) AS doc_ct
        |FROM sizes GROUP BY 1 ORDER BY 1""".stripMargin,
    "llm_token_percentiles" ->
      """WITH t AS (
        |  SELECT lang,
        |         CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |                              w -> w <> '')) AS INT) AS n_tokens
        |  FROM documents)
        |SELECT lang, count(*) AS doc_ct,
        |       round(quantile_cont(n_tokens, 0.5), 4) AS p50,
        |       round(quantile_cont(n_tokens, 0.9), 4) AS p90,
        |       round(quantile_cont(n_tokens, 0.99), 4) AS p99,
        |       CAST(max(n_tokens) AS BIGINT) AS max_tokens
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin,
    // element-exact unit vectors as (vec_id, pos, val) scalar rows;
    // zero-norm vectors normalize to zeros
    "llm_embed_normalize" ->
      """WITH n AS (
        |  SELECT vec_id, embedding,
        |         sqrt(list_sum(list_transform(embedding,
        |               x -> x::DOUBLE * x::DOUBLE))) AS l2
        |  FROM embeddings)
        |SELECT vec_id, CAST(p.pos - 1 AS BIGINT) AS pos,
        |       round(CASE WHEN l2 = 0.0 THEN 0.0
        |             ELSE embedding[p.pos]::DOUBLE / l2 END, 6) AS val
        |FROM n, unnest(generate_series(1, len(embedding))) AS p(pos)
        |ORDER BY vec_id, pos""".stripMargin,
    // deterministic JL projection: w(i,j) from md5("p:i:j"), integers
    // in [-1000,1000] scaled 1e-3 — replayed exactly by both engines
    "llm_embed_projection" ->
      """SELECT vec_id, CAST(j.j AS BIGINT) AS out_dim,
        |       round(list_sum(list_transform(
        |         generate_series(1, len(embedding)),
        |         i -> embedding[i]::DOUBLE *
        |           ((CAST(('0x' || substring(md5('p:' || (i - 1) || ':' || j.j),
        |                   1, 4)) AS BIGINT) % 2001 - 1000) / 1000.0))), 6) AS val
        |FROM embeddings, unnest(generate_series(0, 7)) AS j(j)
        |ORDER BY vec_id, out_dim""".stripMargin,
    "llm_embedding_stats" ->
      """WITH n AS (
        |  SELECT label,
        |         round(sqrt(list_sum(list_transform(embedding,
        |               x -> x::DOUBLE * x::DOUBLE))), 6) AS l2
        |  FROM embeddings)
        |SELECT label, count(*) AS vec_ct,
        |       round(avg(l2), 4) AS avg_norm,
        |       round(min(l2), 4) AS min_norm,
        |       round(max(l2), 4) AS max_norm,
        |       CAST(sum(CASE WHEN l2 = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS zero_norm_ct
        |FROM n GROUP BY label ORDER BY label""".stripMargin,
    "llm_sequence_packing" ->
      """WITH t AS (
        |  SELECT doc_id, lang, source,
        |         CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |                              w -> w <> '')) AS INT) AS n_tokens
        |  FROM documents)
        |SELECT doc_id, lang, source, n_tokens,
        |       CAST(floor((CAST(sum(n_tokens) OVER (
        |              PARTITION BY lang, source ORDER BY doc_id
        |              ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens)
        |            / 2048.0) AS BIGINT) AS pack_id
        |FROM t ORDER BY lang, source, doc_id""".stripMargin,
    "llm_redact" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |         text ||
        |         CASE WHEN doc_id % 5 = 0
        |              THEN ' see https://ex.org/p/' || doc_id || ' and http://a.io'
        |              ELSE '' END ||
        |         CASE WHEN doc_id % 7 = 0
        |              THEN ' mail bot' || doc_id || '@spam.example'
        |              ELSE '' END AS t
        |  FROM documents)
        |SELECT doc_id,
        |       regexp_replace(
        |         regexp_replace(t, 'https?://[a-z0-9./]+', '<URL>', 'g'),
        |         '[a-z0-9.]+@[a-z0-9.]+', '<EMAIL>', 'g') AS text_redacted,
        |       CAST(len(regexp_extract_all(t, 'https?://[a-z0-9./]+'))
        |            + len(regexp_extract_all(t, '[a-z0-9.]+@[a-z0-9.]+'))
        |            AS INT) AS redaction_ct
        |FROM aug ORDER BY doc_id""".stripMargin,
    "llm_redact_pii" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |         text ||
        |         CASE WHEN doc_id % 4 = 0
        |              THEN ' call ' || (doc_id % 900 + 100) || '-' ||
        |                   (doc_id % 700 + 200) || '-' || (doc_id % 9000 + 1000)
        |              ELSE '' END ||
        |         CASE WHEN doc_id % 6 = 0
        |              THEN ' host 10.' || (doc_id % 256) || '.' ||
        |                   (doc_id % 251) || '.' || (doc_id % 250)
        |              ELSE '' END ||
        |         CASE WHEN doc_id % 9 = 0
        |              THEN ' card 4111 2222 3333 ' || (doc_id % 5000 + 4000)
        |              ELSE '' END AS t
        |  FROM documents),
        |r AS (
        |  SELECT doc_id,
        |         regexp_replace(regexp_replace(regexp_replace(t,
        |           '[0-9]{4} [0-9]{4} [0-9]{4} [0-9]{4}', '<CARD>', 'g'),
        |           '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g'),
        |           '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS text_redacted,
        |         CAST(len(regexp_extract_all(t,
        |           '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS INT) AS phone_ct,
        |         CAST(len(regexp_extract_all(t,
        |           '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS INT) AS ip_ct,
        |         CAST(len(regexp_extract_all(t,
        |           '[0-9]{4} [0-9]{4} [0-9]{4} [0-9]{4}')) AS INT) AS card_ct
        |  FROM aug)
        |SELECT doc_id, text_redacted, phone_ct, ip_ct, card_ct,
        |       phone_ct + ip_ct + card_ct AS pii_total
        |FROM r ORDER BY doc_id""".stripMargin,
    "llm_text_normalize" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |         text ||
        |         CASE WHEN doc_id % 3 = 0 THEN ' cafe' || chr(769) ELSE '' END ||
        |         CASE WHEN doc_id % 4 = 0 THEN ' ' || chr(8491) ELSE '' END ||
        |         CASE WHEN doc_id % 5 = 0
        |              THEN chr(7) || ' ' || chr(8486) ELSE '' END AS t
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, t,
        |         nfc_normalize(regexp_replace(t,
        |           '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g')) AS text_norm
        |  FROM aug)
        |SELECT doc_id, text_norm,
        |       text_norm <> t AS norm_changed,
        |       CAST(len(t) - len(text_norm) AS INT) AS char_delta
        |FROM n ORDER BY doc_id""".stripMargin,
    "llm_gopher_rules" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |         lower(text || CASE WHEN doc_id % 2 = 0
        |                            THEN ' of and that' ELSE '' END) AS t
        |  FROM documents),
        |l AS (
        |  SELECT doc_id,
        |         string_split(regexp_replace(regexp_replace(t,
        |           ' slow ', chr(10) || '- slow ', 'g'),
        |           ' fast ', chr(8230) || chr(10) || 'fast ', 'g'),
        |           chr(10)) AS lines,
        |         list_filter(string_split_regex(t, '\s+'),
        |                     w -> w <> '') AS words
        |  FROM aug),
        |m AS (
        |  SELECT doc_id,
        |         CAST(len(words) AS BIGINT) AS n_words,
        |         round(CAST(coalesce(list_sum(
        |             list_transform(words, w -> len(w))), 0) AS DOUBLE)
        |           / greatest(len(words), 1), 4) AS mean_word_len,
        |         round(CAST(len(list_filter(lines,
        |             x -> starts_with(x, '- '))) AS DOUBLE)
        |           / len(lines), 4) AS bullet_frac,
        |         round(CAST(len(list_filter(lines,
        |             x -> ends_with(x, chr(8230)))) AS DOUBLE)
        |           / len(lines), 4) AS ellipsis_frac,
        |         round(CAST(len(list_filter(words,
        |             w -> regexp_matches(w, '^[a-z]+$'))) AS DOUBLE)
        |           / greatest(len(words), 1), 4) AS alpha_word_frac,
        |         (CASE WHEN list_contains(words, 'the') THEN 1 ELSE 0 END +
        |          CASE WHEN list_contains(words, 'be') THEN 1 ELSE 0 END +
        |          CASE WHEN list_contains(words, 'to') THEN 1 ELSE 0 END +
        |          CASE WHEN list_contains(words, 'of') THEN 1 ELSE 0 END +
        |          CASE WHEN list_contains(words, 'and') THEN 1 ELSE 0 END +
        |          CASE WHEN list_contains(words, 'that') THEN 1 ELSE 0 END +
        |          CASE WHEN list_contains(words, 'have') THEN 1 ELSE 0 END +
        |          CASE WHEN list_contains(words, 'with') THEN 1 ELSE 0 END)
        |           AS stop_hits
        |  FROM l)
        |SELECT doc_id, n_words, mean_word_len, bullet_frac, ellipsis_frac,
        |       alpha_word_frac, stop_hits,
        |       CASE WHEN n_words < 40 THEN 'too_short'
        |            WHEN mean_word_len < 3.0 OR mean_word_len > 10.0
        |              THEN 'word_len'
        |            WHEN bullet_frac > 0.25 THEN 'bullet'
        |            WHEN ellipsis_frac > 0.3 THEN 'ellipsis'
        |            WHEN alpha_word_frac < 0.8 THEN 'non_alpha'
        |            WHEN stop_hits < 2 THEN 'stopword'
        |            ELSE 'pass' END AS verdict
        |FROM m ORDER BY doc_id""".stripMargin,
    // the v2 capstone replays each stage's CTE from its single-op
    // oracle (gopher metrics, PII rewrite, domain cap), then the same
    // dedup + packing idioms as llm_corpus_build — `pass` spelled as
    // the conjunction of the gate conditions over the SAME rounded
    // metric columns the verdict CASE reads
    "llm_corpus_build_v2" ->
      """WITH gaug AS (
        |  SELECT doc_id,
        |         lower(text || CASE WHEN doc_id % 2 = 0
        |                            THEN ' of and that' ELSE '' END) AS t
        |  FROM documents),
        |gl AS (
        |  SELECT doc_id,
        |         string_split(regexp_replace(regexp_replace(t,
        |           ' slow ', chr(10) || '- slow ', 'g'),
        |           ' fast ', chr(8230) || chr(10) || 'fast ', 'g'),
        |           chr(10)) AS lines,
        |         list_filter(string_split_regex(t, '\s+'),
        |                     w -> w <> '') AS words
        |  FROM gaug),
        |gm AS (
        |  SELECT doc_id,
        |         CAST(len(words) AS BIGINT) AS n_words,
        |         round(CAST(coalesce(list_sum(
        |             list_transform(words, w -> len(w))), 0) AS DOUBLE)
        |           / greatest(len(words), 1), 4) AS mean_word_len,
        |         round(CAST(len(list_filter(lines,
        |             x -> starts_with(x, '- '))) AS DOUBLE)
        |           / len(lines), 4) AS bullet_frac,
        |         round(CAST(len(list_filter(lines,
        |             x -> ends_with(x, chr(8230)))) AS DOUBLE)
        |           / len(lines), 4) AS ellipsis_frac,
        |         round(CAST(len(list_filter(words,
        |             w -> regexp_matches(w, '^[a-z]+$'))) AS DOUBLE)
        |           / greatest(len(words), 1), 4) AS alpha_word_frac,
        |         (CASE WHEN list_contains(words, 'the') THEN 1 ELSE 0 END +
        |          CASE WHEN list_contains(words, 'be') THEN 1 ELSE 0 END +
        |          CASE WHEN list_contains(words, 'to') THEN 1 ELSE 0 END +
        |          CASE WHEN list_contains(words, 'of') THEN 1 ELSE 0 END +
        |          CASE WHEN list_contains(words, 'and') THEN 1 ELSE 0 END +
        |          CASE WHEN list_contains(words, 'that') THEN 1 ELSE 0 END +
        |          CASE WHEN list_contains(words, 'have') THEN 1 ELSE 0 END +
        |          CASE WHEN list_contains(words, 'with') THEN 1 ELSE 0 END)
        |           AS stop_hits
        |  FROM gl),
        |gpass AS (
        |  SELECT doc_id FROM gm
        |  WHERE n_words >= 40
        |    AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        |    AND bullet_frac <= 0.6 AND ellipsis_frac <= 0.6
        |    AND alpha_word_frac >= 0.8 AND stop_hits >= 2),
        |paug AS (
        |  SELECT doc_id,
        |         text ||
        |         CASE WHEN doc_id % 4 = 0
        |              THEN ' call ' || (doc_id % 900 + 100) || '-' ||
        |                   (doc_id % 700 + 200) || '-' || (doc_id % 9000 + 1000)
        |              ELSE '' END ||
        |         CASE WHEN doc_id % 6 = 0
        |              THEN ' host 10.' || (doc_id % 256) || '.' ||
        |                   (doc_id % 251) || '.' || (doc_id % 250)
        |              ELSE '' END ||
        |         CASE WHEN doc_id % 9 = 0
        |              THEN ' card 4111 2222 3333 ' || (doc_id % 5000 + 4000)
        |              ELSE '' END AS t
        |  FROM documents),
        |pii AS (
        |  SELECT doc_id,
        |         regexp_replace(regexp_replace(regexp_replace(t,
        |           '[0-9]{4} [0-9]{4} [0-9]{4} [0-9]{4}', '<CARD>', 'g'),
        |           '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g'),
        |           '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS text_redacted
        |  FROM paug),
        |daug AS (
        |  SELECT doc_id,
        |         text || ' https://d' || (doc_id % 13) || '.example.com/p/'
        |              || doc_id ||
        |         CASE WHEN doc_id % 5 = 0
        |              THEN ' via http://cdn' || (doc_id % 3) || '.example.net/x'
        |              ELSE '' END AS t
        |  FROM documents),
        |dp AS (
        |  SELECT doc_id,
        |         regexp_extract(regexp_extract_all(t,
        |           'https?://[a-z0-9./-]+')[1],
        |           'https?://([a-z0-9.-]+)/', 1) AS domain
        |  FROM daug),
        |dcap AS (
        |  SELECT doc_id, domain FROM (
        |    SELECT doc_id, domain,
        |           row_number() OVER (PARTITION BY domain
        |             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |    FROM dp) WHERE rk <= 8),
        |kept AS (
        |  SELECT p.doc_id, p.text_redacted, c.domain
        |  FROM pii p JOIN gpass g ON p.doc_id = g.doc_id
        |             JOIN dcap c ON p.doc_id = c.doc_id),
        |canon AS (
        |  SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(text_redacted)),
        |surv AS (
        |  SELECT k.doc_id, k.domain,
        |         CAST(len(list_filter(string_split_regex(
        |             lower(k.text_redacted), '\s+'), w -> w <> ''))
        |           AS BIGINT) AS n_tokens
        |  FROM kept k JOIN canon USING (doc_id))
        |SELECT doc_id, domain, n_tokens,
        |       CAST(floor((CAST(sum(n_tokens) OVER (
        |              PARTITION BY domain ORDER BY doc_id
        |              ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens)
        |            / 512.0) AS BIGINT) AS pack_id
        |FROM surv ORDER BY domain, doc_id""".stripMargin,
    "llm_html_extract" ->
      """WITH page AS (
        |  SELECT doc_id,
        |         '<html><head><title>t' || (doc_id % 7) ||
        |         '</title><script>var x = ' || doc_id ||
        |         ';</script></head><body><nav>home &amp; more</nav><p>' ||
        |         text ||
        |         CASE WHEN doc_id % 3 = 0
        |              THEN ' <b>bold&nbsp;claim</b> &lt;tag&gt;'
        |              ELSE '' END ||
        |         '</p></body></html>' AS h
        |  FROM documents),
        |ext AS (
        |  SELECT doc_id, h,
        |         regexp_replace(regexp_replace(h,
        |           '<script>[^<]*</script>|<style>[^<]*</style>', '', 'g'),
        |           '<[^>]*>', ' ', 'g') AS notags
        |  FROM page),
        |dec AS (
        |  SELECT doc_id, h,
        |         regexp_replace(regexp_replace(regexp_replace(
        |           regexp_replace(regexp_replace(notags,
        |             '&nbsp;', ' ', 'g'), '&lt;', '<', 'g'),
        |             '&gt;', '>', 'g'), '&quot;', '"', 'g'),
        |             '&amp;', '&', 'g') AS decoded
        |  FROM ext)
        |SELECT doc_id,
        |       trim(regexp_replace(decoded, '[ \t]+', ' ', 'g')) AS text_plain,
        |       CAST(len(regexp_extract_all(h, '<[^>]*>')) AS INT) AS tag_ct
        |FROM dec ORDER BY doc_id""".stripMargin,
    "llm_sentence_stats" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |         text ||
        |         CASE WHEN doc_id % 2 = 0
        |              THEN '. Second part here!' ELSE '' END ||
        |         CASE WHEN doc_id % 5 = 0
        |              THEN ' Trailing question?' ELSE '' END AS t
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, t,
        |         list_filter(string_split_regex(t, '[.!?]+'),
        |                     x -> trim(x) <> '') AS ss
        |  FROM aug)
        |SELECT doc_id,
        |       CAST(len(ss) AS BIGINT) AS sentence_ct,
        |       round(CAST(coalesce(list_sum(list_transform(ss,
        |           x -> len(list_filter(string_split_regex(lower(x), '\s+'),
        |                    w -> w <> '')))), 0) AS DOUBLE)
        |         / greatest(len(ss), 1), 4) AS mean_sentence_words,
        |       regexp_matches(t, '[.!?]\s*$') AS ends_terminal
        |FROM s ORDER BY doc_id""".stripMargin,
    "llm_blocklist_filter" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |         lower(text ||
        |           CASE WHEN doc_id % 11 = 0 THEN ' blockedalpha' ELSE '' END ||
        |           CASE WHEN doc_id % 13 = 0
        |                THEN ' blockedbeta blockedbeta' ELSE '' END) AS t
        |  FROM documents),
        |w AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(t, '\s+'),
        |                     x -> x <> '') AS ws
        |  FROM aug),
        |m AS (
        |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
        |         CAST(len(list_filter(ws, x -> x = 'blockedalpha'))
        |            + len(list_filter(ws, x -> x = 'blockedbeta'))
        |            + len(list_filter(ws, x -> x = 'blockedgamma'))
        |           AS BIGINT) AS block_ct
        |  FROM w)
        |SELECT doc_id, n_words, block_ct,
        |       round(CAST(block_ct AS DOUBLE) / greatest(n_words, 1), 4)
        |         AS block_ratio,
        |       block_ct = 0 AS keep
        |FROM m ORDER BY doc_id""".stripMargin,
    "llm_domain_stats" ->
      """WITH aug AS (
        |  SELECT doc_id, lang,
        |         text || ' https://d' || (doc_id % 13) || '.example.com/p/'
        |              || doc_id ||
        |         CASE WHEN doc_id % 5 = 0
        |              THEN ' via http://cdn' || (doc_id % 3) || '.example.net/x'
        |              ELSE '' END AS t
        |  FROM documents),
        |u AS (
        |  SELECT doc_id, lang,
        |         unnest(regexp_extract_all(t, 'https?://[a-z0-9./-]+')) AS url
        |  FROM aug)
        |SELECT regexp_extract(url, 'https?://([a-z0-9.-]+)/', 1) AS domain,
        |       count(*) AS url_ct,
        |       count(DISTINCT doc_id) AS doc_ct,
        |       count(DISTINCT lang) AS lang_ct
        |FROM u GROUP BY 1 ORDER BY domain""".stripMargin,
    "llm_url_dedup" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |         text || ' https://' ||
        |         CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END ||
        |         'd' || (doc_id % 13) || '.example.com/p/' || (doc_id % 17) ||
        |         CASE WHEN doc_id % 4 = 0
        |              THEN '?utm_source=t' || (doc_id % 3) ELSE '' END ||
        |         CASE WHEN doc_id % 6 = 0
        |              THEN '#sec' || (doc_id % 5) ELSE '' END AS t
        |  FROM documents),
        |u AS (
        |  SELECT doc_id,
        |         unnest(regexp_extract_all(t, 'https?://[^ ]+')) AS url
        |  FROM aug),
        |nrm AS (
        |  SELECT doc_id, url,
        |         regexp_replace(regexp_replace(url, '[?#][^ ]*', ''),
        |           '://www\.', '://') AS url_norm
        |  FROM u)
        |SELECT url_norm, count(*) AS dup_ct,
        |       count(DISTINCT url) AS variant_ct,
        |       min(doc_id) AS first_doc
        |FROM nrm GROUP BY 1 ORDER BY url_norm""".stripMargin,
    "llm_ppl_buckets" ->
      """WITH toks AS (
        |  SELECT doc_id, lang = 'en' AS is_target,
        |         list_transform(list_filter(
        |             string_split_regex(lower(text), '\s+'), x -> x <> ''),
        |           w -> CAST(('0x' || substring(md5(w), 1, 4)) AS BIGINT)
        |                % 4096) AS bs
        |  FROM documents),
        |bi AS (
        |  SELECT doc_id, is_target, p[1] AS b1, p[2] AS b2
        |  FROM (SELECT doc_id, is_target,
        |          unnest(CASE WHEN len(bs) >= 2 THEN
        |            list_transform(generate_series(1, len(bs) - 1),
        |                           i -> [bs[i], bs[i+1]])
        |          ELSE [] END) AS p
        |        FROM toks)),
        |uni AS (SELECT b1, count(*) AS c1 FROM bi WHERE is_target GROUP BY b1),
        |model AS (
        |  SELECT m.b1, m.b2, round(ln((c12 + 1.0) / (c1 + 4096)), 6) AS logp
        |  FROM (SELECT b1, b2, count(*) AS c12 FROM bi
        |        WHERE is_target GROUP BY 1, 2) m
        |  JOIN uni USING (b1)),
        |sc AS (
        |  SELECT bi.doc_id, count(*) AS n_bigrams,
        |         sum(coalesce(model.logp,
        |             round(ln(1.0 / (coalesce(uni.c1, 0) + 4096)), 6))) AS s
        |  FROM bi
        |  LEFT JOIN model ON bi.b1 = model.b1 AND bi.b2 = model.b2
        |  LEFT JOIN uni ON bi.b1 = uni.b1
        |  GROUP BY 1),
        |pplq AS (
        |  SELECT d.doc_id, d.lang,
        |         CASE WHEN coalesce(n_bigrams, 0) = 0 THEN 0.0
        |              ELSE round(exp(-s / n_bigrams), 4) END AS ppl
        |  FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id),
        |cuts AS (
        |  SELECT lang, quantile_cont(ppl, 0.33) AS p33,
        |         quantile_cont(ppl, 0.66) AS p66
        |  FROM pplq GROUP BY lang)
        |SELECT p.doc_id, p.lang, p.ppl,
        |       CASE WHEN p.ppl <= c.p33 THEN 'head'
        |            WHEN p.ppl <= c.p66 THEN 'middle'
        |            ELSE 'tail' END AS bucket
        |FROM pplq p JOIN cuts c USING (lang) ORDER BY p.doc_id""".stripMargin,
    "llm_decontaminate_strip" ->
      """WITH bsn AS (
        |  SELECT doc_id / 97 AS b_idx,
        |         array_to_string(list_filter(string_split_regex(lower(text),
        |           '\s+'), w -> w <> '')[1:12], ' ') AS snippet
        |  FROM documents WHERE doc_id % 97 = 0),
        |corp AS (
        |  SELECT d.doc_id,
        |         CASE WHEN d.doc_id % 31 = 5 AND b.snippet IS NOT NULL
        |              THEN d.text || ' ' || b.snippet
        |              ELSE d.text END AS text
        |  FROM documents d LEFT JOIN bsn b ON d.doc_id % 5 = b.b_idx
        |  WHERE d.doc_id % 97 <> 0),
        |ct AS (SELECT doc_id, string_split(text, ' ') AS tk FROM corp),
        |bt AS (SELECT doc_id, string_split(text, ' ') AS tk
        |       FROM documents WHERE doc_id % 97 = 0),
        |toks AS (
        |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, tk[i] AS tok
        |  FROM ct, UNNEST(generate_series(1, len(tk))) AS u(i)),
        |cgr AS (
        |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
        |         array_to_string(tk[i : i+7], ' ') AS gram
        |  FROM ct, UNNEST(generate_series(1, len(tk) - 7)) AS u(i)),
        |bgr AS (
        |  SELECT DISTINCT array_to_string(tk[i : i+7], ' ') AS gram
        |  FROM bt, UNNEST(generate_series(1, len(tk) - 7)) AS u(i)),
        |starts AS (
        |  SELECT g.doc_id, g.pos FROM cgr g SEMI JOIN bgr f USING (gram)),
        |marked AS (
        |  SELECT k.doc_id, k.pos, k.tok,
        |         CASE WHEN s.pos IS NULL THEN 0 ELSE 1 END AS bstart
        |  FROM toks k LEFT JOIN starts s USING (doc_id, pos)),
        |covd AS (
        |  SELECT doc_id, pos, tok, bstart,
        |         max(bstart) OVER (PARTITION BY doc_id ORDER BY pos
        |                           ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
        |           AS cov
        |  FROM marked)
        |SELECT doc_id,
        |       coalesce(string_agg(CASE WHEN cov = 0 THEN tok END, ' '
        |                           ORDER BY pos), '') AS clean_text,
        |       count(*) AS n_tokens,
        |       CAST(sum(cov) AS BIGINT) AS n_tokens_removed,
        |       CAST(sum(bstart) AS BIGINT) AS n_leak_spans
        |FROM covd GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the fixture was generated by tools/gen_bpe_fixture.py — a
    // shared-nothing Python BPE implementation — so this compares two
    // independent implementations document-by-document (count + full
    // token-sequence md5); the documents join anchors row coverage
    "llm_bpe_tokenize" ->
      """SELECT d.doc_id, f.bpe_token_ct, f.tokens_md5
        |FROM documents d
        |JOIN read_parquet('/root/repo/tools/fixtures/bpe_sf001.parquet') f
        |  USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "llm_domain_cap" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |         text || ' https://d' || (doc_id % 13) || '.example.com/p/'
        |              || doc_id ||
        |         CASE WHEN doc_id % 5 = 0
        |              THEN ' via http://cdn' || (doc_id % 3) || '.example.net/x'
        |              ELSE '' END AS t
        |  FROM documents),
        |p AS (
        |  SELECT doc_id,
        |         regexp_extract(regexp_extract_all(t,
        |           'https?://[a-z0-9./-]+')[1],
        |           'https?://([a-z0-9.-]+)/', 1) AS domain
        |  FROM aug),
        |r AS (
        |  SELECT doc_id, domain,
        |         CAST(row_number() OVER (PARTITION BY domain
        |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS rk
        |  FROM p)
        |SELECT doc_id, domain, rk FROM r WHERE rk <= 8
        |ORDER BY domain, rk""".stripMargin,
    "llm_line_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |lines AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS line_no,
        |         array_to_string(tk[i*8+1 : i*8+8], ' ') AS line
        |  FROM t, UNNEST(generate_series(0, CAST(ceil(len(tk)/8.0) AS INT) - 1)) AS u(i)
        |),
        |freq AS (SELECT line FROM lines GROUP BY line HAVING count(*) >= 2),
        |kept AS (SELECT l.* FROM lines l ANTI JOIN freq f USING (line)),
        |rebuilt AS (
        |  SELECT doc_id, string_agg(line, chr(10) ORDER BY line_no) AS clean_text,
        |         count(*) AS n_lines_kept
        |  FROM kept GROUP BY doc_id),
        |per_doc AS (SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY doc_id)
        |SELECT p.doc_id, coalesce(r.clean_text, '') AS clean_text,
        |       p.n_lines, p.n_lines - coalesce(r.n_lines_kept, 0) AS n_lines_removed
        |FROM per_doc p LEFT JOIN rebuilt r USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "llm_span_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |toks AS (
        |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, tk[i] AS tok
        |  FROM t, UNNEST(generate_series(1, len(tk))) AS u(i)),
        |grams AS (
        |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
        |         array_to_string(tk[i : i+9], ' ') AS gram
        |  FROM t, UNNEST(generate_series(1, len(tk) - 9)) AS u(i)),
        |freq AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 2),
        |starts AS (SELECT g.doc_id, g.pos FROM grams g SEMI JOIN freq f USING (gram)),
        |marked AS (
        |  SELECT k.doc_id, k.pos, k.tok,
        |         CASE WHEN s.pos IS NULL THEN 0 ELSE 1 END AS dstart
        |  FROM toks k LEFT JOIN starts s USING (doc_id, pos)),
        |covd AS (
        |  SELECT doc_id, pos, tok, dstart,
        |         max(dstart) OVER (PARTITION BY doc_id ORDER BY pos
        |                           ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS cov
        |  FROM marked)
        |SELECT doc_id,
        |       coalesce(string_agg(CASE WHEN cov = 0 THEN tok END, ' '
        |                           ORDER BY pos), '') AS clean_text,
        |       count(*) AS n_tokens,
        |       CAST(sum(cov) AS BIGINT) AS n_tokens_removed,
        |       CAST(sum(dstart) AS BIGINT) AS n_dup_spans
        |FROM covd GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "llm_quality_gate" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '\s+'),
        |                     w -> w <> '') AS t
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_words,
        |         CASE WHEN len(t) = 0 THEN 0.0
        |              ELSE round(least(len(t) / 200.0, 1.0)
        |                         * (len(list_distinct(t)) / len(t)), 4) END
        |           AS quality_score
        |  FROM toks),
        |grams AS (
        |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
        |         CASE WHEN len(t) >= 2 THEN
        |           list_transform(generate_series(1, len(t) - 1),
        |                          i -> t[i] || ' ' || t[i+1])
        |         ELSE [] END AS bi,
        |         CASE WHEN len(t) >= 3 THEN
        |           list_transform(generate_series(1, len(t) - 2),
        |                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
        |         ELSE [] END AS tri
        |  FROM toks),
        |bitop AS (
        |  SELECT doc_id, max(ct) AS top_bigram_ct
        |  FROM (SELECT doc_id, g, count(*) AS ct
        |        FROM (SELECT doc_id, unnest(bi) AS g FROM grams)
        |        GROUP BY 1, 2)
        |  GROUP BY 1),
        |tria AS (
        |  SELECT doc_id,
        |         sum(CASE WHEN ct > 1 THEN ct ELSE 0 END) AS dup_tri_pos,
        |         sum(ct) AS tri_pos
        |  FROM (SELECT doc_id, g, count(*) AS ct
        |        FROM (SELECT doc_id, unnest(tri) AS g FROM grams)
        |        GROUP BY 1, 2)
        |  GROUP BY 1),
        |rep AS (
        |  SELECT g.doc_id,
        |         (coalesce(b.top_bigram_ct * 2.0 / g.n_tokens, 0) > 0.2 OR
        |          coalesce(a.dup_tri_pos / a.tri_pos::DOUBLE, 0) > 0.15)
        |           AS repetition_flag
        |  FROM grams g
        |  LEFT JOIN bitop b ON g.doc_id = b.doc_id
        |  LEFT JOIN tria a ON g.doc_id = a.doc_id),
        |sig AS (
        |  SELECT doc_id,
        |         CASE WHEN len(t2) > 0 THEN
        |           round(len(regexp_replace(t2, '[^0-9]', '', 'g'))
        |                 / len(t2)::DOUBLE, 4) END AS digit_ratio
        |  FROM (SELECT doc_id,
        |               text ||
        |               CASE WHEN doc_id % 5 = 0
        |                    THEN ' see https://ex.org/p/' || doc_id
        |                         || ' and http://a.io' ELSE '' END ||
        |               CASE WHEN doc_id % 7 = 0
        |                    THEN ' mail bot' || doc_id || '@spam.example'
        |                    ELSE '' END AS t2
        |        FROM documents)),
        |verdict AS (
        |  SELECT q.doc_id,
        |         CASE WHEN q.n_words < 20 THEN 'too_short'
        |              WHEN q.quality_score < 0.1 THEN 'low_quality'
        |              WHEN rep.repetition_flag THEN 'repetitive'
        |              WHEN coalesce(sig.digit_ratio, 0) > 0.3 THEN 'digit_heavy'
        |              ELSE 'ok' END AS reason
        |  FROM q JOIN rep ON q.doc_id = rep.doc_id
        |         JOIN sig ON q.doc_id = sig.doc_id)
        |SELECT doc_id, reason, reason = 'ok' AS keep
        |FROM verdict ORDER BY doc_id""".stripMargin,
    // gate rules + DSIR + LM ppl, first failing rule wins — assembled
    // from the three independently-green oracle blocks
    "llm_selection_verdict" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '\s+'),
        |                     w -> w <> '') AS t
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_words,
        |         CASE WHEN len(t) = 0 THEN 0.0
        |              ELSE round(least(len(t) / 200.0, 1.0)
        |                         * (len(list_distinct(t)) / len(t)), 4) END
        |           AS quality_score
        |  FROM toks),
        |grams AS (
        |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
        |         CASE WHEN len(t) >= 2 THEN
        |           list_transform(generate_series(1, len(t) - 1),
        |                          i -> t[i] || ' ' || t[i+1])
        |         ELSE [] END AS bi,
        |         CASE WHEN len(t) >= 3 THEN
        |           list_transform(generate_series(1, len(t) - 2),
        |                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
        |         ELSE [] END AS tri
        |  FROM toks),
        |bitop AS (
        |  SELECT doc_id, max(ct) AS top_bigram_ct
        |  FROM (SELECT doc_id, g, count(*) AS ct
        |        FROM (SELECT doc_id, unnest(bi) AS g FROM grams)
        |        GROUP BY 1, 2)
        |  GROUP BY 1),
        |tria AS (
        |  SELECT doc_id,
        |         sum(CASE WHEN ct > 1 THEN ct ELSE 0 END) AS dup_tri_pos,
        |         sum(ct) AS tri_pos
        |  FROM (SELECT doc_id, g, count(*) AS ct
        |        FROM (SELECT doc_id, unnest(tri) AS g FROM grams)
        |        GROUP BY 1, 2)
        |  GROUP BY 1),
        |rep AS (
        |  SELECT g.doc_id,
        |         (coalesce(b.top_bigram_ct * 2.0 / g.n_tokens, 0) > 0.2 OR
        |          coalesce(a.dup_tri_pos / a.tri_pos::DOUBLE, 0) > 0.15)
        |           AS repetition_flag
        |  FROM grams g
        |  LEFT JOIN bitop b ON g.doc_id = b.doc_id
        |  LEFT JOIN tria a ON g.doc_id = a.doc_id),
        |sig AS (
        |  SELECT doc_id,
        |         CASE WHEN len(t2) > 0 THEN
        |           round(len(regexp_replace(t2, '[^0-9]', '', 'g'))
        |                 / len(t2)::DOUBLE, 4) END AS digit_ratio
        |  FROM (SELECT doc_id,
        |               text ||
        |               CASE WHEN doc_id % 5 = 0
        |                    THEN ' see https://ex.org/p/' || doc_id
        |                         || ' and http://a.io' ELSE '' END ||
        |               CASE WHEN doc_id % 7 = 0
        |                    THEN ' mail bot' || doc_id || '@spam.example'
        |                    ELSE '' END AS t2
        |        FROM documents)),
        |gv AS (
        |  SELECT q.doc_id,
        |         CASE WHEN q.n_words < 20 THEN 'too_short'
        |              WHEN q.quality_score < 0.1 THEN 'low_quality'
        |              WHEN rep.repetition_flag THEN 'repetitive'
        |              WHEN coalesce(sig.digit_ratio, 0) > 0.3 THEN 'digit_heavy'
        |              ELSE 'ok' END AS gate_reason
        |  FROM q JOIN rep ON q.doc_id = rep.doc_id
        |         JOIN sig ON q.doc_id = sig.doc_id),
        |dtok AS (
        |  SELECT doc_id, lang = 'en' AS is_target, w,
        |         CAST(('0x' || substring(md5(w), 1, 4)) AS BIGINT) % 4096 AS b
        |  FROM (SELECT doc_id, lang, unnest(t) AS w
        |        FROM toks JOIN documents USING (doc_id))),
        |ddist AS (SELECT b, count(*) AS q_ct,
        |                 sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS t_ct
        |          FROM dtok GROUP BY b),
        |dtot AS (SELECT CAST(sum(q_ct) AS BIGINT) AS q_tot,
        |                CAST(sum(t_ct) AS BIGINT) AS t_tot FROM ddist),
        |dwt AS (SELECT b, round(ln(((t_ct + 1.0) / (t_tot + 4096)) /
        |                           ((q_ct + 1.0) / (q_tot + 4096))), 6) AS w_b
        |        FROM ddist CROSS JOIN dtot),
        |dagg AS (SELECT d.doc_id, count(t.w) AS n_tokens, sum(dwt.w_b) AS s
        |         FROM documents d
        |         LEFT JOIN dtok t ON d.doc_id = t.doc_id
        |         LEFT JOIN dwt ON t.b = dwt.b
        |         GROUP BY d.doc_id),
        |dsir AS (SELECT doc_id,
        |                CASE WHEN n_tokens = 0 THEN 0.0
        |                     ELSE round(s / n_tokens, 4) END AS dsir_score
        |         FROM dagg),
        |ptok AS (
        |  SELECT doc_id, lang = 'en' AS is_target,
        |         list_transform(t,
        |           w -> CAST(('0x' || substring(md5(w), 1, 4)) AS BIGINT)
        |                % 4096) AS bs
        |  FROM toks JOIN documents USING (doc_id)),
        |pbi AS (
        |  SELECT doc_id, is_target, p[1] AS b1, p[2] AS b2
        |  FROM (SELECT doc_id, is_target,
        |          unnest(CASE WHEN len(bs) >= 2 THEN
        |            list_transform(generate_series(1, len(bs) - 1),
        |                           i -> [bs[i], bs[i+1]])
        |          ELSE [] END) AS p
        |        FROM ptok)),
        |puni AS (SELECT b1, count(*) AS c1 FROM pbi WHERE is_target GROUP BY b1),
        |pmodel AS (
        |  SELECT m.b1, m.b2, round(ln((c12 + 1.0) / (c1 + 4096)), 6) AS logp
        |  FROM (SELECT b1, b2, count(*) AS c12 FROM pbi
        |        WHERE is_target GROUP BY 1, 2) m
        |  JOIN puni USING (b1)),
        |psc AS (
        |  SELECT pbi.doc_id, count(*) AS n_bigrams,
        |         sum(coalesce(pmodel.logp,
        |             round(ln(1.0 / (coalesce(puni.c1, 0) + 4096)), 6))) AS s
        |  FROM pbi
        |  LEFT JOIN pmodel ON pbi.b1 = pmodel.b1 AND pbi.b2 = pmodel.b2
        |  LEFT JOIN puni ON pbi.b1 = puni.b1
        |  GROUP BY 1),
        |ppl AS (SELECT d.doc_id,
        |               CASE WHEN coalesce(n_bigrams, 0) = 0 THEN 0.0
        |                    ELSE round(exp(-s / n_bigrams), 4) END AS ppl
        |        FROM documents d LEFT JOIN psc ON d.doc_id = psc.doc_id),
        |verdict AS (
        |  SELECT gv.doc_id,
        |         CASE WHEN gv.gate_reason <> 'ok' THEN gv.gate_reason
        |              WHEN dsir.dsir_score < -0.17 THEN 'off_target'
        |              WHEN ppl.ppl > 340 THEN 'high_ppl'
        |              ELSE 'ok' END AS reason
        |  FROM gv JOIN dsir ON gv.doc_id = dsir.doc_id
        |          JOIN ppl ON gv.doc_id = ppl.doc_id)
        |SELECT doc_id, reason, reason = 'ok' AS keep
        |FROM verdict ORDER BY doc_id""".stripMargin,
    "llm_corpus_build" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '\s+'),
        |                     w -> w <> '') AS t
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_words,
        |         CASE WHEN len(t) = 0 THEN 0.0
        |              ELSE round(least(len(t) / 200.0, 1.0)
        |                         * (len(list_distinct(t)) / len(t)), 4) END
        |           AS quality_score
        |  FROM toks),
        |grams AS (
        |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
        |         CASE WHEN len(t) >= 2 THEN
        |           list_transform(generate_series(1, len(t) - 1),
        |                          i -> t[i] || ' ' || t[i+1])
        |         ELSE [] END AS bi,
        |         CASE WHEN len(t) >= 3 THEN
        |           list_transform(generate_series(1, len(t) - 2),
        |                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
        |         ELSE [] END AS tri
        |  FROM toks),
        |bitop AS (
        |  SELECT doc_id, max(ct) AS top_bigram_ct
        |  FROM (SELECT doc_id, g, count(*) AS ct
        |        FROM (SELECT doc_id, unnest(bi) AS g FROM grams)
        |        GROUP BY 1, 2)
        |  GROUP BY 1),
        |tria AS (
        |  SELECT doc_id,
        |         sum(CASE WHEN ct > 1 THEN ct ELSE 0 END) AS dup_tri_pos,
        |         sum(ct) AS tri_pos
        |  FROM (SELECT doc_id, g, count(*) AS ct
        |        FROM (SELECT doc_id, unnest(tri) AS g FROM grams)
        |        GROUP BY 1, 2)
        |  GROUP BY 1),
        |rep AS (
        |  SELECT g.doc_id,
        |         (coalesce(b.top_bigram_ct * 2.0 / g.n_tokens, 0) > 0.2 OR
        |          coalesce(a.dup_tri_pos / a.tri_pos::DOUBLE, 0) > 0.15)
        |           AS repetition_flag
        |  FROM grams g
        |  LEFT JOIN bitop b ON g.doc_id = b.doc_id
        |  LEFT JOIN tria a ON g.doc_id = a.doc_id),
        |sig AS (
        |  SELECT doc_id,
        |         CASE WHEN len(t2) > 0 THEN
        |           round(len(regexp_replace(t2, '[^0-9]', '', 'g'))
        |                 / len(t2)::DOUBLE, 4) END AS digit_ratio
        |  FROM (SELECT doc_id,
        |               text ||
        |               CASE WHEN doc_id % 5 = 0
        |                    THEN ' see https://ex.org/p/' || doc_id
        |                         || ' and http://a.io' ELSE '' END ||
        |               CASE WHEN doc_id % 7 = 0
        |                    THEN ' mail bot' || doc_id || '@spam.example'
        |                    ELSE '' END AS t2
        |        FROM documents)),
        |verdict AS (
        |  SELECT q.doc_id,
        |         CASE WHEN q.n_words < 20 THEN 'too_short'
        |              WHEN q.quality_score < 0.1 THEN 'low_quality'
        |              WHEN rep.repetition_flag THEN 'repetitive'
        |              WHEN coalesce(sig.digit_ratio, 0) > 0.3 THEN 'digit_heavy'
        |              ELSE 'ok' END AS reason
        |  FROM q JOIN rep ON q.doc_id = rep.doc_id
        |         JOIN sig ON q.doc_id = sig.doc_id),
        |keepers AS (
        |  SELECT d.doc_id, d.text, d.lang, d.source
        |  FROM documents d JOIN verdict v ON d.doc_id = v.doc_id
        |  WHERE v.reason = 'ok'),
        |canon AS (
        |  SELECT min(doc_id) AS doc_id FROM keepers GROUP BY md5(text)),
        |surv AS (
        |  SELECT k.doc_id, k.lang, k.source,
        |         CAST(len(list_filter(string_split_regex(lower(k.text), '\s+'),
        |                              w -> w <> '')) AS INT) AS n_tokens
        |  FROM keepers k JOIN canon c ON k.doc_id = c.doc_id)
        |SELECT doc_id, lang, source, n_tokens,
        |       CAST(floor((CAST(sum(n_tokens) OVER (
        |              PARTITION BY lang, source ORDER BY doc_id
        |              ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens)
        |            / 2048.0) AS BIGINT) AS pack_id
        |FROM surv ORDER BY lang, source, doc_id""".stripMargin,
    "llm_decontaminate" -> decontaminateSql,
    // the Bloom pre-screen has no false negatives and the exact verify
    // join kills its false positives, so the result is bit-identical
    "llm_decontaminate_bloom" -> decontaminateSql,
    "llm_content_signals" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |         text ||
        |         CASE WHEN doc_id % 5 = 0
        |              THEN ' see https://ex.org/p/' || doc_id || ' and http://a.io'
        |              ELSE '' END ||
        |         CASE WHEN doc_id % 7 = 0
        |              THEN ' mail bot' || doc_id || '@spam.example'
        |              ELSE '' END AS t
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(len(regexp_extract_all(t, 'https?://[a-z0-9./]+')) AS INT)
        |         AS url_ct,
        |       CAST(len(regexp_extract_all(t, '[a-z0-9.]+@[a-z0-9.]+')) AS INT)
        |         AS email_ct,
        |       CASE WHEN len(t) > 0 THEN
        |         round(len(regexp_replace(t, '[^0-9]', '', 'g'))
        |               / len(t)::DOUBLE, 4) END AS digit_ratio,
        |       CASE WHEN len(t) > 0 THEN
        |         round(len(regexp_replace(t, '[^A-Z]', '', 'g'))
        |               / len(t)::DOUBLE, 4) END AS upper_ratio
        |FROM aug ORDER BY doc_id""".stripMargin,
    // twin-variant oracles: replay the dedup machinery on the
    // deterministic twin corpus (doc i ↔ i+1,000,000; every 15th token
    // dropped) with md5-derived hashes DuckDB computes bit-identically
    // containment replays the planted-twin corpus, rare-gram blocking
    // and the integer cross-multiplied threshold exactly
    "llm_containment_dedup" ->
      """WITH base AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '\s+'), w -> w <> '') AS t
        |  FROM documents),
        |twin AS (
        |  SELECT doc_id + 1000000 AS doc_id,
        |         list_filter(t, (w, i) -> (i - 1) % 15 <> 0) AS t
        |  FROM base WHERE doc_id % 10 = 0),
        |allt AS (SELECT * FROM base UNION ALL SELECT * FROM twin),
        |gr AS (
        |  SELECT doc_id, CASE WHEN len(t) >= 3
        |    THEN list_transform(generate_series(1, len(t) - 2),
        |                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
        |    ELSE [array_to_string(t, ' ')] END AS grams
        |  FROM allt),
        |g AS (SELECT doc_id, unnest(list_distinct(grams)) AS gram FROM gr),
        |freq AS (SELECT gram, count(*) AS f FROM g GROUP BY 1),
        |rare AS (SELECT gram FROM freq WHERE f BETWEEN 2 AND 5),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |         FROM g a JOIN rare r ON a.gram = r.gram
        |         JOIN g b ON b.gram = r.gram AND a.doc_id < b.doc_id),
        |s AS (SELECT doc_id, list_distinct(grams) AS g FROM gr)
        |SELECT doc_a, doc_b,
        |       CAST(len(list_intersect(sa.g, sb.g)) AS BIGINT) AS inter,
        |       CAST(len(sa.g) AS BIGINT) AS size_a,
        |       CAST(len(sb.g) AS BIGINT) AS size_b
        |FROM cand JOIN s sa ON sa.doc_id = doc_a
        |          JOIN s sb ON sb.doc_id = doc_b
        |WHERE len(list_intersect(sa.g, sb.g)) * 100
        |      >= 80 * least(len(sa.g), len(sb.g))
        |ORDER BY doc_a, doc_b""".stripMargin,
    "llm_twin_ngram_jaccard" ->
      """WITH orig AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '\s+'), w -> w <> '') AS t
        |  FROM documents WHERE doc_id % 10 = 0),
        |twin AS (
        |  SELECT doc_id + 1000000 AS doc_id,
        |         list_filter(t, (w, i) -> (i - 1) % 15 <> 0) AS t
        |  FROM orig WHERE doc_id % 10 = 0),
        |allt AS (SELECT * FROM orig UNION ALL SELECT * FROM twin),
        |gr AS (
        |  SELECT doc_id, CASE WHEN len(t) >= 3
        |    THEN list_transform(generate_series(1, len(t) - 2),
        |                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
        |    ELSE [array_to_string(t, ' ')] END AS grams
        |  FROM allt),
        |s AS (SELECT doc_id, list_distinct(grams) AS g FROM gr)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       round(len(list_intersect(a.g, b.g))::DOUBLE /
        |             (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))), 4) AS jaccard
        |FROM s a JOIN s b ON b.doc_id = a.doc_id + 1000000
        |ORDER BY doc_a""".stripMargin,
    "llm_twin_simhash_hamming" ->
      """WITH orig AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '\s+'), w -> w <> '') AS t
        |  FROM documents WHERE doc_id % 10 = 0),
        |twin AS (
        |  SELECT doc_id + 1000000 AS doc_id,
        |         list_filter(t, (w, i) -> (i - 1) % 15 <> 0) AS t
        |  FROM orig WHERE doc_id % 10 = 0),
        |allt AS (SELECT * FROM orig UNION ALL SELECT * FROM twin),
        |w AS (SELECT doc_id, unnest(CASE WHEN len(t) = 0 THEN [NULL] ELSE t END) AS w
        |      FROM allt),
        |h AS (SELECT doc_id, CAST(('0x' || substring(md5(w), 1, 8)) AS BIGINT) AS h FROM w),
        |bits AS (SELECT doc_id, j,
        |                sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |         FROM h, unnest(generate_series(0, 31)) AS u(j) GROUP BY 1, 2),
        |fp AS (SELECT doc_id, sum(CASE WHEN s > 0 THEN 1::BIGINT << j ELSE 0 END) AS fp
        |       FROM bits GROUP BY 1)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
        |FROM fp a JOIN fp b ON b.doc_id = a.doc_id + 1000000
        |ORDER BY doc_a""".stripMargin,
    "llm_twin_minhash_est" ->
      """WITH orig AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '\s+'), w -> w <> '') AS t
        |  FROM documents WHERE doc_id % 10 = 0),
        |twin AS (
        |  SELECT doc_id + 1000000 AS doc_id,
        |         list_filter(t, (w, i) -> (i - 1) % 15 <> 0) AS t
        |  FROM orig WHERE doc_id % 10 = 0),
        |allt AS (SELECT * FROM orig UNION ALL SELECT * FROM twin),
        |gr AS (
        |  SELECT doc_id, CASE WHEN len(t) >= 3
        |    THEN list_transform(generate_series(1, len(t) - 2),
        |                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
        |    ELSE [array_to_string(t, ' ')] END AS grams
        |  FROM allt),
        |g2 AS (SELECT doc_id, unnest(grams) AS gram FROM gr),
        |sig AS (SELECT doc_id, p,
        |               min(CAST(('0x' || substring(md5(gram || ':' || p::VARCHAR), 1, 8))
        |                   AS BIGINT)) AS m
        |        FROM g2, unnest(generate_series(0, 31)) AS u(p) GROUP BY 1, 2)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       round(sum(CASE WHEN a.m = b.m THEN 1 ELSE 0 END) / 32.0, 4) AS est_jaccard
        |FROM sig a JOIN sig b ON b.doc_id = a.doc_id + 1000000 AND a.p = b.p
        |GROUP BY 1, 2 ORDER BY doc_a""".stripMargin,
    "llm_ann_lsh_twin_top1" ->
      """SELECT vec_id + 1000000 AS query_id, vec_id AS neighbor_id,
        |       round(list_cosine_similarity(
        |         list_concat([embedding[1]::DOUBLE + 0.05],
        |           list_transform(embedding[2:], x -> x::DOUBLE)),
        |         list_transform(embedding, x -> x::DOUBLE)), 4) AS cos_sim
        |FROM embeddings WHERE vec_id % 10 = 0 ORDER BY query_id""".stripMargin,
    // multi-probe twin-top1: identical exact expected answer (each
    // twin's nearest neighbor is its source regardless of probing)
    "llm_ann_lsh_multiprobe" ->
      """SELECT vec_id + 1000000 AS query_id, vec_id AS neighbor_id,
        |       round(list_cosine_similarity(
        |         list_concat([embedding[1]::DOUBLE + 0.05],
        |           list_transform(embedding[2:], x -> x::DOUBLE)),
        |         list_transform(embedding, x -> x::DOUBLE)), 4) AS cos_sim
        |FROM embeddings WHERE vec_id % 10 = 0 ORDER BY query_id""".stripMargin,
    "llm_ann_bruteforce" ->
      """WITH q AS (SELECT vec_id AS query_id,
        |                  list_transform(embedding, x -> x::DOUBLE) AS q_emb
        |           FROM embeddings WHERE vec_id IN (0,1,2,3,4)),
        |scored AS (
        |  SELECT query_id, e.vec_id AS neighbor_id,
        |         round(list_cosine_similarity(
        |           list_transform(e.embedding, x -> x::DOUBLE), q_emb), 4) AS cos_sim
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> query_id),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |            ORDER BY cos_sim DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos_sim
        |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    // PQ with an everything-shortlist: the exact rerank sees every
    // vector, so the answer IS the brute-force top-k — same oracle
    "llm_ann_ivfpq_rerank_all" ->
      """WITH q AS (SELECT vec_id AS query_id,
        |                  list_transform(embedding, x -> x::DOUBLE) AS q_emb
        |           FROM embeddings WHERE vec_id IN (0,1,2,3,4)),
        |scored AS (
        |  SELECT query_id, e.vec_id AS neighbor_id,
        |         round(list_cosine_similarity(
        |           list_transform(e.embedding, x -> x::DOUBLE), q_emb), 4) AS cos_sim
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> query_id),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |            ORDER BY cos_sim DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos_sim
        |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    // SQ8: the oracle REPLAYS the whole quantization pipeline —
    // per-dim min/max calibration, floor(r+0.5) uint8 quantize, linear
    // dequantize, exact cosine over the dequantized doubles
    "llm_ann_sq8" -> sq8OracleSql,
    // BM25 (Lucene 1+ idf variant), k1=1.2 b=0.75 pre-folded to the
    // same literal shapes; idf 6 dp, per-term 6 dp, score 4 dp
    "llm_bm25_topk" -> (bm25RankedCte +
      """
        |SELECT query_id, doc_id, CAST(rank AS INT) AS rank, score
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    // nDCG@5 + first-full-hit RR on the BM25 ranking: relevance =
    // distinct query terms present; discounts rounded to micros
    // BEFORE the products so both aggregates are integer-exact
    "llm_retrieval_ndcg" -> (bm25RankedCte +
      """,
        |rel AS (
        |  SELECT query_id, doc_id,
        |         CAST(count(DISTINCT w) AS BIGINT) AS rel
        |  FROM (SELECT DISTINCT t.doc_id, q.query_id, t.w
        |        FROM toks t JOIN q ON q.qw = t.w)
        |  GROUP BY 1, 2),
        |nt AS (SELECT query_id, count(*) AS n_terms FROM q GROUP BY 1),
        |dcg AS (
        |  SELECT r.query_id,
        |         CAST(sum(rel * CAST(round(1e6 /
        |           log2(CAST(rank AS DOUBLE) + 1)) AS BIGINT))
        |           AS BIGINT) AS dcg_micro
        |  FROM ranked r JOIN rel USING (query_id, doc_id)
        |  WHERE rank <= 5 GROUP BY 1),
        |ideal AS (
        |  SELECT query_id,
        |         CAST(sum(rel * CAST(round(1e6 /
        |           log2(CAST(irank AS DOUBLE) + 1)) AS BIGINT))
        |           AS BIGINT) AS idcg_micro
        |  FROM (SELECT query_id, rel, doc_id,
        |               row_number() OVER (PARTITION BY query_id
        |                 ORDER BY rel DESC, doc_id) AS irank
        |        FROM rel)
        |  WHERE irank <= 5 GROUP BY 1),
        |ff AS (
        |  SELECT r.query_id, min(rank) AS first_full
        |  FROM ranked r JOIN rel USING (query_id, doc_id)
        |       JOIN nt USING (query_id)
        |  WHERE rank <= 5 AND rel = n_terms GROUP BY 1)
        |SELECT d.query_id, dcg_micro, idcg_micro,
        |       CAST(floor(1000000 * dcg_micro / nullif(idcg_micro, 0))
        |            AS BIGINT) AS ndcg_micro,
        |       coalesce(CAST(round(1e6 / first_full) AS BIGINT),
        |                CAST(0 AS BIGINT)) AS rr_full_micro
        |FROM dcg d JOIN ideal USING (query_id)
        |     LEFT JOIN ff USING (query_id)
        |ORDER BY d.query_id""".stripMargin),
    // hybrid RRF: both rankers replayed (BM25 body ≡ llm_bm25_topk
    // with the RELATIONALLY derived first-8-token queries; cosine body
    // ≡ llm_ann_bruteforce), fused by the integer-micro 1/(60+rank)
    "llm_hybrid_rrf" ->
      """WITH toks AS (SELECT doc_id, unnest(list_filter(
        |           string_split_regex(lower(text), '\s+'),
        |           w -> w <> '')) AS w
        |         FROM documents),
        |qt AS (SELECT doc_id AS query_id, qw FROM (
        |         SELECT doc_id, unnest(list_slice(list_filter(
        |           string_split_regex(lower(text), '\s+'),
        |           w -> w <> ''), 1, 8)) AS qw
        |         FROM documents WHERE doc_id IN (0,1,2,3,4))
        |       GROUP BY 1, 2),
        |lens AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY 1),
        |stats AS (SELECT count(*) AS n_docs, sum(len) AS sum_len FROM lens),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM toks
        |       WHERE w IN (SELECT qw FROM qt) GROUP BY 1, 2),
        |df AS (SELECT w, count(DISTINCT doc_id) AS df FROM toks
        |       WHERE w IN (SELECT qw FROM qt) GROUP BY 1),
        |contrib AS (
        |  SELECT qt.query_id, tf.doc_id,
        |         round(round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)), 6) *
        |               (tf * 2.2) /
        |               (tf + 1.2 * (0.25 + 0.75 *
        |                 (CAST(len AS DOUBLE) /
        |                  (CAST(sum_len AS DOUBLE) / CAST(n_docs AS DOUBLE))))),
        |               6) AS c
        |  FROM tf JOIN df USING (w) JOIN lens USING (doc_id)
        |       CROSS JOIN stats JOIN qt ON qt.qw = tf.w),
        |lexagg AS (SELECT query_id, doc_id, round(sum(c), 4) AS score
        |           FROM contrib WHERE doc_id <> query_id GROUP BY 1, 2),
        |lexd AS (SELECT query_id, doc_id, lex_rank FROM (
        |           SELECT *, row_number() OVER (PARTITION BY query_id
        |                     ORDER BY score DESC, doc_id) AS lex_rank
        |           FROM lexagg) WHERE lex_rank <= 20),
        |q AS (SELECT vec_id AS query_id,
        |             list_transform(embedding, x -> x::DOUBLE) AS q_emb
        |      FROM embeddings WHERE vec_id IN (0,1,2,3,4)),
        |scored AS (
        |  SELECT query_id, e.vec_id AS doc_id,
        |         round(list_cosine_similarity(
        |           list_transform(e.embedding, x -> x::DOUBLE), q_emb), 4)
        |           AS cos_sim
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> query_id),
        |densed AS (SELECT query_id, doc_id, dense_rank FROM (
        |             SELECT *, row_number() OVER (PARTITION BY query_id
        |                       ORDER BY cos_sim DESC, doc_id) AS dense_rank
        |             FROM scored) WHERE dense_rank <= 20),
        |fused AS (
        |  SELECT coalesce(l.query_id, d.query_id) AS query_id,
        |         coalesce(l.doc_id, d.doc_id) AS doc_id,
        |         CAST(l.lex_rank AS BIGINT) AS lex_rank,
        |         CAST(d.dense_rank AS BIGINT) AS dense_rank,
        |         coalesce(CAST(round(CAST(1000000 AS DOUBLE)
        |                  / CAST(60 + l.lex_rank AS DOUBLE)) AS BIGINT), 0)
        |       + coalesce(CAST(round(CAST(1000000 AS DOUBLE)
        |                  / CAST(60 + d.dense_rank AS DOUBLE)) AS BIGINT), 0)
        |           AS rrf_micros
        |  FROM lexd l FULL OUTER JOIN densed d
        |    ON l.query_id = d.query_id AND l.doc_id = d.doc_id)
        |SELECT query_id, doc_id, lex_rank, dense_rank, rrf_micros,
        |       CAST(rank AS BIGINT) AS rank
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |              ORDER BY rrf_micros DESC, doc_id) AS rank
        |      FROM fused)
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    // the MG sketch is a superset discoverer; after the exact verify
    // pass the result is literally this aggregate
    "llm_heavy_hitters" ->
      """WITH toks AS (SELECT unnest(list_filter(
        |                string_split_regex(lower(text), '\s+'),
        |                w -> w <> '')) AS w
        |              FROM documents),
        |n AS (SELECT count(*) AS n FROM toks)
        |SELECT w AS token, count(*) AS ct
        |FROM toks CROSS JOIN n
        |GROUP BY w, n.n
        |HAVING count(*) > CAST(n.n AS DOUBLE) / 50
        |ORDER BY ct DESC, token""".stripMargin,
    // CMS replayed cell-by-cell: same md5-derived row hashes, same
    // depth×width grid, min over depth estimates; sums cast BIGINT
    // (DuckDB sum would go HUGEINT)
    "llm_cms_audit" ->
      """WITH t AS (SELECT
        |             list_filter(string_split_regex(lower(text), '\s+'),
        |                         w -> w <> '') AS a
        |           FROM documents),
        |toks AS (SELECT unnest(list_distinct(CASE WHEN len(a) >= 3
        |           THEN list_transform(generate_series(1, len(a) - 2),
        |                  i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])
        |           ELSE [array_to_string(a, ' ')] END)) AS w
        |         FROM t),
        |c AS (SELECT w, count(*) AS ct FROM toks GROUP BY 1),
        |cells AS (
        |  SELECT w, ct, r,
        |         CAST(('0x' || substring(md5('cms' || r || ':' || w), 1, 8))
        |              AS BIGINT) % 512 AS cell
        |  FROM c CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r)),
        |sk AS (SELECT r, cell, CAST(sum(ct) AS BIGINT) AS cct
        |       FROM cells GROUP BY 1, 2)
        |SELECT p.w AS token, min(p.ct) AS exact_ct, min(s.cct) AS cms_est,
        |       min(s.cct) - min(p.ct) AS over_err
        |FROM cells p JOIN sk s ON s.r = p.r AND s.cell = p.cell
        |WHERE length(p.w) >= 8
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // KMV: k smallest DISTINCT 60-bit token hashes per group; the
    // (all) row is equivalently the global k minima (any global
    // minimum is a minimum within its own group — the merge law the
    // engine's sketch-union rollup relies on); < k distinct → exact
    "llm_kmv_distinct" ->
      """WITH t AS (SELECT lang,
        |             list_filter(string_split_regex(lower(text), '\s+'),
        |                         w -> w <> '') AS a
        |           FROM documents),
        |toks AS (SELECT lang, unnest(CASE WHEN len(a) >= 3
        |           THEN list_transform(generate_series(1, len(a) - 2),
        |                  i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])
        |           ELSE [array_to_string(a, ' ')] END) AS w
        |         FROM t),
        |h AS (SELECT DISTINCT lang,
        |             CAST(('0x' || substring(md5(w), 1, 15)) AS BIGINT) AS h
        |      FROM toks),
        |rk AS (SELECT lang AS grp, h,
        |              row_number() OVER (PARTITION BY lang ORDER BY h) AS i
        |       FROM h),
        |rka AS (SELECT '(all)' AS grp, h,
        |               row_number() OVER (ORDER BY h) AS i
        |        FROM (SELECT DISTINCT h FROM h)),
        |kth AS (SELECT grp, h AS kth FROM rk WHERE i = 256
        |        UNION ALL SELECT grp, h FROM rka WHERE i = 256),
        |ex AS (SELECT lang AS grp, count(DISTINCT w) AS exact_distinct
        |       FROM toks GROUP BY 1
        |       UNION ALL
        |       SELECT '(all)', count(DISTINCT w) FROM toks)
        |SELECT ex.grp, ex.exact_distinct,
        |       coalesce(CAST(round(CAST(255 AS DOUBLE)
        |                  * (power(CAST(2 AS DOUBLE), CAST(60 AS DOUBLE))
        |                     - CAST(1 AS DOUBLE))
        |                  / CAST(kth.kth AS DOUBLE)) AS BIGINT),
        |                ex.exact_distinct) AS kmv_est
        |FROM ex LEFT JOIN kth ON kth.grp = ex.grp
        |ORDER BY ex.grp""".stripMargin,
    // bigrams by indexing the filtered token array; V over ALL
    // unigrams; prefix count summed over the bigram-type frame
    "llm_bigram_lm" ->
      """WITH toks AS (
        |  SELECT list_filter(string_split_regex(lower(text), '\s+'),
        |                     t -> t <> '') AS a
        |  FROM documents),
        |v AS (SELECT count(DISTINCT w) AS v
        |      FROM (SELECT unnest(a) AS w FROM toks)),
        |idx AS (SELECT a, unnest(range(1, len(a))) AS i FROM toks
        |        WHERE len(a) >= 2),
        |big AS (SELECT a[CAST(i AS INT)] AS w1,
        |               a[CAST(i AS INT) + 1] AS w2 FROM idx),
        |c12 AS (SELECT w1, w2, count(*) AS ct FROM big GROUP BY 1, 2),
        |c AS (SELECT w1, w2, ct,
        |             CAST(sum(ct) OVER (PARTITION BY w1) AS BIGINT) AS c1
        |      FROM c12)
        |SELECT w1, w2, ct,
        |       round(CAST(ct + 1 AS DOUBLE) / CAST(c1 + v AS DOUBLE), 6)
        |         AS prob
        |FROM c CROSS JOIN v WHERE ct >= 5 ORDER BY w1, w2""".stripMargin,
    // PMI is pure integer-count arithmetic inside one ln(), so the
    // replay is exact; ranking is fully tie-broken (pmi, w_a, w_b)
    "llm_pmi_cooccurrence" ->
      """WITH raw AS (SELECT doc_id, unnest(list_filter(
        |               string_split_regex(lower(text), '\s+'),
        |               w -> w <> '')) AS w
        |             FROM documents),
        |toks AS (SELECT DISTINCT doc_id, w FROM raw),
        |eligible AS (SELECT doc_id FROM toks GROUP BY doc_id
        |             HAVING count(*) <= 512),
        |t AS (SELECT toks.* FROM toks JOIN eligible USING (doc_id)),
        |df AS (SELECT w, count(*) AS df FROM t GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM eligible),
        |pairs AS (SELECT a.w AS w_a, b.w AS w_b, count(*) AS cooc
        |          FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.w < b.w
        |          GROUP BY 1, 2 HAVING count(*) >= 5),
        |scored AS (SELECT w_a, w_b, cooc,
        |    round(ln(CAST(cooc * n_docs AS DOUBLE) /
        |             CAST(df_a.df * df_b.df AS DOUBLE)), 6) AS pmi
        |  FROM pairs JOIN df df_a ON df_a.w = pairs.w_a
        |             JOIN df df_b ON df_b.w = pairs.w_b CROSS JOIN n)
        |SELECT w_a, w_b, cooc, pmi, CAST(rank AS INT) AS rank FROM (
        |  SELECT *, row_number() OVER (ORDER BY pmi DESC, w_a, w_b) AS rank
        |  FROM scored)
        |WHERE rank <= 100 ORDER BY rank""".stripMargin,
    // fuzzy join oracle is the O(n²) literal semantics over the small
    // distinct-name vocabulary; the engine's blocking must be lossless
    "llm_fuzzy_join" ->
      """WITH n AS (SELECT DISTINCT p_name AS name FROM part
        |           WHERE p_name IS NOT NULL)
        |SELECT a.name AS name_a, b.name AS name_b,
        |       CAST(levenshtein(a.name, b.name) AS INT) AS dist
        |FROM n a JOIN n b ON a.name < b.name
        |WHERE levenshtein(a.name, b.name) <= 2
        |ORDER BY 1, 2""".stripMargin,
    "llm_jaro_winkler" ->
      """WITH n AS (SELECT DISTINCT p_brand AS brand,
        |                  CAST(p_name AS VARCHAR) AS name
        |           FROM part WHERE p_name IS NOT NULL)
        |SELECT DISTINCT name_a, name_b, jw_micros FROM (
        |  SELECT a.name AS name_a, b.name AS name_b,
        |         CAST(round(jaro_winkler_similarity(a.name, b.name)
        |              * 1000000) AS BIGINT) AS jw_micros
        |  FROM n a JOIN n b
        |    ON a.brand = b.brand
        |   AND a.name < b.name)
        |WHERE jw_micros >= 800000
        |ORDER BY name_a, name_b""".stripMargin,
    // sorted-neighborhood blocking: bucket-partitioned lead() windows
    // over the normalized 64-char key, JW verify in integer micros
    "llm_dedup_snm" ->
      """WITH k0 AS (
        |  SELECT doc_id,
        |         substr(regexp_replace(lower(text),
        |           '[^a-z0-9]', '', 'g'), 1, 64) AS k
        |  FROM documents),
        |k1 AS (SELECT doc_id, k, substr(k, 1, 2) AS bucket
        |       FROM k0 WHERE length(k) > 0),
        |l AS (
        |  SELECT doc_id, k,
        |         lead(doc_id, 1) OVER w AS nd_1, lead(k, 1) OVER w AS nk_1,
        |         lead(doc_id, 2) OVER w AS nd_2, lead(k, 2) OVER w AS nk_2,
        |         lead(doc_id, 3) OVER w AS nd_3, lead(k, 3) OVER w AS nk_3
        |  FROM k1
        |  WINDOW w AS (PARTITION BY bucket ORDER BY k, doc_id)),
        |p AS (
        |  SELECT doc_id AS doc_a, nd_1 AS doc_b,
        |         CAST(round(jaro_winkler_similarity(k, nk_1) * 1000000)
        |              AS BIGINT) AS jw_micros
        |  FROM l WHERE nd_1 IS NOT NULL
        |  UNION ALL
        |  SELECT doc_id, nd_2,
        |         CAST(round(jaro_winkler_similarity(k, nk_2) * 1000000)
        |              AS BIGINT)
        |  FROM l WHERE nd_2 IS NOT NULL
        |  UNION ALL
        |  SELECT doc_id, nd_3,
        |         CAST(round(jaro_winkler_similarity(k, nk_3) * 1000000)
        |              AS BIGINT)
        |  FROM l WHERE nd_3 IS NOT NULL)
        |SELECT doc_a, doc_b, jw_micros FROM p
        |WHERE jw_micros >= 900000
        |ORDER BY doc_a, doc_b""".stripMargin,
    // pairs replayed exactly (the fuzzy-join oracle), components by
    // recursive reachability with UNION dedup, canonical = least
    // reachable name (incl. self), singletons ride the left join
    "llm_entity_resolution" ->
      """WITH RECURSIVE n AS (
        |  SELECT DISTINCT p_name AS name FROM part
        |  WHERE p_name IS NOT NULL),
        |p AS (
        |  SELECT a.name AS name_a, b.name AS name_b
        |  FROM n a JOIN n b ON a.name < b.name
        |  WHERE abs(length(a.name) - length(b.name)) <= 2
        |    AND levenshtein(a.name, b.name) <= 2),
        |e AS (SELECT name_a AS u, name_b AS v FROM p
        |      UNION ALL SELECT name_b AS u, name_a AS v FROM p),
        |r(u, v) AS (
        |  SELECT u, v FROM e
        |  UNION
        |  SELECT r.u, e.v FROM r JOIN e ON e.u = r.v),
        |canon AS (
        |  SELECT u AS name, least(u, min(v)) AS canonical
        |  FROM r GROUP BY u),
        |allc AS (
        |  SELECT n.name, coalesce(c.canonical, n.name) AS canonical
        |  FROM n LEFT JOIN canon c USING (name))
        |SELECT name, canonical,
        |       CAST(count(*) OVER (PARTITION BY canonical) AS BIGINT)
        |         AS cluster_size
        |FROM allc ORDER BY name""".stripMargin,
    // full-probe IVF visits every cell, so its exact answer IS the
    // brute-force top-k — same oracle
    "llm_ann_ivf_fullprobe" ->
      """WITH q AS (SELECT vec_id AS query_id,
        |                  list_transform(embedding, x -> x::DOUBLE) AS q_emb
        |           FROM embeddings WHERE vec_id IN (0,1,2,3,4)),
        |scored AS (
        |  SELECT query_id, e.vec_id AS neighbor_id,
        |         round(list_cosine_similarity(
        |           list_transform(e.embedding, x -> x::DOUBLE), q_emb), 4) AS cos_sim
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> query_id),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |            ORDER BY cos_sim DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos_sim
        |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "llm_ann_neardup_cosine" ->
      """SELECT vec_a, vec_b, cos_sim FROM (
        |  SELECT vec_id AS vec_a, vec_id + 1000000 AS vec_b,
        |         round(list_cosine_similarity(
        |           list_transform(embedding, x -> x::DOUBLE),
        |           list_concat([embedding[1]::DOUBLE + 0.05],
        |             list_transform(embedding[2:], x -> x::DOUBLE))), 4) AS cos_sim
        |  FROM embeddings WHERE vec_id % 10 = 0)
        |WHERE cos_sim >= 0.9 ORDER BY vec_a""".stripMargin,
    // twin-blocked pairs make components exact: each twin reaches only
    // its source, so component = source id, canonical = the source
    "llm_semdedup_twin" ->
      """WITH dup AS (
        |  SELECT vec_id AS src, vec_id + 1000000 AS twin FROM (
        |    SELECT vec_id, round(list_cosine_similarity(
        |      list_transform(embedding, x -> x::DOUBLE),
        |      list_concat([embedding[1]::DOUBLE + 0.05],
        |        list_transform(embedding[2:], x -> x::DOUBLE))), 4) AS cos_sim
        |    FROM embeddings WHERE vec_id % 10 = 0)
        |  WHERE cos_sim >= 0.9),
        |corpus AS (SELECT vec_id FROM embeddings
        |           UNION ALL
        |           SELECT vec_id + 1000000 FROM embeddings WHERE vec_id % 10 = 0)
        |SELECT c.vec_id, coalesce(d.src, c.vec_id) AS component_id,
        |       CAST(CASE WHEN d.src IS NULL THEN 1 ELSE 0 END AS INT)
        |         AS is_canonical
        |FROM corpus c LEFT JOIN dup d ON c.vec_id = d.twin
        |ORDER BY vec_id""".stripMargin,
    "llm_text_quality" ->
      """SELECT doc_id, n_words,
        |       round(stop_ct / n_words, 4) AS stop_ratio,
        |       round(uniq_ct / n_words, 4) AS uniq_ratio,
        |       round(length(text) / n_words, 4) AS avg_token_span,
        |       CASE WHEN n_words = 0 THEN 0.0
        |            ELSE round(least(n_words / 200.0, 1.0)
        |                       * (uniq_ct / n_words), 4) END
        |         AS quality_score
        |FROM (SELECT doc_id, text, CAST(len(words) AS BIGINT) AS n_words,
        |             CAST(len(list_filter(words,
        |               w -> w IN ('the','a','of','and','to'))) AS BIGINT) AS stop_ct,
        |             CAST(len(list_distinct(words)) AS BIGINT) AS uniq_ct
        |      FROM (SELECT doc_id, text,
        |              list_filter(string_split_regex(lower(text), '\s+'),
        |                          w -> w <> '') AS words
        |            FROM documents))
        |ORDER BY doc_id""".stripMargin,
    "llm_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '\s+'),
        |                     w -> w <> '') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
        |         CASE WHEN len(t) >= 2 THEN
        |           list_transform(generate_series(1, len(t) - 1),
        |                          i -> t[i] || ' ' || t[i+1])
        |         ELSE [] END AS bi,
        |         CASE WHEN len(t) >= 3 THEN
        |           list_transform(generate_series(1, len(t) - 2),
        |                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
        |         ELSE [] END AS tri
        |  FROM toks),
        |bic AS (
        |  SELECT doc_id, g, count(*) AS ct
        |  FROM (SELECT doc_id, unnest(bi) AS g FROM grams) GROUP BY 1, 2),
        |bitop AS (
        |  SELECT doc_id, g AS top_bigram, CAST(ct AS BIGINT) AS top_bigram_ct
        |  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
        |                    ORDER BY ct DESC, g) AS rn FROM bic)
        |  WHERE rn = 1),
        |tria AS (
        |  SELECT doc_id,
        |         CAST(sum(CASE WHEN ct > 1 THEN ct ELSE 0 END) AS BIGINT)
        |           AS dup_tri_pos,
        |         CAST(sum(ct) AS BIGINT) AS tri_pos
        |  FROM (SELECT doc_id, g, count(*) AS ct
        |        FROM (SELECT doc_id, unnest(tri) AS g FROM grams)
        |        GROUP BY 1, 2)
        |  GROUP BY 1)
        |SELECT g.doc_id, g.n_tokens, b.top_bigram, b.top_bigram_ct,
        |       CASE WHEN g.n_tokens > 1
        |            THEN round(b.top_bigram_ct * 2.0 / g.n_tokens, 4)
        |       END AS top_bigram_frac,
        |       CASE WHEN a.tri_pos > 0
        |            THEN round(a.dup_tri_pos / a.tri_pos::DOUBLE, 4)
        |       END AS dup_trigram_frac,
        |       (coalesce(b.top_bigram_ct * 2.0 / g.n_tokens, 0) > 0.2 OR
        |        coalesce(a.dup_tri_pos / a.tri_pos::DOUBLE, 0) > 0.15)
        |         AS repetition_flag
        |FROM grams g
        |LEFT JOIN bitop b ON g.doc_id = b.doc_id
        |LEFT JOIN tria a ON g.doc_id = a.doc_id
        |ORDER BY g.doc_id""".stripMargin,
    "llm_lang_id" ->
      """SELECT lang, pred_lang, count(*) AS doc_ct
        |FROM (SELECT lang,
        |        CASE WHEN en_ct >= es_ct AND en_ct >= fr_ct AND en_ct >= de_ct
        |               AND en_ct > 0 THEN 'en'
        |             WHEN es_ct >= fr_ct AND es_ct >= de_ct AND es_ct > 0 THEN 'es'
        |             WHEN fr_ct >= de_ct AND fr_ct > 0 THEN 'fr'
        |             WHEN de_ct > 0 THEN 'de'
        |             ELSE 'und' END AS pred_lang
        |      FROM (SELECT lang,
        |              len(list_filter(words, w -> w IN ('the','and','of'))) AS en_ct,
        |              len(list_filter(words, w -> w IN ('el','la','los','y'))) AS es_ct,
        |              len(list_filter(words, w -> w IN ('le','et','les'))) AS fr_ct,
        |              len(list_filter(words, w -> w IN ('der','und','die'))) AS de_ct
        |            FROM (SELECT lang,
        |                    list_filter(string_split_regex(lower(text), '\s+'),
        |                                w -> w <> '') AS words
        |                  FROM documents)))
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "llm_token_count" ->
      """SELECT doc_id,
        |       CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |                            w -> w <> '')) AS BIGINT) AS ws_tokens,
        |       CAST(len(regexp_extract_all(lower(text),
        |                 '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS bpe_ish_tokens,
        |       CAST(length(text) AS BIGINT) AS char_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    // zlib outputs pinned by the committed fixture (see the queries()
    // comment); raw_bytes recomputed from the table so the fixture
    // cannot mask a text/byte-length drift
    "llm_compression_ratio" ->
      """SELECT d.doc_id,
        |       octet_length(encode(d.text)) AS raw_bytes,
        |       f.deflate_bytes, f.compression_ratio
        |FROM documents d
        |JOIN read_parquet('/root/repo/tools/fixtures/compression_ratio_sf001.parquet') f
        |  ON d.doc_id = f.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "llm_fingerprint" ->
      """SELECT doc_id, md5(lower(text)) AS fp,
        |       substring(md5(lower(text)), 1, 4) AS shard_key,
        |       CAST(length(text) AS BIGINT) AS char_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "llm_winnow_fingerprint" ->
      """WITH docs AS (SELECT doc_id, lower(text) AS t FROM documents),
        |g AS (
        |  SELECT doc_id, u.pos,
        |         CAST(('0x' || substring(md5(substring(t, u.pos, 8)), 1, 8)) AS BIGINT) AS h
        |  FROM docs, unnest(generate_series(1, greatest(length(t) - 7, 1))) AS u(pos)),
        |w AS (SELECT doc_id,
        |             min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |                          ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS wmin
        |      FROM g)
        |SELECT doc_id, count(DISTINCT wmin) AS fp_ct,
        |       CAST(min(wmin) AS BIGINT) AS fp_min,
        |       CAST(max(wmin) AS BIGINT) AS fp_max
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,
    // priority sampling: w/u on exact integer-derived operands — the
    // one multiply + one divide replay bit-identically, no ln/pow
    "llm_priority_sample" ->
      """SELECT doc_id, lang, source, CAST(n_chars AS BIGINT) AS n_chars,
        |       round(CAST(n_chars AS DOUBLE) * 4294967296.0 /
        |             (CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
        |                                      1, 8)) AS BIGINT) + 1),
        |             4) AS priority
        |FROM documents
        |ORDER BY priority DESC, doc_id LIMIT 100""".stripMargin,
    "llm_stratified_sample" ->
      """SELECT doc_id, lang, source, CAST(n_chars AS BIGINT) AS n_chars
        |FROM documents
        |WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))
        |           AS BIGINT) % 100 < 20
        |ORDER BY doc_id""".stripMargin,
    // per-doc top-3 terms by tf × 6-dp-rounded idf, (score desc, term)
    // tie-break
    "llm_tfidf_terms" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |      string_split_regex(lower(text), '\s+'), w -> w <> '')) AS w
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, w, count(*) AS ct,
        |         sum(count(*)) OVER (PARTITION BY doc_id) AS len
        |  FROM toks GROUP BY doc_id, w),
        |df AS (SELECT w, count(DISTINCT doc_id) AS df FROM toks GROUP BY w),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, w,
        |         round((ct / CAST(len AS DOUBLE)) *
        |               round(ln(CAST(n_docs AS DOUBLE) / df), 6), 6) AS tfidf
        |  FROM tf JOIN df USING (w) CROSS JOIN n)
        |SELECT doc_id, w AS term, CAST(rank AS INT) AS rank, tfidf
        |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
        |        ORDER BY tfidf DESC, w) AS rank
        |      FROM scored)
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    // sliding token windows: stride = max - overlap; ≤-budget docs
    // yield one chunk, empty docs none
    "llm_chunk_split" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '\s+'),
        |                     w -> w <> '') AS t
        |  FROM documents),
        |n AS (SELECT doc_id, t,
        |             CASE WHEN len(t) = 0 THEN 0
        |                  WHEN len(t) <= 64 THEN 1
        |                  ELSE CAST(ceil((len(t) - 64) / 56.0) AS INT) + 1
        |             END AS n_chunks
        |      FROM toks)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
        |       CAST(len(t[i * 56 + 1 : i * 56 + 64]) AS BIGINT) AS n_tokens,
        |       list_aggregate(t[i * 56 + 1 : i * 56 + 64], 'string_agg', ' ')
        |         AS chunk_text
        |FROM n, unnest(generate_series(0, n_chunks - 1)) AS u(i)
        |WHERE n_chunks > 0
        |ORDER BY doc_id, chunk_id""".stripMargin,
    // split by hashed COMPONENT id (recursive-CTE components over the
    // chain/star fixture), so near-dups never straddle splits
    "llm_split_assign" ->
      """WITH RECURSIVE edges AS (
        |  SELECT doc_id AS u, doc_id + 1 AS v FROM documents
        |  WHERE doc_id % 7 < 4
        |    AND doc_id + 1 IN (SELECT doc_id FROM documents)
        |  UNION
        |  SELECT doc_id - doc_id % 50 AS u, doc_id AS v FROM documents
        |  WHERE doc_id % 50 IN (10, 20, 30)
        |    AND doc_id - doc_id % 50 IN (SELECT doc_id FROM documents)),
        |sym AS (SELECT u AS a, v AS b FROM edges
        |        UNION SELECT v, u FROM edges),
        |reach(node, r) AS (
        |  SELECT a, a FROM sym
        |  UNION
        |  SELECT s.b, reach.r FROM reach JOIN sym s ON s.a = reach.node),
        |comp AS (SELECT node, min(r) AS component_id FROM reach GROUP BY node),
        |assigned AS (
        |  SELECT d.doc_id, coalesce(c.component_id, d.doc_id) AS component_id
        |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node)
        |SELECT doc_id, component_id,
        |       CASE WHEN sel < 80 THEN 'train'
        |            WHEN sel < 90 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM (SELECT doc_id, component_id,
        |        CAST(('0x' || substring(
        |          md5('split:' || CAST(component_id AS VARCHAR)),
        |          1, 8)) AS BIGINT) % 100 AS sel
        |      FROM assigned)
        |ORDER BY doc_id""".stripMargin,
    // seeded hash shard + per-shard position: the only sorts are
    // per-shard windows, never a corpus-wide order
    "llm_training_order" ->
      """SELECT doc_id, shard,
        |       CAST(row_number() OVER (PARTITION BY shard
        |              ORDER BY h, doc_id) - 1 AS BIGINT) AS pos
        |FROM (SELECT doc_id,
        |        CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)
        |                                    || ':42'), 1, 8)) AS BIGINT) AS h,
        |        CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)
        |                   || ':42'), 1, 8)) AS BIGINT) % 32 AS INT) AS shard
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,
    // binding stratum (min count/weight) keeps all docs; others
    // hash-sample down — pure integer cross-multiplication boundary
    "llm_temperature_mix" ->
      """WITH c AS (
        |  SELECT lang, count(*) AS ct,
        |         round(pow(CAST(count(*) AS DOUBLE), 0.7), 6) AS w
        |  FROM documents GROUP BY lang),
        |b AS (SELECT ct AS bind_ct, w AS bind_w FROM c
        |      ORDER BY CAST(ct AS DOUBLE) / w, lang LIMIT 1)
        |SELECT doc_id, d.lang, source
        |FROM documents d JOIN c ON d.lang = c.lang CROSS JOIN b
        |WHERE CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |           AS BIGINT) % 10000 AS DOUBLE) * bind_w * ct
        |      < w * bind_ct * 10000.0
        |ORDER BY doc_id""".stripMargin,
    "llm_mixture_rebalance" ->
      """WITH w(lang, w_bp) AS (VALUES ('de', 2000), ('en', 4000),
        |    ('es', 1000), ('fr', 1000), ('zh', 2000)),
        |c AS (SELECT lang, count(*) AS ct FROM documents GROUP BY lang),
        |cw AS (SELECT c.lang, ct, w_bp FROM c JOIN w USING (lang)),
        |b AS (SELECT ct AS bind_ct, w_bp AS bind_w FROM cw
        |      ORDER BY CAST(ct AS DOUBLE) / w_bp, lang LIMIT 1)
        |SELECT doc_id, d.lang, source
        |FROM documents d JOIN cw ON d.lang = cw.lang CROSS JOIN b
        |WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |           AS BIGINT) % 10000 * ct * bind_w
        |      < w_bp * bind_ct * 10000
        |ORDER BY doc_id""".stripMargin,
    // hashed-unigram log-likelihood ratio vs the lang='en' target slice;
    // bucket weights round to 6 dp before the per-doc mean (4 dp)
    // fastText-shaped hashed-feature linear scorer; stand-in weights
    // derive from md5 of the bucket id so both engines replay them
    "llm_classifier_score" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |      string_split_regex(lower(text), '\s+'), x -> x <> '')) AS w
        |  FROM documents),
        |wt AS (
        |  SELECT doc_id,
        |         (CAST(('0x' || substring(md5('w:' || CAST(
        |            CAST(('0x' || substring(md5(w), 1, 4)) AS BIGINT) % 4096
        |          AS VARCHAR)), 1, 4)) AS BIGINT) % 2001) - 1000 AS w_i
        |  FROM toks),
        |agg AS (SELECT d.doc_id, count(w.w_i) AS n_tokens, sum(w.w_i) AS s
        |        FROM documents d LEFT JOIN wt w ON d.doc_id = w.doc_id
        |        GROUP BY d.doc_id)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |       CASE WHEN n_tokens > 0
        |            THEN round((s / 1000.0) / n_tokens, 6) END AS quality_score,
        |       coalesce(CASE WHEN n_tokens > 0
        |            THEN round((s / 1000.0) / n_tokens, 6) END >= 0.0,
        |         false) AS keep
        |FROM agg ORDER BY doc_id""".stripMargin,
    "llm_dsir_score" ->
      """WITH toks AS (
        |  SELECT doc_id, lang = 'en' AS is_target, w,
        |         CAST(('0x' || substring(md5(w), 1, 4)) AS BIGINT) % 4096 AS b
        |  FROM (SELECT doc_id, lang, unnest(list_filter(
        |          string_split_regex(lower(text), '\s+'), x -> x <> '')) AS w
        |        FROM documents)),
        |dist AS (SELECT b, count(*) AS q_ct,
        |                sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS t_ct
        |         FROM toks GROUP BY b),
        |tot AS (SELECT CAST(sum(q_ct) AS BIGINT) AS q_tot,
        |               CAST(sum(t_ct) AS BIGINT) AS t_tot FROM dist),
        |wt AS (SELECT b, round(ln(((t_ct + 1.0) / (t_tot + 4096)) /
        |                          ((q_ct + 1.0) / (q_tot + 4096))), 6) AS w_b
        |       FROM dist CROSS JOIN tot),
        |agg AS (SELECT d.doc_id, count(t.w) AS n_tokens, sum(wt.w_b) AS s
        |        FROM documents d
        |        LEFT JOIN toks t ON d.doc_id = t.doc_id
        |        LEFT JOIN wt ON t.b = wt.b
        |        GROUP BY d.doc_id)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |       CASE WHEN n_tokens = 0 THEN 0.0
        |            ELSE round(s / n_tokens, 4) END AS dsir_score
        |FROM agg ORDER BY doc_id""".stripMargin,
    // hashed-bigram LM trained on the en slice; P(b2|b1) add-one
    // smoothed over the bucket vocab, unseen bigrams back off to the
    // context count; 6-dp model log-probs before any per-doc sum
    "llm_lm_perplexity" ->
      """WITH toks AS (
        |  SELECT doc_id, lang = 'en' AS is_target,
        |         list_transform(list_filter(
        |             string_split_regex(lower(text), '\s+'), x -> x <> ''),
        |           w -> CAST(('0x' || substring(md5(w), 1, 4)) AS BIGINT)
        |                % 4096) AS bs
        |  FROM documents),
        |bi AS (
        |  SELECT doc_id, is_target, p[1] AS b1, p[2] AS b2
        |  FROM (SELECT doc_id, is_target,
        |          unnest(CASE WHEN len(bs) >= 2 THEN
        |            list_transform(generate_series(1, len(bs) - 1),
        |                           i -> [bs[i], bs[i+1]])
        |          ELSE [] END) AS p
        |        FROM toks)),
        |uni AS (SELECT b1, count(*) AS c1 FROM bi WHERE is_target GROUP BY b1),
        |model AS (
        |  SELECT m.b1, m.b2, round(ln((c12 + 1.0) / (c1 + 4096)), 6) AS logp
        |  FROM (SELECT b1, b2, count(*) AS c12 FROM bi
        |        WHERE is_target GROUP BY 1, 2) m
        |  JOIN uni USING (b1)),
        |sc AS (
        |  SELECT bi.doc_id, count(*) AS n_bigrams,
        |         sum(coalesce(model.logp,
        |             round(ln(1.0 / (coalesce(uni.c1, 0) + 4096)), 6))) AS s
        |  FROM bi
        |  LEFT JOIN model ON bi.b1 = model.b1 AND bi.b2 = model.b2
        |  LEFT JOIN uni ON bi.b1 = uni.b1
        |  GROUP BY 1)
        |SELECT d.doc_id,
        |       CAST(coalesce(n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |       CASE WHEN coalesce(n_bigrams, 0) = 0 THEN 0.0
        |            ELSE round(s / n_bigrams, 4) END AS avg_logp,
        |       CASE WHEN coalesce(n_bigrams, 0) = 0 THEN 0.0
        |            ELSE round(exp(-s / n_bigrams), 4) END AS ppl
        |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "llm_budget_select" ->
      """WITH q AS (
        |  SELECT doc_id, n_words,
        |         CASE WHEN n_words = 0 THEN 0.0
        |              ELSE round(least(n_words / 200.0, 1.0)
        |                         * (uniq_ct / n_words), 4) END AS quality_score
        |  FROM (SELECT doc_id, CAST(len(words) AS BIGINT) AS n_words,
        |               CAST(len(list_distinct(words)) AS BIGINT) AS uniq_ct
        |        FROM (SELECT doc_id,
        |                list_filter(string_split_regex(lower(text), '\s+'),
        |                            w -> w <> '') AS words
        |              FROM documents))),
        |b AS (SELECT quality_score, CAST(sum(n_words) AS BIGINT) AS bucket_tokens
        |      FROM q GROUP BY quality_score),
        |c AS (SELECT quality_score, bucket_tokens,
        |             CAST(sum(bucket_tokens) OVER (ORDER BY quality_score DESC)
        |                  AS BIGINT) AS cum
        |      FROM b),
        |sel AS (SELECT quality_score FROM c WHERE cum - bucket_tokens < 10000)
        |SELECT q.doc_id, q.n_words, q.quality_score
        |FROM q SEMI JOIN sel USING (quality_score)
        |ORDER BY doc_id""".stripMargin,
    "llm_corpus_stats" ->
      """SELECT lang, source, count(*) AS doc_ct,
        |       CAST(sum(n_chars) AS BIGINT) AS char_sum,
        |       round(avg(n_chars), 2) AS avg_chars,
        |       CAST(max(n_chars) AS BIGINT) AS max_chars
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "llm_multimodal_format_stats" ->
      """SELECT format, count(*) AS media_ct,
        |       CAST(sum(byte_len) AS BIGINT) AS total_bytes,
        |       CAST(max(byte_len) AS BIGINT) AS max_bytes
        |FROM (SELECT CASE WHEN doc_id % 3 = 0 THEN 'png'
        |                  WHEN doc_id % 3 = 1 THEN 'jpeg'
        |                  ELSE 'wav' END AS format,
        |             octet_length(text::BLOB) AS byte_len
        |      FROM documents)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "u1_a6_keyword_frequency" ->
      """SELECT word, count(*) AS word_ct, count(DISTINCT doc_id) AS doc_ct
        |FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS word
        |      FROM documents)
        |WHERE word <> '' GROUP BY word ORDER BY word_ct DESC, word""".stripMargin,
    "u1_cjk_keyword_frequency" ->
      """WITH docs(doc_id, text) AS (VALUES
        |  (1, '实时数据仓库 spark 构建'),
        |  (2, '数据仓库 与 流处理 平台'),
        |  (3, '大数据 实时 分析 引擎'),
        |  (4, 'spark 流处理 引擎 构建'),
        |  (5, '数据 分析 平台'),
        |  (6, '实时计算 与 大数据 平台')),
        |tok AS (SELECT doc_id, unnest(list_filter(string_split_regex(
        |          regexp_replace(lower(text), '(\p{Han}+)', ' \1 ', 'g'), '\s+'),
        |          w -> w <> '')) AS t FROM docs),
        |words AS (SELECT doc_id,
        |  unnest(CASE WHEN length(t) >= 2 AND regexp_matches(t, '^\p{Han}+$')
        |    THEN list_transform(generate_series(1, length(t) - 1),
        |                        i -> substring(t, i, 2))
        |    ELSE [t] END) AS word FROM tok)
        |SELECT word, count(*) AS word_ct, count(DISTINCT doc_id) AS doc_ct
        |FROM words GROUP BY 1 ORDER BY word_ct DESC, word""".stripMargin
  ) ++
    // fixed-point PageRank: the oracle UNROLLS the same ten integer
    // iterations as chained CTEs — BIGINT arithmetic end to end, so
    // the hashes must match bit-for-bit with no rounding discipline
    Map("g_pagerank_copurchase" -> pageRankOracleSql(10)) ++
    // personalized PageRank: same unrolled-integer-round contract,
    // teleport gated on the seed LEFT JOIN
    Map("g_ppr_copurchase" -> pprOracleSql(6)) ++
    // BFS: recursive CTE with UNION-distinct dedup; min(hops) per node
    // (the engine's first-reach level IS the minimum — BFS invariant)
    Map("g_bfs_hops" ->
      """WITH RECURSIVE be AS (
        |  SELECT DISTINCT o_custkey*2 AS src, l_partkey*2+1 AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT src, dst FROM be
        |      UNION ALL SELECT dst AS src, src AS dst FROM be),
        |bfs(node, hops) AS (
        |  SELECT (SELECT min(src) FROM e) AS node, 0 AS hops
        |  UNION
        |  SELECT e.dst, bfs.hops + 1 FROM bfs JOIN e ON e.src = bfs.node
        |  WHERE bfs.hops < 3)
        |SELECT node, CAST(min(hops) AS INT) AS hops
        |FROM bfs GROUP BY 1 ORDER BY 1""".stripMargin) ++
    // k-core: `rounds` unrolled peel CTEs; a converged peel makes the
    // trailing rounds no-ops, so the engine's fixpoint exit matches
    Map("g_kcore_copurchase" -> kCoreOracleSql(k = 64, rounds = 8)) ++
    // weighted SSSP: 6 unrolled Bellman-Ford rounds, BIGINT distances
    Map("g_sssp_copurchase" -> ssspOracleSql(rounds = 6)) ++
    // HITS: 4 unrolled integer-micro rounds, max-div normalization
    Map("g_hits_copurchase" -> hitsOracleSql(rounds = 4)) ++
    // local clustering coefficients on the support-≥2 graph: plain
    // id-ordered triangle enumeration, per-node expansion, floor-div
    Map("g_clustering_coeff" ->
      """WITH op AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |e AS (
        |  SELECT a, b FROM (
        |    SELECT o1.p AS a, o2.p AS b, count(*) AS n
        |    FROM op o1 JOIN op o2
        |      ON o1.o = o2.o AND o1.p < o2.p
        |    GROUP BY 1, 2)
        |  WHERE n >= 2),
        |tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1 JOIN e e2 ON e2.a = e1.b
        |       JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |tn AS (
        |  SELECT node, CAST(count(*) AS BIGINT) AS tri FROM (
        |    SELECT x AS node FROM tri
        |    UNION ALL SELECT y FROM tri
        |    UNION ALL SELECT z FROM tri)
        |  GROUP BY 1),
        |deg AS (
        |  SELECT node, CAST(count(*) AS BIGINT) AS dg FROM (
        |    SELECT a AS node FROM e UNION ALL SELECT b FROM e)
        |  GROUP BY 1)
        |SELECT d.node, dg, coalesce(tri, CAST(0 AS BIGINT)) AS tri,
        |       CAST(floor(2000000 * coalesce(tri, 0) /
        |            (dg * (dg - 1))) AS BIGINT) AS coeff_micro
        |FROM deg d LEFT JOIN tn ON tn.node = d.node
        |WHERE dg >= 2 ORDER BY d.node""".stripMargin) ++
    // LPA communities: 4 unrolled majority-vote rounds
    Map("g_labelprop_communities" -> labelPropOracleSql(rounds = 4)) ++
    // Adamic–Adar link prediction on the support-≥2 co-purchase graph:
    // integer micro weights round(1e6/ln(deg)), hub cap replayed
    Map("g_adamic_adar" ->
      """WITH op AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |e AS (
        |  SELECT a, b FROM (
        |    SELECT o1.p AS a, o2.p AS b, count(*) AS n
        |    FROM op o1 JOIN op o2
        |      ON o1.o = o2.o AND o1.p < o2.p
        |    GROUP BY 1, 2)
        |  WHERE n >= 2),
        |sym AS (SELECT a AS s, b AS d FROM e
        |        UNION ALL SELECT b, a FROM e),
        |deg AS (SELECT s AS z, count(*) AS dg FROM sym GROUP BY 1),
        |ctr AS (
        |  SELECT sym.s AS z, sym.d,
        |         CAST(round(1e6 / ln(CAST(dg AS DOUBLE))) AS BIGINT)
        |           AS w_micro
        |  FROM sym JOIN deg ON deg.z = sym.s
        |  WHERE dg BETWEEN 2 AND 1024),
        |wed AS (
        |  SELECT c1.z, c1.d AS na, c2.d AS nb, c1.w_micro
        |  FROM ctr c1 JOIN ctr c2
        |    ON c1.z = c2.z AND c1.d < c2.d),
        |cand AS (
        |  SELECT * FROM wed
        |  WHERE NOT EXISTS (SELECT 1 FROM e
        |                    WHERE e.a = wed.na AND e.b = wed.nb)),
        |scr AS (
        |  SELECT na AS a, nb AS b, count(*) AS cn,
        |         CAST(sum(w_micro) AS BIGINT) AS aa_micro
        |  FROM cand GROUP BY 1, 2),
        |rk AS (SELECT *, row_number() OVER (
        |         ORDER BY aa_micro DESC, a, b) AS rank FROM scr)
        |SELECT a, b, cn, aa_micro, CAST(rank AS INT) AS rank
        |FROM rk WHERE rank <= 20 ORDER BY rank""".stripMargin) ++
    // triangle counting: the oracle is the orientation-free three-way
    // self-join over id-ordered edges (a<b<c counts each triangle
    // once); the engine's degree orientation must agree exactly
    Map("g_triangle_copurchase" ->
      """WITH pp AS (
        |  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        |  FROM lineitem l1 JOIN lineitem l2
        |    ON l1.l_orderkey = l2.l_orderkey
        |   AND l1.l_partkey < l2.l_partkey),
        |tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM pp e1 JOIN pp e2 ON e2.a = e1.b
        |  JOIN pp e3 ON e3.a = e1.a AND e3.b = e2.b),
        |cnt AS (
        |  SELECT node, count(*) AS triangles FROM (
        |    SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
        |    UNION ALL SELECT z FROM tri) m GROUP BY node),
        |nodes AS (SELECT a AS node FROM pp UNION SELECT b FROM pp)
        |SELECT n.node, CAST(coalesce(c.triangles, 0) AS BIGINT) AS triangles
        |FROM nodes n LEFT JOIN cnt c USING (node) ORDER BY node""".stripMargin) ++
    // table profiling: one UNION ALL branch per profiled column;
    // null_ct is count(*) − count(col) (BIGINT on both engines — a
    // CASE sum would go HUGEINT in DuckDB), min/max CAST to string
    // (integers/strings/dates only: portable text forms)
    Map(
      // incremental rollup: the oracle is the ONE-SHOT GROUP BY the
      // three TxLog merges must be indistinguishable from. Sums are
      // BIGINT-truncated (trunc here == Spark's double→bigint cast for
      // the positive measures), dates formatted (repo discipline)
      // delta-join IVM: the incremental path must equal the one-shot
      // join bit-for-bit (qty is integral-valued; cents are exact)
      "dim_wide_join_incremental" ->
        """SELECT o.o_orderkey, l.l_linenumber, o.o_custkey,
          |       o.o_orderstatus,
          |       CAST(l.l_quantity AS BIGINT) AS qty,
          |       CAST(round(l.l_extendedprice * 100) AS BIGINT)
          |         AS price_cents
          |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
          |ORDER BY o.o_orderkey, l.l_linenumber""".stripMargin,
      // small-delta regime of the same view: the maintenance schedule
      // (bulk seed + four 1% deltas) must be indistinguishable from
      // the one-shot join too — identical oracle
      "dim_wide_join_smalldelta" ->
        """SELECT o.o_orderkey, l.l_linenumber, o.o_custkey,
          |       o.o_orderstatus,
          |       CAST(l.l_quantity AS BIGINT) AS qty,
          |       CAST(round(l.l_extendedprice * 100) AS BIGINT)
          |         AS price_cents
          |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
          |ORDER BY o.o_orderkey, l.l_linenumber""".stripMargin,
      // algebraic rollup: exact integer sums of squares make the
      // variance numerator a BIGINT identity both engines replay
      "dim_agg_var_incremental" ->
        """SELECT l_suppkey, count(*) AS ct,
          |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_q,
          |       CAST(sum(CAST(l_quantity AS BIGINT) *
          |                CAST(l_quantity AS BIGINT)) AS BIGINT) AS sumsq_q,
          |       CAST(count(*) *
          |              CAST(sum(CAST(l_quantity AS BIGINT) *
          |                       CAST(l_quantity AS BIGINT)) AS BIGINT)
          |            - CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) *
          |              CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
          |            AS BIGINT) AS var_num
          |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,
      "dim_agg_rollup_incremental" ->
        """SELECT l_suppkey, count(*) AS ct,
          |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
          |         AS sum_l_quantity,
          |       CAST(sum(CAST(trunc(l_extendedprice) AS BIGINT)) AS BIGINT)
          |         AS sum_l_extendedprice,
          |       strftime(min(l_shipdate), '%Y-%m-%d %H:%M:%S') AS min_ship,
          |       strftime(max(l_shipdate), '%Y-%m-%d %H:%M:%S') AS max_ship
          |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,
      // truncated EWMA: the lag chain and the left-associated term /
      // weight sums are GENERATED here to mirror the DataFrame fold
      // order exactly; every weight literal is CAST to DOUBLE (DuckDB
      // parses decimal-point literals as DECIMAL, which would switch
      // the whole expression to decimal arithmetic)
      "ts_ewma_daily_revenue" -> {
        val k = 8
        val terms = (0 until k).map { j =>
          val w = math.pow(0.5, j)
          val c = if (j == 0) "rev" else s"l$j"
          s"CASE WHEN $c IS NULL THEN CAST(0 AS DOUBLE) " +
            s"ELSE $c * CAST($w AS DOUBLE) END"
        }.mkString("\n             + ")
        val wts = (0 until k).map { j =>
          val w = math.pow(0.5, j)
          val c = if (j == 0) "rev" else s"l$j"
          s"CASE WHEN $c IS NULL THEN CAST(0 AS DOUBLE) " +
            s"ELSE CAST($w AS DOUBLE) END"
        }.mkString("\n             + ")
        val lags = (1 until k)
          .map(j => s"lag(rev, $j) OVER w AS l$j").mkString(",\n         ")
        s"""WITH d AS (
           |  SELECT CAST(o_orderdate AS DATE) AS day,
           |         CAST(sum(CAST(trunc(o_totalprice) AS BIGINT)) AS BIGINT)
           |           AS rev
           |  FROM orders GROUP BY 1),
           |l AS (
           |  SELECT day, rev,
           |         $lags
           |  FROM d WINDOW w AS (ORDER BY day))
           |SELECT strftime(day, '%Y-%m-%d') AS day_s, rev,
           |       round(($terms)
           |             / ($wts), 4) AS ewma
           |FROM l ORDER BY day_s""".stripMargin
      },
      // rolling z-score: mean/stddev over the trailing frame EXCLUDING
      // the current row; z compared after rounding, like the engine
      "ts_anomaly_supplier_weekly" ->
        """WITH wk AS (
          |  SELECT l_suppkey, date_trunc('week', l_shipdate) AS wk,
          |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
          |  FROM lineitem GROUP BY 1, 2),
          |m AS (
          |  SELECT l_suppkey, wk, qty,
          |         avg(qty) OVER w AS mean,
          |         stddev_samp(qty) OVER w AS sd
          |  FROM wk WINDOW w AS (PARTITION BY l_suppkey ORDER BY wk
          |                       ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING)),
          |z AS (
          |  SELECT l_suppkey, wk, qty, mean, sd,
          |         CASE WHEN sd > 0 THEN round((qty - mean) / sd, 4) END AS z
          |  FROM m)
          |SELECT l_suppkey, strftime(wk, '%Y-%m-%d') AS week_s, qty, z,
          |       (coalesce(z IS NOT NULL AND abs(z) > CAST(2.0 AS DOUBLE),
          |                 FALSE)
          |        OR coalesce(sd = 0 AND qty <> mean, FALSE)) AS is_anomaly
          |FROM z ORDER BY l_suppkey, week_s""".stripMargin,
      // ordered string_agg replays the in-row struct-sort path build
      "b_user_paths" ->
        """WITH r AS (
          |  SELECT user_id, event_type,
          |         row_number() OVER (PARTITION BY user_id
          |                            ORDER BY ts, event_id) AS rn
          |  FROM events),
          |p AS (
          |  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
          |  FROM r WHERE rn <= 3 GROUP BY 1)
          |SELECT path, count(*) AS user_ct
          |FROM p GROUP BY 1 ORDER BY user_ct DESC, path""".stripMargin,
      // positional masking replayed by indexing the token list; the
      // filtered array's ordinal IS the sentinel id on both sides
      "llm_span_corruption" ->
        """WITH toks AS (
          |  SELECT doc_id, list_filter(
          |           string_split_regex(lower(text), '\s+'),
          |           t -> t <> '') AS a
          |  FROM documents),
          |idx AS (SELECT doc_id, a,
          |               unnest(range(1, len(a) + 1)) AS i FROM toks),
          |t AS (SELECT doc_id, i, a[CAST(i AS INT)] AS tok,
          |             (i % 5 = 0) AS m,
          |             CAST(i // 5 - 1 AS INT) AS k
          |      FROM idx),
          |inp AS (
          |  SELECT doc_id,
          |         string_agg(CASE WHEN m THEN '<extra_id_' || k || '>'
          |                         ELSE tok END, ' ' ORDER BY i)
          |           AS input_text
          |  FROM t GROUP BY 1),
          |tgt AS (
          |  SELECT doc_id,
          |         string_agg('<extra_id_' || k || '> ' || tok,
          |                    ' ' ORDER BY i) AS target_text,
          |         CAST(count(*) AS INT) AS n_masked
          |  FROM t WHERE m GROUP BY 1)
          |SELECT toks.doc_id, coalesce(inp.input_text, '') AS input_text,
          |       coalesce(tgt.target_text, '') AS target_text,
          |       coalesce(tgt.n_masked, 0) AS n_masked
          |FROM toks LEFT JOIN inp USING (doc_id)
          |LEFT JOIN tgt USING (doc_id)
          |ORDER BY doc_id""".stripMargin,
      // add-one smoothed class-conditional log-probs in integer micros
      "ml_nb_model" ->
        """WITH toks AS (
          |  SELECT lang, unnest(list_filter(
          |           string_split_regex(lower(text), '\s+'),
          |           t -> t <> '')) AS w
          |  FROM documents),
          |v AS (SELECT count(DISTINCT w) AS v FROM toks),
          |c AS (SELECT lang, w, count(*) AS ct FROM toks GROUP BY 1, 2),
          |t AS (SELECT lang, w, ct,
          |             CAST(sum(ct) OVER (PARTITION BY lang) AS BIGINT)
          |               AS tok_c
          |      FROM c)
          |SELECT lang, w, ct,
          |       CAST(round(ln(CAST(ct + 1 AS DOUBLE) / (tok_c + v)) * 1e6)
          |            AS BIGINT) AS logp_micro
          |FROM t CROSS JOIN v ORDER BY lang, w""".stripMargin,
      // integer micro-log score sums; class default via coalesce for
      // out-of-class-vocabulary tokens; argmax ties break on lang
      "ml_nb_predict" -> (nbScoreCte +
        """
          |SELECT doc_id, lang AS pred_lang, score_micro
          |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
          |                ORDER BY score_micro DESC, lang) AS rn
          |      FROM sc)
          |WHERE rn = 1 ORDER BY doc_id""".stripMargin),
      // confusion matrix from the NB argmax; ratios are floored micros
      // (floor of an IEEE double quotient of exact ints — both engines
      // produce the identical correctly-rounded double, then the
      // identical floor, so the compare is still bit-exact)
      "ml_eval_confusion" -> (nbScoreCte +
        """,
          |pred AS (
          |  SELECT doc_id, lang AS pred_lang
          |  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
          |                  ORDER BY score_micro DESC, lang) AS rn
          |        FROM sc)
          |  WHERE rn = 1),
          |m AS (SELECT d.lang, p.pred_lang, count(*) AS n
          |      FROM documents d JOIN pred p USING (doc_id)
          |      GROUP BY 1, 2),
          |bt AS (SELECT lang,
          |         CAST(sum(CASE WHEN pred_lang = lang THEN n
          |                       ELSE 0 END) AS BIGINT) AS tp,
          |         CAST(sum(CASE WHEN pred_lang <> lang THEN n
          |                       ELSE 0 END) AS BIGINT) AS fn,
          |         CAST(sum(n) AS BIGINT) AS support
          |       FROM m GROUP BY 1),
          |bp AS (SELECT pred_lang AS lang,
          |         CAST(sum(CASE WHEN pred_lang <> lang THEN n
          |                       ELSE 0 END) AS BIGINT) AS fp
          |       FROM m GROUP BY 1),
          |pr AS (
          |  SELECT lang, coalesce(tp, CAST(0 AS BIGINT)) AS tp,
          |         coalesce(fp, CAST(0 AS BIGINT)) AS fp,
          |         coalesce(fn, CAST(0 AS BIGINT)) AS fn,
          |         coalesce(support, CAST(0 AS BIGINT)) AS support,
          |         CAST(floor(1000000 * coalesce(tp, 0) /
          |                    nullif(coalesce(tp, 0) + coalesce(fp, 0), 0))
          |              AS BIGINT) AS prec_micro,
          |         CAST(floor(1000000 * coalesce(tp, 0) /
          |                    nullif(coalesce(tp, 0) + coalesce(fn, 0), 0))
          |              AS BIGINT) AS rec_micro
          |  FROM bt FULL JOIN bp USING (lang))
          |SELECT lang, tp, fp, fn, support, prec_micro, rec_micro,
          |       CAST(floor(2 * prec_micro * rec_micro /
          |                  nullif(prec_micro + rec_micro, 0))
          |            AS BIGINT) AS f1_micro
          |FROM pr ORDER BY lang""".stripMargin),
      // exact one-vs-rest AUC by Mann–Whitney rank counting on the
      // score-sized frame; U2 = 2U keeps tie half-credit integral
      "ml_eval_auc" -> (nbScoreCte +
        """,
          |lab AS (
          |  SELECT s.score_micro,
          |         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS is_pos
          |  FROM (SELECT doc_id, score_micro FROM sc
          |        WHERE lang = 'en') s
          |  JOIN documents d USING (doc_id)),
          |grp AS (SELECT score_micro,
          |               CAST(sum(is_pos) AS BIGINT) AS pos,
          |               CAST(sum(1 - is_pos) AS BIGINT) AS neg
          |        FROM lab GROUP BY 1),
          |cum AS (SELECT *,
          |          CAST(sum(neg) OVER (ORDER BY score_micro
          |                 ROWS BETWEEN UNBOUNDED PRECEDING
          |                 AND CURRENT ROW) - neg AS BIGINT)
          |            AS cum_neg_below
          |        FROM grp)
          |SELECT CAST(sum(pos) AS BIGINT) AS p_count,
          |       CAST(sum(neg) AS BIGINT) AS n_count,
          |       CAST(sum(2 * pos * cum_neg_below + pos * neg)
          |            AS BIGINT) AS u2,
          |       CAST(floor(1000000 *
          |              sum(2 * pos * cum_neg_below + pos * neg) /
          |              nullif(2 * sum(pos) * sum(neg), 0))
          |            AS BIGINT) AS auc_micro
          |FROM cum""".stripMargin),
      // quantile_cont == Spark's exact interpolated percentile; the
      // outlier threshold uses the UNROUNDED mad on both sides
      "q_robust_stats" ->
        """WITH b AS (
          |  SELECT o_orderpriority AS grp,
          |         CAST(trunc(o_totalprice) AS BIGINT) AS x
          |  FROM orders),
          |m AS (SELECT grp, quantile_cont(x, 0.5) AS med FROM b GROUP BY 1),
          |a AS (SELECT b.grp, med, abs(x - med) AS ad
          |      FROM b JOIN m USING (grp)),
          |d AS (SELECT grp, quantile_cont(ad, 0.5) AS mad FROM a GROUP BY 1)
          |SELECT a.grp, count(*) AS n,
          |       round(any_value(a.med), 4) AS med,
          |       round(any_value(d.mad), 4) AS mad,
          |       CAST(sum(CASE WHEN ad > 3 * 1.4826 * d.mad
          |                     THEN 1 ELSE 0 END) AS BIGINT) AS outlier_ct
          |FROM a JOIN d USING (grp)
          |GROUP BY a.grp ORDER BY a.grp""".stripMargin,
      // Laplace-smoothed shares; per-bin contributions in integer
      // micros so the summed PSI is an exact integer sum
      "q_drift_psi" -> {
        val bins = 10; val lo = 0.0; val width = 600000.0 / bins
        s"""WITH base AS (
           |  SELECT (CAST(o_orderdate AS DATE) < DATE '1995-01-01')
           |           AS is_a,
           |         CAST(least(greatest(
           |           floor((o_totalprice - $lo) / $width),
           |           CAST(0 AS DOUBLE)),
           |           CAST(${bins - 1} AS DOUBLE)) AS INT) AS bin
           |  FROM orders),
           |c AS (
           |  SELECT bin,
           |         CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT)
           |           AS ct_a,
           |         CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT)
           |           AS ct_b
           |  FROM base GROUP BY 1),
           |g AS (
           |  SELECT r.bin, coalesce(c.ct_a, 0) AS ct_a,
           |         coalesce(c.ct_b, 0) AS ct_b
           |  FROM (SELECT unnest(range(0, $bins)) AS bin) r
           |  LEFT JOIN c ON c.bin = r.bin),
           |t AS (SELECT CAST(sum(ct_a) AS BIGINT) AS n_a,
           |             CAST(sum(ct_b) AS BIGINT) AS n_b FROM g),
           |s AS (
           |  SELECT CAST(bin AS INT) AS bin, ct_a, ct_b,
           |         CAST(ct_a + 1 AS DOUBLE) / (n_a + $bins) AS p,
           |         CAST(ct_b + 1 AS DOUBLE) / (n_b + $bins) AS q
           |  FROM g CROSS JOIN t),
           |mi AS (
           |  SELECT bin, ct_a, ct_b, p, q,
           |         CAST(round((p - q) * ln(p / q) * 1e6) AS BIGINT)
           |           AS c_micro
           |  FROM s),
           |tot AS (SELECT CAST(sum(c_micro) AS BIGINT) AS psi_micro FROM mi)
           |SELECT bin, ct_a, ct_b, round(p, 6) AS p, round(q, 6) AS q,
           |       CAST(c_micro AS DOUBLE) / 1e6 AS contrib,
           |       CAST(psi_micro AS DOUBLE) / 1e6 AS psi
           |FROM mi CROSS JOIN tot ORDER BY bin""".stripMargin
      },
      // one UNION ALL branch per rule; NULLs count as range/domain
      // violations on both sides (coalesce guards the 3VL edge)
      "q_expectations" ->
        """WITH r AS (
          |  SELECT 'orders.o_orderkey is unique' AS rule,
          |         count(*) AS checked,
          |         count(*) - count(DISTINCT o_orderkey) AS violations
          |  FROM orders
          |  UNION ALL
          |  SELECT 'orders.o_custkey is complete', count(*),
          |         count(*) - count(o_custkey) FROM orders
          |  UNION ALL
          |  SELECT 'orders.o_totalprice > 0', count(*),
          |         CAST(sum(CASE WHEN coalesce(o_totalprice <= 0, TRUE)
          |                       THEN 1 ELSE 0 END) AS BIGINT) FROM orders
          |  UNION ALL
          |  SELECT 'orders.o_orderstatus in {O,F,P}', count(*),
          |         CAST(sum(CASE WHEN coalesce(
          |                         NOT o_orderstatus IN ('O','F','P'), TRUE)
          |                       THEN 1 ELSE 0 END) AS BIGINT) FROM orders
          |  UNION ALL
          |  SELECT 'lineitem.l_quantity in [1,50]', count(*),
          |         CAST(sum(CASE WHEN coalesce(
          |                         l_quantity < 1 OR l_quantity > 50, TRUE)
          |                       THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
          |  UNION ALL
          |  SELECT 'lineitem.l_extendedprice > 0', count(*),
          |         CAST(sum(CASE WHEN coalesce(l_extendedprice <= 0, TRUE)
          |                       THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
          |  UNION ALL
          |  SELECT 'lineitem.l_orderkey references orders',
          |         (SELECT count(*) FROM lineitem),
          |         (SELECT count(*) FROM lineitem l
          |          WHERE NOT EXISTS (SELECT 1 FROM orders o
          |                            WHERE o.o_orderkey = l.l_orderkey)))
          |SELECT rule, checked, violations, violations = 0 AS pass
          |FROM r ORDER BY rule""".stripMargin,
      // lag over (user, ts, event_id) then row-normalized pair counts
      "b_markov_transitions" ->
        """WITH t AS (
          |  SELECT user_id, event_type,
          |         lag(event_type) OVER (PARTITION BY user_id
          |                               ORDER BY ts, event_id) AS prev_type
          |  FROM events),
          |c AS (
          |  SELECT prev_type, event_type AS next_type, count(*) AS ct
          |  FROM t WHERE prev_type IS NOT NULL GROUP BY 1, 2)
          |SELECT prev_type, next_type, ct,
          |       round(CAST(ct AS DOUBLE) /
          |             CAST(sum(ct) OVER (PARTITION BY prev_type) AS DOUBLE),
          |             6) AS prob
          |FROM c ORDER BY prev_type, next_type""".stripMargin,
      // the oracle replays the EXACT double-product expression tree:
      // sums are BIGINT-exact (< 2^53), products taken in DOUBLE
      "ml_ols_returnflag" ->
        """WITH b AS (
          |  SELECT l_returnflag AS grp,
          |         CAST(trunc(l_quantity) AS BIGINT) AS x,
          |         CAST(trunc(l_extendedprice) AS BIGINT) AS y
          |  FROM lineitem),
          |s AS (
          |  SELECT grp, count(*) AS n,
          |         CAST(sum(x) AS BIGINT) AS sx,
          |         CAST(sum(y) AS BIGINT) AS sy,
          |         CAST(sum(x*y) AS BIGINT) AS sxy,
          |         CAST(sum(x*x) AS BIGINT) AS sxx,
          |         CAST(sum(y*y) AS BIGINT) AS syy
          |  FROM b GROUP BY 1),
          |f AS (
          |  SELECT grp, n,
          |         CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
          |           - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE) AS num,
          |         CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
          |           - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE) AS denx,
          |         CAST(n AS DOUBLE)*CAST(syy AS DOUBLE)
          |           - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE) AS deny,
          |         CAST(sx AS DOUBLE) AS dx, CAST(sy AS DOUBLE) AS dy
          |  FROM s)
          |SELECT grp, n,
          |       round(CASE WHEN denx > 0 THEN num/denx END, 6) AS slope,
          |       round(CASE WHEN denx > 0
          |                  THEN (dy - (num/denx)*dx)/CAST(n AS DOUBLE) END,
          |             2) AS intercept,
          |       round(CASE WHEN denx > 0 AND deny > 0
          |                  THEN (num*num)/(denx*deny) END, 6) AS r2
          |FROM f ORDER BY grp""".stripMargin,
      // weekday slot from integer day arithmetic (slot 0 = Thursday);
      // the overall mean is derived from the 7 per-slot sums
      "ts_seasonality_dow" ->
        """WITH d AS (
          |  SELECT CAST(o_orderdate AS DATE) AS day,
          |         CAST(sum(CAST(trunc(o_totalprice) AS BIGINT)) AS BIGINT)
          |           AS rev
          |  FROM orders GROUP BY 1),
          |g AS (
          |  SELECT CAST((day - DATE '1970-01-01') % 7 AS INT) AS dow,
          |         count(*) AS day_ct, CAST(sum(rev) AS BIGINT) AS rev_sum
          |  FROM d GROUP BY 1),
          |t AS (SELECT CAST(sum(rev_sum) AS BIGINT) AS tot_sum,
          |             CAST(sum(day_ct) AS BIGINT) AS tot_ct FROM g)
          |SELECT dow, day_ct,
          |       round(CAST(rev_sum AS DOUBLE) / day_ct, 2) AS avg_rev,
          |       round((CAST(rev_sum AS DOUBLE) / day_ct) /
          |             (CAST(tot_sum AS DOUBLE) / tot_ct), 6) AS seasonal_idx
          |FROM g CROSS JOIN t ORDER BY dow""".stripMargin,
      // Pearson r from BIGINT-exact sufficient statistics, cast to
      // double only in the final formula — bit-stable across engines
      "ts_autocorr_daily_qty" -> {
        val lags = (1 to 7)
          .map(j => s"lag(x, $j) OVER w AS y_$j").mkString(",\n         ")
        val unions = (1 to 7).map(j =>
          s"SELECT $j AS lag, x, y_$j AS y FROM l WHERE y_$j IS NOT NULL")
          .mkString("\n  UNION ALL ")
        s"""WITH d AS (
           |  SELECT CAST(l_shipdate AS DATE) AS day,
           |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS x
           |  FROM lineitem GROUP BY 1),
           |l AS (
           |  SELECT day, x,
           |         $lags
           |  FROM d WINDOW w AS (ORDER BY day)),
           |p AS (
           |  $unions),
           |s AS (
           |  SELECT lag, count(*) AS n_pairs,
           |         CAST(sum(x) AS BIGINT) AS sx,
           |         CAST(sum(y) AS BIGINT) AS sy,
           |         CAST(sum(x*y) AS BIGINT) AS sxy,
           |         CAST(sum(x*x) AS BIGINT) AS sxx,
           |         CAST(sum(y*y) AS BIGINT) AS syy
           |  FROM p GROUP BY 1)
           |SELECT lag, n_pairs,
           |       round((CAST(n_pairs AS DOUBLE)*CAST(sxy AS DOUBLE)
           |               - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)) /
           |             sqrt((CAST(n_pairs AS DOUBLE)*CAST(sxx AS DOUBLE)
           |                    - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) *
           |                  (CAST(n_pairs AS DOUBLE)*CAST(syy AS DOUBLE)
           |                    - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))),
           |             6) AS autocorr
           |FROM s ORDER BY lag""".stripMargin
      },
      // scaled-integer CUSUM: Σ(n·x − T) stays BIGINT-exact; the
      // flagged changepoint is the earliest day attaining max |cusum|
      "ts_cusum_changepoint" ->
        """WITH d AS (
          |  SELECT CAST(l_shipdate AS DATE) AS day,
          |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
          |  FROM lineitem GROUP BY 1),
          |s AS (SELECT count(*) AS n, CAST(sum(qty) AS BIGINT) AS tot FROM d),
          |c AS (
          |  SELECT day, qty,
          |         CAST(sum(qty*n - tot)
          |              OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
          |              AS BIGINT) AS cusum_fp
          |  FROM d CROSS JOIN s),
          |m AS (SELECT max(abs(cusum_fp)) AS mx FROM c),
          |e AS (SELECT min(day) AS d0 FROM c CROSS JOIN m
          |      WHERE abs(cusum_fp) = mx)
          |SELECT strftime(day, '%Y-%m-%d') AS day_s, qty, cusum_fp,
          |       (day = d0) AS is_changepoint
          |FROM c CROSS JOIN e ORDER BY day_s""".stripMargin,
      // Holt recurrence replayed as a per-key recursive CTE with the
      // SAME parenthesization as the DataFrame fold (all decimal
      // literals CAST to DOUBLE — the ewma oracle's DECIMAL lesson);
      // inputs are integer cents and α/β dyadic, so both engines walk
      // identical IEEE doubles and the 4-digit rounding is stable
      "ts_holt_forecast" ->
        """WITH RECURSIVE d AS (
          |  SELECT o_orderpriority AS grp, CAST(o_orderdate AS DATE) AS day,
          |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
          |              AS BIGINT) AS cents
          |  FROM orders GROUP BY 1, 2),
          |r AS (SELECT grp, cents,
          |             row_number() OVER (PARTITION BY grp ORDER BY day) AS i
          |      FROM d),
          |n AS (SELECT grp, count(*) AS n_days FROM r GROUP BY 1),
          |f(grp, i, l, b) AS (
          |  SELECT grp, i, CAST(cents AS DOUBLE), CAST(0 AS DOUBLE)
          |  FROM r WHERE i = 1
          |  UNION ALL
          |  SELECT r.grp, r.i,
          |         CAST(0.5 AS DOUBLE) * CAST(r.cents AS DOUBLE)
          |           + CAST(0.5 AS DOUBLE) * (f.l + f.b),
          |         CAST(0.25 AS DOUBLE)
          |           * ((CAST(0.5 AS DOUBLE) * CAST(r.cents AS DOUBLE)
          |               + CAST(0.5 AS DOUBLE) * (f.l + f.b)) - f.l)
          |           + CAST(0.75 AS DOUBLE) * f.b
          |  FROM f JOIN r ON r.grp = f.grp AND r.i = f.i + 1)
          |SELECT f.grp, n.n_days,
          |       round(f.l, 4) AS level_4, round(f.b, 4) AS trend_4,
          |       round(f.l + f.b, 4) AS fc_1,
          |       round(f.l + CAST(7 AS DOUBLE) * f.b, 4) AS fc_7
          |FROM f JOIN n ON n.grp = f.grp AND f.i = n.n_days
          |ORDER BY f.grp""".stripMargin,
      // additive Holt–Winters: the recursive CTE carries the 7
      // seasonal slots as columns; lt/st repeat textually with the
      // SAME parenthesization as the Spark fold, so every IEEE op
      // sequence is identical and the pre-round doubles match bitwise
      "ts_holtwinters_forecast" -> {
        // s_{c_t} read, lt, st — shared fragments of the recurrence
        val sc = "(CASE r.slot WHEN 0 THEN f.s0 WHEN 1 THEN f.s1 " +
          "WHEN 2 THEN f.s2 WHEN 3 THEN f.s3 WHEN 4 THEN f.s4 " +
          "WHEN 5 THEN f.s5 ELSE f.s6 END)"
        val lt = s"(CAST(0.5 AS DOUBLE) * (CAST(r.cents AS DOUBLE) - $sc)" +
          s" + CAST(0.5 AS DOUBLE) * (f.l + f.b))"
        val st = s"(CAST(0.25 AS DOUBLE) * (CAST(r.cents AS DOUBLE) - $lt)" +
          s" + CAST(0.75 AS DOUBLE) * $sc)"
        val slotUpd = (0 to 6).map(j =>
          s"CASE WHEN r.slot = $j THEN $st ELSE f.s$j END").mkString(",\n    ")
        def sAt(expr: String) =
          s"(CASE $expr WHEN 0 THEN f.s0 WHEN 1 THEN f.s1 WHEN 2 THEN f.s2 " +
            s"WHEN 3 THEN f.s3 WHEN 4 THEN f.s4 WHEN 5 THEN f.s5 " +
            s"ELSE f.s6 END)"
        val sNext = sAt("((lastr.last_slot + 1) % 7)")
        val sSame = sAt("lastr.last_slot")
        s"""WITH RECURSIVE d AS (
           |  SELECT o_orderpriority AS grp, CAST(o_orderdate AS DATE) AS day,
           |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
           |              AS BIGINT) AS cents
           |  FROM orders GROUP BY 1, 2),
           |r AS (SELECT grp, cents,
           |             CAST((day - DATE '1970-01-01') % 7 AS INT) AS slot,
           |             row_number() OVER (PARTITION BY grp ORDER BY day) AS i
           |      FROM d),
           |n AS (SELECT grp, count(*) AS n_days FROM r GROUP BY 1),
           |lastr AS (SELECT r.grp, r.slot AS last_slot
           |          FROM r JOIN n ON n.grp = r.grp AND r.i = n.n_days),
           |f(grp, i, l, b, s0, s1, s2, s3, s4, s5, s6) AS (
           |  SELECT grp, i, CAST(cents AS DOUBLE), CAST(0 AS DOUBLE),
           |         CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
           |         CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
           |         CAST(0 AS DOUBLE)
           |  FROM r WHERE i = 1
           |  UNION ALL
           |  SELECT r.grp, r.i,
           |    $lt,
           |    CAST(0.25 AS DOUBLE) * ($lt - f.l) + CAST(0.75 AS DOUBLE) * f.b,
           |    $slotUpd
           |  FROM f JOIN r ON r.grp = f.grp AND r.i = f.i + 1)
           |SELECT f.grp, n.n_days,
           |       round(f.l, 4) AS level_4, round(f.b, 4) AS trend_4,
           |       round($sNext, 4) AS s_next_4,
           |       round(f.l + f.b + $sNext, 4) AS fc_1,
           |       round(f.l + CAST(7 AS DOUBLE) * f.b + $sSame, 4) AS fc_7
           |FROM f
           |JOIN n ON n.grp = f.grp AND f.i = n.n_days
           |JOIN lastr ON lastr.grp = f.grp
           |ORDER BY f.grp""".stripMargin
      },
      // clamped cumulative sum: per-key recursive CTE, all-integer
      // (counts, rank-selected median, clamp bounds) — exact match
      "ts_clamped_inventory" ->
        """WITH RECURSIVE d AS (
          |  SELECT o_orderpriority AS grp, CAST(o_orderdate AS DATE) AS day,
          |         CAST(count(*) AS BIGINT) AS cnt
          |  FROM orders GROUP BY 1, 2),
          |r AS (SELECT grp, day, cnt,
          |             CAST(row_number() OVER (PARTITION BY grp
          |               ORDER BY day) AS BIGINT) AS i
          |      FROM d),
          |n AS (SELECT grp, count(*) AS n_days FROM r GROUP BY 1),
          |mrank AS (SELECT grp, cnt,
          |                 CAST(row_number() OVER (PARTITION BY grp
          |                   ORDER BY cnt, day) AS BIGINT) AS rn
          |          FROM d),
          |med AS (SELECT m.grp, m.cnt AS med
          |        FROM mrank m JOIN n ON n.grp = m.grp
          |        WHERE m.rn * 2 = n.n_days OR m.rn * 2 = n.n_days + 1),
          |f(grp, i, inv, lo, hi) AS (
          |  SELECT grp, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
          |         CAST(0 AS BIGINT), CAST(0 AS BIGINT)
          |  FROM n
          |  UNION ALL
          |  SELECT f.grp, f.i + 1,
          |         greatest(CAST(0 AS BIGINT),
          |           least(CAST(25 AS BIGINT), f.inv + r.cnt - med.med)),
          |         f.lo + CASE WHEN f.inv + r.cnt - med.med < 0
          |                     THEN 1 ELSE 0 END,
          |         f.hi + CASE WHEN f.inv + r.cnt - med.med > 25
          |                     THEN 1 ELSE 0 END
          |  FROM f
          |  JOIN r ON r.grp = f.grp AND r.i = f.i + 1
          |  JOIN med ON med.grp = f.grp)
          |SELECT f.grp, n.n_days, med.med,
          |       f.inv AS final_balance, f.lo AS floor_clamps,
          |       f.hi AS cap_clamps
          |FROM f
          |JOIN n ON n.grp = f.grp AND f.i = n.n_days
          |JOIN med ON med.grp = f.grp
          |ORDER BY f.grp""".stripMargin,
      // classical decomposition: BIGINT trend7/detr7, one division
      // per seasonal slot, fixed-op residual — bitwise before round
      "ts_classical_decompose" ->
        """WITH d AS (
          |  SELECT CAST(o_orderdate AS DATE) AS day,
          |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
          |              AS BIGINT) AS cents
          |  FROM orders GROUP BY 1),
          |t AS (SELECT day, cents,
          |             CAST(sum(cents) OVER (ORDER BY day
          |               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
          |               AS BIGINT) AS trend7,
          |             CAST(row_number() OVER (ORDER BY day) AS BIGINT)
          |               AS pos,
          |             CAST(count(*) OVER () AS BIGINT) AS n_days
          |      FROM d),
          |i AS (SELECT day, cents, trend7,
          |             CAST(7 * cents - trend7 AS BIGINT) AS detr7,
          |             CAST((day - DATE '1970-01-01') % 7 AS INT) AS dow
          |      FROM t WHERE pos > 3 AND pos <= n_days - 3),
          |s AS (SELECT dow,
          |             CAST(sum(detr7) AS DOUBLE) /
          |               (CAST(7 AS DOUBLE) * CAST(count(*) AS DOUBLE))
          |               AS seasonal
          |      FROM i GROUP BY 1)
          |SELECT strftime(i.day, '%Y-%m-%d') AS day_s, i.cents, i.trend7,
          |       round(s.seasonal, 4) AS seasonal_4,
          |       round(CAST(i.cents AS DOUBLE)
          |             - CAST(i.trend7 AS DOUBLE) / CAST(7 AS DOUBLE)
          |             - s.seasonal, 4) AS resid_4
          |FROM i JOIN s ON s.dow = i.dow
          |ORDER BY day_s""".stripMargin,
      // gaps-and-islands: the epoch_day − row_number key groups
      // consecutive days; everything integer
      "b_activity_islands" ->
        """WITH a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
          |           FROM events),
          |i AS (SELECT user_id,
          |             CAST(day - DATE '1970-01-01' AS BIGINT)
          |               - CAST(row_number() OVER (PARTITION BY user_id
          |                   ORDER BY day) AS BIGINT) AS grpkey
          |      FROM a),
          |g AS (SELECT user_id, grpkey,
          |             CAST(count(*) AS BIGINT) AS len_days
          |      FROM i GROUP BY 1, 2)
          |SELECT user_id, CAST(count(*) AS BIGINT) AS n_islands,
          |       CAST(max(len_days) AS BIGINT) AS max_streak,
          |       CAST(sum(len_days) AS BIGINT) AS active_days
          |FROM g GROUP BY 1 ORDER BY user_id""".stripMargin,
      // Kaplan–Meier: integer death/censor/at-risk table + the
      // product fold replayed by a recursive CTE, SAME parenthesization
      "b_survival_km" ->
        """WITH RECURSIVE b AS (
          |  SELECT o_custkey AS cust, CAST(o_orderdate AS DATE) AS day,
          |         o_orderkey
          |  FROM orders),
          |h AS (SELECT max(day) AS hday FROM b),
          |o AS (SELECT
          |        CAST(CASE WHEN nd IS NOT NULL THEN nd - day
          |                  ELSE hday - day END AS BIGINT) AS t,
          |        CASE WHEN nd IS NOT NULL THEN 1 ELSE 0 END AS ev
          |      FROM (SELECT cust, day,
          |              lead(day, 1) OVER (PARTITION BY cust
          |                ORDER BY day, o_orderkey) AS nd
          |            FROM b) x
          |      CROSS JOIN h),
          |p AS (SELECT t, CAST(sum(ev) AS BIGINT) AS d,
          |             CAST(sum(1 - ev) AS BIGINT) AS c
          |      FROM o GROUP BY 1),
          |r AS (SELECT t, d, c,
          |             CAST(sum(d + c) OVER (ORDER BY t DESC
          |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |               AS BIGINT) AS n
          |      FROM p),
          |e AS (SELECT t, d, c, n,
          |             CAST(row_number() OVER (ORDER BY t) AS BIGINT) AS i
          |      FROM r WHERE d > 0),
          |f(i, s) AS (
          |  SELECT i, CAST(1 AS DOUBLE) *
          |            (CAST(1 AS DOUBLE)
          |             - CAST(d AS DOUBLE) / CAST(n AS DOUBLE))
          |  FROM e WHERE i = 1
          |  UNION ALL
          |  SELECT e.i, f.s * (CAST(1 AS DOUBLE)
          |                     - CAST(e.d AS DOUBLE) / CAST(e.n AS DOUBLE))
          |  FROM f JOIN e ON e.i = f.i + 1)
          |SELECT e.t AS t_days, e.d, e.c, e.n, round(f.s, 6) AS surv_6
          |FROM e JOIN f ON f.i = e.i
          |ORDER BY t_days""".stripMargin,
      // two-proportion z²: every operand an exact BIGINT, the final
      // expression a fixed IEEE op sequence (explicit parens mirror
      // the Column tree)
      "b_abtest_conversion" -> {
        val z2 = """CASE WHEN x1 + x2 = 0 OR x1 + x2 = n1 + n2
                   |            THEN CAST(NULL AS DOUBLE)
                   |            ELSE CAST(n1 + n2 AS DOUBLE)
                   |             * (CAST(x1*n2 - x2*n1 AS DOUBLE)
                   |                * CAST(x1*n2 - x2*n1 AS DOUBLE))
                   |             / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                   |                * CAST(x1 + x2 AS DOUBLE)
                   |                * CAST(n1 + n2 - x1 - x2 AS DOUBLE))
                   |       END""".stripMargin
        s"""WITH u AS (SELECT user_id,
           |             CAST(sum(CASE WHEN event_type = 'purchase'
           |                           THEN 1 ELSE 0 END) AS BIGINT) AS pc
           |           FROM events GROUP BY 1),
           |nn AS (SELECT CAST(count(*) AS BIGINT) AS nu FROM u),
           |r AS (SELECT pc,
           |             CAST(row_number() OVER (ORDER BY pc, user_id)
           |               AS BIGINT) AS rn
           |      FROM u),
           |m AS (SELECT r.pc AS med FROM r CROSS JOIN nn
           |      WHERE r.rn * 2 = nn.nu OR r.rn * 2 = nn.nu + 1),
           |a AS (SELECT CAST(user_id % 2 AS INT) AS arm,
           |             CAST(count(*) AS BIGINT) AS n,
           |             CAST(sum(CASE WHEN u.pc > m.med THEN 1 ELSE 0 END)
           |               AS BIGINT) AS x
           |      FROM u CROSS JOIN m GROUP BY 1),
           |w AS (SELECT a0.n AS n1, a0.x AS x1, a1.n AS n2, a1.x AS x2
           |      FROM (SELECT n, x FROM a WHERE arm = 0) a0
           |      CROSS JOIN (SELECT n, x FROM a WHERE arm = 1) a1)
           |SELECT n1, x1, n2, x2,
           |       round(CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE), 6) AS p1_6,
           |       round(CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE), 6) AS p2_6,
           |       round($z2, 6) AS z2_6,
           |       coalesce($z2 > CAST(3.8416 AS DOUBLE), false)
           |         AS significant
           |FROM w""".stripMargin
      },
      // Mann–Kendall: S and var×18 in BIGINT; the significance
      // verdict is the exact cross-multiplication 180000·(S∓1)² >
      // 38416·var18 ⟺ Z² > 1.96² — no float in the decision path
      "ts_mann_kendall" ->
        """WITH d AS (
          |  SELECT o_orderpriority AS grp,
          |         date_trunc('month', CAST(o_orderdate AS DATE)) AS mon,
          |         count(*) AS cnt
          |  FROM orders GROUP BY 1, 2),
          |r AS (SELECT grp, cnt,
          |             CAST(row_number() OVER (PARTITION BY grp
          |               ORDER BY mon) AS BIGINT) AS i
          |      FROM d),
          |p AS (SELECT a.grp,
          |             CAST(sum(CASE WHEN b.cnt > a.cnt THEN 1
          |                           WHEN b.cnt < a.cnt THEN -1
          |                           ELSE 0 END) AS BIGINT) AS s_stat
          |      FROM r a JOIN r b ON b.grp = a.grp AND a.i < b.i
          |      GROUP BY 1),
          |t AS (SELECT grp,
          |             CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT)
          |               AS tie18
          |      FROM (SELECT grp, cnt, count(*) AS t FROM r
          |            GROUP BY 1, 2) q
          |      WHERE t > 1 GROUP BY 1),
          |n AS (SELECT grp, count(*) AS n_months FROM r GROUP BY 1),
          |base AS (
          |  SELECT n.grp, n.n_months, p.s_stat,
          |         CAST(n.n_months * (n.n_months - 1) *
          |              (2 * n.n_months + 5)
          |              - coalesce(t.tie18, 0) AS BIGINT) AS var18,
          |         CAST(CASE WHEN p.s_stat > 0 THEN p.s_stat - 1
          |                   WHEN p.s_stat < 0 THEN p.s_stat + 1
          |                   ELSE 0 END AS BIGINT) AS s_adj
          |  FROM n JOIN p ON p.grp = n.grp
          |  LEFT JOIN t ON t.grp = n.grp)
          |SELECT grp, n_months, s_stat, var18,
          |       CASE WHEN s_stat = 0 OR var18 = 0 THEN CAST(0 AS DOUBLE)
          |            ELSE round(CAST(s_adj AS DOUBLE) /
          |                   sqrt(CAST(var18 AS DOUBLE) /
          |                        CAST(18 AS DOUBLE)), 6) END AS z_6,
          |       CASE WHEN s_stat > 0
          |               AND 180000 * s_adj * s_adj > 38416 * var18
          |              THEN 'increasing'
          |            WHEN s_stat < 0
          |               AND 180000 * s_adj * s_adj > 38416 * var18
          |              THEN 'decreasing'
          |            ELSE 'no_trend' END AS trend
          |FROM base ORDER BY grp""".stripMargin,
      // Theil–Sen: lower-median rank selection phrased as 2·rn = n or
      // n+1 (no integer-division convention in play); each slope is
      // one correctly-rounded IEEE division of two exact integers
      "ts_theil_sen" ->
        """WITH d AS (
          |  SELECT o_orderpriority AS grp,
          |         date_trunc('month', CAST(o_orderdate AS DATE)) AS mon,
          |         count(*) AS cnt
          |  FROM orders GROUP BY 1, 2),
          |r AS (SELECT grp, cnt,
          |             CAST(row_number() OVER (PARTITION BY grp
          |               ORDER BY mon) AS BIGINT) AS i
          |      FROM d),
          |s AS (SELECT a.grp, a.i AS i, b.i AS j,
          |             CAST(b.cnt - a.cnt AS DOUBLE) /
          |               CAST(b.i - a.i AS DOUBLE) AS slope
          |      FROM r a JOIN r b ON b.grp = a.grp AND a.i < b.i),
          |w AS (SELECT grp, i, j, slope,
          |             CAST(row_number() OVER (PARTITION BY grp
          |               ORDER BY slope, i, j) AS BIGINT) AS rn,
          |             CAST(count(*) OVER (PARTITION BY grp) AS BIGINT)
          |               AS n_pairs
          |      FROM s)
          |SELECT grp, n_pairs, round(slope, 6) AS slope_med6
          |FROM w WHERE rn * 2 = n_pairs OR rn * 2 = n_pairs + 1
          |ORDER BY grp""".stripMargin,
      // attribution: exact integer cent-splitting — share =
      // (cents − cents % k)/k is an exact division (the result is an
      // integer < 2^53), remainder rides the last touch
      "b_attribution_credit" ->
        """WITH conv AS (
          |  SELECT user_id, event_id AS conv_id, ts AS conv_ts,
          |         CAST(round(value * 100) AS BIGINT) AS cents
          |  FROM events WHERE event_type = 'purchase'),
          |t AS (
          |  SELECT user_id, event_id AS touch_id, ts AS touch_ts,
          |         event_type AS channel
          |  FROM events WHERE event_type IN ('view', 'click')),
          |p AS (
          |  SELECT c.conv_id, c.cents, t.channel,
          |         row_number() OVER (PARTITION BY c.conv_id
          |           ORDER BY t.touch_ts, t.touch_id) AS rn_a,
          |         row_number() OVER (PARTITION BY c.conv_id
          |           ORDER BY t.touch_ts DESC, t.touch_id DESC) AS rn_d,
          |         CAST(count(*) OVER (PARTITION BY c.conv_id) AS BIGINT)
          |           AS k
          |  FROM conv c JOIN t ON t.user_id = c.user_id
          |    AND t.touch_ts < c.conv_ts
          |    AND t.touch_ts >= c.conv_ts - INTERVAL 7 DAY),
          |credits AS (
          |  SELECT 'first_touch' AS model, channel, conv_id,
          |         cents AS credit
          |  FROM p WHERE rn_a = 1
          |  UNION ALL
          |  SELECT 'last_touch', channel, conv_id, cents
          |  FROM p WHERE rn_d = 1
          |  UNION ALL
          |  SELECT 'linear', channel, conv_id,
          |         CAST((cents - cents % k) / k AS BIGINT)
          |           + CASE WHEN rn_d = 1 THEN cents % k ELSE 0 END
          |  FROM p
          |  UNION ALL
          |  SELECT m.model, 'direct', c.conv_id, c.cents
          |  FROM conv c
          |  CROSS JOIN (VALUES ('first_touch'), ('last_touch'),
          |              ('linear')) m(model)
          |  WHERE NOT EXISTS (SELECT 1 FROM p WHERE p.conv_id = c.conv_id))
          |SELECT model, channel,
          |       count(DISTINCT conv_id) AS n_conv,
          |       CAST(sum(credit) AS BIGINT) AS credit_cents
          |FROM credits GROUP BY model, channel
          |ORDER BY model, channel""".stripMargin,
      // referential integrity: per-edge scalar-subquery counts — the
      // NOT EXISTS replays the anti-join literally
      "q_referential_integrity" ->
        graft.operators.quality.Integrity.auditSql,
      // exact global percentiles: rank selection over the same total
      // order; rank arithmetic in double on both sides
      "q_global_quantiles" ->
        """WITH v AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT)
          |             AS cents, o_orderkey
          |           FROM orders),
          |n AS (SELECT count(*) AS n FROM v),
          |r AS (SELECT cents,
          |             row_number() OVER (ORDER BY cents, o_orderkey) AS rn
          |      FROM v),
          |q AS (SELECT CAST(pct AS BIGINT) AS pct
          |      FROM (VALUES (50), (90), (99)) t(pct))
          |SELECT q.pct, r.cents, n.n AS n_rows
          |FROM q CROSS JOIN n
          |JOIN r ON r.rn = CAST(ceil(CAST(q.pct * n.n AS DOUBLE)
          |                           / CAST(100 AS DOUBLE)) AS BIGINT)
          |ORDER BY pct""".stripMargin,
      // per-group exact percentiles: keyed rank selection, identical
      // ceil(p·n/100) arithmetic on both engines
      "q_grouped_quantiles" ->
        """WITH v AS (SELECT o_orderpriority AS grp,
          |                  CAST(round(o_totalprice * 100) AS BIGINT)
          |                    AS cents,
          |                  o_orderkey
          |           FROM orders),
          |r AS (SELECT grp, cents,
          |             CAST(row_number() OVER (PARTITION BY grp
          |               ORDER BY cents, o_orderkey) AS BIGINT) AS rn,
          |             CAST(count(*) OVER (PARTITION BY grp) AS BIGINT)
          |               AS n_rows
          |      FROM v),
          |q AS (SELECT CAST(pct AS BIGINT) AS pct
          |      FROM (VALUES (50), (90), (99)) t(pct))
          |SELECT grp, pct, cents, n_rows
          |FROM r JOIN q
          |  ON r.rn = CAST(ceil(CAST(q.pct * r.n_rows AS DOUBLE)
          |                      / CAST(100 AS DOUBLE)) AS BIGINT)
          |ORDER BY grp, pct""".stripMargin,
      // key-skew report: identical rank-weighted integer sums, the
      // Gini assembled in double from exact BIGINT components
      "q_key_skew_report" ->
        """WITH c AS (SELECT user_id AS k, CAST(count(*) AS BIGINT) AS ct
          |           FROM events GROUP BY 1),
          |r AS (SELECT ct, CAST(row_number() OVER (ORDER BY ct, k)
          |               AS BIGINT) AS i
          |      FROM c),
          |s AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
          |             CAST(sum(ct) AS BIGINT) AS total_rows,
          |             CAST(max(ct) AS BIGINT) AS max_key_rows,
          |             CAST(sum(i * ct) AS BIGINT) AS rank_weighted
          |      FROM r)
          |SELECT n_keys, total_rows, max_key_rows,
          |       round((CAST(2 AS DOUBLE) * CAST(rank_weighted AS DOUBLE)
          |              - CAST(n_keys + 1 AS DOUBLE)
          |                * CAST(total_rows AS DOUBLE))
          |             / (CAST(n_keys AS DOUBLE)
          |                * CAST(total_rows AS DOUBLE)), 6) AS gini_6
          |FROM s""".stripMargin,
      // RFM: three global row_numbers (total order via custkey
      // tiebreak) + the engine's explicit floor-of-double-division
      // bucket arithmetic — deliberately NOT NTILE, whose uneven
      // remainder-bucket convention is a different contract
      "b_rfm_segments" ->
        """WITH cust AS (
          |  SELECT o_custkey, max(CAST(o_orderdate AS DATE)) AS last_day,
          |         count(*) AS freq,
          |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
          |              AS BIGINT) AS monetary_cents
          |  FROM orders GROUP BY 1),
          |a AS (SELECT max(last_day) AS anchor FROM cust),
          |t AS (SELECT count(*) AS total FROM cust),
          |base AS (
          |  SELECT o_custkey,
          |         CAST(date_diff('day', last_day, anchor) AS BIGINT)
          |           AS recency_days,
          |         freq, monetary_cents
          |  FROM cust CROSS JOIN a),
          |r AS (SELECT *,
          |        row_number() OVER (ORDER BY recency_days, o_custkey)
          |          AS rn_r,
          |        row_number() OVER (ORDER BY freq DESC, o_custkey)
          |          AS rn_f,
          |        row_number() OVER (ORDER BY monetary_cents DESC, o_custkey)
          |          AS rn_m
          |      FROM base),
          |q AS (SELECT o_custkey, recency_days, freq, monetary_cents,
          |        1 + CAST(floor((rn_r - 1) * 5 / CAST(t.total AS DOUBLE))
          |                 AS BIGINT) AS r_q,
          |        1 + CAST(floor((rn_f - 1) * 5 / CAST(t.total AS DOUBLE))
          |                 AS BIGINT) AS f_q,
          |        1 + CAST(floor((rn_m - 1) * 5 / CAST(t.total AS DOUBLE))
          |                 AS BIGINT) AS m_q
          |      FROM r CROSS JOIN t)
          |SELECT *, r_q * 100 + f_q * 10 + m_q AS rfm_code
          |FROM q ORDER BY o_custkey""".stripMargin,
      // item-item CF: the capped-basket universe replayed literally —
      // window cap, quadratic per-customer pair join, HAVING prune,
      // one double step (×, sqrt, ÷ on exact integers) in micros
      // temporal-split CF hit-rate: the sims CTE replays ml_item_cf
      // on the pre-pivot orders (incl. its rank<=10 neighbor cut);
      // candidates exclude the train basket; metrics over users
      // active on both sides
      "ml_cf_eval_hitrate" ->
        """WITH train_orders AS (
          |  SELECT * FROM orders
          |  WHERE CAST(o_orderdate AS DATE) < DATE '1999-07-01'),
          |test_orders AS (
          |  SELECT * FROM orders
          |  WHERE CAST(o_orderdate AS DATE) >= DATE '1999-07-01'),
          |baskets AS (
          |  SELECT DISTINCT o_custkey AS cust, l_partkey AS part
          |  FROM lineitem JOIN train_orders ON l_orderkey = o_orderkey),
          |capped AS (
          |  SELECT cust, part FROM (
          |    SELECT cust, part,
          |           count(*) OVER (PARTITION BY cust) AS bsz
          |    FROM baskets)
          |  WHERE bsz <= 256),
          |co AS (
          |  SELECT x.part AS pa, y.part AS pb, count(*) AS co_ct
          |  FROM capped x JOIN capped y
          |    ON x.cust = y.cust AND x.part < y.part
          |  GROUP BY 1, 2 HAVING count(*) >= 2),
          |sizes AS (SELECT part, count(*) AS ct FROM capped GROUP BY 1),
          |sym AS (SELECT pa, pb, co_ct FROM co
          |        UNION ALL SELECT pb AS pa, pa AS pb, co_ct FROM co),
          |scored AS (
          |  SELECT s.pa AS part_a, s.pb AS part_b,
          |         CAST(round(s.co_ct * 1000000 /
          |              sqrt(CAST(a.ct * b.ct AS DOUBLE))) AS BIGINT)
          |           AS cos_micros
          |  FROM sym s JOIN sizes a ON a.part = s.pa
          |             JOIN sizes b ON b.part = s.pb),
          |sims AS (
          |  SELECT part_a, part_b, cos_micros FROM (
          |    SELECT *, row_number() OVER (PARTITION BY part_a
          |             ORDER BY cos_micros DESC, part_b) AS rank
          |    FROM scored)
          |  WHERE rank <= 10),
          |test AS (
          |  SELECT DISTINCT o_custkey AS cust, l_partkey AS part
          |  FROM lineitem JOIN test_orders ON l_orderkey = o_orderkey),
          |cand AS (
          |  SELECT t.cust, s.part_b AS rec,
          |         max(s.cos_micros) AS score
          |  FROM baskets t JOIN sims s ON s.part_a = t.part
          |  GROUP BY 1, 2),
          |cand2 AS (
          |  SELECT * FROM cand c
          |  WHERE NOT EXISTS (SELECT 1 FROM baskets t
          |                    WHERE t.cust = c.cust AND t.part = c.rec)),
          |topk AS (
          |  SELECT cust, rec FROM (
          |    SELECT *, row_number() OVER (PARTITION BY cust
          |             ORDER BY score DESC, rec) AS rank
          |    FROM cand2)
          |  WHERE rank <= 5),
          |eu AS (
          |  SELECT DISTINCT b.cust
          |  FROM (SELECT DISTINCT cust FROM baskets) b
          |  JOIN (SELECT DISTINCT cust FROM test) te ON te.cust = b.cust),
          |recs AS (SELECT tk.* FROM topk tk JOIN eu ON eu.cust = tk.cust),
          |hits AS (
          |  SELECT * FROM recs r
          |  WHERE EXISTS (SELECT 1 FROM test t
          |                WHERE t.cust = r.cust AND t.part = r.rec))
          |SELECT (SELECT count(*) FROM eu) AS n_users,
          |       (SELECT count(*) FROM recs) AS n_recs,
          |       (SELECT count(*) FROM hits) AS n_hits,
          |       CAST(floor(1000000 * (SELECT count(*) FROM hits) /
          |            nullif((SELECT count(*) FROM recs), 0)) AS BIGINT)
          |         AS hitrate_micro""".stripMargin,
      "ml_item_cf" ->
        """WITH baskets AS (
          |  SELECT DISTINCT o_custkey AS cust, l_partkey AS part
          |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
          |capped AS (
          |  SELECT cust, part FROM (
          |    SELECT cust, part,
          |           count(*) OVER (PARTITION BY cust) AS bsz
          |    FROM baskets)
          |  WHERE bsz <= 256),
          |co AS (
          |  SELECT x.part AS pa, y.part AS pb, count(*) AS co_ct
          |  FROM capped x JOIN capped y
          |    ON x.cust = y.cust AND x.part < y.part
          |  GROUP BY 1, 2 HAVING count(*) >= 2),
          |sizes AS (SELECT part, count(*) AS ct FROM capped GROUP BY 1),
          |sym AS (SELECT pa, pb, co_ct FROM co
          |        UNION ALL SELECT pb AS pa, pa AS pb, co_ct FROM co),
          |scored AS (
          |  SELECT s.pa AS part_a, s.pb AS part_b, s.co_ct,
          |         a.ct AS ct_a, b.ct AS ct_b,
          |         CAST(round(s.co_ct * 1000000 /
          |              sqrt(CAST(a.ct * b.ct AS DOUBLE))) AS BIGINT)
          |           AS cos_micros
          |  FROM sym s JOIN sizes a ON a.part = s.pa
          |             JOIN sizes b ON b.part = s.pb),
          |rk AS (SELECT *, row_number() OVER (PARTITION BY part_a
          |         ORDER BY cos_micros DESC, part_b) AS rank
          |       FROM scored)
          |SELECT part_a, part_b, co_ct, ct_a, ct_b, cos_micros,
          |       CAST(rank AS BIGINT) AS rank
          |FROM rk WHERE rank <= 10 ORDER BY part_a, rank""".stripMargin,
      // association rules: the engine's exact double parenthesization
      // — (co·10⁶ → DOUBLE) [· n] / denominator — replayed literally
      "ml_assoc_rules" ->
        """WITH baskets AS (
          |  SELECT DISTINCT o_custkey AS cust, l_partkey AS part
          |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
          |capped AS (
          |  SELECT cust, part FROM (
          |    SELECT cust, part,
          |           count(*) OVER (PARTITION BY cust) AS bsz
          |    FROM baskets)
          |  WHERE bsz <= 256),
          |n AS (SELECT count(DISTINCT cust) AS n FROM capped),
          |co AS (
          |  SELECT x.part AS pa, y.part AS pb, count(*) AS co_ct
          |  FROM capped x JOIN capped y
          |    ON x.cust = y.cust AND x.part < y.part
          |  GROUP BY 1, 2 HAVING count(*) >= 2),
          |sizes AS (SELECT part, count(*) AS ct FROM capped GROUP BY 1),
          |sym AS (SELECT pa, pb, co_ct FROM co
          |        UNION ALL SELECT pb AS pa, pa AS pb, co_ct FROM co),
          |scored AS (
          |  SELECT s.pa AS part_a, s.pb AS part_b, s.co_ct,
          |         a.ct AS ct_a, b.ct AS ct_b,
          |         CAST(round(CAST(s.co_ct * 1000000 AS DOUBLE)
          |                    / CAST(n.n AS DOUBLE)) AS BIGINT)
          |           AS supp_micros,
          |         CAST(round(CAST(s.co_ct * 1000000 AS DOUBLE)
          |                    / CAST(a.ct AS DOUBLE)) AS BIGINT)
          |           AS conf_micros,
          |         CAST(round(CAST(s.co_ct * 1000000 AS DOUBLE)
          |                    * CAST(n.n AS DOUBLE)
          |                    / CAST(a.ct * b.ct AS DOUBLE)) AS BIGINT)
          |           AS lift_micros
          |  FROM sym s JOIN sizes a ON a.part = s.pa
          |             JOIN sizes b ON b.part = s.pb
          |             CROSS JOIN n),
          |rk AS (SELECT *, row_number() OVER (PARTITION BY part_a
          |         ORDER BY lift_micros DESC, part_b) AS rank
          |       FROM scored)
          |SELECT part_a, part_b, co_ct, ct_a, ct_b, supp_micros,
          |       conf_micros, lift_micros, CAST(rank AS BIGINT) AS rank
          |FROM rk WHERE rank <= 5 ORDER BY part_a, rank""".stripMargin,
      "q_profile_orders" -> {
        val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_orderpriority", "o_orderdate")
        cols.map(c =>
          s"""SELECT '$c' AS col_name, count(*) AS n_rows,
             |       count(*) - count($c) AS null_ct,
             |       count(DISTINCT $c) AS distinct_ct,
             |       CAST(min($c) AS VARCHAR) AS min_s,
             |       CAST(max($c) AS VARCHAR) AS max_s
             |FROM orders""".stripMargin)
          .mkString("SELECT * FROM (\n", "\nUNION ALL\n",
            "\n) ORDER BY col_name")
      },
      "q_histogram_totalprice" ->
        """WITH c AS (
          |  SELECT CAST(least(greatest(
          |           floor((o_totalprice - 0.0) / 50000.0), 0), 9)
          |         AS BIGINT) AS bucket,
          |         count(*) AS ct
          |  FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1),
          |g AS (SELECT unnest(generate_series(0, 9)) AS bucket)
          |SELECT g.bucket,
          |       CAST(round(0.0 + g.bucket * 50000.0, 2) AS DOUBLE) AS lo,
          |       CAST(round(0.0 + (g.bucket + 1) * 50000.0, 2) AS DOUBLE) AS hi,
          |       CAST(coalesce(c.ct, 0) AS BIGINT) AS ct
          |FROM g LEFT JOIN c USING (bucket) ORDER BY g.bucket""".stripMargin
    ) ++
    // the differential-fuzz cases' SQL comes from the same seeded AST
    // as their DataFrame plans (FuzzGen)
    graft.operators.FuzzGen.driverSuite.map(f => f.name -> f.sql).toMap ++
    // full-probe IVF×SQ8 degenerates to the full SQ8 scan, so it
    // shares the sq8 oracle verbatim (the ivf_fullprobe pattern)
    Map("llm_ann_ivfsq8_fullprobe" -> sq8OracleSql)

  /** Shared by `llm_ann_sq8` and `llm_ann_ivfsq8_fullprobe` (probing
    * every cell degenerates the composition to the full SQ8 scan). */
  private val sq8OracleSql: String =
    """WITH e AS (SELECT vec_id,
      |                  list_transform(embedding, x -> x::DOUBLE) AS emb
      |           FROM embeddings),
      |dims AS (
      |  SELECT i, min(emb[i]) AS mn, max(emb[i]) AS mx
      |  FROM e CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i)
      |  GROUP BY i),
      |calib AS (SELECT list(mn ORDER BY i) AS mn,
      |                 list(mx ORDER BY i) AS mx FROM dims),
      |deq AS (
      |  SELECT vec_id, list_transform(generate_series(1, 64), i ->
      |    CASE WHEN calib.mx[i] = calib.mn[i] THEN calib.mn[i]
      |         ELSE least(255.0, greatest(0.0,
      |                floor((emb[i] - calib.mn[i]) /
      |                      ((calib.mx[i] - calib.mn[i]) / 255.0) + 0.5)))
      |              * ((calib.mx[i] - calib.mn[i]) / 255.0) + calib.mn[i]
      |    END) AS demb
      |  FROM e CROSS JOIN calib),
      |q AS (SELECT vec_id AS query_id, demb AS q_emb FROM deq
      |      WHERE vec_id IN (0,1,2,3,4)),
      |scored AS (
      |  SELECT query_id, d.vec_id AS neighbor_id,
      |         round(list_cosine_similarity(d.demb, q_emb), 4) AS cos_sim
      |  FROM deq d CROSS JOIN q WHERE d.vec_id <> query_id),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |            ORDER BY cos_sim DESC, neighbor_id) AS rank
      |  FROM scored)
      |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos_sim
      |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** k-core peel unrolled: d1 = full degrees; d_{i+1} = degrees over
    * the subgraph induced by d_i's >= k survivors. Monotone, so a
    * converged peel makes the remaining unrolled rounds no-ops.
    * Every CTE is MATERIALIZED: d_{i-1} is referenced TWICE per round
    * and `e` in every round, so DuckDB's default inlining expands the
    * join tree 2^rounds-fold (measured: a 79 GB spill at sf0.1 before
    * the hint; sub-second after). */
  private def kCoreOracleSql(k: Int, rounds: Int): String = {
    val base =
      """WITH pp AS MATERIALIZED (
        |  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        |  FROM lineitem l1 JOIN lineitem l2
        |    ON l1.l_orderkey = l2.l_orderkey
        |   AND l1.l_partkey < l2.l_partkey),
        |e AS MATERIALIZED (
        |      SELECT a AS src, b AS dst FROM pp
        |      UNION ALL SELECT b AS src, a AS dst FROM pp),
        |d1 AS MATERIALIZED (
        |      SELECT src AS node, count(*) AS dg FROM e GROUP BY 1)"""
        .stripMargin
    val peels = (2 to rounds).map { i =>
      s""",
         |d$i AS MATERIALIZED (
         |  SELECT e.src AS node, count(*) AS dg FROM e
         |  JOIN d${i - 1} a ON e.src = a.node AND a.dg >= $k
         |  JOIN d${i - 1} b ON e.dst = b.node AND b.dg >= $k
         |  GROUP BY 1)""".stripMargin
    }.mkString
    base + peels +
      s"""
         |SELECT node, CAST(dg AS BIGINT) AS core_deg
         |FROM d$rounds WHERE dg >= $k ORDER BY node""".stripMargin
  }

  /** Bellman-Ford unrolled as `rounds` chained MATERIALIZED CTEs
    * (the k-core lesson: without MATERIALIZED DuckDB inlines the
    * round tree 2^rounds-fold). Each round is relax-then-min, exactly
    * the engine's join + unionAll + min aggregate; the engine's
    * fixpoint early-exit is oracle-safe because distances only
    * decrease, so converged trailing rounds are no-ops. */
  /** HITS rounds unrolled as MATERIALIZED CTEs — per round, the two
    * keyed sums and the two max-renormalizations in BIGINT floor
    * division (values nonnegative, so DuckDB's `//` agrees with the
    * engine's `div`). Early exit is oracle-safe: the engine only
    * exits on EXACT hub-table equality, which makes every later
    * round a self-reproduction. */
  private def hitsOracleSql(rounds: Int): String = {
    val base =
      """WITH e AS MATERIALIZED (
        |  SELECT DISTINCT o_custkey AS src, l_partkey AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |h0 AS MATERIALIZED (
        |  SELECT DISTINCT src AS node, CAST(1000000 AS BIGINT) AS score
        |  FROM e)""".stripMargin
    val rounds_ = (1 to rounds).map { i =>
      s""",
         |a${i}r AS MATERIALIZED (
         |  SELECT e.dst AS node, CAST(sum(h.score) AS BIGINT) AS raw
         |  FROM h${i - 1} h JOIN e ON e.src = h.node GROUP BY 1),
         |a$i AS MATERIALIZED (
         |  SELECT node, (raw * 1000000) //
         |    nullif((SELECT max(raw) FROM a${i}r), 0) AS score
         |  FROM a${i}r),
         |h${i}r AS MATERIALIZED (
         |  SELECT e.src AS node, CAST(sum(a.score) AS BIGINT) AS raw
         |  FROM a$i a JOIN e ON e.dst = a.node GROUP BY 1),
         |h$i AS MATERIALIZED (
         |  SELECT node, (raw * 1000000) //
         |    nullif((SELECT max(raw) FROM h${i}r), 0) AS score
         |  FROM h${i}r)""".stripMargin
    }.mkString
    base + rounds_ +
      s"""
         |SELECT node, kind, score_micro, CAST(rank AS INT) AS rank
         |FROM (SELECT node, kind, score_micro,
         |             row_number() OVER (PARTITION BY kind
         |               ORDER BY score_micro DESC, node) AS rank
         |      FROM (SELECT node, 'hub' AS kind, score AS score_micro
         |            FROM h$rounds
         |            UNION ALL
         |            SELECT node, 'auth', score FROM a$rounds))
         |WHERE rank <= 20 ORDER BY kind, rank""".stripMargin
  }

  private def ssspOracleSql(rounds: Int): String = {
    val base =
      """WITH w0 AS MATERIALIZED (
        |  SELECT o_custkey*2 AS src, l_partkey*2+1 AS dst,
        |         count(*) AS n
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2),
        |e AS MATERIALIZED (
        |  SELECT src, dst, greatest(1, 11 - least(n, 10)) AS w FROM w0
        |  UNION ALL
        |  SELECT dst AS src, src AS dst,
        |         greatest(1, 11 - least(n, 10)) AS w FROM w0),
        |d0 AS MATERIALIZED (
        |  SELECT (SELECT min(src) FROM e) AS node,
        |         CAST(0 AS BIGINT) AS dist)""".stripMargin
    val relax = (1 to rounds).map { i =>
      s""",
         |d$i AS MATERIALIZED (
         |  SELECT node, min(dist) AS dist FROM (
         |    SELECT e.dst AS node, d.dist + e.w AS dist
         |    FROM d${i - 1} d JOIN e ON e.src = d.node
         |    UNION ALL SELECT node, dist FROM d${i - 1})
         |  GROUP BY 1)""".stripMargin
    }.mkString
    base + relax +
      s"""
         |SELECT node, CAST(dist AS BIGINT) AS dist
         |FROM d$rounds ORDER BY node""".stripMargin
  }

  /** LPA rounds unrolled as MATERIALIZED CTEs: each round re-labels
    * every node with the most frequent (neighbor ∪ self) label,
    * min-label ties — the engine's exact vote. Early exit is safe:
    * rounds are deterministic functions of the labeling. */
  private def labelPropOracleSql(rounds: Int): String = {
    val base =
      """WITH pp AS MATERIALIZED (
        |  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        |  FROM lineitem l1 JOIN lineitem l2
        |    ON l1.l_orderkey = l2.l_orderkey
        |   AND l1.l_partkey < l2.l_partkey),
        |e AS MATERIALIZED (
        |  SELECT a AS src, b AS dst FROM pp
        |  UNION ALL SELECT b AS src, a AS dst FROM pp),
        |l0 AS MATERIALIZED (
        |  SELECT node, node AS label FROM
        |    (SELECT src AS node FROM e UNION SELECT dst FROM e))"""
        .stripMargin
    val steps = (1 to rounds).map { i =>
      s""",
         |l$i AS MATERIALIZED (
         |  SELECT node, label FROM (
         |    SELECT node, label,
         |           row_number() OVER (PARTITION BY node
         |                              ORDER BY c DESC, label) AS rk
         |    FROM (SELECT node, label, count(*) AS c FROM (
         |            SELECT e.src AS node, d.label
         |            FROM e JOIN l${i - 1} d ON d.node = e.dst
         |            UNION ALL SELECT node, label FROM l${i - 1}) v
         |          GROUP BY 1, 2) g) r
         |  WHERE rk = 1)""".stripMargin
    }.mkString
    base + steps +
      s"""
         |SELECT node, CAST(label AS BIGINT) AS label
         |FROM l$rounds ORDER BY node""".stripMargin
  }

  /** Personalized-PageRank oracle: the [[pageRankOracleSql]] round
    * structure with the teleport term gated on a seed LEFT JOIN —
    * unrolled integer rounds, bit-exact. */
  private def pprOracleSql(iters: Int): String = {
    val tele = "(CASE WHEN s.node IS NOT NULL " +
      "THEN 1000000000000 // scnt ELSE CAST(0 AS BIGINT) END)"
    val base =
      s"""WITH e AS (
         |  SELECT DISTINCT o_custkey*2 AS src, l_partkey*2+1 AS dst
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |es AS (SELECT src, dst FROM e
         |       UNION ALL SELECT dst AS src, src AS dst FROM e),
         |deg AS (SELECT src, count(*) AS deg FROM es GROUP BY 1),
         |nodes AS (SELECT DISTINCT src AS node FROM es),
         |seeds AS (SELECT node FROM nodes WHERE node % 100 = 0),
         |ns AS (SELECT count(*) AS scnt FROM seeds),
         |pr0 AS (SELECT nodes.node, $tele AS r
         |        FROM nodes CROSS JOIN ns
         |        LEFT JOIN seeds s ON s.node = nodes.node)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s""",
         |it$i AS (SELECT es.dst AS node, sum(pr${i - 1}.r // deg.deg) AS s
         |        FROM es JOIN pr${i - 1} ON es.src = pr${i - 1}.node
         |        JOIN deg ON es.src = deg.src GROUP BY 1),
         |pr$i AS (SELECT it$i.node, (15 * $tele + 85 * it$i.s) // 100 AS r
         |        FROM it$i CROSS JOIN ns
         |        LEFT JOIN seeds s ON s.node = it$i.node)""".stripMargin
    }.mkString
    base + rounds +
      s"\nSELECT node, CAST(r AS BIGINT) AS rank_fp FROM pr$iters " +
      "ORDER BY node"
  }

  private def pageRankOracleSql(iters: Int): String = {
    val base =
      """WITH e AS (
        |  SELECT DISTINCT o_custkey*2 AS src, l_partkey*2+1 AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |es AS (SELECT src, dst FROM e
        |       UNION ALL SELECT dst AS src, src AS dst FROM e),
        |deg AS (SELECT src, count(*) AS deg FROM es GROUP BY 1),
        |nodes AS (SELECT DISTINCT src AS node FROM es),
        |n AS (SELECT count(*) AS cnt FROM nodes),
        |pr0 AS (SELECT node, 1000000000000 // cnt AS r
        |        FROM nodes CROSS JOIN n)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s""",
         |it$i AS (SELECT es.dst AS node, sum(pr${i - 1}.r // deg.deg) AS s
         |        FROM es JOIN pr${i - 1} ON es.src = pr${i - 1}.node
         |        JOIN deg ON es.src = deg.src GROUP BY 1),
         |pr$i AS (SELECT nodes.node,
         |             (15 * (1000000000000 // cnt) + 85 * coalesce(it$i.s, 0))
         |               // 100 AS r
         |        FROM nodes CROSS JOIN n
         |        LEFT JOIN it$i ON nodes.node = it$i.node)""".stripMargin
    }.mkString
    base + rounds +
      s"\nSELECT node, CAST(r AS BIGINT) AS rank_fp FROM pr$iters ORDER BY node"
  }
}
