package graft.operators.dws

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** User-behavior analytics over the events stream — funnel conversion
  * and retention cohorts, the two summary shapes an e-commerce
  * warehouse (the reference's domain) reports from its DWS layer.
  * Both are pure aggregates with integer-exact outputs, so they are
  * fully SQL-oracle-able.
  */
object Behavior {

  /** Ordered funnel: how many users performed step1, then step2
    * STRICTLY after it, then step3 strictly after that. Per-user step
    * times resolve as
    *   t1 = min ts of step1,
    *   t2 = min ts of step2 with ts > t1,
    *   t3 = min ts of step3 with ts > t2
    * — the standard "earliest qualifying event" funnel semantics
    * (simultaneous events do NOT advance the funnel; the strict
    * inequality is pinned by spec and oracle).
    *
    * Shape at 100 TB: one filtered aggregate per step (map-side
    * combined, keyed on user_id), each joined back user-keyed — the
    * step tables shrink monotonically, so every join after the first
    * is small-side. No windows, no per-user sorting, no event
    * buffering. Output is |steps| rows. */
  def funnel(events: DataFrame,
             steps: Seq[String] = Seq("view", "click", "purchase")): DataFrame = {
    require(steps.size == 3, "funnel() is specified for 3 steps")
    val s1 = events.filter(col("event_type") === steps.head)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val s2 = events.filter(col("event_type") === steps(1))
      .join(s1, "user_id").filter(col("ts") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val s3 = events.filter(col("event_type") === steps(2))
      .join(s2, "user_id").filter(col("ts") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    val counts = s1.agg(count(lit(1)).as("u1"))
      .crossJoin(s2.agg(count(lit(1)).as("u2")))
      .crossJoin(s3.agg(count(lit(1)).as("u3")))
    counts.select(explode(array(
        struct(lit(1).as("step"), lit(steps.head).as("step_type"),
          col("u1").as("users"),
          lit(1.0).as("conv_rate")),
        struct(lit(2).as("step"), lit(steps(1)).as("step_type"),
          col("u2").as("users"),
          round(col("u2").cast("double") / col("u1").cast("double"), 4)
            .as("conv_rate")),
        struct(lit(3).as("step"), lit(steps(2)).as("step_type"),
          col("u3").as("users"),
          round(col("u3").cast("double") / col("u2").cast("double"), 4)
            .as("conv_rate")))).as("r"))
      .select(col("r.step"), col("r.step_type"), col("r.users"),
        col("r.conv_rate"))
  }

  /** Retention cohorts: users grouped by first-active day; for each
    * cohort and day offset, how many of its users were active again.
    * Offset 0 is the cohort itself (active_users = cohort size).
    *
    * Two aggregates — distinct (user, day) activity and per-user min
    * day — joined user-keyed, then one (cohort, offset) aggregate.
    * All counts are integer-exact; day arithmetic is calendar-exact
    * under the pinned UTC session. */
  def retentionCohorts(events: DataFrame): DataFrame = {
    val activity = events
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val cohort = activity.groupBy(col("user_id"))
      .agg(min(col("day")).as("cohort_day"))
    activity.join(cohort, "user_id")
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("active_users"))
      .select(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_date"),
        col("day_offset").cast("int").as("day_offset"),
        col("active_users"))
  }

  /** Top user journey paths: each user's first `k` event types in
    * (ts, event_id) order joined into one `a>b>c` path string, then
    * counted across users — the "what do sessions look like"
    * aggregate. One user-keyed window to rank, one user aggregate
    * (order restored by sorting the (rn, type) structs INSIDE the
    * row — no second window), one path-keyed count. Path cardinality
    * is |types|^k, a bounded frame. */
  def topUserPaths(events: DataFrame, k: Int = 3): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
    events
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .groupBy("user_id")
      .agg(concat_ws(">", transform(
        array_sort(collect_list(struct(col("rn"), col("event_type")))),
        s => s("event_type"))).as("path"))
      .groupBy("path").agg(count(lit(1)).as("user_ct"))
      .orderBy(col("user_ct").desc, col("path"))
  }

  /** First-order Markov transition matrix of the per-user event
    * stream: for each ordered (prev_type → next_type) pair, the
    * transition count and the row-normalized probability
    * P(next | prev) = ct / Σ_next ct. Ordering inside a user is
    * (ts, event_id) — the unique id breaks same-timestamp ties
    * deterministically. One user-keyed exchange for the lag, one
    * (prev, next) aggregate (type-pair cardinality is tiny — the
    * normalizing window runs on that bounded frame, not the facts),
    * integer counts exact, probability rounded at the edge. */
  def markovTransitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val ct = events
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("ct"))
    val wPrev = Window.partitionBy("prev_type")
    ct.withColumn("prev_ct", sum("ct").over(wPrev))
      .select(col("prev_type"), col("next_type"), col("ct"),
        round(col("ct").cast("double") / col("prev_ct"), 6).as("prob"))
      .orderBy("prev_type", "next_type")
  }

  /** RFM segmentation — the classic e-commerce customer scoring: per
    * customer, Recency (days from last order to the corpus anchor =
    * global max order date), Frequency (order count) and Monetary
    * (lifetime cents), each quintiled 1..5 (1 = most recent / most
    * frequent / highest spend) into a 3-digit `rfm_code`.
    *
    * Quintiles need a GLOBAL ranking — the single-partition
    * `Window.orderBy` trap — so each score rides
    * [[graft.core.Ranking.withGlobalRowNumber]] (range exchange +
    * parallel per-partition windows + broadcast offsets) over the
    * customer AGGREGATE, never the fact table. The bucket is explicit
    * integer arithmetic, `1 + (rn−1)·5 ÷ n` (floor division — equal
    * rank-width buckets), not NTILE, so the SQL replay is exact by
    * construction. Customer-key tiebreaks make every ranking a total
    * order. */
  def rfmSegments(orders: DataFrame, buckets: Int = 5): DataFrame = {
    require(buckets >= 2, "rfmSegments: need buckets >= 2")
    val cust = orders
      .groupBy(col("o_custkey"))
      .agg(max(to_date(col("o_orderdate"))).as("last_day"),
        count(lit(1)).as("freq"),
        sum(round(col("o_totalprice") * 100).cast("bigint"))
          .as("monetary_cents"))
    val anchor = cust.agg(max("last_day").as("anchor")) // 1 row
    // materialize the customer aggregate ONCE (Scratch, the iterative-
    // operator contract): the count below plus the three rankings are
    // five consumers, each of which would otherwise re-run the fact
    // scan + aggregate
    val spark = orders.sparkSession
    val dir = graft.core.Scratch.dir(spark, "rfm")
    cust.crossJoin(broadcast(anchor))
      .select(col("o_custkey"),
        datediff(col("anchor"), col("last_day")).cast("long")
          .as("recency_days"),
        col("freq"), col("monetary_cents"))
      .write.mode("overwrite").parquet(s"$dir/base")
    val base = spark.read.parquet(s"$dir/base")
    val n = lit(buckets.toLong)
    // total customer count: one bounded scalar shared by all 3 scores.
    // Bucket arithmetic: quotients are ≤ `buckets`, far inside double
    // exactness, so floor-of-double-division ≡ integer division and
    // the oracle replays the identical expression
    val total = base.count()
    def score(df: DataFrame, sort: Seq[org.apache.spark.sql.Column],
              out: String): DataFrame =
      graft.core.Ranking.withGlobalRowNumber(df, sort, "__rn")
        .withColumn(out,
          lit(1L) + floor((col("__rn") - 1L) * n / lit(total.toDouble))
            .cast("bigint"))
        .drop("__rn")
    val scored = score(
      score(
        score(base,
          Seq(col("recency_days").asc, col("o_custkey").asc), "r_q"),
        Seq(col("freq").desc, col("o_custkey").asc), "f_q"),
      Seq(col("monetary_cents").desc, col("o_custkey").asc), "m_q")
    scored
      .select(col("o_custkey"), col("recency_days"), col("freq"),
        col("monetary_cents"), col("r_q"), col("f_q"), col("m_q"),
        (col("r_q") * 100 + col("f_q") * 10 + col("m_q")).as("rfm_code"))
      .orderBy("o_custkey")
  }

  /** Deadline-windowed funnel: like [[funnel]], but steps 2 and 3
    * must land within `windowMin` minutes of the user's FIRST step-1
    * event (the session-deadline protocol — an unbounded funnel
    * overcounts users who "converted" weeks later). Same
    * earliest-qualifying-event semantics, with the deadline carried
    * from step 1 through the chain; one keyed aggregate per step. */
  def funnelWindowed(events: DataFrame,
                     steps: Seq[String] = Seq("view", "click", "purchase"),
                     windowMin: Int = 60): DataFrame = {
    require(steps.size == 3, "funnelWindowed() is specified for 3 steps")
    val s1 = events.filter(col("event_type") === steps.head)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      .withColumn("deadline",
        col("t1") + expr(s"INTERVAL $windowMin MINUTES"))
    val s2 = events.filter(col("event_type") === steps(1))
      .join(s1, "user_id")
      .filter(col("ts") > col("t1") && col("ts") <= col("deadline"))
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("t2"), min(col("deadline")).as("deadline"))
    val s3 = events.filter(col("event_type") === steps(2))
      .join(s2, "user_id")
      .filter(col("ts") > col("t2") && col("ts") <= col("deadline"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    val counts = s1.agg(count(lit(1)).as("u1"))
      .crossJoin(s2.agg(count(lit(1)).as("u2")))
      .crossJoin(s3.agg(count(lit(1)).as("u3")))
    counts.select(explode(array(
        struct(lit(1).as("step"), lit(steps.head).as("step_type"),
          col("u1").as("users"), lit(1.0).as("conv_rate")),
        struct(lit(2).as("step"), lit(steps(1)).as("step_type"),
          col("u2").as("users"),
          round(col("u2").cast("double") / col("u1").cast("double"), 4)
            .as("conv_rate")),
        struct(lit(3).as("step"), lit(steps(2)).as("step_type"),
          col("u3").as("users"),
          round(col("u3").cast("double") / col("u2").cast("double"), 4)
            .as("conv_rate")))).as("r"))
      .select(col("r.step"), col("r.step_type"), col("r.users"),
        col("r.conv_rate"))
      .orderBy("step")
  }

  /** Activity islands (the classic gaps-and-islands shape): per user,
    * maximal runs of CONSECUTIVE active days, grouped by the
    * `epoch_day − row_number` key (consecutive days share it — the
    * textbook derivation, and the one shape that needs NO self-join:
    * one keyed window + two aggregates). Emits per-user streak
    * summaries; everything integer, exchange keyed on user. Hot
    * users cost their own active-day count, nothing cross-user. */
  def activityIslands(events: DataFrame): DataFrame = {
    val active = events
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
    val islands = active
      .withColumn("grpkey",
        datediff(col("day"), lit("1970-01-01")).cast("long") -
          row_number().over(w))
      .groupBy(col("user_id"), col("grpkey"))
      .agg(count(lit(1)).as("len_days"))
    islands.groupBy("user_id")
      .agg(count(lit(1)).as("n_islands"),
        max(col("len_days")).as("max_streak"),
        sum(col("len_days")).as("active_days"))
      .orderBy("user_id")
  }

  /** Multi-touch marketing attribution: every purchase's value (in
    * exact integer cents) is credited to the view/click touches that
    * preceded it within a lookback window, under THREE models at
    * once — first-touch, last-touch, and linear. Linear credit is
    * exact integer arithmetic: each of the k touches gets
    * (cents − cents mod k)/k and the LAST touch absorbs the
    * remainder, so per-conversion credits sum to cents exactly (no
    * float splitting, no lost pennies — the invariant the spec
    * asserts). Purchases with no preceding touch credit a synthetic
    * 'direct' channel in full under every model.
    *
    * Shape at 100 TB: the touch↔conversion pairing is a user-keyed
    * equi-join with the time predicate applied on top (an interval
    * join bounded by per-user activity inside the lookback window —
    * the same contract as `j6_interval_join`), then two row_numbers
    * and a count over conv_id-partitioned windows (conversion fan-in
    * is lookback-bounded). The final rollup is a tiny
    * models×channels aggregate. Hot users skew the pair join exactly
    * like any interval join; `skew/Salting` composes if needed. */
  def attributionCredit(events: DataFrame,
                        lookbackDays: Int = 7): DataFrame = {
    val conv = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("conv_id"),
        col("ts").as("conv_ts"),
        round(col("value") * 100).cast("bigint").as("cents"))
    val touch = events.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("event_id").as("touch_id"),
        col("ts").as("touch_ts"), col("event_type").as("channel"))
    val pairs = conv.join(touch, Seq("user_id"))
      .filter(col("touch_ts") < col("conv_ts") &&
        col("touch_ts") >=
          col("conv_ts") - expr(s"INTERVAL $lookbackDays DAYS"))
    val wAsc = Window.partitionBy("conv_id")
      .orderBy(col("touch_ts"), col("touch_id"))
    // rn over a total order reversed is k+1−rn: the descending rank
    // derives from the ascending one, so the pair set pays ONE window
    // sort, not two (the count shares wAsc's partitioning)
    val ranked = pairs
      .withColumn("rn_a", row_number().over(wAsc))
      .withColumn("k",
        count(lit(1)).over(Window.partitionBy("conv_id")))
      .withColumn("rn_d", col("k") + 1 - col("rn_a"))
    // exact integer split: share = (cents − rem)/k, remainder to last
    val rem = col("cents") % col("k")
    val share = ((col("cents") - rem) / col("k")).cast("bigint")
    // all three models ride ONE derivation of the ranked pair set —
    // a union of filters would re-run the interval join and both
    // window sorts per model (the pre-optimization plan paid 4
    // independent event-scan branches). The conditional array emits
    // first/last rows only for the matching touch (filtered nulls),
    // linear for every touch — identical row set to the union form.
    val touchCredits = ranked
      .select(col("channel"), col("conv_id"),
        explode(filter(array(
          when(col("rn_a") === 1,
            struct(lit("first_touch").as("model"),
              col("cents").as("credit"))),
          when(col("rn_d") === 1,
            struct(lit("last_touch").as("model"),
              col("cents").as("credit"))),
          struct(lit("linear").as("model"),
            (share + when(col("rn_d") === 1, rem).otherwise(lit(0L)))
              .as("credit"))),
          x => x.isNotNull)).as("mc"))
      .select(col("mc.model").as("model"), col("channel"),
        col("conv_id"), col("mc.credit").as("credit"))
    val models = conv.sparkSession
      .createDataset(Seq("first_touch", "last_touch", "linear"))(
        org.apache.spark.sql.Encoders.STRING).toDF("model")
    val direct = conv
      .join(pairs.select("conv_id").distinct(), Seq("conv_id"),
        "left_anti")
      .crossJoin(models)
      .select(col("model"), lit("direct").as("channel"), col("conv_id"),
        col("cents").as("credit"))
    touchCredits.unionByName(direct)
      .groupBy("model", "channel")
      .agg(countDistinct(col("conv_id")).as("n_conv"),
        sum(col("credit")).cast("bigint").as("credit_cents"))
      .orderBy("model", "channel")
  }
}
