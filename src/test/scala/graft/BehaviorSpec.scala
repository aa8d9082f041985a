package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.dwd.AsofJoin
import graft.operators.dws.Behavior
import graft.operators.dim.Scd2
import graft.operators.llm.Sampling

/** Semantics checks for funnel, retention cohorts, SCD2 intervals and
  * priority sampling. */
class BehaviorSpec extends SparkTestBase {

  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("funnel: ordered strictly-after semantics") {
    val ev = Seq(
      // A: full funnel in order
      (1L, ts("2024-01-01 00:00:01"), 1L, "view", 0.0, "{}"),
      (2L, ts("2024-01-01 00:00:02"), 1L, "click", 0.0, "{}"),
      (3L, ts("2024-01-01 00:00:03"), 1L, "purchase", 0.0, "{}"),
      // B: purchase WITHOUT a qualifying click — stops at step 1
      (4L, ts("2024-01-01 00:00:01"), 2L, "view", 0.0, "{}"),
      (5L, ts("2024-01-01 00:00:02"), 2L, "purchase", 0.0, "{}"),
      // C: click only — never enters the funnel
      (6L, ts("2024-01-01 00:00:01"), 3L, "click", 0.0, "{}"),
      // D: click at the SAME ts as view — strict > rejects it
      (7L, ts("2024-01-01 00:00:05"), 4L, "view", 0.0, "{}"),
      (8L, ts("2024-01-01 00:00:05"), 4L, "click", 0.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = Behavior.funnel(ev)
      .select("step", "users", "conv_rate")
      .as[(Int, Long, Double)].collect().sortBy(_._1)
    assert(out(0) == ((1, 3L, 1.0)), s"A, B, D enter: ${out.toSeq}")
    assert(out(1) == ((2, 1L, 0.3333)), "only A advances past step 1")
    assert(out(2) == ((3, 1L, 1.0)), "A completes")
  }

  test("retention cohorts: offsets count returning users per cohort") {
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "view", 0.0, "{}"),
      (2L, ts("2024-01-03 10:00:00"), 1L, "view", 0.0, "{}"), // +2 days
      (3L, ts("2024-01-01 23:00:00"), 2L, "view", 0.0, "{}"),
      (4L, ts("2024-01-02 00:30:00"), 3L, "view", 0.0, "{}")  // later cohort
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = Behavior.retentionCohorts(ev)
      .as[(String, Int, Long)].collect().toSet
    assert(out == Set(
      ("2024-01-01", 0, 2L), // users 1 and 2
      ("2024-01-01", 2, 1L), // user 1 returns
      ("2024-01-02", 0, 1L)))
  }

  test("as-of attribution, funnel and retention scale exactly xN over " +
      "disjoint user replicas") {
    // every replica gets its own user space, so each per-user result
    // is copied N times and every count must scale by exactly N
    val base = Tables.events(spark, sf0001)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    val n = 3
    val big = (1 until n).map { r =>
      base.select((col("event_id") + lit(r * 1000000000L)).as("event_id"),
        col("ts"), (col("user_id") + lit(r * 1000000L)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.foldLeft(base)(_.unionByName(_))
    val asofBase = AsofJoin.purchaseAttribution(base).count()
    assert(asofBase > 0)
    assert(AsofJoin.purchaseAttribution(big).count() == n * asofBase)
    def funnelUsers(ev: org.apache.spark.sql.DataFrame) = Behavior.funnel(ev)
      .select("step", "users").as[(Int, Long)].collect().toMap
    val funnelBase = funnelUsers(base)
    assert(funnelBase.values.exists(_ > 0))
    assert(funnelUsers(big) == funnelBase.map { case (s, u) => s -> u * n })
    def cells(ev: org.apache.spark.sql.DataFrame) = Behavior
      .retentionCohorts(ev).as[(String, Int, Long)].collect()
      .map { case (c, d, u) => (c, d) -> u }.toMap
    val cellsBase = cells(base)
    assert(cellsBase.nonEmpty)
    assert(cells(big) == cellsBase.map { case (k, u) => k -> u * n })
  }

  test("scd2: intervals chain gaplessly, exactly one current per key") {
    val scd = Scd2.scd2Build(Tables.orders(spark, sf0001)).cache()
    val keys = scd.select("o_custkey").distinct().count()
    val current = scd.filter(col("is_current") === 1).count()
    assert(current == keys, "one open interval per business key")
    // every non-current interval's valid_to equals the successor's
    // valid_from (the lead construction makes this structural; assert
    // it anyway against future rewrites)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("valid_from"), col("o_orderkey"))
    val broken = scd
      .withColumn("next_from", lead(col("valid_from"), 1).over(w))
      .filter(col("is_current") === 0 &&
        (col("valid_to").isNull || col("valid_to") =!= col("next_from")))
      .count()
    assert(broken == 0)
    scd.unpersist()
  }

  test("scd2 point-in-time lookup equals the range-join reformulation") {
    val orders = Tables.orders(spark, sf0001)
    val events = Tables.events(spark, sf0001)
    val viaAsof = Scd2.pointInTimeLookup(events, Scd2.scd2Build(orders))
    // literal semantics: the single latest version at-or-before ts
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_id"))
      .orderBy(col("o_orderdate").desc_nulls_last,
        col("o_orderkey").desc_nulls_last)
    val viaRange = events.select(col("event_id"), col("user_id"), col("ts"))
      .join(orders.select(col("o_custkey"), col("o_orderkey"),
        col("o_orderstatus"), col("o_orderdate")),
        col("user_id") === col("o_custkey") &&
          col("o_orderdate") <= col("ts"), "left")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_id"), col("user_id"),
        col("o_orderkey").as("version_key"),
        col("o_orderstatus").as("status_at_ts"))
    assertSameRows(viaAsof, viaRange)
  }

  test("misra-gries heavy hitters: guarantee holds under eviction pressure") {
    // 900 singleton tokens + one token with freq 100: n = 1000,
    // k = 10 → threshold 100 < ... wait: need freq strictly > n/k=100
    // → use 101 occurrences. Vocabulary 901 ≫ k, so counters evict
    // constantly and the merge path runs across partitions.
    val docs = (
      (0 until 900).map(i => (i.toLong, s"rare$i")) ++
        (900 until 1001).map(i => (i.toLong, "heavy"))
      ).toDF("doc_id", "text").repartition(8)
    val out = graft.operators.llm.HeavyHitters.frequentTokens(docs, k = 10)
      .as[(String, Long)].collect().toMap
    assert(out == Map("heavy" -> 101L),
      s"MG must surface exactly the true heavy hitter: $out")
  }

  test("priority sample: deterministic, sorted, and weight-biased") {
    val docs = Tables.documents(spark, sf0001)
    val s1 = Sampling.prioritySample(docs, k = 50)
      .as[(Long, String, String, Long, Double)].collect()
    val s2 = Sampling.prioritySample(docs, k = 50)
      .as[(Long, String, String, Long, Double)].collect()
    assert(s1.toSeq == s2.toSeq, "hash-derived u must be replayable")
    assert(s1.length == 50)
    assert(s1.map(_._5).sliding(2).forall(p => p.head >= p.last))
    // weighted-without-replacement must over-represent heavy docs
    val sampleMean = s1.map(_._4).sum.toDouble / s1.length
    val corpusMean = docs.agg(avg(col("n_chars"))).as[Double].head()
    assert(sampleMean > corpusMean,
      s"weighted sample mean $sampleMean <= corpus mean $corpusMean")
  }

  test("markov: planted chain yields exact row-normalized probabilities") {
    val ev = Seq(
      // user 1: A→B→A→B  (A→B twice, B→A once)
      (1L, ts("2024-01-01 00:00:01"), 1L, "A", 0.0, "{}"),
      (2L, ts("2024-01-01 00:00:02"), 1L, "B", 0.0, "{}"),
      (3L, ts("2024-01-01 00:00:03"), 1L, "A", 0.0, "{}"),
      (4L, ts("2024-01-01 00:00:04"), 1L, "B", 0.0, "{}"),
      // user 2: A→C  (crosses no user boundary into user 1)
      (5L, ts("2024-01-01 00:00:01"), 2L, "A", 0.0, "{}"),
      (6L, ts("2024-01-01 00:00:02"), 2L, "C", 0.0, "{}"),
      // user 3: same-ts tie — event_id orders D before E
      (7L, ts("2024-01-01 00:00:09"), 3L, "D", 0.0, "{}"),
      (8L, ts("2024-01-01 00:00:09"), 3L, "E", 0.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = Behavior.markovTransitions(ev)
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(out(("A", "B")) == ((2L, round6(2.0 / 3))))
    assert(out(("A", "C")) == ((1L, round6(1.0 / 3))))
    assert(out(("B", "A")) == ((1L, 1.0)))
    assert(out(("D", "E")) == ((1L, 1.0)), "ties order by event_id")
    assert(!out.contains(("B", "D")), "transitions never cross users")
    // each prev row sums to 1
    val byPrev = out.toSeq.groupBy(_._1._1)
      .map { case (p, xs) => p -> xs.map(_._2._2).sum }
    byPrev.foreach { case (p, s) =>
      assert(math.abs(s - 1.0) < 1e-9, s"row $p sums to $s") }
  }

  private def round6(v: Double): Double = math.rint(v * 1e6) / 1e6

  test("user paths: first-k ordering, short users keep short paths") {
    val ev = Seq(
      (1L, ts("2024-01-01 00:00:01"), 1L, "A", 0.0, "{}"),
      (2L, ts("2024-01-01 00:00:02"), 1L, "B", 0.0, "{}"),
      (3L, ts("2024-01-01 00:00:03"), 1L, "C", 0.0, "{}"),
      (4L, ts("2024-01-01 00:00:04"), 1L, "D", 0.0, "{}"), // beyond k
      (5L, ts("2024-01-01 00:00:01"), 2L, "A", 0.0, "{}"),
      (6L, ts("2024-01-01 00:00:02"), 2L, "B", 0.0, "{}"),
      // user 3: same-ts tie — event_id decides A before B
      (8L, ts("2024-01-01 00:00:09"), 3L, "B", 0.0, "{}"),
      (7L, ts("2024-01-01 00:00:09"), 3L, "A", 0.0, "{}"),
      (9L, ts("2024-01-01 00:00:10"), 3L, "C", 0.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = Behavior.topUserPaths(ev)
      .as[(String, Long)].collect().toMap
    assert(out == Map("A>B>C" -> 2L, "A>B" -> 1L), out)
  }

  test("ols: planted exact line recovers slope/intercept with r2 = 1") {
    val li = Seq(
      ("L", 1.0, 8.0), ("L", 2.0, 11.0), ("L", 3.0, 14.0),   // y = 3x+5
      ("F", 2.0, 9.0), ("F", 2.0, 17.0),                     // zero x-var
      ("N", 1.0, 10.0), ("N", 2.0, 10.0), ("N", 3.0, 16.0)   // noisy
    ).toDF("l_returnflag", "l_quantity", "l_extendedprice")
    val out = graft.operators.ml.Regression
      .olsPerGroup(li, "l_returnflag", "l_quantity", "l_extendedprice")
      .as[(String, Long, Option[Double], Option[Double], Option[Double])]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(out("L") == ((3L, Some(3.0), Some(5.0), Some(1.0))))
    assert(out("F") == ((2L, None, None, None)),
      "zero x-variance must yield nulls, not a division error")
    val (n, slope, _, r2) = out("N")
    assert(n == 3L && slope.get > 0 && r2.get < 1.0 && r2.get > 0)
  }

  test("rfm: hand-computed quintiles; buckets are rank-width, not NTILE") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    // 5 customers: recency 0,1,2,3,4 days before anchor 2024-01-10;
    // freq 1 each except cust 1 (2 orders); monetary strictly ordered
    val orders = Seq(
      (1L, ts("2024-01-10"), 10.0), (1L, ts("2024-01-01"), 10.0),
      (2L, ts("2024-01-09"), 50.0),
      (3L, ts("2024-01-08"), 40.0),
      (4L, ts("2024-01-07"), 30.0),
      (5L, ts("2024-01-06"), 5.0)
    ).toDF("o_custkey", "o_orderdate", "o_totalprice")
    val out = Behavior.rfmSegments(orders).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))).toMap
    // n=5, buckets=5 → quintile = rank (1 + (rn−1)·5/5)
    // recency: cust1=0d,2=1d,3=2d,4=3d,5=4d → r_q 1..5
    // freq: cust1=2 (rank 1), rest 1 → f_q by custkey tiebreak 1,2,3,4,5
    // monetary cents: 2000,5000,4000,3000,500 → desc: 2,3,4,1,5
    assert(out(1L) == ((0L, 2L, 2000L, 1L, 1L, 4L, 114L)), out(1L).toString)
    assert(out(2L) == ((1L, 1L, 5000L, 2L, 2L, 1L, 221L)), out(2L).toString)
    assert(out(3L) == ((2L, 1L, 4000L, 3L, 3L, 2L, 332L)), out(3L).toString)
    assert(out(4L) == ((3L, 1L, 3000L, 4L, 4L, 3L, 443L)), out(4L).toString)
    assert(out(5L) == ((4L, 1L, 500L, 5L, 5L, 5L, 555L)), out(5L).toString)
  }

  test("windowed funnel: the 60-minute deadline from step 1 gates " +
      "steps 2 and 3") {
    val ev = Seq(
      // A: click +30m, purchase +50m -> full conversion
      (1L, ts("2024-01-01 00:00:00"), 1L, "view", 0.0, "{}"),
      (2L, ts("2024-01-01 00:30:00"), 1L, "click", 0.0, "{}"),
      (3L, ts("2024-01-01 00:50:00"), 1L, "purchase", 0.0, "{}"),
      // B: click at +90m — outside the deadline, stops at step 1
      (4L, ts("2024-01-01 00:00:00"), 2L, "view", 0.0, "{}"),
      (5L, ts("2024-01-01 01:30:00"), 2L, "click", 0.0, "{}"),
      // C: click +40m inside, purchase +70m outside -> stops at 2
      (6L, ts("2024-01-01 00:00:00"), 3L, "view", 0.0, "{}"),
      (7L, ts("2024-01-01 00:40:00"), 3L, "click", 0.0, "{}"),
      (8L, ts("2024-01-01 01:10:00"), 3L, "purchase", 0.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = Behavior.funnelWindowed(ev)
      .select("step", "users").as[(Int, Long)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1, 3L), (2, 2L), (3, 1L)), out.toSeq)
    // the unbounded funnel would let B and C through — the deadline
    // is what this operator adds
    val loose = Behavior.funnel(ev)
      .select("step", "users").as[(Int, Long)].collect().sortBy(_._1)
    assert(loose.toSeq == Seq((1, 3L), (2, 3L), (3, 2L)), loose.toSeq)
  }
}
