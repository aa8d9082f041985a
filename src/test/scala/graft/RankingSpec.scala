package graft

import org.apache.spark.sql.functions._
import graft.core.Ranking

/** Distributed global row numbering: correctness against the
  * single-partition window truth, and the plan property that motivates
  * it (no one-partition window over the full input). */
class RankingSpec extends SparkTestBase {

  import spark.implicits._

  test("global row numbers match the single-window truth across partitions") {
    // 1000 rows, shuffled key order, spread over several partitions
    val df = (0 until 1000).map(i => ((i * 617) % 1000, i))
      .toDF("k", "id").repartition(7)
    val out = Ranking.withGlobalRowNumber(df, Seq(col("k").asc), "rn")
      .select("k", "rn").as[(Int, Long)].collect().sortBy(_._1)
    assert(out.map(_._2).toSeq == (1L to 1000L), "rn must be 1..n in k order")
    // descending + tiebreak total order
    val desc = Ranking.withGlobalRowNumber(df,
        Seq(col("k").desc, col("id").asc), "rn")
      .select("k", "rn").as[(Int, Long)].collect()
    assert(desc.maxBy(_._2)._1 == 0 && desc.minBy(_._2)._1 == 999)
  }

  test("global quantiles: rank selection on a known distribution") {
    import graft.operators.quality.Profile
    // cents 100..1000: p50 → rank 5 (500), p90 → rank 9 (900),
    // p99 → rank ceil(9.9)=10 (1000)
    val orders = (1 to 10).map(i => (i.toLong, i * 1.0))
      .toDF("o_orderkey", "o_totalprice")
    val out = Profile.globalQuantiles(orders).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out == Map(50L -> ((500L, 10L)), 90L -> ((900L, 10L)),
      99L -> ((1000L, 10L))), out.toString)
  }

  test("ranking runs on parallel range partitions, not one window task") {
    val df = (0 until 1000).map(i => ((i * 31) % 997, i)).toDF("k", "id")
    val ranked = Ranking.withGlobalRowNumber(df,
      Seq(col("k").asc, col("id").asc), "rn")
    val plan = ranked.queryExecution.executedPlan.toString
    // the range exchange runs in the one-time scratch materialization
    // (per-execution sampling seeds make re-executing it unsafe); the
    // returned plan reads the materialized ranges and windows
    // partitioned on the pid column, never unpartitioned
    assert(plan.contains("__graft_rn_pid"), plan)
    assert(plan.contains("graft-scratch") || plan.contains("rank-"),
      s"ranking must read the single materialization:\n$plan")
    assert(!plan.matches("(?s).*Window.*SinglePartition.*"),
      s"global ranking must not collapse to one partition:\n$plan")
    // determinism across executions of the SAME returned frame: two
    // actions see identical global numbering (the double-execution
    // hazard the materialization removes)
    val a = ranked.select("id", "rn").collect().map(r =>
      r.getInt(0) -> r.getLong(1)).toMap
    val b = ranked.select("id", "rn").collect().map(r =>
      r.getInt(0) -> r.getLong(1)).toMap
    assert(a == b)
    assert(a.values.toSeq.sorted == (1L to 1000L))
  }

  test("spark.graft.scratch redirects the ranking materialization") {
    val parent = java.nio.file.Files.createTempDirectory("ranking-spec-")
    try {
      spark.conf.set("spark.graft.scratch", parent.toString)
      val df = (0 until 100).map(i => ((i * 31) % 97, i)).toDF("k", "id")
      val ranked = Ranking.withGlobalRowNumber(df, Seq(col("k").asc), "rn")
      val plan = ranked.queryExecution.executedPlan.toString
      assert(plan.contains(s"${parent.toString}/rank-"),
        s"ranking must read from under the configured scratch parent:\n$plan")
      assert(ranked.count() == 100)
    } finally {
      spark.conf.unset("spark.graft.scratch")
      org.apache.commons.io.FileUtils.deleteDirectory(parent.toFile)
    }
  }

  test("bm25 ranking metrics: dcg/idcg/ndcg/rr match a longhand " +
      "recomputation from the ranking and the texts") {
    import graft.operators.llm.Retrieval
    val docs = Seq(
      (1L, "x y x y filler words here", "en", "s", 10L),
      (2L, "x x x x x x only one term", "en", "s", 10L),
      (3L, "y appears once", "en", "s", 10L),
      (4L, "no match at all", "en", "s", 10L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val qs = Seq(0 -> "x y")
    val row = Retrieval.bm25RankingMetrics(docs, qs, k = 5).head()
    val (dcg, idcg, ndcg, rr) = (row.getLong(1), row.getLong(2),
      row.getLong(3), row.getLong(4))
    // longhand: relevance from the texts, ranking from bm25TopK
    val texts = Map(1L -> "x y x y filler words here",
      2L -> "x x x x x x only one term", 3L -> "y appears once",
      4L -> "no match at all")
    val rel = texts.map { case (d, t) =>
      d -> Seq("x", "y").count(t.split("\\s+").contains(_)).toLong
    }.filter(_._2 > 0)
    val ranked = Retrieval.bm25TopK(docs, qs, 5)
      .collect().map(r => (r.getLong(1), r.getInt(2)))
    def disc(r: Int) = math.rint(1e6 / (math.log(r + 1.0) / math.log(2))).toLong
    val expDcg = ranked.map { case (d, r) => rel(d) * disc(r) }.sum
    val ideal = rel.toSeq.sortBy { case (d, v) => (-v, d) }.take(5)
      .zipWithIndex.map { case ((_, v), i) => v * disc(i + 1) }.sum
    assert(dcg == expDcg && idcg == ideal, s"($dcg,$idcg) vs ($expDcg,$ideal)")
    assert(ndcg == 1000000L * dcg / idcg)
    val firstFull = ranked.collectFirst { case (d, r) if rel(d) == 2 => r }
    assert(rr == firstFull.map(r => math.rint(1e6 / r).toLong).getOrElse(0L))
  }
}
