package graft

/** Every SparkEntry query runs on sf0.001 and returns rows; spot checks
  * pin a few known aggregates (values derived from the seed-42 data). */
class BatchQueriesSpec extends SparkTestBase {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query returns rows on sf0.001") {
    // every scratch directory a query makes lives under the one JVM
    // temp root of graft.core.Scratch: no query leaves its own graft-*
    // directory at the top of java.io.tmpdir
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def graftDirs: Set[String] = tmp.list().toSet.filter(_.startsWith("graft-"))
    val before = graftDirs
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf0001).count()
      assert(n > 0, s"query $name returned 0 rows")
    }
    val added = graftDirs -- before
    assert(added.size <= 1 && added.forall(_.startsWith("graft-scratch-")),
      s"queries left scratch outside the JVM temp root: $added")
  }

  test("every query has an oracle or is explicitly rows-only") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    // rows-only entries must be a deliberate, documented set
    val allowed = Set("llm_dedup_minhash", "llm_dedup_simhash",
      "llm_dedup_ngram_jaccard", "llm_ann_lsh", "llm_ann_ivf",
      // PQ shortlist is approximate by design; the rerank-all twin
      // llm_ann_ivfpq_rerank_all is the oracle; recall pinned in spec
      "llm_ann_ivfpq",
      // cell-blocked SemDeDup: exact twin llm_semdedup_twin is the
      // oracle; LlmOpsSpec pins general == twin on planted duplicates
      "llm_semdedup",
      // JDK-zlib codec boundary: DuckDB has no deflate; invariants
      // (determinism, repetitive < prose ordering) pinned in LlmOpsSpec
      "llm_compression_ratio",
      // approx swaps: estimators have no exact oracle; drift vs the
      // exact twins is bounded in DwsJobSpec / LlmOpsSpec /
      // ProfileSpec (HLL distinct in the approx profile)
      "a3_province_order_window_approx", "llm_token_percentiles_approx",
      "q_profile_orders_approx",
      // GK grouped-percentile sketch: exact twin q_grouped_quantiles
      // is the oracle; rank drift bounded in ProfileSpec
      "q_grouped_quantiles_approx",
      // probed IVF×SQ8 is approximate by construction; the fullprobe
      // twin llm_ann_ivfsq8_fullprobe carries the sq8 oracle, recall
      // floor pinned in AsofRetrievalSpec
      "llm_ann_ivfsq8")
    assert(noOracle.subsetOf(allowed), s"queries missing oracle: $noOracle")
  }

  test("a10 daily uv: users are bounded by distinct user count") {
    import org.apache.spark.sql.functions._
    val uv = SparkEntry.queries("a10_daily_unique_visitors")(spark, sf0001)
    val maxUv = uv.agg(max(col("uv_ct"))).collect()(0).getLong(0)
    assert(maxUv <= 15) // sf0.001 has 15 distinct users
  }

  test("job_coupon_phases is a disjoint 3-way split of the envelope") {
    // every coupon_use row matches exactly one lifecycle filter
    val phases = SparkEntry.queries("job_coupon_phases")(spark, sf0001)
    val orders = core.Tables.orders(spark, sf0001).count()
    assert(phases.count() == orders)
    assert(phases.select("coupon_use_id").distinct().count() == orders)
  }

  test("job_cancel_detail rows are the Finished subset of the preprocess table") {
    val pre = SparkEntry.queries("job_order_preprocess")(spark, sf0001)
    val cancel = SparkEntry.queries("job_cancel_detail")(spark, sf0001)
    val finished = pre.filter(org.apache.spark.sql.functions
      .col("status_name") === "Finished").count()
    assert(cancel.count() == finished)
  }

  test("job_order_window daily unique users bound the new users") {
    import org.apache.spark.sql.functions._
    val w = SparkEntry.queries("job_order_window")(spark, sf0001)
    assert(w.filter(col("order_new_ct") > col("order_uu_ct")).count() == 0)
  }

  test("j2 left join keeps all lineitem rows") {
    val li = core.Tables.lineitem(spark, sf0001).count()
    val j2 = SparkEntry.queries("j2_left_outer_activity")(spark, sf0001).count()
    assert(j2 == li)
  }
}
