package graft.operators.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Item-item collaborative filtering over the co-purchase signal —
  * "customers who bought X also bought Y", the recommendation query an
  * e-commerce warehouse (the reference's domain,
  * `DwsTradeUserSpuOrderWindow.java`'s spu/tm rollups being its
  * aggregate cousin) serves from its DWS layer. Items are vectors over
  * the binary customer dimension; similarity is set cosine
  *   cos(a, b) = |A ∩ B| / √(|A|·|B|)
  * with exact integer co-counts and sizes, emitted in micros so the
  * only double step (one multiply, one sqrt, one divide on exact
  * integers) replays bit-identically in a SQL oracle.
  *
  * Scale shape (Linden et al., IEEE Internet Computing 2003 —
  * Amazon's item-item CF): the quadratic step is per-CUSTOMER pair
  * generation, so fanout is Σ|basket|², bounded by capping baskets at
  * `maxBasket` distinct items (power buyers contribute noise, not
  * signal — the MinHash/SemDeDup bucket-cap discipline). Pipeline is
  * three keyed exchanges on reduced data: distinct (cust, part) from
  * the facts; the capped self-join keyed on cust streaming pairs
  * straight into a map-side-combined (a, b) count; part sizes from the
  * same capped set. `minCo` prunes the long tail before the join with
  * part counts; top-`topN` per item is a part_a-keyed window, never a
  * global sort. */
object ItemCf {

  /** The distinct (customer, part) basket universe off the facts —
    * one distinct exchange. */
  private def basketUniverse(lineitem: DataFrame,
                             orders: DataFrame): DataFrame =
    lineitem.select(col("l_orderkey"), col("l_partkey"))
      .join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_partkey").as("part"))
      .distinct()

  /** The capped universe, its pair co-counts and its per-part sizes,
    * from an ALREADY-DISTINCT (cust, part) frame — shared by
    * [[itemCosine]], [[assocRules]] and [[evalHitRate]] (which feeds
    * the same frame to the CF and the eval joins). */
  private def cappedFrom(baskets: DataFrame, minCo: Int, maxBasket: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    // cap mega-baskets BEFORE the quadratic step; the capped set is
    // the similarity universe (sizes and co-counts agree on it).
    // Deliberately NOT scratch-materialized: its consumers all share
    // the distinct's shuffle via AQE exchange reuse inside one query,
    // and a parquet round-trip measured SLOWER at sf0.1 (4.0 → 5.4 s).
    // An in-row pair rewrite (pack each basket into a sorted array,
    // posexplode × slice the ordered pairs) was measured SLOWER too
    // (r10: item_cf 4.5 → 6.3 s, assoc 4.4 → 6.1 s): slice allocates
    // a fresh array per LEFT element, Σ|basket|²/2 copied elements,
    // where the sort-merge self-join streams the same pair bag out of
    // two sorted runs with zero per-pair allocation — the self-join
    // IS the fast shape here.
    val capped = baskets
      .withColumn("bsz", count(lit(1)).over(Window.partitionBy("cust")))
      .filter(col("bsz") <= maxBasket)
      .drop("bsz")
    val co = capped.as("x")
      .join(capped.as("y"),
        col("x.cust") === col("y.cust") && col("x.part") < col("y.part"))
      .groupBy(col("x.part").as("pa"), col("y.part").as("pb"))
      .agg(count(lit(1)).as("co_ct"))
      .filter(col("co_ct") >= minCo)
    val sizes = capped.groupBy(col("part")).agg(count(lit(1)).as("ct"))
    (capped, co, sizes)
  }

  private def cappedCounts(lineitem: DataFrame, orders: DataFrame,
                           minCo: Int, maxBasket: Int)
      : (DataFrame, DataFrame, DataFrame) =
    cappedFrom(basketUniverse(lineitem, orders), minCo, maxBasket)

  /** Top-`topN` most-cosine-similar parts per part. Output (both
    * directions of each pair, so every item lists ITS neighbors):
    * (part_a, part_b, co_ct, ct_a, ct_b, cos_micros, rank). */
  def itemCosine(lineitem: DataFrame, orders: DataFrame, topN: Int = 10,
                 minCo: Int = 2, maxBasket: Int = 256): DataFrame =
    itemCosineFrom(basketUniverse(lineitem, orders), topN, minCo, maxBasket)

  /** [[itemCosine]] over a caller-supplied distinct (cust, part)
    * universe — lets `evalHitRate` feed ONE (possibly materialized)
    * train universe to the CF and the eval joins alike. */
  private[ml] def itemCosineFrom(baskets: DataFrame, topN: Int = 10,
                                 minCo: Int = 2,
                                 maxBasket: Int = 256): DataFrame = {
    require(topN >= 1 && minCo >= 1 && maxBasket >= 2,
      "itemCosine: need topN, minCo >= 1 and maxBasket >= 2")
    val (_, co, sizes) = cappedFrom(baskets, minCo, maxBasket)
    val sym = co.unionAll(
      co.select(col("pb").as("pa"), col("pa").as("pb"), col("co_ct")))
    val scored = sym
      .join(sizes.select(col("part").as("pa"), col("ct").as("ct_a")), "pa")
      .join(sizes.select(col("part").as("pb"), col("ct").as("ct_b")), "pb")
      .select(col("pa").as("part_a"), col("pb").as("part_b"),
        col("co_ct"), col("ct_a"), col("ct_b"),
        round(col("co_ct") * lit(1000000L) /
          sqrt((col("ct_a") * col("ct_b")).cast("double")))
          .cast("bigint").as("cos_micros"))
    val rank = Window.partitionBy(col("part_a"))
      .orderBy(col("cos_micros").desc, col("part_b").asc)
    scored
      .withColumn("rank", row_number().over(rank).cast("long"))
      .filter(col("rank") <= topN)
      .orderBy("part_a", "rank")
  }

  /** Association rules a→b over the same capped universe (Agrawal &
    * Srikant, VLDB '94 measures at itemset size 2 — the level the
    * pair join already mines):
    *   support    = co / n        (n = capped customers)
    *   confidence = co / ct_a
    *   lift       = co·n / (ct_a·ct_b)
    * all emitted in micros. Every numerator/denominator is an exact
    * BIGINT; lift multiplies in DOUBLE with pinned parenthesization
    * ((co·10⁶ → double) · n) / (ct_a·ct_b) so it never overflows at
    * corpus scale and the oracle walks the identical roundings.
    * Directed output (confidence is asymmetric): both (a,b) and
    * (b,a) are candidates, but only the `topN` rules per antecedent
    * survive, ranked by (lift desc, consequent asc) — the output is
    * |items|·topN-bounded by construction, where a global
    * support/confidence threshold would leave it corpus-sized. */
  def assocRules(lineitem: DataFrame, orders: DataFrame, minCo: Int = 2,
                 maxBasket: Int = 256, topN: Int = 5): DataFrame = {
    require(minCo >= 1 && maxBasket >= 2 && topN >= 1,
      "assocRules: need minCo >= 1, maxBasket >= 2 and topN >= 1")
    val (capped, co, sizes) =
      cappedCounts(lineitem, orders, minCo, maxBasket)
    // the support denominator rides a 1-row broadcast cross join —
    // a driver-side count() would execute the whole basket pipeline
    // a second time just to fetch one scalar. capped is one exploded
    // row per (cust, part) with cust unique per pack, so a plain
    // count over the DISTINCT custs equals the former
    // countDistinct(cust) — but the distinct aggregate is kept: the
    // value, not the plan, is the contract (and Catalyst plans the
    // single-key distinct as two hash aggregates over a node-sized
    // frame — noise here).
    val nDf = capped.agg(
      countDistinct(col("cust")).cast("double").as("n_cust"))
    val sym = co.unionAll(
      co.select(col("pb").as("pa"), col("pa").as("pb"), col("co_ct")))
    val coMicros = (col("co_ct") * lit(1000000L)).cast("double")
    val scored = sym
      .join(sizes.select(col("part").as("pa"), col("ct").as("ct_a")), "pa")
      .join(sizes.select(col("part").as("pb"), col("ct").as("ct_b")), "pb")
      .crossJoin(broadcast(nDf))
      .select(col("pa").as("part_a"), col("pb").as("part_b"),
        col("co_ct"), col("ct_a"), col("ct_b"),
        round(coMicros / col("n_cust")).cast("bigint").as("supp_micros"),
        round(coMicros / col("ct_a").cast("double")).cast("bigint")
          .as("conf_micros"),
        round(coMicros * col("n_cust") /
          (col("ct_a") * col("ct_b")).cast("double")).cast("bigint")
          .as("lift_micros"))
    val best = Window.partitionBy(col("part_a"))
      .orderBy(col("lift_micros").desc, col("part_b").asc)
    scored
      .withColumn("rank", row_number().over(best).cast("long"))
      .filter(col("rank") <= topN)
      .orderBy("part_a", "rank")
  }

  /** Temporal-split recommender evaluation of the item-CF model:
    * train the similarity table on orders BEFORE `pivotDate`, issue
    * each customer the top-`k` unseen neighbors of their train-basket
    * items (score = max cosine over the basket, ties on item id), and
    * measure hits against the SAME customer's post-pivot purchases —
    * the offline hit-rate@k protocol. One metrics row out:
    * (n_users, n_recs, n_hits, hitrate_micro) over users active on
    * BOTH sides of the split; hitrate = hits / recs issued, floored
    * micros. Shape at 100 TB: everything after the train-side CF
    * (already capped/blocked) is basket-sized joins; the metrics are
    * three scalar aggregates. */
  def evalHitRate(lineitem: DataFrame, orders: DataFrame,
                  pivotDate: String = "1999-07-01", k: Int = 5,
                  topN: Int = 10, minCo: Int = 2,
                  maxBasket: Int = 256): DataFrame = {
    val trainOrders = orders
      .filter(to_date(col("o_orderdate")) < lit(pivotDate))
    val testOrders = orders
      .filter(to_date(col("o_orderdate")) >= lit(pivotDate))
    // six consumers share `train` by AQE exchange reuse; scratch parquet
    // measured a wash at sf0.1 (AQE 7.34 s vs scratch 7.56 s, min-of-3)
    val train = basketUniverse(lineitem, trainOrders)
    val sims = itemCosineFrom(train, topN, minCo, maxBasket)
      .select(col("part_a"), col("part_b"), col("cos_micros"))
    val test = basketUniverse(lineitem, testOrders)
    // recommendations: neighbors of the train basket, minus the train
    // basket itself, best score per candidate, top-k per customer
    val cand = train.join(sims, train("part") === sims("part_a"))
      .groupBy(col("cust"), col("part_b").as("rec"))
      .agg(max(col("cos_micros")).as("score"))
      .join(train.select(col("cust"), col("part").as("rec")),
        Seq("cust", "rec"), "left_anti")
    val topK = cand.withColumn("rank", row_number().over(
        Window.partitionBy(col("cust"))
          .orderBy(col("score").desc, col("rec"))))
      .filter(col("rank") <= k)
    // only customers active on both sides of the split are evaluated
    val evalUsers = train.select("cust").distinct()
      .join(test.select("cust").distinct(), "cust")
    val recs = topK.join(evalUsers, "cust")
    // n_recs and n_hits ride ONE pass over the recs pipeline (r10
    // optimization): the former shape aggregated recs twice — once
    // bare, once through a left-semi against the test purchases — so
    // the whole CF + window subtree executed twice unless exchange
    // reuse happened to cover it. test is a distinct (cust, part)
    // universe, so a left join marks each rec hit-or-not exactly once
    // and count(hit) ≡ the former semi-join count, bit-identical.
    val metrics = recs
      .join(test.select(col("cust"), col("part").as("rec"))
        .withColumn("__hit", lit(1)), Seq("cust", "rec"), "left")
      .agg(count(lit(1)).as("n_recs"), count(col("__hit")).as("n_hits"))
    broadcast(evalUsers.agg(count(lit(1)).as("n_users")))
      .crossJoin(broadcast(metrics))
      .select(col("n_users"), col("n_recs"), col("n_hits"),
        floor(lit(1000000L) * col("n_hits") /
          nullif(col("n_recs"), lit(0L)))
          .cast("bigint").as("hitrate_micro"))
  }
}
