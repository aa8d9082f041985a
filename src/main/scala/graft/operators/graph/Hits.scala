package graft.operators.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HITS hubs-and-authorities (Kleinberg 1999, "Authoritative sources
  * in a hyperlinked environment") on the customer→part purchase
  * graph: a customer is a good hub when it buys authoritative parts,
  * a part is a good authority when good hubs buy it. The mutual
  * recursion runs in integer micros: each half-round is one keyed sum
  * aggregate followed by max-normalization to the [0, 1e6] band via
  * BIGINT division — `(raw * 1e6) div max(raw)` — so every round is
  * order-free, engine-free integer arithmetic and the SQL oracle
  * unrolls bit-identically (the same determinization trade PageRank
  * makes with its integer DIV mass splits). Overflow audit: the
  * rescale needs max_raw·1e6 < 2^63 with max_raw ≤ max_deg·1e6, i.e.
  * max degree < 9.2e6 — beyond that, drop one scaling decade (the
  * conf-free contract is documented, not silently truncated).
  *
  * Scale shape: identical to the other iterative kernels — per round
  * TWO edge-sized keyed aggregates (auth then hub) + two 1-row max
  * frames broadcast back, everything materialized through
  * [[graft.core.Scratch]] so round r never re-derives round r−1, and
  * the only driver values are the fixpoint fingerprint scalars. */
object Hits {

  /** `rounds` HITS iterations over directed (src → dst) edges; hubs
    * live on src, authorities on dst. Returns both sides' top-`k`:
    * (node, kind, score_micro, rank) with rank over (score desc,
    * node) within each kind. `earlyExit` turns on the exact-equality
    * fixpoint probe (3 node-sized jobs per round) — worth it only
    * when `rounds` overshoots convergence; the flagship's pinned 4
    * rounds never converge on the co-purchase graph, so the default
    * skips the probe (the PageRank early-exit precedent: oracle-safe
    * either way, since exit fires only on a proven self-reproducing
    * table). */
  def hits(edges0: DataFrame, rounds: Int, k: Int = 20,
           earlyExit: Boolean = false): DataFrame = {
    require(rounds >= 1, "hits: need rounds >= 1")
    val spark = edges0.sparkSession
    val dir = graft.core.Scratch.dir(spark, "hits")
    edges0.write.mode("overwrite").parquet(s"$dir/edges")
    val edges = spark.read.parquet(s"$dir/edges")

    def renorm(raw: DataFrame): DataFrame = {
      val mx = broadcast(raw.agg(max(col("raw")).as("mx")))
      raw.crossJoin(mx)
        .select(col("node"),
          expr("(raw * 1000000) div nullif(mx, 0)").as("score"))
    }

    // hub side starts uniform at 1e6 — the scale-free start: HITS'
    // fixpoint direction is normalization-invariant, and the integer
    // band is pinned by the per-round rescale anyway
    edges.select(col("src").as("node")).distinct()
      .withColumn("score", lit(1000000L))
      .write.mode("overwrite").parquet(s"$dir/hub-0")
    var hub = spark.read.parquet(s"$dir/hub-0")
    var auth: DataFrame = null
    var r = 1
    var fixed = false
    while (r <= rounds && !fixed) {
      val prevHub = hub
      // auth_r's only consumer is hub_r in the SAME round, so the
      // round-file contract does NOT require materializing it: the
      // replay of the unmaterialized auth lineage is bounded per round
      // (renorm's max-agg subquery + main side plan it a constant
      // number of times inside one query), never Σrounds times.
      // Only the round whose auth frame outlives the loop body
      // (the final round's, which feeds the output union, and every
      // round's when the earlyExit probe runs count()s against hub)
      // writes the auth file: 8 round writes drop to 5 on the pinned
      // 4-round flagship, bit-identical scores (r10 optimization;
      // measured 5.27 s → see OPTIMIZATION_r10.md).
      val authR = renorm(hub.select(col("node").as("src"), col("score"))
        .join(edges, "src")
        .groupBy(col("dst").as("node"))
        .agg(sum("score").as("raw")))
      val authIn =
        if (earlyExit || r == rounds) {
          authR.write.mode("overwrite").parquet(s"$dir/auth-$r")
          auth = spark.read.parquet(s"$dir/auth-$r")
          auth
        } else authR
      renorm(authIn.select(col("node").as("dst"), col("score"))
        .join(edges, "dst")
        .groupBy(col("src").as("node"))
        .agg(sum("score").as("raw")))
        .write.mode("overwrite").parquet(s"$dir/hub-$r")
      hub = spark.read.parquet(s"$dir/hub-$r")
      // EXACT hub-table equality (union-distinct count over the
      // node-sized frames — scores aren't monotone, so a sum
      // fingerprint would be a mere proxy): hub_r == hub_{r−1}
      // implies auth_{r+1} = f(hub_r) = auth_r and onward, so every
      // later round reproduces itself and early exit is oracle-safe
      if (earlyExit) {
        val hc = hub.count()
        fixed = prevHub.count() == hc &&
          hub.unionAll(prevHub).distinct().count() == hc
      }
      r += 1
    }
    val byKind = org.apache.spark.sql.expressions.Window
      .partitionBy(col("kind"))
      .orderBy(col("score_micro").desc, col("node"))
    hub.select(col("node"), lit("hub").as("kind"),
        col("score").as("score_micro"))
      .unionAll(auth.select(col("node"), lit("auth").as("kind"),
        col("score").as("score_micro")))
      .withColumn("rank", row_number().over(byKind))
      .filter(col("rank") <= k)
      .select(col("node"), col("kind"), col("score_micro"),
        col("rank").cast("int").as("rank"))
      .orderBy("kind", "rank")
  }

  /** Flagship: hubs = customers, authorities = parts, over the
    * distinct customer→part purchase edges. */
  def copurchaseHits(lineitem: DataFrame, orders: DataFrame,
                     rounds: Int = 4,
                     earlyExit: Boolean = false): DataFrame = {
    val e = lineitem.select(col("l_orderkey"), col("l_partkey"))
      .join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("src"), col("l_partkey").as("dst"))
      .distinct()
    hits(e, rounds, earlyExit = earlyExit)
  }
}
