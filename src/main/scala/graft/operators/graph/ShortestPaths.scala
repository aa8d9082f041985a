package graft.operators.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Single-source shortest paths over WEIGHTED edges — the weighted
  * companion to [[Traversal.bfsHops]] (whose unit-weight frontier
  * trick does not survive weights: a node's first reach is no longer
  * its minimum distance). Level-synchronous Bellman-Ford relaxation:
  * round r folds every one-edge extension of round r−1's distances
  * back into a per-node min, so after r rounds the table holds the
  * exact min-cost over paths of ≤ r edges. Same scale contract as the
  * other iterative kernels (`Components`, `PageRank`, `Traversal`):
  * each round is ONE keyed join (node-sized dist table ⋈ edges) + one
  * map-side-combined min aggregate, materialized to parquet via
  * [[graft.core.Scratch]]; per-round driver state is two bounded
  * scalars (node count + distance-sum fingerprint) for the fixpoint
  * probe. Distances are BIGINT (integer weights), so the SQL oracle
  * unrolls the rounds as materialized CTEs and matches bit-for-bit;
  * early exit is oracle-safe because distances only decrease and a
  * no-change round proves every later round is a no-op. */
object ShortestPaths {

  /** Exact min-cost distances from `source` over paths of at most
    * `rounds` edges. `edges0` must carry (src, dst, w) with w >= 0
    * and both directions of every undirected edge; `source` defaults
    * to the minimum src so the query is self-contained. Unreached
    * nodes are absent (no infinity sentinel to disagree on). */
  def sssp(edges0: DataFrame, rounds: Int,
           source: Option[Long] = None): DataFrame = {
    require(rounds >= 1, "sssp: need rounds >= 1")
    val spark = edges0.sparkSession
    import spark.implicits._
    val dir = graft.core.Scratch.dir(spark, "sssp")
    edges0.write.mode("overwrite").parquet(s"$dir/edges")
    val edges = spark.read.parquet(s"$dir/edges")
    val s0 = source.getOrElse {
      val row = edges.agg(min(col("src"))).head() // bounded scalar
      require(!row.isNullAt(0), "sssp: empty edge set")
      row.getLong(0)
    }
    Seq((s0, 0L)).toDF("node", "dist")
      .write.mode("overwrite").parquet(s"$dir/dist-0")
    var dist = spark.read.parquet(s"$dir/dist-0")
    // (count, Σdist) fingerprint: distances only DECREASE and nodes
    // only accrete, so (same count, same sum) ⇔ identical table ⇔
    // fixpoint — two scalars instead of a diff join. The fingerprint
    // rides the round write as an `observe` metric (one job per round,
    // not two — the separate node-sized agg job per round was pure
    // scheduling overhead; r10 optimization). dist-0 is the literal
    // 1-row (s0, 0), so its fingerprint is (1, 0) by construction.
    var last = (1L, 0L)
    var r = 1
    var fixed = false
    while (r <= rounds && !fixed) {
      val obs = org.apache.spark.sql.Observation(s"sssp-fp-$r")
      dist.select(col("node").as("src"), col("dist"))
        .join(edges, "src")
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
        .unionAll(dist)
        .groupBy("node").agg(min("dist").as("dist"))
        .observe(obs, count(lit(1)).as("n"),
          coalesce(sum("dist"), lit(0L)).as("s"))
        .write.mode("overwrite").parquet(s"$dir/dist-$r")
      dist = spark.read.parquet(s"$dir/dist-$r")
      val m = obs.get
      val now = (m("n").asInstanceOf[Long], m("s").asInstanceOf[Long])
      fixed = now == last
      last = now
      r += 1
    }
    dist.orderBy("node")
  }

  /** Flagship: weighted SSSP over the customer↔part co-purchase
    * bipartite graph (node encoding as [[PageRank.customerPartGraph]]
    * — even=customer·2, odd=part·2+1), where an edge bought `n` times
    * costs `max(1, 11 − min(n, 10))` — frequent co-purchases are
    * short hops, so distance reads as affinity. Weighting happens on
    * the pre-symmetrized edge aggregate (one exchange); rounds=6
    * covers the bipartite diameter at every test SF with slack. */
  def copurchaseSssp(lineitem: DataFrame, orders: DataFrame,
                     rounds: Int = 6): DataFrame = {
    val e = lineitem.select(col("l_orderkey"), col("l_partkey"))
      .join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy((col("o_custkey") * 2).as("src"),
        (col("l_partkey") * 2 + 1).as("dst"))
      .agg(count(lit(1)).as("n"))
      .select(col("src"), col("dst"),
        greatest(lit(1L), lit(11L) - least(col("n"), lit(10L))).as("w"))
    sssp(e.unionAll(e.select(col("dst").as("src"), col("src").as("dst"),
      col("w"))), rounds)
  }
}
