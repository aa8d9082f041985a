package graft.operators.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed PageRank (Brin & Page '98) in FIXED-POINT integer
  * arithmetic — the iterative-graph-algorithm capability (the
  * dedup spine's connected components is the other), implemented so
  * that every iteration is EXACTLY replayable by the SQL oracle:
  * ranks are BIGINT micros-of-mass (SCALE=10^12), per-edge
  * contribution is integer division `rank DIV out_degree`, and the
  * damping update is `(15·init + 85·Σcontrib) DIV 100`. Integer sums
  * are order-independent, so unlike float PageRank the result is
  * bit-identical regardless of aggregation order, partitioning, or
  * engine — no rounding discipline needed, the oracle unrolls the
  * same ten iterations as chained CTEs and the hashes must match
  * exactly.
  *
  * The flagship graph is the customer↔part co-purchase bipartite
  * graph (edges both directions, so no dangling-mass redistribution
  * term is needed — every node has out-degree ≥ 1). Node ids are
  * parity-encoded (customer → 2k, part → 2k+1) to keep one BIGINT key
  * space.
  *
  * Shape at 100 TB: each iteration is one keyed join (edges ⋈ ranks
  * on src — the big exchange, amortizable by pre-partitioning both on
  * src) + a map-side-combined sum keyed on dst + a left join back to
  * the node set. Degree and node tables are computed once. Iterations
  * build one linear lineage chain; for graphs where 10 chained plans
  * stress the optimizer, cut lineage with the same parquet round
  * files the CC kernel uses (`Components.connectedComponents`) — the
  * arithmetic is unaffected, which is the point of fixed-point. */
object PageRank {

  val Scale = 1000000000000L

  /** Rounds chained between parquet materialization barriers. */
  val ChainDepth = 5

  /** Symmetric customer↔part co-purchase edges, parity-encoded. */
  def customerPartGraph(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    val e = lineitem.select(col("l_orderkey"), col("l_partkey"))
      .join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_partkey") * 2 + 1).as("dst"))
      .distinct()
    e.union(e.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** @param earlyExitEps stop when `max(abs(Δr))` over one
    *   materialization block falls to or below this fixed-point
    *   threshold — OFF by default because the SQL oracle unrolls
    *   exactly `iters` rounds; a converged-early run is numerically
    *   fine but no longer replayable by an oracle pinned to `iters`.
    *   The convergence probe joins two node-sized round files (cheap
    *   next to the edge-sized round itself) and fires once per block
    *   (every `ChainDepth` rounds), so exit can overshoot by up to
    *   ChainDepth−1 rounds — overshoot refines the answer, never
    *   degrades it.
    * @param symmetric caller-asserted: every edge (a,b) has (b,a).
    *   Unlocks two measured wins (SCALE.md PageRank iteration soak,
    *   sf0.1): the dangling
    *   guard's extra edge pass is skipped (symmetry ⇒ out-degree ≥ 1
    *   everywhere), and the per-round `nodes LEFT JOIN contrib` —
    *   an SMJ + exchange + sort whose only job is padding
    *   zero-in-degree nodes — is dropped, because symmetry also ⇒
    *   in-degree ≥ 1 everywhere, so contrib already covers every
    *   node. Bit-identical output (integer arithmetic; the pad branch
    *   never fires), 5.3 s → 4.1 s on the 10-round flagship. */
  def pageRank(edges0: DataFrame, iters: Int = 10,
               earlyExitEps: Option[Long] = None,
               symmetric: Boolean = false): DataFrame = {
    val spark = edges0.sparkSession
    // Every round MUST materialize (the Components contract): round i
    // references round i-1, so an unmaterialized chain recomputes all
    // prior rounds per iteration — Σi edge-joins instead of `iters`
    // (measured 14.9 s → 2.4 s at sf0.1 for 10 rounds). Edges/degrees
    // are materialized once for the same reason. Parquet round files:
    // lineage cut + spillable + zero persisted-block leakage; the
    // final round backs the returned frame for its whole lifetime
    // (JVM-shutdown cleanup, the CC kernel's pattern).
    val scratch = graft.core.Scratch.dir(spark, "pr")
    // The edge expression executes ONCE: deg derives from edges, so
    // joining edges0 ⋈ deg(edges0) unmaterialized would run the
    // (potentially expensive) upstream edge build twice. Then edges ⋈
    // out-degree is materialized too: each round scans edgesDeg,
    // broadcasts the node-sized rank table into the join (Catalyst
    // broadcasts it from parquet stats; a rank table past broadcast
    // size falls back to a shuffle join on src — plan change only),
    // and aggregates on dst with map-side combine, so the per-round
    // exchange carries at most nodes×partitions partially-combined
    // rows, not edges. A dst-BUCKETED edgesDeg was measured as the
    // alternative (BroadcastHashJoin preserves the bucketed
    // HashPartitioning(dst), making the round aggregation
    // exchange-free): rounds 6.4 s vs 5.2 s plain at sf0.1 — the
    // bucket-pinned 32-file scan parallelizes worse than the
    // row-group-split plain scan and loses more than the small
    // post-combine exchange costs. The bucketed shape wins instead in
    // the big-rank-table regime (rank join becomes a shuffle join on
    // src and bucketing on src amortizes 10 exchanges into one write)
    // — at local bench scale, plain parquet is the measured choice
    // (SCALE.md, PageRank iteration soak).
    edges0.write.mode("overwrite").parquet(s"$scratch/edges")
    val edges = spark.read.parquet(s"$scratch/edges")
    // Dangling guard (nodes with inbound edges but no outbound would
    // silently vanish from the ranking and their inbound mass with
    // them — this kernel has no dangling-mass redistribution term).
    // One anti-join over the materialized edge set, once, not per
    // round; callers that symmetrize by construction pass
    // symmetric=true and skip the extra edge pass.
    if (!symmetric) {
      val dangling = edges.select(col("dst")).distinct()
        .join(edges.select(col("src")).distinct(),
          col("dst") === col("src"), "left_anti")
      require(dangling.isEmpty,
        "pageRank: edge set has dst-only (dangling) nodes — this kernel " +
          "requires every node to have out-degree >= 1 (no dangling-mass " +
          "redistribution term). Symmetrize the edges or add self-loops.")
    }
    val deg0 = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    edges.join(deg0, "src")
      .write.mode("overwrite").parquet(s"$scratch/edgesdeg")
    val edgesDeg = spark.read.parquet(s"$scratch/edgesdeg")
    edgesDeg.select(col("src").as("node")).distinct()
      .write.mode("overwrite").parquet(s"$scratch/nodes")
    val nodes = spark.read.parquet(s"$scratch/nodes")
    val n = nodes.count() // one scalar job, same contract as kmeans k
    require(n > 0, "pageRank: empty edge set (no nodes to rank)")
    val init = Scale / n
    def round(ranks: DataFrame): DataFrame = {
      val contrib = edgesDeg
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(expr("r DIV deg")).as("s"))
      // init fits int32 for graphs over ~500 nodes, so the literal
      // MUST be anchored to BIGINT or ANSI mode overflows on 15·init
      if (symmetric)
        // in-degree ≥ 1 everywhere ⇒ contrib covers every node; the
        // nodes pad-join (SMJ + exchange + sort per round) is dropped
        contrib.select(col("node"),
          expr(s"(15 * CAST($init AS BIGINT) + 85 * s) DIV 100").as("r"))
      else
        nodes.join(contrib, Seq("node"), "left")
          .select(col("node"),
            expr(s"(15 * CAST($init AS BIGINT) + " +
              "85 * coalesce(s, CAST(0 AS BIGINT))) DIV 100").as("r"))
    }
    // materialize every ChainDepth-th round: each intermediate round's
    // plan is referenced exactly once by its successor, so chaining
    // between barriers does no recomputation — it just cuts the
    // job-scheduling barriers (the dominant local cost; at cluster
    // scale the same trade holds against per-job overhead). Measured
    // at sf0.1: depth 5 beats 2 (4.1 vs 4.8 s) and 10 (optimizer cost
    // on the deep chain) — SCALE.md, PageRank iteration soak.
    var ranks = nodes.select(col("node"), lit(init).as("r"))
    var done = 0
    var converged = false
    while (done < iters && !converged) {
      val step = math.min(ChainDepth, iters - done)
      val next = (1 to step).foldLeft(ranks)((r, _) => round(r))
      val prev = ranks
      done += step
      next.write.mode("overwrite").parquet(s"$scratch/round-$done")
      ranks = spark.read.parquet(s"$scratch/round-$done")
      earlyExitEps.foreach { eps =>
        // Δ across the block: a scalar max over a node-sized join of
        // two already-materialized round files.
        val delta = ranks.join(prev.withColumnRenamed("r", "rp"), "node")
          .agg(max(abs(col("r") - col("rp")))).head().getLong(0)
        converged = delta <= eps
      }
    }
    ranks.select(col("node"), col("r").as("rank_fp"))
  }

  def copurchasePageRank(lineitem: DataFrame, orders: DataFrame,
                         iters: Int = 10,
                         earlyExitEps: Option[Long] = None): DataFrame =
    // union-of-both-directions ⇒ symmetric by construction
    pageRank(customerPartGraph(lineitem, orders), iters, earlyExitEps,
      symmetric = true)

  /** Personalized PageRank (Jeh & Widom '03 / Page et al. '98 §6):
    * the teleport term lands ONLY on a seed set S, so the stationary
    * mass measures proximity TO the seeds rather than global
    * centrality —
    *
    *   r(v) = (15·seedMass(v) + 85·Σ_{u→v} r(u) DIV deg(u)) DIV 100,
    *   seedMass(v) = Scale DIV |S| for v ∈ S, else 0,  r₀ = seedMass
    *
    * in the same order-independent BIGINT fixed-point as [[pageRank]]
    * (so the oracle unrolls the identical rounds and hashes match
    * bit-for-bit). Requires a SYMMETRIC edge set (the co-purchase
    * construction): in/out-degree ≥ 1 everywhere means the per-round
    * contribution aggregate already covers every node, so no pad join
    * — the teleport is applied as in-row integer-mod arithmetic on the
    * node id (no join at all). Same materialized-round contract
    * (parquet round files every [[ChainDepth]] rounds).
    *
    * Seeds: nodes with `node % seedMod = 0` — on the parity encoding
    * (customer → 2k) an even `seedMod` selects customers only, by
    * key arithmetic both engines replay exactly. NOTE the symmetry
    * precondition is load-bearing for the teleport-as-arithmetic form:
    * on a NON-symmetric edge set a dst-only node matching the seed
    * predicate would receive teleport mass here, where the former
    * seeds-table join (derived from distinct src nodes) gave it none.
    * The flagship input is symmetric by construction; general callers
    * must honor the precondition above. */
  def personalizedPageRank(edges0: DataFrame, seedMod: Long = 100L,
                           iters: Int = 6): DataFrame = {
    val spark = edges0.sparkSession
    val scratch = graft.core.Scratch.dir(spark, "ppr")
    edges0.write.mode("overwrite").parquet(s"$scratch/edges")
    val edges = spark.read.parquet(s"$scratch/edges")
    val deg0 = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    edges.join(deg0, "src")
      .write.mode("overwrite").parquet(s"$scratch/edgesdeg")
    val edgesDeg = spark.read.parquet(s"$scratch/edgesdeg")
    edgesDeg.select(col("src").as("node")).distinct()
      .write.mode("overwrite").parquet(s"$scratch/nodes")
    val nodes = spark.read.parquet(s"$scratch/nodes")
    val nSeeds = nodes.filter(col("node") % seedMod === 0)
      .count() // one scalar job, the pageRank contract
    require(nSeeds > 0,
      s"personalizedPageRank: no seeds under node % $seedMod = 0")
    val seedInit = Scale / nSeeds
    // teleport as ARITHMETIC, not a join (r10 optimization): seed
    // membership is a pure predicate of the node id, so the former
    // per-round `contrib LEFT JOIN seeds` (and the init join) carried
    // a join operator whose entire job a single integer-mod CASE does
    // in-row — one fewer operator per round, bit-identical masses
    // (the oracle already replays seeds by the same key arithmetic).
    val seedMass =
      expr(s"CAST(if(node % $seedMod = 0, $seedInit, 0) AS BIGINT)")
    def round(ranks: DataFrame): DataFrame =
      edgesDeg
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(expr("r DIV deg")).as("s"))
        .select(col("node"),
          expr(s"(15 * CAST(if(node % $seedMod = 0, $seedInit, 0) " +
            "AS BIGINT) + 85 * s) DIV 100").as("r"))
    var ranks = nodes.select(col("node"), seedMass.as("r"))
    var done = 0
    while (done < iters) {
      val step = math.min(ChainDepth, iters - done)
      val next = (1 to step).foldLeft(ranks)((r, _) => round(r))
      done += step
      next.write.mode("overwrite").parquet(s"$scratch/round-$done")
      ranks = spark.read.parquet(s"$scratch/round-$done")
    }
    ranks.select(col("node"), col("r").as("rank_fp"))
  }

  def copurchasePpr(lineitem: DataFrame, orders: DataFrame,
                    iters: Int = 6): DataFrame =
    personalizedPageRank(customerPartGraph(lineitem, orders),
      seedMod = 100L, iters = iters)
}
