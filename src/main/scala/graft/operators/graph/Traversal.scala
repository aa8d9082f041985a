package graft.operators.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph traversals beyond ranking: single-source BFS hop
  * counts and k-core decomposition. Both follow the CC/PageRank
  * round-file contract (`Components.connectedComponents`): every
  * round materializes to parquet — round i references round i−1, so
  * an unmaterialized chain recomputes all prior rounds per iteration
  * — and all per-round driver actions are bounded scalars (a count
  * per round, rounds bounded by the hop/peel limit).
  *
  * Both kernels are integer-exact (hop counts, degrees), so the SQL
  * oracle replays them literally: BFS as a recursive CTE with
  * UNION-distinct dedup, k-core as `rounds` unrolled peel CTEs.
  * Early exit is always oracle-safe here, unlike PageRank's: a BFS
  * with an empty frontier and a peel at fixpoint are EXACTLY the
  * answer the remaining rounds would produce (the extra rounds are
  * no-ops), so the pinned round count on the oracle side needs no
  * engine-side mirror.
  */
object Traversal {

  /** Single-source BFS: minimum hop count from `source` to every
    * node reachable within `maxHops`. Level-synchronous frontier
    * expansion — each round is ONE keyed join (frontier ⋈ edges on
    * src, the frontier side shrinks or grows with the wavefront but
    * never exceeds the node set) + a distinct + an anti-join against
    * the settled set, all materialized. The first level a node is
    * reached at IS its minimum (the BFS invariant), so no min-reduce
    * over levels is needed. Edges must contain both directions for
    * undirected semantics (the callers symmetrize by construction).
    * `source` defaults to the minimum node id in the edge set so the
    * query is self-contained and oracle-replayable. */
  def bfsHops(edges0: DataFrame, maxHops: Int,
              source: Option[Long] = None): DataFrame = {
    require(maxHops >= 0, "bfsHops: need maxHops >= 0")
    val spark = edges0.sparkSession
    import spark.implicits._
    val dir = graft.core.Scratch.dir(spark, "trav")
    edges0.write.mode("overwrite").parquet(s"$dir/edges")
    val edges = spark.read.parquet(s"$dir/edges")
    // one bounded scalar (same contract as PageRank's node count);
    // symmetric edges ⇒ src covers every node
    val s0 = source.getOrElse {
      val row = edges.agg(min(col("src"))).head()
      require(!row.isNullAt(0),
        "bfsHops: empty edge set — no default source to start from")
      row.getLong(0)
    }
    Seq((s0, 0)).toDF("node", "hops")
      .write.mode("overwrite").parquet(s"$dir/level-0")
    var levels = List(spark.read.parquet(s"$dir/level-0"))
    var frontier = levels.head
    var h = 1
    // level-0 is the literal 1-row source — non-empty by construction.
    // The per-level emptiness probe stays a separate isEmpty job: it
    // short-circuits on the first non-empty partition of the (tiny)
    // materialized level file. An observe() count riding the level
    // write was tried in r10 and measured a wash within the box's
    // noise band — isEmpty is kept as the simpler form (take-1
    // short-circuit, no listener-bus wait on Observation.get).
    var exhausted = false
    while (h <= maxHops && !exhausted) {
      val settled = levels.reduce(_ unionAll _).select("node")
      frontier.select(col("node").as("src"))
        .join(edges, "src")
        .select(col("dst").as("node")).distinct()
        .join(settled, Seq("node"), "left_anti")
        .withColumn("hops", lit(h))
        .write.mode("overwrite").parquet(s"$dir/level-$h")
      frontier = spark.read.parquet(s"$dir/level-$h")
      exhausted = frontier.isEmpty // bounded: one probe per level
      if (!exhausted) levels ::= frontier
      h += 1
    }
    levels.reduce(_ unionAll _).orderBy("node")
  }

  /** k-core decomposition by synchronous peeling: drop every node
    * whose degree within the SURVIVING subgraph is < k, recompute
    * induced degrees, repeat. Survivor sets shrink monotonically, so
    * a count-stable round is a fixpoint (equal count ⇒ equal set ⇒
    * every later round is a no-op) — the loop exits there, or after
    * `rounds` peels, whichever is first; the oracle unrolls exactly
    * `rounds` CTEs and matches either way. Each round is the edge
    * scan semi-joined to the (node-sized) survivor set on BOTH
    * endpoints + one map-side-combined degree aggregate. Returns the
    * surviving nodes with their core degrees.
    *
    * PRECONDITION (same as [[bfsHops]]): `edges0` must carry BOTH
    * directions of every undirected edge — degrees are computed from
    * the src side alone, so a single-direction list would undercount
    * every node and drop dst-only nodes silently. The flagship
    * symmetrizes by construction. */
  def kCore(edges0: DataFrame, k: Int, rounds: Int = 8): DataFrame = {
    require(k >= 1 && rounds >= 1, "kCore: need k >= 1, rounds >= 1")
    val spark = edges0.sparkSession
    val dir = graft.core.Scratch.dir(spark, "trav")
    edges0.write.mode("overwrite").parquet(s"$dir/edges")
    val edges = spark.read.parquet(s"$dir/edges")
    // the survivor count rides every degree write as an `observe`
    // metric — the separate filter+count job per peel round was one
    // node-sized scheduling round-trip each (r10 optimization).
    // Caveat (same in LabelProp/SSSP): observe() metrics ride
    // accumulators, which stage retries / speculative re-execution
    // can over-count on a real cluster — a perturbed value at worst
    // misses one early exit (benign extra rounds), never wrong output;
    // disable speculation in the session config if that matters.
    def writeDeg(d: DataFrame, path: String): Long = {
      val obs = org.apache.spark.sql.Observation()
      d.observe(obs, count(when(col("dg") >= k, 1)).as("surv"))
        .write.mode("overwrite").parquet(path)
      obs.get("surv").asInstanceOf[Long]
    }
    var survivors = writeDeg(
      edges.groupBy("src").agg(count(lit(1)).as("dg"))
        .select(col("src").as("node"), col("dg")), s"$dir/deg-1")
    var deg = spark.read.parquet(s"$dir/deg-1")
    var r = 2
    var fixed = false
    while (r <= rounds && !fixed) {
      val keep = deg.filter(col("dg") >= k).select("node")
      val now = writeDeg(edges
        .join(keep.withColumnRenamed("node", "src"), "src", "left_semi")
        .join(keep.withColumnRenamed("node", "dst"), "dst", "left_semi")
        .groupBy(col("src").as("node")).agg(count(lit(1)).as("dg")),
        s"$dir/deg-$r")
      deg = spark.read.parquet(s"$dir/deg-$r")
      fixed = now == survivors
      survivors = now
      r += 1
    }
    deg.filter(col("dg") >= k)
      .select(col("node"), col("dg").as("core_deg"))
      .orderBy("node")
  }

  /** Flagship BFS: hop counts from the minimum node over the
    * symmetric customer↔part co-purchase bipartite graph
    * (`PageRank.customerPartGraph`). */
  def copurchaseBfs(lineitem: DataFrame, orders: DataFrame,
                    maxHops: Int = 3): DataFrame =
    bfsHops(PageRank.customerPartGraph(lineitem, orders), maxHops)

  /** Flagship k-core: the part↔part co-purchase projection (the
    * triangle graph, `Triangles.copurchaseTriangles`) peeled at
    * k = 64 — chosen so the peel bites WITHOUT emptying the graph at
    * every test SF (sf0.001: 200→189 nodes; sf0.01: 2000→1993; the
    * whole graph unravels past its degeneracy ~64-70, so larger k
    * zeroes the smoke SF). */
  def copurchaseKCore(lineitem: DataFrame, k: Int = 64): DataFrame = {
    val pp = lineitem.as("l1")
      .join(lineitem.as("l2"),
        col("l1.l_orderkey") === col("l2.l_orderkey") &&
          col("l1.l_partkey") < col("l2.l_partkey"))
      .select(col("l1.l_partkey").as("a"), col("l2.l_partkey").as("b"))
      .distinct()
    kCore(pp.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(pp.select(col("b").as("src"), col("a").as("dst"))), k)
  }
}
