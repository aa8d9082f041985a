package graft.operators.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed exact triangle counting by degree orientation — the
  * third graph capability next to PageRank and the dedup spine's
  * connected components. Triangles are the primitive under clustering
  * coefficients, community seeds, and spam/bot subgraph detection.
  *
  * Algorithm (Suri & Vassilvitskii, WWW'11 "Counting Triangles and the
  * Curse of the Last Reducer"; the MapReduce form of Schank's
  * compact-forward): canonicalize the undirected edge set, then orient
  * every edge from its lower-(degree, id) endpoint to its higher one.
  * The orientation is acyclic and bounds every node's OUT-degree by
  * O(√m) regardless of how skewed the in-degree is — the hub that
  * would otherwise emit deg² wedges emits none, its low-degree
  * neighbors emit them instead. Each triangle {x,y,z} then exists as
  * exactly ONE wedge (u→v, u→w with v before w in the total order)
  * closed by exactly one oriented edge v→w, so counting needs no
  * dedup and no factor-of-6 correction.
  *
  * Shape at 100 TB: all exchanges are O(m) rows — the adjacency-array
  * build keyed on src, the two attach joins that put both endpoints'
  * out-neighbor arrays on each edge, and the final per-node count.
  * The Σ outdeg² ≤ O(m^1.5) wedge work still happens (it is the
  * algorithm's compute), but as an IN-ROW array intersection inside
  * whole-stage codegen, not as a shuffled row stream; no node ever
  * concentrates the work (out-degree is O(√m) by the orientation), so
  * there is no "last reducer". Degrees are node-sized and join
  * broadcast-small in most regimes; at extreme node counts the degree
  * join degrades to a shuffle join — plan change only.
  *
  * Everything is integer and order-independent, so the DuckDB oracle
  * (a three-way self-join over id-ordered edges — orientation-free,
  * counts each triangle once via a<b<c) must match bit-for-bit. */
object Triangles {

  /** Per-node triangle membership counts over an undirected edge set.
    * Input may carry duplicates and/or both directions; self-loops are
    * dropped. Output: (node, triangles) for EVERY node with an edge,
    * zero-padded, totally ordered by node.
    *
    * The canonical edge set feeds two consumers (degree count, the
    * orientation join) and the oriented set feeds two (the edge
    * stream, the adjacency build) — both are MATERIALIZED to scratch
    * parquet (the PageRank/CC contract), or every consumer would
    * replay the upstream edge-build lineage: measured 15.7 s → 8.3 s
    * at sf0.1 on the co-purchase flagship back when the close was a
    * wedge join; the r10 adjacency-intersect close removed the wedge
    * exchange on top (see the in-method comment). The per-node
    * counting is a single explode pass over the triangle list, not a
    * 3-way self-union (which would run the close three times). */
  def triangleCounts(edges0: DataFrame): DataFrame = {
    val spark = edges0.sparkSession
    val scratch = graft.core.Scratch.dir(spark, "tri")
    // canonical undirected edges: a < b, exact-once
    edges0.toDF("s", "t")
      .filter(col("s") =!= col("t"))
      .select(least(col("s"), col("t")).as("a"),
        greatest(col("s"), col("t")).as("b"))
      .distinct()
      .write.mode("overwrite").parquet(s"$scratch/edges")
    val e = spark.read.parquet(s"$scratch/edges")
    val deg = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    deg.write.mode("overwrite").parquet(s"$scratch/deg")
    val degT = spark.read.parquet(s"$scratch/deg")
    // orient by (deg, id): src is the lex-smaller endpoint. Both deg
    // joins are node-sized (broadcast in the common regime).
    val withDeg = e
      .join(degT.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(degT.select(col("node").as("b"), col("deg").as("db")), "b")
    val fwd = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    withDeg.select(
        when(fwd, col("a")).otherwise(col("b")).as("src"),
        when(fwd, col("b")).otherwise(col("a")).as("dst"))
      .write.mode("overwrite").parquet(s"$scratch/oriented")
    val o = spark.read.parquet(s"$scratch/oriented")
    // Close triangles by ADJACENCY INTERSECTION, not a wedge join
    // (r10 optimization). The former shape generated the Σ outdeg²
    // wedge stream (41M rows at sf0.1 against 1.2M edges) and shuffled
    // it into a closing join — the wedge exchange dominated the query
    // (guide §2.3: the shuffle carried 34× more rows than the data
    // has edges). Instead build each node's OUT-neighbor array once
    // (node-sized, total payload = m ids, every array O(√m) by the
    // orientation), attach the two endpoint arrays to every oriented
    // edge (v, w), and count u ∈ N⁺(v) ∩ N⁺(w) in-row: a triangle
    // {x ≺ y ≺ z} (≺ = the (deg, id) total order) is closed exactly
    // once, at its source-most edge (x, y) with witness z, so the
    // count is exact with no dedup — same invariant the wedge form
    // used, same integer result bit-for-bit (GraphSpec pins the
    // broadcast and forced-shuffle shapes to identical counts; SCALE.md
    // records the sf0.1 soak).
    //
    // Scale shape: two O(m)-row exchanges (attach on v, attach on w)
    // replace the O(Σ outdeg²) wedge exchange; the intersection work
    // per edge is O(|N⁺(v)| + |N⁺(w)|) in whole-stage codegen with no
    // bytes crossing the network. The adjacency frame is materialized
    // to scratch so both attach joins read parquet stats — under the
    // broadcast threshold (the local/sf0.1 regime) AQE converts both
    // attaches to broadcasts and the whole close runs exchange-free;
    // past it they degrade to shuffle joins of m rows (the 100 TB
    // regime), never to a wedge-sized exchange.
    o.groupBy(col("src")).agg(collect_list(col("dst")).as("nbrs"))
      .write.mode("overwrite").parquet(s"$scratch/adj")
    val adj = spark.read.parquet(s"$scratch/adj")
    val tri = o.select(col("src").as("v"), col("dst").as("w"))
      .join(adj.select(col("src").as("v"), col("nbrs").as("nv")), "v")
      .join(adj.select(col("src").as("w"), col("nbrs").as("nw")), "w")
      .select(col("v"), col("w"),
        explode(array_intersect(col("nv"), col("nw"))).as("u"))
    val counts = tri
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    degT.select(col("node"))
      .join(counts, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .orderBy("node")
  }

  /** Flagship graph: the part↔part co-purchase projection (two parts
    * sharing an order). The customer↔part graph PageRank ranks is
    * bipartite — triangle-free by construction — so triangles live on
    * the projection. Group size per order is bounded (an order holds
    * at most 7 lines), so the pair join is keyed on orderkey with a
    * constant fan-out, not a quadratic blowup. */
  def copurchaseTriangles(lineitem: DataFrame): DataFrame = {
    val li = lineitem.select(col("l_orderkey"), col("l_partkey"))
    val pairs = li.join(
      li.select(col("l_orderkey"), col("l_partkey").as("p2")),
      Seq("l_orderkey"))
      .filter(col("l_partkey") < col("p2"))
      .select(col("l_partkey").as("src"), col("p2").as("dst"))
    triangleCounts(pairs)
  }

  /** Local clustering coefficients on the SUPPORT-FILTERED co-purchase
    * graph (Watts & Strogatz 1998): coeff(v) = 2·tri(v)/(deg(v)·
    * (deg(v)−1)) in floored micros, for nodes of degree ≥ 2 (below
    * that the coefficient is undefined). The support filter is the
    * scale contract ([[LinkPrediction.supportEdges]]): the triangle
    * enumeration here is the plain id-ordered three-way self-join,
    * which is the right plan on the few-thousand-edge filtered graph
    * — the degree-oriented kernel above exists for the unfiltered
    * projection where Σ deg² explodes. */
  def supportClusteringCoeff(lineitem: DataFrame,
                             minSupport: Int = 2): DataFrame = {
    val e = LinkPrediction.supportEdges(lineitem, minSupport)
    val tri = e.as("e1")
      .join(e.as("e2"), col("e2.a") === col("e1.b"))
      .join(e.as("e3"), col("e3.a") === col("e1.a") &&
        col("e3.b") === col("e2.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"),
        col("e2.b").as("z"))
    val triPerNode = tri.select(col("x").as("node"))
      .unionAll(tri.select(col("y").as("node")))
      .unionAll(tri.select(col("z").as("node")))
      .groupBy("node").agg(count(lit(1)).as("tri"))
    val deg = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("dg"))
    deg.filter(col("dg") >= 2)
      .join(triPerNode, Seq("node"), "left")
      .select(col("node"), col("dg"),
        coalesce(col("tri"), lit(0L)).as("tri"))
      .withColumn("coeff_micro",
        floor(lit(2000000L) * col("tri") / (col("dg") * (col("dg") - 1)))
          .cast("bigint"))
      .orderBy("node")
  }
}
