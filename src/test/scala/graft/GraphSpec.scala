package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.graph.{PageRank, Traversal, Triangles}

/** Fixed-point PageRank and triangle-counting invariants. */
class GraphSpec extends SparkTestBase {

  import spark.implicits._

  test("symmetric pair is stationary: both nodes keep the initial rank") {
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val out = PageRank.pageRank(edges, iters = 5)
      .as[(Long, Long)].collect().toMap
    val init = PageRank.Scale / 2
    // contrib = init DIV 1; new = (15·init + 85·init) DIV 100 = init
    assert(out == Map(1L -> init, 2L -> init))
  }

  test("star hub outranks leaves; mass is conserved up to truncation") {
    // hub 0 connected to leaves 1..9, symmetric
    val e = (1L to 9L).flatMap(l => Seq((0L, l), (l, 0L))).toDF("src", "dst")
    val out = PageRank.pageRank(e, iters = 10).as[(Long, Long)].collect().toMap
    assert((1L to 9L).forall(l => out(0L) > out(l)), out)
    // each DIV truncates < 1 unit per term per iteration: the total
    // can drift below Scale only by a few units per node
    val total = out.values.sum
    assert(total <= PageRank.Scale && total >= PageRank.Scale - 100L * out.size,
      s"mass drifted: $total vs ${PageRank.Scale}")
  }

  test("dangling (dst-only) nodes are rejected at the generic entry") {
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L)).toDF("src", "dst")
    val e = intercept[IllegalArgumentException] {
      PageRank.pageRank(edges, iters = 1)
    }
    assert(e.getMessage.contains("dangling"), e.getMessage)
  }

  test("symmetric fast path is bit-identical to the padded general path") {
    val e = (1L to 9L).flatMap(l => Seq((0L, l), (l, 0L))).toDF("src", "dst")
    val general = PageRank.pageRank(e, iters = 6)
      .as[(Long, Long)].collect().toMap
    val fast = PageRank.pageRank(e, iters = 6, symmetric = true)
      .as[(Long, Long)].collect().toMap
    assert(general == fast)
  }

  test("early exit stops a stationary graph after the first block") {
    // symmetric pair is stationary from round 1, so Δ = 0 at the
    // first materialization block and the loop must exit with the
    // same values the full run produces
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val full = PageRank.pageRank(edges, iters = 20)
      .as[(Long, Long)].collect().toMap
    val early = PageRank.pageRank(edges, iters = 20,
      earlyExitEps = Some(0L)).as[(Long, Long)].collect().toMap
    assert(full == early)
  }

  test("triangles: K4 gives every node 3; a star gives 0") {
    // K4: every node sits on C(3,2) = 3 of the 4 triangles
    val k4 = (for (a <- 0L to 3L; b <- 0L to 3L if a < b) yield (a, b))
      .toDF("src", "dst")
    val out = Triangles.triangleCounts(k4).as[(Long, Long)].collect().toMap
    assert(out == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
    // star: all wedges, no closing edges — and the zero-pad must
    // still list every node
    val star = (1L to 5L).map(l => (0L, l)).toDF("src", "dst")
    val s = Triangles.triangleCounts(star).as[(Long, Long)].collect().toMap
    assert(s == (0L to 5L).map(_ -> 0L).toMap)
  }

  test("triangles: duplicates, both directions, and self-loops canonicalize") {
    // one triangle {1,2,3} fed as a noisy multi-directed bag
    val e = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (3L, 1L),
      (1L, 3L), (2L, 2L)).toDF("src", "dst")
    val out = Triangles.triangleCounts(e).as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("triangles: degree-oriented count equals the naive a<b<c count") {
    // pseudo-random graph, fixed seed; naive = three-way self-join on
    // id-ordered edges (the oracle's shape)
    val rng = new scala.util.Random(7)
    val e = Seq.fill(260)((rng.nextInt(25).toLong, rng.nextInt(25).toLong))
      .filter { case (a, b) => a != b }.toDF("src", "dst")
    val canon = e.select(least($"src", $"dst").as("a"),
      greatest($"src", $"dst").as("b")).distinct()
    canon.createOrReplaceTempView("tri_e")
    val naive = spark.sql(
      """SELECT CAST(count(*) AS BIGINT) FROM tri_e e1
        |JOIN tri_e e2 ON e2.a = e1.b
        |JOIN tri_e e3 ON e3.a = e1.a AND e3.b = e2.b""".stripMargin)
      .first().getLong(0)
    val perNode = Triangles.triangleCounts(e)
      .agg(sum($"triangles")).first().getLong(0)
    assert(perNode == 3 * naive, s"sum-of-node-counts $perNode vs 3x$naive")
  }

  test("triangles: forced-shuffle attach joins give the broadcast counts") {
    // the adjacency attach joins broadcast off parquet stats at local
    // scale and run as shuffle joins past the threshold; integer
    // counts make bit-equality the check
    val li = Tables.lineitem(spark, sf0001)
    def counts() = Triangles.copurchaseTriangles(li)
      .as[(Long, Long)].collect().toMap
    val byDefault = counts()
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    val shuffled =
      try { keys.foreach(spark.conf.set(_, "-1")); counts() }
      finally saved.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    assert(byDefault.values.sum > 0, "fixture has no triangles")
    assert(shuffled == byDefault)
  }

  test("co-purchase graph: popular parts rank above rare ones") {
    val li = Tables.lineitem(spark, sf0001)
    val orders = Tables.orders(spark, sf0001)
    val ranks = PageRank.copurchasePageRank(li, orders)
    // part nodes are odd; compare the most- vs least-purchased part
    val degs = PageRank.customerPartGraph(li, orders)
      .filter(col("src") % 2 === 1).groupBy("src").count()
    val hot = degs.orderBy(col("count").desc).first().getLong(0)
    val cold = degs.orderBy(col("count").asc).first().getLong(0)
    val r = ranks.filter(col("node").isin(hot, cold))
      .as[(Long, Long)].collect().toMap
    assert(r(hot) > r(cold), s"hot part must outrank cold: $r")
  }

  test("bfs: path graph levels, hop cap, unreachable component excluded") {
    // path 1-2-3-4-5 plus a disconnected pair 9-10, symmetric
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (9L, 10L))
    val e = und.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")
    val out = Traversal.bfsHops(e, maxHops = 3, source = Some(1L))
      .as[(Long, Int)].collect().toMap
    assert(out == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3),
      s"cap at 3 hops excludes node 5; other component never appears: $out")
    // uncapped: the frontier exhausts by itself and 5 lands at hop 4
    val full = Traversal.bfsHops(e, maxHops = 100, source = Some(1L))
      .as[(Long, Int)].collect().toMap
    assert(full == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3, 5L -> 4))
  }

  test("kcore: chain-reaction peel empties a path; clique survives") {
    // 5-path at k=2 unravels end-by-end over multiple rounds → empty
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    assert(Traversal.kCore(path, k = 2).isEmpty,
      "a path has no 2-core — iterative peeling must cascade")
    // 4-clique with a pendant: k=2 keeps the clique at degree 3
    val clique = (for {
      a <- 1L to 4L; b <- 1L to 4L if a != b
    } yield (a, b)) ++ Seq((4L, 99L), (99L, 4L))
    val out = Traversal.kCore(clique.toDF("src", "dst"), k = 2)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L),
      s"pendant 99 peels, clique keeps induced degree 3: $out")
  }

  test("sssp: weighted min beats the hop-min path; round bound binds") {
    import graft.operators.graph.ShortestPaths
    // 0→2 direct costs 100; the 2-hop detour via 1 costs 20
    val half = Seq((0L, 1L, 10L), (1L, 2L, 10L), (0L, 2L, 100L))
    val edges = (half ++ half.map { case (a, b, w) => (b, a, w) })
      .toDF("src", "dst", "w")
    val full = ShortestPaths.sssp(edges, rounds = 8)
      .as[(Long, Long)].collect().toMap
    assert(full == Map(0L -> 0L, 1L -> 10L, 2L -> 20L),
      s"weighted distances, early exit past the fixpoint: $full")
    // rounds=1 admits only ≤1-edge paths: the detour is invisible
    val one = ShortestPaths.sssp(edges, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(one == Map(0L -> 0L, 1L -> 10L, 2L -> 100L), one.toString)
  }

  test("label propagation: bridged triangles split; pendant edge settles") {
    import graft.operators.graph.LabelProp
    // two triangles {1,2,3} and {4,5,6} joined by the bridge 3-4,
    // plus a pendant pair {7,8}. Self-vote + min-label ties: each
    // triangle collapses to its min label, the bridge does NOT merge
    // them (majority stays local), the pendant pair settles at min —
    // all by round 3, so rounds=6 also exercises the early exit
    val half = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 4L), (7L, 8L))
    val edges = (half ++ half.map(_.swap)).toDF("src", "dst")
    val out = LabelProp.propagate(edges, rounds = 6)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 6L -> 4L, 7L -> 7L, 8L -> 7L), out.toString)
  }

  test("adamic-adar: path graph predicts the closing link; a full " +
      "triangle leaves no candidates") {
    import graft.operators.graph.LinkPrediction
    import spark.implicits._
    // support-2 edges 1-2 (orders 10,11) and 2-3 (orders 12,13);
    // order 20 holds a one-off 1,3 co-purchase that must be pruned
    // by minSupport before any wedge work
    val path = Seq(
      (10L, 1L), (10L, 2L), (11L, 1L), (11L, 2L),
      (12L, 2L), (12L, 3L), (13L, 2L), (13L, 3L),
      (20L, 1L), (20L, 3L)
    ).toDF("l_orderkey", "l_partkey")
    val out = LinkPrediction.copurchaseAdamicAdar(path).collect()
    assert(out.length == 1, out.mkString(";"))
    val r = out.head
    // center z=2 has deg 2: w = round(1e6/ln 2) = 1442695
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getInt(4)) == ((1L, 3L, 1L, 1442695L, 1)))

    // close the triangle with support 2 -> every wedge pair is an
    // existing edge, so link prediction returns nothing
    val tri = path.unionAll(Seq((21L, 1L), (21L, 3L))
      .toDF("l_orderkey", "l_partkey"))
    assert(LinkPrediction.copurchaseAdamicAdar(tri).isEmpty)
  }

  test("hits: integer-micro rounds match a plain-Scala model; a " +
      "symmetric graph hits the exact-equality early exit") {
    import graft.operators.graph.Hits
    import spark.implicits._
    // c1 buys p1,p2; c2 buys p1 — asymmetric, so scores keep moving
    val li = Seq((10L, 100L), (10L, 101L), (11L, 100L))
      .toDF("l_orderkey", "l_partkey")
    val ord = Seq((10L, 1L), (11L, 2L)).toDF("o_orderkey", "o_custkey")
    val out = Hits.copurchaseHits(li, ord, rounds = 4)
      .collect().map(r => (r.getString(1), r.getLong(0)) ->
        ((r.getLong(2), r.getInt(3)))).toMap
    // the same recursion in plain Scala Longs (floor div on nonneg)
    val edges = Seq((1L, 100L), (1L, 101L), (2L, 100L))
    var hub = Map(1L -> 1000000L, 2L -> 1000000L)
    var auth = Map.empty[Long, Long]
    for (_ <- 1 to 4) {
      val ar = edges.groupBy(_._2).map { case (p, es) =>
        p -> es.map(e => hub(e._1)).sum }
      val am = ar.values.max
      auth = ar.map { case (k, v) => k -> v * 1000000L / am }
      val hr = edges.groupBy(_._1).map { case (c, es) =>
        c -> es.map(e => auth(e._2)).sum }
      val hm = hr.values.max
      hub = hr.map { case (k, v) => k -> v * 1000000L / hm }
    }
    assert(out(("hub", 1L))._1 == hub(1L) &&
      out(("hub", 2L))._1 == hub(2L), s"$out vs $hub")
    assert(out(("auth", 100L))._1 == auth(100L) &&
      out(("auth", 101L))._1 == auth(101L), s"$out vs $auth")
    assert(out(("hub", 1L))._2 == 1 && out(("auth", 100L))._2 == 1)

    // two disjoint purchases: every score is 1e6 after round 1, the
    // hub table equals round 0's, and the (opt-in) exact-equality
    // early exit must fire without changing ranks
    val li2 = Seq((10L, 100L), (11L, 101L)).toDF("l_orderkey", "l_partkey")
    val sym = Hits.copurchaseHits(li2, ord, rounds = 4, earlyExit = true)
      .collect().map(r => (r.getString(1), r.getLong(0), r.getLong(2)))
    assert(sym.toSet == Set(("hub", 1L, 1000000L), ("hub", 2L, 1000000L),
      ("auth", 100L, 1000000L), ("auth", 101L, 1000000L)), sym.toSeq)
  }

  test("clustering coefficient: closed triangle gives 1e6 per node; " +
      "a path center scores 0; pendants are excluded") {
    import graft.operators.graph.Triangles
    import spark.implicits._
    // support-2 edges 1-2, 2-3 (path); one-off (1,3) pruned
    val path = Seq(
      (10L, 1L), (10L, 2L), (11L, 1L), (11L, 2L),
      (12L, 2L), (12L, 3L), (13L, 2L), (13L, 3L),
      (20L, 1L), (20L, 3L)
    ).toDF("l_orderkey", "l_partkey")
    val p = Triangles.supportClusteringCoeff(path).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    // only node 2 has deg >= 2; open wedge -> coefficient 0
    assert(p.keySet == Set(2L) && p(2L) == ((2L, 0L, 0L)), p.toString)

    // close the triangle with support 2: every node deg 2, tri 1,
    // coeff = 2e6/(2*1) = 1e6
    val tri = path.unionAll(Seq((21L, 1L), (21L, 3L))
      .toDF("l_orderkey", "l_partkey"))
    val t = Triangles.supportClusteringCoeff(tri).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(t.keySet == Set(1L, 2L, 3L), t.toString)
    assert(Seq(1L, 2L, 3L).forall(n => t(n) == ((2L, 1L, 1000000L))), t)
  }
}
