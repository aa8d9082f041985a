package graft.operators.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Synchronous label propagation for community detection (Raghavan,
  * Albert & Kumara, Phys. Rev. E 2007), determinized: each round every
  * node adopts the MOST FREQUENT label among its neighbors plus one
  * self-vote, ties broken by the SMALLEST label — so the fixpoint is a
  * pure function of the graph, never of visit order, and a SQL engine
  * replays every round bit-for-bit.
  *
  * Runs on the part-part co-purchase PROJECTION (not the bipartite
  * customer-part graph: synchronous LPA oscillates 2-cycles on
  * bipartite structure). Same iterative contract as `Components` /
  * `PageRank` / `Traversal`: each round is ONE neighbor join + one
  * (node, label) count aggregate + one node-keyed argmax window, all
  * on node/edge-sized frames, materialized to parquet via
  * [[graft.core.Scratch]]; driver state per round is a single changed?
  * fingerprint pair. Early exit is oracle-safe: rounds are a
  * deterministic function of the previous labeling, so an unchanged
  * round proves all later rounds are no-ops. */
object LabelProp {

  /** Exact `rounds`-step LPA labels. `edges0` carries (src, dst) with
    * both directions present; labels start as the node id. Output:
    * (node, label) after the final round. */
  def propagate(edges0: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, "propagate: need rounds >= 1")
    val spark = edges0.sparkSession
    val dir = graft.core.Scratch.dir(spark, "lp")
    edges0.write.mode("overwrite").parquet(s"$dir/edges")
    val edges = spark.read.parquet(s"$dir/edges")
    // fixpoint probe: labels are not monotone (unlike sssp distances),
    // so the two-scalar (count, Σ) trick is not exact here — instead
    // (count, XOR of row hashes): order-free, overflow-free (a SUM of
    // 64-bit hashes would trip ANSI overflow), and a false match needs
    // a 2⁻⁶⁴ hash coincidence; a wrong early exit would only ever skip
    // rounds the oracle runs, so the driver gate would catch it. The
    // fingerprint rides each round write as an `observe` metric — the
    // separate node-sized agg job per round was pure scheduling
    // overhead (r10 optimization: one job per round, not two).
    def writeFp(d: DataFrame, path: String): (Long, Long) = {
      val obs = org.apache.spark.sql.Observation()
      d.observe(obs, count(lit(1)).as("n"),
          coalesce(expr("bit_xor(xxhash64(node, label))"), lit(0L)).as("x"))
        .write.mode("overwrite").parquet(path)
      val m = obs.get
      (m("n").asInstanceOf[Long], m("x").asInstanceOf[Long])
    }
    var last = writeFp(
      edges.select(col("src").as("node"))
        .union(edges.select(col("dst").as("node"))).distinct()
        .select(col("node"), col("node").as("label")), s"$dir/lab-0")
    var lab = spark.read.parquet(s"$dir/lab-0")
    var r = 1
    var fixed = false
    while (r <= rounds && !fixed) {
      // neighbor votes plus ONE self-vote: pure neighbor-argmax LPA
      // 2-cycles forever on pendant edges (a↔b swap labels every
      // round); the self-vote turns that into an immediate min-label
      // tie-break and leaves dense-region majorities untouched
      val votes = edges
        .join(lab.withColumnRenamed("node", "dst"), "dst")
        .select(col("src").as("node"), col("label"))
        .unionAll(lab)
        .groupBy(col("node"), col("label"))
        .agg(count(lit(1)).as("c"))
      // argmax by (count desc, label asc) as ONE hash aggregate:
      // max of the lexicographic struct (c, −label) — a per-round
      // row_number window would add a sort the aggregate doesn't need
      val now = writeFp(votes
        .groupBy(col("node"))
        .agg(max(struct(col("c"), (-col("label")).as("neg"))).as("m"))
        .select(col("node"), (-col("m.neg")).as("label")), s"$dir/lab-$r")
      lab = spark.read.parquet(s"$dir/lab-$r")
      fixed = now == last
      last = now
      r += 1
    }
    lab.orderBy("node")
  }

  /** Flagship: communities of the part-part co-purchase projection
    * (the `Traversal.copurchaseKCore` graph), 4 rounds. */
  def copurchaseCommunities(lineitem: DataFrame, rounds: Int = 4): DataFrame = {
    val pp = lineitem.as("l1")
      .join(lineitem.as("l2"),
        col("l1.l_orderkey") === col("l2.l_orderkey") &&
          col("l1.l_partkey") < col("l2.l_partkey"))
      .select(col("l1.l_partkey").as("a"), col("l2.l_partkey").as("b"))
      .distinct()
    propagate(
      pp.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(pp.select(col("b").as("src"), col("a").as("dst"))),
      rounds)
  }
}
