package graft.operators.llm

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over near-duplicate pairs — the step that turns
  * pairwise dedup output into dedup CLUSTERS (one canonical document
  * per group of mutual near-duplicates).
  *
  * Algorithm: alternating Large-Star / Small-Star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14 — public
  * literature), which converges in O(log² n) rounds and never
  * materializes a component as a single row or a driver-side structure:
  * every round is two hash aggregations + a join over the edge set, so
  * a 100 TB pair set with billions of edges runs at shuffle speed.
  * Plain min-label propagation needs O(diameter) rounds and loops
  * forever on long chains; the star steps contract chains
  * logarithmically (the `KernelProps` property drives random graphs
  * with 60-node chains through it against a driver-side union-find).
  *
  * Iteration state lives in a scratch directory (parquet round files),
  * NOT in persisted RDD blocks: each round reads the previous round's
  * files, writes its own, and deletes the stale round eagerly — zero
  * executor-memory state survives the call, and the returned frame is
  * an ordinary file-backed scan. At cluster scale, point
  * `spark.graft.scratch` at durable shared storage (HDFS/S3); the
  * default is `graft.core.Scratch`'s JVM-scoped temp root, removed
  * recursively by its shutdown hook (a call's final round must outlive
  * its returned frame, so per-call cleanup cannot run earlier). Small
  * edge sets skip files entirely and materialize rounds through the
  * driver.
  */
object Components {

  /** Resolve each node of `edges` (cols `doc_a`, `doc_b`) to its
    * component id (the minimum doc_id reachable from it). Nodes with no
    * edges do not appear — union them back as their own singleton
    * component if the caller needs total coverage (`canonicalize`
    * does). */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25,
                          roundsOut: Option[java.util.concurrent.atomic.AtomicInteger] = None): DataFrame = {
    val spark = edges.sparkSession
    // per-call unique subdir: two runs sharing a configured scratch
    // root (or racing concurrently) must never overwrite each other's
    // round files — the FINAL round backs the returned frame for its
    // whole lifetime. Stale call dirs under a configured parent are the
    // deployer's periodic cleanup (same contract as any staging area).
    val scratchRoot = graft.core.Scratch.dir(spark, "cc")
    val fs = new Path(scratchRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    // Adaptive iteration state. The round body references the previous
    // round TWICE (symmetrize + self-aggregate), so un-materialized
    // lineage grows 4^rounds — every round MUST materialize. Big edge
    // sets round-trip through parquet (lineage cut + spillable, the
    // 100 TB path); sets under `spark.graft.cc.inMemoryMaxEdges`
    // materialize through the driver instead (bounded by the threshold
    // contract — the same kmeansCentroids pattern), skipping two
    // filesystem jobs per round and leaving zero persisted state.
    // In driver-local mode the convergence signature is folded from
    // the rows IN HAND (r11) — the per-round signature job existed
    // only to avoid collecting, which this mode already did. Driver
    // and executor folds are never compared to each other: the mode is
    // fixed before round 0's signature is taken, and every later
    // signature uses the same mode's fold.
    var useFiles = true
    var lastRows: IndexedSeq[org.apache.spark.sql.Row] = IndexedSeq.empty
    def write(df: DataFrame, round: Int): DataFrame =
      if (!useFiles) {
        val rows = df.collect().toIndexedSeq
        lastRows = rows
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), df.schema)
      } else {
        val dir = s"$scratchRoot/round_$round"
        df.write.mode("overwrite").parquet(dir)
        spark.read.parquet(dir)
      }
    // splitmix64 avalanche over the (u, v) pair — only ever compared
    // against folds produced by this same function, so the mix just
    // has to be deterministic and collision-resistant
    def mix2(a: Long, b: Long): Long = {
      var z = a * 0x9e3779b97f4a7c15L + b + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def driverSignature(rows: IndexedSeq[org.apache.spark.sql.Row])
        : (Long, Long, Long) = {
      var x1 = 0L; var x2 = 0L; var i = 0
      while (i < rows.length) {
        val u = rows(i).getLong(0); val v = rows(i).getLong(1)
        x1 ^= mix2(u, v); x2 ^= mix2(v, u)
        i += 1
      }
      (rows.length.toLong, x1, x2)
    }
    def drop(round: Int): Unit =
      if (useFiles) fs.delete(new Path(s"$scratchRoot/round_$round"), true)

    // canonical edge form: u < v, distinct, self-loops dropped
    def canon(df: DataFrame): DataFrame =
      df.filter(col("u") =!= col("v"))
        .select(least(col("u"), col("v")).as("u"),
          greatest(col("u"), col("v")).as("v"))
        .distinct()

    /** Large-Star: every node connects its strictly-larger neighbors to
      * the minimum of its closed neighborhood. */
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      val m = sym.groupBy("u")
        .agg(least(min(col("v")), col("u")).as("m"))
      canon(sym.join(m, "u")
        .filter(col("v") > col("u"))
        .select(col("m").as("u"), col("v")))
    }

    /** Small-Star: every node connects its smaller neighbors (and
      * itself) to its minimum neighbor. On canonical edges the smaller
      * neighbors of center c are exactly the `u` of its (u, c) rows. */
    def smallStar(e: DataFrame): DataFrame = {
      val byCenter = e.select(col("v").as("c"), col("u"))
      val m = byCenter.groupBy("c").agg(min(col("u")).as("m"))
      val joined = byCenter.join(m, "c")
      canon(
        joined.select(col("m").as("u"), col("u").as("v"))
          .unionAll(joined.select(col("m").as("u"), col("c").as("v"))))
    }

    /** Cheap order-free signature for convergence: edge count plus two
      * independent hash XOR-folds (overflow-free under ANSI mode; a
      * count tie with colliding folds across DIFFERENT edge sets would
      * need simultaneous collisions in both 64-bit folds). */
    def signature(e: DataFrame): (Long, Long, Long) = {
      val r = e.agg(count(lit(1)),
        expr("bit_xor(xxhash64(u, v))"),
        expr("bit_xor(xxhash64(v, u))")).collect()(0)
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getLong(2))
    }

    val canonical = canon(
      edges.select(col("doc_a").cast("long").as("u"),
        col("doc_b").cast("long").as("v")))
    var sig = signature(canonical)
    useFiles = sig._1 > spark.conf
      .get("spark.graft.cc.inMemoryMaxEdges", "100000").toLong
    var e = write(canonical, 0)
    // driver-local mode: re-fold round 0's signature from the
    // collected rows so every signature this loop compares comes from
    // the same (driver) fold
    if (!useFiles) sig = driverSignature(lastRows)
    var round = 0
    var converged = false
    while (!converged && round < maxIter) {
      round += 1
      val next = write(smallStar(largeStar(e)), round)
      val nextSig =
        if (!useFiles) driverSignature(lastRows) else signature(next)
      converged = nextSig == sig
      sig = nextSig
      drop(round - 1)
      e = next
    }
    // An unconverged edge set means the star contraction was cut short:
    // component ids downstream (canonicalize / clusterStats) would be
    // silently WRONG. O(log²n) rounds makes maxIter=25 generous at any
    // real scale, so hitting it is a defect signal — fail loudly unless
    // the caller explicitly opts into partial results.
    if (!converged) {
      val msg = s"connectedComponents: no convergence after $maxIter " +
        "rounds — component ids would be incomplete"
      if (spark.conf.get("spark.graft.cc.allowUnconverged", "false").toBoolean)
        Console.err.println(s"WARN $msg (allowUnconverged=true, emitting anyway)")
      else throw new IllegalStateException(
        s"$msg; raise maxIter or set spark.graft.cc.allowUnconverged=true")
    }
    roundsOut.foreach(_.set(round))
    // converged edges form stars rooted at each component's min id
    e.select(col("v").as("doc_id"), col("u").as("component_id"))
      .unionAll(e.select(col("u").as("doc_id"), col("u").as("component_id")))
      .distinct()
  }

  /** Full dedup-cluster pipeline: pair stream → components → one
    * canonical row per cluster (min doc_id), singletons kept. This is
    * the operator a training-data pipeline actually runs after
    * `DedupOps.minhashPairs`: pairs alone cannot deduplicate A~B, B~C
    * chains (dropping one side of each pair can drop all three or keep
    * two near-dups); component-canonical keeps exactly one. */
  def canonicalize(documents: DataFrame, pairs: DataFrame): DataFrame = {
    val comp = connectedComponents(pairs)
    documents
      .join(comp, Seq("doc_id"), "left_outer")
      .withColumn("component_id",
        coalesce(col("component_id"), col("doc_id")))
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("component_id")).orderBy(col("doc_id"))))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Cluster-size histogram — the planning number a dedup pass is run
    * for: how many docs the canonical pass will remove. One extra
    * aggregate over the components output. */
  def clusterStats(edges: DataFrame): DataFrame =
    connectedComponents(edges)
      .groupBy(col("component_id"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("cluster_ct"),
        sum(col("cluster_size")).as("doc_ct"))
      .orderBy("cluster_size")

  /** Deterministic multi-hop edge fixture over `documents` for the
    * driver's DuckDB oracle: chains `(i, i+1)` where `i % 7 < 4`
    * (5-node paths — exercises multi-round contraction) plus star
    * edges `(50⌊i/50⌋, i)` for `i % 50 ∈ {10, 20, 30}`. Both endpoint
    * existence checks go through the table itself, so the fixture is
    * replayable in SQL. */
  def chainFixture(documents: DataFrame): DataFrame = {
    val ids = documents.select(col("doc_id"))
    val chain = ids.filter(col("doc_id") % 7 < 4)
      .select(col("doc_id").as("doc_a"), (col("doc_id") + 1).as("doc_b"))
      .join(ids.select(col("doc_id").as("doc_b")), Seq("doc_b"))
    val star = ids.filter(col("doc_id") % 50 isin (10L, 20L, 30L))
      .select((col("doc_id") - col("doc_id") % 50).as("doc_a"),
        col("doc_id").as("doc_b"))
      .join(ids.select(col("doc_id").as("doc_a")), Seq("doc_a"))
    chain.select("doc_a", "doc_b").unionAll(star.select("doc_a", "doc_b"))
      .distinct()
  }
}
