package graft.operators.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fuzzy (edit-distance) self-join with lossless q-gram blocking —
  * entity-resolution-style near-matching without the O(n²) cross join.
  *
  * Semantics: all unordered pairs of DISTINCT values of a string
  * column within Levenshtein distance `maxDist`.
  *
  * Blocking: candidate pairs are those sharing at least one character
  * bigram, further pruned by the length invariant
  * `abs(len(a)-len(b)) <= maxDist` (true for any edit distance).
  * Bigram blocking is LOSSLESS here by the q-gram count filter
  * (Gravano et al., VLDB'01): a string of length n has n-1 bigram
  * occurrences and each edit destroys at most q=2 of them, so two
  * strings within distance t share at least `max(n_a,n_b) - 1 - 2t`
  * bigram occurrences — positive (hence ≥1 distinct shared bigram)
  * whenever `min length > 2t + 1`. For shorter strings that bound can
  * reach zero, so those fall back to a length-banded comparison
  * against everything in their band (still bounded: the short-string
  * band is tiny by definition in real vocabularies).
  *
  * Shape at 100 TB: this runs over a VOCABULARY (distinct values), not
  * the corpus — the distinct() is the only corpus-sized exchange. The
  * gram join's fan-out is Σ|bucket|² over bigram buckets; stop-gram
  * skew (a bigram appearing in a large fraction of the vocabulary) is
  * the known failure mode, handled the same way the LSH dedup path
  * does: `maxGramBucket` drops grams whose bucket exceeds the cap —
  * pairs sharing ONLY ultra-common grams are overwhelmingly far apart,
  * and every surviving pair is still exact-verified, so caps cost
  * recall only for pairs all of whose shared grams are stop-grams.
  * Set the cap ≤ 0 to disable; [[cappedGrams]] reports which grams a
  * given cap would drop (the monitoring hook — the join itself stays
  * a pure pair producer).
  */
object FuzzyJoin {

  /** The grams `nearMatchPairs` would drop at `maxGramBucket`, with
    * their bucket sizes — run alongside the join to monitor what the
    * cap is costing (a non-trivial row here means recall loss is
    * POSSIBLE for pairs whose every shared gram is listed). */
  def cappedGrams(values: DataFrame, column: String,
                  maxGramBucket: Int = 10000): DataFrame = {
    val names = values.select(col(column).cast("string").as("name"))
      .filter(col("name").isNotNull).distinct()
    names.select(col("name"), explode(array_distinct(
        transform(sequence(lit(1), greatest(length(col("name")) - 1, lit(1))),
          i => col("name").substr(i, lit(2))))).as("g"))
      .groupBy("g").agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxGramBucket)
      .orderBy(col("bucket_n").desc, col("g"))
  }

  /** (pair candidates via blocking) → exact levenshtein verify.
    *
    * With `assertLossless` the same gram-bucket aggregation that
    * prunes the join also audits the cap: any over-cap bucket fails
    * loudly (for callers oracled against the exact O(n²) semantics,
    * where a dropped gram could silently cost recall). ONE scan, two
    * consumers — the `bloomPrunedJoin` materialize-once pattern. */
  def nearMatchPairs(values: DataFrame, column: String, maxDist: Int = 2,
                     maxGramBucket: Int = 10000,
                     assertLossless: Boolean = false): DataFrame = {
    val names = values.select(col(column).cast("string").as("name"))
      .filter(col("name").isNotNull).distinct()
    val grams = names.select(col("name"), explode(array_distinct(
        transform(sequence(lit(1), greatest(length(col("name")) - 1, lit(1))),
          i => col("name").substr(i, lit(2))))).as("g"))
    val capped =
      if (maxGramBucket > 0) {
        // Single gram-bucket aggregation feeding both the kept-gram
        // pruning join and the lossless-cap audit. Driver-bounded:
        // distinct character bigrams are ≤ |alphabet|² — the same
        // small set the broadcast join ships to every executor anyway.
        val spark = values.sparkSession
        import spark.implicits._
        val sizes = grams.groupBy("g").agg(count(lit(1)).as("n"))
          .as[(String, Long)].collect()
        if (assertLossless) {
          val over = sizes.filter(_._2 > maxGramBucket)
            .sortBy { case (g, n) => (-n, g) }.take(3)
            .map { case (g, n) => s"$g=$n" }
          require(over.isEmpty,
            "nearMatchPairs: bigram bucket(s) exceed maxGramBucket " +
              s"(${over.mkString(", ")}) — the capped blocking would " +
              "no longer be lossless vs the exact oracle; raise the " +
              "cap or call with maxGramBucket = 0")
        }
        val kept = sizes.collect { case (g, n) if n <= maxGramBucket => g }
        grams.join(broadcast(kept.toSeq.toDF("g")), "g")
      } else grams
    val gramCands = capped.as("a")
      .join(capped.as("b"), col("a.g") === col("b.g") &&
        col("a.name") < col("b.name"))
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"))
    // short strings where the count-filter bound collapses: compare
    // within the length band exhaustively (lossless fallback)
    val shortLen = 2 * maxDist + 1
    val short = names.filter(length(col("name")) <= shortLen)
    val banded = names.filter(length(col("name")) <= shortLen + maxDist)
    val shortCands = short.as("a")
      .join(banded.as("b"), col("a.name") < col("b.name"))
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"))
    gramCands.union(shortCands).distinct()
      .filter(abs(length(col("name_a")) - length(col("name_b"))) <= maxDist)
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= maxDist)
      .select(col("name_a"), col("name_b"), col("dist").cast("int").as("dist"))
  }

  /** Flagship query: near-matching part names (the product-catalog
    * entity-resolution case). This path is oracled against the exact
    * O(n²) levenshtein semantics, so the gram-bucket cap is only
    * admissible while it drops NOTHING — `assertLossless` makes the
    * join's own bucket aggregation fail loudly the moment a
    * vocabulary grows a bigram bucket past the cap, instead of
    * silently diverging from the oracle. */
  def partNameNearMatch(part: DataFrame, maxDist: Int = 2): DataFrame =
    nearMatchPairs(part, "p_name", maxDist, assertLossless = true)
      .orderBy("name_a", "name_b")

  /** Prefix-weighted near-matching via the native [[graft.functions
    * .JaroWinkler]] expression (codegen'd; semantics pinned bit-exact
    * to DuckDB's vendored rapidfuzz — the oracle compares micro-scaled
    * integers so the contract is rounding-stable): all distinct
    * part-name pairs within a (brand, container) block scoring
    * ≥ `minMicros`. Blocking bounds the pair stream at Σ|block|² —
    * the same shape as the q-gram join, with the block key coming
    * from catalog attributes instead of grams (the entity-resolution
    * trick when structured attributes exist: cheaper than grams and
    * skew-free when the attribute fan-out is bounded). Brand alone is
    * the block key here (dense enough to have near-pairs at every test
    * SF); a corpus where brand blocks outgrow memory compounds the key
    * (brand × container × …) exactly like adding bands to LSH. */
  def partNameJaroWinkler(part: DataFrame,
                          minMicros: Long = 800000L): DataFrame = {
    val names = part.select(col("p_brand").as("brand"),
        col("p_name").cast("string").as("name"))
      .filter(col("name").isNotNull).distinct()
    names.as("a").join(names.as("b"),
        col("a.brand") === col("b.brand") &&
        col("a.name") < col("b.name"))
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"),
        round(graft.functions.TextExprs
          .jaro_winkler(col("a.name"), col("b.name")) * 1000000)
          .cast("bigint").as("jw_micros"))
      .filter(col("jw_micros") >= minMicros)
      .distinct()
      .orderBy("name_a", "name_b")
  }

  /** Entity resolution: group a string universe into clusters by the
    * near-match relation and elect the lexicographic-minimum member
    * as each cluster's canonical form. Components are found by
    * MIN-LABEL PROPAGATION directly on the strings (no id assignment
    * step whose ordering could differ between runs): every round,
    * each node takes the minimum of its own label and its neighbors'
    * labels — one keyed join + a map-side-combined min per round,
    * rounds materialized to parquet (the CC round-file contract).
    * Label sets only ever decrease, so a no-change round is a
    * fixpoint; the loop asserts convergence within `maxIter` (name
    * clusters have tiny diameters — an unconverged run means the
    * pair generation exploded, and MUST fail loudly rather than emit
    * partial clusters). Unmatched names are their own singleton
    * clusters. Output: (name, canonical, cluster_size). */
  def resolveEntities(universe: DataFrame, pairs: DataFrame,
                      maxIter: Int = 10): DataFrame = {
    val spark = universe.sparkSession
    val dir = graft.core.Scratch.dir(spark, "er")
    pairs.select(col("name_a").as("u"), col("name_b").as("v"))
      .unionAll(pairs.select(col("name_b").as("u"), col("name_a").as("v")))
      .write.mode("overwrite").parquet(s"$dir/edges")
    val edges = spark.read.parquet(s"$dir/edges")
    universe.select(col("name"), col("name").as("label"))
      .write.mode("overwrite").parquet(s"$dir/lab-0")
    var labels = spark.read.parquet(s"$dir/lab-0")
    var converged = false
    var r = 1
    while (r <= maxIter && !converged) {
      val nbrMin = edges
        .join(labels.withColumnRenamed("name", "u"), "u")
        .groupBy(col("v").as("name"))
        .agg(min(col("label")).as("nbr"))
      labels.join(nbrMin, Seq("name"), "left")
        .select(col("name"),
          least(col("label"), coalesce(col("nbr"), col("label")))
            .as("label"),
          (col("nbr").isNotNull && col("nbr") < col("label"))
            .as("chg"))
        .write.mode("overwrite").parquet(s"$dir/lab-$r")
      val next = spark.read.parquet(s"$dir/lab-$r")
      converged = next.filter(col("chg")).isEmpty // bounded probe
      labels = next.drop("chg")
      r += 1
    }
    require(converged,
      s"resolveEntities: labels still moving after $maxIter rounds — " +
        "cluster diameter exceeds the bound; the near-match pair set " +
        "has likely exploded")
    val wc = org.apache.spark.sql.expressions.Window.partitionBy("canonical")
    labels.select(col("name"), col("label").as("canonical"))
      .withColumn("cluster_size", count(lit(1)).over(wc))
      .orderBy("name")
  }

  /** Flagship: resolve the part-name catalog — near-match pairs from
    * the lossless blocked fuzzy join, clusters by min-label
    * propagation, the oracle replays pairs exactly and components by
    * recursive reachability. */
  def partEntityResolution(part: DataFrame): DataFrame = {
    val names = part.select(col("p_name").cast("string").as("name"))
      .filter(col("name").isNotNull).distinct()
    resolveEntities(names, partNameNearMatch(part))
  }
}
