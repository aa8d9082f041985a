package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.dwd.AsofJoin
import graft.operators.llm.{FuzzyJoin, Retrieval, SqAnn, Similarity}

/** Semantics + plan-shape checks for the r4 additions: as-of join,
  * BM25 retrieval, fuzzy (edit-distance) join, SQ8 quantized ANN. */
class AsofRetrievalSpec extends SparkTestBase {

  import spark.implicits._

  // ---- as-of join -------------------------------------------------

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("asof join: inclusive match, tie-break, carry-forward, no-match null") {
    val left = Seq(
      (1L, 10L, ts("2024-01-01 00:00:05")), // after r2/r3 tie → r3 wins
      (2L, 10L, ts("2024-01-01 00:00:02")), // exactly at r2/r3 ts → inclusive
      (3L, 10L, ts("2024-01-01 00:00:01")), // before any right → null
      (4L, 20L, ts("2024-01-01 00:00:09")), // other key, carry over gap
      (5L, 30L, ts("2024-01-01 00:00:09"))  // key with no right rows
    ).toDF("id", "k", "t")
    val right = Seq(
      (100L, 10L, ts("2024-01-01 00:00:02"), 1.0),
      (101L, 10L, ts("2024-01-01 00:00:02"), 2.0), // same ts, higher id wins
      (102L, 20L, ts("2024-01-01 00:00:03"), 3.0)
    ).toDF("rid", "k", "t", "v")
    val out = AsofJoin.asofJoin(left, right, "k", "t", "k", "t",
      Seq("rid", "v"), "rid")
      .select("id", "asof_rid", "asof_v").as[(Long, Option[Long], Option[Double])]
      .collect().sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, Some(101L), Some(2.0)),
      (2L, Some(101L), Some(2.0)),
      (3L, None, None),
      (4L, Some(102L), Some(3.0)),
      (5L, None, None)))
  }

  test("asof scalable path equals the range-join reformulation on events") {
    val ev = Tables.events(spark, sf0001)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("cid"), col("user_id"), col("ts"),
        col("value"))
    val fast = AsofJoin.asofJoin(p, c, "user_id", "ts", "user_id", "ts",
      Seq("cid", "value"), "cid")
    val slow = AsofJoin.asofViaRangeJoin(p, c, "user_id", "ts", "user_id",
      "ts", Seq("cid", "value"), "cid")
    assertSameRows(fast, slow)
    assert(fast.count() == p.count(), "left-outer must preserve every left row")
  }

  test("asof join plan: one key exchange, no range-join blow-up") {
    val plan = SparkEntry.queries("j_asof_join")(spark, sf0001)
      .queryExecution.executedPlan.toString
    // the union-tag idiom must not produce a join operator at all —
    // the as-of match rides the window's carry-forward
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      plan)
    val keyExchanges = plan.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning(__k")).size
    assert(keyExchanges == 1, s"expected exactly 1 key exchange:\n$plan")
  }

  // ---- BM25 -------------------------------------------------------

  test("bm25: a doc made of query terms outranks partial/no overlap") {
    val docs = Seq(
      (0L, "spark fast hash spark fast hash"), // all three terms, repeated
      (1L, "spark row row row row row"),       // one term, long doc
      (2L, "key value scan merge sort"),       // no query-0 terms
      (3L, "spark fast hash")                  // all terms, shorter doc
    ).toDF("doc_id", "text")
    val out = Retrieval.bm25TopK(docs, Seq(0 -> "spark fast hash"), k = 4)
      .select("doc_id", "rank").as[(Long, Int)].collect().toMap
    assert(out(0L) <= 2 && out(3L) <= 2, s"full-overlap docs must lead: $out")
    assert(out(1L) == 3, s"single-term doc ranks third: $out")
    assert(!out.contains(2L), s"zero-overlap doc must not appear: $out")
  }

  test("bm25 on the real corpus: positive scores, dense ranks per query") {
    val df = Retrieval.bm25TopK(Tables.documents(spark, sf0001))
    // correct + non-empty on real data; every score positive (Lucene idf)
    val rows = df.as[(Int, Long, Int, Double)].collect()
    assert(rows.nonEmpty && rows.forall(_._4 > 0))
    val ranks = rows.groupBy(_._1).values
    assert(ranks.forall(g => g.map(_._3).sorted.toSeq == (1 to g.size)))
  }

  // ---- fuzzy join -------------------------------------------------

  test("fuzzy join: blocking is lossless vs brute force on part names") {
    val part = Tables.part(spark, sf0001)
    val blocked = FuzzyJoin.partNameNearMatch(part)
    val names = part.select(col("p_name").as("name")).distinct()
    val brute = names.as("a").join(names.as("b"),
        col("a.name") < col("b.name"))
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= 2)
      .select(col("name_a"), col("name_b"), col("dist").cast("int").as("dist"))
    assertSameRows(blocked, brute)
    assert(blocked.count() > 0, "fixture vocabulary must contain near pairs")
  }

  test("fuzzy join: cappedGrams reports exactly what a cap would drop") {
    // 'xx' appears in all 20 names (stop gram, over the cap of 10);
    // the digit-suffix bigrams appear once or twice each (under it)
    val vals = (0 until 20).map(i => s"xxname$i").toDF("v")
    val out = graft.operators.llm.FuzzyJoin
      .cappedGrams(vals, "v", maxGramBucket = 10)
      .as[(String, Long)].collect().toMap
    assert(out.contains("xx") && out("xx") == 20L,
      s"the stop gram must be reported with its bucket size: $out")
    assert(out.values.forall(_ > 10), s"only over-cap buckets belong: $out")
  }

  test("fuzzy join: assertLossless fails loudly on an over-cap bucket") {
    // 'xx' is in all 20 names; with a cap of 10 the capped blocking
    // would drop it, so the lossless contract must throw, naming the
    // gram — and without the flag the capped (lossy) join still runs.
    val vals = (0 until 20).map(i => s"xxname$i").toDF("v")
    val e = intercept[IllegalArgumentException] {
      FuzzyJoin.nearMatchPairs(vals, "v", maxDist = 2,
        maxGramBucket = 10, assertLossless = true)
    }
    // every shared bigram ("am","me","na","xx",…) is in all 20 names;
    // the message lists the top offenders with their bucket sizes
    assert(e.getMessage.contains("=20") &&
      e.getMessage.contains("lossless"), e.getMessage)
    // without the flag the capped join runs — and because EVERY gram
    // here is over-cap it silently finds nothing, which is precisely
    // the oracle divergence assertLossless exists to catch
    val lossy = FuzzyJoin.nearMatchPairs(vals, "v", maxDist = 2,
      maxGramBucket = 10)
    assert(lossy.count() == 0, "all grams capped -> no candidates")
    val uncapped = FuzzyJoin.nearMatchPairs(vals, "v", maxDist = 2,
      maxGramBucket = 0)
    assert(uncapped.count() > 0, "uncapped blocking finds the pairs")
  }

  test("fuzzy join: short strings survive via the length-band fallback") {
    val vals = Seq("ab", "ac", "abcd", "zz zz zz", "zz zz zx").toDF("v")
    val out = FuzzyJoin.nearMatchPairs(vals, "v", maxDist = 2)
      .as[(String, String, Int)].collect().toSet
    assert(out.contains(("ab", "ac", 1)), s"short pair lost: $out")
    assert(out.contains(("zz zz zx", "zz zz zz", 1)), out)
  }

  test("entity resolution: labels cross a chain; singletons survive") {
    // chain w1—x1—y1—z1 (adjacent dist 1): the minimum label 'w1'
    // must propagate 3 hops; 'solo' matches nothing
    val names = Seq("w1", "x1", "y1", "z1", "solo ridge").toDF("name")
    val pairs = Seq(("w1", "x1"), ("x1", "y1"), ("y1", "z1"))
      .toDF("name_a", "name_b")
    val out = FuzzyJoin.resolveEntities(names, pairs)
      .as[(String, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(Seq("w1", "x1", "y1", "z1")
      .forall(n => out(n) == (("w1", 4L))), out)
    assert(out("solo ridge") == (("solo ridge", 1L)))
    // a diameter past maxIter must fail loudly, not emit partials
    val e = intercept[IllegalArgumentException] {
      FuzzyJoin.resolveEntities(names, pairs, maxIter = 2).collect()
    }
    assert(e.getMessage.contains("still moving"), e.getMessage)
  }

  // ---- SQ8 ANN ----------------------------------------------------

  test("sq8: quantized ranking tracks exact ranking within SQ error") {
    val emb = Tables.embeddings(spark, sf0001)
    val exact = Similarity.bruteForceTopK(emb, Seq(0L, 1L, 2L), k = 10)
      .select("query_id", "neighbor_id", "cos_sim")
      .as[(Long, Long, Double)].collect()
    val sq = SqAnn.sq8TopK(emb, Seq(0L, 1L, 2L), k = 10)
      .select("query_id", "neighbor_id", "cos_sim")
      .as[(Long, Long, Double)].collect()
    // 8-bit per-dim quantization error leaves similarities within a few
    // thousandths; top-10 recall vs exact must stay high
    val exactSets = exact.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val recall = sq.groupBy(_._1).map { case (q, rows) =>
      rows.map(_._2).count(exactSets(q)) / 10.0
    }
    assert(recall.forall(_ >= 0.8), s"sq8 top-10 recall degraded: $recall")
    val simByKey = exact.map(r => (r._1, r._2) -> r._3).toMap
    val drift = sq.flatMap(r => simByKey.get((r._1, r._2))
      .map(e => math.abs(e - r._3)))
    assert(drift.nonEmpty && drift.max <= 0.02,
      s"sq8 similarity drift too large: ${drift.max}")
  }

  test("ivf×sq8: full probe ≡ full sq8 scan; probed recall holds") {
    val emb = Tables.embeddings(spark, sf0001)
    val full = SqAnn.ivfSq8TopK(emb, Seq(0L, 1L, 2L), nProbe = 16)
    assertSameRows(full, SqAnn.sq8TopK(emb, Seq(0L, 1L, 2L)))
    val probedSets = SqAnn.ivfSq8TopK(emb, Seq(0L, 1L, 2L), nProbe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val fullSets = full.select("query_id", "neighbor_id")
      .as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recall = fullSets.map { case (q, s) =>
      probedSets.getOrElse(q, Set.empty[Long]).count(s) / s.size.toDouble
    }
    // sf0.001 has ~100 vectors in 16 cells: probing 4 cells scans ~25%
    // of the corpus, which bounds top-10 recall hard — the floor here
    // pins the candidate wiring, not production recall (that's the
    // fullprobe identity + the 10× soak in SCALE.md §"ANN similarity")
    assert(recall.forall(_ >= 0.3) && recall.sum / recall.size >= 0.5,
      s"4/16-probe recall@10 too low: $recall")
  }

  test("ivf: production probe width keeps a recall floor vs brute force") {
    // the llm_ann_ivf bench query runs at the ivfTopK defaults
    // (16 cells, nProbe = 4); this floor turns a silent recall
    // collapse there into a red test. Same calibration note as the
    // ivf×sq8 floor: at sf0.001 probing 4/16 cells scans ~25% of the
    // ~100-vector corpus, so the floor pins candidate wiring — the
    // fullprobe identity and the 10× soak in SCALE.md §"ANN
    // similarity" carry the production recall story.
    val emb = Tables.embeddings(spark, sf0001)
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    val exactSets = Similarity.bruteForceTopK(emb, qids, k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val probed = Similarity.ivfTopK(emb, qids, k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recall = exactSets.map { case (q, s) =>
      probed.getOrElse(q, Set.empty[Long]).count(s) / s.size.toDouble }
    assert(recall.forall(_ >= 0.3) && recall.sum / recall.size >= 0.5,
      s"ivf 4/16-probe recall@10 too low: $recall")
  }

  test("semdedup: planted vector twins are found at the gate cell count") {
    // mirrors the ANN soak's twin probe (SCALE.md) as a pinned floor:
    // every 10th vector gets a near-identical twin; k-means cells bound the
    // pair space, and a twin is only found if its pair lands in one
    // cell — cell-boundary splits cost a few, so the floor is a
    // majority bound, not exactness (llm_semdedup_twin carries the
    // exact oracle)
    val emb = Tables.embeddings(spark, sf0001)
    val twins = Similarity.withVectorTwins(emb)
    val planted = emb.filter(col("vec_id") % 10 === 0).count()
    val found = Similarity.semanticPairs(twins, nCentroids = 16)
      .filter(col("vec_b") === col("vec_a") + 1000000L).count()
    assert(planted > 0)
    assert(found * 2 >= planted,
      s"semdedup twin recall collapsed: $found of $planted")
  }

  test("sq8: constant dimensions round-trip exactly") {
    val emb = Seq(
      (0L, Array(1.0f, 5.0f, 0.25f)),
      (1L, Array(2.0f, 5.0f, 0.75f)),
      (2L, Array(3.0f, 5.0f, 0.50f))
    ).toDF("vec_id", "embedding")
    // dim 2 is constant (max=min): must dequantize to exactly 5.0 and
    // produce no NaN/null similarities
    val out = SqAnn.sq8TopK(emb, Seq(0L), k = 2, dim = 3)
      .select("cos_sim").as[Double].collect()
    assert(out.length == 2 && out.forall(v => !v.isNaN))
  }
}
