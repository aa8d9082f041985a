package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.llm._

/** LLM-pipeline operator semantics: near-dup recall on planted
  * duplicates, ANN sanity, multimodal stub pipeline. */
class LlmOpsSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sf0001)
  private lazy val withDups = DedupOps.withNearDuplicates(docs)

  test("minhash LSH finds most planted near-duplicates") {
    val planted = withDups.filter(col("doc_id") >= 1000000L).count()
    val pairs = DedupOps.minhashPairs(withDups)
    val found = pairs
      .filter(col("doc_b") === col("doc_a") + 1000000L).count()
    assert(planted > 0)
    assert(found >= planted / 2, s"found $found of $planted planted dups")
  }

  test("simhash finds planted near-duplicates with small hamming distance") {
    val planted = withDups.filter(col("doc_id") >= 1000000L).count()
    val found = DedupOps.simhashPairs(withDups)
      .filter(col("doc_b") === col("doc_a") + 1000000L).count()
    assert(found >= planted / 2)
  }

  test("ngram jaccard verifies LSH candidates with exact similarity") {
    val pairs = DedupOps.ngramJaccardPairs(withDups).collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(_.getDouble(2) >= 0.5))
  }

  test("containment catches a planted subset pair that jaccard dilutes") {
    // doc 9000 is a verbatim 12-token excerpt of doc 9001's 60 tokens:
    // containment = 1.0 (every excerpt gram is in the superset) while
    // jaccard ~ 10/58 — under any sane jaccard threshold, invisible
    val longText = (0 until 60).map(i => s"tok${i % 37}w").mkString(" ")
    val excerpt = longText.split(" ").slice(20, 32).mkString(" ")
    val planted = Seq(
      (9000L, excerpt, "en", "plant", excerpt.length.toLong),
      (9001L, longText, "en", "plant", longText.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = DedupOps.containmentPairs(planted, every = 1000000)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4)))
    // excerpt grams: 10 (12 tokens); all contained in the superset
    assert(out.exists { case (a, b, inter, sa, sb) =>
      a == 9000L && b == 9001L && inter == sa && inter * 100 >= 80 * sa
    }, out.toSeq)
    // and the corresponding jaccard would NOT pass a 0.5 gate
    assert(out.forall { case (_, _, inter, sa, sb) =>
      inter.toDouble / (sa + sb - inter) < 0.5 }, out.toSeq)
  }

  test("LSH bucket cap drops degenerate buckets, keeps normal recall") {
    // 30 byte-identical docs collide in EVERY band: a degenerate bucket
    val boiler = (0L until 30L)
      .map(i => (i, "the same boilerplate text repeated over and over in every single document"))
      .toDF("doc_id", "text")
    assert(DedupOps.minhashPairs(boiler).count() == 30L * 29 / 2)
    assert(DedupOps.minhashPairs(boiler, maxBucketSize = 10).count() == 0)
    assert(DedupOps.simhashPairs(boiler, maxBucketSize = 10).count() == 0)
    // the cap leaves genuinely-distinct corpora untouched
    val planted = withDups.filter(col("doc_id") >= 1000000L).count()
    val found = DedupOps.minhashPairs(withDups, maxBucketSize = 50)
      .filter(col("doc_b") === col("doc_a") + 1000000L).count()
    assert(found >= planted / 2)
  }

  test("native minhash signature and gram set == relational pipeline") {
    // real corpus + planted near-dups + CJK (bigram segmentation path)
    // + the short-doc/empty/two-token fallback edges
    val fixture = withDups.select("doc_id", "text")
      .unionByName(graft.operators.dws.TrafficWindows.cjkFixture(spark)
        .select(col("doc_id") + 5000000L as "doc_id", col("text")))
      .unionByName(Seq((9001L, ""), (9002L, "one"), (9003L, "two tokens"),
        (9004L, "exactly three tokens")).toDF("doc_id", "text"))
    def sigMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val nat = sigMap(DedupOps.signaturesNative(fixture))
    val rel = sigMap(DedupOps.signatures(fixture))
    assert(nat.keySet == rel.keySet)
    nat.foreach { case (id, s) =>
      assert(s == rel(id), s"signature mismatch for doc $id") }
    // gram sets: SET equality (collect_set order is nondeterministic;
    // the native array is sorted)
    val natG = DedupOps.gramSetsNative(fixture).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val relG = DedupOps.shingleRows(fixture)
      .groupBy(col("doc_id"))
      .agg(collect_set(xxhash64(col("shingle"))).as("grams"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(natG == relG)
    // the shingles() array form the inline signatures use sees the
    // same per-doc set, short-doc fallback included
    val arrG = fixture.select(col("doc_id"),
        transform(DedupOps.shingles(col("text")), sh => xxhash64(sh)))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(arrG == relG)
    // the native arrays really are sorted (determinism contract)
    DedupOps.gramSetsNative(fixture).collect().foreach { r =>
      val a = r.getSeq[Long](1)
      assert(a == a.sorted, s"unsorted gram set for doc ${r.getLong(0)}")
    }
    // simhash: native fingerprint == relational default, empty doc
    // lands on the null-token fingerprint in both
    def fpMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val natF = fpMap(DedupOps.simhashTableNative(fixture))
    val relF = fpMap(DedupOps.simhashTable(fixture))
    assert(natF == relF)
    assert(natF(9001L) == 42L) // empty text -> seed fingerprint
  }

  test("native winnow expression == relational form bit-for-bit") {
    // includes the short-doc (<k chars) and empty-text edges, plus
    // supplementary-plane text (emoji + CJK ext-B, surrogate pairs in
    // UTF-16): gram positions must follow Spark's code-point substring
    // semantics, not Java's code-unit indexing
    val fixture = docs.select(col("doc_id"), col("text"))
      .unionByName(Seq(
        (9001L, "tiny"), (9002L, ""),
        (9003L, "café 😀😁 mixed 🍕 pizza emoji run"),
        (9004L, "𠀀𠀁𠀂 cjk ext b supplementary plane"))
        .toDF("doc_id", "text"))
    assert(rowsOf(TextAnalysis.winnowFingerprints(fixture)) ==
      rowsOf(TextAnalysis.winnowFingerprintsRelational(fixture)))
  }

  test("approx percentile swap tracks the exact twin within t-digest error") {
    def grab(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    val exact = grab(TextAnalysis.tokenPercentiles(docs))
    val approx = grab(TextAnalysis.tokenPercentilesApprox(docs))
    assert(exact.keySet == approx.keySet)
    exact.foreach { case (lang, (p50, p90, p99)) =>
      val (a50, a90, a99) = approx(lang)
      // integer token counts: the approx quantile must land on a real
      // data point within a tight relative band of the exact one
      Seq((p50, a50), (p90, a90), (p99, a99)).foreach { case (e, a) =>
        assert(math.abs(e - a) <= math.max(2.0, e * 0.05),
          s"$lang: exact=$e approx=$a")
      }
    }
  }

  test("corpus build composition: gated, deduped, packed") {
    val built = TextAnalysis.corpusBuild(docs)
    val ids = built.select("doc_id").collect().map(_.getLong(0)).toSet
    // survivors are exactly a subset of the gate's keepers
    val keep = TextAnalysis.qualityGate(docs).filter(col("keep"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.nonEmpty && ids.subsetOf(keep))
    // an exact duplicate of a surviving doc (new id) must vanish in the
    // build — the dedup stage keeps the min-id canonical
    val srcId = ids.min
    val clone = docs.filter(col("doc_id") === srcId)
      .select(lit(999999L).as("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars"))
    val rebuilt = TextAnalysis.corpusBuild(docs.unionByName(clone))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(rebuilt == ids, "clone leaked into the built corpus")
  }

  test("quality gate: rule priority and redaction round-trip") {
    val fixture = Seq(
      (1L, "short doc"),                             // too_short
      (2L, ("spam ham " * 30).trim),                 // low_quality (uniq 2/60)
      // repetitive: "x y" dominates (frac 0.5) but 52 distinct tokens
      // keep the quality score at 0.26, past the low_quality rule
      (3L, ("x y " * 25).trim + " " + (1 to 50).map(i => s"w$i").mkString(" ")),
      (4L, (1 to 40).map(i => s"${i}23456789").mkString(" ")), // digit_heavy
      // distinct letter-only fillers (base-26): w$i tokens are ~2/3
      // digits (digit rule) and a cycling alphabet repeats trigrams
      // (repetition rule) — both must stay quiet for the ok case
      (5L, (1 to 40).map(i =>
        s"${('a' + i / 26).toChar}${('a' + i % 26).toChar}")
        .mkString(" ")))                                       // ok
      .toDF("doc_id", "text")
    val gate = TextAnalysis.qualityGate(fixture).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(gate == Map(1L -> "too_short", 2L -> "low_quality",
      3L -> "repetitive", 4L -> "digit_heavy", 5L -> "ok"), gate.toString)
    // redaction scrubs exactly the injected URL mentions (ids x5 hit
    // the %5 injection lattice, not the %7 email one)
    val red = TextAnalysis.redact(fixture.withColumn("doc_id", col("doc_id") * 5))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    red.foreach { case (_, t, ct) =>
      assert(!t.contains("http") && !t.contains("@"), t)
      assert(ct == 2 && t.contains("<URL>"), s"ct=$ct t=$t")
    }
  }

  test("sequence packing: packs stay within budget + one document overshoot") {
    import graft.operators.llm.Sampling
    val packed = Sampling.sequencePacking(docs, seqLen = 256)
    val packSums = packed.groupBy("lang", "source", "pack_id")
      .agg(sum(col("n_tokens")).as("tok"), count(lit(1)).as("docs")).collect()
    val maxDoc = packed.agg(max(col("n_tokens"))).collect()(0).getInt(0)
    assert(packSums.forall(_.getLong(3) <= 256L + maxDoc))
    // multi-doc packs exist (the op actually packs, not 1 doc per pack)
    assert(packSums.exists(_.getLong(4) > 1))
  }

  test("decontamination: planted eval leakage flagged, clean corpus untouched") {
    val (corpus, bench) = DedupOps.contaminationFixture(docs)
    val report = DedupOps.contaminationReport(corpus, bench)
    val flagged = report.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // every planted doc (id%31==5 with a matching benchmark index) is
    // caught with its 5 intact appended 8-grams; the small-vocabulary
    // corpus ALSO contains genuine verbatim repeats of benchmark
    // grams (boilerplate — the thing decontamination exists to catch),
    // so planted is a subset, not the whole set
    val benchIdx = bench.select((col("doc_id") / 97).cast("long"))
      .collect().map(_.getLong(0)).toSet
    val planted = corpus.filter(col("doc_id") % 31 === 5).select("doc_id")
      .collect().map(_.getLong(0)).filter(id => benchIdx.contains(id % 5))
    assert(flagged.nonEmpty)
    assert(planted.forall(flagged.contains), s"planted not all flagged")
    assert(planted.forall(id => flagged(id) >= 5L), flagged.toString)
    // the clean complement drops exactly the flagged docs
    val clean = DedupOps.decontaminate(corpus, bench)
    assert(clean.count() == corpus.count() - flagged.size)
    assert(DedupOps.contaminationReport(clean, bench).count() == 0)
  }

  test("content signals: empty doc yields NULL ratios, not a divide error") {
    // doc_id chosen off the %5/%7 injection lattice so text stays empty
    val fixture = Seq((1L, ""), (2L, "Visit HTTP 42 things")).toDF("doc_id", "text")
    val r = TextAnalysis.contentSignals(fixture).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r(1L).isNullAt(3) && r(1L).isNullAt(4))
    assert(!r(2L).isNullAt(3) && r(2L).getDouble(4) > 0.0)
  }

  test("repetition signals flag a generation loop, pass normal prose") {
    val fixture = Seq(
      (1L, "spam ham spam ham spam ham spam ham spam ham"),
      (2L, "the quick brown fox jumps over a lazy dog near the river bank today"),
      (3L, "one"),
      (4L, "")).toDF("doc_id", "text")
    val r = TextAnalysis.repetition(fixture).collect()
      .map(x => x.getLong(0) -> x).toMap
    // doc 1: "spam ham" covers 5 of 9 bigram slots -> top frac 10/10=1.0
    assert(r(1L).getBoolean(6), "loop doc not flagged")
    assert(r(1L).getString(2) == "spam ham")
    assert(!r(2L).getBoolean(6), "prose doc wrongly flagged")
    // single-token and empty docs survive with null fracs, no flag
    assert(r(3L).isNullAt(4) && !r(3L).getBoolean(6))
    assert(r(4L).getLong(1) == 0L && !r(4L).getBoolean(6))
  }

  test("connected components contracts a 60-node path to one cluster") {
    // worst case for min-label propagation (O(n) rounds); the star
    // steps contract it logarithmically within the default maxIter
    val path = (0L until 59L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val rounds = new java.util.concurrent.atomic.AtomicInteger
    val comp = Components.connectedComponents(path, roundsOut = Some(rounds))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(comp.length == 60)
    assert(comp.forall(_._2 == 0L), comp.filter(_._2 != 0L).mkString(","))
    // star contraction is logarithmic: a 60-node path must close in far
    // fewer rounds than the 59 min-label propagation would need
    assert(rounds.get() <= 10, s"took ${rounds.get()} rounds")
  }

  test("connected components fails loudly when maxIter cuts contraction short") {
    // a 60-node path cannot contract in 1 round: silent partial ids
    // would poison canonicalize downstream, so the default is a throw
    val path = (0L until 59L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val ex = intercept[IllegalStateException] {
      Components.connectedComponents(path, maxIter = 1).collect()
    }
    assert(ex.getMessage.contains("no convergence"))
    // explicit opt-in emits the partial result with a warning instead
    spark.conf.set("spark.graft.cc.allowUnconverged", "true")
    try assert(Components.connectedComponents(path, maxIter = 1).count() > 0)
    finally spark.conf.unset("spark.graft.cc.allowUnconverged")
  }

  test("connected components: parquet round path == in-memory path") {
    // the file-backed iteration is the 100 TB path but only engages
    // above the in-memory threshold — force it so it stays tested
    val path = (0L until 30L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val inMem = Components.connectedComponents(path)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.conf.set("spark.graft.cc.inMemoryMaxEdges", "0")
    try {
      val viaFiles = Components.connectedComponents(path)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(viaFiles == inMem)
      assert(viaFiles.forall(_._2 == 0L))
    } finally spark.conf.unset("spark.graft.cc.inMemoryMaxEdges")
  }

  test("canonicalize keeps exactly one doc per near-dup chain") {
    // A~B, B~C with no A~C pair: pairwise dropping can keep two
    // near-dups or drop all three; component-canonical keeps exactly A
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val sub = docs.filter(col("doc_id") <= 5)
    val kept = Components.canonicalize(sub, pairs)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.sameElements(Array(0L, 1L, 4L, 5L)), kept.mkString(","))
  }

  test("canonicalize over minhash pairs removes the planted twins") {
    val pairs = DedupOps.minhashPairs(withDups)
    val kept = Components.canonicalize(withDups, pairs)
    val twinsKept = kept.filter(col("doc_id") >= 1000000L).count()
    // most planted twins (id+1M) share a component with their original
    // and lose the min-id tie-break; LSH recall is <100%, so allow a few
    assert(twinsKept <= withDups.filter(col("doc_id") >= 1000000L).count() / 5,
      s"too many twins survived: $twinsKept")
    // no document vanishes entirely: kept + clustered == total
    assert(kept.count() >= docs.count() / 2)
  }

  test("brute-force ANN: k neighbors per query, ranks contiguous, sims sorted") {
    val res = Similarity.bruteForceTopK(Tables.embeddings(spark, sf0001),
      Seq(0L, 1L), k = 5).collect()
    val byQ = res.groupBy(_.getLong(0))
    assert(byQ.keySet == Set(0L, 1L))
    byQ.values.foreach { rows =>
      assert(rows.map(_.getInt(2)).sorted.toSeq == (1 to 5))
      val sims = rows.sortBy(_.getInt(2)).map(_.getDouble(3))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  test("LSH ANN returns a subset consistent with brute force scores") {
    val bf = Similarity.bruteForceTopK(Tables.embeddings(spark, sf0001),
      Seq(0L), k = 50).collect()
      .map(r => (r.getLong(1), r.getDouble(3))).toMap
    val lsh = Similarity.lshTopK(Tables.embeddings(spark, sf0001), Seq(0L), k = 5)
      .collect()
    assert(lsh.nonEmpty)
    // every LSH-retrieved neighbor's sim must agree with brute force
    lsh.foreach { r =>
      bf.get(r.getLong(1)).foreach(s => assert(math.abs(s - r.getDouble(3)) < 1e-9))
    }
  }

  test("LSH ANN bucket cap kills clone buckets, leaves real corpus recall alone") {
    // 40 identical vectors collide in EVERY band — the degenerate
    // bucket that would go quadratic at corpus scale; the cap drops
    // them all (a true clone is near-dup territory, not ANN)
    val clones = (0L until 40L)
      .map(i => (i, Array.fill(16)(0.5f)))
      .toDF("vec_id", "embedding")
    assert(Similarity.lshTopKWhere(clones, col("vec_id") < 5,
      k = 3, maxBucketSize = 10).count() == 0)
    // the same call at default cap retrieves candidates
    assert(Similarity.lshTopKWhere(clones, col("vec_id") < 5, k = 3)
      .count() > 0)
    // on the genuine corpus the cap is invisible: same result with and
    // without it
    val emb = Tables.embeddings(spark, sf0001)
    val capped = Similarity.lshTopKWhere(emb, col("vec_id") === 0L, k = 5)
      .collect().map(r => (r.getLong(1), r.getDouble(3))).toSeq
    val uncapped = Similarity.lshTopKWhere(emb, col("vec_id") === 0L, k = 5,
      maxBucketSize = Int.MaxValue)
      .collect().map(r => (r.getLong(1), r.getDouble(3))).toSeq
    assert(capped == uncapped)
  }

  test("multi-probe LSH with probeBits=0 is bit-identical to single-probe") {
    val emb = Tables.embeddings(spark, sf0001)
    val single = Similarity.lshTopKWhere(emb, col("vec_id") < 10, k = 5)
    val multi0 = Similarity.lshTopKMultiProbe(emb, col("vec_id") < 10, k = 5,
      probeBits = 0)
    assertSameRows(single, multi0)
  }

  test("multi-probe LSH recall@10 >= single-probe; retrieved sims exact") {
    val emb = Tables.embeddings(spark, sf0001)
    val qPred = col("vec_id") < 30
    val truth = Similarity.bruteForceTopK(emb, (0L until 30L), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(truth).size.toDouble / truth.size
    }
    val single = recall(Similarity.lshTopKMultiProbe(emb, qPred, k = 10,
      probeBits = 0))
    val multi = recall(Similarity.lshTopKMultiProbe(emb, qPred, k = 10,
      probeBits = 4))
    assert(multi >= single,
      s"multi-probe recall $multi fell below single-probe $single")
    // every retrieved similarity is the true cosine (probing changes
    // WHICH candidates are scored, never the score)
    val bf = Similarity.bruteForceTopK(emb, (0L until 30L), k = 499)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    Similarity.lshTopKMultiProbe(emb, qPred, k = 10, probeBits = 4)
      .collect().foreach { r =>
        assert(math.abs(bf((r.getLong(0), r.getLong(1))) - r.getDouble(3)) < 1e-9)
      }
  }

  test("multi-probe twin-top1 finds every planted twin's source") {
    val emb = Tables.embeddings(spark, sf0001)
    val out = Similarity.lshMultiProbeTwinTop1(emb).collect()
    val planted = emb.filter(col("vec_id") % 10 === 0).count()
    assert(out.length == planted)
    assert(out.forall(r => r.getLong(1) == r.getLong(0) - 1000000L))
  }

  test("IVF ANN: probes cells, scores agree with brute force") {
    val emb = Tables.embeddings(spark, sf0001)
    val bf = Similarity.bruteForceTopK(emb, Seq(0L), k = 499).collect()
      .map(r => (r.getLong(1), r.getDouble(3))).toMap
    val ivf = Similarity.ivfTopK(emb, Seq(0L), k = 5).collect()
    assert(ivf.nonEmpty)
    ivf.foreach { r =>
      assert(math.abs(bf(r.getLong(1)) - r.getDouble(3)) < 1e-9)
    }
  }

  test("kmeans centroids converge to the two planted clusters") {
    // the init is the 2 ids with the smallest xxhash64 — plant the
    // clusters around that order so one seed lands in each (the test
    // fixes Lloyd's convergence, not the seed draw, which the
    // init-bias test below covers)
    val ids = (0L until 20L)
    val hashOrder = ids.toDF("vec_id")
      .select(col("vec_id")).orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .collect().map(_.getLong(0))
    val xCluster = hashOrder.zipWithIndex
      .filter(_._2 % 2 == 0).map(_._1).toSet // seeds 0,2,4,… incl. seed #1
    val vecs = ids.map { i =>
      val j = (i % 7).toFloat / 100
      if (xCluster(i)) (i, Seq(1.0f, j)) else (i, Seq(j, 1.0f))
    }.toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(vecs, k = 2, iters = 3)
      .collect().map(_.getSeq[Double](1))
    assert(cents.length == 2)
    assert(cents.exists(c => c(0) > 0.9 && c(1) < 0.1)) // x-cluster mean
    assert(cents.exists(c => c(1) > 0.9 && c(0) < 0.1)) // y-cluster mean
  }

  test("hash-sampled init seeds both clusters on an id-sorted corpus") {
    // the degenerate case first-k-by-vec_id init failed on: all low
    // ids belong to ONE cluster (sorted/clustered corpora). The hash
    // init's seed draw is independent of id order, so it still lands
    // one seed in each planted cluster and Lloyd's recovers both means.
    val vecs = (0L until 40L).map { i =>
      val j = (i % 7).toFloat / 100
      if (i < 20) (i, Seq(1.0f, j)) else (i, Seq(j, 1.0f)) // low ids all x
    }.toDF("vec_id", "embedding")
    val seeds = vecs
      .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(2)
      .collect().map(_.getLong(0))
    assert(seeds.exists(_ < 20) && seeds.exists(_ >= 20),
      s"hash draw put both seeds in one cluster: ${seeds.mkString(",")}")
    val cents = Similarity.kmeansCentroids(vecs, k = 2, iters = 3)
      .collect().map(_.getSeq[Double](1))
    assert(cents.exists(c => c(0) > 0.9 && c(1) < 0.1))
    assert(cents.exists(c => c(1) > 0.9 && c(0) < 0.1))
  }

  test("cosine near-dup pairs: planted twins all found with sim >= 0.9") {
    val emb = Tables.embeddings(spark, sf0001)
    val planted = emb.filter(col("vec_id") % 10 === 0).count()
    val found = Similarity.cosineNearDupPairs(emb).count()
    assert(found == planted, s"found $found of $planted perturbed twins")
  }

  test("multimodal stub pipeline: batched decode preserves rows, deterministic") {
    val media = Multimodal.asMediaFrame(docs)
    val feats = Multimodal.extractFeatures(spark, media)
    assert(feats.count() == docs.count())
    val f0 = feats.filter(_.doc_id == 0).collect().head
    val f0again = Multimodal.extractFeatures(spark, media)
      .filter(_.doc_id == 0).collect().head
    assert(f0 == f0again)
    assert(f0.width >= 1 && f0.height >= 1)
  }

  test("multimodal real GIF demux: true frame count, decodable frames") {
    // write a genuine 3-frame animated GIF through the JDK encoder
    def gifBytes(w: Int, h: Int, frames: Int): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      val writer = javax.imageio.ImageIO
        .getImageWritersByFormatName("gif").next()
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      (0 until frames).foreach { f =>
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (x <- 0 until w; y <- 0 until h)
          img.setRGB(x, y, (x * 31 + y * 7 + f * 101) & 0xffffff)
        writer.writeToSequence(
          new javax.imageio.IIOImage(img, null, null), null)
      }
      writer.endWriteSequence(); ios.close()
      bos.toByteArray
    }
    val media = Seq(
      MediaRow(0L, gifBytes(20, 10, 3), "gif"),
      MediaRow(1L, "definitely not a gif".getBytes, "gif"), // stub path
      MediaRow(2L, ("x" * 600).getBytes, "wav")             // stride path
    ).toDF()
    val frames = Multimodal.sampleFramesReal(spark, media)
      .collect().groupBy(_.doc_id)
    // true demux: exactly 3 frames, each a standalone decodable PNG
    // with the source GIF's true pixel dimensions
    assert(frames(0L).length == 3)
    frames(0L).foreach { f =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(f.frame_bytes))
      assert(img != null && img.getWidth == 20 && img.getHeight == 10)
    }
    assert(frames(0L).map(_.ts_ms).sorted.sameElements(Array(0L, 1000L, 2000L)))
    // non-gif bytes fall back to stride frames, never throw
    assert(frames(1L).nonEmpty && frames(2L).length == 2)
  }

  test("multimodal real audio decode: javax.sound yields true rate/frames/RMS") {
    // a deterministic 250 ms 440 Hz mono sine at amplitude 0.5,
    // 16 kHz 16-bit little-endian PCM, written as a real WAV container
    def wavBytes(rate: Float = 16000f, ms: Int = 250,
                 freq: Double = 440.0, amp: Double = 0.5): Array[Byte] = {
      val n = (rate * ms / 1000).toInt
      val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 1, true, false)
      val data = new Array[Byte](n * 2)
      var i = 0
      while (i < n) {
        val s = (math.sin(2 * math.Pi * freq * i / rate) * amp * 32767).toInt
        data(2 * i) = (s & 0xff).toByte
        data(2 * i + 1) = ((s >> 8) & 0xff).toByte
        i += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(data), fmt, n.toLong),
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val media = Seq(
      MediaRow(0L, wavBytes(), "wav"),
      MediaRow(1L, wavBytes(rate = 8000f, ms = 500, amp = 0.25), "wav"),
      MediaRow(2L, "not audio at all".getBytes, "wav") // stub fallback
    ).toDF()
    val a = Multimodal.extractAudioFeatures(spark, media)
      .collect().sortBy(_.doc_id)
    assert(a(0).sample_rate == 16000 && a(0).channels == 1)
    assert(a(0).frames == 4000 && a(0).duration_ms == 250)
    // sine RMS = amp/sqrt(2): 0.5 -> 0.3536, 0.25 -> 0.1768
    assert(math.abs(a(0).rms - 0.5 / math.sqrt(2)) < 0.01, a(0).toString)
    assert(a(1).sample_rate == 8000 && a(1).frames == 4000 &&
      a(1).duration_ms == 500)
    assert(math.abs(a(1).rms - 0.25 / math.sqrt(2)) < 0.01, a(1).toString)
    // undecodable bytes: deterministic stub, never a throw
    assert(a(2).rms == 0.0 && a(2).sample_rate >= 8000)
  }

  test("multimodal real MP4 container parse: brand, duration, tracks, size — codec-free") {
    // hand-assembled minimal ISO BMFF: ftyp(isom) + moov(mvhd v0 + trak(tkhd))
    def be32(v: Long): Array[Byte] = Array(
      (v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def box(t: String, payload: Array[Byte]): Array[Byte] =
      be32(payload.length + 8L) ++ t.getBytes("US-ASCII") ++ payload
    val ftyp = box("ftyp", "isom".getBytes ++ be32(0x200) ++ "isom".getBytes)
    // mvhd v0: ver/flags, ctime, mtime, timescale=1000, duration=5000
    val mvhd = box("mvhd", be32(0) ++ be32(0) ++ be32(0) ++
      be32(1000) ++ be32(5000))
    // tkhd: ver/flags + 12 filler bytes, then width/height as 16.16
    val tkhd = box("tkhd", be32(0) ++ Array.fill[Byte](12)(0) ++
      be32(640L << 16) ++ be32(360L << 16))
    val mp4 = ftyp ++ box("moov", mvhd ++ box("trak", tkhd))
    val media = Seq(
      MediaRow(0L, mp4, "mp4"),
      MediaRow(1L, "definitely not a video".getBytes, "mp4") // stub path
    ).toDF()
    val metas = Multimodal.extractVideoMeta(spark, media)
      .collect().sortBy(_.doc_id)
    assert(metas(0).container == "bmff" && metas(0).brand == "isom")
    assert(metas(0).duration_ms == 5000L, metas(0).toString)
    assert(metas(0).track_ct == 1)
    assert(metas(0).width == 640 && metas(0).height == 360)
    // non-container bytes: deterministic stub, never a throw
    assert(metas(1).container == "unknown" && metas(1).track_ct == 0)
    assert(metas(1).width == ("definitely not a video".length % 640) + 1)
  }

  test("multimodal real image decode: javax.imageio yields true dimensions") {
    def pngBytes(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until h)
        img.setRGB(x, y, (x * 31 + y * 7) & 0xffffff)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    def imgBytes(w: Int, h: Int, fmt: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until h)
        img.setRGB(x, y, (x * 31 + y * 7) & 0xffffff)
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
      bos.toByteArray
    }
    val media = Seq(
      MediaRow(0L, pngBytes(320, 200), "png"),
      MediaRow(1L, pngBytes(64, 48), "jpeg"), // png bytes; imageio sniffs content
      MediaRow(2L, "not an image".getBytes, "png"), // falls back to stub
      MediaRow(3L, pngBytes(10, 10), "wav"), // non-image format: stub
      MediaRow(4L, imgBytes(123, 45, "bmp"), "bmp"), // real JDK bmp reader
      MediaRow(5L, imgBytes(77, 66, "tiff"), "tiff") // real JDK tiff reader
    ).toDF()
    val feats = Multimodal.extractFeatures(spark, media)
      .collect().sortBy(_.doc_id)
    assert(feats(0).width == 320 && feats(0).height == 200)
    assert(feats(1).width == 64 && feats(1).height == 48)
    assert(feats(2).width == ("not an image".length % 640) + 1) // stub path
    assert(feats(3).width == (feats(3).byte_len % 640).toInt + 1) // stub path
    assert(feats(4).width == 123 && feats(4).height == 45) // real bmp decode
    assert(feats(5).width == 77 && feats(5).height == 66) // real tiff decode
    // resize computes from TRUE dimensions for real images
    val resized = Multimodal.resize(spark, media, 160, 160)
      .collect().sortBy(_.doc_id)
    assert(resized(0).width == 160 && resized(0).height == 100)
  }

  test("multimodal resize fits the bounding box preserving row count") {
    val media = Multimodal.asMediaFrame(docs)
    val resized = Multimodal.resize(spark, media, 224, 224)
    assert(resized.count() == docs.count())
    assert(resized.collect().forall(f =>
      f.width >= 1 && f.width <= 224 && f.height >= 1 && f.height <= 224))
  }

  test("multimodal frame sampling: bounded fan-out, deterministic frames") {
    val media = Multimodal.asMediaFrame(docs)
    val frames = Multimodal.sampleFrames(spark, media,
      frameBytes = 64, maxFrames = 4)
    val perDoc = frames.groupByKey(_.doc_id).count().collect().toMap
    assert(perDoc.values.forall(n => n >= 1 && n <= 4))
    // frame bytes are slices of the source blob (deterministic)
    val d0 = frames.filter(_.doc_id == 0).collect().sortBy(_.frame_idx)
    val src = media.filter(col("doc_id") === 0)
      .select("media").as[Array[Byte]].collect().head
    d0.foreach { f =>
      val from = f.frame_idx * 64
      assert(f.frame_bytes.sameElements(
        src.slice(from, math.min(src.length, from + 64))))
    }
  }

  test("perceptual aHash: near-identical images close, unrelated far, pairs found") {
    def png(w: Int, h: Int)(pixel: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until h) img.setRGB(x, y, pixel(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    def gray(v: Int) = (v << 16) | (v << 8) | v
    val base = png(64, 64)((x, _) => gray(x * 4)) // horizontal gradient
    val nearDup = png(64, 64)((x, y) => // same gradient, tiny scribble
      if (x < 3 && y < 3) gray(255) else gray(x * 4))
    val other = png(64, 64)((_, y) => gray(255 - y * 4)) // inverted vertical
    import spark.implicits._
    val media = Seq(
      MediaRow(1L, base, "png"), MediaRow(2L, nearDup, "png"),
      MediaRow(3L, other, "png")).toDF("doc_id", "media", "format")
    val hs = Multimodal.imageHashes(spark, media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(hs(1L), hs(2L)) <= 4,
      s"near-dup hamming ${ham(hs(1L), hs(2L))}")
    assert(ham(hs(1L), hs(3L)) > 16,
      s"unrelated hamming ${ham(hs(1L), hs(3L))}")
    val pairs = Multimodal.imageNearDupPairs(spark, media).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), pairs.toString)
  }

  test("stratified sample is deterministic and near the target fraction") {
    import graft.operators.llm.Sampling
    val total = docs.count().toDouble
    val s1 = Sampling.stratifiedSample(docs, 20)
    val s2 = Sampling.stratifiedSample(docs.repartition(7), 20)
    // determinism: same selection regardless of partitioning
    assert(s1.select("doc_id").collect().map(_.getLong(0)).toSet ==
      s2.select("doc_id").collect().map(_.getLong(0)).toSet)
    val frac = s1.count() / total
    assert(frac > 0.10 && frac < 0.30, s"sampled fraction $frac")
  }

  test("corpus stats doc counts sum to the corpus size") {
    import graft.operators.llm.Sampling
    val stats = Sampling.corpusStats(docs)
    val sum = stats.agg(org.apache.spark.sql.functions.sum("doc_ct"))
      .collect()(0).getLong(0)
    assert(sum == docs.count())
  }

  test("line dedup drops corpus-repeated lines, keeps order, keeps emptied docs") {
    val corpus = Seq(
      (1L, "unique alpha\nCOPYRIGHT FOOTER\nunique beta"),
      (2L, "unique gamma\nCOPYRIGHT FOOTER"),
      (3L, "COPYRIGHT FOOTER"),
      (4L, "solo line stays\nrepeated twice here\nrepeated twice here"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.lineDedup(corpus, minRepeat = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    // the footer occurs in 3 docs -> removed everywhere, order intact
    assert(out(1L) == (("unique alpha\nunique beta", 3L, 1L)))
    assert(out(2L) == (("unique gamma", 2L, 1L)))
    // a doc that is ALL boilerplate survives as an empty row, not a drop
    assert(out(3L) == (("", 1L, 1L)))
    // within-doc repetition counts toward the corpus threshold
    assert(out(4L) == (("solo line stays", 3L, 2L)))
  }

  test("span dedup excises repeated n-token spans, merging overlaps") {
    val phrase = "aa bb cc dd ee" // 5 tokens -> two overlapping 4-grams
    val corpus = Seq(
      (1L, s"x1 $phrase y1"),
      (2L, s"x2 x3 $phrase"),
      (3L, "solo doc nothing repeated here at all"),
      (4L, "s t u v s t u v"), // the same 4-gram twice within ONE doc
      (5L, "aa bb cc")) // shorter than n: carries no gram, survives
      .toDF("doc_id", "text")
    val out = TextAnalysis.spanDedup(corpus, n = 4, minRepeat = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // the shared 5-token phrase = two dup 4-grams whose coverage merges
    // into ONE contiguous excision; the unique flanks survive in order
    assert(out(1L) == (("x1 y1", 7L, 5L, 2L)))
    assert(out(2L) == (("x2 x3", 7L, 5L, 2L)))
    assert(out(3L) == (("solo doc nothing repeated here at all", 7L, 0L, 0L)))
    // self-repetition counts; a fully-duplicated doc empties, not drops
    assert(out(4L) == (("", 8L, 8L, 2L)))
    assert(out(5L) == (("aa bb cc", 3L, 0L, 0L)))
  }

  test("budget select keeps whole top-score buckets until the token budget") {
    val budget = 5000L
    val kept = Sampling.budgetSelect(docs, budgetTokens = budget).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(kept.nonEmpty)
    val total = kept.map(_._2).sum
    // cumulative-START rule: the budget is filled unless the corpus ran out
    assert(total >= budget || kept.length == docs.count())
    // buckets are kept WHOLE: every unselected doc scores strictly below
    // every selected one
    val minKept = kept.map(_._3).min
    val keptIds = kept.map(_._1).toSet
    val unkept = TextAnalysis.quality(docs)
      .select("doc_id", "quality_score").collect()
      .filterNot(r => keptIds(r.getLong(0)))
    assert(unkept.forall(_.getDouble(1) < minKept))
    // overshoot is bounded by the single boundary bucket
    val boundaryTokens = kept.filter(_._3 == minKept).map(_._2).sum
    assert(total - boundaryTokens < budget)
  }

  test("mixture rebalance hits target proportions; binding stratum kept whole") {
    val targets = Map("en" -> 4000, "zh" -> 2000, "de" -> 2000,
      "fr" -> 1000, "es" -> 1000)
    val before = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val after = Sampling.mixtureRebalance(docs, targets).groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the binding stratum (min count/weight) is kept in full
    val binding = targets.keys.minBy(l => (before(l).toDouble / targets(l), l))
    assert(after(binding) == before(binding))
    // every stratum's share lands near its target (hash sampling is
    // exact only in expectation; ±40% relative at this tiny SF)
    val total = after.values.sum.toDouble
    targets.foreach { case (l, bp) =>
      val got = after.getOrElse(l, 0L) / total
      assert(math.abs(got - bp / 10000.0) < 0.4 * bp / 10000.0,
        s"lang=$l got=$got want=${bp / 10000.0}")
    }
    // no stratum grew
    after.foreach { case (l, ct) => assert(ct <= before(l)) }
  }

  test("dsir scores rank the target slice above the rest") {
    val out = TextAnalysis.importanceScores(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val langOf = docs.select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val (target, rest) = out.partition { case (id, _) => langOf(id) == "en" }
    val avgT = target.values.sum / target.size
    val avgR = rest.values.sum / rest.size
    // the corpus langs share most vocabulary (only stopword markers
    // differ), so the margin is small — but the target slice must rank
    // strictly above the rest on average
    assert(avgT > avgR + 0.001, s"target avg $avgT vs rest avg $avgR")
    assert(out.size == docs.count())
  }

  test("dsir weights separate disjoint vocabularies by sign") {
    // target docs draw from one vocabulary, the rest from another:
    // target-vocab buckets weight ln((Q+V)/(T+V)) > 0, rest-vocab
    // buckets go negative — every doc's sign is determined
    val planted = Seq(
      (1L, "en", "alpha beta gamma alpha beta"),
      (2L, "en", "beta gamma alpha gamma beta"),
      (3L, "de", "rot blau gruen rot blau"),
      (4L, "de", "blau gruen rot gruen blau"),
      (5L, "de", "gruen rot blau rot gruen"),
      (6L, "de", "")).toDF("doc_id", "lang", "text")
    val out = TextAnalysis.importanceScores(planted).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(out.filter(r => r._1 <= 2).forall(_._3 > 0))
    assert(out.filter(r => r._1 >= 3 && r._2 > 0).forall(_._3 < 0))
    // the zero-token doc scores 0.0, not null / missing
    assert(out.find(_._1 == 6L).get._3 == 0.0)
  }

  test("semantic dedup general form equals the exact twin on planted twins") {
    val emb = Tables.embeddings(spark, sf0001)
    val general = Similarity.semanticDedup(Similarity.withVectorTwins(emb))
    val exact = Similarity.semanticDedupTwin(emb)
    assertSameRows(general, exact)
    // and the canonical selection drops exactly the twins
    val kept = exact.filter(col("is_canonical") === 1)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept.forall(_ < 1000000L))
    assert(kept.size == emb.count())
  }

  test("lm perplexity ranks target-like text below alien text") {
    val planted = Seq(
      (1L, "en", "the cat sat on the mat the cat sat on the mat"),
      (2L, "en", "the dog sat on the mat the dog sat on the mat"),
      // target-like probe: every bigram seen in training
      (3L, "xx", "the cat sat on the mat"),
      // alien probe: no bigram (or unigram context) ever seen
      (4L, "xx", "zq wv xk pj zq wv xk pj"),
      // degenerate docs score (0, 0.0, 0.0), not null / missing
      (5L, "xx", "solo"),
      (6L, "xx", "")).toDF("doc_id", "lang", "text")
    val out = TextAnalysis.lmPerplexity(planted).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(out(3L)._3 < out(4L)._3,
      s"seen-bigram ppl ${out(3L)._3} must undercut alien ppl ${out(4L)._3}")
    assert(out(3L)._2 > out(4L)._2) // avg log-prob orders the same way
    assert(out(5L) == ((0L, 0.0, 0.0)))
    assert(out(6L) == ((0L, 0.0, 0.0)))
    assert(out.size == 6)
  }

  test("selection verdict composes the three kernels with rule priority") {
    val v = TextAnalysis.selectionVerdict(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val g = TextAnalysis.qualityGate(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val dsir = TextAnalysis.importanceScores(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val ppl = TextAnalysis.lmPerplexity(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(v.keySet == g.keySet)
    v.foreach { case (id, reason) =>
      val expect =
        if (g(id) != "ok") g(id)
        else if (dsir(id) < -0.17) "off_target"
        else if (ppl(id) > 340.0) "high_ppl"
        else "ok"
      assert(reason == expect, s"doc $id: got $reason want $expect")
    }
    // the verdict genuinely splits the corpus, it is not all-pass
    assert(v.values.toSet.size >= 2, v.values.toSet.toString)
  }

  test("split assign keeps every near-dup component in one split") {
    val pairs = Components.chainFixture(docs)
    val out = Sampling.splitAssign(docs, pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.length == docs.count())
    // one split per component — the leakage guarantee
    out.groupBy(_._2).foreach { case (comp, members) =>
      assert(members.map(_._3).distinct.length == 1,
        s"component $comp straddles splits: ${members.toSeq}")
    }
    // all three splits appear and the multi-doc components exist
    assert(out.map(_._3).distinct.sorted.toSeq == Seq("test", "train", "val"))
    assert(out.groupBy(_._2).exists(_._2.length > 1))
  }

  test("training order is dense per shard and reshuffles with the seed") {
    val a = Sampling.trainingOrder(docs, nShards = 4, seed = 42L).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(a.length == docs.count())
    // positions within each shard are exactly 0..n-1
    a.groupBy(_._2).foreach { case (shard, members) =>
      assert(members.map(_._3).sorted.toSeq == (0L until members.length).toSeq,
        s"shard $shard positions not dense")
    }
    // deterministic under re-run; a different seed produces a
    // different assignment
    val b = Sampling.trainingOrder(docs, nShards = 4, seed = 42L).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(a.toSeq == b.toSeq)
    val c = Sampling.trainingOrder(docs, nShards = 4, seed = 7L).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(a.toSeq != c.toSeq)
  }

  test("chunk split covers every token with the declared stride") {
    val n = 150
    val planted = Seq(
      (1L, (1 to n).map(i => s"w$i").mkString(" ")), // 3 chunks of 64/64/38
      (2L, "a b c"),                                 // one short chunk
      (3L, "")).toDF("doc_id", "text")               // no chunks
    val out = TextAnalysis.chunkSplit(planted, maxTokens = 64, overlap = 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val doc1 = out.filter(_._1 == 1L).sortBy(_._2)
    assert(doc1.map(_._3).toSeq == Seq(64L, 64L, 38L))
    // stride 56: chunk k starts at token 56k+1; overlap tokens repeat
    assert(doc1(1)._4.startsWith("w57 "))
    assert(doc1(0)._4.endsWith(" w64") && doc1(1)._4.contains("w57"))
    // full coverage: every token appears in some chunk
    val seen = doc1.flatMap(_._4.split(" ")).toSet
    assert(seen == (1 to n).map(i => s"w$i").toSet)
    assert(out.filter(_._1 == 2L).map(c => (c._2, c._3, c._4)).toSeq ==
      Seq((0L, 3L, "a b c")))
    assert(!out.exists(_._1 == 3L))
  }

  test("compression ratio orders repetitive text below prose") {
    val planted = Seq(
      (1L, ("lorem " * 200).trim),
      (2L, (1 to 200).map(i => s"tok${i * 7919 % 997}x$i").mkString(" ")),
      (3L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.compressionRatio(planted).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    // the all-repeats doc compresses far below the diverse-token doc
    assert(out(1L)._3 < out(2L)._3 / 2,
      s"repetitive ${out(1L)._3} vs diverse ${out(2L)._3}")
    assert(out(3L) == ((0L, out(3L)._2, 0.0)))
    // deterministic per JVM
    val again = TextAnalysis.compressionRatio(planted).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(again == out)
  }

  test("mixture rebalance drops langs without a target weight") {
    val out = Sampling.mixtureRebalance(docs,
      Map("en" -> 9000, "zh" -> 1000)).collect()
    val langs = out.map(_.getString(1)).toSet
    assert(langs.subsetOf(Set("en", "zh")), langs.toString)
    assert(out.nonEmpty)
  }

  test("chunk split with zero overlap partitions tokens disjointly") {
    val planted = Seq((1L, (1 to 100).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = TextAnalysis.chunkSplit(planted, maxTokens = 32, overlap = 0)
      .collect().map(r => (r.getLong(1), r.getString(3)))
    assert(out.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L))
    val all = out.flatMap(_._2.split(" "))
    // no token repeats and nothing is lost: an exact partition
    assert(all.length == 100 && all.toSet.size == 100)
  }

  test("budget select with a tiny budget keeps exactly the top score bucket") {
    val out = Sampling.budgetSelect(docs, budgetTokens = 1L).collect()
      .map(r => r.getDouble(2))
    assert(out.nonEmpty)
    // cum-start < 1 admits only the first (highest) bucket
    assert(out.toSet.size == 1)
    val top = TextAnalysis.quality(docs)
      .agg(org.apache.spark.sql.functions.max(col("quality_score")))
      .collect()(0).getDouble(0)
    assert(out.head == top)
  }

  test("tfidf ranks a document's distinctive term above corpus-wide ones") {
    val planted = Seq(
      (1L, "common common common zebra common"),
      (2L, "common common common common common"),
      (3L, "common yak yak common common")).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfTopTerms(planted, k = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getDouble(3)))
    // the unique terms win rank 1 in their docs despite low tf
    assert(out.find(r => r._1 == 1L && r._3 == 1).get._2 == "zebra")
    assert(out.find(r => r._1 == 3L && r._3 == 1).get._2 == "yak")
    // 'common' appears in every doc → idf = ln(1) = 0 → score 0
    assert(out.filter(_._2 == "common").forall(_._4 == 0.0))
    assert(out.count(_._1 == 2L) == 1) // single-term doc yields one row
  }

  test("semantic pairs sub-split oversized cells instead of dropping them") {
    // 12 identical vectors land in ONE cell; maxCellSize=4 forces 3
    // sub-cells. A capBuckets-style whole-cell drop would emit zero
    // pairs here — exactly the mass-duplicate case dedup exists for.
    val emb = (0L until 12L).map(i => (i, Array.fill(8)(1.0f)))
      .toDF("vec_id", "embedding")
    val pairs = Similarity.semanticPairs(emb, nCentroids = 1,
      threshold = 0.9, maxCellSize = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    // within-sub-cell duplicates all pair up (cross-sub-cell recall is
    // the documented trade); nearly every member reaches the pair set
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    assert(nodes.size >= 10, s"only ${nodes.size} of 12 dups paired")
    // and the bound holds: no sub-cell exceeded the cap
    val bySide = pairs.groupBy(_._1).map(_._2.length).max
    assert(bySide < 4 * 4)
  }

  test("U1 tokenizer UDF shape: null-safe lowercase split") {
    val out = Seq(Some("Hello  World"), Some(""), None).toDF("s")
      .select(graft.functions.Tokenize.tokenizeUdf(col("s")).as("t"))
      .collect().map(_.getSeq[String](0))
    assert(out(0) == Seq("hello", "world"))
    assert(out(1).isEmpty && out(2).isEmpty)
  }

  test("CJK tokenization: Han runs become overlapping bigrams, ASCII untouched") {
    val out = Seq("实时数据仓库 Spark 构建", "与 flink 共舞", "plain ascii text")
      .toDF("s")
      .select(graft.functions.Tokenize.tokens(col("s")).as("t"))
      .collect().map(_.getSeq[String](0))
    assert(out(0) == Seq("实时", "时数", "数据", "据仓", "仓库", "spark", "构建"))
    assert(out(1) == Seq("与", "flink", "共舞")) // lone Han char kept whole
    assert(out(2) == Seq("plain", "ascii", "text"))
    // the expression form and the UDTF-contract UDF agree
    val udfOut = Seq("实时数据仓库 Spark 构建").toDF("s")
      .select(graft.functions.Tokenize.tokenizeUdf(col("s")).as("t"))
      .collect().head.getSeq[String](0)
    assert(udfOut == out(0).toSeq)
  }

  test("ext-B Han (surrogate pairs): column and Scala tokenizers agree per code point") {
    // three CJK ext-B ideographs (each a surrogate pair) + BMP tail
    val extB = new String(Array(0x20000, 0x20001, 0x20002), 0, 3) + "的 ok"
    val colOut = Seq(extB).toDF("s")
      .select(graft.functions.Tokenize.tokens(col("s")).as("t"))
      .collect().head.getSeq[String](0)
    val scalaOut = graft.functions.Tokenize.tokensScala(extB)
    assert(colOut == scalaOut, s"column=$colOut scala=$scalaOut")
    // the 4-code-point Han run yields 3 bigrams of 2 WHOLE code points
    // each (never a split surrogate), then the ascii tail
    val bigrams = scalaOut.dropRight(1)
    assert(bigrams.length == 3 && scalaOut.last == "ok")
    assert(bigrams.forall(t => t.codePointCount(0, t.length) == 2))
    assert(bigrams.forall(t => !Character.isLowSurrogate(t.charAt(0)) &&
      !Character.isHighSurrogate(t.charAt(t.length - 1))))
    // and the native one-pass signature matches the relational one on it
    val df = Seq((1L, extB), (2L, "plain text only")).toDF("doc_id", "text")
    val native = graft.operators.llm.DedupOps.signaturesNative(df)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val relational = graft.operators.llm.DedupOps.signatures(df)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(native == relational)
  }

  test("CJK near-dup: shingle dedup finds a planted Chinese near-duplicate") {
    val cjk = Seq(
      (0L, "今天 天气 很好 我们 一起 去 公园 散步 然后 回家 吃饭 休息 明天 继续 工作 学习"),
      (1L, "今天 天气 很好 我们 一起 去 公园 散步 然后 回家 吃饭 休息 明天 继续 工作"),
      (2L, "完全 不同 的 文本 内容 关于 分布式 计算 引擎 的 设计 思想 和 实现 细节 讨论")
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("zh")).withColumn("source", lit("fixture"))
      .withColumn("n_chars", length(col("text")))
    val pairs = DedupOps.minhashPairs(cjk, threshold = 0.5).collect()
    assert(pairs.exists(r => r.getLong(0) == 0L && r.getLong(1) == 1L),
      pairs.mkString(","))
    assert(!pairs.exists(r => r.getLong(1) == 2L), pairs.mkString(","))
  }

  test("language id: majority of en docs predicted en") {
    val res = TextAnalysis.langId(docs)
      .filter(col("lang") === "en" && col("pred_lang") === "en")
      .agg(sum("doc_ct")).collect()(0).getLong(0)
    assert(res > 0)
  }

  test("full-probe IVF is exactly brute force (oracle-backing identity)") {
    val emb = Tables.embeddings(spark, sf0001)
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    assertSameRows(
      Similarity.ivfTopK(emb, qids, nProbe = 16),
      Similarity.bruteForceTopK(emb, qids))
  }

  test("LSH twin top-1: every twin retrieves its source") {
    val emb = Tables.embeddings(spark, sf0001)
    val rows = Similarity.lshTwinTop1(emb).collect()
    assert(rows.length == emb.filter(col("vec_id") % 10 === 0).count())
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(0) - 1000000L, r.toString)
      assert(r.getDouble(2) > 0.99, r.toString)
    }
  }

  test("twin metrics: exact jaccard ~0.7, hamming small, minhash est near exact") {
    val jac = DedupOps.twinNgramJaccard(docs).collect()
    assert(jac.nonEmpty)
    jac.foreach(r => assert(r.getDouble(2) > 0.5 && r.getDouble(2) < 0.95, r.toString))
    val ham = DedupOps.twinSimhashHamming(docs).collect()
    assert(ham.length == jac.length)
    ham.foreach(r => assert(r.getInt(2) <= 12, r.toString))
    val est = DedupOps.twinMinhashEst(docs).collect()
    assert(est.length == jac.length)
    est.foreach(r => assert(r.getDouble(2) > 0.3, r.toString))
  }

  test("embedding normalize + projection: unit norms, zero-vector guard, JL cardinality") {
    val fixture = Seq(
      (1L, Array(3.0f, 4.0f, 0.0f, 0.0f), 0),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f), 1), // zero-norm guard path
      (3L, Array(-1.0f, 2.0f, -3.0f, 4.0f), 2)
    ).toDF("vec_id", "embedding", "label")
    val unit = Similarity.l2Normalized(fixture).collect()
      .groupBy(_.getLong(0)).map { case (id, rs) =>
        id -> rs.sortBy(_.getLong(1)).map(_.getDouble(2)) }
    // 3-4-5 triangle: exact unit components
    assert(unit(1L).toSeq == Seq(0.6, 0.8, 0.0, 0.0))
    // zero vector normalizes to zeros, not NaN
    assert(unit(2L).forall(_ == 0.0))
    // every nonzero vector lands within rounding of unit length
    assert(math.abs(unit(3L).map(v => v * v).sum - 1.0) < 1e-4)
    val proj = Similarity.randomProjected(fixture, outDim = 8).collect()
    assert(proj.length == 3 * 8)
    // deterministic: a rerun reproduces bit-for-bit
    val again = Similarity.randomProjected(fixture, outDim = 8).collect()
    assert(proj.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
    // the zero vector projects to zeros; others to nonzero somewhere
    val byId = proj.groupBy(_.getLong(0))
    assert(byId(2L).forall(_.getDouble(2) == 0.0))
    assert(byId(1L).exists(_.getDouble(2) != 0.0))
  }

  test("classifier score: bounded mean weight, verdict tracks threshold, empty doc kept out") {
    val fixture = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different content with many other words here"),
      (3L, "")).toDF("doc_id", "text")
    val scored = TextAnalysis.classifierScore(fixture).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]), r.getBoolean(3))).toMap
    // weights live in [-1, 1], so any mean of them does too
    scored.values.foreach { case (_, s, _) =>
      s.foreach(v => assert(v >= -1.0 && v <= 1.0, s"score $v out of range")) }
    // a zero-token doc gets a row with NULL score and keep = false
    assert(scored(3L) == ((0L, None, false)))
    // verdict is exactly score >= threshold for scored docs
    scored.collect { case (_, (n, Some(s), keep)) if n > 0 =>
      assert(keep == (s >= 0.0), s"keep $keep vs score $s") }
    // deterministic: a rerun reproduces every score bit-for-bit
    val rerun = TextAnalysis.classifierScore(fixture).collect()
      .map(r => r.getLong(0) -> Option(r.get(2))).toMap
    scored.foreach { case (id, (_, s, _)) => assert(rerun(id) == s) }
  }

  test("bloom-prescreened decontamination is bit-identical to exact") {
    val (corpus, bench) = DedupOps.contaminationFixture(docs)
    val exact = DedupOps.contaminationReport(corpus, bench).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // at the default fpp AND at a sloppy one: false positives must die
    // in the verify join, leaving the report unchanged
    Seq(0.01, 0.3).foreach { fpp =>
      val bloom = DedupOps
        .contaminationReportBloom(corpus, bench, fpp = fpp).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(bloom == exact, s"fpp=$fpp diverged")
    }
    assert(exact.nonEmpty)
  }

  test("normalizeText composes planted marks and strips controls") {
    val out = Scrub.normalizeText(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2),
        r.getInt(3))).toList
    out.foreach { case (id, norm, changed, delta) =>
      // NFC output never retains the planted decomposed/compat forms
      assert(!norm.contains("\u0301") && !norm.contains("\u212B") &&
        !norm.contains("\u2126") && !norm.contains("\u0007"), s"doc $id")
      val planted = id % 3 == 0 || id % 4 == 0 || id % 5 == 0
      assert(changed == planted, s"doc $id changed=$changed")
      // combining mark composed (%3) and BEL stripped (%5) each drop
      // one code point; ANGSTROM->Å (%4) is length-neutral
      val expectDelta = (if (id % 3 == 0) 1 else 0) +
        (if (id % 5 == 0) 1 else 0)
      assert(delta == expectDelta, s"doc $id delta=$delta")
      if (id % 3 == 0) assert(norm.contains("caf\u00E9"))
      if (id % 4 == 0) assert(norm.contains("\u00C5"))
      if (id % 5 == 0) assert(norm.contains("\u03A9"))
    }
  }

  test("gopher rules: verdicts split and stop rule tracks the injection") {
    val rows = Scrub.gopherRules(docs).collect()
    val verdicts = rows.map(_.getString(7)).toSet
    assert(verdicts.contains("pass"), "no passing doc in fixture")
    assert(verdicts.size >= 2, "gopher gate never fails on the fixture")
    rows.foreach { r =>
      val id = r.getLong(0)
      if (id % 2 == 0)
        assert(r.getInt(6) >= 3, s"doc $id stop_hits after injection")
    }
  }

  test("redactPii scrubs every planted pattern and counts by kind") {
    val rows = Scrub.redactPii(docs).collect()
    rows.foreach { r =>
      val (id, t) = (r.getLong(0), r.getString(1))
      assert(!t.matches("(?s).*[0-9]{3}-[0-9]{3}-[0-9]{4}.*"), s"doc $id phone")
      assert(!t.matches("(?s).*[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}.*"), s"doc $id ip")
      assert((r.getInt(2) >= 1) == (id % 4 == 0), s"doc $id phone_ct")
      assert((r.getInt(3) >= 1) == (id % 6 == 0), s"doc $id ip_ct")
      assert((r.getInt(4) >= 1) == (id % 9 == 0), s"doc $id card_ct")
      if (id % 9 == 0) assert(t.contains("<CARD>"))
    }
  }

  test("PQ ANN: codes well-formed, rerank-all == brute force, recall holds") {
    val emb = Tables.embeddings(spark, sf0001)
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    // code column shape: m entries, each in [0, codes)
    val books = PqAnn.pqCodebooks(emb, m = 8, codes = 16)
    val coded = PqAnn.pqEncode(emb, books, m = 8)
      .select(col("vec_id"), col("codes")).collect()
    assert(coded.length == emb.count())
    coded.foreach { r =>
      val cs = r.getSeq[Int](1)
      assert(cs.length == 8 && cs.forall(c => c >= 0 && c < 16), cs)
    }
    // shortlist >= corpus: bit-identical to the brute-force baseline
    val all = PqAnn.pqTopK(emb, qids, shortlist = 1000000).collect().toSeq
    val bf = Similarity.bruteForceTopK(emb, qids).collect().toSeq
    assert(all == bf)
    // bounded shortlist: recall@10 vs brute force stays high — ADC on
    // 8 codes must rank the true neighborhood into a 50-candidate list
    val pq = PqAnn.pqTopK(emb, qids, shortlist = 50).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = bf.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (pq & truth).size.toDouble / truth.size
    assert(recall >= 0.6, s"recall@10 $recall")
    // determinism: a rerun reproduces the shortlisted result exactly
    assert(PqAnn.pqTopK(emb, qids, shortlist = 50).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq ==
      PqAnn.pqTopK(emb, qids, shortlist = 50).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq)
  }

  test("IVF x PQ composition: full budgets == brute force, bounded holds recall") {
    val emb = Tables.embeddings(spark, sf0001)
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    val bf = Similarity.bruteForceTopK(emb, qids).collect().toSeq
    // every cell probed + everything reranked == brute force exactly
    val full = PqAnn.ivfPqTopK(emb, qids, nProbe = 16, shortlist = 1000000)
      .collect().toSeq
    assert(full == bf)
    // recall vs BRUTE FORCE on the structureless synthetic vectors is
    // probe-fraction-bounded for ANY IVF method (why llm_ann_ivf is
    // rows-only; SCALE.md §"ANN similarity" records real geometry at
    // 32k) — the sharp invariants here isolate each composed stage
    // instead:
    // (a) full shortlist == plain IVF exactly: the kmeans index and
    //     probe ranking are shared and deterministic, so the candidate
    //     sets coincide and exact rerank == exact scoring
    val ivfSame = Similarity.ivfTopK(emb, qids).collect().toSeq
    val pqFullRerank = PqAnn.ivfPqTopK(emb, qids, shortlist = 1000000)
      .collect().toSeq
    assert(pqFullRerank == ivfSame)
    // (b) the ADC shortlist CONVERGES to plain IVF as the rerank
    //     budget grows — the PQ contract. (On these near-uniform
    //     random vectors the cosine spread is comparable to 8-code
    //     quantization error, so small-budget agreement is inherently
    //     soft; the structured-corpus quality numbers live in SCALE.md
    //     §"ANN similarity".)
    val ivfSet = ivfSame.map(r => (r.getLong(0), r.getLong(1))).toSet
    def agree(shortlist: Int): Double = {
      val s = PqAnn.ivfPqTopK(emb, qids, shortlist = shortlist).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (s & ivfSet).size.toDouble / ivfSet.size
    }
    val (a15, a45) = (agree(15), agree(45))
    assert(a45 >= a15 - 1e-9, s"budget growth lost agreement: $a15 -> $a45")
    assert(a15 >= 0.4, s"small-budget agreement collapsed: $a15")
    assert(a45 >= 0.8, s"near-full budget should closely match IVF: $a45")
  }

  test("BPE: merges learn frequency, encode is lossless and memo-stable") {
    val corpus = Seq(
      (1L, "low low low low low lower lower newest newest newest"),
      (2L, "newest newest newest wider wider wider low low"),
      (3L, "lowest lowest newest low wider")).toDF("doc_id", "text")
    val merges = Bpe.train(corpus, numMerges = 50, vocabWords = 100)
    assert(merges.nonEmpty)
    // deterministic: training twice yields the identical merge list
    assert(merges == Bpe.train(corpus, numMerges = 50, vocabWords = 100))
    val ranks = merges.map(m => (m.a, m.b) -> m.rank).toMap
    // lossless: tokens concatenate back to word + end marker, per word
    Seq("low", "lower", "newest", "wider", "unseen", "zzz").foreach { w =>
      val toks = Bpe.encodeWord(w, ranks)
      assert(toks.mkString("") == w + Bpe.EndOfWord, s"word $w -> ${toks.toSeq}")
    }
    // the most frequent word compresses to a single learned token
    assert(Bpe.encodeWord("low", ranks).length == 1)
    // full-corpus encode: counts bounded by char count, never below 1/word
    val out = Bpe.encode(corpus, merges).collect()
    assert(out.length == 3)
    out.foreach { r =>
      val nWords = corpus.filter(col("doc_id") === r.getLong(0))
        .select(size(split(col("text"), " "))).collect().head.getInt(0)
      assert(r.getInt(1) >= nWords, "at least one token per word")
    }
    // an out-of-vocab word stays multi-token (no spurious over-merging)
    assert(Bpe.encodeWord("zzz", ranks).length > 1)
  }

  test("url dedup: variants collapse into canonical URLs") {
    val out = WebOps.urlDedup(docs).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val u = r.getString(0)
      assert(!u.contains("?") && !u.contains("#") && !u.contains("www."), u)
    }
    // the planted utm/fragment/www variants collapse: some canonical
    // URL must absorb >1 distinct raw spelling
    assert(out.exists(_.getLong(2) > 1), "no variant ever collapsed")
    // dup_ct >= variant_ct always (same raw URL can recur)
    out.foreach(r => assert(r.getLong(1) >= r.getLong(2)))
  }

  test("ppl buckets: per-lang tiers partition the corpus in thirds") {
    val out = TextAnalysis.pplBuckets(docs).collect()
    assert(out.length == docs.count())
    val byLang = out.groupBy(_.getString(1))
    byLang.foreach { case (lang, rows) =>
      val n = rows.length.toDouble
      val heads = rows.count(_.getString(3) == "head") / n
      val tails = rows.count(_.getString(3) == "tail") / n
      // interpolated 33/66 cuts put roughly a third in each tier
      assert(heads > 0.2 && heads < 0.5, s"$lang head frac $heads")
      assert(tails > 0.2 && tails < 0.5, s"$lang tail frac $tails")
      // tiers are ordered: every head ppl <= every tail ppl
      val maxHead = rows.filter(_.getString(3) == "head").map(_.getDouble(2)).max
      val minTail = rows.filter(_.getString(3) == "tail").map(_.getDouble(2)).min
      assert(maxHead <= minTail, s"$lang tiers overlap")
    }
  }

  test("decontaminate strip: leaked spans excised, clean docs untouched") {
    val (corpus, bench) = DedupOps.contaminationFixture(docs)
    val planted = DedupOps.contaminationReport(corpus, bench).collect()
      .map(_.getLong(0)).toSet
    assert(planted.nonEmpty)
    val original = corpus.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    TextAnalysis.decontaminateStrip(corpus, bench).collect().foreach { r =>
      val (id, clean) = (r.getLong(0), r.getString(1))
      if (planted(id)) {
        assert(r.getLong(3) > 0, s"doc $id: leak not stripped")
        assert(clean.length < original(id).length, s"doc $id unchanged")
      } else {
        assert(r.getLong(3) == 0 && clean == original(id), s"doc $id mangled")
      }
    }
  }

  test("html extract: tags and script content gone, entities decoded") {
    Scrub.htmlExtract(docs).collect().foreach { r =>
      val (id, plain, tagCt) = (r.getLong(0), r.getString(1), r.getInt(2))
      assert(!plain.contains("<script") && !plain.contains("var x ="),
        s"doc $id script content leaked")
      assert(!plain.contains("<p>") && !plain.contains("</body>"), s"doc $id")
      assert(plain.contains("home & more"), s"doc $id entity not decoded")
      if (id % 3 == 0) {
        assert(plain.contains("bold claim"), s"doc $id nbsp not decoded")
        assert(plain.contains("<tag>"), s"doc $id lt/gt not decoded")
      }
      assert(tagCt >= 10, s"doc $id tag_ct $tagCt")
      assert(!plain.contains("  "), s"doc $id whitespace not collapsed")
    }
  }

  test("sentence stats: planted punctuation segments, fragments flagged") {
    Scrub.sentenceStats(docs).collect().foreach { r =>
      val (id, ct, terminal) = (r.getLong(0), r.getLong(1), r.getBoolean(3))
      // no punctuation in the raw corpus: odd non-%5 docs are ONE
      // unterminated fragment; odd %5 docs gain one terminated tail
      // question (still one sentence); even docs split into >= 2
      if (id % 2 != 0 && id % 5 != 0) {
        assert(ct == 1 && !terminal, s"doc $id: $ct, $terminal")
      } else if (id % 2 != 0) {
        assert(ct == 1 && terminal, s"doc $id: $ct, $terminal")
      } else {
        assert(ct >= 2 && terminal, s"doc $id: $ct, $terminal")
      }
      assert(r.getDouble(2) > 0, s"doc $id mean words")
    }
  }

  test("curation v2 capstone: every stage's invariant survives composition") {
    val out = Scrub.curationV2(docs).collect()
    assert(out.nonEmpty, "capstone emptied the corpus")
    // per-host cap holds through the gate/dedup stages
    val perDomain = out.groupBy(_.getString(1)).view.mapValues(_.length)
    perDomain.foreach { case (d, n) => assert(n <= 8, s"domain $d: $n docs") }
    // greedy packing: a pack overshoots the budget by at most one doc
    out.groupBy(r => (r.getString(1), r.getLong(3))).foreach {
      case ((d, pid), rows) =>
        val tot = rows.map(_.getLong(2)).sum
        val maxDoc = rows.map(_.getLong(2)).max
        assert(tot - maxDoc < 512, s"pack $d/$pid over budget: $tot")
    }
    // kept docs all passed the gate: no doc with a failing word floor
    val gate = Scrub.gopherRules(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach(r => assert(gate(r.getLong(0)) >= 40, s"doc ${r.getLong(0)}"))
  }

  test("domain cap: at most `cap` docs kept per host, deterministically") {
    val cap = 3
    val kept = WebOps.domainCapSample(docs, cap)
    val perDomain = kept.groupBy(col("domain"))
      .agg(count(lit(1)).as("ct"), max(col("rk")).as("mx")).collect()
    assert(perDomain.nonEmpty)
    perDomain.foreach { r =>
      assert(r.getLong(1) <= cap && r.getInt(2) <= cap, r.getString(0))
    }
    // hash-rank selection is deterministic under re-execution
    assert(kept.collect().toSeq == WebOps.domainCapSample(docs, cap)
      .collect().toSeq)
    // the fixture's 13 primary hosts all appear
    assert(perDomain.length == 13)
  }

  test("span corruption: positional masks, sentinel numbering, short docs") {
    val d = Seq(
      (1L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 t11"),
      (2L, "a b c")
    ).toDF("doc_id", "text")
    val out = Sampling.spanCorruption(d)
      .as[(Long, String, String, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((
      "t1 t2 t3 t4 <extra_id_0> t6 t7 t8 t9 <extra_id_1> t11",
      "<extra_id_0> t5 <extra_id_1> t10", 2)))
    assert(out(2L) == (("a b c", "", 0)),
      "docs shorter than one stride emit an uncorrupted pair")
  }

  test("bigram LM: add-one probabilities exact; V counts 1-token docs") {
    val docs = Seq(
      (1L, "x y x y x y"), // (x,y)·3, (y,x)·2
      (2L, "x z"),         // (x,z)·1
      (3L, "w")            // contributes to V only
    ).toDF("doc_id", "text")
    val out = Retrieval.bigramLm(docs, minCount = 1)
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    // V = |{x,y,z,w}| = 4; c(x·) = 4, c(y·) = 2
    assert(out(("x", "y")) == ((3L, 0.5)),   "(3+1)/(4+4)")
    assert(out(("x", "z")) == ((1L, 0.25)),  "(1+1)/(4+4)")
    assert(out(("y", "x")) == ((2L, 0.5)),   "(2+1)/(2+4)")
    assert(out.keySet == Set(("x", "y"), ("x", "z"), ("y", "x")),
      "the 1-token doc must add no bigrams, only vocabulary")
    // per-prefix probabilities never exceed 1 even smoothed
    assert(out.values.forall(_._2 < 1.0))
  }

  test("hybrid rrf: both-lists doc beats either single-list winner") {
    val docs = Seq(
      (0L, "alpha beta gamma", "en", "t", 16L),
      (1L, "unrelated words here", "en", "t", 20L),
      (2L, "alpha beta gamma", "en", "t", 16L),
      (3L, "alpha beta zzz", "en", "t", 14L),
      (4L, "zeta eta theta", "en", "t", 14L),
      (5L, "omicron pi rho", "en", "t", 14L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val embs = Seq(
      (0L, Array(1f, 0f), 0), (1L, Array(1f, 0f), 0),
      (2L, Array(-1f, 0f), 0), (3L, Array(0.9f, 0.1f), 0),
      (4L, Array(0f, 1f), 0), (5L, Array(0f, -1f), 0))
      .toDF("vec_id", "embedding", "label")
    val out = Retrieval.hybridRrfTopK(docs, embs, queryIds = Seq(0L))
      .collect().map(r => (r.getLong(1), r.getLong(4), r.getLong(5)))
    // lex (exact copy #1, 2-of-3 terms #2): 2, 3. dense (identical
    // vec #1, near vec #2, zeros by id, negatives last): 1, 3, 4, 5, 2.
    // fusion: doc3 rides BOTH lists (16129+16129=32258) and beats
    // doc2 (lex#1 + dense#5 = 16393+15385) and doc1 (dense#1 only)
    assert(out.map(_._1).toSeq == Seq(3L, 2L, 1L, 4L, 5L), out.toSeq)
    assert(out.head._2 == 32258L && out.head._3 == 1L, out.head.toString)
    // micros are the documented 1/(60+rank) roundings
    assert(out.map(_._2).toSeq == Seq(32258L, 31778L, 16393L,
      15873L, 15625L), out.toSeq)
  }

  test("cms: width-1 degenerates to the total; wide grid stays >= exact") {
    // shingles: doc1 {"a1 b2 c3","b2 c3 d4"}, doc2 {"b2 c3 d4","c3 d4 e5"}
    // → doc-frequency counts 1, 2, 1 (per-doc distinct)
    val docs = Seq(
      (1L, "a1 b2 c3 d4", "en", "t", 11L),
      (2L, "b2 c3 d4 e5", "en", "t", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // width 1: every row hashes to cell 0, so every estimate is the
    // corpus shingle-occurrence total — a deterministic worst case
    val deg = Sketches.cmsEstimate(docs, depth = 4, width = 1, minLen = 4)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(deg == Map("a1 b2 c3" -> ((1L, 4L, 3L)),
      "b2 c3 d4" -> ((2L, 4L, 2L)), "c3 d4 e5" -> ((1L, 4L, 3L))),
      deg.toString)
    // realistic grid: exact counts pinned, over_err >= 0 (CMS can
    // only OVERcount), estimate never below truth
    val out = Sketches.cmsEstimate(docs, depth = 4, width = 512, minLen = 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(out.map(r => r._1 -> r._2).toMap ==
      Map("a1 b2 c3" -> 1L, "b2 c3 d4" -> 2L, "c3 d4 e5" -> 1L))
    assert(out.forall(r => r._4 >= 0 && r._3 == r._2 + r._4), out.toSeq)
  }

  test("kmv: below-k groups are exact; corpus estimate lands near truth") {
    val docs = Seq(
      (1L, "a b c d", "en", "t", 7L),
      (2L, "c d e", "fr", "t", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // every group (and the rollup) holds < k distinct shingle hashes:
    // the sketch IS the value set, so the estimate is the exact count.
    // "a b c d" shingles to {"a b c","b c d"}; "c d e" to {"c d e"}
    val small = Sketches.kmvDistinct(docs, k = 256).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(small == Map("en" -> ((2L, 2L)), "fr" -> ((1L, 1L)),
      "(all)" -> ((3L, 3L))), small.toString)
    // sf0.001 corpus: 3.5k–8k distinct shingles per lang engage the
    // (k−1)/θ estimator; k=256 gives σ ≈ 1/√k ≈ 6%, so ±30% is a
    // generous determinism-safe band (fixed hash family — cannot flake)
    val corpus = Sketches.kmvDistinct(Tables.documents(spark, sf0001))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(corpus.length == 6 && corpus.forall(_._2 > 256),
      s"every lang and the rollup should exceed k: ${corpus.toSeq}")
    corpus.foreach { case (g, exact, est) =>
      assert(math.abs(est - exact).toDouble / exact < 0.30,
        s"$g: est $est vs exact $exact")
    }
  }

  test("snm near-dups: adjacent normalized keys pair and verify; " +
      "cross-bucket prefixes are out of scope by construction") {
    import graft.operators.llm.DedupOps
    import spark.implicits._
    val docs = Seq(
      (1L, "Hello World Alpha", "en", "s", 17L),
      (2L, "hello, world alphaa", "en", "s", 19L),
      (3L, "hezzz unrelated text body", "en", "s", 25L),
      (4L, "aello world alpha", "en", "s", 17L), // bucket 'ae' != 'he'
      (5L, "zzz totally different", "en", "s", 21L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = DedupOps.snmNearDups(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    // only (1,2) survives: same 'he' bucket, adjacent in key order,
    // JW of helloworldalpha vs helloworldalphaa >= 0.9; doc 3 shares
    // the bucket but verifies below threshold; doc 4's near-identical
    // key lives in bucket 'ae' and is never compared
    assert(out.keySet == Set((1L, 2L)), out.keySet)
    assert(out((1L, 2L)) >= 900000L)
  }
}
