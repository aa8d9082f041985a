package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.llm.DedupOps
import graft.streaming.StreamingDedup

case class StreamDoc(doc_id: Long, text: String)
case class LangDoc(doc_id: Long, lang: String, text: String)
case class TsDoc(doc_id: Long, text: String, ts: Timestamp)

/** Ingest-time dedup: streaming probe vs batch index, and streaming
  * exact dedup. */
class StreamingDedupSpec extends SparkTestBase {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  test("inline streaming signature is bit-identical to the batch aggregate") {
    val docs = Tables.documents(spark, sf0001).limit(100)
    val batch = DedupOps.signatures(docs)
    val inline = docs
      .withColumn("hs",
        transform(DedupOps.shingles(col("text")), sh => xxhash64(sh)))
      .select(col("doc_id"), DedupOps.signatureFromHashes(col("hs")).as("sig"))
    assertSameRows(batch, inline)
  }

  test("contamination probe (stateless array form) == batch report counts") {
    val (corpus, bench) = DedupOps.contaminationFixture(
      Tables.documents(spark, sf0001))
    val batch = DedupOps.contaminationReport(corpus, bench)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val probe = graft.streaming.StreamingDedup
      .contaminationProbe(corpus, bench) // same expressions, batch frame
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(probe == batch, s"probe=$probe batch=$batch")
    assert(batch.nonEmpty)
  }

  test("near-dup probe stream flags planted near-duplicates against the index") {
    val base = Tables.documents(spark, sf0001)
    val index = StreamingDedup.bandIndex(base)
    // planted near-dups (doc_id + 1e6, ~1/15 of words dropped) arrive as the stream
    val planted = DedupOps.withNearDuplicates(base)
      .filter(col("doc_id") >= 1000000L)
      .select(col("doc_id"), col("text")).as[StreamDoc].collect().toSeq
    assert(planted.nonEmpty)
    val ms = MemoryStream[StreamDoc]
    val q = StreamingDedup.nearDupProbe(ms.toDF(), index, threshold = 0.5)
      .writeStream.format("memory").queryName("neardup_out")
      .outputMode("append").start()
    ms.addData(planted: _*)
    q.processAllAvailable()
    q.stop()
    val hits = spark.table("neardup_out")
      .groupBy(col("doc_id")).agg(collect_set(col("idx_doc_id")).as("matches"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    // every planted near-dup must match its source (doc_id - 1e6)
    planted.foreach { d =>
      assert(hits.get(d.doc_id).exists(_.contains(d.doc_id - 1000000L)),
        s"planted near-dup ${d.doc_id} not matched to ${d.doc_id - 1000000L}")
    }
  }

  test("incremental index MERGE: K commits equal a from-scratch rebuild, " +
    "re-ingest is idempotent, probes agree") {
    val dir = graft.core.Scratch.dir(spark, "dedup_index") + "/idx"
    val corpus = DedupOps.withNearDuplicates(Tables.documents(spark, sf0001))
    val batches = Seq(
      corpus.filter(col("doc_id") % 3 === 0),
      corpus.filter(col("doc_id") % 3 === 1),
      corpus.filter(col("doc_id") % 3 === 2))
    batches.zipWithIndex.foreach { case (b, i) =>
      graft.streaming.DedupIndex.appendBatch(b, dir, i + 1L)
    }
    val incr = graft.streaming.DedupIndex.loadIndex(spark, dir).get
    val rebuilt = StreamingDedup.bandIndex(corpus)
    assertSameRows(incr, rebuilt)
    // re-ingesting batch 2 at a later version replaces its rows
    // in place: the index must not change (at-least-once safety)
    graft.streaming.DedupIndex.appendBatch(batches(1), dir, 10L)
    assertSameRows(graft.streaming.DedupIndex.loadIndex(spark, dir).get,
      rebuilt)
    // and a probe against the incrementally-built index is
    // bit-identical to one against the rebuild
    val probeDocs = corpus.filter(col("doc_id") >= 1000000L)
      .select(col("doc_id"), col("text"))
    assertSameRows(
      StreamingDedup.nearDupProbe(probeDocs, incr, threshold = 0.5),
      StreamingDedup.nearDupProbe(probeDocs, rebuilt, threshold = 0.5))
  }

  test("probe agrees with the batch pair detector on the same corpus") {
    val base = Tables.documents(spark, sf0001)
    val withDups = DedupOps.withNearDuplicates(base)
    // batch detector over the full corpus
    val batchPairs = DedupOps.minhashPairs(withDups, threshold = 0.5)
      .filter(col("doc_a") < 1000000L && col("doc_b") >= 1000000L)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // streaming probe of the planted docs against the base index
    val planted = withDups.filter(col("doc_id") >= 1000000L)
      .select(col("doc_id"), col("text")).as[StreamDoc].collect().toSeq
    val ms = MemoryStream[StreamDoc]
    val q = StreamingDedup.nearDupProbe(ms.toDF(),
        StreamingDedup.bandIndex(base), threshold = 0.5)
      .writeStream.format("memory").queryName("probe_agree_out")
      .outputMode("append").start()
    ms.addData(planted: _*)
    q.processAllAvailable()
    q.stop()
    val streamPairs = spark.table("probe_agree_out")
      .select(col("idx_doc_id"), col("doc_id")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // batch (base, planted) pairs must all be found by the probe
    assert(batchPairs.subsetOf(streamPairs),
      s"missing: ${(batchPairs -- streamPairs).take(5)}")
  }

  test("line-dedup probe strips the same lines as the batch form") {
    val corpus = Seq(
      (1L, "unique alpha\nCOPYRIGHT FOOTER\nunique beta"),
      (2L, "unique gamma\nCOPYRIGHT FOOTER"),
      (3L, "COPYRIGHT FOOTER"),
      (4L, "solo line\nCOPYRIGHT FOOTER\nanother solo"))
      .toDF("doc_id", "text")
    val index = StreamingDedup.lineIndex(corpus, minRepeat = 2)
    assert(index.toSeq == Seq("COPYRIGHT FOOTER"))
    val ms = MemoryStream[StreamDoc]
    val q = StreamingDedup.lineDedupProbe(ms.toDF(), index)
      .writeStream.format("memory").queryName("linededup_out")
      .outputMode("append").start()
    ms.addData(corpus.as[StreamDoc].collect().toSeq: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("linededup_out").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3)))
      .toMap
    val batch = graft.operators.llm.TextAnalysis.lineDedup(corpus, 2)
      .collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(streamed == batch, s"stream=$streamed batch=$batch")
    // the all-boilerplate doc survives as an empty row in both forms
    assert(streamed(3L) == (("", 1L, 1L)))
  }

  test("span probe strips duplicated spans identically to batch spanDedup") {
    val phrase = "aa bb cc dd ee"
    val corpus = Seq(
      (1L, s"x1 $phrase y1"),
      (2L, s"x2 x3 $phrase"),
      (3L, "solo doc nothing repeated here at all"),
      (4L, "s t u v s t u v"),
      (5L, "aa bb cc"))
      .toDF("doc_id", "text")
    val index = StreamingDedup.spanIndex(corpus, n = 4, minRepeat = 2)
    assert(index.sorted.toSeq == Seq("aa bb cc dd", "bb cc dd ee", "s t u v"))
    val ms = MemoryStream[StreamDoc]
    val q = StreamingDedup.spanDedupProbe(ms.toDF(), index, n = 4)
      .writeStream.format("memory").queryName("spandedup_out")
      .outputMode("append").start()
    ms.addData(corpus.as[StreamDoc].collect().toSeq: _*)
    q.processAllAvailable()
    q.stop()
    def key(r: org.apache.spark.sql.Row) = r.getLong(0) ->
      ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val streamed = spark.table("spandedup_out").collect().map(key).toMap
    val batch = graft.operators.llm.TextAnalysis.spanDedup(corpus, 4, 2)
      .collect().map(key).toMap
    assert(streamed == batch, s"stream=$streamed batch=$batch")
    // the fully-self-duplicated doc empties in both forms
    assert(streamed(4L) == (("", 8L, 8L, 2L)))
  }

  test("dsir probe scores a stream count-exact and within one rounding step of batch") {
    val corpus = Tables.documents(spark, sf0001)
    val index = StreamingDedup.dsirIndex(corpus)
    assert(index.size <= 4096)
    val ms = MemoryStream[StreamDoc]
    val q = StreamingDedup.dsirScoreProbe(ms.toDF(), index)
      .writeStream.format("memory").queryName("dsir_out")
      .outputMode("append").start()
    ms.addData(corpus.select("doc_id", "text").as[StreamDoc].collect().toSeq: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("dsir_out").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val batch = graft.operators.llm.TextAnalysis.importanceScores(corpus)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(streamed.keySet == batch.keySet)
    batch.foreach { case (id, (n, score)) =>
      val (sn, sScore) = streamed(id)
      assert(sn == n, s"doc $id token count: stream $sn vs batch $n")
      // summation order differs; 6-dp weights bound drift to one
      // 4-dp rounding step
      assert(math.abs(sScore - score) <= 1e-4 + 1e-9,
        s"doc $id score: stream $sScore vs batch $score")
    }
  }

  test("classifier probe scores a stream bit-identical to the batch classifier") {
    val corpus = Tables.documents(spark, sf0001)
    val ms = MemoryStream[StreamDoc]
    val q = StreamingDedup.classifierScoreProbe(ms.toDF())
      .writeStream.format("memory").queryName("clf_out")
      .outputMode("append").start()
    ms.addData(corpus.select("doc_id", "text").as[StreamDoc].collect().toSeq: _*)
    q.processAllAvailable()
    q.stop()
    def key(r: org.apache.spark.sql.Row) = r.getLong(0) ->
      ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]),
        r.getBoolean(3)))
    val streamed = spark.table("clf_out").collect().map(key).toMap
    val batch = graft.operators.llm.TextAnalysis.classifierScore(corpus)
      .collect().map(key).toMap
    // integer weight sums are order-free and exact, so unlike the DSIR
    // probe's rounding-step bound this parity is EXACT equality
    assert(streamed == batch,
      s"stream/batch diverge: ${streamed.toSet.diff(batch.toSet).take(3)}")
  }

  test("incremental batch dedup: probe vs old index == full detector on new x old") {
    // the 100 TB operational pattern: an increment probes the EXISTING
    // corpus index instead of re-deduping everything. The probe is
    // batch-legal (plain DataFrames), so the same code path serves both.
    val all = DedupOps.withNearDuplicates(Tables.documents(spark, sf0001))
    // planted near-dups live at doc_id + 1000000 — put the originals
    // in the "old" corpus and their twins in the arriving increment
    val old = all.filter(col("doc_id") < 1000000L)
    val incoming = all.filter(col("doc_id") >= 1000000L)
    val index = StreamingDedup.bandIndex(old)
    val probed = StreamingDedup.nearDupProbe(incoming, index)
      .select(col("doc_id"), col("idx_doc_id")).distinct().collect()
      .map(r => (r.getLong(1), r.getLong(0))).toSet
    val full = DedupOps.minhashPairs(all).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter(p => p._1 < 1000000L && p._2 >= 1000000L).toSet
    assert(probed == full, s"probe=$probed full=$full")
    assert(probed.nonEmpty)
  }

  test("lm perplexity probe matches batch scoring on the same corpus") {
    val corpus = Tables.documents(spark, sf0001)
    val index = StreamingDedup.lmIndex(corpus)
    val ms = MemoryStream[StreamDoc]
    val q = StreamingDedup.lmPerplexityProbe(ms.toDF(), index)
      .writeStream.format("memory").queryName("ppl_out")
      .outputMode("append").start()
    ms.addData(corpus.select("doc_id", "text").as[StreamDoc].collect().toSeq: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ppl_out").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    val batch = graft.operators.llm.TextAnalysis.lmPerplexity(corpus)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(streamed.keySet == batch.keySet)
    batch.foreach { case (id, (n, avg, ppl)) =>
      val (sn, sAvg, sPpl) = streamed(id)
      assert(sn == n, s"doc $id bigram count: stream $sn vs batch $n")
      assert(math.abs(sAvg - avg) <= 1e-4 + 1e-9, s"doc $id avg_logp: $sAvg vs $avg")
      assert(math.abs(sPpl - ppl) <= 1e-4 + 1e-9, s"doc $id ppl: $sPpl vs $ppl")
    }
  }

  test("ppl tier router: stream buckets match batch pplBuckets") {
    import graft.operators.llm.TextAnalysis
    val corpus = Tables.documents(spark, sf0001)
    val index = StreamingDedup.lmIndex(corpus)
    val cuts = TextAnalysis.pplCutsOf(corpus).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val ms = MemoryStream[LangDoc]
    val q = StreamingDedup.pplRouteProbe(ms.toDF(), index, cuts)
      .writeStream.format("memory").queryName("route_out")
      .outputMode("append").start()
    ms.addData(corpus.select("doc_id", "lang", "text").as[LangDoc]
      .collect().toSeq: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("route_out").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(2), r.getString(3)))).toMap
    val batch = TextAnalysis.pplBuckets(corpus).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2),
        r.getString(3)))).toMap
    assert(streamed.keySet == batch.keySet)
    var borderline = 0
    batch.foreach { case (id, (lang, ppl, bucket)) =>
      val (sPpl, sBucket) = streamed(id)
      assert(math.abs(sPpl - ppl) <= 1e-4 + 1e-9, s"doc $id ppl drift")
      val (p33, p66) = cuts(lang)
      // the probe's ppl can sit one 4-dp rounding step off the batch
      // value; only a doc EXACTLY at a cut can legitimately flip tier
      if (math.abs(ppl - p33) > 2e-4 && math.abs(ppl - p66) > 2e-4)
        assert(sBucket == bucket, s"doc $id: $sBucket vs $bucket")
      else borderline += 1
    }
    assert(borderline < batch.size / 10, s"$borderline borderline docs")
  }

  test("exact ingest dedup re-admits content after the watermark drops its state") {
    val ms = MemoryStream[TsDoc]
    val q = StreamingDedup.exactIngestDedup(ms.toDF(), watermark = "10 seconds")
      .writeStream.format("memory").queryName("exact_ttl_out")
      .outputMode("append").start()
    ms.addData(TsDoc(1, "same text", tsOf("2024-01-01T00:00:00Z")))
    q.processAllAvailable()
    // advance the watermark far past the 10 s horizon → state dropped
    ms.addData(TsDoc(2, "other", tsOf("2024-01-01T01:00:00Z")))
    q.processAllAvailable()
    // identical content re-arrives after expiry → re-admitted (bounded
    // state by design; corpus-wide dedup is the batch job's duty)
    ms.addData(TsDoc(3, "same text", tsOf("2024-01-01T01:00:01Z")))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("exact_ttl_out")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L), s"kept $kept")
  }

  test("exact ingest dedup drops same-content rows within the watermark") {
    val t0 = tsOf("2024-01-01T00:00:00Z")
    val ms = MemoryStream[TsDoc]
    val q = StreamingDedup.exactIngestDedup(ms.toDF())
      .writeStream.format("memory").queryName("exact_ingest_out")
      .outputMode("append").start()
    ms.addData(
      TsDoc(1, "alpha beta gamma", t0),
      TsDoc(2, "alpha beta gamma", tsOf("2024-01-01T00:00:01Z")),
      TsDoc(3, "delta epsilon", tsOf("2024-01-01T00:00:02Z")))
    q.processAllAvailable()
    // duplicate content in a later batch, still within watermark reach
    ms.addData(TsDoc(4, "delta epsilon", tsOf("2024-01-01T00:00:03Z")))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("exact_ingest_out")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L), s"kept $kept")
  }
}
