package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.streaming.{Ev, StatefulStreams, StreamingAnn, StreamingDedup}

/** Streaming-throughput benchmark: drives the stateful kernels with the
  * built-in `rate` source at an offered load high enough to saturate
  * them, and reports the sustained rows/sec each kernel actually
  * processes (from `StreamingQueryProgress`).
  *
  * This is the streaming counterpart of `graft.Bench`: the reference is
  * a parallelism-1 Flink deployment consuming Kafka topics
  * (`BaseLogApp.java:34`), so its ceiling is one task's consumption
  * rate; these numbers show the same kernels sustaining millions of
  * rows/sec on one node — and they scale out by key, since every kernel
  * is keyed state behind a hash exchange.
  *
  * The LLM ingest probes (near-dup, ANN) are measured too: they are
  * compute-bound (64 MinHash permutations / ~1e3 64-dim cosines per
  * row), so their offered load is a fraction of the stateful kernels'.
  *
  * Env knobs: SPARK_GRAFT_STREAM_RPS (offered rows/sec, default 2M),
  * SPARK_GRAFT_PROBE_RPS / SPARK_GRAFT_ANN_RPS (offered rows/sec for
  * the near-dup / ANN probes, defaults 20k / 5k), SPARK_GRAFT_STREAM_SECS
  * (measure window per kernel, default 20), SPARK_GRAFT_CPUS (default
  * 32), SPARK_GRAFT_SF_DIR (index corpus for the probes, default sf0.1).
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val rps = sys.env.getOrElse("SPARK_GRAFT_STREAM_RPS", "2000000").toLong
    val probeRps = sys.env.getOrElse("SPARK_GRAFT_PROBE_RPS", "20000").toLong
    val annRps = sys.env.getOrElse("SPARK_GRAFT_ANN_RPS", "5000").toLong
    val secs = sys.env.getOrElse("SPARK_GRAFT_STREAM_SECS", "20").toInt
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.Sessions.local(cpus)
    import spark.implicits._

    def rate(offered: Long): DataFrame = spark.readStream.format("rate")
      .option("rowsPerSecond", offered)
      .option("numPartitions", 8)
      .load()

    // rate rows → the events-table shape the stateful kernels expect
    def events: DataFrame = rate(rps)
      .select(
        col("value").as("event_id"),
        col("timestamp").as("ts"),
        pmod(col("value"), lit(100000L)).as("user_id"),
        element_at(
          array(lit("view"), lit("cart"), lit("purchase"), lit("login")),
          (pmod(col("value"), lit(4L)) + 1).cast("int")).as("event_type"),
        (pmod(col("value"), lit(1000L)) / lit(10.0)).as("value"))

    // rate rows → synthetic 30-word documents over a 64-word vocabulary
    val vocab: Column = array((0 until 64).map(w => lit(s"tok$w")): _*)
    def docStream: DataFrame = rate(probeRps)
      .select(col("value").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(29)), i =>
          element_at(vocab,
            (pmod(xxhash64(col("value"), i), lit(64L)) + 1).cast("int"))))
          .as("text"))

    // rate rows → synthetic 64-dim query embeddings in [-1, 1)
    def embStream: DataFrame = rate(annRps)
      .select(col("value").as("query_id"),
        transform(sequence(lit(0), lit(63)), i =>
          ((pmod(xxhash64(col("value"), i), lit(1000L)).cast("double")
            / 500.0) - 1.0).cast("float")).as("q_emb"))

    // batch-built probe indexes, cached so the static join side is NOT
    // recomputed every micro-batch
    lazy val docIndex = {
      val idx = StreamingDedup.bandIndex(
        graft.core.Tables.documents(spark, sfDir)).cache()
      idx.count(); idx
    }
    lazy val (centArr, cellIdx) = {
      val emb = graft.core.Tables.embeddings(spark, sfDir)
      // one k-means run feeds both index artifacts
      val cents = graft.operators.llm.Similarity.kmeansCentroids(emb)
      val c = StreamingAnn.centroidArray(emb, centroids = Some(cents)).cache()
      val ci = StreamingAnn.cellIndex(emb, centroids = Some(cents)).cache()
      c.count(); ci.count(); (c, ci)
    }

    val kernels: Seq[(String, () => DataFrame)] = Seq(
      "windowed_agg" -> (() => StatefulStreams.windowedAgg(events)),
      "daily_uv_dedup" -> (() => StatefulStreams.dailyUvStream(events)),
      "first_wins_dedup" -> (() => StatefulStreams.firstWinsStream(events.as[Ev]).toDF),
      "last_wins_dedup" -> (() => StatefulStreams.lastWinsStream(events.as[Ev]).toDF),
      "bounce_sessions" -> (() => StatefulStreams.bounceStream(events.as[Ev]).toDF),
      // the rate stream has no 'click' type; remap cart→click so the
      // kernel's filter passes its realistic ~25% slice
      "cart_add_uu" -> (() => StatefulStreams.cartAddUuStream(
        events.withColumn("event_type",
          when(col("event_type") === "cart", "click")
            .otherwise(col("event_type"))))),
      "neardup_probe" -> (() => StreamingDedup.nearDupProbe(docStream, docIndex)),
      "contamination_probe" -> (() => StreamingDedup.contaminationProbe(
        docStream, graft.core.Tables.documents(spark, sfDir).limit(20))),
      "dsir_probe" -> (() => StreamingDedup.dsirScoreProbe(docStream,
        StreamingDedup.dsirIndex(graft.core.Tables.documents(spark, sfDir)))),
      "ppl_probe" -> (() => StreamingDedup.lmPerplexityProbe(docStream,
        StreamingDedup.lmIndex(graft.core.Tables.documents(spark, sfDir)))),
      "classifier_probe" -> (() => StreamingDedup.classifierScoreProbe(docStream)),
      "ann_probe" -> (() => StreamingAnn.probe(embStream, centArr, cellIdx)))

    val results = kernels.map { case (name, k) =>
      val q = k().writeStream.format("noop").outputMode("append").start()
      Thread.sleep(secs * 1000L)
      // sustained throughput = input rows / trigger time, skipping the
      // first batches (source ramp-up + state-store cold start) — but a
      // saturated kernel may finish few big batches in the window, so
      // always keep at least the last one
      val all = q.recentProgress.filter(_.numInputRows > 0)
      val progs = all.drop(math.min(2, math.max(all.length - 1, 0)))
      q.stop()
      val rows = progs.map(_.numInputRows).sum
      val ms = progs.map(_.durationMs.get("triggerExecution").longValue()).sum
      val rowsPerSec = if (ms > 0) rows * 1000.0 / ms else 0.0
      System.err.println(f"[stream-bench] $name%-18s ${rowsPerSec / 1e6}%.2f M rows/s over ${progs.length} batches")
      name -> rowsPerSec
    }
    val ks = results.map { case (k, v) => s""""$k":${v.round}""" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"stream_throughput","unit":"rows_per_sec","kernels":$ks,"offered_rps":$rps,"probe_rps":$probeRps,"ann_rps":$annRps,"measure_secs":$secs}""")
    spark.stop()
  }
}
