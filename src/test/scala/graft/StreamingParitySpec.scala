package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming._
import graft.operators.state.{Dedup, Sessionize}

/** Proves the streaming kernels produce the same results as their
  * deterministic batch twins on identical data (SURVEY §5: the
  * reference has no tests; we verify both forms of every stateful op).
  */
class StreamingParitySpec extends SparkTestBase {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def evs: Seq[Ev] = Seq(
    Ev(1, tsOf("2024-01-01T00:00:00Z"), 1, "view", 10.0),
    Ev(2, tsOf("2024-01-01T00:00:05Z"), 1, "view", 11.0),
    Ev(3, tsOf("2024-01-01T00:10:00Z"), 1, "click", 12.0),
    Ev(4, tsOf("2024-01-01T00:00:03Z"), 2, "view", 13.0),
    Ev(5, tsOf("2024-01-02T09:00:00Z"), 2, "view", 14.0),
    Ev(6, tsOf("2024-01-02T09:00:30Z"), 2, "purchase", 15.0),
    Ev(7, tsOf("2024-01-03T12:00:00Z"), 3, "view", 16.0))

  /** Far-future rows that only advance the watermark. */
  private def sentinel(id: Long): Ev =
    Ev(id, tsOf("2030-01-01T00:00:00Z"), 999, "sentinel", 0.0)

  test("windowed agg: streaming (append, watermark) == batch") {
    val ms = MemoryStream[Ev]
    val out = StatefulStreams.windowedAgg(ms.toDF())
    val q = out.writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    ms.addData(evs: _*)
    q.processAllAvailable()
    ms.addData(sentinel(100))
    q.processAllAvailable()
    ms.addData(sentinel(101))
    q.processAllAvailable()
    q.stop()
    val streamRows = spark.table("win_out")
      .filter(col("event_type") =!= "sentinel")
    val batchRows = graft.operators.dws.TrafficWindows.keyedWindow(evs.toDF())
    assertSameRows(streamRows, batchRows)
  }

  test("first-wins dedup: streaming == batch") {
    val ms = MemoryStream[Ev]
    val q = StatefulStreams.firstWinsStream(ms.toDS()).writeStream
      .format("memory").queryName("fw_out").outputMode("append").start()
    // two batches: the second re-sends keys from the first (changelog re-emit)
    ms.addData(evs.take(4): _*)
    q.processAllAvailable()
    ms.addData(evs.drop(4): _*)
    q.processAllAvailable()
    q.stop()
    val streamRows = spark.table("fw_out")
    val batchRows = Dedup.firstWins(evs.toDF(), Seq("user_id", "event_type"),
      Seq(col("ts"), col("event_id")))
    assertSameRows(
      streamRows.select("event_id", "user_id", "event_type"),
      batchRows.select("event_id", "user_id", "event_type"))
  }

  test("windowed agg drops late rows behind the watermark") {
    val ms = MemoryStream[Ev]
    val q = StatefulStreams.windowedAgg(ms.toDF()).writeStream
      .format("memory").queryName("late_drop_out")
      .outputMode("append").start()
    ms.addData(Ev(1, tsOf("2024-01-01T00:00:01Z"), 1, "view", 10.0))
    q.processAllAvailable()
    // advance the watermark well past the first window
    ms.addData(Ev(2, tsOf("2024-01-01T01:00:00Z"), 1, "view", 1.0))
    q.processAllAvailable()
    // late row for the long-closed first window → dropped, not re-emitted
    ms.addData(Ev(3, tsOf("2024-01-01T00:00:02Z"), 1, "view", 99.0))
    q.processAllAvailable()
    ms.addData(sentinel(100)); q.processAllAvailable()
    ms.addData(sentinel(101)); q.processAllAvailable()
    q.stop()
    val firstWindow = spark.table("late_drop_out")
      .filter(col("stt") === "2024-01-01 00:00:00").collect()
    assert(firstWindow.length == 1)
    // the late 99.0 must NOT be in the first window's sum
    assert(firstWindow.head.getAs[Double]("val_sum") == 10.0)
  }

  test("first-wins state expires at TTL: key re-admitted after the watermark passes") {
    val ms = MemoryStream[Ev]
    val q = StatefulStreams.firstWinsStream(ms.toDS(), ttlSec = 3600L)
      .writeStream.format("memory").queryName("fw_ttl_out")
      .outputMode("append").start()
    ms.addData(Ev(1, tsOf("2024-01-01T00:00:00Z"), 1, "view", 1.0))
    q.processAllAvailable()
    // watermark jumps past the 1 h TTL → the (1, view) flag is dropped
    ms.addData(Ev(2, tsOf("2024-01-01T06:00:00Z"), 99, "other", 0.0))
    q.processAllAvailable()
    // same key returns after expiry → re-admitted (reference TTL semantics)
    ms.addData(Ev(3, tsOf("2024-01-01T06:00:01Z"), 1, "view", 2.0))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("fw_ttl_out").select("event_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 3L), s"got $ids")
  }

  test("bounce sessions: streaming (event-time timeout) == batch") {
    val gap = 1800L
    val ms = MemoryStream[Ev]
    val q = StatefulStreams.bounceStream(ms.toDS(), gap).writeStream
      .format("memory").queryName("sess_out").outputMode("append").start()
    ms.addData(evs.take(5): _*)
    q.processAllAvailable()
    ms.addData(evs.drop(5): _*)
    q.processAllAvailable()
    ms.addData(sentinel(100)) // advance watermark → fire timeouts
    q.processAllAvailable()
    ms.addData(sentinel(101))
    q.processAllAvailable()
    q.stop()
    val streamDaily = spark.table("sess_out")
      .filter(col("user_id") =!= 999)
      .groupBy(date_format(col("sess_start"), "yyyy-MM-dd").as("cur_date"))
      .agg(count(lit(1)).as("session_ct"),
        sum(when(col("bounce"), 1L).otherwise(0L)).as("bounce_ct"),
        sum(col("ev_ct")).as("event_ct"))
    val batchDaily = Sessionize.bounceSessions(evs.toDF(), gap)
    assertSameRows(streamDaily, batchDaily.drop("__ignore"))
  }

  test("last-wins dedup: streaming (timeout flush) == batch") {
    val ms = MemoryStream[Ev]
    val q = StatefulStreams.lastWinsStream(ms.toDS()).writeStream
      .format("memory").queryName("lw_out").outputMode("append").start()
    ms.addData(evs.take(4): _*)
    q.processAllAvailable()
    ms.addData(evs.drop(4): _*)
    q.processAllAvailable()
    ms.addData(sentinel(100)) // advance watermark → flush all keys
    q.processAllAvailable()
    ms.addData(sentinel(101))
    q.processAllAvailable()
    q.stop()
    // Like the reference (timer flush, DwsTradePaymentSucWindow.java:102),
    // the stream emits once per quiet period per key; the changelog
    // contract (K3+A8) is that DOWNSTREAM last-wins resolves to the same
    // final row as the batch twin:
    val streamResolved = Dedup.lastWins(
      spark.table("lw_out").filter(col("user_id") =!= 999),
      Seq("user_id", "event_type"),
      Seq(col("ts").desc, col("event_id").desc))
    val batchRows = Dedup.lastWins(evs.toDF(), Seq("user_id", "event_type"),
      Seq(col("ts").desc, col("event_id").desc))
    assertSameRows(
      streamResolved.select("event_id", "user_id", "event_type"),
      batchRows.select("event_id", "user_id", "event_type"))
  }

  test("stream-stream interval join == batch interval join") {
    val msL = MemoryStream[Ev]
    val msR = MemoryStream[Ev]
    val joined = StatefulStreams.streamStreamIntervalJoin(
      msL.toDF().filter(col("event_type") === "signup"),
      msR.toDF().filter(col("event_type") === "purchase"))
    val q = joined.select("signup_id", "purchase_id", "user_id")
      .writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    val data = Seq(
      Ev(1, tsOf("2024-01-01T00:00:00Z"), 1, "signup", 0),
      Ev(2, tsOf("2024-01-01T00:30:00Z"), 1, "purchase", 5), // within 1 h
      Ev(3, tsOf("2024-01-01T02:00:00Z"), 1, "purchase", 5), // outside
      Ev(4, tsOf("2024-01-01T00:10:00Z"), 2, "signup", 0),   // no purchase
      Ev(5, tsOf("2024-01-01T01:00:00Z"), 3, "purchase", 5)) // no signup
    msL.addData(data: _*)
    msR.addData(data: _*)
    q.processAllAvailable()
    q.stop()
    val streamRows = spark.table("ssj_out")
    val batchRows = graft.operators.dwd.Joins.intervalJoin(data.toDF())
      .select("signup_id", "purchase_id", "user_id")
    assertSameRows(streamRows, batchRows)
  }

  test("stream-stream LEFT OUTER join: unmatched left null-pads at state expiry") {
    val msL = MemoryStream[Ev]
    val msR = MemoryStream[Ev]
    val joined = StatefulStreams.streamStreamLeftOuterJoin(
      msL.toDF().filter(col("event_type") === "signup"),
      msR.toDF().filter(col("event_type") === "purchase"))
    val q = joined.select("signup_id", "purchase_id", "user_id")
      .writeStream.format("memory").queryName("ssloj_out")
      .outputMode("append").start()
    val data = Seq(
      Ev(1, tsOf("2024-01-01T00:00:00Z"), 1, "signup", 0),
      Ev(2, tsOf("2024-01-01T00:30:00Z"), 1, "purchase", 5), // within 1 h
      Ev(3, tsOf("2024-01-01T02:00:00Z"), 1, "purchase", 5), // outside
      Ev(4, tsOf("2024-01-01T00:10:00Z"), 2, "signup", 0),   // no purchase
      Ev(5, tsOf("2024-01-01T01:00:00Z"), 3, "purchase", 5)) // no signup
    msL.addData(data: _*)
    msR.addData(data: _*)
    q.processAllAvailable()
    // the unmatched left row (signup 4) emits only once the watermark
    // passes its join range — advance it on both sides with sentinels
    // that SURVIVE the event_type filters (user 999, excluded below)
    def wmL(id: Long) = Ev(id, tsOf("2030-01-01T00:00:00Z"), 999, "signup", 0)
    def wmR(id: Long) = Ev(id, tsOf("2030-01-01T00:00:00Z"), 999, "purchase", 0)
    msL.addData(wmL(100)); msR.addData(wmR(101))
    q.processAllAvailable()
    msL.addData(wmL(102)); msR.addData(wmR(103))
    q.processAllAvailable()
    q.stop()
    val streamRows = spark.table("ssloj_out")
      .filter(col("user_id") =!= 999)
    // batch twin: same key + range condition, left_outer
    val signups = data.toDF().filter(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"), col("user_id"),
        col("ts").as("signup_ts"))
    val purchases = data.toDF().filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
    val batchRows = signups.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") > col("signup_ts") &&
        col("purchase_ts") <= col("signup_ts") + expr("INTERVAL 3600 SECONDS"),
      "left_outer")
      .select("signup_id", "purchase_id", "user_id")
    // signup 4 must be present with a null purchase_id in BOTH forms
    assert(batchRows.filter(col("signup_id") === 4 &&
      col("purchase_id").isNull).count() == 1)
    assertSameRows(streamRows, batchRows)
  }

  test("checkpoint restart is exactly-once with an idempotent sink") {
    val base = graft.core.Scratch.dir(spark, "eo")
    val evs = this.evs
    evs.take(4).toDF().write.parquet(s"$base/in/chunk=1")
    def runOnce(): Unit = {
      val stream = graft.sources.Sources.fileStream(
        spark, evs.toDF().schema, s"$base/in")
      val q = stream.writeStream
        .option("checkpointLocation", s"$base/ckpt")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          graft.sinks.Sinks.upsertParquet(
            b.withColumn("ver", lit(1L)), s"$base/out", "event_id", "ver")
        }
        .start()
      q.processAllAvailable()
      q.stop()
    }
    runOnce()
    assert(spark.read.parquet(s"$base/out").count() == 4)
    evs.drop(4).toDF().write.parquet(s"$base/in/chunk=2")
    runOnce() // restart from checkpoint: only the new chunk processes
    val out = spark.read.parquet(s"$base/out")
    assert(out.count() == evs.size)
    assert(out.select("event_id").distinct().count() == evs.size)
  }

  test("visit flags: streaming == batch first-day semantics") {
    val ms = MemoryStream[Ev]
    val q = StatefulStreams.visitFlagsStream(ms.toDS()).writeStream
      .format("memory").queryName("vf_out").outputMode("append").start()
    ms.addData(evs.take(3): _*)
    q.processAllAvailable()
    ms.addData(evs.drop(3): _*)
    q.processAllAvailable()
    q.stop()
    val streamDaily = spark.table("vf_out")
      .groupBy("cur_date")
      .agg(count(lit(1)).as("uu_ct"), sum(col("is_new")).as("new_uu_ct"))
    val batchDaily = graft.operators.state.VisitFlags.firstPerDayFlags(evs.toDF())
    assertSameRows(streamDaily, batchDaily)
  }

  test("late-row split: beyond-watermark rows are tagged, not dropped") {
    val ms = MemoryStream[Ev]
    val q = StatefulStreams.lateRowSplit(ms.toDS()).writeStream
      .format("memory").queryName("late_out").outputMode("append").start()
    // batch 1 advances the watermark to 09:59:58 (10:00:00 - 2 s)
    ms.addData(
      Ev(1, tsOf("2024-01-01T09:00:00Z"), 1, "view", 1.0),
      Ev(2, tsOf("2024-01-01T10:00:00Z"), 1, "view", 1.0))
    q.processAllAvailable()
    // batch 2: one genuinely late row, one on-time row
    ms.addData(
      Ev(3, tsOf("2024-01-01T08:00:00Z"), 1, "view", 1.0),
      Ev(4, tsOf("2024-01-01T10:30:00Z"), 2, "view", 1.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("late_out").collect()
      .map(r => r.getLong(0) -> r.getBoolean(5)).toMap
    // every row survives; only the beyond-watermark one is tagged —
    // the reference's sideOutputLateData vs Spark's silent drop
    assert(out == Map(1L -> false, 2L -> false, 3L -> true, 4L -> false), out)
  }

  test("unique-visitor detail: streaming (session + day state) == batch") {
    val rows = Seq(
      Ev(1, tsOf("2024-01-01T00:00:00Z"), 1, "view", 1.0),  // day1 start -> emit
      Ev(2, tsOf("2024-01-01T00:10:00Z"), 1, "view", 1.0),  // same session
      Ev(3, tsOf("2024-01-01T01:00:00Z"), 1, "click", 1.0), // new session, same day
      Ev(4, tsOf("2024-01-02T09:00:00Z"), 1, "view", 1.0),  // day2 start -> emit
      Ev(5, tsOf("2024-01-01T03:00:00Z"), 2, "view", 1.0),  // day1 start -> emit
      Ev(6, tsOf("2024-01-01T03:05:00Z"), 2, "purchase", 1.0)) // not a page view
    val ms = MemoryStream[Ev]
    val q = StatefulStreams.uniqueVisitorDetailStream(ms.toDS()).writeStream
      .format("memory").queryName("uvd_out").outputMode("append").start()
    ms.addData(rows: _*)
    q.processAllAvailable()
    q.stop()
    val streamRows = spark.table("uvd_out")
    val batchRows = graft.operators.dwd.DwdApps.uniqueVisitorDetail(rows.toDF())
    assertSameRows(streamRows, batchRows)
  }

  test("cart-add UU window: streaming (chained dedup + window) == batch") {
    // click rows arrive in (ts, event_id) order so the stream's
    // first-arrival dedup survivor matches the batch total order
    val rows = Seq(
      Ev(1, tsOf("2024-01-01T00:00:01Z"), 1, "click", 1.0),
      Ev(2, tsOf("2024-01-01T00:00:02Z"), 1, "click", 1.0), // same-day dup
      Ev(3, tsOf("2024-01-01T00:00:03Z"), 2, "click", 1.0),
      Ev(4, tsOf("2024-01-01T00:00:11Z"), 3, "click", 1.0),
      Ev(5, tsOf("2024-01-01T00:00:12Z"), 1, "view", 1.0),  // not a cart add
      Ev(6, tsOf("2024-01-02T09:00:00Z"), 1, "click", 1.0)) // next day re-adds
    val ms = MemoryStream[Ev]
    val q = StatefulStreams.cartAddUuStream(ms.toDF()).writeStream
      .format("memory").queryName("cart_uu_out").outputMode("append").start()
    ms.addData(rows: _*)
    q.processAllAvailable()
    // the watermark column is assigned after the click filter, so the
    // sentinel must BE a click to advance it; its own far-future window
    // never closes, so it cannot leak into the append output
    ms.addData(Ev(100, tsOf("2030-01-01T00:00:00Z"), 999, "click", 0.0))
    q.processAllAvailable()
    ms.addData(Ev(101, tsOf("2030-01-02T00:00:00Z"), 999, "click", 0.0))
    q.processAllAvailable()
    q.stop()
    val streamRows = spark.table("cart_uu_out").filter(col("stt") < "2029")
    val batchRows = graft.operators.dws.DwsApps.cartAddUuWindow(rows.toDF())
    assertSameRows(streamRows, batchRows)
  }

  test("traffic union window: streaming (3-way union, 14s watermark) == batch") {
    def row(vc: String, ch: String, iso: String, uv: Long, sv: Long,
            pv: Long, dur: Double, uj: Long) =
      TrafficUnionRow(vc, ch, "1", "0", tsOf(iso), uv, sv, pv, dur, uj)
    val uvRows = Seq(
      row("v1", "view", "2024-01-01T00:00:01Z", 1, 0, 0, 0.0, 0),
      row("v2", "view", "2024-01-01T00:00:12Z", 1, 0, 0, 0.0, 0))
    val ujRows = Seq(
      row("v1", "view", "2024-01-01T00:00:03Z", 0, 0, 0, 0.0, 1))
    val pageRows = Seq(
      row("v1", "view", "2024-01-01T00:00:01Z", 0, 1, 1, 5.0, 0),
      row("v1", "view", "2024-01-01T00:00:03Z", 0, 0, 1, 7.5, 0),
      row("v2", "view", "2024-01-01T00:00:12Z", 0, 1, 1, 2.25, 0))
    val (msUv, msUj, msPage) =
      (MemoryStream[TrafficUnionRow], MemoryStream[TrafficUnionRow],
        MemoryStream[TrafficUnionRow])
    val out = StatefulStreams.trafficUnionStream(
      msUv.toDF(), msUj.toDF(), msPage.toDF())
    val q = out.writeStream.format("memory").queryName("tu_out")
      .outputMode("append").start()
    msUv.addData(uvRows: _*); msUj.addData(ujRows: _*); msPage.addData(pageRows: _*)
    q.processAllAvailable()
    // advance the watermark past every window end on ALL branches (the
    // union's watermark is the min over its inputs)
    val s = row("vs", "sentinel", "2030-01-01T00:00:00Z", 0, 0, 0, 0.0, 0)
    msUv.addData(s); msUj.addData(s); msPage.addData(s)
    q.processAllAvailable()
    msUv.addData(s); msUj.addData(s); msPage.addData(s)
    q.processAllAvailable()
    q.stop()
    val streamRows = spark.table("tu_out").filter(col("ch") =!= "sentinel")
    val batchRows = graft.operators.dws.ComposedJobs.trafficUnionWindow(
      (uvRows ++ ujRows ++ pageRows).toDF())
    assertSameRows(streamRows, batchRows)
  }

  test("scrub family streams stateless: PII + normalize probes == batch") {
    // the scrub projections are stateless, so the SAME expression tree
    // runs under a streaming plan unchanged — no watermark, no state
    import graft.operators.llm.Scrub
    val docs = graft.core.Tables.documents(spark, sf0001).limit(60)
      .select("doc_id", "text", "lang", "source", "n_chars")
    val typed = docs.as[(Long, String, String, String, Long)].collect().toSeq
    val ms = MemoryStream[(Long, String, String, String, Long)]
    val streamDocs = ms.toDF()
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val q1 = Scrub.redactPiiProject(streamDocs).writeStream
      .format("memory").queryName("scrub_pii").outputMode("append").start()
    val q2 = Scrub.normalizeTextProject(streamDocs).writeStream
      .format("memory").queryName("scrub_norm").outputMode("append").start()
    ms.addData(typed: _*)
    q1.processAllAvailable(); q2.processAllAvailable()
    q1.stop(); q2.stop()
    assertSameRows(spark.table("scrub_pii"), Scrub.redactPii(docs))
    assertSameRows(spark.table("scrub_norm"), Scrub.normalizeText(docs))
  }

  test("BPE encode streams against a batch-trained merges table == batch") {
    import graft.operators.llm.Bpe
    val docs = graft.core.Tables.documents(spark, sf0001).limit(80)
      .select("doc_id", "text")
    // train offline on the batch corpus, encode the stream with the
    // broadcast ranks — the production tokenizer split
    val merges = Bpe.train(graft.core.Tables.documents(spark, sf0001))
    val typed = docs.as[(Long, String)].collect().toSeq
    val ms = MemoryStream[(Long, String)]
    val q = Bpe.encodeProject(ms.toDF().toDF("doc_id", "text"), merges)
      .writeStream.format("memory").queryName("bpe_stream")
      .outputMode("append").start()
    ms.addData(typed: _*)
    q.processAllAvailable()
    q.stop()
    assertSameRows(spark.table("bpe_stream"), Bpe.encode(docs, merges))
  }

  test("as-of attribution: ValueState across batches == batch as-of join") {
    val data = Seq(
      Ev(1, tsOf("2024-01-01T00:00:01Z"), 1, "click", 1.0),
      Ev(2, tsOf("2024-01-01T00:00:02Z"), 1, "purchase", 9.0), // → click 1
      Ev(3, tsOf("2024-01-01T00:00:03Z"), 1, "click", 2.0),
      Ev(4, tsOf("2024-01-01T00:00:03Z"), 1, "click", 3.0), // ts tie: 4 wins
      Ev(5, tsOf("2024-01-01T00:00:04Z"), 1, "view", 0.0), // filtered out
      // batch 2: state must carry click 4 across the batch boundary
      Ev(6, tsOf("2024-01-01T00:00:05Z"), 1, "purchase", 9.0), // → click 4
      Ev(7, tsOf("2024-01-01T00:00:06Z"), 2, "click", 5.0),
      Ev(8, tsOf("2024-01-01T00:00:06Z"), 2, "purchase", 9.0), // same-ts → 7
      Ev(9, tsOf("2024-01-01T00:00:07Z"), 3, "purchase", 9.0)) // no click
    val ms = MemoryStream[Ev]
    val q = StatefulStreams.asofAttributionStream(ms.toDS()).writeStream
      .format("memory").queryName("asof_stream").outputMode("append").start()
    ms.addData(data.take(5): _*)
    q.processAllAvailable()
    ms.addData(data.drop(5): _*)
    q.processAllAvailable()
    q.stop()
    val batch = graft.operators.dwd.AsofJoin.purchaseAttribution(data.toDF())
    assertSameRows(spark.table("asof_stream"), batch)
    // the no-click purchase must appear with a null edge, not vanish
    assert(spark.table("asof_stream")
      .filter(col("event_id") === 9 && col("asof_click_id").isNull)
      .count() == 1)
  }

  test("funnel: streamed step advances == batch funnel counts") {
    val evs = graft.core.Tables.events(spark, sf0001)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev].collect().sortBy(e => (e.ts.getTime, e.event_id))
    // (ts, event_id) sort: a same-ts tie group must never straddle the
    // batch boundary, or the stream's per-batch tie rule diverges
    val (b1, b2) = evs.splitAt(evs.length / 2)
    val ms = MemoryStream[Ev]
    val q = StatefulStreams.funnelStream(ms.toDS()).writeStream
      .format("memory").queryName("funnel_stream").outputMode("append").start()
    ms.addData(b1.toSeq: _*)
    q.processAllAvailable()
    ms.addData(b2.toSeq: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("funnel_stream")
      .groupBy("step").agg(count(lit(1)).as("users"))
    val batch = graft.operators.dws.Behavior.funnel(evs.toSeq.toDF())
      .select("step", "users")
    assertSameRows(streamed, batch)
  }

  test("rolling z-score: ring-buffer state across batches == batch window") {
    // the real weekly series: per-supplier shipped quantity — the
    // flagship query's exact input, keys straddling the batch split
    val weekly = graft.core.Tables.lineitem(spark, sf0001)
      .groupBy(col("l_suppkey"), date_trunc("week", col("l_shipdate")).as("wk"))
      .agg(sum(col("l_quantity").cast("bigint")).as("qty"))
    val pts = weekly.select(col("l_suppkey").as("key"), col("wk").as("ts"),
        col("qty").cast("double").as("x"))
      .as[SeriesPoint].collect().sortBy(p => (p.ts.getTime, p.key))
    val (b1, b2) = pts.splitAt(pts.length / 2)
    val ms = MemoryStream[SeriesPoint]
    val q = StatefulStreams.zscoreStream(ms.toDS()).writeStream
      .format("memory").queryName("zscore_stream").outputMode("append").start()
    ms.addData(b1.toSeq: _*)
    q.processAllAvailable()
    ms.addData(b2.toSeq: _*)
    q.processAllAvailable()
    q.stop()
    val batch = graft.operators.dws.AdvancedWindows
      .rollingZscore(weekly, Seq("l_suppkey"), "wk", "qty")
      .select(col("l_suppkey").as("key"), col("wk").as("ts"),
        col("qty").cast("double").as("x"), col("z"), col("is_anomaly"))
    assertSameRows(spark.table("zscore_stream"), batch)
  }

  test("transformWithState: running spend across batches == batch window") {
    // the new Spark 4 arbitrary-state API needs the RocksDB store
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      val pts = graft.core.Tables.events(spark, sf0001)
        .select(col("user_id"), col("ts"), col("event_id"),
          round(col("value") * 100).cast("bigint").as("spend_cents"))
        .as[SpendPoint].collect().sortBy(p => (p.ts.getTime, p.event_id))
      val (b1, b2) = pts.splitAt(pts.length / 2)
      val ms = MemoryStream[SpendPoint]
      val q = TwsStreams.runningSpendStream(ms.toDS()).writeStream
        .format("memory").queryName("tws_spend").outputMode("append")
        .start()
      ms.addData(b1.toSeq: _*)
      q.processAllAvailable()
      ms.addData(b2.toSeq: _*)
      q.processAllAvailable()
      q.stop()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Long.MinValue, 0)
      val batch = pts.toSeq.toDF()
        .withColumn("n_events", count(lit(1)).over(w))
        .withColumn("total_cents", sum("spend_cents").over(w))
        .select("user_id", "event_id", "n_events", "total_cents")
      assertSameRows(spark.table("tws_spend"), batch)
    } finally {
      prior match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("transformWithState timers: gap sessions == native session_window") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      val pts = graft.core.Tables.events(spark, sf0001)
        .select(col("user_id"), col("ts"), col("event_id"),
          round(col("value") * 100).cast("bigint").as("spend_cents"))
        .as[SpendPoint].collect().sortBy(p => (p.ts.getTime, p.event_id))
      val (b1, b2) = pts.splitAt(pts.length / 2)
      // sentinel far past every session's gap: advances the watermark
      // so the event-time timers of all open sessions fire
      val flush = SpendPoint(-1L,
        new java.sql.Timestamp(pts.map(_.ts.getTime).max +
          3L * 30 * 60 * 1000), -1L, 0L)
      val ms = MemoryStream[SpendPoint]
      val q = TwsStreams.gapSessionStream(
        ms.toDS().withWatermark("ts", "0 seconds")).writeStream
        .format("memory").queryName("tws_sessions").outputMode("append")
        .start()
      ms.addData(b1.toSeq: _*); q.processAllAvailable()
      ms.addData(b2.toSeq: _*); q.processAllAvailable()
      ms.addData(flush); q.processAllAvailable()
      // one more empty-ish batch so the flush batch's watermark (which
      // trails by one batch) passes the sentinel and fires the timers
      ms.addData(flush.copy(event_id = -2L)); q.processAllAvailable()
      q.stop()
      val streamed = spark.table("tws_sessions")
        .filter(col("user_id") >= 0)
      val batch = pts.toSeq.toDF()
        .groupBy(session_window(col("ts"), "30 minutes").as("w"),
          col("user_id"))
        .agg(count(lit(1)).as("ev_ct"), sum("spend_cents").as("cents"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("w.end").as("session_end"), col("ev_ct"), col("cents"))
      assertSameRows(streamed, batch)
    } finally {
      prior match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("transformWithState MapState+ListState: replay == batch windows") {
    // the replay harness manages the RocksDB provider itself
    val events = graft.core.Tables.events(spark, sf0001)
    val streamed = graft.streaming.TwsStreams.mapListReplay(spark, events)
    val wTyp = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "event_type").orderBy("ts", "event_id")
      .rowsBetween(Long.MinValue, 0)
    val w3 = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-2, 0)
    // the replay harness key-samples by SampleMod; the truth must too
    val batch = events
      .filter(pmod(col("user_id"),
        lit(graft.streaming.TwsStreams.SampleMod)) === 0)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        round(col("value") * 100).cast("bigint").as("cents"))
      .withColumn("type_total_cents", sum("cents").over(wTyp))
      .withColumn("last3_sum_cents", sum("cents").over(w3))
      .select("user_id", "event_id", "event_type",
        "type_total_cents", "last3_sum_cents")
    assertSameRows(streamed, batch)
  }

  test("retention: streamed first-of-day hits == batch cohort matrix") {
    val evs = graft.core.Tables.events(spark, sf0001)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val (b1, b2) = evs.splitAt(evs.length / 2)
    // batch retentionCohorts is horizon-UNBOUNDED; pass the stream a
    // horizon wider than the fixture's actual span so the parity claim
    // survives testdata regeneration (a default-90-day call would
    // silently drop offsets past the horizon and fail on wider data)
    val spanDays = (evs.last.ts.getTime - evs.head.ts.getTime) / 86400000L
    val ms = MemoryStream[Ev]
    val q = StatefulStreams
      .retentionStream(ms.toDS(), horizonDays = spanDays.toInt + 2)
      .writeStream
      .format("memory").queryName("ret_stream").outputMode("append").start()
    ms.addData(b1.toSeq: _*)
    q.processAllAvailable()
    ms.addData(b2.toSeq: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ret_stream")
      .groupBy("cohort_date", "day_offset")
      .agg(count(lit(1)).as("active_users"))
    val batch = graft.operators.dws.Behavior
      .retentionCohorts(evs.toSeq.toDF())
    assertSameRows(streamed, batch)
  }

  test("scd2: streamed closed intervals == batch non-current rows") {
    val versions = graft.core.Tables.orders(spark, sf0001)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderstatus"),
        col("o_orderdate"))
      .as[(Long, Long, String, java.sql.Timestamp)]
      .collect().sortBy(v => (v._4.getTime, v._2)) // (ts, version_id)
    val (b1, b2) = versions.splitAt(versions.length / 2)
    val ms = MemoryStream[(Long, Long, String, java.sql.Timestamp)]
    val q = StatefulStreams.scd2Stream(ms.toDS()).writeStream
      .format("memory").queryName("scd2_stream").outputMode("append").start()
    ms.addData(b1.toSeq: _*)
    q.processAllAvailable()
    ms.addData(b2.toSeq: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("scd2_stream").select(
      col("key"), col("version_id"), col("attr"),
      date_format(col("valid_from"), "yyyy-MM-dd").as("valid_from"),
      date_format(col("valid_to"), "yyyy-MM-dd").as("valid_to"))
    val batch = graft.operators.dim.Scd2
      .scd2Build(graft.core.Tables.orders(spark, sf0001))
      .filter(col("is_current") === 0)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderstatus"),
        col("valid_from"), col("valid_to"))
    assertSameRows(streamed, batch)
  }
}
