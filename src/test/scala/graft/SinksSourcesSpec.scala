package graft

import org.apache.spark.sql.functions._
import graft.core.Scratch
import graft.sinks.Sinks
import graft.sources.Sources

/** Source/sink layer (SURVEY §2.1/§2.2) — the paths runnable offline:
  * CDC envelope parsing, file-stream driving, upsert merge semantics,
  * transient-column dropping, quarantine. */
class SinksSourcesSpec extends SparkTestBase {
  import spark.implicits._

  test("S3: CDC envelope parses Maxwell-format JSON with map columns") {
    val raw = Seq(
      """{"database":"gmall","table":"order_info","type":"update","ts":"1652499176","data":{"id":"13","order_status":"1003"},"old":{"order_status":"1001"}}"""
    ).toDF("value")
    val env = Sources.cdcEnvelope(raw)
    val r = env.select("table", "type", "data", "old").collect()(0)
    assert(r.getString(0) == "order_info" && r.getString(1) == "update")
    assert(r.getMap[String, String](2)("order_status") == "1003")
    assert(r.getMap[String, String](3)("order_status") == "1001")
    assert(env.columns.contains("pt"))
  }

  test("file stream source drives the windowed agg end-to-end") {
    val dir = Scratch.dir(spark, "filestream")
    val evs = graft.core.Tables.events(spark, sf0001).limit(100)
    evs.write.parquet(s"$dir/in")
    val stream = Sources.fileStream(spark, evs.schema, s"$dir/in")
    val q = graft.streaming.StatefulStreams.windowedAgg(stream, "0 seconds")
      .writeStream.format("memory").queryName("fs_out")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    // append mode emits nothing until the watermark passes — state holds
    // the windows; completeness is proven in StreamingParitySpec. Here we
    // assert the source wiring ran a real micro-batch without error.
    assert(spark.table("fs_out").columns.toSeq ==
      Seq("stt", "edt", "event_type", "pv_ct", "val_sum"))
  }

  test("K3/K5 upsert: last-wins by pk, version-ordered, idempotent") {
    val dir = Scratch.dir(spark, "upsert") + "/store"
    val b1 = Seq(("1", "alice", 1L), ("2", "bob", 1L)).toDF("id", "name", "ver")
    Sinks.upsertParquet(b1, dir, "id", "ver")
    val b2 = Seq(("1", "alice2", 2L), ("3", "carol", 1L)).toDF("id", "name", "ver")
    Sinks.upsertParquet(b2, dir, "id", "ver")
    Sinks.upsertParquet(b2, dir, "id", "ver") // replay → idempotent
    val rows = spark.read.parquet(dir).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(rows == Map("1" -> "alice2", "2" -> "bob", "3" -> "carol"))
  }

  test("upsert version ties resolve deterministically across replays") {
    val b = Seq(("1", "payload_a", 5L), ("1", "payload_b", 5L))
      .toDF("id", "name", "ver")
    val r1 = Sinks.upsert(b, None, "id", "ver").collect()
    // repartitioned input must pick the SAME survivor (content-hash tie-break)
    val r2 = Sinks.upsert(b.repartition(7), None, "id", "ver").collect()
    assert(r1.length == 1 && r2.length == 1)
    assert(r1.head.getString(1) == r2.head.getString(1))
  }

  test("K4 batch sink drops transient columns before writing") {
    var written: Option[Seq[String]] = None
    val df = Seq((1L, "a", 0.5)).toDF("id", "payload", "internal_score")
    Sinks.batchSink(Seq("internal_score")) { b =>
      written = Some(b.columns.toSeq)
    }(df, 0L)
    assert(written.contains(Seq("id", "payload")))
  }

  test("K7 quarantine appends corrupt rows to a parquet path") {
    val dir = Scratch.dir(spark, "quarantine") + "/dirty"
    Sinks.quarantine(Seq("{bad json").toDF("value"), dir)
    Sinks.quarantine(Seq("{worse").toDF("value"), dir)
    assert(spark.read.parquet(dir).count() == 2)
  }

  test("typed beans round-trip through Dataset encoders") {
    import graft.core.Beans._
    val ds = Seq(TradeProvinceOrderWindow("2024-01-01 00:00:00",
      "2024-01-02 00:00:00", "1", "ALGERIA", 3L, 42.5, 0L)).toDS()
    val r = ds.filter(_.provinceName == "ALGERIA").collect().head
    assert(r.orderCount == 3L && r.orderAmount == 42.5)
  }
}
