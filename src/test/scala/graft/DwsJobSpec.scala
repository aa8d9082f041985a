package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.core.{Scratch, Tables}
import graft.streaming.{DwsJob, Ev}

/** End-to-end DWS streaming job + the approx-distinct 100 TB swap. */
class DwsJobSpec extends SparkTestBase {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  test("DWS job: stream -> windowed agg -> upsert store == batch agg") {
    val base = Scratch.dir(spark, "dws")
    val store = s"$base/store"
    val ckpt = Some(s"$base/ckpt")
    val evs = Seq(
      Ev(1, tsOf("2024-01-01T00:00:01Z"), 1, "view", 10.0),
      Ev(2, tsOf("2024-01-01T00:00:04Z"), 2, "view", 20.0),
      Ev(3, tsOf("2024-01-01T00:00:11Z"), 1, "click", 5.0),
      Ev(4, tsOf("2024-01-01T00:01:00Z"), 1, "view", 2.0),
      // watermark sentinel
      Ev(99, tsOf("2030-01-01T00:00:00Z"), 999, "sentinel", 0.0))
    // two runs against one checkpoint: the restart resumes window state
    // and offsets, so windows spanning the stop/start boundary survive
    val ms = MemoryStream[Ev]
    ms.addData(evs.take(3): _*)
    DwsJob.run(spark, ms.toDF(), store, ckpt)
    ms.addData(evs.drop(3): _*)
    DwsJob.run(spark, ms.toDF(), store, ckpt)

    val got = spark.read.parquet(store)
      .filter(col("event_type") =!= "sentinel")
      .select("stt", "event_type", "pv_ct", "val_sum")
    val want = graft.operators.dws.TrafficWindows
      .keyedWindow(evs.take(4).toDF())
      .select("stt", "event_type", "pv_ct", "val_sum")
    assertSameRows(got, want)
  }

  test("end-to-end soak: file stream -> LogSplit -> window -> TxLog, restart mid-stream == batch twin") {
    val base = Scratch.dir(spark, "e2e")
    val srcDir = new java.io.File(s"$base/src"); srcDir.mkdirs()
    val store = s"$base/store"
    val ckpt = s"$base/ckpt"
    def page(vc: String, durMs: Long, tsMs: Long): String =
      s"""{"common":{"mid":"m","uid":"1","vc":"$vc","ch":"c","ar":"a","is_new":"1","ba":"b","md":"m","os":"o"},""" +
        s""""page":{"page_id":"home","last_page_id":null,"item":null,"item_type":null,"during_time":$durMs},"ts":$tsMs}"""
    val t0 = 1704067200000L // 2024-01-01T00:00:00Z
    def writeFile(name: String, lines: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(s"$srcDir/$name"),
        lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    // phase 1: two windows for v1, one dirty line (quarantined, not fatal)
    writeFile("a.txt", Seq(
      page("v1", 100, t0 + 1000), page("v1", 200, t0 + 4000),
      page("v2", 50, t0 + 11000), "{broken"))
    def stream = spark.readStream.option("maxFilesPerTrigger", "1").text(srcDir.toString)
    DwsJob.runLogPipeline(spark, stream, store, ckpt)
    // phase 2 (restart from the SAME checkpoint): more rows into an
    // already-seen window key + a far-future sentinel to flush all
    writeFile("b.txt", Seq(
      page("v1", 300, t0 + 5000), page("v2", 75, t0 + 14000)))
    writeFile("z_sentinel.txt", Seq(page("zz", 0, 1893456000000L))) // 2030
    DwsJob.runLogPipeline(spark, stream, store, ckpt)
    // a third restart with no new data must change nothing (idempotent)
    DwsJob.runLogPipeline(spark, stream, store, ckpt)

    val got = graft.sinks.TxLog.read(spark, store).get
      .filter(col("vc") =!= "zz")
      .select("stt", "vc", "pv_ct", "dur_sum")
    val want = DwsJob.logPageWindowAgg(spark.read.text(srcDir.toString))
      .filter(col("vc") =!= "zz")
      .select("stt", "vc", "pv_ct", "dur_sum")
    // the v1 window spans the stop/restart boundary (rows on both
    // sides) and must come out MERGED; both v2 rows share one window
    assert(got.count() == 2)
    assertSameRows(got, want)
  }

  test("approx_count_distinct swap stays within HLL error bound") {
    val d = sf0001
    val exact = graft.operators.dws.ProvinceOrderWindow(
      Tables.lineitem(spark, d), Tables.orders(spark, d),
      Tables.customer(spark, d), Tables.nation(spark, d))
      .select(col("stt"), col("province_name"), col("order_count"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val approx = graft.operators.dws.ProvinceOrderWindow.approx(
      Tables.lineitem(spark, d), Tables.orders(spark, d),
      Tables.customer(spark, d), Tables.nation(spark, d))
      .select(col("stt"), col("province_name"), col("order_count"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(exact.keySet == approx.keySet)
    exact.foreach { case (k, ex) =>
      val ap = approx(k)
      assert(math.abs(ap - ex) <= math.max(2.0, ex * 0.10),
        s"$k: exact=$ex approx=$ap")
    }
  }
}
