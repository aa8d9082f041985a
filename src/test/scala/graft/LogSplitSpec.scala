package graft

import graft.streaming.LogSplit

/** BaseLogApp split semantics on reference-shaped fixtures
  * (FIXTURES.md §1.1): start/page mutual exclusion, err co-occurrence,
  * display/action explosion with context injection, dirty quarantine. */
class LogSplitSpec extends SparkTestBase {
  import spark.implicits._

  private val pageLog =
    """{"common":{"mid":"mid_1","uid":"42","vc":"v2","ch":"web","ar":"110000","is_new":"1","ba":"b","md":"m","os":"o"},
      |"page":{"page_id":"good_detail","last_page_id":"home","item":"sku_3","item_type":"sku_id","during_time":12000},
      |"displays":[{"item":"3","item_type":"sku_id","pos_id":1,"order":1},{"item":"5","item_type":"sku_id","pos_id":2,"order":2}],
      |"actions":[{"item":"3","item_type":"sku_id","action_id":"favor_add","ts":1675315200123}],
      |"ts":1675315200000}""".stripMargin.replaceAll("\n", "")

  private val startLog =
    """{"common":{"mid":"mid_2","uid":"7","vc":"v2","ch":"app","ar":"120000","is_new":"0","ba":"b","md":"m","os":"o"},
      |"start":{"entry":"icon","open_ad_id":2,"loading_time":5621},
      |"err":{"error_code":1359,"msg":"boom"},
      |"ts":1675315201000}""".stripMargin.replaceAll("\n", "")

  private val dirtyLog = """{"common":{"mid": BROKEN"""

  private def splits = LogSplit.split(LogSplit.parse(
    Seq(pageLog, startLog, dirtyLog).toDF("value")))

  test("dirty rows are quarantined, not dropped") {
    assert(splits("dirty").count() == 1)
  }

  test("null/empty/whitespace values are quarantined, never vanish") {
    // from_json("") yields a NULL struct with NO _corrupt_record, so a
    // corrupt-record-only dirty test would silently drop these rows
    val s = LogSplit.split(LogSplit.parse(
      Seq(Some(pageLog), None, Some(""), Some("   ")).toDF("value")))
    assert(s("dirty").count() == 3)
    // each bad row is in exactly one split (dirty); rows conserved
    assert(s("page").count() + s("start").count() + s("err").count() == 1)
  }

  test("page vs start mutual exclusion") {
    assert(splits("page").count() == 1)
    assert(splits("start").count() == 1)
    assert(splits("err").count() == 1) // err co-occurs with start
  }

  test("displays explode with injected context") {
    val d = splits("display").collect()
    assert(d.length == 2)
    val first = splits("display").selectExpr("common.mid", "page_id", "item").collect()
    assert(first.forall(r => r.getString(0) == "mid_1" && r.getString(1) == "good_detail"))
  }

  test("actions explode carries action_id") {
    val a = splits("action").selectExpr("action_id").collect()
    assert(a.map(_.getString(0)).toSeq == Seq("favor_add"))
  }

  test("streamed run over a file backlog writes the batch split of " +
    "every file, dirty lines included") {
    val base = graft.core.Scratch.dir(spark, "logsplit")
    val in = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(base, "in"))
    def page(mid: String, ts: Long, displays: Int, action: Boolean) = {
      val ds = (1 to displays).map(i =>
        s"""{"item":"$i","item_type":"sku_id","pos_id":$i,"order":$i}""")
      val as = if (action) Seq(
        s"""{"item":"9","item_type":"sku_id","action_id":"cart_add","ts":${ts + 5}}""")
        else Nil
      s"""{"common":{"mid":"$mid","uid":"1","vc":"v1","ch":"web","ar":"1","is_new":"0","ba":"b","md":"m","os":"o"},""" +
        s""""page":{"page_id":"home","during_time":10},""" +
        s""""displays":${ds.mkString("[", ",", "]")},""" +
        s""""actions":${as.mkString("[", ",", "]")},"ts":$ts}"""
    }
    val files = Seq(
      Seq(pageLog, startLog, dirtyLog, page("m3", 1675315202000L, 2, false)),
      Seq(page("m4", 1675315203000L, 0, true), "", "garbage",
        page("m5", 1675315204000L, 3, true), startLog))
    files.zipWithIndex.foreach { case (lines, i) =>
      java.nio.file.Files.write(in.resolve(s"f$i.json"),
        lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    LogSplit.run(spark,
      spark.readStream.option("maxFilesPerTrigger", "1").text(in.toString),
      s"$base/out")
    val want = LogSplit.split(LogSplit.parse(spark.read.text(in.toString)))
    assert(want.keySet == Set("dirty", "err", "start", "page", "display",
      "action"))
    want.foreach { case (name, df) =>
      assertSameRows(spark.read.parquet(s"$base/out/$name"), df)
    }
    assert(want("dirty").count() == 3)
    // one append per file: both files went through their own batch
    assert(new java.io.File(s"$base/out/dirty").listFiles()
      .count(_.getName.startsWith("part-")) >= files.size)
  }

  test("variantPropsAgg parses through a genuine VARIANT column and " +
    "matches the per-string get_json_object twin") {
    val events = graft.core.Tables.events(spark, sf0001)
    // the intermediate really is Spark 4's binary VariantType (the
    // parse-once contract), not a string round-trip
    import org.apache.spark.sql.functions._
    assert(events.withColumn("__v", parse_json(col("props")))
      .schema("__v").dataType.isInstanceOf[
        org.apache.spark.sql.types.VariantType])
    val twin = events
      .withColumn("__k", get_json_object(col("props"), "$.k").cast("bigint"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("ct"),
        sum(col("__k")).cast("bigint").as("k_sum"),
        min(col("__k")).as("k_min"), max(col("__k")).as("k_max"))
      .orderBy("event_type")
    assert(rowsOf(graft.functions.JsonFns.variantPropsAgg(events)) ==
      rowsOf(twin))
  }
}
