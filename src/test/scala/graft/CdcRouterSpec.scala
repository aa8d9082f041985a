package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, expr}
import graft.core.Scratch
import graft.streaming.CdcRouter

/** Config-driven DIM routing (J5/K5/K6): broadcast-join routing,
  * dynamic column pruning, last-wins upsert by PK, per-table sinks. */
class CdcRouterSpec extends SparkTestBase {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private case class Cdc(source_table: String, id: String, name: String,
                         extra: String, ver: Long)

  private val config = Seq(
    ("dim_a", "sink_a", "id,name", "id"),
    ("dim_b", "sink_b", "id,extra", "id")
  ).toDF("source_table", "sink_table", "sink_columns", "sink_pk")

  test("streaming fan-out: routes, prunes, upserts last-wins by pk") {
    val out = Scratch.dir(spark, "cdc_router")
    val ms = MemoryStream[(String, String, String, String, Long)]
    ms.addData(
      ("dim_a", "1", "alice", "x", 1L),
      ("dim_a", "1", "alice2", "x", 2L), // update → last-wins
      ("dim_a", "2", "bob", "x", 1L),
      ("dim_b", "9", "n", "payload", 1L),
      ("unknown", "z", "n", "x", 1L))    // unknown table → dropped
    val cdcStream = ms.toDF()
      .toDF("source_table", "id", "name", "extra", "ver")
    CdcRouter.run(spark, cdcStream, config, "source_table", "ver", out)

    val a = spark.read.parquet(s"$out/sink_a")
    assert(a.columns.toSet == Set("id", "name", "ver")) // pruned + version ("dynamic DDL")
    val rows = a.collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(rows == Map("1" -> "alice2", "2" -> "bob"))

    val b = spark.read.parquet(s"$out/sink_b")
    assert(b.columns.toSet == Set("id", "extra", "ver"))
    assert(b.count() == 1)
    assert(!new java.io.File(s"$out/unknown").exists())
  }

  test("multi-batch fan-out merges across batches; empty slice is a no-op") {
    val out = Scratch.dir(spark, "cdc_router2")
    val ms = MemoryStream[(String, String, String, String, Long)]
    val cdcStream = ms.toDF().toDF("source_table", "id", "name", "extra", "ver")
    // batch 1: rows for both tables
    ms.addData(("dim_a", "1", "alice", "x", 1L), ("dim_b", "9", "n", "p", 1L))
    CdcRouter.run(spark, cdcStream, config, "source_table", "ver", out)
    // batch 2 (separate query run): only dim_a rows — dim_b must survive
    ms.addData(("dim_a", "2", "bob", "x", 2L), ("dim_a", "1", "alice2", "x", 3L))
    CdcRouter.run(spark, cdcStream, config, "source_table", "ver", out)

    val a = spark.read.parquet(s"$out/sink_a").collect()
      .map(r => (r.getAs[String]("id"), r.getAs[String]("name"))).toMap
    assert(a == Map("1" -> "alice2", "2" -> "bob")) // merged, last-wins by ver
    assert(spark.read.parquet(s"$out/sink_b").count() == 1) // not wiped
  }

  test("fan-out wider than defaultParallelism: each store equals a " +
    "batch upsert of its own slice; two sources into one sink both land") {
    val out = Scratch.dir(spark, "cdc_router_wide")
    val n = spark.sparkContext.defaultParallelism + 2
    // dim_x shares sink_0 with dim_0: its merges must stay sequential
    val cfg = ((0 until n).map(i => (s"dim_$i", s"sink_$i", "id,name", "id")) :+
      (("dim_x", "sink_0", "id,name", "id")))
    val rows = cfg.map(_._1).zipWithIndex.flatMap { case (t, i) => Seq(
      (t, "1", s"$t-a", "x", 1L), (t, "1", s"$t-b", "x", 2L),
      (t, s"k$i", s"$t-c", "x", 1L)) }
    val ms = MemoryStream[(String, String, String, String, Long)]
    ms.addData(rows: _*)
    CdcRouter.run(spark, ms.toDF().toDF("source_table", "id", "name", "extra", "ver"),
      cfg.toDF("source_table", "sink_table", "sink_columns", "sink_pk"),
      "source_table", "ver", out)
    cfg.groupBy(_._2).foreach { case (sink, srcs) =>
      val slice = rows.filter(r => srcs.exists(_._1 == r._1))
        .map(r => (r._2, r._3, r._5)).toDF("id", "name", "ver")
      assertSameRows(spark.read.parquet(s"$out/$sink").select("id", "name", "ver"),
        graft.sinks.Sinks.upsert(slice, None, "id", "ver"))
    }
    assert(spark.read.parquet(s"$out/sink_0").count() == 3)
  }

  // ---- Debezium/Maxwell-envelope replay: delete + out-of-order ops ----

  private def envLine(table: String, op: String, ts: Long,
                      data: Map[String, String],
                      old: Map[String, String] = Map.empty): String = {
    def m(kv: Map[String, String]) =
      kv.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
    s"""{"database":"gmall","table":"$table","type":"$op","ts":"$ts",""" +
      s""""data":${m(data)},"old":${m(old)}}"""
  }

  private val envConfig = Seq(("dim_a", "sink_a", "id,name", "id"))
    .toDF("source_table", "sink_table", "sink_columns", "sink_pk")

  test("envelope replay via file stream: deletes land as tombstones, " +
    "stale pre-delete updates in later batches still lose") {
    val in = Files.createDirectories(
      java.nio.file.Paths.get(Scratch.dir(spark, "cdc_env_in"))).toString
    val out = Scratch.dir(spark, "cdc_env_out")
    def runBatch(name: String, lines: Seq[String]): Unit = {
      Files.write(java.nio.file.Paths.get(in, name),
        lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      val raw = graft.sources.Sources.fileStream(spark,
        org.apache.spark.sql.types.StructType.fromDDL("value STRING"),
        in, "text")
      CdcRouter.runEnvelope(spark,
        graft.sources.Sources.cdcEnvelope(raw), envConfig, out)
    }
    // batch 1: inserts, an update (with old image), a delete, and a
    // delete that a later batch re-inserts
    runBatch("b1.json", Seq(
      envLine("dim_a", "insert", 1, Map("id" -> "1", "name" -> "alice")),
      envLine("dim_a", "insert", 1, Map("id" -> "2", "name" -> "bob")),
      envLine("dim_a", "update", 3, Map("id" -> "1", "name" -> "alice2"),
        Map("name" -> "alice")),
      envLine("dim_a", "delete", 5, Map("id" -> "2", "name" -> "bob")),
      envLine("dim_a", "insert", 1, Map("id" -> "4", "name" -> "dave")),
      envLine("dim_a", "delete", 2, Map("id" -> "4", "name" -> "dave")),
      envLine("dim_a", "bootstrap-start", 1, Map("id" -> "99")), // unknown op → dropped
      envLine("other_table", "insert", 1, Map("id" -> "z"))))    // unrouted
    val after1 = graft.sinks.Sinks.readDim(spark, s"$out/sink_a").collect()
      .map(r => (r.getAs[String]("id"), r.getAs[String]("name"))).toMap
    assert(after1 == Map("1" -> "alice2"), s"got $after1")

    // batch 2 (checkpoint-less re-run replays b1 too — the merge is
    // idempotent): a STALE pre-delete update for id=2 (ts 4 < delete's
    // 5, out-of-order arrival) must lose to the persisted tombstone;
    // id=4's REINSERT (ts 7 > delete's 2) must win; id=3 is new
    runBatch("b2.json", Seq(
      envLine("dim_a", "update", 4, Map("id" -> "2", "name" -> "bob_stale"),
        Map("name" -> "bob")),
      envLine("dim_a", "insert", 7, Map("id" -> "4", "name" -> "dave_again")),
      envLine("dim_a", "insert", 6, Map("id" -> "3", "name" -> "carol"))))
    val after2 = graft.sinks.Sinks.readDim(spark, s"$out/sink_a").collect()
      .map(r => (r.getAs[String]("id"), r.getAs[String]("name"))).toMap
    assert(after2 == Map("1" -> "alice2", "3" -> "carol", "4" -> "dave_again"),
      s"got $after2")

    // the replayed-changelog state must equal a from-scratch batch
    // snapshot: per pk, the max-ts op wins; delete winners vanish
    val allLines = Seq("b1.json", "b2.json").flatMap(f =>
      scala.io.Source.fromFile(s"$in/$f").getLines().toSeq)
    val snap = graft.sources.Sources.cdcEnvelope(allLines.toDF("value"))
      .filter(col("table") === "dim_a" &&
        col("type").isin("insert", "update", "delete"))
      .select(col("data")("id").as("id"), col("data")("name").as("name"),
        col("ts").cast("long").as("ts"), col("type").as("op"))
      .withColumn("rn", expr(
        "row_number() over (partition by id order by ts desc, op desc)"))
      .filter(col("rn") === 1 && col("op") =!= "delete")
      .select("id", "name").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(after2 == snap, s"replayed $after2 != snapshot $snap")
  }

  test("envelope update rows carry the old image through the parse") {
    val raw = Seq(envLine("dim_a", "update", 3,
      Map("id" -> "1", "name" -> "alice2"), Map("name" -> "alice")))
      .toDF("value")
    val env = graft.sources.Sources.cdcEnvelope(raw)
    val r = env.select("old").collect().head
    assert(r.getMap[String, String](0)("name") == "alice")
  }

  test("sink_columns already containing the version column stays unambiguous") {
    val out = Scratch.dir(spark, "cdc_router3")
    val cfgWithVer = Seq(("dim_a", "sink_a", "id,name,ver", "id"))
      .toDF("source_table", "sink_table", "sink_columns", "sink_pk")
    val ms = MemoryStream[(String, String, String, String, Long)]
    val cdcStream = ms.toDF().toDF("source_table", "id", "name", "extra", "ver")
    ms.addData(("dim_a", "1", "alice", "x", 1L), ("dim_a", "1", "alice2", "x", 2L))
    CdcRouter.run(spark, cdcStream, cfgWithVer, "source_table", "ver", out)
    val a = spark.read.parquet(s"$out/sink_a")
    assert(a.columns.count(_ == "ver") == 1)
    assert(a.collect().map(r => (r.getAs[String]("id"), r.getAs[String]("name")))
      .toMap == Map("1" -> "alice2"))
  }
}
