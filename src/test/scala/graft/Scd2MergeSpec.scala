package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.dim.Scd2

/** Incremental SCD2 maintenance: K TxLog merges must land on exactly
  * the table `scd2Build` produces from scratch over the union — the
  * DedupIndex rebuild-equivalence invariant, on the dim layer. */
class Scd2MergeSpec extends SparkTestBase {

  private def freshTable(tag: String): String =
    graft.core.Scratch.dir(spark, s"scd2-$tag")

  private def mergeAll(table: String,
                       batches: Seq[org.apache.spark.sql.DataFrame]): Unit =
    batches.zipWithIndex.foreach { case (b, i) =>
      Scd2.mergeVersions(b, table, mergeVersion = i + 1L)
    }

  test("3 hash-split merges == batch rebuild (keys straddle batches)") {
    val orders = Tables.orders(spark, sf0001)
    // split by orderkey hash, NOT chronologically: most customers'
    // version chains straddle batches, so nearly every merge reopens
    // closed intervals — the hard path is the common path here
    val batches = (0 until 3).map(i =>
      orders.filter(pmod(col("o_orderkey"), lit(3)) === i))
    val table = freshTable("hash")
    mergeAll(table, batches)
    assertSameRows(Scd2.loadScd2(spark, table).get,
      Scd2.scd2Build(orders))
  }

  test("reverse-chronological merges == batch rebuild (pure late data)") {
    val orders = Tables.orders(spark, sf0001)
    val cut = orders.agg(
        expr("cast(percentile_approx(o_orderdate, 0.5) as date)"))
      .head().get(0)
    val batches = Seq(
      orders.filter(col("o_orderdate") > lit(cut)),   // future first
      orders.filter(col("o_orderdate") <= lit(cut)))  // then the past
    val table = freshTable("rev")
    mergeAll(table, batches)
    assertSameRows(Scd2.loadScd2(spark, table).get,
      Scd2.scd2Build(orders))
  }

  test("re-merging a batch is a no-op (at-least-once delivery)") {
    val orders = Tables.orders(spark, sf0001)
      .filter(col("o_custkey") < 50)
    val batches = (0 until 2).map(i =>
      orders.filter(pmod(col("o_orderkey"), lit(2)) === i))
    val table = freshTable("redeliver")
    mergeAll(table, batches)
    val before = rowsOf(Scd2.loadScd2(spark, table).get)
    Scd2.mergeVersions(batches.last, table, mergeVersion = 99L)
    assert(rowsOf(Scd2.loadScd2(spark, table).get) == before)
  }

  test("streamed changelog maintenance == batch rebuild") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val orders = Tables.orders(spark, sf0001).filter(col("o_custkey") < 100)
    val versions = orders
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderstatus"),
        col("o_orderpriority"), col("o_orderdate").cast("string"))
      .as[(Long, Long, String, String, String)].collect()
      .sortBy(v => (v._5, v._2))
    val (b1, b2) = versions.splitAt(versions.length / 2)
    val table = freshTable("stream")
    val ms = MemoryStream[(Long, Long, String, String, String)]
    val q = graft.streaming.Scd2Maintenance.writer(
      ms.toDF().toDF(graft.operators.dim.Scd2.VersionCols: _*),
      table).start()
    ms.addData(b1.toSeq: _*)
    q.processAllAvailable()
    ms.addData(b2.toSeq: _*)
    q.processAllAvailable()
    q.stop()
    assertSameRows(Scd2.loadScd2(spark, table).get,
      Scd2.scd2Build(orders))
  }

  test("point-in-time lookup over the incrementally-built table") {
    val orders = Tables.orders(spark, sf0001)
    val events = Tables.events(spark, sf0001).limit(500)
    val batches = (0 until 3).map(i =>
      orders.filter(pmod(col("o_orderkey"), lit(3)) === i))
    val table = freshTable("lookup")
    mergeAll(table, batches)
    assertSameRows(
      Scd2.pointInTimeLookup(events, Scd2.loadScd2(spark, table).get),
      Scd2.pointInTimeLookup(events, Scd2.scd2Build(orders)))
  }
}
