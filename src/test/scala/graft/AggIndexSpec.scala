package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.streaming.AggIndex

/** Incremental aggregate maintenance: the rebuild-equivalence
  * invariant (the DedupIndex / Scd2 pattern applied to rollups). */
class AggIndexSpec extends SparkTestBase {

  import spark.implicits._

  private val sums = Seq("l_quantity", "l_extendedprice")
  private val mms = Seq("l_shipdate")

  private def freshTable(tag: String): String =
    graft.core.Scratch.dir(spark, s"aggidx-$tag")

  test("3 hash-split merges == one-shot rebuild (keys straddle batches)") {
    val li = Tables.lineitem(spark, sf0001)
    val table = freshTable("split")
    (0 until 3).foreach(i => AggIndex.mergeBatch(
      li.filter(pmod(col("l_orderkey"), lit(3)) === i),
      table, "l_suppkey", sums, mms, batchId = i + 1L))
    assertSameRows(AggIndex.load(spark, table).get,
      AggIndex.partial(li, "l_suppkey", sums, mms))
  }

  test("algebraic rollup: sums of squares merge exactly, variance " +
      "numerator matches the one-shot GROUP BY") {
    val li = Tables.lineitem(spark, sf0001)
    val table = freshTable("var")
    (0 until 3).foreach(i => AggIndex.mergeBatch(
      li.filter(pmod(col("l_orderkey"), lit(3)) === i),
      table, "l_suppkey", Seq("l_quantity"), Nil, batchId = i + 1L,
      sumSqCols = Seq("l_quantity")))
    val got = AggIndex.load(spark, table).get
      .select(col("l_suppkey"),
        (col("ct") * col("sumsq_l_quantity") -
          col("sum_l_quantity") * col("sum_l_quantity")).as("var_num"))
    val want = li.groupBy("l_suppkey").agg(
      (count(lit(1)) * sum(col("l_quantity").cast("bigint") *
          col("l_quantity").cast("bigint")) -
        sum(col("l_quantity").cast("bigint")) *
          sum(col("l_quantity").cast("bigint"))).as("var_num"))
    assertSameRows(got, want)
  }

  test("replaying the last batch is a no-op (at-least-once delivery)") {
    val li = Tables.lineitem(spark, sf0001).filter(col("l_suppkey") < 10)
    val table = freshTable("replay")
    val b1 = li.filter(col("l_orderkey") % 2 === 0)
    val b2 = li.filter(col("l_orderkey") % 2 === 1)
    AggIndex.mergeBatch(b1, table, "l_suppkey", sums, mms, batchId = 1L)
    val v2 = AggIndex.mergeBatch(b2, table, "l_suppkey", sums, mms,
      batchId = 2L)
    val before = rowsOf(AggIndex.load(spark, table).get)
    // double-applying an aggregate delta would double the counts; the
    // high-water guard must make it a version-preserving no-op
    val vReplay = AggIndex.mergeBatch(b2, table, "l_suppkey", sums, mms,
      batchId = 2L)
    assert(vReplay == v2)
    assert(rowsOf(AggIndex.load(spark, table).get) == before)
  }

  test("streamed foreachBatch maintenance == batch rebuild") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val li = Tables.lineitem(spark, sf0001).filter(col("l_suppkey") < 20)
    val rows = li.select(col("l_suppkey"), col("l_quantity"),
      col("l_extendedprice"), col("l_shipdate").cast("string"))
      .as[(Long, Double, Double, String)].collect().sortBy(_._1)
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val table = freshTable("stream")
    val ms = MemoryStream[(Long, Double, Double, String)]
    val q = AggIndex.writer(
      ms.toDF().toDF("l_suppkey", "l_quantity", "l_extendedprice",
        "l_shipdate"),
      table, "l_suppkey", sums, Seq("l_shipdate")).start()
    ms.addData(b1.toSeq: _*)
    q.processAllAvailable()
    ms.addData(b2.toSeq: _*)
    q.processAllAvailable()
    q.stop()
    val expect = AggIndex.partial(
      li.withColumn("l_shipdate", col("l_shipdate").cast("string")),
      "l_suppkey", sums, Seq("l_shipdate"))
    assertSameRows(AggIndex.load(spark, table).get, expect)
  }

  test("a batch of only-new keys appends without touching old rows") {
    val table = freshTable("newkeys")
    val b1 = Seq((1L, 5.0, 10.0, "2024-01-01"),
      (1L, 3.0, 6.0, "2024-02-01")).toDF(
      "l_suppkey", "l_quantity", "l_extendedprice", "l_shipdate")
    val b2 = Seq((2L, 7.0, 14.0, "2024-03-01")).toDF(
      "l_suppkey", "l_quantity", "l_extendedprice", "l_shipdate")
    AggIndex.mergeBatch(b1, table, "l_suppkey", sums, Seq("l_shipdate"), 1L)
    AggIndex.mergeBatch(b2, table, "l_suppkey", sums, Seq("l_shipdate"), 2L)
    val out = AggIndex.load(spark, table).get
      .orderBy("l_suppkey")
      .as[(Long, Long, Long, Long, String, String)].collect().toSeq
    assert(out == Seq(
      (1L, 2L, 8L, 16L, "2024-01-01", "2024-02-01"),
      (2L, 1L, 7L, 14L, "2024-03-01", "2024-03-01")))
  }
}
