package graft

import graft.streaming.JoinIndex
import org.apache.spark.sql.functions._

/** Delta-join IVM semantics: K incremental batch pairs equal the
  * one-shot join; arrival order across sides is free; replays no-op. */
class JoinIndexSpec extends SparkTestBase {

  import spark.implicits._

  // orders o1..o3; o2's lineitems straddle batches, o3's lineitem
  // arrives one batch BEFORE its order row
  private val orderBatches = Seq(
    Seq((1L, 10L, "O")),
    Seq((2L, 20L, "F")),
    Seq((3L, 30L, "O")))
  private val lineBatches = Seq(
    Seq((1L, 1, 5.0), (2L, 1, 7.0), (3L, 1, 9.0)), // l for o2,o3 early
    Seq((1L, 2, 6.0)),
    Seq((2L, 2, 8.0)))

  private def odf(rows: Seq[(Long, Long, String)]) =
    rows.toDF("o_orderkey", "o_custkey", "o_orderstatus")
  private def ldf(rows: Seq[(Long, Int, Double)]) =
    rows.toDF("o_orderkey", "l_linenumber", "l_quantity")

  test("three incremental batch pairs equal the one-shot join, " +
      "including cross-batch and line-before-order rows") {
    val table = graft.core.Scratch.dir(spark, "joinidx-spec")
    (0 until 3).foreach(i => JoinIndex.mergeBatch(
      odf(orderBatches(i)), ldf(lineBatches(i)), table,
      key = "o_orderkey", pkCols = Seq("o_orderkey", "l_linenumber"),
      batchId = i + 1L))
    val got = JoinIndex.load(spark, table).get
      .select("o_orderkey", "l_linenumber", "o_custkey", "l_quantity")
      .as[(Long, Int, Long, Double)].collect().toSet
    val oneShot = odf(orderBatches.flatten)
      .join(ldf(lineBatches.flatten), "o_orderkey")
      .select("o_orderkey", "l_linenumber", "o_custkey", "l_quantity")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(got == oneShot, s"incremental $got vs one-shot $oneShot")
    assert(got.size == 5)
  }

  test("a replayed batch id is applied exactly once") {
    val table = graft.core.Scratch.dir(spark, "joinidx-spec")
    JoinIndex.mergeBatch(odf(orderBatches(0)), ldf(lineBatches(0)),
      table, "o_orderkey", Seq("o_orderkey", "l_linenumber"), 1L)
    val v1 = JoinIndex.load(spark, table).get.collect().toSet
    // same id again — must no-op even with different (late) content
    JoinIndex.mergeBatch(odf(orderBatches(1)), ldf(lineBatches(1)),
      table, "o_orderkey", Seq("o_orderkey", "l_linenumber"), 1L)
    assert(JoinIndex.load(spark, table).get.collect().toSet == v1)
  }

  test("a pk-violating right batch fails loudly instead of folding") {
    val table = graft.core.Scratch.dir(spark, "joinidx-spec")
    val dup = ldf(Seq((1L, 1, 5.0), (1L, 1, 6.0))) // same declared pk
    val e = intercept[IllegalArgumentException] {
      JoinIndex.mergeBatch(odf(orderBatches(0)), dup, table,
        "o_orderkey", Seq("o_orderkey", "l_linenumber"), 1L)
    }
    assert(e.getMessage.contains("uniquely identify"))
  }

  test("streamed side-tagged foreachBatch maintenance == one-shot join") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val table = graft.core.Scratch.dir(spark, "joinidx-spec")
    // (side, o_orderkey, o_custkey, l_linenumber, l_quantity):
    // left rows carry (key, cust), right rows (key, ln, qty)
    val ms = MemoryStream[(String, Long, Long, Int, Double)]
    val q = JoinIndex.writer(
      ms.toDF().toDF("side", "o_orderkey", "o_custkey",
        "l_linenumber", "l_quantity"),
      table, key = "o_orderkey",
      pkCols = Seq("o_orderkey", "l_linenumber"), sideCol = "side",
      leftCols = Seq("o_orderkey", "o_custkey"),
      rightCols = Seq("o_orderkey", "l_linenumber", "l_quantity"))
      .start()
    // batch 1: order 1 + lines for orders 1 AND 2 (line-before-order)
    ms.addData(("L", 1L, 10L, 0, 0.0), ("R", 1L, 0L, 1, 5.0),
      ("R", 2L, 0L, 1, 7.0))
    q.processAllAvailable()
    // batch 2: order 2 arrives; its earlier line must join now
    ms.addData(("L", 2L, 20L, 0, 0.0), ("R", 1L, 0L, 2, 6.0))
    q.processAllAvailable()
    q.stop()
    val got = JoinIndex.load(spark, table).get
      .select("o_orderkey", "l_linenumber", "o_custkey", "l_quantity")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(got == Set((1L, 1, 10L, 5.0), (1L, 2, 10L, 6.0),
      (2L, 1, 20L, 7.0)), got.toString)
  }

  test("one-sided batches: rights-only then lefts-only still converge " +
      "to the one-shot join") {
    val table = graft.core.Scratch.dir(spark, "joinidx-spec")
    // batch 1 carries ONLY lineitems, batch 2 ONLY orders
    JoinIndex.mergeBatch(odf(Nil), ldf(lineBatches.flatten), table,
      "o_orderkey", Seq("o_orderkey", "l_linenumber"), 1L)
    JoinIndex.mergeBatch(odf(orderBatches.flatten), ldf(Nil), table,
      "o_orderkey", Seq("o_orderkey", "l_linenumber"), 2L)
    val got = JoinIndex.load(spark, table).get
      .select("o_orderkey", "l_linenumber", "o_custkey", "l_quantity")
      .as[(Long, Int, Long, Double)].collect().toSet
    val oneShot = odf(orderBatches.flatten)
      .join(ldf(lineBatches.flatten), "o_orderkey")
      .select("o_orderkey", "l_linenumber", "o_custkey", "l_quantity")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(got == oneShot, s"$got vs $oneShot")
  }

  // ---- probe-type contract: the file-pruning probes hash by physical
  // type, so dtype drift must fail loudly (a silent mismatch would
  // falsely CLEAR holder files — dropped join rows) and non-bloomable
  // key dtypes must skip pruning, never crash in the bloom hasher ----

  test("join-key dtype mismatch between the two deltas fails loudly") {
    val table = graft.core.Scratch.dir(spark, "joinidx-spec")
    val ordInt = Seq((1, 10L)).toDF("o_orderkey", "o_custkey") // int key
    val liLong = ldf(Seq((1L, 1, 5.0)))                        // long key
    val e = intercept[IllegalArgumentException] {
      JoinIndex.mergeBatch(ordInt, liLong, table, "o_orderkey",
        Seq("o_orderkey", "l_linenumber"), 1L)
    }
    assert(e.getMessage.contains("dtype mismatch"), e.getMessage)
  }

  test("join-key dtype drift against the stored accumulators fails " +
      "loudly instead of silently clearing holder files") {
    val table = graft.core.Scratch.dir(spark, "joinidx-spec")
    JoinIndex.mergeBatch(odf(orderBatches(0)), ldf(lineBatches(0)),
      table, "o_orderkey", Seq("o_orderkey", "l_linenumber"), 1L)
    // batch 2 switches both sides to int keys — deltas agree with
    // each other, but not with what batch 1's accumulators store
    val ordInt = Seq((2, 20L)).toDF("o_orderkey", "o_custkey")
    val liInt = Seq((2, 2, 8.0))
      .toDF("o_orderkey", "l_linenumber", "l_quantity")
    val e = intercept[IllegalArgumentException] {
      JoinIndex.mergeBatch(ordInt, liInt, table, "o_orderkey",
        Seq("o_orderkey", "l_linenumber"), 2L)
    }
    assert(e.getMessage.contains("accumulator's stored"), e.getMessage)
  }

  test("a decimal join key (not raw-bloom-probeable) skips pruning and " +
      "still converges to the one-shot join") {
    val table = graft.core.Scratch.dir(spark, "joinidx-spec")
    def dec(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("o_orderkey",
        col("o_orderkey").cast("decimal(10,2)"))
    (0 until 3).foreach(i => JoinIndex.mergeBatch(
      dec(odf(orderBatches(i))), dec(ldf(lineBatches(i))), table,
      key = "o_orderkey", pkCols = Seq("o_orderkey", "l_linenumber"),
      batchId = i + 1L))
    val got = JoinIndex.load(spark, table).get
      .select(col("o_orderkey").cast("long"), col("l_linenumber"),
        col("o_custkey"), col("l_quantity"))
      .as[(Long, Int, Long, Double)].collect().toSet
    val oneShot = odf(orderBatches.flatten)
      .join(ldf(lineBatches.flatten), "o_orderkey")
      .select("o_orderkey", "l_linenumber", "o_custkey", "l_quantity")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(got == oneShot, s"$got vs $oneShot")
  }
}
