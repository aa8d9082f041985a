package graft.tools

import org.apache.spark.sql.functions._

/** Phase-level timing probe for the delta-join IVM commit path — the
  * harness behind the SCALE.md commit-cost receipts. Replays the
  * `dim_wide_join_incremental` schedule with a wall-clock line per
  * mergeBatch and one per TxLog commit phase (from `TxLog.timedHook`),
  * then a small-delta tail (1% batches) to show commit cost tracking
  * delta size, not view size.
  *
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.JoinIvmProbe"
  */
object JoinIvmProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Sessions.local("32")
    graft.sinks.TxLog.timedHook =
      (tag, s) => println(f"[txlog] $tag%-24s $s%.2f s")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val table = java.nio.file.Files
      .createTempDirectory("graft-joinivm-probe-").toString + "/join"
    val ord = graft.core.Tables.orders(spark, d).select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
    val liCols = Seq("o_orderkey", "l_linenumber", "l_partkey",
      "l_suppkey", "l_quantity", "l_extendedprice")
    val li = graft.core.Tables.lineitem(spark, d).select(
      col("l_orderkey").as("o_orderkey"), col("l_linenumber"),
      col("l_partkey"), col("l_suppkey"),
      col("l_quantity"), col("l_extendedprice"))
    def timed[T](tag: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[probe] $tag%-28s ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    // the bench schedule: thirds
    (0 until 3).foreach(i => timed(s"mergeBatch third-$i") {
      graft.streaming.JoinIndex.mergeBatch(
        ord.filter(pmod(col("o_orderkey"), lit(3)) === i),
        li.filter(pmod(col("o_orderkey") + col("l_linenumber"),
          lit(3)) === i),
        table, key = "o_orderkey", pkCols = liCols, batchId = i + 1L)
    })
    // small-delta tail A: 1%-sized UPDATE batches (existing keys —
    // re-delivered content, the holder files rewrite)
    (0 until 3).foreach(i => timed(s"mergeBatch 1pct-update-$i") {
      graft.streaming.JoinIndex.mergeBatch(
        ord.filter(pmod(col("o_orderkey"), lit(300)) === i),
        li.filter(pmod(col("o_orderkey") + col("l_linenumber"),
          lit(300)) === i),
        table, key = "o_orderkey", pkCols = liCols, batchId = i + 4L)
    })
    // small-delta tail B: 1%-sized INSERT batches (shifted keys never
    // seen — the whole view should carry by reference)
    (0 until 3).foreach(i => timed(s"mergeBatch 1pct-insert-$i") {
      val shift = 10000000L * (i + 1)
      graft.streaming.JoinIndex.mergeBatch(
        ord.filter(pmod(col("o_orderkey"), lit(300)) === i)
          .withColumn("o_orderkey", col("o_orderkey") + shift),
        li.filter(pmod(col("o_orderkey") + col("l_linenumber"),
          lit(300)) === i)
          .withColumn("o_orderkey", col("o_orderkey") + shift),
        table, key = "o_orderkey", pkCols = liCols, batchId = i + 7L)
    })
    // many-file regime: ~28 more small insert batches push the
    // accumulators past the pruned-read gate (≥32 files), then a
    // timed tail shows per-commit cost staying flat with
    // `readMayContain` active — the delta joins now probe the
    // accumulated sides' blooms with the delta keys and read only
    // holder files, the 100 TB read-side contract
    (0 until 28).foreach { i =>
      val shift = 20000000L * (i + 1)
      graft.streaming.JoinIndex.mergeBatch(
        ord.filter(pmod(col("o_orderkey"), lit(300)) === i % 3)
          .withColumn("o_orderkey", col("o_orderkey") + shift),
        li.filter(pmod(col("o_orderkey") + col("l_linenumber"),
          lit(300)) === i % 3)
          .withColumn("o_orderkey", col("o_orderkey") + shift),
        table, key = "o_orderkey", pkCols = liCols, batchId = i + 10L)
    }
    Seq("left", "right", "wide").foreach { side =>
      println(s"[probe] $side files: " + graft.sinks.TxLog
        .latest(spark, s"$table/$side").map(_.files.length).getOrElse(0))
    }
    (0 until 3).foreach(i => timed(s"mergeBatch 1pct-insert-pruned-$i") {
      val shift = 900000000L * (i + 1)
      graft.streaming.JoinIndex.mergeBatch(
        ord.filter(pmod(col("o_orderkey"), lit(300)) === i)
          .withColumn("o_orderkey", col("o_orderkey") + shift),
        li.filter(pmod(col("o_orderkey") + col("l_linenumber"),
          lit(300)) === i)
          .withColumn("o_orderkey", col("o_orderkey") + shift),
        table, key = "o_orderkey", pkCols = liCols, batchId = i + 38L)
    })
    // maintenance: compactIfNeeded folds the accumulated small-file
    // debt (the ~37 commits above left each side with 30-40 files)
    // back to a rows-sized pk layout, and the timed post-compact tail
    // shows pruned delta commits CONTINUE at flat cost — the
    // operational loop a long-lived accumulator runs forever:
    // commit smalls, compact when over the cap, keep committing
    timed("compactIfNeeded all sides") {
      Seq(("left", "o_orderkey"), ("right", "w_pk"), ("wide", "w_pk"))
        .foreach { case (side, pk) =>
          val v = graft.sinks.TxLog.compactIfNeeded(
            spark, s"$table/$side", pk, maxFiles = 24)
          println(s"[probe] compact $side -> $v, files now: " +
            graft.sinks.TxLog.latest(spark, s"$table/$side")
              .map(_.files.length).getOrElse(0))
        }
    }
    (0 until 3).foreach(i => timed(s"mergeBatch 1pct-postcompact-$i") {
      val shift = 950000000L * (i + 1)
      graft.streaming.JoinIndex.mergeBatch(
        ord.filter(pmod(col("o_orderkey"), lit(300)) === i)
          .withColumn("o_orderkey", col("o_orderkey") + shift),
        li.filter(pmod(col("o_orderkey") + col("l_linenumber"),
          lit(300)) === i)
          .withColumn("o_orderkey", col("o_orderkey") + shift),
        table, key = "o_orderkey", pkCols = liCols, batchId = i + 41L)
    })
    timed("load+count") {
      graft.streaming.JoinIndex.load(spark, table).get.count()
    }
    graft.sinks.TxLog.timedHook = (_, _) => ()
    spark.stop()
  }
}
