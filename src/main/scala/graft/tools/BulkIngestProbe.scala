package graft.tools

import org.apache.spark.sql.functions._
import graft.sinks.TxLog

/** Phase-level receipt for the stage-first BULK-INGEST regimes at the
  * real probe cap (no test override): the backfill/seed path the
  * 100 TB design targets.
  *
  *  1. A >2M-row pk-unique insert-only commit: past the driver-harvest
  *     cap, uniqueness is proven by ONE exact delta-sized aggregate
  *     and the commit is a pure append — the staged files ARE the
  *     commit (one `stage+write`, no `merge+write`). Pre-r9 this
  *     batch silently took the merge branch and re-staged the whole
  *     delta: 2x write amplification.
  *  2. A >2M-row duplicate-carrying bulk commit on a fresh table: the
  *     no-holder merge fans out by ROWS (pre-r9: outFiles =
  *     max(1, hold.size) = 1 — one task, one giant file spanning the
  *     whole key space that range/bloom pruning could never skip).
  *     A point `readMayContain` after the commit shows the fan-out
  *     keeps the table prunable.
  *
  *   sbt "runMain graft.tools.BulkIngestProbe"
  */
object BulkIngestProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Sessions.local("32")
    def timed[T](tag: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[probe] $tag%-44s ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    val phases =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()
    TxLog.timedHook = (tag, s) => { phases.add((tag, s)); () }
    def drainPhases(): Seq[(String, Double)] = {
      val out = phases.toArray.map(_.asInstanceOf[(String, Double)]).toSeq
      phases.clear(); out
    }

    // ---- receipt 1: over-cap proven-unique insert-only = pure append
    val t1 = java.nio.file.Files
      .createTempDirectory("graft-bulk-probe-").toString + "/t"
    TxLog.commitUpsert(
      spark.range(10000000L, 10100000L).select(col("id").as("k"),
        lit(0L).as("ver"), (col("id") % 97).as("payload")),
      t1, "k", "ver")
    drainPhases()
    val bulk = spark.range(0L, 2500000L).select(col("id").as("k"),
      lit(1L).as("ver"), (col("id") * 2).as("payload"))
    timed("2.5M pk-unique insert-only commit (total)") {
      TxLog.commitUpsert(bulk, t1, "k", "ver", failOnDupPk = true)
    }
    val p1 = drainPhases()
    p1.foreach { case (tag, s) => println(f"[probe]   phase $tag%-24s $s%.2f s") }
    require(p1.count(_._1 == "stage+write") == 1 &&
      !p1.exists(_._1 == "merge+write"),
      s"expected pure append, got phases: ${p1.map(_._1)}")
    val files1 = TxLog.latest(spark, t1).get.files.length
    println(s"[probe] table files after bulk append: $files1 " +
      "(parallel staged files are the commit)")

    // ---- receipt 2: over-cap duplicate-carrying bulk merge fan-out
    val t2 = java.nio.file.Files
      .createTempDirectory("graft-bulk-probe-").toString + "/t"
    val dup = spark.range(0L, 2500000L).select(
      (col("id") % 1250000L).as("k"), (col("id") / 1250000L).as("ver"),
      (col("id") % 89).as("payload"))
    timed("2.5M dup-carrying bulk commit (total)") {
      TxLog.commitUpsert(dup, t2, "k", "ver")
    }
    val p2 = drainPhases()
    p2.foreach { case (tag, s) => println(f"[probe]   phase $tag%-24s $s%.2f s") }
    val files2 = TxLog.latest(spark, t2).get.files.length
    println(s"[probe] merged table files: $files2 (rows-sized fan-out; " +
      "pre-r9: 1)")
    val h42 = spark.range(42L, 43L).select(xxhash64(col("id")))
      .head().getLong(0)
    val probe = TxLog.readMayContain(spark, t2, TxLog.PkHashCol,
      Array(h42: Any))
    val touched = probe.map(_.inputFiles.length).getOrElse(0)
    println(s"[probe] point readMayContain touched $touched of $files2 files")
    TxLog.timedHook = (_, _) => ()
    spark.stop()
  }
}
