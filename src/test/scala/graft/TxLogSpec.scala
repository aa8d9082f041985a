package graft

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.functions._
import graft.sinks.TxLog

/** ACID commit protocol of the TxLog upsert sink: snapshot isolation,
  * contiguous versions, time travel, orphan invisibility + vacuum, and
  * last-wins convergence under genuinely concurrent writers. */
class TxLogSpec extends SparkTestBase {
  import spark.implicits._

  private def freshTable(): String = graft.core.Scratch.dir(spark, "txlog")

  test("sequential upserts: contiguous versions, last-wins state, time travel") {
    val t = freshTable()
    val v1 = TxLog.commitUpsert(
      Seq((1L, 1L, "a"), (2L, 1L, "b")).toDF("k", "ver", "payload"), t, "k", "ver")
    val v2 = TxLog.commitUpsert(
      Seq((2L, 2L, "b2"), (3L, 1L, "c")).toDF("k", "ver", "payload"), t, "k", "ver")
    assert(v1 == 1L && v2 == 2L)
    val now = TxLog.read(spark, t).get.collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(now == Map(1L -> "a", 2L -> "b2", 3L -> "c"))
    // time travel: v1 predates key 3 and the key-2 update
    val asOf1 = TxLog.readVersion(spark, t, 1L).get.collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(asOf1 == Map(1L -> "a", 2L -> "b"))
  }

  test("older version wins nothing: stale batch cannot clobber a newer row") {
    val t = freshTable()
    TxLog.commitUpsert(Seq((1L, 5L, "new")).toDF("k", "ver", "payload"), t, "k", "ver")
    TxLog.commitUpsert(Seq((1L, 3L, "old")).toDF("k", "ver", "payload"), t, "k", "ver")
    val row = TxLog.read(spark, t).get.collect()
    assert(row.length == 1 && row(0).getString(2) == "new")
  }

  test("orphan data files are invisible to readers and removed by vacuum") {
    val t = freshTable()
    TxLog.commitUpsert(Seq((1L, 1L, "a")).toDF("k", "ver", "payload"), t, "k", "ver")
    // simulate a writer that crashed after staging, before its commit:
    // a data file with no manifest entry
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val orphan = new org.apache.hadoop.fs.Path(s"$t/data/cdead-part-orphan.parquet")
    Seq((99L, 9L, "ghost")).toDF("k", "ver", "payload")
      .write.parquet(s"$t/.orphan-src")
    val src = fs.listStatus(new org.apache.hadoop.fs.Path(s"$t/.orphan-src"))
      .map(_.getPath).find(_.getName.startsWith("part-")).get
    assert(fs.rename(src, orphan))
    assert(TxLog.read(spark, t).get.count() == 1) // ghost invisible
    // default grace window protects young files (an in-flight commit's
    // staged data); grace 0 is the no-active-writer cleanup
    assert(TxLog.vacuumOrphans(spark, t) == 0)
    assert(TxLog.vacuumOrphans(spark, t, graceMs = 0L) == 1)
    assert(!fs.exists(orphan))
    assert(TxLog.read(spark, t).get.count() == 1) // committed data intact
  }

  test("partitioned commits: pruned reads open only matching files, column restored") {
    val t = freshTable()
    val rows = Seq(
      (1L, 1L, "a", "2024-01-01"), (2L, 1L, "b", "2024-01-01"),
      (3L, 1L, "c", "2024-01-02"), (4L, 1L, "d", "2024-01-03"))
    TxLog.commitUpsertPartitioned(
      rows.toDF("k", "ver", "payload", "dt"), t, "k", "ver", "dt")
    // full read restores the manifest-held partition column
    val full = TxLog.read(spark, t).get
    assert(full.count() == 4)
    assert(full.filter(col("dt") === "2024-01-02").count() == 1)
    // pruned read: only the matching partition's files are even listed
    val pruned = TxLog.readPruned(spark, t, _ == "2024-01-01").get
    assert(pruned.select("k").collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 2L)))
    val files02 = TxLog.readPruned(spark, t, _ == "2024-01-02").get
      .inputFiles.toSet
    assert(pruned.inputFiles.nonEmpty && files02.nonEmpty &&
      pruned.inputFiles.toSet.intersect(files02).isEmpty)
    assert(pruned.inputFiles.length <
      TxLog.read(spark, t).get.inputFiles.length)
    // upsert across partitions: key 3 moves day, old row replaced
    TxLog.commitUpsertPartitioned(
      Seq((3L, 2L, "c2", "2024-01-05")).toDF("k", "ver", "payload", "dt"),
      t, "k", "ver", "dt")
    val after = TxLog.read(spark, t).get.collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(after(3L) == "2024-01-05" && after.size == 4)
  }

  test("file stats skipping: a range read opens only overlapping files") {
    val t = freshTable()
    val batch = (0L until 1000L).map(i => (i, 1L, s"r$i"))
      .toDF("id", "ver", "payload")
    TxLog.commitUpsert(batch, t, "id", "ver",
      statsCol = Some("id"), clusterFiles = 8)
    val full = TxLog.read(spark, t).get
    assert(full.count() == 1000)
    assert(full.inputFiles.length >= 4,
      s"range clustering should spread files, got ${full.inputFiles.length}")
    // a narrow range touches 1-2 files, not the whole table
    val pruned = TxLog.readRange(spark, t, "id", 10L, 20L).get
    assert(pruned.inputFiles.length <= 2,
      s"expected <=2 overlapping files, got ${pruned.inputFiles.length}")
    // file granularity = superset; the row filter closes the gap exactly
    assert(pruned.filter(col("id").between(10, 20)).count() == 11)
    // a re-merge commit re-harvests stats: skipping still works after it
    TxLog.commitUpsert(
      Seq((10L, 2L, "updated")).toDF("id", "ver", "payload"),
      t, "id", "ver", statsCol = Some("id"), clusterFiles = 8)
    val after = TxLog.readRange(spark, t, "id", 10L, 20L).get
    assert(after.inputFiles.length <= 2)
    val hit = after.filter(col("id") === 10L).collect()
    assert(hit.length == 1 && hit(0).getString(2) == "updated")
    // a disjoint range opens different files than the low range
    val high = TxLog.readRange(spark, t, "id", 900L, 950L).get
    assert(high.inputFiles.toSet.intersect(after.inputFiles.toSet).isEmpty)
  }

  test("empty commit with statsCol still anchors the schema") {
    val t = freshTable()
    TxLog.commitUpsert(
      Seq.empty[(Long, Long, String)].toDF("id", "ver", "payload"),
      t, "id", "ver", statsCol = Some("id"), clusterFiles = 4)
    val read = TxLog.read(spark, t)
    assert(read.isDefined, "empty committed table must read as an empty frame")
    assert(read.get.count() == 0)
    assert(read.get.columns.toSeq == Seq("id", "ver", "payload"))
    // and a later real commit range-skips normally
    TxLog.commitUpsert(
      (0L until 100L).map(i => (i, 1L, s"r$i")).toDF("id", "ver", "payload"),
      t, "id", "ver", statsCol = Some("id"), clusterFiles = 4)
    val pruned = TxLog.readRange(spark, t, "id", 0L, 10L).get
    assert(pruned.inputFiles.length < TxLog.read(spark, t).get.inputFiles.length)
  }

  test("stats-less tables never skip: readRange degrades to a full read") {
    val t = freshTable()
    TxLog.commitUpsert(
      (0L until 100L).map(i => (i, 1L, s"r$i")).toDF("id", "ver", "payload"),
      t, "id", "ver") // no statsCol: manifest has no stats fields
    val ranged = TxLog.readRange(spark, t, "id", 5L, 6L).get
    assert(ranged.inputFiles.length ==
      TxLog.read(spark, t).get.inputFiles.length)
    assert(ranged.filter(col("id").between(5, 6)).count() == 2)
  }

  test("partition pruning and stats skipping compose") {
    val t = freshTable()
    val rows = (0L until 400L).map(i =>
      (i, 1L, s"r$i", if (i % 2 == 0) "even" else "odd"))
    TxLog.commitUpsertPartitioned(rows.toDF("id", "ver", "payload", "par"),
      t, "id", "ver", "par", statsCol = Some("id"), clusterFiles = 4)
    val full = TxLog.read(spark, t).get
    assert(full.count() == 400)
    // stats prune within the partitioned layout
    val ranged = TxLog.readRange(spark, t, "id", 0L, 40L).get
    assert(ranged.inputFiles.length < full.inputFiles.length)
    assert(ranged.filter(col("id") <= 40L).count() == 41)
    // and the partition column still restores from the manifest
    assert(ranged.filter(col("par") === "even" && col("id") === 40L)
      .count() == 1)
  }

  test("partition values with Hive-escaped and '+' characters round-trip") {
    val t = freshTable()
    // ':' is Hive-percent-escaped in dir names; '+' is left literal
    // (the URLDecoder '+'→space trap); '/' must not become a path part
    val vals = Seq("a+b", "12:30", "x/y", "plain")
    TxLog.commitUpsertPartitioned(
      vals.zipWithIndex.map { case (v, i) => (i.toLong, 1L, v) }
        .toDF("k", "ver", "pv"), t, "k", "ver", "pv")
    val got = TxLog.read(spark, t).get.collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got == vals.zipWithIndex.map { case (v, i) => i.toLong -> v }.toMap)
    val plus = TxLog.readPruned(spark, t, _ == "a+b").get.collect()
    assert(plus.length == 1 && plus(0).getLong(0) == 0L)
  }

  test("partition values holding any line terminator are rejected at commit") {
    // linesIterator splits on \n AND \r: a value accepted at commit but
    // split at read would make committed data unreadable or invisible
    Seq("bad\rvalue", "bad\nvalue", "badvalue").foreach { v =>
      val t = freshTable()
      val ex = intercept[IllegalArgumentException] {
        TxLog.commitUpsertPartitioned(
          Seq((1L, 1L, v)).toDF("k", "ver", "pv"), t, "k", "ver", "pv")
      }
      assert(ex.getMessage.contains("manifest separator"))
      assert(TxLog.latest(spark, t).isEmpty) // nothing half-committed
    }
  }

  test("NULL partition value round-trips as NULL, not the Hive sentinel string") {
    val t = freshTable()
    TxLog.commitUpsertPartitioned(
      Seq((1L, 1L, "a", Some("2024-01-01")), (2L, 1L, "b", None))
        .toDF("k", "ver", "payload", "dt"), t, "k", "ver", "dt")
    val got = TxLog.read(spark, t).get.collect()
      .map(r => r.getLong(0) -> Option(r.getString(3))).toMap
    assert(got == Map(1L -> Some("2024-01-01"), 2L -> None), got.toString)
    // no row ever surfaces the sentinel as data
    assert(TxLog.read(spark, t).get
      .filter(col("dt") === "__HIVE_DEFAULT_PARTITION__").count() == 0)
    // and the pruning predicate sees null, not the sentinel: a
    // null-selecting keep finds the null partition, a value-shaped
    // keep never sees the sentinel string
    val nulls = TxLog.readPruned(spark, t, v => v == null).get.collect()
    assert(nulls.map(_.getLong(0)).toSeq == Seq(2L))
    val dated = TxLog.readPruned(spark, t,
      v => v != null && v.startsWith("2024")).get.collect()
    assert(dated.map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("checkpoint hint: after 50 commits reads resolve without listing the log") {
    val t = freshTable()
    (1 to 50).foreach { i =>
      TxLog.commitUpsert(
        Seq((i.toLong % 7, i.toLong, s"p$i")).toDF("k", "ver", "payload"),
        t, "k", "ver")
    }
    val before = TxLog.logListCount.get()
    val snap = TxLog.latest(spark, t).get
    assert(snap.version == 50L)
    assert(TxLog.read(spark, t).get.count() == 7)
    assert(TxLog.logListCount.get() == before,
      "latest() listed the log directory despite a checkpoint hint")
    // a stale hint (regressed by a racing writer) only lengthens the
    // probe: head resolution stays exact
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hint = new org.apache.hadoop.fs.Path(s"$t/_txlog/_last_checkpoint")
    val out = fs.create(hint, true)
    out.write("37".getBytes("UTF-8")); out.close()
    assert(TxLog.latest(spark, t).get.version == 50L)
    assert(TxLog.logListCount.get() == before)
    // a corrupt hint falls back to the listing path, never fails
    val out2 = fs.create(hint, true)
    out2.write("not-a-number".getBytes("UTF-8")); out2.close()
    assert(TxLog.latest(spark, t).get.version == 50L)
    assert(TxLog.logListCount.get() == before + 1)
  }

  test("concurrent writers converge: every commit lands, last-wins by version") {
    val t = freshTable()
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // 4 writers x 3 rounds, overlapping keys; version encodes global
      // recency so the expected survivor per key is the max version
      val futures = (0 until 4).map { w =>
        Future {
          (0 until 3).foreach { r =>
            val ver = (r * 4 + w + 1).toLong
            val rows = Seq((1L, ver, s"w$w-r$r"), ((w % 2) + 2L, ver, s"w$w-r$r"))
            TxLog.commitUpsert(rows.toDF("k", "ver", "payload"), t, "k", "ver")
          }
        }
      }
      Await.result(Future.sequence(futures), 5.minutes)
    } finally pool.shutdown()
    val snap = TxLog.latest(spark, t).get
    assert(snap.version == 12L, s"expected 12 commits, got ${snap.version}")
    val rows = TxLog.read(spark, t).get.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // key 1 written by every commit: survivor must carry the global max
    // version (12); keys 2/3 get the max version of their writer parity
    assert(rows(1L) == 12L, s"key 1 survivor version ${rows(1L)}")
    assert(rows(2L) == 11L && rows(3L) == 12L, rows.toString)
    // monotone history: every intermediate version is readable
    (1L to 12L).foreach { v =>
      assert(TxLog.readVersion(spark, t, v).nonEmpty, s"version $v unreadable")
    }
    // losers' abandoned files were self-cleaned or are vacuumable
    assert(TxLog.vacuumOrphans(spark, t) >= 0)
  }

  test("optimize compacts small-file debt without changing rows") {
    val t = freshTable()
    // 12 incremental upserts -> 12 commits of small files
    (0 until 12).foreach { i =>
      val rows = (0L until 50L).map(j => (i * 50L + j, 1L, s"r$i-$j"))
      TxLog.commitUpsert(rows.toDF("id", "ver", "payload"), t, "id", "ver",
        statsCol = Some("id"), clusterFiles = 4)
    }
    val before = TxLog.read(spark, t).get
    val beforeRows = before.collect().map(_.toSeq).toSet
    val v = TxLog.optimize(spark, t, targetFiles = 3).get
    assert(v == 13L, s"optimize should commit the next version, got $v")
    val after = TxLog.read(spark, t).get
    assert(after.inputFiles.length <= 3,
      s"expected <=3 compacted files, got ${after.inputFiles.length}")
    assert(after.collect().map(_.toSeq).toSet == beforeRows)
    // pre-optimize history still time-travels
    assert(TxLog.readVersion(spark, t, 12L).get.count() == 600)
    // the superseded small files are vacuumable only where unreferenced
    // by ANY manifest (they are still referenced by v<=12), so vacuum
    // removes nothing here
    assert(TxLog.vacuumOrphans(spark, t, graceMs = 0) == 0)
  }

  test("optimize z-order: every z column carries file stats and skips") {
    val t = freshTable()
    // two independent dimensions; single-column range clustering can
    // only make ONE of them skippable — z-order makes both
    val rows = for (a <- 0L until 64L; b <- 0L until 16L)
      yield (a * 16L + b, 1L, a, b)
    TxLog.commitUpsert(rows.toDF("id", "ver", "a", "b"), t, "id", "ver")
    TxLog.optimize(spark, t, zorderCols = Seq("a", "b"), targetFiles = 16).get
    val total = TxLog.read(spark, t).get.inputFiles.length
    assert(total >= 8, s"z-order should spread cells across files, got $total")
    val onA = TxLog.readRange(spark, t, "a", 0L, 3L).get
    val onB = TxLog.readRange(spark, t, "b", 0L, 1L).get
    assert(onA.inputFiles.length < total,
      s"range on a opened all $total files")
    assert(onB.inputFiles.length < total,
      s"range on b opened all $total files")
    // file granularity is a superset; the row filter closes it exactly
    assert(onA.filter(col("a") <= 3L).count() == 4 * 16)
    assert(onB.filter(col("b") <= 1L).count() == 64 * 2)
  }

  test("zorderKey: bit positions >= 32 survive (long shift, no int wrap)") {
    // 4 cols x 9 bits puts the top interleave positions at 32..35; an
    // IntegerType shiftleft masks the amount to 5 bits and would wrap
    // them onto positions 0..3, colliding e.g. rank 256 with rank 1.
    // With every column equal to the row value, rank(v) = v, so the key
    // is v's 9 bits each repeated 4x in the interleave — strictly
    // monotone in v and collision-free when the shifts are 64-bit.
    val df = (0 until 512).map(v => (v, v, v, v)).toDF("a", "b", "c", "d")
    val keys = df.withColumn("z",
        TxLog.zorderKey(df, Seq("a", "b", "c", "d"), bits = 9))
      .orderBy("a").select("z").collect().map(_.getLong(0))
    assert(keys.forall(_ >= 0L), "a >=32 position landed in the sign bit")
    // with the int-shift wrap, NO key can exceed 2^32 (positions 32..35
    // fold onto 0..3) and high ranks collide en masse with low ones;
    // approxQuantile may merge a couple of ADJACENT ranks, which is fine
    assert(keys.max > (1L << 32),
      s"top interleave bits unused — max key ${keys.max} fits in 32 bits")
    assert(keys.distinct.length >= 500,
      s"mass collisions (${keys.distinct.length}/512) — interleave bits wrapped")
    assert(keys.sameElements(keys.sorted),
      "key not monotone in the (equal-rank) row value")
  }

  test("all-row delete of a partitioned table keeps the partition column") {
    val t = freshTable()
    TxLog.commitUpsertPartitioned(
      Seq((1L, 1L, "d0", "x"), (2L, 1L, "d1", "y"))
        .toDF("id", "ver", "day", "payload"), t, "id", "ver", "day")
    TxLog.commitDelete(spark, t, lit(true)).get
    val empty = TxLog.read(spark, t).get
    assert(empty.count() == 0)
    // the stored files never held `day` (manifest-only) — the anchor
    // must restore it or the surviving schema silently shrinks
    assert(empty.columns.toSeq.sorted == Seq("day", "id", "payload", "ver"),
      s"schema lost the partition column: ${empty.columns.toSeq}")
  }

  test("copy-on-write delete: rows gone, untouched partitions carried by reference") {
    val t = freshTable()
    val rows = (0L until 300L).map(i =>
      (i, 1L, s"d${i % 3}", s"r$i")) // 3 partitions, 100 rows each
    TxLog.commitUpsertPartitioned(rows.toDF("id", "ver", "day", "payload"),
      t, "id", "ver", "day")
    val filesBefore = TxLog.readPruned(spark, t, _ == "d1").get.inputFiles.toSet
    // partition-scoped delete: only d0 files are candidates
    val v = TxLog.commitDelete(spark, t, col("day") === "d0",
      candidate = _.part.forall(_._2 == "d0")).get
    assert(v == 2L)
    val after = TxLog.read(spark, t).get
    assert(after.count() == 200)
    assert(after.filter(col("day") === "d0").count() == 0)
    // untouched partitions kept their exact files (no rewrite)
    assert(TxLog.readPruned(spark, t, _ == "d1").get.inputFiles.toSet
      == filesBefore, "untouched partition was rewritten")
    // pre-delete history still time-travels with the rows present
    assert(TxLog.readVersion(spark, t, 1L).get
      .filter(col("day") === "d0").count() == 100)
  }

  test("delete keeps NULL-predicate rows (SQL DELETE semantics) and all-row delete anchors schema") {
    val t = freshTable()
    TxLog.commitUpsert(Seq(
      (1L, 1L, "keep"), (2L, 1L, null), (3L, 1L, "drop")
    ).toDF("id", "ver", "payload"), t, "id", "ver")
    // payload = 'drop' is NULL for the null row: that row must survive
    TxLog.commitDelete(spark, t, col("payload") === "drop").get
    val left = TxLog.read(spark, t).get.collect().map(_.getLong(0)).toSet
    assert(left == Set(1L, 2L), s"expected null-predicate row kept, got $left")
    // deleting everything leaves a readable empty table with its schema
    TxLog.commitDelete(spark, t, lit(true)).get
    val empty = TxLog.read(spark, t)
    assert(empty.isDefined && empty.get.count() == 0)
    assert(empty.get.columns.toSeq == Seq("id", "ver", "payload"))
  }

  test("delete races a concurrent upsert: serial-replay semantics, nothing lost") {
    val t = freshTable()
    (0 until 6).foreach { i =>
      TxLog.commitUpsert(
        Seq((i.toLong, 1L, if (i % 2 == 0) "even" else "odd"))
          .toDF("id", "ver", "kind"), t, "id", "ver")
    }
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fDel = Future {
        TxLog.commitDelete(spark, t, col("kind") === "even").get }
      val fUp = Future {
        TxLog.commitUpsert(Seq((100L, 2L, "late"))
          .toDF("id", "ver", "kind"), t, "id", "ver") }
      Await.result(Future.sequence(Seq(fDel, fUp)), 5.minutes)
    } finally pool.shutdown()
    val rows = TxLog.read(spark, t).get.collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(!rows.values.exists(_ == "even"), s"evens survived: $rows")
    assert(rows(100L) == "late", s"concurrent upsert lost: $rows")
    assert(rows.keySet == Set(1L, 3L, 5L, 100L), rows.toString)
  }

  test("hard delete chain: commitDelete -> expireVersions -> vacuum removes the bytes") {
    val t = freshTable()
    (0 until 8).foreach { i =>
      TxLog.commitUpsert(
        Seq((i.toLong, 1L, s"secret-$i")).toDF("id", "ver", "payload"),
        t, "id", "ver")
    }
    TxLog.commitDelete(spark, t, col("id") === 3L).get // v9
    // logically deleted, physically still present in old versions
    assert(TxLog.read(spark, t).get.filter(col("id") === 3L).count() == 0)
    assert(TxLog.readVersion(spark, t, 8L).get
      .filter(col("id") === 3L).count() == 1)
    val dataFiles = () => {
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$t/data")).length
    }
    val before = dataFiles()
    // retire history to just the post-delete head, then vacuum
    val expired = TxLog.expireVersions(spark, t, keep = 1)
    assert(expired == 8, s"expected 8 retired manifests, got $expired")
    assert(TxLog.vacuumOrphans(spark, t, graceMs = 0) > 0)
    assert(dataFiles() < before, "superseded files not physically removed")
    // the head still reads correctly; expired history is gone
    val left = TxLog.read(spark, t).get.collect().map(_.getLong(0)).toSet
    assert(left == (0L until 8L).toSet - 3L)
    intercept[Exception] { TxLog.readVersion(spark, t, 8L).get.count() }
  }

  test("optimize races a concurrent delete: rows end deleted AND compacted") {
    val t = freshTable()
    (0 until 8).foreach { i =>
      TxLog.commitUpsert(
        Seq((i.toLong, 1L, if (i % 2 == 0) "even" else "odd"))
          .toDF("id", "ver", "kind"), t, "id", "ver")
    }
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val (vOpt, vDel) = try {
      val fOpt = Future { TxLog.optimize(spark, t, targetFiles = 2).get }
      val fDel = Future {
        TxLog.commitDelete(spark, t, col("kind") === "even").get }
      Await.result(fOpt.zip(fDel), 5.minutes)
    } finally pool.shutdown()
    // both OCC loops land on distinct versions; whichever lost the
    // race re-read the winner's snapshot and re-applied (serial
    // replay), so the final state is delete ∘ optimize in SOME order —
    // which for these two operations is the same state either way
    assert(vOpt != vDel && Set(vOpt, vDel).max == 10L,
      s"expected two committed versions, got optimize=$vOpt delete=$vDel")
    val rows = TxLog.read(spark, t).get.collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(rows == Map(1L -> "odd", 3L -> "odd", 5L -> "odd", 7L -> "odd"),
      s"delete lost to the compaction race: $rows")
  }

  test("dual compactors and dual deleters: OCC serializes both pairs") {
    val t = freshTable()
    (0 until 8).foreach { i =>
      TxLog.commitUpsert(
        Seq((i.toLong, 1L, s"r$i")).toDF("id", "ver", "payload"),
        t, "id", "ver")
    }
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // two compactors race: both commit (the loser recompacts the
      // winner's snapshot — wasted work, never lost data)
      val (o1, o2) = Await.result(
        Future { TxLog.optimize(spark, t, targetFiles = 2).get }
          .zip(Future { TxLog.optimize(spark, t, targetFiles = 2).get }),
        5.minutes)
      assert(o1 != o2)
      assert(TxLog.read(spark, t).get.count() == 8) // rows untouched
      // two deleters race on overlapping predicates: both commit; the
      // second's re-read sees the first's removals already gone
      val (d1, d2) = Await.result(
        Future { TxLog.commitDelete(spark, t, col("id") < 4).get }
          .zip(Future { TxLog.commitDelete(spark, t, col("id") < 6).get }),
        5.minutes)
      assert(d1 != d2)
      val left = TxLog.read(spark, t).get.collect().map(_.getLong(0)).toSet
      assert(left == Set(6L, 7L), s"overlapping deletes diverged: $left")
    } finally pool.shutdown()
  }

  test("vacuum vs pinned reader: head survives, expired-version reads fail") {
    val t = freshTable()
    (0 until 5).foreach { i =>
      TxLog.commitUpsert(
        Seq((i.toLong, 1L, s"r$i")).toDF("id", "ver", "payload"),
        t, "id", "ver")
    }
    TxLog.optimize(spark, t, targetFiles = 1).get // v6: old files now head-unreferenced
    val pinnedOld = TxLog.readVersion(spark, t, 5L).get  // pre-compaction snapshot
    val pinnedHead = TxLog.read(spark, t).get
    assert(pinnedOld.count() == 5)
    // retention expiry + vacuum — the Delta-paper caveat: a reader
    // pinned PAST the retention window loses its files; the window,
    // not the protocol, is what must exceed the longest reader
    TxLog.expireVersions(spark, t, keep = 1)
    assert(TxLog.vacuumOrphans(spark, t, graceMs = 0) > 0)
    // plans are lazy — re-executing the expired-version read now fails
    intercept[Exception] { pinnedOld.count() }
    // the head reader is untouched: its files are still referenced
    assert(pinnedHead.count() == 5)
    assert(TxLog.read(spark, t).get.count() == 5)
  }

  test("optimize races with a concurrent upsert: neither write is lost") {
    val t = freshTable()
    (0 until 6).foreach { i =>
      TxLog.commitUpsert(
        Seq((i.toLong, 1L, s"r$i")).toDF("id", "ver", "payload"),
        t, "id", "ver")
    }
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fOpt = Future { TxLog.optimize(spark, t, targetFiles = 2).get }
      val fUp = Future {
        TxLog.commitUpsert(
          Seq((99L, 2L, "late")).toDF("id", "ver", "payload"),
          t, "id", "ver")
      }
      Await.result(Future.sequence(Seq(fOpt, fUp)), 5.minutes)
    } finally pool.shutdown()
    val rows = TxLog.read(spark, t).get.collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(rows.size == 7 && rows(99L) == "late",
      s"concurrent upsert lost: $rows")
  }

  test("MOR delete: zero data-file rewrite, rows masked, time travel intact") {
    val t = freshTable()
    TxLog.commitUpsert(
      (1L to 100L).map(i => (i, 1L, s"p$i")).toDF("k", "ver", "payload"),
      t, "k", "ver")
    val before = TxLog.latest(spark, t).get
    val v = TxLog.commitDeleteMor(spark, t, col("k") % 10 === 0).get
    val after = TxLog.latest(spark, t).get
    // data files are carried BY REFERENCE — only a DV sidecar is new
    assert(after.files.map(_.path) == before.files.map(_.path))
    assert(after.dvs.size == 1 && before.dvs.isEmpty)
    val now = TxLog.read(spark, t).get.collect().map(_.getLong(0)).toSet
    assert(now == (1L to 100L).filterNot(_ % 10 == 0).toSet)
    // pre-delete version still shows every row
    assert(TxLog.readVersion(spark, t, v - 1).get.count() == 100L)
    // no-match delete commits nothing
    assert(TxLog.commitDeleteMor(spark, t, col("k") === -1L).get == v)
  }

  test("MOR deletes stack; a second vector holds only newly-live matches") {
    val t = freshTable()
    TxLog.commitUpsert(
      (1L to 50L).map(i => (i, 1L, s"p$i")).toDF("k", "ver", "payload"),
      t, "k", "ver")
    TxLog.commitDeleteMor(spark, t, col("k") <= 20)
    // overlaps the first delete: only 21..30 are still live matches
    TxLog.commitDeleteMor(spark, t, col("k") <= 30)
    val snap = TxLog.latest(spark, t).get
    assert(snap.dvs.size == 2)
    val dvRows = spark.read
      .parquet(snap.dvs.map(d => s"$t/$d"): _*).count()
    assert(dvRows == 30L, s"dv rows $dvRows: already-deleted rows re-entered")
    assert(TxLog.read(spark, t).get.collect().map(_.getLong(0)).toSet ==
      (31L to 50L).toSet)
  }

  test("rewrites materialize DVs: optimize folds masks and drops the list") {
    val t = freshTable()
    TxLog.commitUpsert(
      (1L to 60L).map(i => (i, 1L, s"p$i")).toDF("k", "ver", "payload"),
      t, "k", "ver")
    TxLog.commitDeleteMor(spark, t, col("k") > 50)
    val expect = (1L to 50L).toSet
    TxLog.optimize(spark, t, targetFiles = 2)
    val snap = TxLog.latest(spark, t).get
    assert(snap.dvs.isEmpty, "optimize must materialize deletion vectors")
    assert(TxLog.read(spark, t).get.collect().map(_.getLong(0)).toSet == expect)
    // and an upsert over a DV'd table materializes the same way
    TxLog.commitDeleteMor(spark, t, col("k") > 40)
    TxLog.commitUpsert(Seq((200L, 1L, "new")).toDF("k", "ver", "payload"),
      t, "k", "ver")
    val snap2 = TxLog.latest(spark, t).get
    assert(snap2.dvs.isEmpty)
    assert(TxLog.read(spark, t).get.collect().map(_.getLong(0)).toSet ==
      (1L to 40L).toSet + 200L)
  }

  test("COW delete after MOR delete: masks applied, no resurrection") {
    val t = freshTable()
    TxLog.commitUpsert(
      (1L to 40L).map(i => (i, 1L, s"p$i")).toDF("k", "ver", "payload"),
      t, "k", "ver")
    TxLog.commitDeleteMor(spark, t, col("k") <= 10)
    // copy-on-write rewrite of every file: the DV'd rows must not
    // reappear in the rewritten output, and the dv list empties
    TxLog.commitDelete(spark, t, col("k") > 35)
    val snap = TxLog.latest(spark, t).get
    assert(snap.dvs.isEmpty)
    assert(TxLog.read(spark, t).get.collect().map(_.getLong(0)).toSet ==
      (11L to 35L).toSet)
  }

  test("vacuum never removes an active DV sidecar") {
    val t = freshTable()
    TxLog.commitUpsert(
      (1L to 30L).map(i => (i, 1L, s"p$i")).toDF("k", "ver", "payload"),
      t, "k", "ver")
    TxLog.commitDeleteMor(spark, t, col("k") === 7L)
    val removed = TxLog.vacuumOrphans(spark, t, graceMs = 0L)
    assert(removed == 0, s"vacuum removed $removed referenced files")
    assert(TxLog.read(spark, t).get.collect().map(_.getLong(0)).toSet ==
      ((1L to 30L).toSet - 7L))
  }

  test("deletion vectors compose with stats skipping: readRange masks too") {
    val t = freshTable()
    TxLog.commitUpsert(
      (1L to 100L).map(i => (i, 1L, s"p$i")).toDF("k", "ver", "payload"),
      t, "k", "ver", statsCol = Some("k"), clusterFiles = 4)
    TxLog.commitDeleteMor(spark, t, col("k") % 7 === 0)
    // the range read must still prune files by footer stats AND apply
    // the mask to the files it does open
    val got = TxLog.readRange(spark, t, "k", 1L, 50L).get
      .filter(col("k").between(1L, 50L))
      .collect().map(_.getLong(0)).toSet
    assert(got == (1L to 50L).filterNot(_ % 7 == 0).toSet, got)
  }

  test("dual MOR deleters race: OCC serializes, both masks land") {
    val t = freshTable()
    TxLog.commitUpsert(
      (1L to 80L).map(i => (i, 1L, s"p$i")).toDF("k", "ver", "payload"),
      t, "k", "ver")
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val f1 = Future(TxLog.commitDeleteMor(spark, t, col("k") <= 10))
      val f2 = Future(TxLog.commitDeleteMor(spark, t, col("k") > 70))
      Await.result(Future.sequence(Seq(f1, f2)), 5.minutes)
    } finally pool.shutdown()
    val snap = TxLog.latest(spark, t).get
    assert(snap.version == 3L && snap.dvs.size == 2, snap)
    assert(TxLog.read(spark, t).get.collect().map(_.getLong(0)).toSet ==
      (11L to 70L).toSet)
  }

  test("MOR delete races a concurrent upsert: serial-replay semantics") {
    val t = freshTable()
    TxLog.commitUpsert(
      (1L to 40L).map(i => (i, 1L, s"p$i")).toDF("k", "ver", "payload"),
      t, "k", "ver")
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fDel = Future(TxLog.commitDeleteMor(spark, t, col("k") <= 5))
      val fUp = Future(TxLog.commitUpsert(
        Seq((100L, 1L, "new")).toDF("k", "ver", "payload"), t, "k", "ver"))
      Await.result(Future.sequence(Seq(fDel, fUp)), 5.minutes)
    } finally pool.shutdown()
    // whatever the serialization order, the end state is: keys 6..40
    // survive, key 100 present (the upsert rewrite materializes a DV
    // that committed before it; a DV after the upsert masks the same
    // still-present rows)
    val rows = TxLog.read(spark, t).get.collect().map(_.getLong(0)).toSet
    assert(rows == (6L to 40L).toSet + 100L, rows)
  }

  test("readChanges: snapshot diff yields Delta-CDF change rows") {
    val t = freshTable()
    TxLog.commitUpsert(
      Seq((1L, 1L, "a"), (2L, 1L, "b"), (3L, 1L, "c"), (4L, 1L, null))
        .toDF("k", "ver", "payload"), t, "k", "ver")
    // v2: update key 2, re-write key 3 with IDENTICAL values, insert 5,
    // flip key 4 NULL -> empty string (the concat_ws trap)
    TxLog.commitUpsert(
      Seq((2L, 2L, "b2"), (3L, 2L, "c"), (5L, 1L, "e"), (4L, 2L, ""))
        .toDF("k", "ver", "payload"), t, "k", "ver")
    TxLog.commitDeleteMor(spark, t, col("k") === 1L) // v3: delete key 1
    val c12 = TxLog.readChanges(spark, t, "k", 1L, 2L).get.collect()
      .map(r => (r.getLong(0), r.getString(3))).toSet
    // key 3's ver changed 1->2, so it IS an update even though payload
    // matched; key 4's NULL->"" flip must register
    assert(c12 == Set((2L, "update_preimage"), (2L, "update_postimage"),
      (3L, "update_preimage"), (3L, "update_postimage"),
      (4L, "update_preimage"), (4L, "update_postimage"),
      (5L, "insert")), c12)
    val c23 = TxLog.readChanges(spark, t, "k", 2L, 3L).get.collect()
      .map(r => (r.getLong(0), r.getString(3))).toSet
    assert(c23 == Set((1L, "delete")), c23)
    // an unchanged span yields an empty feed
    assert(TxLog.readChanges(spark, t, "k", 3L, 3L).get.count() == 0L)
    // completeness: applying the feed to v1 reproduces v2 exactly
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("k", "ver", "payload").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val changes = TxLog.readChanges(spark, t, "k", 1L, 2L).get
    val v1 = rows(TxLog.readVersion(spark, t, 1L).get)
    val removed = rows(changes.filter(
      col("_change_type").isin("delete", "update_preimage")))
    val added = rows(changes.filter(
      col("_change_type").isin("insert", "update_postimage")))
    assert((v1 -- removed) ++ added ==
      rows(TxLog.readVersion(spark, t, 2L).get))
  }

  test("MOR delete on a partitioned table: predicate sees the virtual column") {
    val t = freshTable()
    TxLog.commitUpsertPartitioned(
      Seq((1L, 1L, "a", "d1"), (2L, 1L, "b", "d1"), (3L, 1L, "c", "d2"))
        .toDF("k", "ver", "payload", "day"),
      t, "k", "ver", "day")
    TxLog.commitDeleteMor(spark, t, col("day") === "d1" && col("k") === 1L)
    val rows = TxLog.read(spark, t).get.collect()
      .map(r => (r.getLong(0), r.getAs[String]("day"))).toSet
    assert(rows == Set((2L, "d1"), (3L, "d2")))
  }

  test("schema evolution: new column appends, old rows null, time travel keeps the old shape") {
    val t = freshTable()
    TxLog.commitUpsert(
      Seq((1L, 1L, "a"), (2L, 1L, "b")).toDF("k", "ver", "payload"),
      t, "k", "ver")
    // batch ADDS `score` and also omits nothing; key 2 updates
    TxLog.commitUpsert(
      Seq((2L, 2L, "b2", 7.5), (3L, 1L, "c", 9.0))
        .toDF("k", "ver", "payload", "score"),
      t, "k", "ver")
    val now = TxLog.read(spark, t).get
    assert(now.columns.toSeq == Seq("k", "ver", "payload", "score"),
      "evolved column appends after the existing layout")
    val m = now.collect()
      .map(r => r.getLong(0) -> ((r.getString(2),
        Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
    assert(m == Map(1L -> (("a", None)), 2L -> (("b2", Some(7.5))),
      3L -> (("c", Some(9.0)))), m)
    // pre-evolution version is untouched — old schema, old values
    val v1 = TxLog.readVersion(spark, t, 1L).get
    assert(v1.columns.toSeq == Seq("k", "ver", "payload"))
    // a LATER batch may omit the evolved column: nulls, not an error
    TxLog.commitUpsert(Seq((4L, 1L, "d")).toDF("k", "ver", "payload"),
      t, "k", "ver")
    val after = TxLog.read(spark, t).get.filter(col("k") === 4L)
      .select("score").collect()
    assert(after.head.isNullAt(0))
  }

  test("schema evolution: nullability-only diff is widening, not a type change") {
    // Regression (round 5): an ARRAY<BIGINT> column written with
    // containsNull=false round-trips through parquet as
    // containsNull=true; re-appending the original encoder schema then
    // differs from the table ONLY in nullability and must merge, not
    // throw "cannot change column types" (the DedupIndex.appendBatch
    // second-commit failure).
    val t = freshTable()
    val b1 = Seq((1L, 1L, Array(10L, 20L)), (2L, 1L, Array(30L)))
      .toDF("k", "ver", "sig") // encoder: ARRAY<BIGINT> containsNull=false
    TxLog.commitUpsert(b1, t, "k", "ver")
    val stored = TxLog.read(spark, t).get.schema("sig").dataType
    val b2 = Seq((2L, 2L, Array(31L, 32L)), (3L, 1L, Array(40L)))
      .toDF("k", "ver", "sig")
    assert(stored != b2.schema("sig").dataType &&
      TxLog.nullableNorm(stored) ==
        TxLog.nullableNorm(b2.schema("sig").dataType),
      s"precondition: nullability-only diff ($stored vs ${b2.schema("sig").dataType})")
    TxLog.commitUpsert(b2, t, "k", "ver") // must not throw
    val m = TxLog.read(spark, t).get.collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](2).toList).toMap
    assert(m == Map(1L -> List(10L, 20L), 2L -> List(31L, 32L),
      3L -> List(40L)), m)
  }

  test("schema evolution: type change is rejected, not silently cast") {
    val t = freshTable()
    TxLog.commitUpsert(Seq((1L, 1L, "a")).toDF("k", "ver", "payload"),
      t, "k", "ver")
    val e = intercept[IllegalArgumentException] {
      TxLog.commitUpsert(Seq((1L, 2L, 42.0)).toDF("k", "ver", "payload"),
        t, "k", "ver")
    }
    assert(e.getMessage.contains("change column types"), e.getMessage)
  }

  test("schema evolution on the partitioned path; CDF spans the evolution") {
    val t = freshTable()
    TxLog.commitUpsertPartitioned(
      Seq((1L, 1L, "a", "d1"), (2L, 1L, "b", "d2"))
        .toDF("k", "ver", "payload", "day"),
      t, "k", "ver", "day")
    TxLog.commitUpsertPartitioned(
      Seq((2L, 2L, "b", "d2", 5L)).toDF("k", "ver", "payload", "day", "qty"),
      t, "k", "ver", "day")
    val now = TxLog.read(spark, t).get.collect()
      .map(r => r.getLong(0) ->
        Option(r.getAs[Any]("qty")).map(_.asInstanceOf[Long])).toMap
    assert(now == Map(1L -> None, 2L -> Some(5L)))
    // key 2's payload is unchanged — ONLY the evolved column differs;
    // the change feed must still see the update (union-schema diff)
    val feed = TxLog.readChanges(spark, t, "k", 1L, 2L).get
      .select("k", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(feed == Set((2L, "update_preimage"), (2L, "update_postimage")),
      feed)
  }

  test("pruned merge: untouched files carry BY REFERENCE across commits") {
    val t = freshTable()
    // four append commits → four data files with per-file blooms
    (0 until 4).foreach(b => TxLog.commitUpsert(
      (1L to 100L).map(k => (b * 1000L + k, 1L, s"p$b-$k"))
        .toDF("k", "ver", "payload"), t, "k", "ver"))
    val before = TxLog.read(spark, t).get.inputFiles.toSet
    assert(before.size >= 4, s"expected several files, got ${before.size}")
    // a delta updating ONE commit's key must rewrite only the file
    // holding it; every other file carries by reference
    TxLog.commitUpsert(Seq((7L, 2L, "u7"), (9001L, 1L, "n9001"))
      .toDF("k", "ver", "payload"), t, "k", "ver")
    val after = TxLog.read(spark, t).get.inputFiles.toSet
    val carried = before.intersect(after)
    assert(carried.size >= 3,
      s"append files were rewritten, not carried:\n" +
        s"before=$before\nafter=$after")
    assert(after.diff(before).size <= 2,
      s"delta commit staged ${after.diff(before).size} new files")
    // and the merged state is exactly the serial-upsert truth
    val now = TxLog.read(spark, t).get.collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(now.size == 401 && now(7L) == "u7" && now(9001L) == "n9001" &&
      now(1007L) == "p1-7")
  }

  test("pruned merge equals full rebuild over a random commit schedule") {
    val rnd = new scala.util.Random(42)
    val t = freshTable()
    var truth = Map.empty[Long, (Long, String)]
    (1 to 6).foreach { ver =>
      val keys = Seq.fill(30)(rnd.nextInt(500).toLong).distinct
      val rows = keys.map(k => (k, ver.toLong, s"v$ver-$k"))
      rows.foreach { case (k, v, p) =>
        if (!truth.get(k).exists(_._1 > v)) truth += k -> ((v, p)) }
      TxLog.commitUpsert(rows.toDF("k", "ver", "payload"), t, "k", "ver")
    }
    val got = TxLog.read(spark, t).get.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(got == truth)
    // the internal clustering column never leaks to readers
    assert(!TxLog.read(spark, t).get.columns.contains("__graft_pkh"))
    assert(!TxLog.readChanges(spark, t, "k", 1L, 6L).get.columns
      .contains("__graft_pkh"))
  }

  test("readMayContain prunes to the holder files at warehouse file " +
      "counts (pk-hash and raw index-column probes)") {
    val t = freshTable()
    // 40 append commits of 5 rows each — the many-small-files layout
    // a warehouse table actually has, where point-lookup pruning pays
    (0 until 40).foreach { b =>
      TxLog.commitUpsert(
        (0 until 5).map(j => (b * 100L + j, 1L, b * 1000L + j))
          .toDF("k", "ver", "k2"),
        t, "k", "ver", indexCols = Seq("k2"))
    }
    assert(TxLog.read(spark, t).get.count() == 200L)
    // probe by pk hash: two keys living in two distinct commits
    val probeKs = Seq(700L, 2303L)
    val hs = probeKs.toDF("k").select(xxhash64(col("k")))
      .collect().map(_.getLong(0): Any)
    val byPk = TxLog.readMayContain(spark, t, TxLog.PkHashCol, hs).get
    assert(byPk.filter(col("k").isin(probeKs: _*)).count() == 2L)
    // blooms on 5-row files with 2 probe values: false positives are
    // vanishingly rare — the read must touch a small fraction of the
    // 40 files (the 100 TB posture this API exists for)
    assert(byPk.inputFiles.length <= 6,
      s"pruned read touched ${byPk.inputFiles.length} of 40 files")
    // probe by the raw indexCols column (the JoinIndex right-accumulator
    // path): same pruning through the column's own stats + bloom
    val byCol = TxLog.readMayContain(spark, t, "k2",
      Array(7000L: Any, 23003L: Any)).get
    assert(byCol.filter(col("k2").isin(7000L, 23003L)).count() == 2L)
    assert(byCol.inputFiles.length <= 6,
      s"index-column pruned read touched ${byCol.inputFiles.length} of 40 files")
    // no false negatives: an absent probe value returns None or an
    // empty frame, never a wrong subset
    val miss = TxLog.readMayContain(spark, t, "k2", Array(999999L: Any))
    assert(miss.forall(_.filter(col("k2") === 999999L).isEmpty))
  }

  test("manifest props: atomic with the commit, carried forward, overridable") {
    val t = freshTable()
    // every manifest also carries its own publish-time stamp (asserted
    // present, then excluded from the caller-props equality checks)
    def userProps = {
      val p = TxLog.latest(spark, t).get.props
      assert(p.get(TxLog.PublishTsProp).exists(_.toLong > 0L))
      p - TxLog.PublishTsProp
    }
    TxLog.commitUpsert(Seq((1L, 1L, "a")).toDF("k", "ver", "payload"),
      t, "k", "ver", props = Map(TxLog.HighWaterProp -> "5"))
    assert(userProps == Map(TxLog.HighWaterProp -> "5"))
    // a prop-less commit carries the prior snapshot's props verbatim
    TxLog.commitUpsert(Seq((2L, 1L, "b")).toDF("k", "ver", "payload"),
      t, "k", "ver")
    assert(userProps == Map(TxLog.HighWaterProp -> "5"))
    // a later writer overrides its key, other keys survive
    TxLog.commitUpsert(Seq((3L, 1L, "c")).toDF("k", "ver", "payload"),
      t, "k", "ver",
      props = Map(TxLog.HighWaterProp -> "9", "graft.owner" -> "job-1"))
    assert(userProps ==
      Map(TxLog.HighWaterProp -> "9", "graft.owner" -> "job-1"))
    // props survive a non-upsert commit (delete) and time travel reads
    // still resolve data correctly underneath
    TxLog.commitDelete(spark, t, col("k") === 2L)
    assert(TxLog.latest(spark, t).get.props("graft.owner") == "job-1")
    assert(TxLog.read(spark, t).get.count() == 2)
  }

  test("pk-layout optimize compacts small-file debt AND preserves " +
      "pruned-merge eligibility") {
    val t = freshTable()
    (1 to 5).foreach(i => TxLog.commitUpsert(
      Seq((i * 10L, 1L, s"p$i")).toDF("k", "ver", "payload"), t, "k", "ver"))
    TxLog.optimize(spark, t, targetFiles = 2, pk = Some("k"))
    val compacted = TxLog.read(spark, t).get.inputFiles.toSet
    assert(compacted.size <= 2, s"compaction left ${compacted.size} files")
    // the next delta commit must still carry a compacted file by
    // reference (a plain optimize would have dropped the pk layout
    // and forced a full rewrite)
    TxLog.commitUpsert(Seq((10L, 2L, "u")).toDF("k", "ver", "payload"),
      t, "k", "ver")
    val after = TxLog.read(spark, t).get.inputFiles.toSet
    assert(compacted.intersect(after).nonEmpty,
      s"post-optimize upsert rewrote everything: $compacted -> $after")
    val now = TxLog.read(spark, t).get.collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(now == Map(10L -> "u", 20L -> "p2", 30L -> "p3",
      40L -> "p4", 50L -> "p5"))
    assert(!TxLog.read(spark, t).get.columns.contains("__graft_pkh"))
  }

  test("pruned merge composes with DV deletes and evolution fallback") {
    val t = freshTable()
    TxLog.commitUpsert((1L to 100L).map(k => (k, 1L, s"p$k"))
      .toDF("k", "ver", "payload"), t, "k", "ver")
    // merge-on-read delete, then an upsert: DVs force the full path,
    // which must materialize the deletion (deleted row stays gone)
    TxLog.commitDeleteMor(spark, t, col("k") === 50L)
    TxLog.commitUpsert(Seq((7L, 2L, "u7")).toDF("k", "ver", "payload"),
      t, "k", "ver")
    val now = TxLog.read(spark, t).get.collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(!now.contains(50L) && now(7L) == "u7" && now.size == 99)
    assert(TxLog.latest(spark, t).get.dvs.isEmpty,
      "the rewriting upsert must materialize and drop the DV list")
    // column-adding batch: evolution falls back to the full rewrite
    // and keeps one schema per snapshot
    TxLog.commitUpsert(Seq((8L, 2L, "u8", 42L))
      .toDF("k", "ver", "payload", "extra"), t, "k", "ver")
    val evolved = TxLog.read(spark, t).get
    assert(evolved.columns.toSeq == Seq("k", "ver", "payload", "extra"))
    assert(evolved.filter(col("k") === 8L).head().getLong(3) == 42L)
    assert(evolved.filter(col("k") === 7L).head().isNullAt(3))
  }

  test("readAsOf: timestamp time travel resolves the latest version " +
      "published at or before the timestamp") {
    val t = freshTable()
    TxLog.commitUpsert(Seq((1L, 1L, "a")).toDF("k", "ver", "payload"),
      t, "k", "ver")
    Thread.sleep(1100) // manifest mtime granularity can be 1 s
    val between = System.currentTimeMillis()
    Thread.sleep(1100)
    TxLog.commitUpsert(Seq((2L, 2L, "b")).toDF("k", "ver", "payload"),
      t, "k", "ver")
    // before the first commit: no version qualifies
    assert(TxLog.readAsOf(spark, t, 1000L).isEmpty)
    // between the commits: v1 exactly
    val asOf = TxLog.readAsOf(spark, t, between).get.collect()
    assert(asOf.map(_.getLong(0)).toSet == Set(1L), asOf.mkString(","))
    // now: the latest
    assert(TxLog.readAsOf(spark, t, System.currentTimeMillis())
      .get.count() == 2L)
    assert(TxLog.readAsOf(spark, t + "-absent", between).isEmpty)
  }

  test("readAsOf: resolution survives a copy/restore that refreshes " +
      "manifest mtimes (publish stamps are in-manifest metadata)") {
    val t = freshTable()
    TxLog.commitUpsert(Seq((1L, 1L, "a")).toDF("k", "ver", "payload"),
      t, "k", "ver")
    Thread.sleep(20) // in-manifest stamps are ms-granular, no 1 s slack
    val between = System.currentTimeMillis()
    Thread.sleep(20)
    TxLog.commitUpsert(Seq((2L, 2L, "b")).toDF("k", "ver", "payload"),
      t, "k", "ver")
    // simulate a backup restore / cp -r: every manifest's filesystem
    // mtime jumps far past both publishes
    val dir = java.nio.file.Paths.get(t, "_txlog")
    val listing = java.nio.file.Files.list(dir)
    try listing.forEach { p =>
      if (p.getFileName.toString.endsWith(".manifest"))
        java.nio.file.Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis() + 3600L * 1000))
    } finally listing.close()
    // mtime-based resolution would find no qualifying version at all;
    // the in-manifest stamp still resolves v1 between the commits
    val asOf = TxLog.readAsOf(spark, t, between).get.collect()
    assert(asOf.map(_.getLong(0)).toSet == Set(1L), asOf.mkString(","))
    assert(TxLog.readAsOf(spark, t, System.currentTimeMillis())
      .get.count() == 2L)
  }

  test("compactIfNeeded: folds small-file debt when over the file cap, " +
      "no-ops otherwise, and pruned commits continue afterwards") {
    val t = freshTable()
    (0 until 40).foreach(i => TxLog.commitUpsert(
      Seq((i.toLong, 1L, s"p$i")).toDF("k", "ver", "payload"),
      t, "k", "ver"))
    assert(TxLog.latest(spark, t).get.files.length == 40)
    // under the cap: untouched
    assert(TxLog.compactIfNeeded(spark, t, "k", maxFiles = 64).isEmpty)
    assert(TxLog.latest(spark, t).get.files.length == 40)
    // over the cap: rows-sized rewrite (40 single-row files -> 1)
    val v = TxLog.compactIfNeeded(spark, t, "k", maxFiles = 16)
    assert(v.contains(41L), v.toString)
    val snap = TxLog.latest(spark, t).get
    assert(snap.files.length == 1, s"files: ${snap.files.length}")
    // pk layout preserved: every file still carries PkHashCol stats,
    // so the next upsert stays on the pruned/stage-first path
    assert(snap.files.forall(_.stats.exists(_.col == TxLog.PkHashCol)))
    TxLog.commitUpsert(Seq((7L, 2L, "u7")).toDF("k", "ver", "payload"),
      t, "k", "ver")
    val now = TxLog.read(spark, t).get.collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(now.size == 40 && now(7L) == "u7" && now(39L) == "p39")
    // immediately after compaction: self-gating no-op (already sized)
    assert(TxLog.compactIfNeeded(spark, t, "k", maxFiles = 1).isEmpty)
  }

  // ---- stage-first commit path: bulk-ingest regimes, crash windows,
  // and concurrent writers (the r8 path gets its own fault coverage) --

  /** Basenames of the files the latest manifest references. */
  private def manifestFiles(t: String): Set[String] =
    TxLog.latest(spark, t).get.files
      .map(e => e.path.substring(e.path.lastIndexOf('/') + 1)).toSet

  /** Basenames of the parquet data files actually on disk. */
  private def diskFiles(t: String): Set[String] = {
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = new org.apache.hadoop.fs.Path(s"$t/data")
    if (!fs.exists(dir)) Set.empty
    else fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.endsWith(".parquet")).toSet
  }

  /** Run `body` with the probe cap shrunk (driving small batches down
    * the over-cap bulk-ingest code paths) while collecting the commit
    * phases `timed` observed. */
  private def withBulkRegime[T](cap: Int)(body: => T): (T, Seq[String]) = {
    val tags = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    TxLog.probeCapOverride = Some(cap)
    TxLog.timedHook = (tag, _) => { tags.add(tag); () }
    try { val r = body; (r, tags.toArray.map(_.toString).toSeq) }
    finally { TxLog.probeCapOverride = None; TxLog.timedHook = (_, _) => () }
  }

  test("stage-first bulk ingest: an over-cap proven-unique insert-only " +
      "batch is a pure append — one stage write, no merge rewrite") {
    val t = freshTable()
    TxLog.commitUpsert(Seq((1000000L, 1L, "seed"))
      .toDF("k", "ver", "payload"), t, "k", "ver")
    val before = manifestFiles(t)
    val (_, tags) = withBulkRegime(cap = 10) {
      TxLog.commitUpsert((1L to 500L).map(k => (k, 1L, s"p$k"))
        .toDF("k", "ver", "payload"), t, "k", "ver", failOnDupPk = true)
    }
    // ONE staging of the delta; the exact over-cap uniqueness proof
    // ran; and — the r8 flaw — the proven-unique batch must NOT be
    // re-staged through the merge branch (2x write amplification on
    // exactly the 100 TB bulk-ingest regime)
    assert(tags.count(_ == "stage+write") == 1, s"phases: $tags")
    assert(tags.contains("dupCheck"), s"phases: $tags")
    assert(!tags.contains("merge+write"),
      s"proven-unique bulk batch re-staged through the merge branch: $tags")
    assert(TxLog.read(spark, t).get.count() == 501L)
    // the staged files ARE the commit: manifest grew by the staged
    // set and the disk holds nothing the manifest doesn't reference
    assert(manifestFiles(t).subsetOf(diskFiles(t)))
    assert(diskFiles(t) == manifestFiles(t),
      s"orphans: ${diskFiles(t) -- manifestFiles(t)}")
    assert((manifestFiles(t) -- before).nonEmpty)
  }

  test("stage-first bulk merge: an over-cap duplicate-carrying batch " +
      "is sized by rows, not funneled through one task/file") {
    val t = freshTable()
    // 150k rows, every pk twice (last-wins fold) — over the shrunk
    // cap, so unique=false and the merge branch runs with NO holder
    // files; sizing by max(1, hold.size) would repartition(1) into a
    // single giant file whose [min,max] spans the whole key space
    val n = 75000
    val rows = (0 until 2 * n).map(i => (i.toLong % n, (i / n).toLong,
      s"p$i"))
    val (_, tags) = withBulkRegime(cap = 10) {
      TxLog.commitUpsert(rows.toDF("k", "ver", "payload"), t, "k", "ver")
    }
    assert(tags.contains("merge+write"), s"phases: $tags")
    val snap = TxLog.latest(spark, t).get
    assert(snap.files.length >= 2,
      s"bulk merge wrote ${snap.files.length} file(s) — one-task funnel")
    val got = TxLog.read(spark, t).get
    assert(got.count() == n.toLong)
    // last-wins: survivor of every key is the ver=1 copy
    assert(got.filter(col("ver") =!= 1L).isEmpty)
    assert(diskFiles(t) == manifestFiles(t),
      s"orphans: ${diskFiles(t) -- manifestFiles(t)}")
  }

  test("classic pruned merge sizes output by rows too: a bulk batch " +
      "folding into ONE holder file fans out instead of one task/file") {
    val t = freshTable()
    TxLog.commitUpsert(Seq((1L, 1L, "seed")).toDF("k", "ver", "payload"),
      t, "k", "ver")
    assert(TxLog.latest(spark, t).get.files.length == 1)
    // 140k-row batch overlapping the single seed file: pre-fix the
    // merge inherited outFiles = hold.size = 1 — one task rewriting
    // everything into one file spanning the whole key space
    val n = 140000
    TxLog.commitUpsert((0 until n).map(i => (i.toLong, 2L, s"p$i"))
      .toDF("k", "ver", "payload"), t, "k", "ver", updateHeavy = true)
    val snap = TxLog.latest(spark, t).get
    assert(snap.files.length >= 2,
      s"bulk merge wrote ${snap.files.length} file(s) — one-task funnel")
    val got = TxLog.read(spark, t).get
    assert(got.count() == n.toLong)
    assert(got.filter(col("k") === 1L).head().getString(2) == "p1")
  }

  test("stage-first crash window: a publishGate abort drops the staged " +
      "files — no orphans, table intact at the prior version") {
    val t = freshTable()
    TxLog.commitUpsert(Seq((1L, 1L, "a"), (2L, 1L, "b"))
      .toDF("k", "ver", "payload"), t, "k", "ver")
    val disk1 = diskFiles(t)
    val boom = intercept[RuntimeException] {
      TxLog.commitUpsert(Seq((3L, 1L, "c")).toDF("k", "ver", "payload"),
        t, "k", "ver",
        publishGate = () => sys.error("gate: sibling commit failed"))
    }
    assert(boom.getMessage.contains("sibling commit failed"))
    assert(TxLog.latest(spark, t).get.version == 1L)
    assert(TxLog.read(spark, t).get.count() == 2L)
    assert(diskFiles(t) == disk1,
      s"aborted commit leaked staged files: ${diskFiles(t) -- disk1}")
  }

  test("stage-first lost race flips eligibility mid-retry: falls back " +
      "to the classic path, nothing lost, no orphans") {
    val t = freshTable()
    TxLog.commitUpsert(Seq((1L, 1L, "a"), (2L, 1L, "b"))
      .toDF("k", "ver", "payload"), t, "k", "ver")
    // the competing writer runs INSIDE the gate — i.e. after writer
    // A staged and probed, immediately before A's publish attempt —
    // and its MOR delete leaves deletion vectors, which invalidate
    // A's stage-first eligibility on the retry
    val raced = new java.util.concurrent.atomic.AtomicBoolean(false)
    val v = TxLog.commitUpsert(
      Seq((3L, 1L, "c")).toDF("k", "ver", "payload"), t, "k", "ver",
      publishGate = () => {
        if (raced.compareAndSet(false, true)) {
          assert(TxLog.commitDeleteMor(spark, t, col("k") === 1L)
            .contains(2L))
          ()
        }
      })
    assert(v == 3L, s"fallback commit landed at version $v")
    val now = TxLog.read(spark, t).get.collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(now == Map(2L -> "b", 3L -> "c"), now.toString)
    assert(TxLog.vacuumOrphans(spark, t, graceMs = 0L) == 0,
      "the race's abandoned staged files were not self-cleaned")
  }

  test("concurrent stage-first writers converge: all commits land, " +
      "every commit staged exactly once, zero orphans") {
    val t = freshTable()
    val tags = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    TxLog.timedHook = (tag, _) => { tags.add(tag); () }
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // disjoint fresh keys + one shared hot key per round: pure
      // appends AND holder merges both race through stage-first
      val futures = (0 until 4).map { w =>
        Future {
          (0 until 3).foreach { r =>
            val ver = (r * 4 + w + 1).toLong
            val rows = Seq((w * 100L + r, ver, s"w$w-r$r"),
              (1000L, ver, s"hot-w$w-r$r"))
            TxLog.commitUpsert(rows.toDF("k", "ver", "payload"),
              t, "k", "ver")
          }
        }
      }
      Await.result(Future.sequence(futures), 5.minutes)
    } finally { pool.shutdown(); TxLog.timedHook = (_, _) => () }
    val snap = TxLog.latest(spark, t).get
    assert(snap.version == 12L, s"expected 12 commits, got ${snap.version}")
    val rows = TxLog.read(spark, t).get.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rows.size == 13, s"12 disjoint keys + hot key, got $rows")
    assert(rows(1000L) == 12L, s"hot-key survivor version ${rows(1000L)}")
    (0 until 4).foreach(w => (0 until 3).foreach(r =>
      assert(rows(w * 100L + r) == (r * 4 + w + 1).toLong)))
    val ts = tags.toArray.map(_.toString).toSeq
    // every commit staged its delta exactly once — losers retry the
    // PROBE from the staged files, never re-stage the batch
    assert(ts.count(_ == "stage+write") == 12, s"stage count: ${
      ts.count(_ == "stage+write")}")
    // merged-away holder files stay on disk as HISTORY (time travel),
    // so disk ⊇ manifest; what must NOT exist is a file no version
    // references — the losers' abandoned stagings
    assert(manifestFiles(t).subsetOf(diskFiles(t)))
    assert(TxLog.vacuumOrphans(spark, t, graceMs = 0L) == 0,
      "a racing writer leaked staged files no version references")
  }
}
