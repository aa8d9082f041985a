package graft

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.streaming.{AggIndex, DedupIndex, JoinIndex, StreamingDedup}
import graft.operators.dim.Scd2

/** Property-based law of the four IVM legs' BATCH SCHEDULES: for any
  * random split of the input into micro-batches — including empty
  * sides, empty batches, replayed batch ids, and out-of-order
  * re-deliveries — K incremental commits must equal the one-shot
  * rebuild over the union. `EvolutionProps` hardened the schema axis;
  * this hardens the schedule axis (the `b05ce1d` empty-side hotfix is
  * exactly the class of edge a generator finds first: every schedule
  * here draws empty sides with positive probability). */
object IvmScheduleProps extends Properties("ivm-schedules") {

  // each trial runs a full multi-commit Spark schedule, so the count
  // is the suite's cost knob; 100 per leg ≈ the EvolutionProps budget
  private val trials =
    sys.env.getOrElse("GRAFT_IVM_PROP_N", "100").toInt

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(trials)

  private lazy val spark = TestSession.spark

  private def freshTable(tag: String): String =
    graft.core.Scratch.dir(spark, s"ivmprop-$tag")

  // ---- generators -------------------------------------------------

  /** Assign each element of `xs` to one of `k` batches (batches may
    * come out empty — the empty-side/empty-batch class). */
  private def assignGen[T](xs: Seq[T], k: Int): Gen[Seq[Seq[T]]] =
    Gen.listOfN(xs.size, Gen.choose(0, k - 1)).map { slots =>
      (0 until k).map(b => xs.zip(slots).collect {
        case (x, s) if s == b => x })
    }

  /** A subset of already-applied batch indices to REPLAY after the
    * schedule (ids ≤ high-water must no-op), in shuffled order. */
  private def replayGen(k: Int): Gen[Seq[Int]] =
    Gen.someOf(0 until k).flatMap(s => Gen.const(s.reverse.toSeq))

  // ---- JoinIndex --------------------------------------------------

  property("JoinIndex: any batch split + replays == one-shot join") =
    forAll(Gen.choose(2, 3).flatMap { k =>
      val lefts = (1L to 5L).map(o => (o, o * 10, s"s$o"))
      val rights = for { o <- 1L to 5L; ln <- 1 to 2 }
        yield (o, ln, o + ln * 0.5)
      for {
        lb <- assignGen(lefts, k)
        rb <- assignGen(rights, k)
        rp <- replayGen(k)
      } yield (k, lb, rb, rp)
    }) { case (k, lb, rb, rp) =>
      import spark.implicits._
      val table = freshTable("join")
      def odf(rows: Seq[(Long, Long, String)]) =
        rows.toDF("o_orderkey", "o_custkey", "o_orderstatus")
      def ldf(rows: Seq[(Long, Int, Double)]) =
        rows.toDF("o_orderkey", "l_linenumber", "l_quantity")
      (0 until k).foreach(i => JoinIndex.mergeBatch(
        odf(lb(i)), ldf(rb(i)), table, "o_orderkey",
        Seq("o_orderkey", "l_linenumber"), batchId = i + 1L))
      // replays of applied ids — arbitrary stale content must no-op
      rp.foreach(i => JoinIndex.mergeBatch(
        odf(lb.head), ldf(rb.head), table, "o_orderkey",
        Seq("o_orderkey", "l_linenumber"), batchId = i + 1L))
      val got = JoinIndex.load(spark, table).map(
        _.select("o_orderkey", "l_linenumber", "o_custkey", "l_quantity")
          .as[(Long, Int, Long, Double)].collect().toSet)
        .getOrElse(Set.empty)
      val want = odf(lb.flatten).join(ldf(rb.flatten), "o_orderkey")
        .select("o_orderkey", "l_linenumber", "o_custkey", "l_quantity")
        .as[(Long, Int, Long, Double)].collect().toSet
      got == want
    }

  // ---- JoinIndex crash windows ------------------------------------

  /** Every way a mergeBatch can DIE mid-sequence — before the left
    * accumulator commit, before the right one (leaving the other
    * landed), or in the window the concurrent-commit overlap widened:
    * both accumulators landed, the mark-carrying wide manifest not
    * yet published — followed by a replay of the killed batch and the
    * rest of the schedule, must converge to the one-shot join. The
    * high-water mark rides the wide table, so a crash anywhere before
    * the wide publish re-runs the whole batch; accumulator upserts
    * are idempotent last-wins folds. */
  property("JoinIndex: a crash at any commit point + replay == " +
      "one-shot join") =
    forAll(Gen.choose(2, 3).flatMap { k =>
      val lefts = (1L to 5L).map(o => (o, o * 10, s"s$o"))
      val rights = for { o <- 1L to 5L; ln <- 1 to 2 }
        yield (o, ln, o + ln * 0.5)
      for {
        lb <- assignGen(lefts, k)
        rb <- assignGen(rights, k)
        crashAt <- Gen.choose(0, k - 1)
        crashPoint <- Gen.choose(0, 2) // 0=left, 1=right, 2=wide-publish
      } yield (k, lb, rb, crashAt, crashPoint)
    }) { case (k, lb, rb, crashAt, crashPoint) =>
      import spark.implicits._
      import graft.streaming.JoinIndex.faults
      val table = freshTable("joincrash")
      def odf(rows: Seq[(Long, Long, String)]) =
        rows.toDF("o_orderkey", "o_custkey", "o_orderstatus")
      def ldf(rows: Seq[(Long, Int, Double)]) =
        rows.toDF("o_orderkey", "l_linenumber", "l_quantity")
      def merge(i: Int): Unit = JoinIndex.mergeBatch(
        odf(lb(i)), ldf(rb(i)), table, "o_orderkey",
        Seq("o_orderkey", "l_linenumber"), batchId = i + 1L)
      val boom: () => Unit =
        () => throw new RuntimeException("injected crash")
      (0 until crashAt).foreach(merge)
      crashPoint match {
        case 0 => faults.beforeLeftCommit = boom
        case 1 => faults.beforeRightCommit = boom
        case _ => faults.beforeWidePublish = boom
      }
      val crashed =
        try { merge(crashAt); false }
        catch { case _: Throwable => true }
        finally faults.reset()
      // replay the killed batch, then run the rest of the schedule
      (crashAt until k).foreach(merge)
      val got = JoinIndex.load(spark, table).map(
        _.select("o_orderkey", "l_linenumber", "o_custkey", "l_quantity")
          .as[(Long, Int, Long, Double)].collect().toSet)
        .getOrElse(Set.empty)
      val want = odf(lb.flatten).join(ldf(rb.flatten), "o_orderkey")
        .select("o_orderkey", "l_linenumber", "o_custkey", "l_quantity")
        .as[(Long, Int, Long, Double)].collect().toSet
      // storage-leak invariant: whatever the crash abandoned on the
      // data plane was either self-cleaned by the abort path or is
      // unreferenced-and-vacuumable — after convergence, NO table
      // holds a file outside its retained history
      val leaked = Seq("left", "right", "wide").map(s =>
        graft.sinks.TxLog.vacuumOrphans(spark, s"$table/$s",
          graceMs = 0L)).sum
      crashed && got == want && leaked == 0
    }

  // ---- AggIndex ---------------------------------------------------

  property("AggIndex: any fact split + replays == one-shot partial") =
    forAll(Gen.choose(2, 3).flatMap { k =>
      for {
        n <- Gen.choose(0, 12)
        facts <- Gen.listOfN(n, Gen.zip(
          Gen.choose(1L, 4L), Gen.choose(-50L, 50L)))
        fb <- assignGen(facts, k)
        rp <- replayGen(k)
      } yield (k, fb, rp)
    }) { case (k, fb, rp) =>
      import spark.implicits._
      val table = freshTable("agg")
      def fdf(rows: Seq[(Long, Long)]) = rows.toDF("k", "v")
      // empty micro-batches are skipped by the writer contract
      // (foreachBatch guards !b.isEmpty) — skip them here too, but
      // KEEP their batch id gap: ids stay monotonic, not dense
      (0 until k).foreach { i =>
        if (fb(i).nonEmpty)
          AggIndex.mergeBatch(fdf(fb(i)), table, "k",
            Seq("v"), Seq("v"), batchId = i + 1L)
      }
      rp.foreach { i =>
        if (fb(i).nonEmpty)
          AggIndex.mergeBatch(fdf(fb.flatten.take(2)), table, "k",
            Seq("v"), Seq("v"), batchId = i + 1L)
      }
      val got = AggIndex.load(spark, table).map(
        _.select("k", "ct", "sum_v", "min_v", "max_v")
          .as[(Long, Long, Long, Long, Long)].collect().toSet)
        .getOrElse(Set.empty)
      val want = AggIndex.partial(fdf(fb.flatten), "k", Seq("v"), Seq("v"))
        .select("k", "ct", "sum_v", "min_v", "max_v")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      got == want
    }

  // ---- Scd2 -------------------------------------------------------

  property("Scd2: any version split, out-of-order + re-delivery == " +
      "one-shot build") =
    forAll(Gen.choose(2, 3).flatMap { k =>
      val versions = for { c <- 1L to 3L; o <- 1L to 3L }
        yield (c, c * 10 + o, if (o % 2 == 0) "F" else "O",
          s"P$o", f"2024-0${o}%d-15")
      for {
        vb <- assignGen(versions, k)
        // a generated permutation (seed-reproducible, unlike
        // Random.shuffle): sort batch indices by drawn weights
        ws <- Gen.listOfN(k, Gen.choose(0, 1000000))
        rp <- replayGen(k)
      } yield (k, vb, (0 until k).sortBy(ws).toList, rp)
    }) { case (k, vb, order, rp) =>
      import spark.implicits._
      val table = freshTable("scd2")
      def vdf(rows: Seq[(Long, Long, String, String, String)]) =
        rows.toDF("o_custkey", "o_orderkey", "o_orderstatus",
          "o_orderpriority", "o_orderdate")
      // out-of-order arrival: batches land in a random order (late
      // mid-chain versions must close/reopen neighbors)
      var mv = 0L
      order.foreach { i =>
        if (vb(i).nonEmpty) { mv += 1; Scd2.mergeVersions(vdf(vb(i)), table, mv) }
      }
      // at-least-once re-delivery of earlier batches (fresh merge
      // versions — idempotent by chain identity, not by id skipping)
      rp.foreach { i =>
        if (vb(i).nonEmpty) { mv += 1; Scd2.mergeVersions(vdf(vb(i)), table, mv) }
      }
      val got = Scd2.loadScd2(spark, table).map(
        _.collect().map(_.toSeq).toSet).getOrElse(Set.empty)
      val want = Scd2.scd2Build(
        vdf(vb.flatten).withColumn("o_orderdate",
          org.apache.spark.sql.functions.to_date(
            org.apache.spark.sql.functions.col("o_orderdate"))))
        .collect().map(_.toSeq).toSet
      (vb.flatten.isEmpty && got.isEmpty) || got == want
    }

  // ---- DedupIndex -------------------------------------------------

  property("DedupIndex: any ingest split + re-ingest == rebuilt index") =
    forAll(Gen.choose(2, 3).flatMap { k =>
      val docs = (1L to 6L).map(d =>
        (d, s"alpha beta gamma delta epsilon zeta token$d tail words"))
      for {
        db <- assignGen(docs, k)
        reingest <- Gen.someOf(docs).map(_.toSeq)
      } yield (k, db, reingest)
    }) { case (k, db, reingest) =>
      import spark.implicits._
      val table = freshTable("dedup")
      def ddf(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
      (0 until k).foreach { i =>
        if (db(i).nonEmpty) DedupIndex.appendBatch(ddf(db(i)), table, i + 1L)
      }
      // re-ingesting docs at a later version must REPLACE their rows
      // idempotently, never duplicate them
      if (reingest.nonEmpty)
        DedupIndex.appendBatch(ddf(reingest), table, k + 1L)
      val got = DedupIndex.loadIndex(spark, table).map(
        _.collect().map(_.toSeq).toSet).getOrElse(Set.empty)
      val want =
        if (db.flatten.isEmpty && reingest.isEmpty) Set.empty
        else StreamingDedup.bandIndex(ddf(db.flatten))
          .collect().map(_.toSeq).toSet
      got == want
    }
}
