package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.core.Sessions
import graft.sinks.TxLog
import graft.sources.Sources
import graft.streaming.{CdcRouter, DwsJob, LogSplit}

/** Benchmark harness: builds the session, warms up, runs whole rounds of
  * one workload until the measuring time is used, then writes the raw
  * figures and the outputs the checks read.
  *
  * Usage: graftbench.Main key=value... with keys workload, inputs, run,
  * seconds, trace, cpus (local[n] threads), t0 (epoch ms the set-up clock
  * started) and, for the batch workloads, ops (a file of "name<TAB>module"
  * lines) and warm (a comma-separated list of queries the warm-up runs
  * once). */
object Main {
  final case class Op(name: String, module: String, round: Int,
                      buildS: Double, totalS: Double, ok: Boolean)

  def main(args: Array[String]): Unit = {
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val run = Paths.get(a("run"))
    val inputs = Paths.get(a("inputs"))
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cpus = a("cpus")
    val t0 = a("t0").toLong
    mark(t0, "jvm up")
    val spark = Sessions.local(cpus)
    mark(t0, "session built")
    val probe = new Probe(spark, trace)
    val out = new Json
    try {
      a("workload") match {
        case "stream_ods_dws" =>
          new StreamWorkload(spark, probe, inputs, run, seconds, a("t0").toLong, out).run()
        case _ =>
          val ops = Files.readAllLines(Paths.get(a("ops"))).asScala.toSeq
            .filter(_.nonEmpty).map(_.split('\t')).map(x => x(0) -> x(1))
          new BatchWorkload(spark, probe, inputs, run, seconds, a("t0").toLong,
            ops, a("warm").split(',').toSeq, out).run()
      }
      Files.writeString(run.resolve("harness.json"), out.render)
    } finally spark.stop()
  }

  /** Runs the thunks on threads of their own and waits for all of them. */
  def parallel(work: Seq[() => Unit]): Unit = {
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = work.map(w => new Thread(() => try w() catch { case e: Throwable => errors.add(e) }))
    threads.foreach(_.start()); threads.foreach(_.join())
    Option(errors.peek()).foreach(e => throw e)
  }

  /** Set-up progress, for the log. */
  def mark(t0: Long, what: String): Unit =
    System.err.println(f"[bench] $what at ${(System.currentTimeMillis - t0) / 1000.0}%.2f s")

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  def now: Double = System.nanoTime / 1e9

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.ceil(q * s.size).toInt - 1).max(0))
    }

  /** Bytes of regular files under a directory. */
  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)

  /** Drop cached blocks one operation left behind, so each op runs from
    * its own plan (the same isolation `graft.Verify` gives each query). */
  def isolate(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

/** A flat JSON object of numbers, strings and string lists. */
final class Json {
  private val fields = mutable.LinkedHashMap[String, String]()
  private def q(s: String) = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def n(d: Double) = if (d.isNaN || d.isInfinite) "0" else d.toString
  def num(k: String, v: Double): Unit = fields(k) = n(v)
  def str(k: String, v: String): Unit = fields(k) = q(v)
  def strs(k: String, v: Seq[String]): Unit = fields(k) = v.map(q).mkString("[", ",", "]")
  def render: String = fields.map { case (k, v) => s"${q(k)}: $v" }.mkString("{\n", ",\n", "\n}\n")
}

/** Metrics shared by all workloads: per-round Spark totals and JVM. */
trait Common {
  def spark: SparkSession
  def probe: Probe
  def out: Json

  def layerTotals(rounds: Int, workS: Double, cpus: Double): Unit = {
    val r = rounds.toDouble
    val all = probe.acc("all")
    out.num("spark.jobs", all.jobs / r)
    out.num("spark.tasks", all.tasks / r)
    out.num("spark.task_s", all.taskMs / 1000.0 / r)
    out.num("spark.shuffle_mb", all.shuffleBytes / 1e6 / r)
    out.num("spark.spill_mb", all.spillBytes / 1e6 / r)
    out.num("spark.util", if (workS > 0) all.taskMs / 1000.0 / r / (workS * cpus) else 0)
    out.num("core.schema_jobs", probe.acc("site:core.schema").jobs / r)
    for ((site, key) <- Seq("sinks.txlog" -> "site:sinks.txlog",
        "sinks.upsert" -> "site:sinks.upsert", "streaming.joinindex" -> "via:streaming.joinindex")) {
      val acc = probe.acc(key)
      out.num(s"$site.jobs", acc.jobs / r)
      out.num(s"$site.task_s", acc.taskMs / 1000.0 / r)
    }
    val sinkOut = probe.acc("site:sinks.txlog").outBytes + probe.acc("site:sinks.upsert").outBytes
    out.num("sinks.written_mb", sinkOut / 1e6 / r)
    val ops = math.max(1L, opsPerRound).toDouble * r
    out.num("plans.analyze_ms", probe.phase("analysis") / ops)
    out.num("plans.optimize_ms", probe.phase("optimization") / ops)
    out.num("plans.plan_ms", probe.phase("planning") / ops)
  }

  def opsPerRound: Long

  /** operators.<m>.*: jobs whose call site is in the module, plus the
    * jobs of operations attributed to it; exec_s is their op wall. */
  def operators(rounds: Int, execS: String => Double): Unit =
    for (m <- Seq("dwd", "dws", "dim", "graph", "ml", "llm")) {
      val mod = "operators." + m
      val site = probe.acc("site:" + mod)
      val op = probe.acc("op:" + mod)
      out.num(s"$mod.exec_s", execS(m))
      out.num(s"$mod.jobs", (site.jobs + op.jobs).toDouble / rounds)
      out.num(s"$mod.task_s", (site.taskMs + op.taskMs) / 1000.0 / rounds)
      out.num(s"$mod.shuffle_mb", (site.shuffleBytes + op.shuffleBytes) / 1e6 / rounds)
    }

  /** sinks.write_amp: bytes the sink jobs wrote over the bytes the stores'
    * current rows take written once; the rows the program hands its sinks
    * are not visible from outside it, so the live rows stand in for them.
    * Traced runs only: the rewrite is Spark work of its own, so it runs
    * after every other figure is taken. */
  def writeAmp(stores: Seq[() => DataFrame], scratch: Path): Unit =
    if (!probe.trace) out.num("sinks.write_amp", 0)
    else {
      val written = probe.acc("site:sinks.txlog").outBytes + probe.acc("site:sinks.upsert").outBytes
      val live = stores.zipWithIndex.map { case (df, i) =>
        val p = scratch.resolve(s"store$i")
        df().write.parquet(p.toString)
        Files.list(p).iterator().asScala.filter(_.toString.endsWith(".parquet"))
          .map(Files.size).sum
      }.sum
      out.num("sinks.write_amp", if (live > 0) written.toDouble / live else 0)
    }

  def jvm(gcStart: Long, rounds: Int): Unit = {
    out.num("jvm.gc_s", (Main.gcMs - gcStart) / 1000.0 / rounds)
    val hwm = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    out.num("jvm.peak_rss_mb", hwm)
  }
}

/** `batch_dataflows` and `eager_kernels`: rounds over a fixed list of
  * `SparkEntry.queries` builders. One operation = one builder call plus
  * its action, a parquet write the checks read back. */
final class BatchWorkload(val spark: SparkSession, val probe: Probe, inputs: Path,
                          run: Path, seconds: Double, t0: Long,
                          ops: Seq[(String, String)], warm: Seq[String], val out: Json)
    extends Common {
  import Main._
  private val data = inputs.resolve("tables").toString
  private val builders = SparkEntry.queries
  def opsPerRound: Long = ops.size.toLong

  private def runOp(name: String, module: String, round: Int, dir: Path): Op = {
    val builder = builders(name)
    isolate(spark)
    spark.sparkContext.setLocalProperty("graftbench.module", module)
    val t0 = now
    try {
      val df = builder(spark, data)
      val t1 = now
      df.write.mode("overwrite").parquet(dir.resolve(name).toString)
      Op(name, module, round, t1 - t0, now - t0, ok = true)
    } catch {
      case e: Exception =>
        System.err.println(s"[bench] $name failed: $e")
        deleteTree(dir.resolve(name))
        Op(name, module, round, 0, now - t0, ok = false)
    }
  }

  /** TxLog tables dim_agg_rollup_incremental creates in java.io.tmpdir
    * and leaves there. */
  private def tmpStores: Seq[Path] =
    Files.list(Paths.get(System.getProperty("java.io.tmpdir"))).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("graft-aggidx-"))

  /** The oracle SQL of each op, for the checks. */
  private def dumpOracle(): Unit = {
    val o = new Json
    ops.foreach { case (n, _) => SparkEntry.oracleSql.get(n).foreach(o.str(n, _)) }
    Files.writeString(run.resolve("oracle_sql.json"), o.render)
  }

  def run(): Unit = {
    dumpOracle()
    mark(t0, "oracle SQL written")
    // warm-up queries run side by side: they load and compile the shared
    // code paths once, and set-up stays short
    parallel(warm.map { n => () =>
      builders(n)(spark, data).write.mode("overwrite").parquet(run.resolve("warm/" + n).toString)
    })
    mark(t0, "warmed")
    val warmStores = tmpStores
    probe.drain(); probe.reset()
    val setupS = (System.currentTimeMillis - t0) / 1000.0
    val gc0 = gcMs
    val done = mutable.ArrayBuffer[Op]()
    val roundWalls = mutable.ArrayBuffer[Double]()
    val start = now
    var r = 0
    // whole rounds only: another one starts while it fits the measuring time
    while (r == 0 || now - start + roundWalls.last <= seconds) {
      val dir = run.resolve(s"out/r$r")
      val rs = now
      ops.foreach { case (n, m) => done += runOp(n, m, r, dir) }
      roundWalls += now - rs
      r += 1
    }
    probe.drain()
    val workS = median(roundWalls.toSeq)
    out.num("setup_s", setupS)
    out.num("work_s", workS)
    out.num("op_p50_s", median(done.map(_.totalS).toSeq))
    out.num("rounds", r)
    out.num("attempted", done.size)
    out.num("failed", done.count(!_.ok))
    out.strs("failed_ops", done.filterNot(_.ok).map(o => s"r${o.round}/${o.name}").toSeq)
    out.num("core.build_s", done.map(_.buildS).sum / r)
    operators(r, m => done.filter(_.module == "operators." + m).map(_.totalS).sum / r)
    // no streams run here
    for (q <- Seq("log_split", "dws_window", "cdc_dim");
         m <- Seq("batch_p50_s", "batch_p90_s", "jobs_per_batch"))
      out.num(s"streaming.$q.$m", 0)
    for (m <- Seq("add_batch_s", "query_planning_s", "wal_commit_s", "commit_offsets_s",
        "state_rows", "state_mb", "restart_s"))
      out.num("streaming." + m, 0)
    // the stores the timed dim_* views left in java.io.tmpdir
    val stores = tmpStores.filterNot(warmStores.contains)
    val storeBytes = stores.map(dirBytes).sum.toDouble / r
    out.num("sinks.store_mb", storeBytes / 1e6)
    layerTotals(r, workS, spark.sparkContext.defaultParallelism)
    jvm(gc0, r)
    // each store holds one TxLog table directory
    writeAmp(stores.flatMap(s => Files.list(s).iterator().asScala)
      .map(t => () => TxLog.read(spark, t.toString).get), run.resolve("live"))
  }
}

/** `stream_ods_dws`: the reference's DWD/DIM/DWS triad as three streams
  * over a file backlog, one file per micro-batch. Each round drains the
  * first half, stops every stream, then drains the second half; the DWS
  * stream restarts from its checkpoint, the other two (which take no
  * checkpoint) start anew over the files that remain. */
final class StreamWorkload(val spark: SparkSession, val probe: Probe, inputs: Path,
                           run: Path, seconds: Double, t0: Long, val out: Json)
    extends Common {
  import Main._
  import spark.implicits._

  private val logFiles = Files.list(inputs.resolve("logs")).iterator().asScala.toSeq.sortBy(_.toString)
  private val cdcFiles = Files.list(inputs.resolve("cdc")).iterator().asScala.toSeq.sortBy(_.toString)
  private val config = Files.readAllLines(inputs.resolve("config.tsv")).asScala.toSeq
    .filter(_.nonEmpty).map(_.split('\t')).map(x => (x(0), x(1), x(2), x(3)))
    .toDF("source_table", "sink_table", "sink_columns", "sink_pk")
  def opsPerRound: Long = (2 * logFiles.size + cdcFiles.size).toLong

  private def link(files: Seq[Path], dir: Path): Unit = {
    Files.createDirectories(dir)
    files.foreach(f => Files.createLink(dir.resolve(f.getFileName), f))
  }

  private def text(dir: Path): DataFrame =
    spark.readStream.option("maxFilesPerTrigger", "1").text(dir.toString)

  private def stream[T](name: String)(body: => T): T = {
    probe.stream = name
    spark.sparkContext.setLocalProperty("graftbench.module", "streaming")
    body
  }

  /** One round; returns (wall s, epoch ms the DWS stream was restarted). */
  private def round(dir: Path, logs: Seq[Path], cdc: Seq[Path]): (Double, Long) = {
    val (la, lb) = logs.splitAt(logs.size / 2)
    val (ca, cb) = cdc.splitAt(cdc.size / 2)
    link(la, dir.resolve("src/logs_a")); link(lb, dir.resolve("src/logs_b"))
    link(ca, dir.resolve("src/cdc_a")); link(cb, dir.resolve("src/cdc_b"))
    link(la, dir.resolve("src/dws"))
    val split = dir.resolve("out/split").toString
    val table = dir.resolve("out/dws").toString
    val ckpt = dir.resolve("ckpt/dws").toString
    val dims = dir.resolve("out/dims").toString
    // each call stops its stream gracefully once its files are drained
    def half(logSrc: String, cdcSrc: String): Long = {
      stream("log_split")(LogSplit.run(spark, text(dir.resolve(logSrc)), split))
      val dwsStart = System.currentTimeMillis
      stream("dws_window")(DwsJob.runLogPipeline(spark, text(dir.resolve("src/dws")), table, ckpt))
      stream("cdc_dim")(CdcRouter.runEnvelope(spark,
        Sources.cdcEnvelope(text(dir.resolve(cdcSrc))), config, dims))
      dwsStart
    }
    val start = now
    half("src/logs_a", "src/cdc_a")
    // the second half's files land after the stop; the DWS stream then
    // resumes from its checkpoint
    link(lb, dir.resolve("src/dws"))
    val restartMs = half("src/logs_b", "src/cdc_b")
    (now - start, restartMs)
  }

  /** Outputs for the checks, read outside the timed region. */
  private def dump(dir: Path): Unit = {
    val check = dir.resolve("check")
    TxLog.read(spark, dir.resolve("out/dws").toString).get
      .select("stt", "vc", "pv_ct", "dur_sum")
      .write.mode("overwrite").parquet(check.resolve("dws").toString)
  }

  def run(): Unit = {
    // warm-up: the head of each backlog through its stream, once
    probe.round = -1
    val w = run.resolve("warm")
    link(Seq(inputs.resolve("warm/logs/part-0000.json")), w.resolve("logs"))
    link(Seq(inputs.resolve("warm/cdc/part-0000.json")), w.resolve("cdc"))
    parallel(Seq(
      () => LogSplit.run(spark, text(w.resolve("logs")), w.resolve("split").toString),
      () => DwsJob.runLogPipeline(spark, text(w.resolve("logs")), w.resolve("dws").toString,
        w.resolve("ckpt").toString),
      () => CdcRouter.runEnvelope(spark, Sources.cdcEnvelope(text(w.resolve("cdc"))), config,
        w.resolve("dims").toString)))
    mark(t0, "warmed")
    probe.drain(); probe.reset()
    val setupS = (System.currentTimeMillis - t0) / 1000.0
    val gc0 = gcMs
    val walls = mutable.ArrayBuffer[Double]()
    val restarts = mutable.ArrayBuffer[Long]()
    val start = now
    var r = 0
    while (r == 0 || now - start + walls.last <= seconds) {
      probe.round = r
      val (w, restart) = round(run.resolve(s"out/r$r"), logFiles, cdcFiles)
      walls += w; restarts += restart
      r += 1
    }
    probe.drain()
    (0 until r).foreach(i => dump(run.resolve(s"out/r$i")))
    val all = probe.batches.asScala.toSeq.filter(_.round >= 0)
    val data = all.filter(_.inputRows > 0)
    def trig(b: Batch) = b.durations.getOrElse("triggerExecution", 0L) / 1000.0
    val streams = Seq("log_split", "dws_window", "cdc_dim")
    // latency of backlog file k: the trigger durations of the three
    // streams' k-th data micro-batches of a round, summed (log file k
    // feeds LogSplit and DWS, CDC file k feeds the dim stores)
    val perFile = (0 until r).flatMap { i =>
      val byStream = streams.map(q =>
        data.filter(b => b.round == i && b.stream == q).sortBy(_.endMs).map(trig))
      (0 until byStream.map(_.size).min).map(k => byStream.map(_(k)).sum)
    }
    val workS = median(walls.toSeq)
    out.num("setup_s", setupS)
    out.num("work_s", workS)
    out.num("op_p50_s", median(perFile))
    out.num("rounds", r)
    out.num("data_batches", data.size)
    out.num("dropped_by_watermark", all.map(_.dropped).sum)
    for (q <- streams) {
      val mine = data.filter(_.stream == q)
      out.num(s"streaming.$q.batch_p50_s", median(mine.map(trig)))
      out.num(s"streaming.$q.batch_p90_s", quantile(mine.map(trig), 0.9))
      val jobs = probe.acc("stream:" + q).jobs
      out.num(s"streaming.$q.jobs_per_batch",
        if (mine.isEmpty) 0 else jobs.toDouble / all.count(_.stream == q))
    }
    for ((k, m) <- Seq("addBatch" -> "add_batch_s", "queryPlanning" -> "query_planning_s",
        "walCommit" -> "wal_commit_s", "commitOffsets" -> "commit_offsets_s"))
      out.num("streaming." + m, all.map(_.durations.getOrElse(k, 0L)).sum / 1000.0 / r)
    val dws = all.filter(_.stream == "dws_window")
    out.num("streaming.state_rows", if (dws.isEmpty) 0 else dws.map(_.stateRows).max)
    out.num("streaming.state_mb", if (dws.isEmpty) 0 else dws.map(_.stateBytes).max / 1e6)
    // restart: from the call that restarts the DWS stream to its first
    // committed batch
    val restartS = (0 until r).flatMap { i =>
      dws.filter(b => b.round == i && b.endMs >= restarts(i)).map(_.endMs).minOption
        .map(e => (e - restarts(i)) / 1000.0)
    }
    out.num("streaming.restart_s", median(restartS))
    val storeBytes = (0 until r).map { i =>
      val o = run.resolve(s"out/r$i/out")
      dirBytes(o.resolve("dims")) + dirBytes(o.resolve("dws"))
    }.sum.toDouble / r
    out.num("sinks.store_mb", storeBytes / 1e6)
    out.num("core.build_s", 0)
    operators(r, _ => 0)
    layerTotals(r, workS, spark.sparkContext.defaultParallelism)
    jvm(gc0, r)
    writeAmp((0 until r).flatMap { i =>
      val o = run.resolve(s"out/r$i/out")
      (() => TxLog.read(spark, o.resolve("dws").toString).get) +:
        Files.list(o.resolve("dims")).iterator().asScala.toSeq
          .map(d => () => spark.read.parquet(d.toString))
    }, run.resolve("live"))
  }
}
