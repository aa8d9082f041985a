package graftbench

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One micro-batch as its progress event reports it. */
final case class Batch(stream: String, round: Int, inputRows: Long,
                       durations: Map[String, Long], endMs: Long,
                       stateRows: Long, stateBytes: Long, dropped: Long)

/** Per-attribution-key counters of Spark jobs and their tasks. */
final class Acc {
  var jobs = 0L; var tasks = 0L; var taskMs = 0L
  var shuffleBytes = 0L; var spillBytes = 0L; var outBytes = 0L
}

/** Everything the benchmark learns from Spark's public listeners.
  *
  * The streaming listener always runs: trigger durations are the
  * streaming workload's operation latencies. With `trace` the job and
  * query-execution listeners run too; each job is attributed to the repo
  * module of the class at its call site (the first frame outside Spark),
  * or, when that frame is the query registry or the benchmark itself, to
  * the module of the operation in flight. */
final class Probe(spark: SparkSession, val trace: Boolean) {
  @volatile var stream = ""      // stream whose query is being started
  @volatile var round = 0
  val streamOfQuery = new ConcurrentHashMap[String, String]()
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()
  val accs = new ConcurrentHashMap[String, Acc]()
  private val jobKeys = new ConcurrentHashMap[Int, Seq[String]]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val phaseMs = new ConcurrentHashMap[String, Long]()
  private val execSite = new ConcurrentHashMap[Long, Seq[String]]()

  def reset(): Unit = {
    batches.clear(); accs.clear(); phaseMs.clear()
  }

  def acc(key: String): Acc = accs.computeIfAbsent(key, _ => new Acc)
  def phase(name: String): Long = phaseMs.getOrDefault(name, 0L)

  /** Repo module of a call-site class, or None for the query registry
    * and code outside the repo (attributed to the operation instead). */
  def moduleOf(cls: String): Option[String] = {
    val parts = cls.split('.')
    if (parts.length < 3 || parts(0) != "graft") None
    else {
      val obj = parts.last.takeWhile(_ != '$')
      (parts(1), obj) match {
        case ("operators", _) if parts.length >= 4 => Some("operators." + parts(2))
        case ("streaming", "JoinIndex" | "AggIndex") => Some("streaming.joinindex")
        case ("sinks", "TxLog") => Some("sinks.txlog")
        case ("sinks", "Sinks") => Some("sinks.upsert")
        case ("core", "Tables") => Some("core.schema")
        case (m, _) => Some(m)
      }
    }
  }

  /** Classes of the user frames of a long call-site form: line 0 is the
    * last Spark frame, the rest are user frames, innermost first, e.g.
    * "graft.sinks.TxLog$.commitUpsert(TxLog.scala:1)". */
  private def frames(details: String): Seq[String] =
    details.split('\n').toSeq.drop(1).map { f =>
      val q = f.trim.takeWhile(_ != '(')
      q.substring(0, math.max(0, q.lastIndexOf('.')))
    }

  /** Keys a call site adds: its own module, plus the incremental-view
    * indexes when they are anywhere on the stack (their jobs run inside
    * TxLog, so the innermost frame alone never names them). */
  private def siteKeys(details: String): Seq[String] = {
    val fs = frames(details)
    fs.headOption.flatMap(moduleOf).map("site:" + _).toSeq ++
      (if (fs.exists(c => c.startsWith("graft.streaming.JoinIndex") ||
          c.startsWith("graft.streaming.AggIndex"))) Seq("via:streaming.joinindex")
       else Nil)
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val result = e.stageInfos.maxBy(_.stageId)
      // jobs an SQL execution launches from Spark's own thread pools
      // (broadcasts, adaptive query stages) take the execution's site
      val own = siteKeys(result.details)
      val site = if (own.exists(_.startsWith("site:"))) own
        else prop("spark.sql.execution.id")
          .flatMap(id => Option(execSite.get(id.toLong))).getOrElse(Nil)
      val opModule = prop("graftbench.module").getOrElse("other")
      val streamKey = prop("sql.streaming.queryId")
        .flatMap(id => Option(streamOfQuery.get(id))).map("stream:" + _)
      val keys = Seq("all") ++
        (if (site.exists(_.startsWith("site:"))) site else ("op:" + opModule) +: site) ++
        streamKey
      jobKeys.put(e.jobId, keys)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      keys.foreach(k => acc(k).synchronized(acc(k).jobs += 1))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execSite.put(s.executionId, siteKeys(s.details))
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val keys = Option(stageJob.get(e.stageId)).flatMap(j => Option(jobKeys.get(j)))
        .getOrElse(Seq("all"))
      keys.foreach { k =>
        val a = acc(k)
        a.synchronized {
          a.tasks += 1
          a.taskMs += m.executorRunTime
          a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          a.spillBytes += m.diskBytesSpilled
          a.outBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      qe.tracker.phases.foreach { case (name, p) =>
        phaseMs.merge(name, p.durationMs, (a: Long, b: Long) => a + b)
      }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      streamOfQuery.put(e.id.toString, stream)
      // runs on the stream's own thread: drop the call site Spark copies
      // from `start()` so jobs inside foreachBatch show their real site
      if (trace) spark.sparkContext.clearCallSite()
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val durations = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val st = p.stateOperators
      batches.add(Batch(Option(streamOfQuery.get(p.id.toString)).getOrElse("?"),
        round, p.numInputRows, durations,
        start + durations.getOrElse("triggerExecution", 0L),
        st.map(_.numRowsTotal).sum, st.map(_.memoryUsedBytes).sum,
        st.map(_.numRowsDroppedByWatermark).sum))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  spark.streams.addListener(streamListener)
  if (trace) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  def drain(): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)
}
