package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Config-driven DIM router (SURVEY §2.4 J5 + sinks K5/K6).
  *
  * Reference `TableProcessFunction.java:27-175` + `DimApp.java:47-104`:
  * a CDC config stream (`table_process` rows: sourceTable → sinkTable,
  * sinkColumns, sinkPK) is broadcast to all tasks; main-stream rows are
  * routed by table name, column-pruned to `sinkColumns`, and upserted
  * into per-table Phoenix sinks whose DDL is generated on the fly
  * (`:74-127`).
  *
  * Spark twin: the config is a small DataFrame broadcast-joined to the
  * stream on the table name (unknown tables drop out of the inner join,
  * matching `:146-149`); per-table fan-out happens in `foreachBatch`,
  * writing parquet per sink table (dynamic "DDL" = directory+schema
  * creation) after a last-wins MERGE by the sink PK.
  */
object CdcRouter {

  /** Route: stream ⋈ broadcast(config) on the table name. The config
    * frame has columns (source_table, sink_table, sink_columns,
    * sink_pk); its key is renamed before the join so a stream whose
    * table column is also called `source_table` stays unambiguous. */
  def route(cdc: DataFrame, config: DataFrame, tableCol: String): DataFrame =
    cdc.join(
      broadcast(config.withColumnRenamed("source_table", "__cfg_source")),
      col(tableCol) === col("__cfg_source"))
      .drop("__cfg_source")

  /** Dynamic column pruning by the config string
    * (`TableProcessFunction.java:157-175`): keep only `sink_columns`. */
  def prune(routed: DataFrame, sinkColumns: String): DataFrame =
    routed.select(sinkColumns.split(",").map(c => col(c.trim)): _*)

  /** Run `write` for every config row, the sink tables concurrently
    * (`graft.core.Par`, at most `defaultParallelism` threads). Rows
    * that share a sink table stay on one worker, in config order: each
    * merge reads and swaps the whole store, so two at once would race.
    * Returns once every write has finished; the first failure is
    * rethrown after the others have joined. */
  private def perSink(spark: SparkSession,
                      config: Seq[(String, String, String, String)])(
      write: ((String, String, String, String)) => Unit): Unit = {
    val bySink = config.groupBy(_._2)
    graft.core.Par.foreach(config.map(_._2).distinct.map(bySink),
      spark.sparkContext.defaultParallelism)(_.foreach(write))
  }

  /** Per-table fan-out of one (cached) batch: for each configured sink
    * table, prune columns and MERGE into the keyed store by the sink PK
    * ordered by `versionCol` (K5 upsert semantics, via
    * `Sinks.upsertParquet` — prior batches survive; an empty routed
    * slice is a no-op, never a wipe). The sink tables are written
    * concurrently (`perSink`, at most `defaultParallelism` threads).
    * After a failed merge no further sink starts and the batch fails;
    * stores already merged keep their rows, and a replay re-merges
    * them to the same winners. */
  def fanOut(batch: DataFrame, config: Seq[(String, String, String, String)],
             tableCol: String, versionCol: String, outDir: String): Unit = {
    val cached = batch.persist()
    try perSink(batch.sparkSession, config) { case (source, sink, cols, pk) =>
      // append the version column only when the config doesn't already
      // list it (a CDC op_ts is a natural sink column; naming it twice
      // would make the upsert's orderBy ambiguous)
      val colList =
        if (cols.split(",").map(_.trim).contains(versionCol)) cols
        else cols + "," + versionCol
      val routed = prune(cached.filter(col(tableCol) === source), colList)
      if (!routed.isEmpty)
        graft.sinks.Sinks.upsertParquet(routed, s"$outDir/$sink", pk, versionCol)
    } finally { cached.unpersist(); () }
  }

  /** Flatten one config row's slice of a CDC-envelope batch
    * (`Sources.cdcEnvelopeSchema`: database/table/type/ts/data/old)
    * into sink-shaped rows: `sink_columns` pulled from the `data` map
    * (Maxwell puts the FINAL row image in `data` for every op type,
    * deletes included, so the PK is always present), a `__ver` version
    * from the envelope ts, and a `__deleted` tombstone from the op
    * type — the reference's delete path (`DimApp.java:75-87` routes
    * all op types; `DimSinkFunction.java:17-51` upserts data and
    * invalidates on delete). Unknown op types are DROPPED (the same
    * unknown-row discard as `TableProcessFunction.java:146-149`) —
    * passing them through as upserts would resurrect rows a
    * bootstrap/ddl marker never carried. */
  def flattenEnvelope(env: DataFrame, source: String,
                      sinkColumns: String): DataFrame = {
    val fields = sinkColumns.split(",").map(_.trim)
      .map(c => col("data")(c).as(c))
    env.filter(col("table") === source &&
        col("type").isin("insert", "update", "delete", "bootstrap-insert"))
      .select(fields
        :+ col("ts").cast("long").as("__ver")
        :+ (col("type") === "delete").as("__deleted"): _*)
  }

  /** Envelope-batch fan-out with delete semantics: per configured sink,
    * flatten + last-wins MERGE by the sink PK ordered by the envelope
    * ts. Tombstones are MERGED AND KEPT (not dropped post-merge): a
    * delete must keep outranking any stale pre-delete image that
    * arrives in a LATER batch, which only works if the tombstone's
    * version survives in the store. `Sinks.readDim` filters them on
    * read. Version ties (same ts, e.g. a delete+reinsert in one
    * binlog second) break on the row content hash — the same total
    * order every upsert in this repo uses. The sink tables are
    * written concurrently (`perSink`, at most `defaultParallelism`
    * threads). After a failed merge no further sink starts and the
    * batch fails; stores already merged keep their rows, and the
    * replay is idempotent. */
  def fanOutEnvelope(batch: DataFrame,
                     config: Seq[(String, String, String, String)],
                     outDir: String): Unit = {
    val cached = batch.persist()
    try perSink(batch.sparkSession, config) { case (source, sink, cols, pk) =>
      val rows = flattenEnvelope(cached, source, cols)
      if (!rows.isEmpty)
        graft.sinks.Sinks.upsertParquet(rows, s"$outDir/$sink", pk, "__ver")
    } finally { cached.unpersist(); () }
  }

  /** The static config table as (source, sink, columns, pk) tuples.
    * The config frame is broadcast-state-sized by contract (one row
    * per routed table, matching the reference's MapState); the collect
    * is guarded so a mis-wired fact table fails loudly, not with an
    * OOM. */
  private def configRows(spark: SparkSession, config: DataFrame)
      : Seq[(String, String, String, String)] = {
    val maxCfg = spark.conf
      .get("spark.graft.cdc.maxConfigRows", "10000").toLong
    // clamp: a sky-high "disable the guard" setting must not overflow
    // into a negative limit()
    val probe = math.min(maxCfg + 1, Int.MaxValue.toLong).toInt
    val cfgRows = config.limit(probe).collect()
    require(cfgRows.length <= maxCfg,
      s"CdcRouter: config exceeds $maxCfg rows — not a config table")
    cfgRows.map(r => (
      r.getAs[String]("source_table"), r.getAs[String]("sink_table"),
      r.getAs[String]("sink_columns"), r.getAs[String]("sink_pk"))).toSeq
  }

  /** Streaming shell for the envelope path: CDC-envelope stream →
    * foreachBatch fan-out with delete semantics. Replay-idempotent:
    * re-processing a batch re-merges the same rows into the same
    * winners (keyed merge + total order), so a checkpoint-less
    * restart that re-reads files converges to the same store. */
  def runEnvelope(spark: SparkSession, envStream: DataFrame,
                  config: DataFrame, outDir: String): Unit = {
    val cfg = configRows(spark, config)
    val q = envStream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        fanOutEnvelope(batch, cfg, outDir)
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** Streaming shell: CDC stream + static config → foreachBatch fan-out
    * (the reference's broadcast-state wiring, `DimApp.java:89-97`).
    * The stream goes to `foreachBatch` UN-joined: `fanOut` already
    * routes per config row (unknown tables match nothing and drop,
    * `TableProcessFunction.java:146-149`), whereas pre-joining via
    * `route` would emit one copy per matching config row and make a
    * source mapped to N sinks carry N× rows into every slice. */
  def run(spark: SparkSession, cdcStream: DataFrame, config: DataFrame,
          tableCol: String, versionCol: String, outDir: String): Unit = {
    val cfg = configRows(spark, config)
    val q = cdcStream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        fanOut(batch, cfg, tableCol, versionCol, outDir)
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }
}
