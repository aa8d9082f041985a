package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.JsonFns

/** BaseLogApp — the traffic-log split pipeline (SURVEY §3.1).
  *
  * Reference `BaseLogApp.java`: Kafka JSON → dirty side output (`:54-69`)
  * → is_new correction (`:76-105`) → 4 side-output tags splitting one
  * stream into page/start/display/action/error topics, exploding the
  * `displays[]`/`actions[]` arrays with `common`/`page_id`/`ts`
  * injected (`:107-167`).
  *
  * Spark has no side outputs: the twin is ONE `from_json` pass over a
  * cached micro-batch and five filtered projections (SURVEY §1.1).
  * `explode` replaces the hand-written array loop; array columns are
  * only materialized for the rows that carry them.
  *
  * The is_new correction is NOT applied here: `parse`/`split`/`run`
  * are stateless, so `common.is_new` reaches the split exactly as the
  * client sent it. The correction is keyed state and lives in
  * `VisitFlags.isNewCorrection` (batch) and
  * `StatefulStreams.visitFlagsStream` (streaming).
  */
object LogSplit {

  /** Nested log-event schema (FIXTURES.md §1.1). */
  val logSchema: StructType = StructType(Seq(
    StructField("common", StructType(Seq(
      StructField("mid", StringType), StructField("uid", StringType),
      StructField("vc", StringType), StructField("ch", StringType),
      StructField("ar", StringType), StructField("is_new", StringType),
      StructField("ba", StringType), StructField("md", StringType),
      StructField("os", StringType)))),
    StructField("page", StructType(Seq(
      StructField("page_id", StringType),
      StructField("last_page_id", StringType),
      StructField("item", StringType), StructField("item_type", StringType),
      StructField("during_time", LongType)))),
    StructField("displays", ArrayType(StructType(Seq(
      StructField("item", StringType), StructField("item_type", StringType),
      StructField("pos_id", LongType), StructField("order", LongType))))),
    StructField("actions", ArrayType(StructType(Seq(
      StructField("item", StringType), StructField("item_type", StringType),
      StructField("action_id", StringType), StructField("ts", LongType))))),
    StructField("err", StructType(Seq(
      StructField("error_code", LongType), StructField("msg", StringType)))),
    StructField("start", StructType(Seq(
      StructField("entry", StringType), StructField("open_ad_id", LongType),
      StructField("loading_time", LongType)))),
    StructField("ts", LongType)))

  /** Parse raw JSON strings (column `value`) with quarantine. */
  def parse(raw: DataFrame): DataFrame =
    JsonFns.parseWithQuarantine(raw, col("value"), logSchema)

  /** The five split projections of one parsed batch — Spark's
    * side-output twin. Keys: page, start, display, action, err, dirty. */
  def split(parsed: DataFrame): Map[String, DataFrame] = {
    val clean = parsed.filter(!col("is_dirty")).select(col("parsed.*"))
    Map(
      "dirty" -> parsed.filter(col("is_dirty")).select(col("value")),
      "err" -> clean.filter(col("err").isNotNull)
        .select(col("common"), col("err"), col("ts")),
      "start" -> clean.filter(col("start").isNotNull)
        .select(col("common"), col("start"), col("ts")),
      "page" -> clean.filter(col("start").isNull && col("page").isNotNull)
        .select(col("common"), col("page"), col("ts")),
      "display" -> clean.filter(col("displays").isNotNull)
        .select(col("common"), col("page.page_id").as("page_id"), col("ts"),
          explode(col("displays")).as("display"))
        .select(col("common"), col("page_id"), col("ts"), col("display.*")),
      "action" -> clean.filter(col("actions").isNotNull)
        .select(col("common"), col("page.page_id").as("page_id"),
          explode(col("actions")).as("action"))
        .select(col("common"), col("page_id"), col("action.*")))
  }

  /** Streaming shell: readStream → foreachBatch { cache; write the five
    * splits and the dirty side output } — the reference's Kafka sinks
    * (`BaseLogApp.java:182-192`) become six parquet sinks under
    * `outDir`. As there, the sinks are written concurrently: through
    * `graft.core.Par`, on at most `defaultParallelism` threads. A
    * failed write fails the batch and the query once the other
    * writes have finished; splits already written keep their appends
    * (parquet append is not idempotent, so a re-run over the same
    * files appends them again). */
  def run(spark: SparkSession, rawStream: DataFrame, outDir: String): Unit = {
    val q = parse(rawStream).writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val cached = batch.persist()
        try graft.core.Par.foreach(split(cached).toSeq,
            spark.sparkContext.defaultParallelism) { case (name, df) =>
          df.write.mode("append").parquet(s"$outDir/$name")
        } finally { cached.unpersist(); () }
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }
}
