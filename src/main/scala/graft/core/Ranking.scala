package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed global row numbering. Spark's `Window.orderBy` with no
  * `partitionBy` collapses the whole input into ONE task — the classic
  * global-ranking scale trap. This helper keeps the sort distributed:
  *
  *   1. `repartitionByRange(sort)` — the ordinary range-exchange a
  *      global `ORDER BY` plans (partition p holds keys strictly below
  *      partition p+1's),
  *   2. per-partition row counts — ONE aggregate whose result is
  *      bounded by the partition count (a true bounded driver scalar
  *      set, the `Components`/`Traversal` contract),
  *   3. rank = partition-local `row_number` (each window task covers
  *      exactly one range partition, so all partitions rank in
  *      parallel) + the broadcast cumulative offset of the partitions
  *      before it.
  *
  * The caller MUST pass a total order (append a unique tiebreak
  * column): with a total order the assignment is independent of where
  * the range sampler happens to place partition boundaries, so the
  * output is deterministic and SQL engines replay it as a plain
  * `row_number() OVER (ORDER BY ...)`. */
object Ranking {

  /** `df` plus a 1-based BIGINT `out` column numbering rows in `sort`
    * order. `sort` must be a total order over the rows.
    *
    * The ranged frame is MATERIALIZED once (scratch parquet, the
    * iterative-operator contract) before anything reads it:
    * `repartitionByRange` samples boundaries with a per-execution
    * seed, so executing the plan twice — once for the counts collect,
    * once for the returned frame — could assign rows to different
    * partitions between the two actions and duplicate or skip ranks.
    * Both the counts and the output derive from the single
    * materialization, so the pid→offset map always matches the rows
    * it numbers. */
  def withGlobalRowNumber(df: DataFrame, sort: Seq[Column],
                          out: String = "rn"): DataFrame = {
    require(sort.nonEmpty, "withGlobalRowNumber: need sort columns")
    val spark = df.sparkSession
    val pid = "__graft_rn_pid"
    val scratch = Scratch.dir(spark, "rank")
    df.repartitionByRange(sort: _*)
      .withColumn(pid, spark_partition_id())
      .write.parquet(scratch)
    val ranged = spark.read.parquet(scratch)
    // bounded: one row per range partition
    val counts = ranged.groupBy(col(pid)).agg(count(lit(1)).as("ct"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = counts.scanLeft((0, 0L)) { case ((_, acc), (p, ct)) =>
      (p, acc + ct)
    }.init.map { case (_, acc) => acc }
    // offsets ride a broadcast join keyed on pid (a chained CASE would
    // blow codegen once shuffle.partitions reaches cluster scale)
    import spark.implicits._
    val off = "__graft_rn_off"
    val offsetsDf = counts.map(_._1).zip(offsets).toSeq.toDF(pid, off)
    val local = Window.partitionBy(col(pid)).orderBy(sort: _*)
    ranged
      .join(broadcast(offsetsDf), pid)
      .withColumn(out, row_number().over(local).cast("long") + col(off))
      .drop(pid, off)
  }
}
