package graft

import org.apache.spark.sql.functions._
import graft.core.{Scratch, Tables}
import graft.operators.skew.Salting

/** Scale-posture mechanics: bucketed co-located joins (no shuffle) and
  * salted skew joins (equal results). */
class ScaleSpec extends SparkTestBase {

  test("bucketed tables co-locate the join: no shuffle exchange") {
    val wh = Scratch.dir(spark, "bucketed")
    val li = Tables.lineitem(spark, sf0001).select("l_orderkey", "l_quantity")
    val o = Tables.orders(spark, sf0001).select("o_orderkey", "o_custkey")
    li.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$wh/li_b").saveAsTable("li_b")
    o.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wh/o_b").saveAsTable("o_b")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("li_b")
        .join(spark.table("o_b"), col("l_orderkey") === col("o_orderkey"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"), plan)
      assert(joined.count() == Tables.lineitem(spark, sf0001).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS o_b")
    }
  }

  test("salted join == plain join (bag equality)") {
    val li = Tables.lineitem(spark, sf0001)
      .select(col("l_orderkey").as("k"), col("l_quantity"))
    val o = Tables.orders(spark, sf0001)
      .select(col("o_orderkey").as("k"), col("o_orderstatus"))
    val plain = li.join(o, "k")
    val salted = Salting.saltedJoin(li, o, "k", salts = 8)
    assert(plain.count() == salted.count())
    assertSameRows(
      salted.select("k", "l_quantity", "o_orderstatus"),
      plain.select("k", "l_quantity", "o_orderstatus"))
  }
}
