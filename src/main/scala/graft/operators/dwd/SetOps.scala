package graft.operators.dwd

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Relational-completeness operators absent from the reference
  * (SURVEY §2.4/§2.6 notes "no semi/anti joins, no intersect/except,
  * no LIMIT/top-k" — the reference never needed them, but an engine
  * replacing it should offer the full relational surface). All are
  * thin declarative forms so Catalyst picks the physical strategy:
  * semi/anti become broadcast/shuffled hash joins with early-out
  * probe semantics, set ops become aggregate-based distinct plans,
  * top-k becomes a `TakeOrderedAndProject` (no global sort — each
  * partition keeps k rows, the driver merges k·p).
  */
object SetOps {

  /** LEFT SEMI — orders having at least one high-quantity line.
    * Probe side streams; build side is only the filtered keys, so at
    * 100 TB the semi join ships keys, never payload columns. */
  def semiJoin(orders: DataFrame, lineitem: DataFrame): DataFrame =
    orders
      .join(lineitem.filter(col("l_quantity") > 45).select(col("l_orderkey")),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        round(col("o_totalprice"), 2).as("total"))

  /** LEFT ANTI — customers with no January order. */
  def antiJoin(customer: DataFrame, orders: DataFrame): DataFrame =
    customer
      .join(orders.filter(month(col("o_orderdate")) === 1)
        .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"),
        round(col("c_acctbal"), 2).as("acctbal"))

  /** INTERSECT (distinct) — customers active in both of two calendar
    * months. Catalyst plans this as a left-semi over distinct inputs. */
  def intersectCustomers(orders: DataFrame): DataFrame = {
    val m = orders.select(col("o_custkey"), month(col("o_orderdate")).as("mo"))
    m.filter(col("mo") === 1).select("o_custkey")
      .intersect(m.filter(col("mo") === 2).select("o_custkey"))
  }

  /** EXCEPT (distinct) — customers active in month A but not month B
    * (churn detection); plans as left-anti over distinct inputs. */
  def exceptCustomers(orders: DataFrame): DataFrame = {
    val m = orders.select(col("o_custkey"), month(col("o_orderdate")).as("mo"))
    m.filter(col("mo") === 1).select("o_custkey")
      .except(m.filter(col("mo") === 2).select("o_custkey"))
  }

  /** CUBE over (status, priority): all four grouping combinations in
    * one pass — Spark expands to a single hash aggregate over the
    * grouping-set id, not four scans. Subtotal rows are labeled via
    * `grouping()` (not coalesce) so a genuine NULL group value can
    * never masquerade as a cube subtotal. */
  def statusPriorityCube(orders: DataFrame): DataFrame =
    orders
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("order_ct"),
        round(sum(col("o_totalprice")), 2).as("total_sum"),
        grouping(col("o_orderstatus")).as("__gs"),
        grouping(col("o_orderpriority")).as("__gp"))
      .select(
        when(col("__gs") === 1, lit("ALL"))
          .otherwise(coalesce(col("o_orderstatus"), lit("NULL"))).as("status"),
        when(col("__gp") === 1, lit("ALL"))
          .otherwise(coalesce(col("o_orderpriority"), lit("NULL"))).as("priority"),
        col("order_ct"), col("total_sum"))
      .orderBy("status", "priority")

  /** Global top-k by value with a deterministic tie-break. The plan is
    * `TakeOrderedAndProject`: per-partition top-k then a k·p driver
    * merge — no full shuffle/sort, which is what makes ORDER BY+LIMIT
    * viable over 100 TB. */
  def topKOrders(orders: DataFrame, k: Int = 100): DataFrame =
    orders
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice"), 2).as("total"))
      .orderBy(col("total").desc, col("o_orderkey").asc)
      .limit(k)

  /** Per-GROUP top-k via a bounded typed Aggregator: rows fold into a
    * k-bounded ordered buffer, so the exchange carries at most k rows
    * per key out of the PARTIAL aggregation and nothing is fully
    * sorted. Ordering is (value desc, id asc) — fully tie-broken, so
    * the result is deterministic and identical to the window form
    * (spec + oracle both pin it).
    *
    * MEASURED caveat (SCALE.md, 1.5M rows / 15k keys): Spark
    * 3.5+'s `WindowGroupLimit` rewrite already pushes a per-partition
    * top-k below the exchange for `row_number() <= k` filters, so the
    * window form's shuffle is equally bounded (within 2%) and its
    * sort-based limit ran FASTER locally. Prefer the window form on
    * modern Spark; this operator remains the explicit bounded-buffer
    * formulation for engines/versions without the rewrite and for
    * orderings a window spec can't express.
    *
    * Buffer is a sorted Vector capped at k (insertion cost O(k) — the
    * right trade while k stays small; a binary heap only wins for
    * large k, at the price of non-deterministic encoder layouts). */
  def topKPerGroup(orders: DataFrame, k: Int = 3): DataFrame = {
    val spark = orders.sparkSession
    import spark.implicits._
    val agg = new org.apache.spark.sql.expressions
      .Aggregator[(Long, Long, Double), Seq[(Double, Long)], Seq[(Double, Long)]] {
      // sort key: (-value, id) ascending == (value desc, id asc)
      private def lt(a: (Double, Long), b: (Double, Long)) =
        a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)
      private def insert(buf: Seq[(Double, Long)], v: (Double, Long)) = {
        val (pre, post) = buf.span(lt(_, v))
        (pre ++ (v +: post)).take(k)
      }
      def zero: Seq[(Double, Long)] = Vector.empty
      def reduce(b: Seq[(Double, Long)], r: (Long, Long, Double)) =
        insert(b, (r._3, r._2))
      def merge(a: Seq[(Double, Long)], b: Seq[(Double, Long)]) =
        b.foldLeft(a)(insert)
      def finish(b: Seq[(Double, Long)]): Seq[(Double, Long)] = b
      def bufferEncoder = implicitly[org.apache.spark.sql.Encoder[Seq[(Double, Long)]]]
      def outputEncoder = implicitly[org.apache.spark.sql.Encoder[Seq[(Double, Long)]]]
    }
    orders
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .agg(agg.toColumn.name("top"))
      .flatMap { case (cust, top) =>
        top.iterator.zipWithIndex.map { case ((price, key), i) =>
          (cust, key, i + 1, price)
        }
      }
      .toDF("o_custkey", "o_orderkey", "rank", "total")
      .select(col("o_custkey"), col("o_orderkey"), col("rank").cast("int").as("rank"),
        round(col("total"), 2).as("total"))
  }

  /** Null-semantics surface: nullif-generated NULLs pushed through
    * IS DISTINCT FROM, coalesce, null-safe equality and nullable
    * arithmetic — the three-valued-logic corners where dialects
    * classically drift (each is pinned identical here). */
  def nullSemantics(orders: DataFrame): DataFrame =
    orders
      .filter(col("o_orderkey") < 500)
      .select(
        col("o_orderkey"),
        expr("nullif(o_orderstatus, 'O')").as("nulled"),
        expr("o_orderstatus IS DISTINCT FROM 'O'").as("distinct_from"),
        coalesce(expr("nullif(o_orderstatus, 'O')"), lit("fallback"))
          .as("coal"),
        // NULL-propagating arithmetic: NULL + x stays NULL
        (expr("CAST(nullif(o_orderkey % 2, 0) AS BIGINT)") + lit(10L))
          .as("null_arith"),
        // NULL comparison yields NULL, which CASE treats as false
        when(expr("nullif(o_orderstatus, 'O')") === "F", lit(1))
          .otherwise(lit(0)).as("null_cmp_case"))
      .orderBy("o_orderkey")
}
