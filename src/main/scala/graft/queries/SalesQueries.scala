package graft
package queries

import graft.core.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The `sales_*` queries: star-schema analytics over the TPC-H dims, each
  * with its DuckDB oracle. */
object SalesQueries {

  /** Revenue share per region — the full dim chain
    * (orders ⨝ customer ⨝ nation ⨝ region, successively smaller broadcast
    * dims) plus a broadcast one-row grand total, so the share computation
    * adds no second fact pass. Cents-quantized totals (the ts_build_star
    * discipline). */
  private def qRegionShare(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.orders(s, d)
      .select(col("o_custkey"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .join(graft.core.Joins.maybeBroadcast(
          Tables.customer(s, d).select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d).select("n_nationkey", "n_regionkey")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d).select("r_regionkey", "r_name")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"))
      .agg(sum("cents").as("cents"))
    val total = rev.agg(sum("cents").as("tot"))
    rev.join(broadcast(total))
      .select(col("region"), round(col("cents") / 100.0, 2).as("revenue"),
        round(col("cents") / col("tot"), 6).as("share"))
  }

  /** Suppliers with no shipments in the fixture's final month — the
    * anti-join churn/inactivity check over the supplier dimension: one
    * aggregate for the cutoff (broadcast one-row frame), one left_anti
    * against the pruned fact columns. */
  private def qInactiveSuppliers(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_suppkey"), col("l_shipdate"))
    val cutoff = li.agg(add_months(date_trunc("month", max("l_shipdate")), 0)
      .as("m0"))
    val active = li.join(broadcast(cutoff))
      .filter(date_trunc("month", col("l_shipdate")) === col("m0"))
      .select(col("l_suppkey")).distinct()
    Tables.supplier(s, d).select(col("s_suppkey"), col("s_name"))
      .join(active, col("s_suppkey") === col("l_suppkey"), "left_anti")
      .orderBy("s_suppkey")
  }

  val defs: Seq[QueryDef] = Seq(
    // region revenue share off the full dim chain; integer-cents totals
    QueryDef("sales_region_share", qRegionShare,
      """WITH rev AS (
        |  SELECT r_name AS region,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY 1),
        |tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS tot FROM rev)
        |SELECT region, ROUND(cents / 100.0, 2) AS revenue,
        |  ROUND(cents / tot, 6) AS share
        |FROM rev, tot""".stripMargin),

    // anti-join inactivity: suppliers without a shipment in the final month
    QueryDef("sales_inactive_suppliers", qInactiveSuppliers,
      """WITH mx AS (SELECT date_trunc('month', max(l_shipdate)) AS m0 FROM lineitem),
        |a AS (SELECT DISTINCT l_suppkey FROM lineitem, mx
        |      WHERE date_trunc('month', l_shipdate) = m0)
        |SELECT s_suppkey, s_name FROM supplier
        |WHERE s_suppkey NOT IN (SELECT l_suppkey FROM a)
        |ORDER BY s_suppkey""".stripMargin)
  )
}
