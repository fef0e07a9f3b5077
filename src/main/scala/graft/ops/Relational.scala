package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Joins-as-glue + set ops (SURVEY §2.3, §2.7, §7.2 step 4) over the
  * TPC-H-ish tables.
  *
  * The reference has no joins; its two join-shaped structures are the
  * anti-membership day guard (rds_pgbadger.py:106 → LEFT ANTI) and the
  * Luigi stage correlation keyed by file_name (→ broadcast equi inner).
  * These queries exercise exactly those shapes at relational scale.
  *
  * Scale posture: dimension tables (region/nation/customer/supplier) are
  * `broadcast()` so fact-side scans never shuffle for the join; only
  * aggregates shuffle, on low-cardinality keys with map-side combine. The
  * one fact-fact join (lineitem ⋈ orders) is a key-equi shuffle join that
  * AQE converts/skew-splits as needed at real scale.
  */
object Relational {

  /** TPC-H Q1-shaped pricing summary — the flagship scan+agg. Filter pushes
    * to parquet; sums are decimal-exact (see Reports.decSum).
    */
  def pricingSummary(li: DataFrame): DataFrame = {
    val disc = col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))
    li.filter(col("l_shipdate") <= lit("2001-09-01 00:00:00").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        Reports.decSum(col("l_quantity")).as("sum_qty"),
        Reports.decSum(col("l_extendedprice")).as("sum_base_price"),
        sum(disc).cast("double").as("sum_disc_price"),
        (Reports.decSum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Revenue per region/nation: fact ⋈ fact shuffle join, then three
    * broadcast dim joins, then a tiny-key aggregate.
    */
  def revenueByNation(li: DataFrame, orders: DataFrame, customer: DataFrame,
                      nation: DataFrame, region: DataFrame): DataFrame = {
    val rev = col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))
    li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sum(rev).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** TPC-H Q11's GROUP-SHARE pattern: nations whose revenue exceeds
    * `minShare` of the GLOBAL total, with the share. The global total
    * is a 1-row aggregate arriving by broadcast nested-loop — never a
    * window over the unpartitioned frame, which would single-reduce the
    * per-group rows; the per-nation aggregate is [[revenueByNation]]'s
    * machinery. Revenue stays EXACT decimal through both aggregates;
    * the share/threshold compare happens on the exactly-converted
    * doubles, identically on both engines.
    */
  def nationRevenueShare(li: DataFrame, orders: DataFrame,
                         customer: DataFrame, nation: DataFrame,
                         minShare: Double = 0.05): DataFrame = {
    val rev = col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))
    val per = li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(rev).as("rdec"), count(lit(1)).as("n_items"))
    val total = per.agg(sum(col("rdec")).as("tdec"))
    per.crossJoin(broadcast(total))
      .filter(col("rdec").cast("double") >
        col("tdec").cast("double") * lit(minShare))
      .select(col("n_name"), col("rdec").cast("double").as("revenue"),
        col("n_items"),
        round(col("rdec").cast("double") / col("tdec").cast("double"), 6)
          .as("share"))
      .orderBy(col("n_name"))
  }

  /** TPC-H Q15's ARGMAX-OVER-VIEW pattern: per-supplier revenue over a
    * ship-date quarter, returning the supplier(s) achieving the GLOBAL
    * maximum — ties all surface, the Q15 semantics. The per-supplier
    * view is cut once (it feeds both the max aggregate and the final
    * filter; uncut, the lineitem scan+shuffle would execute twice —
    * at 100 TB the scan IS the job); the max arrives as a 1-row
    * broadcast nested-loop, never a global window sort. Revenue stays
    * EXACT decimal through aggregate and tie compare, so the argmax
    * set is bit-identical on both engines; the supplier dim joins by
    * broadcast.
    */
  def topSupplier(li: DataFrame, supplier: DataFrame,
                  from: String = "1996-01-01",
                  to: String = "1996-04-01"): DataFrame = {
    val rev = col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))
    val per = Checkpoints.cut(
      li.filter(col("l_shipdate") >= lit(from) &&
          col("l_shipdate") < lit(to))
        .groupBy(col("l_suppkey"))
        .agg(sum(rev).as("rdec"), count(lit(1)).as("n_items")))
    val mx = per.agg(max(col("rdec")).as("mdec"))
    per.crossJoin(broadcast(mx))
      .filter(col("rdec") === col("mdec"))
      .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("rdec").cast("double").as("total_revenue"), col("n_items"))
      .orderBy(col("s_suppkey"))
  }

  /** LEFT SEMI — customers having at least one finished high-value order
    * (the EXISTS shape; broadcast of the *probe-filtered* build side).
    */
  def customersWithBigOrders(customer: DataFrame, orders: DataFrame): DataFrame =
    customer.join(
        orders.filter(col("o_orderstatus") === "F" &&
          col("o_totalprice") > 200000.0),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))

  /** LEFT ANTI — customers with no orders at all (the `not in resolved`
    * day-guard shape, rds_pgbadger.py:106, at relational scale).
    */
  def customersWithoutOrders(customer: DataFrame, orders: DataFrame): DataFrame =
    customer.join(orders, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  /** Window over a join: rank customers by order spend within nation. */
  def topCustomersPerNation(customer: DataFrame, orders: DataFrame,
                            nation: DataFrame, k: Int): DataFrame = {
    val spend = orders.groupBy(col("o_custkey"))
      .agg(Reports.decSum(col("o_totalprice")).as("spend"))
    val w = Window.partitionBy(col("n_name"))
      .orderBy(col("spend").desc, col("c_custkey").asc)
    customer.join(spend, col("c_custkey") === col("o_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("c_custkey"), col("spend"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .orderBy(col("n_name"), col("rnk"))
  }

  /** UNION ALL of two per-period slices then de-dup — the day-chunk `extend`
    * + distinct shape (rds_pgbadger.py:100,109; SURVEY §2.7).
    */
  def unionOrderMonths(orders: DataFrame): DataFrame = {
    val m = date_format(col("o_orderdate"), "yyyy-MM")
    val a = orders.filter(m === "1997-03").select(col("o_custkey"))
    val b = orders.filter(m === "1997-04").select(col("o_custkey"))
    a.union(b).distinct().orderBy(col("o_custkey"))
  }

  /** INTERSECT / EXCEPT exercised once each (no reference counterpart —
    * SURVEY §2.7 oracle-checked extras).
    */
  def intersectCustomers(orders: DataFrame): DataFrame = {
    val m = date_format(col("o_orderdate"), "yyyy-MM")
    orders.filter(m === "1997-03").select(col("o_custkey"))
      .intersect(orders.filter(m === "1997-04").select(col("o_custkey")))
      .orderBy(col("o_custkey"))
  }

  def exceptCustomers(orders: DataFrame): DataFrame = {
    val m = date_format(col("o_orderdate"), "yyyy-MM")
    orders.filter(m === "1997-03").select(col("o_custkey"))
      .except(orders.filter(m === "1997-04").select(col("o_custkey")))
      .orderBy(col("o_custkey"))
  }

  /** TPC-H Q6 shape: pure filter + global aggregate — the maximal
    * pushdown/pruning case (no shuffle at all beyond the final reduce).
    */
  def forecastRevenue(li: DataFrame): DataFrame =
    li.filter(
        col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
        col("l_discount").between(0.04, 0.06) &&
        col("l_quantity") < 24)
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
          col("l_discount").cast("decimal(18,2)")).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))

  /** TPC-H Q3 shape: selective join + aggregate + ranked top-K. */
  def shippingPriority(li: DataFrame, orders: DataFrame,
                       customer: DataFrame, k: Int): DataFrame = {
    val rev = col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))
    customer.filter(col("c_mktsegment") === "BUILDING")
      .join(orders, col("c_custkey") === col("o_custkey"))
      .filter(col("o_orderdate") < lit("1997-06-01").cast("timestamp"))
      .join(li.filter(col("l_shipdate") > lit("1997-06-01").cast("timestamp")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(rev).cast("double").as("revenue"))
      .select(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_orderpriority"), col("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey").asc)
      .limit(k)
  }

  /** LEFT OUTER + null handling: every customer with their order count
    * and spend, zeros for the order-less (the report join shape where
    * absence must show as 0, not vanish).
    */
  def customerOrderSummary(customer: DataFrame, orders: DataFrame): DataFrame = {
    val spend = orders.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        Reports.decSum(col("o_totalprice")).as("spend"))
    customer.join(spend, col("c_custkey") === col("o_custkey"), "left_outer")
      .select(col("c_custkey"), col("c_name"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("spend"), lit(0.0)).as("spend"))
      .orderBy(col("c_custkey"))
  }

  /** FULL OUTER over two period slices with null-safe labeling — both-side
    * presence classification (gained/lost/retained customers).
    */
  def customerChurn(orders: DataFrame): DataFrame = {
    val m = date_format(col("o_orderdate"), "yyyy-MM")
    val a = orders.filter(m === "1997-03").select(col("o_custkey").as("ck_a"))
      .distinct()
    val b = orders.filter(m === "1997-04").select(col("o_custkey").as("ck_b"))
      .distinct()
    a.join(b, col("ck_a") === col("ck_b"), "full_outer")
      .select(coalesce(col("ck_a"), col("ck_b")).as("o_custkey"),
        when(col("ck_a").isNull, "gained")
          .when(col("ck_b").isNull, "lost")
          .otherwise("retained").as("status"))
      .orderBy(col("o_custkey"))
  }

  /** TPC-H Q4 shape: order-priority count with an EXISTS semi join against
    * late lineitems.
    */
  def orderPriorityCount(orders: DataFrame, li: DataFrame): DataFrame =
    orders.filter(
        col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-07-01").cast("timestamp"))
      .join(li.filter(col("l_shipdate") > lit("1997-01-01").cast("timestamp")),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
}
