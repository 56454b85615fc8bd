package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Driver-contract queries for the relational operator inventory of
  * SURVEY.md §2 (P/J/A/W/O/U/F rows), each paired with a DuckDB oracle in
  * [[graft.SparkEntry.oracleSql]].
  *
  * Conventions that make the DuckDB hash-compare deterministic:
  *  - monetary/quantity doubles are cast to DECIMAL before aggregation
  *    (float sums are order-dependent; decimal sums are exact on both
  *    engines) and result types are pinned with explicit casts;
  *  - every query ends in a total ORDER BY over a unique key;
  *  - `events.ts` stays the raw INT64 nanos on the Spark side and is
  *    compared as `epoch_ns(ts)` on the DuckDB side (see [[Tables]]).
  *
  * Scale notes are per-query; all aggregates are partial-agg friendly
  * (map-side combine) and all filters/projections push into the parquet
  * scan — verified via `.explain("formatted")` in OpsQueriesSpec.
  */
object RelationalQueries {

  /** A1/A2.4 group-agg (TPC-H Q1 shape): partial aggregation on 6 groups —
    * shuffle carries only group keys + partial sums, not rows.
    */
  def q1Agg(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        // exact decimal sum (order-independent), then DOUBLE for the
        // output: both engines convert the same exact decimal to the
        // same nearest float64, so the driver hash is reader-agnostic
        // (a decimal's trailing zeros stringify differently across
        // pandas Decimal vs duckdb float64 — doubles never do).
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
        sum((col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .cast("decimal(18,4)")).cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** P4-P6 filter + projection; predicates and 4-column ReadSchema push to
    * the scan (no full-row materialization).
    */
  def filterPushdown(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-01-01").cast("timestamp") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice").cast("decimal(18,2)").cast("double").as("price"))
      .orderBy("l_orderkey", "l_linenumber")

  /** J1 inner equi-join. customer is the small side — Catalyst broadcasts
    * it (verified in the plan), so no shuffle of orders at scale.
    */
  def joinInner(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders").join(
      Tables.load(spark, dir, "customer"),
      col("o_custkey") === col("c_custkey"), "inner")
      .select(col("o_orderkey"), col("c_name"),
        col("o_totalprice").cast("decimal(18,2)").cast("double").as("total_price"))
      .orderBy("o_orderkey")

  /** J2 left-anti join: customers with no currently-open order (plain
    * "no orders at all" is vacuously empty in this dataset). Broadcast of
    * the filtered build side at dimension scale.
    */
  def joinLeftAnti(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "customer").join(
      Tables.load(spark, dir, "orders").filter(col("o_orderstatus") === "O"),
      col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy("c_custkey")

  /** W1 latest-row-per-key window (the snapshot-dedup shape,
    * scd_handler.py:73-74) over events. Single hash-partition by key;
    * `ts` tie-broken by `event_id` for determinism.
    */
  def windowLatestPerKey(spark: SparkSession, dir: String): DataFrame = {
    // order on µs-truncated ts: the oracle engine cannot see sub-µs, so
    // ranking must not depend on it (event_id breaks exact-µs ties)
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(expr("ts div 1000").desc, col("event_id").desc)
    Tables.load(spark, dir, "events")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      // µs truncation: DuckDB's parquet_scan floors ns→µs timestamps, so
      // the oracle can only see microseconds — compare at that precision.
      .select(col("user_id"), col("event_type"), col("event_id"),
        expr("ts div 1000").as("ts_micros"))
      .orderBy("user_id", "event_type")
  }

  /** U1 unionByName: branches project in different column orders —
    * by-name resolution is the point (plain union would be positional,
    * SURVEY.md §2.7).
    */
  def unionByNameBuckets(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
    val open = orders.filter(col("o_orderstatus") === "O")
      .select(col("o_orderkey"), lit("open").as("bucket"))
    val done = orders.filter(col("o_orderstatus") === "F")
      .select(lit("finished").as("bucket"), col("o_orderkey"))
    open.unionByName(done).orderBy("o_orderkey", "bucket")
  }

  /** F1 hash keys (scd_key/upd_key build) over customer: sha2-256 of the
    * empty-separator concat, doubles pinned to DECIMAL(12,2) so both
    * engines stringify identically.
    */
  def hashKeys(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "customer")
      .withColumn("scd_key", graft.scd.Hashing.key(
        col("c_acctbal").cast("decimal(12,2)"), col("c_custkey"), col("c_name")))
      .withColumn("upd_key", graft.scd.Hashing.key(
        col("c_custkey"), col("c_name"), col("c_mktsegment")))
      .select(col("c_custkey"), col("scd_key"), col("upd_key"))
      .orderBy("c_custkey")

  /** A2 multi-column distinct count (the one-active-row-per-key check,
    * test_scd_handler.py:109).
    */
  def countDistinctKeys(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .agg(count_distinct(col("user_id"), col("event_type")).as("n_keys"))

  /** A3 DISTINCT projection (distinct effective dates,
    * test_scd_handler.py:209-210).
    */
  def distinctDates(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .select(to_date(col("o_orderdate")).as("order_date"))
      .distinct()
      .orderBy("order_date")

  /** O1 total sort + top-k. Catalyst plans TakeOrderedAndProject — a
    * per-partition top-k then a k-row merge on the driver, never a full
    * sort of the table.
    */
  def topKOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
      .select(col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,2)").cast("double").as("total_price"))

  /** TPC-H Q3 shape: 3-table join + group-agg + top-k by computed
    * measure. customer filter broadcasts; revenue in exact decimal.
    */
  def q3Shipping(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1998-06-30").cast("timestamp")
    val rev = (col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
      .cast("decimal(18,4)")
    Tables.load(spark, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      .join(Tables.load(spark, dir, "orders"), col("c_custkey") === col("o_custkey"))
      .filter(col("o_orderdate") < cutoff)
      .join(Tables.load(spark, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_shipdate") > cutoff)
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(rev).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }

  /** TPC-H Q6 shape: pure filter + single aggregate — the predicate
    * set pushes to the scan and the whole query is one partial-agg
    * pass (no shuffle beyond the 1-row final combine).
    */
  def q6Forecast(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-01-01").cast("timestamp") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(sum((col("l_extendedprice").cast("decimal(18,2)") *
        col("l_discount").cast("decimal(18,2)")).cast("decimal(18,4)"))
        .cast("double").as("revenue"))

  /** TPC-H Q4 shape: LEFT SEMI join (correlated EXISTS) + group count —
    * orders with at least one lineitem shipped >60 days after the
    * order date ("late", adapted to the synthetic schema's columns),
    * counted by priority. The semi join never duplicates or carries
    * right-side columns.
    */
  def q4OrderPriority(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1995-04-01").cast("timestamp"))
      .join(Tables.load(spark, dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")

  /** TPC-H Q5 shape: 6-table star join through nation/region with a
    * same-nation residual (c_nationkey = s_nationkey). Dimensions
    * broadcast; one shuffle agg on n_name.
    */
  def q5LocalSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = (col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
      .cast("decimal(18,4)")
    Tables.load(spark, dir, "customer")
      .join(Tables.load(spark, dir, "orders"), col("c_custkey") === col("o_custkey"))
      .join(Tables.load(spark, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .join(Tables.load(spark, dir, "supplier"),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(Tables.load(spark, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
      .join(Tables.load(spark, dir, "region"), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .groupBy(col("n_name"))
      .agg(sum(rev).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name").asc)
  }

  /** TPC-H Q2 shape: correlated scalar subquery — "suppliers offering
    * each small part at its minimum price". The correlation is expressed
    * Spark-first as a window-min over the pre-aggregated offers (exactly
    * the aggregate-then-join plan Catalyst rewrites scalar subqueries
    * into, minus the second scan): one shuffle builds (part, supplier)
    * offers, the window min rides the same partitioning, and the two
    * dimension joins broadcast.
    */
  def q2MinPriceSupp(spark: SparkSession, dir: String): DataFrame = {
    // the correlated min is per-part, so the part filter pushes BELOW
    // the aggregation: a broadcast semi-join prunes lineitem to the
    // qualifying ~quarter of parts before any shuffle
    val smallParts = Tables.load(spark, dir, "part").filter(col("p_size") < 10)
    val offers = Tables.load(spark, dir, "lineitem")
      .join(broadcast(smallParts.select("p_partkey")),
        col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("l_extendedprice").cast("decimal(18,2)")).as("price_d"))
    val w = Window.partitionBy("l_partkey")
    val best = offers
      .withColumn("min_d", min(col("price_d")).over(w))
      .filter(col("price_d") === col("min_d"))
    best
      .join(broadcast(smallParts), col("p_partkey") === col("l_partkey"))
      .join(broadcast(Tables.load(spark, dir, "supplier")),
        col("s_suppkey") === col("l_suppkey"))
      .select(col("p_partkey"), col("p_name"), col("s_suppkey"), col("s_name"),
        col("price_d").cast("double").as("price"))
      .orderBy("p_partkey", "s_suppkey")
  }

  /** TPC-H Q7 shape: bidirectional nation-pair volume — lineitem joined
    * to its supplier's nation and (through orders/customer) its buyer's
    * nation, filtered to one pair in both directions, aggregated by
    * year. Both nation dims broadcast; the orders join is the only big
    * shuffle.
    */
  def q7VolumeShipping(spark: SparkSession, dir: String): DataFrame = {
    val rev = (col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
      .cast("decimal(18,4)")
    val n1 = Tables.load(spark, dir, "nation")
      .select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"))
    val n2 = Tables.load(spark, dir, "nation")
      .select(col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation"))
    Tables.load(spark, dir, "lineitem")
      .join(broadcast(Tables.load(spark, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("n1_key"))
      .join(Tables.load(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.load(spark, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(n2), col("c_nationkey") === col("n2_key"))
      .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
        (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(sum(rev).cast("double").as("volume"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** TPC-H Q8 shape: market share — one nation's fraction of PROMO-part
    * revenue sold into ASIA customers, per order year. The ratio divides
    * two exact decimal sums cast to double (both engines perform the
    * identical float64 division, so the result is bit-stable).
    */
  def q8MarketShare(spark: SparkSession, dir: String): DataFrame = {
    val rev = (col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
      .cast("decimal(18,4)")
    val nSupp = Tables.load(spark, dir, "nation")
      .select(col("n_nationkey").as("ns_key"), col("n_name").as("supp_nation"))
    val nCust = Tables.load(spark, dir, "nation")
      .select(col("n_nationkey").as("nc_key"), col("n_regionkey").as("c_regionkey"))
    // pre-reduce the customer side to ASIA custkeys BEFORE the orders
    // join: the region filter then shrinks orders ahead of the one big
    // lineitem⋈orders shuffle, and the customer/nation/region probes
    // ride ~1/5 of orders instead of every joined fact row
    val asiaCustKeys = Tables.load(spark, dir, "customer")
      .join(broadcast(nCust), col("c_nationkey") === col("nc_key"))
      .join(broadcast(Tables.load(spark, dir, "region").filter(col("r_name") === "ASIA")),
        col("c_regionkey") === col("r_regionkey"), "left_semi")
      .select(col("c_custkey"))
    val asiaOrders = Tables.load(spark, dir, "orders")
      .join(broadcast(asiaCustKeys), col("o_custkey") === col("c_custkey"), "left_semi")
      .select("o_orderkey", "o_orderdate")
    Tables.load(spark, dir, "lineitem")
      .join(broadcast(Tables.load(spark, dir, "part").filter(col("p_type") === "PROMO")),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.load(spark, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nSupp), col("s_nationkey") === col("ns_key"))
      .join(asiaOrders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg((sum(when(col("supp_nation") === "NATION_3", rev)
          .otherwise(lit(0).cast("decimal(18,4)"))).cast("double") /
        sum(rev).cast("double")).as("mkt_share"))
      .orderBy("o_year")
  }

  /** Spark `pivot` (wide event-count matrix per user): explicit value
    * list keeps it one pass — partial-agg per (user, type) map-side,
    * then the pivot projection; no second scan for value discovery.
    */
  def pivotEventCounts(spark: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val p = Tables.load(spark, dir, "events")
      .groupBy("user_id").pivot("event_type", types).count()
    p.select(col("user_id") +: types.map(t =>
      coalesce(col(t), lit(0L)).as(t)): _*)
      .orderBy("user_id")
  }

  /** Exact interpolated median (type-7 quantile) per group — both
    * engines interpolate `(1-d)·lower + d·upper` on the same doubles.
    */
  def medianPriceByPriority(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(percentile(col("o_totalprice"), lit(0.5)).as("median_price"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")

  /** Frame-based running window (W beyond latest-per-key): cumulative
    * customer spend in order-date order plus the order's sequence
    * number — one hash partition by customer, both windows ride the
    * same exchange and sort.
    */
  def runningRevenue(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy("o_orderdate", "o_orderkey")
    Tables.load(spark, dir, "orders").select(
      col("o_custkey"), col("o_orderkey"),
      sum(col("o_totalprice").cast("decimal(18,2)"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("double").as("running_spend"),
      row_number().over(w).cast("long").as("order_seq"))
      .orderBy("o_custkey", "order_seq")
  }

  /** TPC-H Q12 shape (adapted: no l_shipmode column — l_returnflag
    * stands in): conditional counts after a fact join — late-shipped
    * lines split into urgent/non-urgent order counts per flag. The
    * CASE aggregates fold into one partial-agg pass.
    */
  def q12LateLines(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .join(Tables.load(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("low_line_count"))
      .orderBy("l_returnflag")

  /** TPC-H Q14 shape: promo revenue share per ship month — a broadcast
    * dimension join + ratio of two exact decimal sums in double.
    */
  def q14PromoShare(spark: SparkSession, dir: String): DataFrame = {
    val rev = (col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
      .cast("decimal(18,4)")
    Tables.load(spark, dir, "lineitem")
      .join(broadcast(Tables.load(spark, dir, "part")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(year(col("l_shipdate")).cast("long").as("ship_year"),
        month(col("l_shipdate")).cast("long").as("ship_month"))
      .agg((sum(when(col("p_type") === "PROMO", rev)
          .otherwise(lit(0).cast("decimal(18,4)"))).cast("double") * lit(100.0) /
        sum(rev).cast("double")).as("promo_share"))
      .orderBy("ship_year", "ship_month")
  }

  /** TPC-H Q9 shape (adapted: no partsupp table — `p_retailprice`
    * stands in for supply cost): product profit by supplier nation and
    * order year over a name-filtered part set. Part/supplier/nation all
    * broadcast; the orders equi-join is the only shuffle, and the
    * two-term profit stays in exact decimals until the final double.
    */
  def q9ProductProfit(spark: SparkSession, dir: String): DataFrame = {
    val amount = ((col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
      .cast("decimal(18,4)") -
      (col("p_retailprice").cast("decimal(18,2)") *
        col("l_quantity").cast("decimal(18,2)")).cast("decimal(18,4)"))
      .cast("decimal(18,4)")
    Tables.load(spark, dir, "lineitem")
      .join(broadcast(Tables.load(spark, dir, "part")
        .filter(col("p_name").contains("red"))),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.load(spark, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.load(spark, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .join(Tables.load(spark, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(sum(amount).cast("double").as("sum_profit"))
      .orderBy(col("nation").asc, col("o_year").desc)
  }

  /** TPC-H Q10 shape: returned-item revenue per customer for one order
    * quarter, top 20. The big fact join filters both sides BEFORE the
    * shuffle; customer and nation broadcast; the finisher is a bounded
    * top-k (TakeOrderedAndProject), never a full sort.
    */
  def q10ReturnedItem(spark: SparkSession, dir: String): DataFrame = {
    val rev = (col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
      .cast("decimal(18,4)")
    Tables.load(spark, dir, "lineitem").filter(col("l_returnflag") === "R")
      .join(Tables.load(spark, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.load(spark, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.load(spark, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"),
        col("c_acctbal").cast("decimal(12,2)").cast("double").as("acctbal"),
        col("n_name").as("nation"))
      .agg(sum(rev).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)
  }

  /** TPC-H Q13 shape (adapted: priority filter stands in for the
    * comment anti-pattern): customers-per-order-count histogram via a
    * left join preserved through two aggregations.
    */
  def q13CustomerDistribution(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "customer")
      .join(Tables.load(spark, dir, "orders")
        .filter(col("o_orderpriority") =!= "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  /** TPC-H Q16 shape: distinct-supplier counts per part attribute
    * triple after exclusion filters. The filtered part dim broadcasts;
    * count(DISTINCT) expands to the standard two-phase plan.
    */
  def q16PartSupplierCnt(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .join(broadcast(Tables.load(spark, dir, "part")
        .filter(col("p_brand") =!= "Brand#5" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size").cast("long").as("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))

  /** TPC-H Q18 shape: large-volume orders — a HAVING aggregate over the
    * fact feeds the orders join (quantities are integer-valued, so the
    * decimal sum and the >250 cut are exact on both engines), customer
    * broadcasts, bounded top-100 finisher.
    */
  def q18LargeOrders(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("qty_d"))
      .filter(col("qty_d") > 250)
    Tables.load(spark, dir, "orders")
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.load(spark, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice").cast("decimal(18,2)").cast("double").as("total_price"),
        col("qty_d").cast("double").as("sum_qty"))
      .orderBy(col("total_price").desc, col("o_orderkey").asc)
      .limit(100)
  }

  /** TPC-H Q19 shape: revenue under a three-way DISJUNCTION of
    * (brand, size, quantity) bands — the predicate the optimizer must
    * keep as one post-join filter without exploding the plan.
    */
  def q19DisjunctiveRevenue(spark: SparkSession, dir: String): DataFrame = {
    val rev = (col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
      .cast("decimal(18,4)")
    Tables.load(spark, dir, "lineitem")
      .join(broadcast(Tables.load(spark, dir, "part")),
        col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 5) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(1, 10) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
          col("l_quantity").between(20, 30)))
      .agg(sum(rev).cast("double").as("revenue"))
  }

  /** TPC-H Q22 shape: customers above the average positive balance with
    * no RECENT orders (every synthetic customer has some order, so the
    * cutoff keeps the anti-join non-degenerate) — scalar aggregate
    * (broadcast cross join), exact decimal `bal·n > Σbal` comparison
    * (no float threshold), left-anti join, grouped by the name's last
    * digit standing in for the phone country code.
    */
  def q22GlobalSales(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(spark, dir, "customer")
      .withColumn("cntry", substring(col("c_name"), 18, 1))
      .withColumn("bal_d", col("c_acctbal").cast("decimal(12,2)"))
      .filter(col("cntry").isin("1", "3", "5", "7", "9"))
    val avgStats = cust.filter(col("bal_d") > 0)
      .agg(sum(col("bal_d")).as("s"), count(lit(1)).as("n"))
    cust
      .join(Tables.load(spark, dir, "orders")
        .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .crossJoin(broadcast(avgStats))
      .filter(col("bal_d") * col("n") > col("s"))
      .groupBy(col("cntry"))
      .agg(count(lit(1)).as("numcust"),
        sum(col("bal_d")).cast("double").as("totacctbal"))
      .orderBy("cntry")
  }

  /** TPC-H Q15 shape: top supplier by quarterly revenue — the revenue
    * "view" aggregated once, its global max as a broadcast scalar
    * (exact decimal equality, never a float threshold), supplier dim
    * broadcast. Catalyst reuses the aggregation exchange for both
    * consumers of the view.
    */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = (col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
      .cast("decimal(18,4)")
    val revenue = Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(rev).as("total_d"))
    revenue
      .crossJoin(broadcast(revenue.agg(max(col("total_d")).as("max_d"))))
      .filter(col("total_d") === col("max_d"))
      .join(broadcast(Tables.load(spark, dir, "supplier")),
        col("s_suppkey") === col("l_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("total_d").cast("double").as("total_revenue"))
      .orderBy("s_suppkey")
  }

  /** TPC-H Q11 shape: important stock — per-part "value" held by one
    * nation's suppliers, kept only where the part's share of the
    * nation's total exceeds a fixed fraction (the scalar-subquery
    * HAVING). partsupp is proxied by lineitem (value =
    * Σ extendedprice·quantity, as q2/q16 proxy their partsupp reads).
    * One shuffle: supplier keys reduce to a broadcast semi-join before
    * the fact scan, the per-part aggregate shuffles once, and the
    * global total is a 1-row broadcast over that SAME already-reduced
    * frame. The threshold is the exact decimal inequality
    * `value·800 > total` — no float fraction to diverge between
    * engines.
    */
  def q11ImportantStock(spark: SparkSession, dir: String): DataFrame = {
    val value = (col("l_extendedprice").cast("decimal(18,2)") *
      col("l_quantity").cast("decimal(18,2)")).cast("decimal(18,4)")
    val natSupp = Tables.load(spark, dir, "supplier")
      .join(broadcast(Tables.load(spark, dir, "nation")
          .filter(col("n_name") === "NATION_5")),
        col("s_nationkey") === col("n_nationkey"), "left_semi")
      .select("s_suppkey")
    val ps = Tables.load(spark, dir, "lineitem")
      .join(broadcast(natSupp), col("l_suppkey") === col("s_suppkey"), "left_semi")
      .groupBy(col("l_partkey").as("ps_partkey"))
      .agg(sum(value).as("value_d"))
    ps.crossJoin(broadcast(ps.agg(sum(col("value_d")).as("total_d"))))
      .filter(col("value_d") * lit(800) > col("total_d"))
      .select(col("ps_partkey"), col("value_d").cast("double").as("value"))
      .orderBy(col("value").desc, col("ps_partkey"))
  }

  /** TPC-H Q17 shape: revenue from small-quantity lines of a filtered
    * part set. The correlated `avg(l_quantity)` subquery becomes one
    * per-part aggregate joined back; the 20%-of-average cut is the
    * exact integer-decimal inequality `5·qty·n < Σqty` (no float
    * threshold to diverge between engines).
    */
  def q17SmallQtyRevenue(spark: SparkSession, dir: String): DataFrame = {
    val parts = Tables.load(spark, dir, "part")
      .filter(col("p_brand") === "Brand#3" && col("p_size") < 15)
    val li = Tables.load(spark, dir, "lineitem")
    val perPart = li
      .join(broadcast(parts.select("p_partkey")),
        col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy(col("l_partkey").as("agg_partkey"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("sum_qty"),
        count(lit(1)).as("cnt_qty"))
    li
      .join(broadcast(parts.select("p_partkey")),
        col("l_partkey") === col("p_partkey"), "left_semi")
      .join(perPart, col("l_partkey") === col("agg_partkey"))
      .filter(col("l_quantity").cast("decimal(18,2)") * lit(5) * col("cnt_qty") <
        col("sum_qty"))
      .agg((sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double") /
        lit(7.0)).as("avg_yearly"))
  }

  /** TPC-H Q20 shape — the nested correlated-subquery chain: suppliers
    * of name-filtered parts whose all-time shipped quantity (the stock
    * proxy standing in for partsupp.ps_availqty) exceeds 2.5× their
    * 1997-window volume, restricted to a nation set. The two nested
    * correlated subqueries decorrelate into ONE conditional aggregate
    * over (part, supplier) — total and windowed sums from the same
    * pass — feeding a semi-join chain: eligible parts semi-join the
    * fact scan, surviving supplier keys semi-join supplier, nation
    * broadcast-semi-joins last. Quantities stay exact decimals; the
    * threshold is the integer-decimal inequality 2·total > 5·win (no
    * float 0.4 to diverge between engines).
    */
  def q20SlowStockSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val qty = col("l_quantity").cast("decimal(18,2)")
    val eligible = Tables.load(spark, dir, "part")
      .filter(col("p_name").startsWith("small")).select("p_partkey")
    val inWin = col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
      col("l_shipdate") < lit("1998-01-01").cast("timestamp")
    val ps = Tables.load(spark, dir, "lineitem")
      .join(broadcast(eligible), col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(qty).as("total_qty"),
        sum(when(inWin, qty).otherwise(lit(0).cast("decimal(18,2)"))).as("win_qty"))
    val keep = ps
      .filter(col("win_qty") > lit(0).cast("decimal(18,2)") &&
        col("total_qty") * lit(2) > col("win_qty") * lit(5))
      .select(col("l_suppkey")).distinct()
    Tables.load(spark, dir, "supplier")
      .join(broadcast(keep), col("s_suppkey") === col("l_suppkey"), "left_semi")
      .join(broadcast(Tables.load(spark, dir, "nation")
          .filter(col("n_name").isin("NATION_3", "NATION_7", "NATION_11"))),
        col("s_nationkey") === col("n_nationkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
      .orderBy("s_name")
  }

  /** TPC-H Q21 shape: "suppliers who kept orders waiting" — the classic
    * EXISTS / NOT-EXISTS pair of correlated subqueries over the same
    * fact table. Lateness (this schema has no receiptdate/commitdate)
    * is shipdate > orderdate + 60 days. Decorrelation: BOTH subqueries
    * collapse into one per-order aggregate — distinct suppliers and
    * distinct LATE suppliers — because a late line "waits" iff its
    * order involves other suppliers (EXISTS) and exactly one late
    * supplier (NOT EXISTS ⇔ the only late one is itself). One extra
    * hash aggregate on the order key replaces two correlated self-joins
    * of the fact table; the aggregate and the waiting-line join share
    * the same orderkey partitioning, so the exchange is reused.
    */
  def q21WaitingSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.load(spark, dir, "orders")
      .filter(col("o_orderstatus") === "F")
      .select("o_orderkey", "o_orderdate")
    // ONE pass over lineitem (optimization-round rework): the old shape
    // consumed the lineitem⋈orders join twice (a per-order countDistinct
    // aggregate AND the late-row side of a re-join), and the pre-exchange
    // filter on the re-join side defeated exchange reuse — the join ran
    // twice. Aggregating to (order, supplier) granularity first (guide
    // §2.3: aggregate before you shuffle) preserves everything q21 needs:
    // numwait counts LATE LINE ROWS per supplier = Σ n_late_rows, and the
    // per-order supplier counts are counts over this frame. The explicit
    // repartition on l_orderkey is the SHARED exchange: the (order,
    // supplier) aggregate clusters by a superset of it and both window
    // functions partition by exactly it, so one shuffle serves all three
    // (guide §2.4).
    val perOrderSupp = Tables.load(spark, dir, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_shipdate")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .withColumn("late",
        (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS")).cast("int"))
      .select("l_orderkey", "l_suppkey", "late")
      .repartition(col("l_orderkey"))
      .groupBy("l_orderkey", "l_suppkey")
      .agg(sum(col("late")).as("n_late_rows"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("l_orderkey")
    val waiting = perOrderSupp
      .withColumn("n_supps", count(lit(1)).over(w))
      .withColumn("late_supps",
        sum(when(col("n_late_rows") > 0, 1L).otherwise(0L)).over(w))
      .filter(col("n_late_rows") > 0 &&
        col("n_supps") > 1 && col("late_supps") === 1)
    waiting
      .join(broadcast(Tables.load(spark, dir, "supplier")),
        col("s_suppkey") === col("l_suppkey"))
      .join(broadcast(Tables.load(spark, dir, "nation")
          .filter(col("n_name").isin("NATION_2", "NATION_6", "NATION_10",
            "NATION_14", "NATION_18", "NATION_22"))),
        col("n_nationkey") === col("s_nationkey"), "left_semi")
      .groupBy(col("s_name"))
      .agg(sum(col("n_late_rows")).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(100)
  }

  /** The TABLE FORMAT itself as a gated query: lineitem is written into
    * an [[graft.lake.IncrementalTable]] (content-keyed temp dir, built
    * once per dataset), Z-ORDER clustered on (l_partkey, l_suppkey),
    * then read through the stats-skipping [[graft.lake.IncrementalTable.scan]]
    * with a two-column predicate — the exact workload clusterZ exists
    * for. The rewrite never changes row CONTENT, so plain SQL over the
    * raw parquet oracles the whole format path end-to-end: stage/rename
    * commit protocol, manifest resolution, footer stats harvest, Morton
    * interleave, file pruning, and the residual row filter.
    */
  def lakeZorderScan(spark: SparkSession, dir: String): DataFrame = {
    val src = new java.io.File(s"$dir/lineitem.parquet")
    val key = java.lang.Integer.toHexString(
      (dir, src.length, src.lastModified).hashCode)
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_lake_z_$key"
    val t = new graft.lake.IncrementalTable(spark, path)
    if (!t.exists) {
      t.append(Tables.load(spark, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity"))
      t.clusterZ(16, 6, "l_partkey", "l_suppkey")
    }
    t.scan(col("l_partkey") <= 20L, col("l_suppkey") <= 10L)
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** The bloom point-lookup path as a gated query: documents land in an
    * [[graft.lake.IncrementalTable]] as 8 appends INTERLEAVED on
    * `doc_id % 8` — every file's [min, max] spans the whole id range,
    * so footer stats cannot prune a point lookup — with a bloom index
    * on `doc_id` ([[graft.lake.BloomIndex]]). The scan probes the
    * per-file blooms and reads ~1 file per looked-up id; content is
    * unchanged by the restage, so plain SQL over the raw parquet
    * oracles the whole path (bloom build at commit, hash-consistent
    * probe, residual row filter).
    */
  def lakeBloomScan(spark: SparkSession, dir: String): DataFrame = {
    val src = new java.io.File(s"$dir/documents.parquet")
    val key = java.lang.Integer.toHexString(
      (dir, src.length, src.lastModified).hashCode)
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_lake_bloom_$key"
    val t = new graft.lake.IncrementalTable(spark, path)
    if (!t.exists) {
      t.setBloomColumns("doc_id")
      val docs = Tables.load(spark, dir, "documents")
        .select("doc_id", "source", "n_chars")
      (0 until 8).foreach(i =>
        t.append(docs.filter(col("doc_id") % 8 === i).coalesce(1)))
    }
    t.scan(col("doc_id").isin(37L, 191L, 256L))
      .orderBy("doc_id")
  }

  /** Metadata-only aggregates: lineitem lands in a 4-file graft table
    * and the global `count(*) / min / max / count(col)` over the
    * unfiltered scan is answered from the manifest's per-file stats —
    * planned as a driver-local one-row scan, zero data files read
    * ([[graft.sources]] DSv2 aggregate pushdown;
    * `StatsAggregatePushdownSpec` pins the plan shape, this query
    * oracles the VALUES end-to-end against plain SQL). At 100 TB this
    * is the difference between milliseconds and a full-table scan for
    * the most common dashboard probe there is.
    */
  def lakeStatsAgg(spark: SparkSession, dir: String): DataFrame = {
    val src = new java.io.File(s"$dir/lineitem.parquet")
    val key = java.lang.Integer.toHexString(
      (dir, src.length, src.lastModified).hashCode)
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_lake_aggpd_$key"
    val t = new graft.lake.IncrementalTable(spark, path)
    if (!t.exists) {
      val li = Tables.load(spark, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_shipdate", "l_returnflag")
      (0 until 4).foreach(i =>
        t.append(li.filter(col("l_orderkey") % 4 === i).coalesce(1)))
    }
    spark.read.format("graft").load(path)
      .agg(count(lit(1)).as("n_rows"),
        min("l_orderkey").as("mn_key"), max("l_orderkey").as("mx_key"),
        min("l_shipdate").as("mn_ship"), max("l_shipdate").as("mx_ship"),
        count("l_returnflag").as("n_flag"))
  }

  /** Storage-partitioned join as a gated query: lineitem and orders
    * each land in a graft table `bucketize`d 8-ways on the join key
    * ([[graft.lake.IncrementalTable.bucketize]] — same murmur3 bucket
    * function both sides), a catalog is pointed at the warehouse, and
    * the star join runs under `spark.sql.sources.v2.bucketing.enabled`
    * with broadcast disabled: both scans report
    * `KeyGroupedPartitioning(bucket(8, key))` and the join executes
    * with ZERO shuffle on either side (plan pinned in
    * `StoragePartitionedJoinSpec`; at fact-fact scale the two
    * avoided shuffles ARE the query cost). Content is unchanged by
    * the restage, so plain SQL over the raw parquet oracles the
    * result. The frame is checkpointed INSIDE the conf window —
    * callers get results computed under SPJ, not a lazy plan
    * re-resolved after the confs are restored.
    */
  def lakeSpjJoin(spark: SparkSession, dir: String): DataFrame = {
    val src = new java.io.File(s"$dir/lineitem.parquet")
    val key = java.lang.Integer.toHexString(
      (dir, src.length, src.lastModified).hashCode)
    // "spj2": the bucket dir format gained hash-type + sort markers —
    // a cache built under the old format would silently lose SPJ
    val wh = s"${System.getProperty("java.io.tmpdir")}/graft_lake_spj2_$key"
    def buildIfNeeded(name: String, build: graft.lake.IncrementalTable => Unit,
        bucketCol: String): Unit = {
      val t = new graft.lake.IncrementalTable(spark, s"$wh/$name")
      val done = t.exists && t.latestVersion.exists(v =>
        t.operationAt(v).startsWith("bucketize["))
      if (!done) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$wh/$name"))
        val fresh = new graft.lake.IncrementalTable(spark, s"$wh/$name")
        build(fresh)
        fresh.bucketize(8, bucketCol)
      }
    }
    buildIfNeeded("li", _.append(Tables.load(spark, dir, "lineitem")
      .select("l_orderkey", "l_quantity")), "l_orderkey")
    buildIfNeeded("ord", _.append(Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_orderpriority")), "o_orderkey")
    // an ISOLATED child session: the SPJ confs and catalog
    // registration live and die with it, never leaking into other
    // queries' planning (and its fresh CatalogManager sidesteps the
    // by-name plugin cache entirely); the checkpointed result frame
    // shares the context, so callers read it normally
    val s2 = spark.newSession()
    val cat = s"graft_spj_$key"
    s2.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s2.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s2.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.sql(
      s"""SELECT o.o_orderpriority AS prio, count(*) AS n_lines,
         |  CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         |FROM $cat.li l JOIN $cat.ord o
         |  ON l.l_orderkey = o.o_orderkey
         |GROUP BY o.o_orderpriority ORDER BY prio""".stripMargin)
      .localCheckpoint()
  }

  /** Dynamic file pruning as a gated query: lineitem lands in a graft
    * table key-clustered into 16 disjoint `l_orderkey` ranges, then
    * sits on the probe side of a broadcast star join whose dim filter
    * is selective. At execution, Spark's dynamic-partition-pruning
    * rule hands the dim survivors' join keys to the graft scan
    * (`SupportsRuntimeV2Filtering`,
    * [[graft.sources.GraftStreamScan.filter]]), which drops every
    * fact file whose min/max excludes them BEFORE input partitions
    * are planned — on a key-clustered 100 TB fact this reads
    * O(matching files), not O(table). Content is unchanged by the
    * restage, so plain SQL over the raw parquet oracles the runtime
    * path end-to-end; results must equal the unpruned join by the
    * fail-open contract (pinned in `RuntimeFilePruningSpec`).
    */
  def lakeDfpJoin(spark: SparkSession, dir: String): DataFrame = {
    val src = new java.io.File(s"$dir/lineitem.parquet")
    val key = java.lang.Integer.toHexString(
      (dir, src.length, src.lastModified).hashCode)
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_lake_dfp_$key"
    val t = new graft.lake.IncrementalTable(spark, path)
    if (!t.exists) {
      t.append(Tables.load(spark, dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_extendedprice")
        .repartitionByRange(16, col("l_orderkey"))
        .sortWithinPartitions("l_orderkey"))
    }
    val fact = spark.read.format("graft").load(path)
    val dim = Tables.load(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_totalprice") > 250000.0)
      .select("o_orderkey")
    fact.join(dim, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      .orderBy("l_orderkey")
  }

  val oracle: Map[String, String] = Map(
    "lake_bloom_scan" ->
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE doc_id IN (37, 191, 256) ORDER BY doc_id""".stripMargin,
    "lake_zorder_scan" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
        |FROM lineitem WHERE l_partkey <= 20 AND l_suppkey <= 10
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "lake_spj_join" ->
      """SELECT o.o_orderpriority AS prio, count(*) AS n_lines,
        |  CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "lake_stats_agg" ->
      """SELECT count(*) AS n_rows, min(l_orderkey) AS mn_key,
        |  max(l_orderkey) AS mx_key, min(l_shipdate) AS mn_ship,
        |  max(l_shipdate) AS mx_ship, count(l_returnflag) AS n_flag
        |FROM lineitem""".stripMargin,
    "lake_dfp_join" ->
      """SELECT l.l_orderkey, count(*) AS n_lines,
        |  CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderpriority = '1-URGENT' AND o.o_totalprice > 250000
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q21_waiting_suppliers" ->
      """WITH li AS (
        |  SELECT l.l_orderkey, l.l_suppkey,
        |         CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
        |              THEN 1 ELSE 0 END AS late
        |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  WHERE o.o_orderstatus = 'F'),
        |per_order AS (
        |  SELECT l_orderkey,
        |         count(DISTINCT l_suppkey) AS n_supps,
        |         count(DISTINCT CASE WHEN late = 1 THEN l_suppkey END) AS late_supps
        |  FROM li GROUP BY 1),
        |waiting AS (
        |  SELECT li.l_orderkey, li.l_suppkey
        |  FROM li JOIN per_order p ON p.l_orderkey = li.l_orderkey
        |  WHERE li.late = 1 AND p.n_supps > 1 AND p.late_supps = 1)
        |SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM waiting JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation ON n_nationkey = s_nationkey
        |WHERE n_name IN ('NATION_2','NATION_6','NATION_10','NATION_14','NATION_18','NATION_22')
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin,
    "q20_slow_stock_suppliers" ->
      """WITH eligible AS (
        |  SELECT p_partkey FROM part WHERE p_name LIKE 'small%'),
        |ps AS (
        |  SELECT l_partkey, l_suppkey,
        |         sum(CAST(l_quantity AS DECIMAL(18,2))) AS total_qty,
        |         sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |                   AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |                  THEN CAST(l_quantity AS DECIMAL(18,2))
        |                  ELSE CAST(0 AS DECIMAL(18,2)) END) AS win_qty
        |  FROM lineitem WHERE l_partkey IN (SELECT p_partkey FROM eligible)
        |  GROUP BY 1, 2),
        |keep AS (
        |  SELECT DISTINCT l_suppkey FROM ps
        |  WHERE win_qty > CAST(0 AS DECIMAL(18,2)) AND total_qty * 2 > win_qty * 5)
        |SELECT s_suppkey, s_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE s_suppkey IN (SELECT l_suppkey FROM keep)
        |  AND n_name IN ('NATION_3', 'NATION_7', 'NATION_11')
        |ORDER BY s_name""".stripMargin,
    "q11_important_stock" ->
      """WITH ps AS (
        |  SELECT l_partkey AS ps_partkey,
        |         sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(18,4))) AS value_d
        |  FROM lineitem
        |  WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
        |                      JOIN nation ON s_nationkey = n_nationkey
        |                      WHERE n_name = 'NATION_5')
        |  GROUP BY 1)
        |SELECT ps_partkey, CAST(value_d AS DOUBLE) AS value
        |FROM ps, (SELECT sum(value_d) AS total_d FROM ps) t
        |WHERE value_d * 800 > total_d
        |ORDER BY value DESC, ps_partkey""".stripMargin,
    "q15_top_supplier" ->
      """WITH revenue AS (
        |  SELECT l_suppkey,
        |         sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS total_d
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(total_d AS DOUBLE) AS total_revenue
        |FROM revenue JOIN supplier ON s_suppkey = l_suppkey
        |WHERE total_d = (SELECT max(total_d) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin,
    "q17_small_qty_revenue" ->
      """WITH parts AS (
        |  SELECT p_partkey FROM part WHERE p_brand = 'Brand#3' AND p_size < 15),
        |per_part AS (
        |  SELECT l_partkey AS agg_partkey,
        |         sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty,
        |         count(*) AS cnt_qty
        |  FROM lineitem WHERE l_partkey IN (SELECT p_partkey FROM parts)
        |  GROUP BY l_partkey)
        |SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
        |FROM lineitem
        |JOIN per_part ON l_partkey = agg_partkey
        |WHERE l_partkey IN (SELECT p_partkey FROM parts)
        |  AND CAST(l_quantity AS DECIMAL(18,2)) * 5 * cnt_qty < sum_qty""".stripMargin,
    "q16_part_supplier_cnt" ->
      """SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
        |       count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
        |  AND p_size IN (1,5,9,13,17,21,25,29)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "q18_large_orders" ->
      """SELECT c_custkey, c_name, o_orderkey, o_orderdate,
        |       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total_price,
        |       CAST(qty_d AS DOUBLE) AS sum_qty
        |FROM (SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty_d
        |      FROM lineitem GROUP BY l_orderkey HAVING qty_d > 250) big
        |JOIN orders ON o_orderkey = big.l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_price DESC, o_orderkey ASC LIMIT 100""".stripMargin,
    "q19_disjunctive_revenue" ->
      """SELECT CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q22_global_sales" ->
      """WITH cust AS (
        |  SELECT substring(c_name, 18, 1) AS cntry,
        |         CAST(c_acctbal AS DECIMAL(12,2)) AS bal_d, c_custkey
        |  FROM customer WHERE substring(c_name, 18, 1) IN ('1','3','5','7','9')),
        |stats AS (
        |  SELECT sum(bal_d) AS s, count(*) AS n FROM cust WHERE bal_d > 0)
        |SELECT cntry, count(*) AS numcust, CAST(sum(bal_d) AS DOUBLE) AS totacctbal
        |FROM cust, stats
        |WHERE bal_d * n > s
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        |GROUP BY cntry ORDER BY cntry""".stripMargin,
    "q9_product_profit" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |       CAST(sum(CAST(
        |         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))
        |         - CAST(CAST(p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(18,4))
        |       AS DECIMAL(18,4))) AS DOUBLE) AS sum_profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY 1, 2 ORDER BY nation ASC, o_year DESC""".stripMargin,
    "q10_returned_item" ->
      """SELECT c_custkey, c_name,
        |       CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS acctbal,
        |       n_name AS nation,
        |       CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |GROUP BY 1, 2, 3, 4
        |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin,
    "q13_customer_distribution" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN (
        |    SELECT * FROM orders WHERE o_orderpriority <> '1-URGENT') o
        |    ON c_custkey = o.o_custkey
        |  GROUP BY c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q12_late_lines" ->
      """SELECT l_returnflag,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q14_promo_share" ->
      """SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year,
        |       CAST(month(l_shipdate) AS BIGINT) AS ship_month,
        |       CAST(sum(CASE WHEN p_type = 'PROMO'
        |                     THEN CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))
        |                     ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) * 100.0
        |       / CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE)
        |       AS promo_share
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "running_revenue" ->
      """SELECT o_custkey, o_orderkey,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
        |       CAST(row_number() OVER (
        |         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS order_seq
        |FROM orders ORDER BY o_custkey, order_seq""".stripMargin,
    "pivot_event_counts" ->
      """SELECT user_id,
        |       CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
        |       CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error,
        |       CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
        |       CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
        |       CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "median_price_by_priority" ->
      """SELECT o_orderpriority,
        |       quantile_cont(o_totalprice, 0.5) AS median_price,
        |       count(*) AS n_orders
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q2_min_price_supp" ->
      """WITH offers AS (
        |  SELECT l_partkey, l_suppkey,
        |         min(CAST(l_extendedprice AS DECIMAL(18,2))) AS price_d
        |  FROM lineitem GROUP BY l_partkey, l_suppkey)
        |SELECT p_partkey, p_name, s_suppkey, s_name,
        |       CAST(o.price_d AS DOUBLE) AS price
        |FROM part p
        |JOIN offers o ON p_partkey = o.l_partkey
        |JOIN supplier s ON s_suppkey = o.l_suppkey
        |WHERE p_size < 10
        |  AND o.price_d = (SELECT min(o2.price_d) FROM offers o2
        |                   WHERE o2.l_partkey = p.p_partkey)
        |ORDER BY p_partkey, s_suppkey""".stripMargin,
    "q7_volume_shipping" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |       CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |       CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE) AS volume
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q8_market_share" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |       CAST(sum(CASE WHEN n1.n_name = 'NATION_3'
        |                     THEN CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))
        |                     ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
        |       / CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE)
        |       AS mkt_share
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |JOIN region ON n2.n_regionkey = r_regionkey
        |WHERE p_type = 'PROMO' AND r_name = 'ASIA'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q3_shipping" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-30 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-06-30 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin,
    "q5_local_supplier" ->
      """SELECT n_name,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name ASC""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q6_forecast" ->
      """SELECT CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin,
    "q4_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1995-04-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "filter_pushdown" ->
      """SELECT l_orderkey, l_linenumber, CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS price
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "join_inner" ->
      """SELECT o_orderkey, c_name, CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,
    "join_left_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        |ORDER BY c_custkey""".stripMargin,
    "window_latest_per_key" ->
      """SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_micros FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |                               ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin,
    "union_by_name" ->
      """SELECT o_orderkey, 'open' AS bucket FROM orders WHERE o_orderstatus = 'O'
        |UNION ALL
        |SELECT o_orderkey, 'finished' AS bucket FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY o_orderkey, bucket""".stripMargin,
    "hash_keys" ->
      """SELECT c_custkey,
        |  sha256(concat_ws('', CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR), CAST(c_custkey AS VARCHAR), c_name)) AS scd_key,
        |  sha256(concat_ws('', CAST(c_custkey AS VARCHAR), c_name, c_mktsegment)) AS upd_key
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "count_distinct_keys" ->
      "SELECT count(DISTINCT (user_id, event_type)) AS n_keys FROM events",
    "distinct_dates" ->
      """SELECT DISTINCT CAST(o_orderdate AS DATE) AS order_date FROM orders
        |ORDER BY order_date""".stripMargin,
    "topk_orders" ->
      """SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total_price
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q9_product_profit" -> q9ProductProfit _,
    "q10_returned_item" -> q10ReturnedItem _,
    "q13_customer_distribution" -> q13CustomerDistribution _,
    "q11_important_stock" -> q11ImportantStock _,
    "q15_top_supplier" -> q15TopSupplier _,
    "q16_part_supplier_cnt" -> q16PartSupplierCnt _,
    "q17_small_qty_revenue" -> q17SmallQtyRevenue _,
    "q20_slow_stock_suppliers" -> q20SlowStockSuppliers _,
    "q21_waiting_suppliers" -> q21WaitingSuppliers _,
    "lake_zorder_scan" -> lakeZorderScan _,
    "lake_dfp_join" -> lakeDfpJoin _,
    "lake_spj_join" -> lakeSpjJoin _,
    "lake_stats_agg" -> lakeStatsAgg _,
    "lake_bloom_scan" -> lakeBloomScan _,
    "q18_large_orders" -> q18LargeOrders _,
    "q19_disjunctive_revenue" -> q19DisjunctiveRevenue _,
    "q22_global_sales" -> q22GlobalSales _,
    "q1_agg" -> q1Agg _,
    "pivot_event_counts" -> pivotEventCounts _,
    "running_revenue" -> runningRevenue _,
    "q12_late_lines" -> q12LateLines _,
    "q14_promo_share" -> q14PromoShare _,
    "median_price_by_priority" -> medianPriceByPriority _,
    "q2_min_price_supp" -> q2MinPriceSupp _,
    "q7_volume_shipping" -> q7VolumeShipping _,
    "q8_market_share" -> q8MarketShare _,
    "q3_shipping" -> q3Shipping _,
    "q4_order_priority" -> q4OrderPriority _,
    "q5_local_supplier" -> q5LocalSupplier _,
    "q6_forecast" -> q6Forecast _,
    "filter_pushdown" -> filterPushdown _,
    "join_inner" -> joinInner _,
    "join_left_anti" -> joinLeftAnti _,
    "window_latest_per_key" -> windowLatestPerKey _,
    "union_by_name" -> unionByNameBuckets _,
    "hash_keys" -> hashKeys _,
    "count_distinct_keys" -> countDistinctKeys _,
    "distinct_dates" -> distinctDates _,
    "topk_orders" -> topKOrders _
  )
}
