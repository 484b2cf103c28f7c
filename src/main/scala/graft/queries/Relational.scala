package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.functions.Exact._

/** Relational query pack re-expressing the reference's dbt/SQL surface
  * (staging cleanses, mart aggregations, window analytics, CDC
  * materializations) as declarative Spark plans.
  *
  * Reference shapes: dbt/analytics/models/staging/stg_orders.sql:1,
  * marts/daily_order_metrics.sql:1, marts/user_order_summary.sql:1,
  * models/simple_pipeline.sql:1, docs/components/cdc.md:1.
  *
  * Every query is Catalyst-friendly (no UDFs, no collect): filters and
  * projections push to the parquet scan, aggregates get map-side
  * partials, small dims are broadcast.
  */
object Relational {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables(spark, dir, name)

  /** TPC-H Q1-shaped grouped aggregation (mart-style rollup) with
    * cross-engine-exact decimal sums/avgs.
    */
  def q01PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val l = t(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
    l.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("sum_disc_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")), 6).as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        davg(col("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Staging cleanse of `orders` — reference stg_orders.sql: TRIM/UPPER,
    * CAST DATE, size bucket, date-part derivations.
    */
  def q02StgOrders(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    o.select(
        col("o_orderkey"),
        col("o_custkey"),
        col("o_totalprice"),
        to_date(col("o_orderdate")).as("order_date"),
        upper(trim(col("o_orderstatus"))).as("status"),
        when(col("o_totalprice") < 50000.0, "Small")
          .when(col("o_totalprice") < 200000.0, "Medium")
          .otherwise("Large").as("order_size"),
        year(col("o_orderdate")).cast("long").as("order_year"),
        month(col("o_orderdate")).cast("long").as("order_month"),
        dayofweek(col("o_orderdate")).cast("long").as("order_dow"))
      .orderBy(col("o_orderkey"))
  }

  /** Per-day order metrics — reference daily_order_metrics.sql:
    * conditional status counts, distinct customers, guarded rates.
    */
  def q03DailyOrderMetrics(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    o.groupBy(to_date(col("o_orderdate")).as("metric_date"))
      .agg(
        count(lit(1)).as("total_orders"),
        count(when(col("o_orderstatus") === "F", 1)).as("finished_orders"),
        count(when(col("o_orderstatus") === "O", 1)).as("open_orders"),
        count(when(col("o_orderstatus") === "P", 1)).as("pending_orders"),
        countDistinct(col("o_custkey")).as("unique_customers"),
        dsum(col("o_totalprice")).as("total_revenue"),
        dsum(when(col("o_orderstatus") === "F", col("o_totalprice"))).as("finished_revenue"),
        davg(col("o_totalprice")).as("avg_order_value"),
        min(col("o_totalprice")).as("min_order_value"),
        max(col("o_totalprice")).as("max_order_value"))
      .withColumn("completion_rate_pct", pct(col("finished_orders"), col("total_orders")))
      .withColumn("revenue_per_customer", ratio(col("total_revenue"), col("unique_customers")))
      .orderBy(col("metric_date"))
  }

  /** Customer-level mart — reference user_order_summary.sql: LEFT JOIN
    * dim⋈fact, conditional aggs, global + per-segment ROW_NUMBER,
    * PERCENT_RANK, tier segmentation.
    */
  def q04UserOrderSummary(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val o = t(spark, dir, "orders")
    val um = c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .agg(
        count(col("o_orderkey")).as("total_orders"),
        count(when(col("o_orderstatus") === "F", 1)).as("finished_orders"),
        count(when(col("o_orderstatus") === "O", 1)).as("open_orders"),
        count(when(col("o_orderstatus") === "P", 1)).as("pending_orders"),
        coalesce(dsum(col("o_totalprice")), lit(0.0)).as("total_revenue"),
        coalesce(dsum(when(col("o_orderstatus") === "F", col("o_totalprice"))), lit(0.0)).as("finished_revenue"),
        min(to_date(col("o_orderdate"))).as("first_order_date"),
        max(to_date(col("o_orderdate"))).as("last_order_date"))
      .withColumn("avg_order_value", ratio(col("total_revenue"), col("total_orders")))
    // Global rankings via the distributed Rank node (bare ROW_NUMBER/
    // PERCENT_RANK windows would funnel the mart through one task);
    // revenue_rank also carries the row count N. PERCENT_RANK rides
    // that pass: rank_asc(v) = N − max(rn_desc in the tie group) + 1,
    // so percentile = (rank_asc − 1)/(N − 1) = (N − max_desc)/(N − 1).
    val wSeg = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("total_revenue").desc, col("c_custkey"))
    val ranked = graft.operators.Rank.globalRowNumber(
      graft.operators.Rank.globalRowNumber(um,
        Seq(col("total_revenue").desc, col("c_custkey")), "revenue_rank",
        totalCol = Some("__n")),
      Seq(col("total_orders").desc, col("c_custkey")), "order_count_rank")
    val n = col("__n").cast("double")
    ranked
      .withColumn("__maxd",
        max(col("revenue_rank")).over(Window.partitionBy(col("total_revenue"))))
      .withColumn("revenue_percentile",
        when(n === 1.0, lit(0.0))
          .otherwise((n - col("__maxd")) / (n - 1.0)))
      .drop("__maxd", "__n")
      .withColumn("segment_revenue_rank", row_number().over(wSeg))
      .withColumn("customer_tier",
        when(col("total_orders") === 0, "No Orders")
          .when(col("total_orders") === 1, "New Customer")
          .when(col("total_orders") <= 5, "Regular Customer")
          .otherwise("VIP Customer"))
      .withColumn("completion_rate_pct", pct(col("finished_orders"), col("total_orders")))
      .orderBy(col("revenue_rank"))
  }

  /** 5-table star join with broadcast dims; revenue per nation. */
  def q05RevenueByNation(spark: SparkSession, dir: String): DataFrame = {
    val region = t(spark, dir, "region").filter(col("r_name") === "ASIA")
    val nation = t(spark, dir, "nation")
    val customer = t(spark, dir, "customer")
    val orders = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val lineitem = t(spark, dir, "lineitem")
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"),
        countDistinct(col("o_orderkey")).as("n_orders"),
        countDistinct(col("c_custkey")).as("n_customers"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** Selective filter + global aggregate (predicate pushdown showcase,
    * TPC-H Q6 shape).
    */
  def q06ForecastRevenue(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24.0)
      .agg(
        dsum(col("l_extendedprice") * col("l_discount"), 6).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** Frame-based windows over event time: running sum + moving avg. */
  def q07RunningWindow(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wMov = w.rowsBetween(-2, Window.currentRow)
    t(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"), col("value"))
      .withColumn("running_value",
        sum(col("value").cast(DecimalType(18, 4))).over(wRun).cast("double"))
      .withColumn("moving_avg3",
        (sum(col("value").cast(DecimalType(18, 4))).over(wMov).cast("double") /
          count(col("value")).over(wMov)).cast("double"))
      .withColumn("seq", row_number().over(w))
      .withColumn("ts_ms", unix_millis(col("ts")))
      .drop("ts")
      .orderBy(col("user_id"), col("ts_ms"), col("event_id"))
  }

  /** Gap-based sessionization (30 min inactivity) + per-session rollup —
    * the event-stream analytics the reference's CDC topics feed.
    */
  def q08Sessionize(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(spark, dir, "events")
      .withColumn("ts_ms", unix_millis(col("ts")))
      .withColumn("prev_ms", lag(col("ts_ms"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ms").isNull || col("ts_ms") - col("prev_ms") > 1800000L, 1L)
          .otherwise(0L))
      .withColumn("session_seq", sum(col("new_session")).over(wRun))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("event_type")).as("n_event_types"),
        min(col("ts_ms")).as("start_ms"),
        max(col("ts_ms")).as("end_ms"),
        dsum(col("value"), 4).as("total_value"))
      .withColumn("duration_ms", col("end_ms") - col("start_ms"))
      .orderBy(col("user_id"), col("session_seq"))
  }

  /** Top-k per group via ranked window + filter. */
  def q09TopkPerBrand(spark: SparkSession, dir: String): DataFrame = {
    val l = t(spark, dir, "lineitem")
    val p = t(spark, dir, "part")
    val rev = l.join(p, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_partkey"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"))
    val w = Window.partitionBy(col("p_brand")).orderBy(col("revenue").desc, col("p_partkey"))
    rev.withColumn("brand_rank", row_number().over(w))
      .filter(col("brand_rank") <= 3)
      .orderBy(col("p_brand"), col("brand_rank"))
  }

  /** CDC changelog → latest-wins snapshot per key (the Iceberg-sink
    * upsert materialization in docs/components/cdc.md).
    */
  def q10CdcLatestSnapshot(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    t(spark, dir, "events")
      .withColumn("rn", row_number().over(w))
      .withColumn("n_changes", count(lit(1)).over(Window.partitionBy(col("user_id"))))
      .filter(col("rn") === 1)
      .select(
        col("user_id"),
        col("event_id").as("last_event_id"),
        col("event_type").as("last_event_type"),
        col("value").as("last_value"),
        unix_millis(col("ts")).as("last_ts_ms"),
        col("n_changes"))
      .orderBy(col("user_id"))
  }

  /** CDC changelog → SCD2 validity intervals (LEAD + current flag). */
  def q11Scd2History(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(spark, dir, "events")
      .withColumn("version", row_number().over(w))
      .withColumn("valid_from_ms", unix_millis(col("ts")))
      .withColumn("valid_to_ms", lead(unix_millis(col("ts")), 1).over(w))
      .withColumn("is_current", col("valid_to_ms").isNull)
      .select(col("user_id"), col("version"), col("event_type"), col("value"),
        col("valid_from_ms"), col("valid_to_ms"), col("is_current"))
      .orderBy(col("user_id"), col("version"))
  }

  /** ROLLUP grouping sets over the geography dims. */
  def q12RollupRegionNation(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val n = t(spark, dir, "nation")
    val r = t(spark, dir, "region")
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(
        count(lit(1)).as("n_customers"),
        dsum(col("c_acctbal")).as("total_acctbal"))
      .orderBy(asc_nulls_first("r_name"), asc_nulls_first("n_name"))
  }

  /** LEFT SEMI (EXISTS) vs LEFT ANTI (NOT EXISTS) customer split. */
  def q13SemiAntiCustomers(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val o = t(spark, dir, "orders")
    def summarize(df: DataFrame, seg: String): DataFrame =
      df.agg(count(lit(1)).as("n_customers"), dsum(col("c_acctbal")).as("total_acctbal"))
        .select(lit(seg).as("segment"), col("n_customers"), col("total_acctbal"))
    val withOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
    val withoutOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
    summarize(withOrders, "with_orders")
      .unionAll(summarize(withoutOrders, "without_orders"))
      .orderBy(col("segment"))
  }

  /** PIVOT order status × month (fixed value list keeps the plan
    * single-pass; conditional-agg equivalent oracle).
    */
  def q14PivotStatusMonth(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    o.select(
        month(col("o_orderdate")).cast("long").as("order_month"),
        col("o_orderstatus"),
        col("o_totalprice"))
      .groupBy(col("order_month"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double"))
      .select(col("order_month"), col("F").as("rev_f"), col("O").as("rev_o"), col("P").as("rev_p"))
      .orderBy(col("order_month"))
  }

  /** Multi-stage CTE-style pipeline — reference simple_pipeline.sql:
    * cleanse → enrich join → aggregate → window analytics → ordered out.
    */
  def q15CtePipeline(spark: SparkSession, dir: String): DataFrame = {
    // stage 1: cleanse customers (split name, tier by acctbal)
    val cust = t(spark, dir, "customer").select(
      col("c_custkey"),
      trim(col("c_name")).as("full_name"),
      element_at(split(col("c_name"), "#"), 1).as("name_prefix"),
      element_at(split(col("c_name"), "#"), 2).as("name_number"),
      upper(trim(col("c_mktsegment"))).as("segment"),
      col("c_acctbal"),
      when(col("c_acctbal") < 0.0, "Delinquent")
        .when(col("c_acctbal") < 5000.0, "Standard")
        .otherwise("Premium").as("balance_tier"))
    // stage 2: enrich with orders, aggregate per customer
    val o = t(spark, dir, "orders")
    val metrics = cust.join(o, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"), col("full_name"), col("name_prefix"),
        col("name_number"), col("segment"), col("balance_tier"))
      .agg(
        count(col("o_orderkey")).as("total_orders"),
        coalesce(dsum(col("o_totalprice")), lit(0.0)).as("total_revenue"))
    // stage 3: window analytics — global rankings and N via the
    // distributed Rank node (see q04); tier ranking stays partitioned
    val wTier = Window.partitionBy(col("balance_tier"))
      .orderBy(col("total_revenue").desc, col("c_custkey"))
    val n = col("__n").cast("double")
    graft.operators.Rank.globalRank(
        graft.operators.Rank.globalRowNumber(metrics,
          Seq(col("total_revenue").desc, col("c_custkey")), "revenue_rank",
          totalCol = Some("__n")),
        Seq(col("total_revenue")), Seq(col("total_revenue")),
        Seq(col("c_custkey")), "__pr")
      .withColumn("revenue_percentile",
        when(n === 1.0, lit(0.0))
          .otherwise((col("__pr") - 1).cast("double") / (n - 1.0)))
      .drop("__pr", "__n")
      .withColumn("tier_revenue_rank", row_number().over(wTier))
      .filter(col("revenue_rank") <= 100)
      .orderBy(col("revenue_rank"))
  }

  /** Staging cleanse of `customer` in the reference stg_users.sql
    * shape (stg_users.sql:31-41): TRIM the display name, SPLIT it
    * into parts (first/last-name analog over the `Customer#NNN`
    * pattern), LOWER(TRIM(...)) a derived email, UPPER the segment,
    * and a 3-way band CASE (career-stage analog over acctbal). Pure
    * per-row projection — no shuffle at any scale.
    */
  def q48StgUsersCleanse(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    c.select(
        col("c_custkey").as("user_id"),
        trim(col("c_name")).as("full_name"),
        split(trim(col("c_name")), "#").getItem(0).as("name_first"),
        split(trim(col("c_name")), "#").getItem(1).as("name_last"),
        lower(trim(concat(col("c_name"), lit("@"), col("c_mktsegment"), lit(".example.com"))))
          .as("email"),
        upper(trim(col("c_mktsegment"))).as("segment"),
        when(col("c_acctbal") < 0.0, "Debt")
          .when(col("c_acctbal") < 5000.0, "Building")
          .otherwise("Established").as("balance_stage"))
      .orderBy(col("user_id"))
  }

  /** Driver-contract registration: query name → runner. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> (q01PricingSummary _),
    "q02_stg_orders" -> (q02StgOrders _),
    "q03_daily_order_metrics" -> (q03DailyOrderMetrics _),
    "q04_user_order_summary" -> (q04UserOrderSummary _),
    "q05_revenue_by_nation" -> (q05RevenueByNation _),
    "q06_forecast_revenue" -> (q06ForecastRevenue _),
    "q07_running_window" -> (q07RunningWindow _),
    "q08_sessionize" -> (q08Sessionize _),
    "q09_topk_per_brand" -> (q09TopkPerBrand _),
    "q10_cdc_latest_snapshot" -> (q10CdcLatestSnapshot _),
    "q11_scd2_history" -> (q11Scd2History _),
    "q12_rollup_region_nation" -> (q12RollupRegionNation _),
    "q13_semi_anti_customers" -> (q13SemiAntiCustomers _),
    "q14_pivot_status_month" -> (q14PivotStatusMonth _),
    "q15_cte_pipeline" -> (q15CtePipeline _),
    "q48_stg_users_cleanse" -> (q48StgUsersCleanse _)
  )

  /** DuckDB-dialect oracles (cross-engine parity rules: SURVEY.md §4). */
  val oracles: Map[String, String] = Map(
    "q48_stg_users_cleanse" ->
      """SELECT c_custkey AS user_id,
        |  trim(c_name) AS full_name,
        |  string_split(trim(c_name), '#')[1] AS name_first,
        |  string_split(trim(c_name), '#')[2] AS name_last,
        |  lower(trim(c_name || '@' || c_mktsegment || '.example.com')) AS email,
        |  upper(trim(c_mktsegment)) AS segment,
        |  CASE WHEN c_acctbal < 0.0 THEN 'Debt'
        |       WHEN c_acctbal < 5000.0 THEN 'Building'
        |       ELSE 'Established' END AS balance_stage
        |FROM customer
        |ORDER BY user_id""".stripMargin,
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_extendedprice*(1.0-l_discount)*(1.0+l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)/COUNT(l_quantity) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)/COUNT(l_extendedprice) AS avg_price,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE)/COUNT(l_discount) AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_stg_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  CAST(o_orderdate AS DATE) AS order_date,
        |  UPPER(TRIM(o_orderstatus)) AS status,
        |  CASE WHEN o_totalprice < 50000.0 THEN 'Small'
        |       WHEN o_totalprice < 200000.0 THEN 'Medium'
        |       ELSE 'Large' END AS order_size,
        |  CAST(year(o_orderdate) AS BIGINT) AS order_year,
        |  CAST(month(o_orderdate) AS BIGINT) AS order_month,
        |  CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS order_dow
        |FROM orders
        |ORDER BY o_orderkey""".stripMargin,
    "q03_daily_order_metrics" ->
      """WITH agg AS (
        |  SELECT CAST(o_orderdate AS DATE) AS metric_date,
        |    COUNT(*) AS total_orders,
        |    COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS finished_orders,
        |    COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS open_orders,
        |    COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS pending_orders,
        |    COUNT(DISTINCT o_custkey) AS unique_customers,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
        |    CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS finished_revenue,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)/COUNT(o_totalprice) AS avg_order_value,
        |    MIN(o_totalprice) AS min_order_value,
        |    MAX(o_totalprice) AS max_order_value
        |  FROM orders GROUP BY 1)
        |SELECT *,
        |  CAST(finished_orders AS DOUBLE)*100.0/NULLIF(CAST(total_orders AS DOUBLE),0) AS completion_rate_pct,
        |  total_revenue/NULLIF(CAST(unique_customers AS DOUBLE),0) AS revenue_per_customer
        |FROM agg ORDER BY metric_date""".stripMargin,
    "q04_user_order_summary" ->
      """WITH um AS (
        |  SELECT c.c_custkey, c.c_name, c.c_mktsegment,
        |    COUNT(o.o_orderkey) AS total_orders,
        |    COUNT(CASE WHEN o.o_orderstatus = 'F' THEN 1 END) AS finished_orders,
        |    COUNT(CASE WHEN o.o_orderstatus = 'O' THEN 1 END) AS open_orders,
        |    COUNT(CASE WHEN o.o_orderstatus = 'P' THEN 1 END) AS pending_orders,
        |    COALESCE(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS total_revenue,
        |    COALESCE(CAST(SUM(CASE WHEN o.o_orderstatus = 'F' THEN CAST(o.o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS finished_revenue,
        |    MIN(CAST(o.o_orderdate AS DATE)) AS first_order_date,
        |    MAX(CAST(o.o_orderdate AS DATE)) AS last_order_date
        |  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |  GROUP BY 1, 2, 3)
        |SELECT *,
        |  total_revenue/NULLIF(CAST(total_orders AS DOUBLE),0) AS avg_order_value,
        |  ROW_NUMBER() OVER (ORDER BY total_revenue DESC, c_custkey) AS revenue_rank,
        |  ROW_NUMBER() OVER (ORDER BY total_orders DESC, c_custkey) AS order_count_rank,
        |  ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY total_revenue DESC, c_custkey) AS segment_revenue_rank,
        |  PERCENT_RANK() OVER (ORDER BY total_revenue) AS revenue_percentile,
        |  CASE WHEN total_orders = 0 THEN 'No Orders'
        |       WHEN total_orders = 1 THEN 'New Customer'
        |       WHEN total_orders <= 5 THEN 'Regular Customer'
        |       ELSE 'VIP Customer' END AS customer_tier,
        |  CAST(finished_orders AS DOUBLE)*100.0/NULLIF(CAST(total_orders AS DOUBLE),0) AS completion_rate_pct
        |FROM um ORDER BY revenue_rank""".stripMargin,
    "q05_revenue_by_nation" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        |  COUNT(DISTINCT o_orderkey) AS n_orders,
        |  COUNT(DISTINCT c_custkey) AS n_customers
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,
    "q06_forecast_revenue" ->
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice*l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24.0""".stripMargin,
    "q07_running_window" ->
      """SELECT user_id, event_id, event_type, value,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w_run AS DOUBLE) AS running_value,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w_mov AS DOUBLE)/COUNT(value) OVER w_mov AS moving_avg3,
        |  ROW_NUMBER() OVER w AS seq,
        |  epoch_ms(ts) AS ts_ms
        |FROM events
        |WINDOW
        |  w AS (PARTITION BY user_id ORDER BY ts, event_id),
        |  w_run AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  w_mov AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts_ms, event_id""".stripMargin,
    "q08_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, event_type, value, ts, epoch_ms(ts) AS ts_ms, event_id,
        |    CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
        |           OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000 THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        |  FROM flagged)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        |  COUNT(*) AS n_events,
        |  COUNT(DISTINCT event_type) AS n_event_types,
        |  MIN(ts_ms) AS start_ms,
        |  MAX(ts_ms) AS end_ms,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
        |  MAX(ts_ms) - MIN(ts_ms) AS duration_ms
        |FROM sessions
        |GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin,
    "q09_topk_per_brand" ->
      """WITH rev AS (
        |  SELECT p_brand, p_partkey,
        |    CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2),
        |ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY revenue DESC, p_partkey) AS brand_rank
        |  FROM rev)
        |SELECT * FROM ranked WHERE brand_rank <= 3
        |ORDER BY p_brand, brand_rank""".stripMargin,
    "q10_cdc_latest_snapshot" ->
      """WITH ranked AS (
        |  SELECT user_id, event_id, event_type, value, ts,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n_changes
        |  FROM events)
        |SELECT user_id,
        |  event_id AS last_event_id,
        |  event_type AS last_event_type,
        |  value AS last_value,
        |  epoch_ms(ts) AS last_ts_ms,
        |  n_changes
        |FROM ranked WHERE rn = 1
        |ORDER BY user_id""".stripMargin,
    "q11_scd2_history" ->
      """SELECT user_id,
        |  ROW_NUMBER() OVER w AS version,
        |  event_type, value,
        |  epoch_ms(ts) AS valid_from_ms,
        |  lead(epoch_ms(ts)) OVER w AS valid_to_ms,
        |  lead(epoch_ms(ts)) OVER w IS NULL AS is_current
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, version""".stripMargin,
    "q12_rollup_region_nation" ->
      """SELECT r_name, n_name,
        |  COUNT(*) AS n_customers,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,
    "q13_semi_anti_customers" ->
      """SELECT 'with_orders' AS segment, COUNT(*) AS n_customers,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
        |FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT 'without_orders' AS segment, COUNT(*) AS n_customers,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
        |FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY segment""".stripMargin,
    "q14_pivot_status_month" ->
      """SELECT CAST(month(o_orderdate) AS BIGINT) AS order_month,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_f,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_o,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_p
        |FROM orders
        |GROUP BY 1
        |ORDER BY order_month""".stripMargin,
    "q15_cte_pipeline" ->
      """WITH cust AS (
        |  SELECT c_custkey,
        |    TRIM(c_name) AS full_name,
        |    string_split(c_name, '#')[1] AS name_prefix,
        |    string_split(c_name, '#')[2] AS name_number,
        |    UPPER(TRIM(c_mktsegment)) AS segment,
        |    c_acctbal,
        |    CASE WHEN c_acctbal < 0.0 THEN 'Delinquent'
        |         WHEN c_acctbal < 5000.0 THEN 'Standard'
        |         ELSE 'Premium' END AS balance_tier
        |  FROM customer),
        |metrics AS (
        |  SELECT c_custkey, full_name, name_prefix, name_number, segment, balance_tier,
        |    COUNT(o_orderkey) AS total_orders,
        |    COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS total_revenue
        |  FROM cust LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY 1, 2, 3, 4, 5, 6),
        |ranked AS (
        |  SELECT *,
        |    ROW_NUMBER() OVER (ORDER BY total_revenue DESC, c_custkey) AS revenue_rank,
        |    ROW_NUMBER() OVER (PARTITION BY balance_tier ORDER BY total_revenue DESC, c_custkey) AS tier_revenue_rank,
        |    PERCENT_RANK() OVER (ORDER BY total_revenue) AS revenue_percentile
        |  FROM metrics)
        |SELECT * FROM ranked WHERE revenue_rank <= 100
        |ORDER BY revenue_rank""".stripMargin
  )
}
