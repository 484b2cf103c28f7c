package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Exact._

/** Deep relational pack: the remaining TPC-H query shapes, adapted to
  * the driver's star schema (no partsupp table; no
  * commitdate/receiptdate/shipmode lineitem columns — the shapes keep
  * their plan structure with stand-in predicates over what exists).
  *
  * The reference's warehouse is stock Spark SQL behind Kyuubi
  * (docs/components/kyuubi.md:1, docs/architecture/overview.md:1), so
  * its query surface is "anything Spark SQL answers over the star
  * schema" — this pack pins down the canonical analytics shapes:
  * correlated EXISTS, nation-pair volume, market share, profit
  * attribution, distribution histograms, disjunctive pushdown,
  * group-HAVING semi joins, per-group argmin.
  *
  * Scale notes (100 TB): every join keys on the natural star keys so
  * AQE picks shuffle-hash/SMJ for fact⋈fact and broadcast for dims;
  * aggregates are declarative groupBy (map-side partials); all
  * predicates are scan-pushable (verified via .explain in the spec).
  */
object TpchSuite {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables(spark, dir, name)

  /** TPC-H Q4 shape: correlated EXISTS → left-semi join with a
    * non-equi conjunct (late-shipped lineitems), priority histogram.
    */
  def q26OrderPriority(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
    val l = t(spark, dir, "lineitem")
    o.join(l, col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") > col("o_orderdate"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** TPC-H Q5 proper: local-supplier volume — customer and supplier in
    * the SAME nation (c_nationkey = s_nationkey equi-conjunct), region
    * gated, one order year. Dims broadcast; fact joins left to AQE.
    */
  def q27LocalSupplierVolume(spark: SparkSession, dir: String): DataFrame = {
    val r = t(spark, dir, "region").filter(col("r_name") === "EUROPE")
    val n = t(spark, dir, "nation")
    val c = t(spark, dir, "customer")
    val s = t(spark, dir, "supplier")
    val o = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val l = t(spark, dir, "lineitem")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** TPC-H Q7 shape: cross-nation shipping volume for a nation pair,
    * per ship year, both directions.
    */
  def q28NationVolume(spark: SparkSession, dir: String): DataFrame = {
    val n1 = t(spark, dir, "nation").select(
      col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
    val n2 = t(spark, dir, "nation").select(
      col("n_nationkey").as("c_nkey"), col("n_name").as("cust_nation"))
    val c = t(spark, dir, "customer")
    val s = t(spark, dir, "supplier")
    val o = t(spark, dir, "orders")
    val l = t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nkey"))
      .join(broadcast(n2), col("c_nationkey") === col("c_nkey"))
      .filter((col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_7") ||
        (col("supp_nation") === "NATION_7" && col("cust_nation") === "NATION_3"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** TPC-H Q8 shape: market share of one supplier nation inside a
    * region's market for one part type, per order year. Numerator and
    * denominator are decimal-exact sums; one IEEE division at the end.
    */
  def q29MarketShare(spark: SparkSession, dir: String): DataFrame = {
    val r = t(spark, dir, "region").filter(col("r_name") === "AMERICA")
    val nCust = t(spark, dir, "nation").select(
      col("n_nationkey").as("c_nkey"), col("n_regionkey").as("c_rkey"))
    val nSupp = t(spark, dir, "nation").select(
      col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
    val c = t(spark, dir, "customer")
    val s = t(spark, dir, "supplier")
    val p = t(spark, dir, "part").filter(col("p_type") === "ECONOMY")
    val o = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val l = t(spark, dir, "lineitem")
    l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nCust), col("c_nationkey") === col("c_nkey"))
      .join(broadcast(r), col("c_rkey") === col("r_regionkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nSupp), col("s_nationkey") === col("s_nkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        dsum(when(col("supp_nation") === "NATION_5",
          col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 6).as("nation_volume"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("total_volume"))
      .withColumn("mkt_share",
        coalesce(col("nation_volume"), lit(0.0)) / col("total_volume"))
      .orderBy(col("o_year"))
  }

  /** TPC-H Q9 shape: profit attribution by supplier nation × ship
    * year, part-name gated (no partsupp → profit = discounted price).
    */
  def q30ProfitByNationYear(spark: SparkSession, dir: String): DataFrame = {
    val p = t(spark, dir, "part").filter(col("p_name").contains("red"))
    val s = t(spark, dir, "supplier")
    val n = t(spark, dir, "nation")
    val l = t(spark, dir, "lineitem")
    l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("l_shipdate")).cast("long").as("o_year"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** TPC-H Q12 shape: ship-delay buckets (no shipmode column → bucket
    * on datediff) × priority-class conditional counts.
    */
  def q31ShipDelay(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val l = t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .withColumn("delay_days",
        datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate"))).cast("long"))
      .withColumn("delay_bucket",
        when(col("delay_days") < 30, "0-29")
          .when(col("delay_days") < 60, "30-59")
          .when(col("delay_days") < 90, "60-89")
          .otherwise("90+"))
      .groupBy(col("delay_bucket"))
      .agg(
        count(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)).as("high_line_count"),
        count(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)).as("low_line_count"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("delay_bucket"))
  }

  /** TPC-H Q13 shape: customer order-count distribution — LEFT OUTER
    * join with an extra join-side predicate, then a histogram over the
    * per-customer counts (two-level aggregation).
    */
  def q32CustomerDistribution(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val o = t(spark, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey") &&
        o("o_orderstatus") =!= "P", "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** TPC-H Q14 shape: promo revenue share in one month — conditional
    * numerator over one scan, single IEEE division.
    */
  def q33PromoRevenue(spark: SparkSession, dir: String): DataFrame = {
    val p = t(spark, dir, "part")
    val l = t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-03-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
    l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .agg(
        dsum(when(col("p_type") === "PROMO",
          col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 6).as("promo_revenue"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("total_revenue"))
      .select(
        (lit(100.0) * col("promo_revenue") / col("total_revenue")).as("promo_pct"),
        col("promo_revenue"), col("total_revenue"))
  }

  /** q49: skew-mitigated star join as a gated query — lineitem joined
    * to orders through [[graft.operators.Skew.saltedJoin]] (the big
    * side salted across 8 sub-keys, the dim side replicated per
    * salt), then revenue by order priority. The salted result is
    * identical to the plain join — the oracle is the UNSALTED SQL —
    * while the physical shuffle spreads any hot orderkey over 8
    * reducers instead of melting one. The explicit-salt path matters
    * where AQE's skew split can't kick in (post-join aggregations,
    * known-hot keys).
    */
  def q49SaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val l = t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val o = t(spark, dir, "orders")
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    graft.operators.Skew.saltedJoin(l, o, "l_orderkey", 8)
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_items"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  /** TPC-H Q15 shape: top supplier(s) by quarterly revenue — grouped
    * revenue, global max as a one-row aggregate broadcast back
    * (ties kept). NOT an empty-partition window: `Window.partitionBy()`
    * funnels the whole per-supplier aggregate through one task; a
    * one-row agg + broadcast join keeps every stage partitioned
    * (same pattern as q44).
    */
  def q34TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val s = t(spark, dir, "supplier")
    val l = t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
    val rev = l.groupBy(col("l_suppkey"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("total_revenue"))
    val maxRev = rev.agg(max(col("total_revenue")).as("max_revenue"))
    rev.join(broadcast(maxRev), col("total_revenue") === col("max_revenue"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** TPC-H Q18 shape: large-volume orders — group-HAVING on the fact,
    * then join back to orders + customer; top 100.
    */
  def q35LargeOrders(spark: SparkSession, dir: String): DataFrame = {
    val l = t(spark, dir, "lineitem")
    val big = l.groupBy(col("l_orderkey"))
      .agg(dsum(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > 250.0)
    val o = t(spark, dir, "orders")
    val c = t(spark, dir, "customer")
    big.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("order_date"),
        col("o_totalprice"), col("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** TPC-H Q19 shape: disjunctive brand/size/quantity predicates —
    * one scan, OR-of-conjuncts (pushdown-friendly after CNF).
    */
  def q36DisjunctiveRevenue(spark: SparkSession, dir: String): DataFrame = {
    val p = t(spark, dir, "part")
    val l = t(spark, dir, "lineitem")
    val cond =
      (col("p_brand") === "Brand#1" && col("p_size").between(1, 10) &&
        col("l_quantity").between(1.0, 11.0)) ||
      (col("p_brand") === "Brand#7" && col("p_size").between(1, 20) &&
        col("l_quantity").between(10.0, 20.0)) ||
      (col("p_brand") === "Brand#13" && col("p_size").between(1, 30) &&
        col("l_quantity").between(20.0, 30.0))
    l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .filter(cond)
      .agg(
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q16 shape: supplier-count per part attribute, excluding one
    * brand and a "complaint" supplier set via LEFT ANTI (NOT IN).
    */
  def q37PartsSupplierCount(spark: SparkSession, dir: String): DataFrame = {
    val p = t(spark, dir, "part")
      .filter(col("p_brand") =!= "Brand#13" && !col("p_type").startsWith("PROMO") &&
        col("p_size").isin(1, 5, 9, 13, 17, 21))
    val badSupp = t(spark, dir, "supplier").filter(col("s_acctbal") < 0.0)
      .select(col("s_suppkey").as("bad_suppkey"))
    val l = t(spark, dir, "lineitem")
    l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(badSupp), col("l_suppkey") === col("bad_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size").cast("long").as("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  /** TPC-H Q2 shape: per-part argmin — cheapest supplier per part by
    * quantity-weighted unit price (window-min instead of correlated
    * subquery), small-size slice, supplier details joined back.
    * Weighted avg = exact-decimal sums + one IEEE division (per-row
    * double quotients would hit decimal rounding-mode ties across
    * engines).
    */
  def q38MinPriceSupplier(spark: SparkSession, dir: String): DataFrame = {
    val p = t(spark, dir, "part").filter(col("p_size") <= 5)
    val s = t(spark, dir, "supplier")
    val l = t(spark, dir, "lineitem")
    val unit = l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_partkey"), col("p_name"), col("l_suppkey"))
      .agg((dsum(col("l_extendedprice")) / dsum(col("l_quantity"))).as("avg_unit_price"))
    val w = Window.partitionBy(col("p_partkey"))
    unit.withColumn("min_price", min(col("avg_unit_price")).over(w))
      .filter(col("avg_unit_price") === col("min_price"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .select(col("p_partkey"), col("p_name"), col("s_suppkey"), col("s_name"),
        col("avg_unit_price"))
      .orderBy(col("p_partkey"), col("s_suppkey"))
  }

  /** Set operations: customers ordering in BOTH 1996 and 1997
    * (INTERSECT), minus any with a still-pending order (EXCEPT) —
    * Spark plans these as semi/anti joins, same as the EXISTS forms.
    */
  def q39SetOps(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    def custs(pred: Column): DataFrame =
      o.filter(pred).select(col("o_custkey")).distinct()
    val y96 = custs(year(col("o_orderdate")) === 1996)
    val y97 = custs(year(col("o_orderdate")) === 1997)
    val pending = custs(col("o_orderstatus") === "P")
    y96.intersect(y97).except(pending)
      .orderBy(col("o_custkey"))
  }

  /** Ordered collection aggregates: per-customer sorted distinct order
    * years / statuses as csv (deterministic cross-engine encoding of
    * an array aggregate).
    */
  def q40ArrayAgg(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    o.groupBy(col("o_custkey"))
      .agg(
        count(lit(1)).as("n_orders"),
        array_join(sort_array(collect_set(year(col("o_orderdate")).cast("long"))), ",")
          .as("order_years"),
        array_join(sort_array(collect_set(col("o_orderstatus"))), ",")
          .as("statuses"))
      .orderBy(col("o_custkey"))
  }

  /** Explicit GROUPING SETS (beyond the q12 ROLLUP / q18 CUBE
    * special cases) through the SQL facade — the three marginal
    * aggregates in one pass.
    */
  def q41GroupingSets(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val n = t(spark, dir, "nation")
    val r = t(spark, dir, "region")
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .createOrReplaceTempView("q41_geo")
    spark.sql(
      """SELECT r_name, c_mktsegment,
        |  COUNT(*) AS n_customers,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
        |FROM q41_geo
        |GROUP BY GROUPING SETS ((r_name, c_mktsegment), (r_name), (c_mktsegment))
        |ORDER BY r_name ASC NULLS FIRST, c_mktsegment ASC NULLS FIRST""".stripMargin)
  }

  /** Date/time-function surface — truncation, month arithmetic with
    * end-of-month clamping, calendar parts, day arithmetic — the
    * derivations every staging model and partition key needs.
    */
  def q42DateSuite(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    o.select(
        col("o_orderkey"),
        to_date(col("o_orderdate")).as("order_date"),
        to_date(date_trunc("month", col("o_orderdate"))).as("month_start"),
        last_day(col("o_orderdate")).as("month_end"),
        add_months(to_date(col("o_orderdate")), 3).as("plus_3_months"),
        date_add(to_date(col("o_orderdate")), 45).as("plus_45_days"),
        quarter(col("o_orderdate")).cast("long").as("qtr"),
        dayofyear(col("o_orderdate")).cast("long").as("doy"),
        datediff(to_date(col("o_orderdate")), lit("1995-01-01").cast("date"))
          .cast("long").as("days_since_epoch_start"))
      .orderBy(col("o_orderkey"))
  }

  /** Scalable global ranking ([[graft.operators.Rank.globalRowNumber]])
    * — identical semantics to `ROW_NUMBER() OVER (ORDER BY …)` but
    * distributed (one plan node: range partition + per-partition
    * offsets at action time) instead of the single-partition
    * WindowExec that a bare global window plans.
    */
  def q43ScalableRank(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    graft.operators.Rank.globalRowNumber(
        c.select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal")),
        Seq(col("c_acctbal").desc, col("c_custkey")),
        rankCol = "balance_rank")
      .select(col("balance_rank"), col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      .orderBy(col("balance_rank"))
  }

  /** TPC-H Q22 shape: global-average scalar subquery (one-row
    * broadcast) + NOT EXISTS anti join — above-average-balance
    * customers with no RECENT (1999+) orders, per segment.
    */
  def q44DormantCustomers(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val o = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
    val avgBal = c.filter(col("c_acctbal") > 0.0)
      .agg(davg(col("c_acctbal")).as("avg_bal"))
    c.join(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_customers"),
        dsum(col("c_acctbal")).as("total_acctbal"))
      .orderBy(col("c_mktsegment"))
  }

  /** TPC-H Q21 shape: multi-EXISTS — suppliers whose late-shipped item
    * (>60 days after order) blocked an otherwise on-time multi-supplier
    * order: EXISTS another supplier in the order (semi join), NOT
    * EXISTS another LATE supplier (anti join). Top 20 by count.
    */
  def q45WaitingSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val s = t(spark, dir, "supplier")
    val o = t(spark, dir, "orders").filter(col("o_orderstatus") === "F")
    val l = t(spark, dir, "lineitem")
    val l1 = l.join(o, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > date_add(to_date(col("o_orderdate")), 60)
        .cast("timestamp"))
      .select(col("l_orderkey").as("lo"), col("l_suppkey").as("ls"))
    val l2 = l.select(col("l_orderkey").as("lo2"), col("l_suppkey").as("ls2"))
    val late2 = l1.select(col("lo").as("lo3"), col("ls").as("ls3"))
    val blocked = l1
      .join(l2, col("lo") === col("lo2") && col("ls") =!= col("ls2"), "left_semi")
      .join(late2, col("lo") === col("lo3") && col("ls") =!= col("ls3"), "left_anti")
    blocked.join(broadcast(s), col("ls") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(20)
  }

  /** RANGE-frame window (value-based, not row-count-based): per-user
    * sliding 1-hour activity — every event sees the count/sum of
    * events in [ts-1h, ts] regardless of how many rows that spans.
    */
  def q46RangeWindow(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"))
      .rangeBetween(-3600000L, 0L)
    t(spark, dir, "events")
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ts_ms"),
        col("value"))
      .withColumn("events_1h", count(lit(1)).over(w))
      .withColumn("value_1h",
        sum(col("value").cast(DecimalType(18, 4))).over(w).cast("double"))
      .orderBy(col("user_id"), col("ts_ms"), col("event_id"))
  }

  /** NULL-semantics suite: nullable GROUP BY key (the NULL group),
    * count(*) vs count(col), null-skipping aggregates, NULLIF
    * null-injection, null-safe equality (<=> / IS NOT DISTINCT FROM),
    * NULLS FIRST ordering.
    */
  def q47NullSemantics(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
      .withColumn("pr",
        when(col("o_totalprice") < 100000.0, lit(null).cast("string"))
          .otherwise(col("o_orderpriority")))
    o.groupBy(col("pr"))
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("pr")).as("n_nonnull_pr"),
        countDistinct(col("o_custkey")).as("n_cust"),
        dsum(nullif(col("o_totalprice"), lit(0.0))).as("total_price"),
        min(col("o_totalprice")).as("min_price"),
        max(when(col("pr") <=> lit(null).cast("string"), 1L).otherwise(0L))
          .as("is_null_group"))
      .orderBy(asc_nulls_first("pr"))
  }

  /** q73: UNPIVOT (wide → long), the inverse of q14's pivot — melts
    * lineitem's three monetary columns into `(measure, value)` rows
    * and aggregates per (returnflag, measure). Spark's `unpivot`
    * plans ONE scan with an Expand node emitting 3 rows per input
    * row map-side — at 100 TB that's the difference vs the naive
    * 3× `UNION ALL` re-scan of the fact table (which is exactly how
    * the oracle states the semantics).
    */
  def q73Unpivot(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice"), col("l_discount"),
        col("l_tax"))
    li.unpivot(
        ids = Array(col("l_returnflag")),
        values = Array(col("l_extendedprice"), col("l_discount"), col("l_tax")),
        variableColumnName = "measure",
        valueColumnName = "value")
      .groupBy(col("l_returnflag"), col("measure"))
      .agg(
        count(lit(1)).as("n"),
        dsum(col("value"), 4).as("total"))
      .orderBy(col("l_returnflag"), col("measure"))
  }

  /** q74: calendar-spine GAP FILL + LOCF — the time-series
    * normalization every forecast/report pipeline needs: a generated
    * date spine × the priority dims LEFT-joins the day-grain
    * aggregate, so days with no orders surface as explicit rows
    * (n_orders = 0) and the last-observation-carried-forward window
    * fills their revenue. The scale shape: the DATA side is one
    * day-grain aggregate (shuffle ∝ #days×#groups, tiny), the spine
    * is generated (no I/O), and the LOCF window runs over the SPINE
    * — bounded by calendar size × groups, never by fact rows.
    */
  def q74GapFill(spark: SparkSession, dir: String): DataFrame = {
    val (lo, hi) = ("1995-03-01", "1995-03-31")
    val o = t(spark, dir, "orders")
      .filter(to_date(col("o_orderdate")).between(lo, hi))
    val daily = o.groupBy(col("o_orderpriority"),
        to_date(col("o_orderdate")).as("order_date"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("rev"))
    val spine = o.select(col("o_orderpriority")).distinct()
      .crossJoin(spark.range(1).select(explode(expr(
        s"sequence(to_date('$lo'), to_date('$hi'), interval 1 day)"))
        .as("order_date")))
    val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("order_date"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("o_orderpriority", "order_date"), "left")
      .select(col("o_orderpriority"), col("order_date"),
        coalesce(col("n"), lit(0L)).as("n_orders"),
        col("rev").as("day_revenue"),
        last(col("rev"), ignoreNulls = true).over(w).as("locf_revenue"))
      .orderBy(col("o_orderpriority"), col("order_date"))
  }

  /** q75: ordered-set aggregates — EXACT distributed percentiles
    * (p25/p50/p75 of extended price, linear interpolation at
    * p·(n−1), the definition both engines share) and the MODE of
    * quantity stated deterministically (smallest most-frequent value
    * — a bare `mode()` is tie-arbitrary in Spark, so it's computed
    * as a count + rank composition both engines agree on). Exact
    * percentiles are sort-based per group — at 100 TB that's a
    * per-group sort the plan distributes by the group key; results
    * rounded to 2 dp so the gate sits on the money grain, not the
    * last interpolation ulp.
    */
  def q75PercentileSuite(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    // cents-grain HALF_UP spelled as floor(x·100 + 0.5)/100: both
    // engines run the IDENTICAL double ops, so a percentile landing
    // exactly on a half-cent can't split on rounding-rule trivia
    // (round() did: Spark HALF_UP vs DuckDB half-even diverge there)
    def cents(c: Column): Column = floor(c * lit(100) + lit(0.5)) / lit(100.0)
    val pct = li.groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        cents(expr("percentile(l_extendedprice, 0.25)")).as("p25"),
        cents(expr("percentile(l_extendedprice, 0.5)")).as("p50"),
        cents(expr("percentile(l_extendedprice, 0.75)")).as("p75"))
    val modal = li.groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("l_returnflag"))
          .orderBy(col("c").desc, col("l_quantity").asc)))
      .filter(col("rn") === 1)
      .select(col("l_returnflag"), col("l_quantity").as("modal_quantity"),
        col("c").as("modal_count"))
    pct.join(modal, Seq("l_returnflag"))
      .orderBy(col("l_returnflag"))
  }

  /** Driver-contract registration: query name → runner. */
  /** q88: PAGERANK CENTRALITY over the customer↔supplier order graph
    * — the second iterative-propagation algorithm in the engine
    * (d06's connected components finds WHO is connected; this ranks
    * HOW CENTRAL they are — the pattern behind web-corpus seed
    * quality, supplier criticality, fraud-ring scoring). Edges =
    * distinct (customer, supplier) pairs that traded, made
    * undirected; 5 Jacobi iterations of r ← 0.15/n + 0.85·Σ r/deg.
    *
    * Cross-engine exactness for an ITERATIVE float computation: each
    * edge contribution is floored to a 1e-12 fixed-point LONG, so
    * the per-node combine is an integer sum — accumulation-ORDER-FREE
    * (any partitioning, any engine, bit-identical), where a double
    * sum would drift per shuffle layout and compound across
    * iterations. (At larger |E| the long sum widens to a decimal —
    * same trick, bigger lattice.) Every iteration is one |E|-sized
    * join + one |V|-sized aggregate: no driver state, no global
    * sort; the 100 TB shape is exactly Pregel-on-joins. Edges and
    * degrees persist once across the 5 iterations.
    */
  def q88GraphRank(spark: SparkSession, dir: String): DataFrame = {
    val e0 = t(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      .join(t(spark, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      // LONG node ids (customer → 2k, supplier → 2k+1): integer
      // hash/compare on the 2·|E| hot path; the reader-facing 'c…'/'s…'
      // labels are minted once, on the 20 output rows
      .select((col("o_custkey") * 2L).as("src"),
        (col("l_suppkey") * 2L + 1L).as("dst"))
      .distinct()
    // plain persists: the nN count below and every iteration are
    // separate actions, which no in-plan exchange spans — without the
    // cache each iteration would re-run the 2·|E| distinct join
    // (measured: 14.5 s vs 7.5 s at sf0.1). Released explicitly
    // after the fixpoint, once rank is checkpoint-materialized.
    // Persisted HASH-PARTITIONED ON dst: every iteration's per-node
    // combine groups by dst, so clustering the cached edge table by
    // dst once makes all 5 groupBys exchange-free (guide §2.4 — one
    // shuffle paid at build replaces one |E| exchange per iteration;
    // the broadcast rank join preserves the partitioning).
    val edges = e0.unionAll(e0.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("dst"))
      .persist()
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg")).persist()
    val nN = deg.count().toDouble
    var rank = deg.select(col("src").as("node"), col("deg"),
      (lit(1.0) / lit(nN)).as("r"))
    // rank is |V|-sized (node, deg, r) — dimension-sized against the
    // |E|-sized edge table, so it BROADCASTS: each iteration pays
    // exactly ONE edge-sized shuffle (the per-node combine), not
    // three. (A graph whose |V| outgrows broadcast would pre-hash
    // edges and rank on node and co-locate instead — same plan shape,
    // exchange pinned once.) Each round's rank is materialized and
    // its lineage CUT (d06's fixpoint lesson): without the cut, the
    // round-k broadcast collect re-executes rounds 1..k-1 — O(k²)
    // total work from a lazy chained plan. localCheckpoint of a
    // |V|-row table is block-manager-cheap; a cluster fearing
    // executor loss uses reliable checkpointing as in d06.
    for (_ <- 1 to 5) {
      val contrib = edges
        .join(broadcast(rank), col("src") === col("node"))
        .select(col("dst"),
          floor(lit(0.85) * col("r") / col("deg") * lit(1e12)).as("t"))
      val agg = contrib.groupBy(col("dst")).agg(sum(col("t")).as("ts"))
      rank = deg.select(col("src").as("node"), col("deg"))
        .join(broadcast(agg), col("node") === col("dst"), "left")
        .select(col("node"), col("deg"),
          (lit(0.15) / lit(nN) +
            coalesce(col("ts"), lit(0L)).cast("double") / lit(1e12)).as("r"))
        .localCheckpoint(eager = true)
    }
    edges.unpersist(false)
    deg.unpersist(false)
    rank.select(
        when(col("node") % 2 === 0, concat(lit("c"), (col("node") / 2).cast("long")))
          .otherwise(concat(lit("s"), ((col("node") - 1) / 2).cast("long")))
          .as("node"),
        (floor(col("r") * lit(1e9)).cast("double") / lit(1e9)).as("rank"))
      .orderBy(col("rank").desc, col("node"))
      .limit(20)
  }

  /** q127: RECURSIVE CTE — Spark 4's `WITH RECURSIVE` (SPARK-24497),
    * the iterative-closure surface a Kyuubi SQL user reaches for on
    * hierarchies (org charts, BOMs, category trees) without leaving
    * SQL. The fixture derives a forest from the customer keys
    * (parent(k) = ⌊k/10⌋, roots k<10 — deterministic, SF-stable
    * depth ≤ 4) and walks it to a transitive closure carrying (root,
    * depth), then rolls up per (root, depth): node count, key span,
    * exact acctbal sum. Each recursion step is one distributed
    * hash join of the frontier against the table — the same
    * fixpoint shape as d06's pointer-jumping, but expressed in ANSI
    * SQL and planned by Catalyst. The oracle is the identical
    * recursion in DuckDB.
    */
  def q127RecursiveCte(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "customer").createOrReplaceTempView("q127_cust")
    spark.sql(
      """WITH RECURSIVE anc(k, root, depth, bal) AS (
        |  SELECT c_custkey, c_custkey, 0, CAST(c_acctbal AS DECIMAL(18,2))
        |  FROM q127_cust WHERE c_custkey < 10
        |  UNION ALL
        |  SELECT c.c_custkey, a.root, a.depth + 1,
        |    CAST(c.c_acctbal AS DECIMAL(18,2))
        |  FROM q127_cust c
        |  JOIN anc a ON CAST(FLOOR(c.c_custkey / 10.0) AS BIGINT) = a.k
        |  WHERE c.c_custkey >= 10)
        |SELECT root, depth,
        |  COUNT(*) AS n_nodes,
        |  MIN(k) AS min_key, MAX(k) AS max_key,
        |  CAST(SUM(bal) AS DOUBLE) AS total_acctbal
        |FROM anc
        |GROUP BY root, depth
        |ORDER BY root, depth""".stripMargin)
  }

  /** q128: LATERAL correlated subquery — the per-row `LIMIT k` join
    * (Spark 4 LATERAL), the terse SQL spelling of top-k-per-group
    * that window+filter (q09) circumscribes: for every nation, its
    * top-2 suppliers by account balance, picked by a correlated
    * ordered-LIMIT subquery. Catalyst decorrelates this into the
    * same ranked-window plan q09 builds by hand — the entry pins
    * that the DECLARED form works end-to-end through SQL. Identical
    * statement text runs in DuckDB as the oracle.
    */
  def q128LateralTopk(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "nation").createOrReplaceTempView("q128_nation")
    t(spark, dir, "supplier").createOrReplaceTempView("q128_supplier")
    spark.sql(
      """SELECT n.n_name, top.s_name,
        |  CAST(top.s_acctbal AS DOUBLE) AS acctbal
        |FROM q128_nation n,
        |LATERAL (
        |  SELECT s_name, s_acctbal
        |  FROM q128_supplier s
        |  WHERE s.s_nationkey = n.n_nationkey
        |  ORDER BY s_acctbal DESC, s_name
        |  LIMIT 2) top
        |ORDER BY n.n_name, acctbal DESC, top.s_name""".stripMargin)
  }

  /** q131: SQL PIPE syntax — Spark 4's `|>` operators (SPARK-49555,
    * the GoogleSQL pipe-query model): the query reads as its
    * dataflow — source |> filter |> derive |> aggregate |> order —
    * the statement-level twin of the DataFrame chain, and the shape
    * SQL-first pipeline authors (the reference's dbt models) are
    * migrating toward. Semantically identical to the nested-SELECT
    * spelling, so the oracle is exactly that spelling in DuckDB;
    * decimal-exact aggregation through the pipe.
    */
  def q131PipeSql(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "lineitem").createOrReplaceTempView("q131_lineitem")
    spark.sql(
      """FROM q131_lineitem
        ||> WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |     AND l_shipdate < TIMESTAMP '1996-01-01'
        ||> EXTEND l_extendedprice * (1 - l_discount) AS disc_price
        ||> AGGREGATE COUNT(*) AS n_items,
        |     CAST(SUM(CAST(disc_price AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |   GROUP BY l_returnflag, l_linestatus
        ||> ORDER BY l_returnflag, l_linestatus""".stripMargin)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q131_pipe_sql" -> (q131PipeSql _),
    "q127_recursive_cte" -> (q127RecursiveCte _),
    "q128_lateral_topk" -> (q128LateralTopk _),
    "q88_graph_rank" -> (q88GraphRank _),
    "q73_unpivot" -> (q73Unpivot _),
    "q74_gap_fill" -> (q74GapFill _),
    "q75_percentile_suite" -> (q75PercentileSuite _),
    "q47_null_semantics" -> (q47NullSemantics _),
    "q49_salted_join" -> (q49SaltedJoin _),
    "q46_range_window" -> (q46RangeWindow _),
    "q44_dormant_customers" -> (q44DormantCustomers _),
    "q45_waiting_suppliers" -> (q45WaitingSuppliers _),
    "q43_scalable_rank" -> (q43ScalableRank _),
    "q42_date_suite" -> (q42DateSuite _),
    "q39_set_ops" -> (q39SetOps _),
    "q40_array_agg" -> (q40ArrayAgg _),
    "q41_grouping_sets" -> (q41GroupingSets _),
    "q26_order_priority" -> (q26OrderPriority _),
    "q27_local_supplier_volume" -> (q27LocalSupplierVolume _),
    "q28_nation_volume" -> (q28NationVolume _),
    "q29_market_share" -> (q29MarketShare _),
    "q30_profit_by_nation_year" -> (q30ProfitByNationYear _),
    "q31_ship_delay" -> (q31ShipDelay _),
    "q32_customer_distribution" -> (q32CustomerDistribution _),
    "q33_promo_revenue" -> (q33PromoRevenue _),
    "q34_top_supplier" -> (q34TopSupplier _),
    "q35_large_orders" -> (q35LargeOrders _),
    "q36_disjunctive_revenue" -> (q36DisjunctiveRevenue _),
    "q37_parts_supplier_count" -> (q37PartsSupplierCount _),
    "q38_min_price_supplier" -> (q38MinPriceSupplier _)
  )

  /** DuckDB-dialect oracles (parity rules: SURVEY.md §4). */
  // q88 oracle: the 5 iterations unrolled as chained CTEs, generated
  // from one template so Spark and DuckDB can never disagree on the
  // iteration count or arithmetic shape
  private val q88Iters = (1 to 5).map { i =>
    s"""r$i AS (
       |  SELECT d.node, d.deg,
       |    CAST(0.15 AS DOUBLE) / (SELECT nn FROM n) +
       |    CAST(SUM(CAST(floor(CAST(0.85 AS DOUBLE) * p.r / p.deg * 1e12)
       |                  AS BIGINT)) AS DOUBLE) / 1e12 AS r
       |  FROM e JOIN r${i - 1} p ON e.src = p.node
       |  JOIN deg d ON e.dst = d.node
       |  GROUP BY d.node, d.deg)""".stripMargin
  }.mkString(",\n")

  val oracles: Map[String, String] = Map(
    // q131: the pipe dataflow restated as the classic nested SELECT
    "q131_pipe_sql" ->
      """SELECT l_returnflag, l_linestatus,
        |  COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |  AND l_shipdate < TIMESTAMP '1996-01-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    // q127: the identical recursion in DuckDB dialect
    "q127_recursive_cte" ->
      """WITH RECURSIVE anc(k, root, depth, bal) AS (
        |  SELECT c_custkey, c_custkey, 0, CAST(c_acctbal AS DECIMAL(18,2))
        |  FROM customer WHERE c_custkey < 10
        |  UNION ALL
        |  SELECT c.c_custkey, a.root, a.depth + 1,
        |    CAST(c.c_acctbal AS DECIMAL(18,2))
        |  FROM customer c
        |  JOIN anc a ON CAST(FLOOR(c.c_custkey / 10.0) AS BIGINT) = a.k
        |  WHERE c.c_custkey >= 10)
        |SELECT root, CAST(depth AS INT) AS depth,
        |  COUNT(*) AS n_nodes,
        |  MIN(k) AS min_key, MAX(k) AS max_key,
        |  CAST(SUM(bal) AS DOUBLE) AS total_acctbal
        |FROM anc
        |GROUP BY root, depth
        |ORDER BY root, depth""".stripMargin,
    // q128: the same LATERAL statement, DuckDB-run
    "q128_lateral_topk" ->
      """SELECT n.n_name, top.s_name,
        |  CAST(top.s_acctbal AS DOUBLE) AS acctbal
        |FROM nation n,
        |LATERAL (
        |  SELECT s_name, s_acctbal
        |  FROM supplier s
        |  WHERE s.s_nationkey = n.n_nationkey
        |  ORDER BY s_acctbal DESC, s_name
        |  LIMIT 2) top
        |ORDER BY n.n_name, acctbal DESC, top.s_name""".stripMargin,
    "q88_graph_rank" ->
      s"""WITH e0 AS (
         |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
         |deg AS (SELECT src AS node, COUNT(*) AS deg FROM e GROUP BY 1),
         |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nn FROM deg),
         |r0 AS (
         |  SELECT node, deg, CAST(1.0 AS DOUBLE) / (SELECT nn FROM n) AS r
         |  FROM deg),
         |$q88Iters
         |SELECT
         |  CASE WHEN node % 2 = 0 THEN 'c' || CAST(node // 2 AS BIGINT)
         |       ELSE 's' || CAST((node - 1) // 2 AS BIGINT) END AS node,
         |  CAST(CAST(floor(r * 1e9) AS BIGINT) AS DOUBLE) / 1e9 AS rank
         |FROM r5
         |ORDER BY rank DESC, node
         |LIMIT 20""".stripMargin,
    // q73: the semantics stated the naive way — 3 UNION ALL scans
    // (the engine plans ONE scan + Expand; results must agree)
    "q73_unpivot" ->
      """WITH long AS (
        |  SELECT l_returnflag, 'l_extendedprice' AS measure,
        |    l_extendedprice AS value FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'l_tax', l_tax FROM lineitem)
        |SELECT l_returnflag, measure,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM long
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
    // q74: generated date spine × dims, LEFT JOIN day aggregate,
    // IGNORE NULLS LOCF window — gaps must surface with n_orders=0
    "q74_gap_fill" ->
      """WITH daily AS (
        |  SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS order_date,
        |    COUNT(*) AS n,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |  FROM orders
        |  WHERE CAST(o_orderdate AS DATE)
        |    BETWEEN DATE '1995-03-01' AND DATE '1995-03-31'
        |  GROUP BY 1, 2),
        |spine AS (
        |  SELECT DISTINCT d.o_orderpriority, s.order_date
        |  FROM daily d CROSS JOIN (
        |    SELECT unnest(generate_series(DATE '1995-03-01',
        |      DATE '1995-03-31', INTERVAL 1 DAY))::DATE AS order_date) s)
        |SELECT sp.o_orderpriority, sp.order_date,
        |  COALESCE(dl.n, 0) AS n_orders,
        |  dl.rev AS day_revenue,
        |  last_value(dl.rev IGNORE NULLS) OVER (
        |    PARTITION BY sp.o_orderpriority ORDER BY sp.order_date
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_revenue
        |FROM spine sp LEFT JOIN daily dl
        |  ON sp.o_orderpriority = dl.o_orderpriority
        |  AND sp.order_date = dl.order_date
        |ORDER BY 1, 2""".stripMargin,
    // q75: quantile_cont shares percentile's p·(n−1) linear
    // interpolation; the mode is the deterministic count+rank form
    "q75_percentile_suite" ->
      """WITH pct AS (
        |  SELECT l_returnflag,
        |    COUNT(*) AS n,
        |    CAST(floor(quantile_cont(l_extendedprice, 0.25) * 100 + 0.5) / 100.0
        |      AS DOUBLE) AS p25,
        |    CAST(floor(quantile_cont(l_extendedprice, 0.5) * 100 + 0.5) / 100.0
        |      AS DOUBLE) AS p50,
        |    CAST(floor(quantile_cont(l_extendedprice, 0.75) * 100 + 0.5) / 100.0
        |      AS DOUBLE) AS p75
        |  FROM lineitem GROUP BY 1),
        |modal AS (
        |  SELECT l_returnflag, l_quantity AS modal_quantity, c AS modal_count
        |  FROM (
        |    SELECT l_returnflag, l_quantity, COUNT(*) AS c,
        |      ROW_NUMBER() OVER (PARTITION BY l_returnflag
        |        ORDER BY COUNT(*) DESC, l_quantity ASC) AS rn
        |    FROM lineitem GROUP BY 1, 2)
        |  WHERE rn = 1)
        |SELECT p.l_returnflag, p.n, p.p25, p.p50, p.p75,
        |  m.modal_quantity, m.modal_count
        |FROM pct p JOIN modal m ON p.l_returnflag = m.l_returnflag
        |ORDER BY p.l_returnflag""".stripMargin,
    // q49: the oracle is the UNSALTED join — salting must be
    // result-invariant, so any salt-induced row loss/duplication
    // hash-mismatches here.
    "q49_salted_join" ->
      """SELECT o_orderpriority,
        |  COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q47_null_semantics" ->
      """WITH base AS (
        |  SELECT *, CASE WHEN o_totalprice < 100000.0 THEN NULL
        |                 ELSE o_orderpriority END AS pr
        |  FROM orders)
        |SELECT pr,
        |  COUNT(*) AS n_rows,
        |  COUNT(pr) AS n_nonnull_pr,
        |  COUNT(DISTINCT o_custkey) AS n_cust,
        |  CAST(SUM(CAST(NULLIF(o_totalprice, 0.0) AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  MIN(o_totalprice) AS min_price,
        |  MAX(CASE WHEN pr IS NOT DISTINCT FROM NULL THEN 1 ELSE 0 END) AS is_null_group
        |FROM base
        |GROUP BY pr
        |ORDER BY pr NULLS FIRST""".stripMargin,
    "q46_range_window" ->
      """SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value,
        |  COUNT(*) OVER w AS events_1h,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS value_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
        |  RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts_ms, event_id""".stripMargin,
    "q44_dormant_customers" ->
      """WITH avg_bal AS (
        |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)/COUNT(c_acctbal) AS avg_bal
        |  FROM customer WHERE c_acctbal > 0.0)
        |SELECT c_mktsegment,
        |  COUNT(*) AS n_customers,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
        |FROM customer, avg_bal
        |WHERE c_acctbal > avg_bal
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
    "q45_waiting_suppliers" ->
      """SELECT s_name, COUNT(*) AS numwait
        |FROM lineitem l1
        |JOIN orders ON l1.l_orderkey = o_orderkey
        |JOIN supplier ON l1.l_suppkey = s_suppkey
        |WHERE o_orderstatus = 'F'
        |  AND l1.l_shipdate > CAST(o_orderdate AS DATE) + 60
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  JOIN orders o3 ON l3.l_orderkey = o3.o_orderkey
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND o3.o_orderstatus = 'F'
        |                    AND l3.l_shipdate > CAST(o3.o_orderdate AS DATE) + 60)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 20""".stripMargin,
    "q43_scalable_rank" ->
      """SELECT ROW_NUMBER() OVER (ORDER BY c_acctbal DESC, c_custkey) AS balance_rank,
        |  c_custkey, c_mktsegment, c_acctbal
        |FROM customer
        |ORDER BY balance_rank""".stripMargin,
    "q42_date_suite" ->
      """SELECT o_orderkey,
        |  CAST(o_orderdate AS DATE) AS order_date,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
        |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS plus_3_months,
        |  CAST(o_orderdate AS DATE) + 45 AS plus_45_days,
        |  CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
        |  CAST(dayofyear(o_orderdate) AS BIGINT) AS doy,
        |  CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT)
        |    AS days_since_epoch_start
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q41_grouping_sets" ->
      """SELECT r_name, c_mktsegment,
        |  COUNT(*) AS n_customers,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY GROUPING SETS ((r_name, c_mktsegment), (r_name), (c_mktsegment))
        |ORDER BY r_name ASC NULLS FIRST, c_mktsegment ASC NULLS FIRST""".stripMargin,
    "q39_set_ops" ->
      """SELECT o_custkey FROM (
        |  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996
        |  INTERSECT
        |  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997)
        |EXCEPT
        |SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'P'
        |ORDER BY o_custkey""".stripMargin,
    "q40_array_agg" ->
      """SELECT o_custkey,
        |  COUNT(*) AS n_orders,
        |  array_to_string(list_sort(list(DISTINCT CAST(year(o_orderdate) AS BIGINT))), ',') AS order_years,
        |  array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses
        |FROM orders
        |GROUP BY o_custkey
        |ORDER BY o_custkey""".stripMargin,
    "q26_order_priority" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q27_local_supplier_volume" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'EUROPE'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,
    "q28_nation_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |  CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
        |    OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
        |GROUP BY 1, 2, 3
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,
    "q29_market_share" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(SUM(CASE WHEN n1.n_name = 'NATION_5'
        |    THEN CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6)) END) AS DOUBLE) AS nation_volume,
        |  CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS total_volume,
        |  COALESCE(CAST(SUM(CASE WHEN n1.n_name = 'NATION_5'
        |    THEN CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6)) END) AS DOUBLE), 0.0)
        |    / CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS mkt_share
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |JOIN region ON n2.n_regionkey = r_regionkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY 1
        |ORDER BY o_year""".stripMargin,
    "q30_profit_by_nation_year" ->
      """SELECT n_name AS nation, CAST(year(l_shipdate) AS BIGINT) AS o_year,
        |  CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY 1, 2
        |ORDER BY nation, o_year DESC""".stripMargin,
    "q31_ship_delay" ->
      """WITH delayed AS (
        |  SELECT o_orderpriority,
        |    date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS delay_days
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00')
        |SELECT CASE WHEN delay_days < 30 THEN '0-29'
        |            WHEN delay_days < 60 THEN '30-59'
        |            WHEN delay_days < 90 THEN '60-89'
        |            ELSE '90+' END AS delay_bucket,
        |  COUNT(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 END) AS high_line_count,
        |  COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 END) AS low_line_count,
        |  COUNT(*) AS n_lines
        |FROM delayed
        |GROUP BY 1
        |ORDER BY delay_bucket""".stripMargin,
    "q32_customer_distribution" ->
      """WITH c_orders AS (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderstatus <> 'P'
        |  GROUP BY c_custkey)
        |SELECT c_count, COUNT(*) AS custdist
        |FROM c_orders
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q33_promo_revenue" ->
      """WITH agg AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6)) END) AS DOUBLE) AS promo_revenue,
        |    CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00')
        |SELECT 100.0 * promo_revenue / total_revenue AS promo_pct,
        |  promo_revenue, total_revenue
        |FROM agg""".stripMargin,
    "q34_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,
    "q35_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 250.0)
        |SELECT c_name, c_custkey, o_orderkey,
        |  CAST(o_orderdate AS DATE) AS order_date, o_totalprice, total_qty
        |FROM big
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 100""".stripMargin,
    "q36_disjunctive_revenue" ->
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1.0 AND 11.0)
        |   OR (p_brand = 'Brand#7' AND p_size BETWEEN 1 AND 20 AND l_quantity BETWEEN 10.0 AND 20.0)
        |   OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 30 AND l_quantity BETWEEN 20.0 AND 30.0)""".stripMargin,
    "q37_parts_supplier_count" ->
      """SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
        |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#13'
        |  AND p_type NOT LIKE 'PROMO%'
        |  AND p_size IN (1, 5, 9, 13, 17, 21)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "q38_min_price_supplier" ->
      """WITH unit AS (
        |  SELECT p_partkey, p_name, l_suppkey,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |      / CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS avg_unit_price
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_size <= 5
        |  GROUP BY 1, 2, 3),
        |ranked AS (
        |  SELECT *, MIN(avg_unit_price) OVER (PARTITION BY p_partkey) AS min_price
        |  FROM unit)
        |SELECT p_partkey, p_name, s_suppkey, s_name, avg_unit_price
        |FROM ranked JOIN supplier ON l_suppkey = s_suppkey
        |WHERE avg_unit_price = min_price
        |ORDER BY p_partkey, s_suppkey""".stripMargin
  )
}
