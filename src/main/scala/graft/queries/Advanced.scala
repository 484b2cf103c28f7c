package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Exact._

/** Advanced relational pack: CDC apply with deletes, full window-
  * function suite, CUBE grouping sets, JSON property processing, and
  * an as-of join composed from built-in window primitives (preference
  * (a) in the custom-operator ladder — Spark's own operators express
  * the semantics, so no custom plan node is needed).
  */
object Advanced {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables(spark, dir, name)

  /** q16: Debezium-style CDC apply — changelog with insert/update/
    * delete ops, latest-op-wins per key, tombstones drop the row.
    * Ref: docs/components/cdc.md (transforms=unwrap envelope flatten).
    */
  def q16CdcApply(spark: SparkSession, dir: String): DataFrame = {
    val ops = t(spark, dir, "events")
      .withColumn("op",
        when(col("event_type") === "signup", "c")
          .when(col("event_type") === "error", "d")
          .otherwise("u"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val wAll = Window.partitionBy(col("user_id"))
    ops
      .withColumn("rn", row_number().over(w))
      .withColumn("n_ops", count(lit(1)).over(wAll))
      .withColumn("n_deletes", count(when(col("op") === "d", 1)).over(wAll))
      .filter(col("rn") === 1 && col("op") =!= "d")
      .select(
        col("user_id"),
        col("op").as("last_op"),
        col("value").as("last_value"),
        unix_millis(col("ts")).as("last_ts_ms"),
        col("n_ops"), col("n_deletes"))
      .orderBy(col("user_id"))
  }

  /** q17: window-function suite — lag/lead, first_value, running max,
    * ntile, cume_dist, rank vs dense_rank. The per-customer windows
    * are properly partitioned; the two GLOBAL analytics (ntile,
    * cume_dist) are derived from [[graft.operators.Rank]]'s
    * distributed row numbers instead of `Window.orderBy(...)` with no
    * partition — the single-task data move this library's own Rank
    * operator exists to avoid:
    *  - ntile(4) = the standard bucket formula over (row_number, N)
    *    (first N mod 4 buckets one larger);
    *  - cume_dist = max(row_number) within the price tie group / N
    *    (#rows ≤ price = the greatest ascending row number among
    *    equal prices) — one ranked pass + one VALUE-partitioned
    *    window, no second global ranking.
    */
  def q17WindowSuite(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("order_date"), col("o_orderkey"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wRank = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc)
    val base = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        to_date(col("o_orderdate")).as("order_date"))
      .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
      .withColumn("next_price", lead(col("o_totalprice"), 1).over(w))
      .withColumn("first_price", first(col("o_totalprice")).over(wRun))
      .withColumn("running_max_price", max(col("o_totalprice")).over(wRun))
      .withColumn("cust_price_rank", rank().over(wRank).cast("long"))
      .withColumn("cust_price_dense_rank", dense_rank().over(wRank).cast("long"))
    graft.operators.Rank.globalRowNumber(base,
        Seq(col("o_totalprice").asc, col("o_orderkey").asc), "__rn_asc",
        totalCol = Some("__n"))
      .withColumn("__maxrn",
        max(col("__rn_asc")).over(Window.partitionBy(col("o_totalprice"))))
      .withColumn("price_quartile", expr(
        "CASE WHEN __rn_asc <= (__n % 4) * ((__n div 4) + 1) " +
          "THEN (__rn_asc - 1) div ((__n div 4) + 1) + 1 " +
          "ELSE (__n % 4) + ((__rn_asc - (__n % 4) * ((__n div 4) + 1)) - 1) div (__n div 4) + 1 " +
          "END").cast("long"))
      .withColumn("price_cume_dist",
        col("__maxrn").cast("double") / col("__n").cast("double"))
      .drop("__rn_asc", "__maxrn", "__n")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("order_date"), col("prev_price"), col("next_price"),
        col("first_price"), col("running_max_price"), col("price_quartile"),
        col("price_cume_dist"), col("cust_price_rank"), col("cust_price_dense_rank"))
      .orderBy(col("o_orderkey"))
  }

  /** q18: CUBE over status × market segment. */
  def q18CubeStatusSegment(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val c = t(spark, dir, "customer")
    o.join(c, col("o_custkey") === col("c_custkey"))
      .cube(col("o_orderstatus"), col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("total_revenue"))
      .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("c_mktsegment"))
  }

  /** q19: JSON property extraction + aggregation over the events
    * `props` column (semi-structured processing).
    */
  def q19JsonProps(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "events")
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        count(col("k")).as("n_with_k"),
        countDistinct(col("k")).as("n_distinct_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        sum(col("k")).as("sum_k"))
      .withColumn("avg_k", col("sum_k").cast("double") /
        when(col("n_with_k") === 0, null).otherwise(col("n_with_k").cast("double")))
      .orderBy(col("event_type"))
  }

  /** q20: as-of join — each purchase event picks up the user's most
    * recent prior-or-same-time 'view' event. Composed from a running
    * `last(..., ignoreNulls)` window over the merged timeline: one
    * shuffle by user, no custom plan node, scales as a plain window.
    */
  def q20AsofViewPurchase(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(spark, dir, "events")
      .withColumn("last_view_ts",
        last(when(col("event_type") === "view", col("ts")), ignoreNulls = true).over(w))
      .withColumn("last_view_value",
        last(when(col("event_type") === "view", col("value")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(
        col("user_id"),
        col("event_id").as("purchase_id"),
        unix_millis(col("ts")).as("purchase_ts_ms"),
        col("value").as("purchase_value"),
        unix_millis(col("last_view_ts")).as("last_view_ts_ms"),
        col("last_view_value"))
      .withColumn("gap_ms", col("purchase_ts_ms") - col("last_view_ts_ms"))
      .orderBy(col("user_id"), col("purchase_id"))
  }

  /** q22: correlated-scalar-subquery shape (TPC-H Q17): lineitems
    * under 20% of their part's average quantity. Spark-first form: the
    * per-part average is an aggregate joined back — one pass over the
    * fact, no correlated re-execution per row. No broadcast hint: the
    * aggregate has one row PER PARTKEY (fact-proportional at 100 TB),
    * so AQE must stay free to pick broadcast at small sf and a
    * shuffle join at scale.
    */
  /** q56: ordered funnel analysis — the product-analytics staple over
    * the events stream: per user, the first signup, the first view AT
    * OR AFTER it, and the first purchase at or after that view; stage
    * = deepest step reached. Three per-user aggregates chained by
    * time joins — each a small shuffle on user_id, no windows over
    * the raw stream, no per-user event buffering (the conversion path
    * at 100 TB events). Timestamps compare at microsecond precision
    * on both engines.
    */
  def q56Funnel(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
    def firstAtOrAfter(evType: String, anchor: DataFrame, anchorCol: String,
        outCol: String): DataFrame =
      e.filter(col("event_type") === evType)
        .join(anchor, Seq("user_id"))
        .filter(col("ts") >= col(anchorCol))
        .groupBy(col("user_id")).agg(min(col("ts")).as(outCol))
    val signup = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("s_ts"))
    val view = firstAtOrAfter("view", signup, "s_ts", "v_ts")
    val purchase = firstAtOrAfter("purchase", view, "v_ts", "p_ts")
    e.select(col("user_id")).distinct()
      .join(signup, Seq("user_id"), "left")
      .join(view, Seq("user_id"), "left")
      .join(purchase, Seq("user_id"), "left")
      .select(
        col("user_id"),
        unix_millis(col("s_ts")).as("signup_ts_ms"),
        unix_millis(col("v_ts")).as("view_ts_ms"),
        unix_millis(col("p_ts")).as("purchase_ts_ms"),
        when(col("p_ts").isNotNull, "purchase")
          .when(col("v_ts").isNotNull, "view")
          .when(col("s_ts").isNotNull, "signup")
          .otherwise("none").as("stage"))
      .orderBy(col("user_id"))
  }

  /** q57: cohort retention — users cohorted by first-activity week,
    * retention = share of the cohort active again k weeks later
    * (k ∈ 1..4). Two aggregates (first activity per user, distinct
    * user-week activity) and one join — the cohort matrix at 100 TB
    * events without windows or per-user state. Weeks are epoch-aligned
    * 7-day buckets (floor(epoch_days/7) — identical arithmetic both
    * engines, no locale week rules).
    */
  def q57CohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
      .select(col("user_id"),
        floor(unix_date(to_date(col("ts"))) / 7).cast("long").as("week"))
    val firstWeek = e.groupBy(col("user_id"))
      .agg(min(col("week")).as("cohort_week"))
    val active = e.distinct()
    val joined = active.join(firstWeek, Seq("user_id"))
      .withColumn("weeks_since", col("week") - col("cohort_week"))
    joined
      .groupBy(col("cohort_week"))
      .agg(
        countDistinct(col("user_id")).as("cohort_size"),
        countDistinct(when(col("weeks_since") === 1, col("user_id"))).as("w1"),
        countDistinct(when(col("weeks_since") === 2, col("user_id"))).as("w2"),
        countDistinct(when(col("weeks_since") === 3, col("user_id"))).as("w3"),
        countDistinct(when(col("weeks_since") === 4, col("user_id"))).as("w4"))
      .withColumn("w1_rate", col("w1").cast("double") / col("cohort_size").cast("double"))
      .orderBy(col("cohort_week"))
  }

  /** q78: rolling 7-day active users + event volume — the DAU/WAU
    * dashboard staple. Spark has no distributed sliding COUNT
    * DISTINCT (a RANGE window with DISTINCT isn't supported, and a
    * global window would single-partition the stream), so the scale
    * pattern is: pre-aggregate to (day, user) / (day, count) grain —
    * one shuffle each, output bounded by active-user-days — then
    * explode each day-grain row to the ≤7 output days it contributes
    * to (map-side ×7 fanout on POST-aggregation rows, not raw
    * events), and re-aggregate by output day. Every stage is a keyed
    * shuffle whose width follows the data; nothing global, nothing
    * per-user stateful. The observed-day semi join is a broadcast
    * (calendar-bounded table) that drops contributions past the last
    * observed day.
    */
  def q78RollingActive(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
      .select(to_date(col("ts")).as("day"), col("user_id"))
    val dayStats = e.groupBy(col("day")).agg(
      count(lit(1)).as("n_events"),
      countDistinct(col("user_id")).as("n_users"))
    val days = dayStats.select(col("day"))
    val off = explode(sequence(lit(0), lit(6))).as("off")
    val users7 = e.distinct()
      .select(col("day"), col("user_id"), off)
      .select(date_add(col("day"), col("off")).as("day"), col("user_id"))
      .join(broadcast(days), Seq("day"), "left_semi")
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("n_users_7d"))
    val events7 = dayStats
      .select(col("day"), col("n_events"), off)
      .select(date_add(col("day"), col("off")).as("day"), col("n_events"))
      .join(broadcast(days), Seq("day"), "left_semi")
      .groupBy(col("day"))
      .agg(sum(col("n_events")).as("n_events_7d"))
    dayStats
      .join(users7, Seq("day"))
      .join(events7, Seq("day"))
      .select(col("day"), col("n_events"), col("n_users"),
        col("n_events_7d"), col("n_users_7d"))
      .orderBy(col("day"))
  }

  def q22SmallQuantityRevenue(spark: SparkSession, dir: String): DataFrame = {
    val l = t(spark, dir, "lineitem")
    val avgQty = l.groupBy(col("l_partkey").as("ap_partkey"))
      .agg((sum(col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
        .cast("double") / count(col("l_quantity"))).as("avg_qty"))
    l.join(avgQty, col("l_partkey") === col("ap_partkey"))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg(
        dsum(col("l_extendedprice")).as("total_price"),
        count(lit(1)).as("n_items"),
        countDistinct(col("l_partkey")).as("n_parts"))
  }

  /** q23: as-of join via the custom AsofJoinExec physical operator
    * (graft.plans.AsofJoin — LogicalPlan + Strategy + SparkPlan):
    * each purchase picks up the user's latest view at-or-before it.
    * Same semantics as q20's window composition, executed as a
    * broadcast index + per-row binary search instead of a union sort.
    */
  def q23AsofExec(spark: SparkSession, dir: String): DataFrame = {
    val events = t(spark, dir, "events")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user_id"), col("event_id").as("v_event_id"),
        col("ts").as("v_ts"), col("value").as("v_value"))
    graft.plans.Asof.join(purchases, views,
        leftKey = "user_id", rightKey = "v_user_id",
        leftTime = "ts", rightTime = "v_ts", rightTieBreak = "v_event_id")
      .select(
        col("user_id"),
        col("event_id").as("purchase_id"),
        unix_millis(col("ts")).as("purchase_ts_ms"),
        col("value").as("purchase_value"),
        col("v_event_id").as("view_id"),
        unix_millis(col("v_ts")).as("view_ts_ms"),
        col("v_value").as("view_value"))
      .orderBy(col("user_id"), col("purchase_id"))
  }

  /** q24: shipping priority (TPC-H Q3 shape) — segment-filtered
    * 3-table join, grouped revenue, top-10 by (revenue, date).
    */
  def q24ShippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = t(spark, dir, "orders")
      .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val l = t(spark, dir, "lineitem")
      .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), to_date(col("o_orderdate")).as("order_date"),
        col("o_orderpriority"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"))
      .orderBy(col("revenue").desc, col("order_date"), col("l_orderkey"))
      .limit(10)
  }

  /** q25: returned-item reporting (TPC-H Q10 shape) — revenue lost to
    * returns per customer, top-20.
    */
  def q25ReturnedItems(spark: SparkSession, dir: String): DataFrame = {
    val l = t(spark, dir, "lineitem").filter(col("l_returnflag") === "R")
    val o = t(spark, dir, "orders")
    val c = t(spark, dir, "customer")
    val n = t(spark, dir, "nation")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"), col("c_acctbal"))
      .agg(
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** The q86 segment rotation — each customer's PREVIOUS segment is
    * the next segment in this cycle, and the change lands at a
    * per-customer month (1995-01-01 + custkey % 48 months), so the
    * point-in-time answer is data-dependent, not a global cutoff.
    */
  private val segRotate =
    """CASE c_mktsegment
      |  WHEN 'AUTOMOBILE' THEN 'BUILDING'
      |  WHEN 'BUILDING' THEN 'FURNITURE'
      |  WHEN 'FURNITURE' THEN 'HOUSEHOLD'
      |  WHEN 'HOUSEHOLD' THEN 'MACHINERY'
      |  ELSE 'AUTOMOBILE' END""".stripMargin

  /** q86: POINT-IN-TIME dimension join — the query every SCD2 dim
    * exists for (dbt snapshots, q11/q62): attribute facts to the dim
    * version valid AT THE FACT'S TIME, not today's row. Each customer
    * carries a two-version segment history (old segment until a
    * per-customer change month, current after); every order binds to
    * the version whose `valid_from` is the latest at-or-before the
    * order date — an as-of join, served by [[graft.plans.Asof]]
    * (SCD2 intervals partition time, so latest-at-or-before IS the
    * valid interval; no BETWEEN nested loop). Output: the
    * (segment-at-order-time × segment-today) migration matrix with
    * revenue — the off-diagonal mass is exactly the revenue a naive
    * current-dim join misattributes. The oracle restates the history
    * as its closed form (CASE on the change date), so the operator
    * path is checked against first principles.
    */
  def q86TemporalJoin(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val changeMs = unix_millis(
      add_months(lit("1995-01-01").cast("date"), (col("c_custkey") % 48).cast("int"))
        .cast("timestamp"))
    val dim = cust.select(col("c_custkey").as("d_custkey"),
        expr(segRotate).as("d_segment"),
        lit(0L).as("valid_from_ms"), lit(1L).as("d_version"))
      .unionByName(cust.select(col("c_custkey").as("d_custkey"),
        col("c_mktsegment").as("d_segment"),
        changeMs.as("valid_from_ms"), lit(2L).as("d_version")))
    val facts = t(spark, dir, "orders")
      .select(col("o_custkey"), col("o_totalprice"),
        // cast first: the testdata's physical type varies between
        // TIMESTAMP and TIMESTAMP_NTZ generations (session tz = UTC)
        unix_millis(col("o_orderdate").cast("timestamp")).as("ts_ms"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("o_custkey"), col("o_totalprice"), col("ts_ms"),
        col("c_mktsegment").as("segment_current"))
    graft.plans.Asof.join(facts, dim,
        leftKey = "o_custkey", rightKey = "d_custkey",
        leftTime = "ts_ms", rightTime = "valid_from_ms",
        rightTieBreak = "d_version")
      .groupBy(col("d_segment").as("segment_at_order"), col("segment_current"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
      .orderBy(col("segment_at_order"), col("segment_current"))
  }

  /** q126: INTERVAL-CONCURRENCY via a sweep line — for every order's
    * fulfillment window [start, start + (key%20+3) days], how many
    * OTHER orders' windows overlap it. The naive answer is an
    * interval self-join (pair explosion: ~240 overlaps/order here,
    * quadratic blowup under skew); the sweep computes it with ZERO
    * pair materialization from two cumulative counts on a dense day
    * dimension: overlap(o) = #starts ≤ o.end − #ends < o.start − 1
    * (closed intervals; subtract self). The day dimension is bounded
    * by the calendar (~2.6k rows — broadcast; its cumulative windows
    * run on the day table, never the fact), and the per-order lookups
    * are plain equi-joins against it, so 100 TB of intervals costs
    * two broadcast hash joins + one pass. The classic
    * Arge/interval-tree workload reduced to counts, Spark-first. The
    * gated output is the `% 37` probe slice; the oracle BRUTE-FORCES
    * the overlap predicate for exactly those probes — the sweep and
    * the quadratic definition must agree row-for-row.
    */
  def q126IntervalConcurrency(spark: SparkSession, dir: String): DataFrame = {
    val iv = t(spark, dir, "orders").select(
        col("o_orderkey"),
        to_date(col("o_orderdate")).as("start_d"))
      .withColumn("end_d",
        expr("date_add(start_d, CAST(o_orderkey % 20 + 3 AS INT))"))
    import org.apache.spark.sql.expressions.Window
    // dense day dimension spanning every window (calendar-bounded)
    val days = iv.agg(min(col("start_d")).as("lo"), max(col("end_d")).as("hi"))
      .select(explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cumStarts = days
      .join(iv.groupBy(col("start_d").as("day")).agg(count(lit(1)).as("n")),
        Seq("day"), "left")
      .withColumn("cum_starts", sum(coalesce(col("n"), lit(0L))).over(w))
      .select(col("day"), col("cum_starts"))
    val cumEnds = days
      .join(iv.groupBy(col("end_d").as("day")).agg(count(lit(1)).as("n")),
        Seq("day"), "left")
      .withColumn("cum_ends", sum(coalesce(col("n"), lit(0L))).over(w))
      .select(col("day"), col("cum_ends"))
    iv
      .join(broadcast(cumStarts), col("end_d") === cumStarts("day"))
      .drop("day")
      // ends strictly BEFORE my start: cum at start-1; a window opening
      // on the calendar's first day has nothing before it
      .join(broadcast(cumEnds),
        expr("date_add(start_d, -1)") === cumEnds("day"), "left")
      .withColumn("n_concurrent",
        col("cum_starts") - coalesce(col("cum_ends"), lit(0L)) - lit(1L))
      .filter(col("o_orderkey") % 37 === 0)
      .select(col("o_orderkey"), col("start_d"), col("end_d"),
        col("n_concurrent"))
      .orderBy(col("o_orderkey"))
  }

  /** q129: the VARIANT type — Spark 4's semi-structured column
    * (parse_json → open-schema binary, the Snowflake/Delta VARIANT
    * model that replaces string-typed JSON blobs at the lake edge):
    * each event's props plus derived fields assemble into one nested
    * JSON document, parsed ONCE into a variant, then served by typed
    * path extraction (`variant_get` with a target type — returns
    * NULL on missing paths instead of failing, the
    * schema-on-read contract) and `schema_of_variant` (the observed
    * physical schema, pinned in-result). At 100 TB variant's binary
    * encoding scans ~an order faster than re-parsing JSON text per
    * query, and extraction is row-local codegen'd work. The oracle
    * recomputes every aggregate from the RAW columns — the
    * round-trip through variant must be lossless and typed.
    */
  def q129VariantJson(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
    val json = concat(
      lit("{\"id\":"), col("event_id"),
      lit(",\"nested\":{\"k\":"),
      coalesce(get_json_object(col("props"), "$.k"), lit("null")),
      lit("},\"tags\":["), col("event_id") % 3, lit(","),
      col("event_id") % 5, lit("]}"))
    e.withColumn("v", parse_json(json))
      .withColumn("k", expr("variant_get(v, '$.nested.k', 'bigint')"))
      .withColumn("tag0", expr("variant_get(v, '$.tags[0]', 'bigint')"))
      .withColumn("missing", expr("variant_get(v, '$.absent.path', 'bigint')"))
      .withColumn("vschema", expr("schema_of_variant(v)"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        count(col("k")).as("n_with_k"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        sum(col("tag0")).as("sum_tag0"),
        count(col("missing")).as("n_missing_hits"),
        // pin the schema from rows that CARRY k: a props row missing
        // '$.k' would yield 'k: VOID', which sorts above 'k: BIGINT'
        // and would steal a bare max()
        max(when(col("k").isNotNull, col("vschema"))).as("variant_schema"))
      .orderBy(col("event_type"))
  }

  /** q130: BITMAP-INDEX distinct aggregation — Spark's bitmap
    * function family (3.5+): integer keys bucket into 32768-bit
    * bitmaps (`bitmap_bucket_number`/`bitmap_bit_position`), partial
    * per-bucket bitmaps build map-side (`bitmap_construct_agg`),
    * merge by OR (`bitmap_or_agg`), and cardinality pops out of
    * `bitmap_count` — EXACT distinct counting whose shuffle carries
    * fixed-size bitmaps instead of every key occurrence (the dense-
    * int-key regime where bitmap beats both exact count-distinct
    * re-shuffles and HLL's approximation; the ClickHouse/Druid
    * bitmap-index idea on Spark built-ins). The entry computes
    * per-type distinct users BOTH ways and the gate pins them equal
    * in-data; the oracle is the exact distinct.
    */
  def q130BitmapDistinct(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "events").createOrReplaceTempView("q130_events")
    spark.sql(
      """WITH ex AS (
        |  SELECT event_type, COUNT(DISTINCT user_id) AS nd_exact
        |  FROM q130_events GROUP BY 1),
        |bm AS (
        |  SELECT event_type,
        |    bitmap_construct_agg(bitmap_bit_position(user_id + 1)) AS b
        |  FROM q130_events
        |  GROUP BY event_type, bitmap_bucket_number(user_id + 1)),
        |m AS (
        |  -- cardinality PER BUCKET, then sum: OR-merging bitmaps from
        |  -- DIFFERENT buckets would collapse same-position ids (1 and
        |  -- 32769 share a bit) — invisible at small SF, wrong at scale
        |  SELECT event_type, CAST(SUM(bitmap_count(b)) AS BIGINT) AS nd_bitmap
        |  FROM bm GROUP BY 1)
        |SELECT m.event_type, m.nd_bitmap, ex.nd_exact
        |FROM m JOIN ex ON m.event_type = ex.event_type
        |ORDER BY m.event_type""".stripMargin)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q130_bitmap_distinct" -> (q130BitmapDistinct _),
    "q129_variant_json" -> (q129VariantJson _),
    "q126_interval_concurrency" -> (q126IntervalConcurrency _),
    "q86_temporal_join" -> (q86TemporalJoin _),
    "q23_asof_exec" -> (q23AsofExec _),
    "q24_shipping_priority" -> (q24ShippingPriority _),
    "q25_returned_items" -> (q25ReturnedItems _),
    "q16_cdc_apply" -> (q16CdcApply _),
    "q17_window_suite" -> (q17WindowSuite _),
    "q18_cube_status_segment" -> (q18CubeStatusSegment _),
    "q19_json_props" -> (q19JsonProps _),
    "q20_asof_view_purchase" -> (q20AsofViewPurchase _),
    "q22_small_quantity_revenue" -> (q22SmallQuantityRevenue _),
    "q56_funnel" -> (q56Funnel _),
    "q57_cohort_retention" -> (q57CohortRetention _),
    "q78_rolling_active" -> (q78RollingActive _)
  )

  val oracles: Map[String, String] = Map(
    // q130: the bitmap pipeline's cardinality must equal the exact
    // distinct — both columns restate as the same exact count
    "q130_bitmap_distinct" ->
      """SELECT event_type,
        |  COUNT(DISTINCT user_id) AS nd_bitmap,
        |  COUNT(DISTINCT user_id) AS nd_exact
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    // q129: every aggregate recomputed from the RAW columns (variant
    // must be a lossless typed round-trip); the observed variant
    // schema is a fixed property of the document shape — pinned
    "q129_variant_json" ->
      """SELECT event_type,
        |  COUNT(*) AS n_events,
        |  COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
        |  CAST(SUM(event_id % 3) AS BIGINT) AS sum_tag0,
        |  CAST(0 AS BIGINT) AS n_missing_hits,
        |  'OBJECT<id: BIGINT, nested: OBJECT<k: BIGINT>, tags: ARRAY<BIGINT>>'
        |    AS variant_schema
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    // q126: quadratic restatement of the overlap definition on the
    // probe slice only — the sweep must reproduce it exactly
    "q126_interval_concurrency" ->
      """WITH iv AS (
        |  SELECT o_orderkey,
        |    CAST(o_orderdate AS DATE) AS start_d,
        |    CAST(o_orderdate AS DATE) + CAST(o_orderkey % 20 + 3 AS INT) AS end_d
        |  FROM orders)
        |SELECT a.o_orderkey, a.start_d, a.end_d,
        |  (SELECT COUNT(*) FROM iv b
        |   WHERE b.o_orderkey <> a.o_orderkey
        |     AND b.start_d <= a.end_d AND a.start_d <= b.end_d) AS n_concurrent
        |FROM iv a
        |WHERE a.o_orderkey % 37 = 0
        |ORDER BY a.o_orderkey""".stripMargin,
    // q86: the two-version history collapses to a closed form — the
    // as-of path must match the CASE-on-change-date restatement
    "q86_temporal_join" ->
      """WITH c AS (
        |  SELECT c_custkey, c_mktsegment AS seg_now,
        |    CASE c_mktsegment
        |      WHEN 'AUTOMOBILE' THEN 'BUILDING'
        |      WHEN 'BUILDING' THEN 'FURNITURE'
        |      WHEN 'FURNITURE' THEN 'HOUSEHOLD'
        |      WHEN 'HOUSEHOLD' THEN 'MACHINERY'
        |      ELSE 'AUTOMOBILE' END AS seg_old,
        |    epoch_ms(TIMESTAMP '1995-01-01'
        |      + INTERVAL ((c_custkey % 48)::INT) MONTH) AS change_ms
        |  FROM customer)
        |SELECT
        |  CASE WHEN epoch_ms(o_orderdate) < change_ms
        |       THEN seg_old ELSE seg_now END AS segment_at_order,
        |  seg_now AS segment_current,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN c ON o_custkey = c_custkey
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
    // q78: the oracle states the rolling windows the naive way — a
    // range self-join per day (BETWEEN day-6 AND day); the engine's
    // explode-contributions plan must agree exactly. Dual-dialect:
    // date − int, BETWEEN, COUNT DISTINCT parse identically in
    // DuckDB and Spark SQL (facade parity runs this text verbatim).
    "q78_rolling_active" ->
      """WITH e AS (
        |  SELECT CAST(ts AS DATE) AS day, user_id FROM events),
        |dc AS (
        |  SELECT day, COUNT(*) AS n_events,
        |    COUNT(DISTINCT user_id) AS n_users
        |  FROM e GROUP BY day),
        |du AS (SELECT DISTINCT day, user_id FROM e),
        |u7 AS (
        |  SELECT d.day, COUNT(DISTINCT u.user_id) AS n_users_7d
        |  FROM dc d JOIN du u ON u.day BETWEEN d.day - 6 AND d.day
        |  GROUP BY d.day),
        |c7 AS (
        |  SELECT d.day, CAST(SUM(c.n_events) AS BIGINT) AS n_events_7d
        |  FROM dc d JOIN dc c ON c.day BETWEEN d.day - 6 AND d.day
        |  GROUP BY d.day)
        |SELECT d.day, d.n_events, d.n_users, c7.n_events_7d, u7.n_users_7d
        |FROM dc d
        |JOIN u7 ON d.day = u7.day
        |JOIN c7 ON d.day = c7.day
        |ORDER BY d.day""".stripMargin,
    "q57_cohort_retention" ->
      """WITH act AS (
        |  SELECT DISTINCT user_id,
        |    CAST(floor(date_diff('day', DATE '1970-01-01',
        |      CAST(ts AS DATE)) / 7.0) AS BIGINT) AS week
        |  FROM events),
        |fw AS (SELECT user_id, MIN(week) AS cohort_week FROM act GROUP BY 1),
        |j AS (
        |  SELECT act.user_id, fw.cohort_week,
        |    act.week - fw.cohort_week AS weeks_since
        |  FROM act JOIN fw ON act.user_id = fw.user_id)
        |SELECT cohort_week,
        |  COUNT(DISTINCT user_id) AS cohort_size,
        |  COUNT(DISTINCT CASE WHEN weeks_since = 1 THEN user_id END) AS w1,
        |  COUNT(DISTINCT CASE WHEN weeks_since = 2 THEN user_id END) AS w2,
        |  COUNT(DISTINCT CASE WHEN weeks_since = 3 THEN user_id END) AS w3,
        |  COUNT(DISTINCT CASE WHEN weeks_since = 4 THEN user_id END) AS w4,
        |  CAST(COUNT(DISTINCT CASE WHEN weeks_since = 1 THEN user_id END) AS DOUBLE)
        |    / CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS w1_rate
        |FROM j GROUP BY 1 ORDER BY cohort_week""".stripMargin,
    "q56_funnel" ->
      """WITH s AS (
        |  SELECT user_id, MIN(ts) AS s_ts FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |v AS (
        |  SELECT e.user_id, MIN(e.ts) AS v_ts
        |  FROM events e JOIN s ON e.user_id = s.user_id
        |  WHERE e.event_type = 'view' AND epoch_us(e.ts) >= epoch_us(s.s_ts)
        |  GROUP BY 1),
        |p AS (
        |  SELECT e.user_id, MIN(e.ts) AS p_ts
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= epoch_us(v.v_ts)
        |  GROUP BY 1)
        |SELECT u.user_id,
        |  epoch_ms(s.s_ts) AS signup_ts_ms,
        |  epoch_ms(v.v_ts) AS view_ts_ms,
        |  epoch_ms(p.p_ts) AS purchase_ts_ms,
        |  CASE WHEN p.p_ts IS NOT NULL THEN 'purchase'
        |       WHEN v.v_ts IS NOT NULL THEN 'view'
        |       WHEN s.s_ts IS NOT NULL THEN 'signup'
        |       ELSE 'none' END AS stage
        |FROM (SELECT DISTINCT user_id FROM events) u
        |LEFT JOIN s ON u.user_id = s.user_id
        |LEFT JOIN v ON u.user_id = v.user_id
        |LEFT JOIN p ON u.user_id = p.user_id
        |ORDER BY u.user_id""".stripMargin,
    "q24_shipping_priority" ->
      """SELECT l_orderkey,
        |  CAST(o_orderdate AS DATE) AS order_date,
        |  o_orderpriority,
        |  CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, order_date, l_orderkey
        |LIMIT 10""".stripMargin,
    "q25_returned_items" ->
      """SELECT c_custkey, c_name, n_name, c_acctbal,
        |  CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |GROUP BY 1, 2, 3, 4
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin,
    "q23_asof_exec" ->
      """WITH p AS (
        |  SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'purchase'),
        |v AS (
        |  SELECT user_id AS v_user_id, event_id AS v_event_id, ts AS v_ts, value AS v_value
        |  FROM events WHERE event_type = 'view')
        |SELECT p.user_id,
        |  p.event_id AS purchase_id,
        |  epoch_ms(p.ts) AS purchase_ts_ms,
        |  p.value AS purchase_value,
        |  v_event_id AS view_id,
        |  epoch_ms(v_ts) AS view_ts_ms,
        |  v_value AS view_value
        |FROM p ASOF LEFT JOIN v
        |  ON p.user_id = v.v_user_id AND v.v_ts <= p.ts
        |ORDER BY p.user_id, purchase_id""".stripMargin,
    "q22_small_quantity_revenue" ->
      """WITH avg_qty AS (
        |  SELECT l_partkey AS ap_partkey,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)/COUNT(l_quantity) AS avg_qty
        |  FROM lineitem GROUP BY 1)
        |SELECT
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  COUNT(*) AS n_items,
        |  COUNT(DISTINCT l_partkey) AS n_parts
        |FROM lineitem JOIN avg_qty ON l_partkey = ap_partkey
        |WHERE l_quantity < 0.2 * avg_qty""".stripMargin,
    "q16_cdc_apply" ->
      """WITH ops AS (
        |  SELECT *,
        |    CASE WHEN event_type = 'signup' THEN 'c'
        |         WHEN event_type = 'error' THEN 'd'
        |         ELSE 'u' END AS op
        |  FROM events),
        |ranked AS (
        |  SELECT user_id, op, value, ts,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n_ops,
        |    COUNT(CASE WHEN op = 'd' THEN 1 END) OVER (PARTITION BY user_id) AS n_deletes
        |  FROM ops)
        |SELECT user_id, op AS last_op, value AS last_value,
        |  epoch_ms(ts) AS last_ts_ms, n_ops, n_deletes
        |FROM ranked WHERE rn = 1 AND op <> 'd'
        |ORDER BY user_id""".stripMargin,
    "q17_window_suite" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  CAST(o_orderdate AS DATE) AS order_date,
        |  lag(o_totalprice, 1) OVER w AS prev_price,
        |  lead(o_totalprice, 1) OVER w AS next_price,
        |  first_value(o_totalprice) OVER w_run AS first_price,
        |  max(o_totalprice) OVER w_run AS running_max_price,
        |  CAST(ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS price_quartile,
        |  cume_dist() OVER (ORDER BY o_totalprice) AS price_cume_dist,
        |  CAST(rank() OVER w_rank AS BIGINT) AS cust_price_rank,
        |  CAST(dense_rank() OVER w_rank AS BIGINT) AS cust_price_dense_rank
        |FROM orders
        |WINDOW
        |  w AS (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey),
        |  w_run AS (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  w_rank AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC)
        |ORDER BY o_orderkey""".stripMargin,
    "q18_cube_status_segment" ->
      """SELECT o_orderstatus, c_mktsegment,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY CUBE(o_orderstatus, c_mktsegment)
        |ORDER BY o_orderstatus NULLS FIRST, c_mktsegment NULLS FIRST""".stripMargin,
    "q19_json_props" ->
      """WITH parsed AS (
        |  SELECT event_type, json_extract_string(props, '$.k')::BIGINT AS k
        |  FROM events)
        |SELECT event_type,
        |  COUNT(*) AS n_events,
        |  COUNT(k) AS n_with_k,
        |  COUNT(DISTINCT k) AS n_distinct_k,
        |  MIN(k) AS min_k,
        |  MAX(k) AS max_k,
        |  CAST(SUM(k) AS BIGINT) AS sum_k,
        |  CAST(SUM(k) AS DOUBLE)/NULLIF(CAST(COUNT(k) AS DOUBLE), 0) AS avg_k
        |FROM parsed GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q20_asof_view_purchase" ->
      """WITH tagged AS (
        |  SELECT user_id, event_id, ts, event_type, value,
        |    last_value(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS) OVER w AS last_view_ts,
        |    last_value(CASE WHEN event_type = 'view' THEN value END IGNORE NULLS) OVER w AS last_view_value
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT user_id,
        |  event_id AS purchase_id,
        |  epoch_ms(ts) AS purchase_ts_ms,
        |  value AS purchase_value,
        |  epoch_ms(last_view_ts) AS last_view_ts_ms,
        |  last_view_value,
        |  epoch_ms(ts) - epoch_ms(last_view_ts) AS gap_ms
        |FROM tagged WHERE event_type = 'purchase'
        |ORDER BY user_id, purchase_id""".stripMargin
  )
}
