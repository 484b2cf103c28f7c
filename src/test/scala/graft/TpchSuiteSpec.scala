package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.TpchSuite

/** Semantic invariants + plan-shape audits for the deep TPC-H pack.
  * (Value-level parity with DuckDB is the driver's oracle gate; these
  * specs pin the properties a refactor could silently break.)
  */
class TpchSuiteSpec extends AnyFunSuite {
  import TestSession._

  test("q26 semi join never exceeds the filtered order count") {
    val filtered = Tables(spark, sf, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-04-01").cast("timestamp")).count()
    val counted = TpchSuite.q26OrderPriority(spark, sf)
      .agg(sum("order_count")).head.getLong(0)
    assert(counted > 0 && counted <= filtered)
  }

  test("q29 market share is a valid fraction and volumes are consistent") {
    val rows = TpchSuite.q29MarketShare(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val share = r.getAs[Double]("mkt_share")
      assert(share >= 0.0 && share <= 1.0)
      val nv = Option(r.getAs[java.lang.Double]("nation_volume")).map(_.toDouble).getOrElse(0.0)
      assert(nv <= r.getAs[Double]("total_volume") + 1e-9)
    }
  }

  test("q32 distribution histogram accounts for every customer") {
    val total = TpchSuite.q32CustomerDistribution(spark, sf)
      .agg(sum("custdist")).head.getLong(0)
    assert(total == Tables(spark, sf, "customer").count())
  }

  test("q34 returns the global max-revenue supplier(s)") {
    val rows = TpchSuite.q34TopSupplier(spark, sf).collect()
    assert(rows.nonEmpty)
    val revs = rows.map(_.getAs[Double]("total_revenue")).distinct
    assert(revs.length == 1)
  }

  test("q34 computes the global max without an empty-partition window") {
    // Window.partitionBy() would funnel the whole per-supplier
    // aggregate through a single task; the one-row agg + broadcast
    // join keeps every stage partitioned.
    val plan = TpchSuite.q34TopSupplier(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "q34 plan contains a WindowExec")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoop"),
      "q34 global max should come back via a broadcast join")
  }

  test("q35 rows all exceed the quantity threshold, ordered by price desc") {
    val rows = TpchSuite.q35LargeOrders(spark, sf).collect()
    assert(rows.forall(_.getAs[Double]("total_qty") > 250.0))
    val prices = rows.map(_.getAs[Double]("o_totalprice"))
    assert(prices.zip(prices.tail).forall { case (a, b) => a >= b })
  }

  test("q38 min-price supplier: per-part price is the partition minimum") {
    val df = TpchSuite.q38MinPriceSupplier(spark, sf)
    val perPart = df.groupBy("p_partkey")
      .agg(countDistinct(col("avg_unit_price")).as("n_prices")).collect()
    assert(perPart.forall(_.getAs[Long]("n_prices") == 1L))
  }

  test("q36 disjunctive predicates stay pushdown-friendly (no UDF, single scan pair)") {
    val plan = TpchSuite.q36DisjunctiveRevenue(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"))
    assert(plan.contains("PushedFilters"))
  }

  test("q43 scalable rank matches the naive global window exactly") {
    import org.apache.spark.sql.expressions.Window
    val c = Tables(spark, sf, "customer")
    val naive = c.select(col("c_custkey"),
        row_number().over(Window.orderBy(col("c_acctbal").desc, col("c_custkey"))).as("r"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val scalable = TpchSuite.q43ScalableRank(spark, sf)
      .select(col("c_custkey"), col("balance_rank"))
      .collect().map(r => r.getLong(0) -> r.getAs[Number]("balance_rank").intValue).toMap
    assert(scalable == naive)
    // distributed rank: the GlobalRunningSum exec (range shuffle,
    // partition-offset pass) — never a global WindowExec (which would
    // move every row to one task)
    val plan = TpchSuite.q43ScalableRank(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("GlobalRunningSum") && !plan.contains("Window"))
  }

  test("globalRank matches naive rank() including tie groups") {
    import org.apache.spark.sql.expressions.Window
    val c = Tables(spark, sf, "customer")
      // engineered ties: bucket acctbal so tie groups exist
      .select(col("c_custkey"), (floor(col("c_acctbal") / 1000.0)).as("bal_k"))
    val naive = c.select(col("c_custkey"),
        rank().over(Window.orderBy(col("bal_k"))).as("r"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val scalable = graft.operators.Rank.globalRank(
        c, Seq(col("bal_k")), Seq(col("bal_k")), Seq(col("c_custkey")), "r")
      .select(col("c_custkey"), col("r"))
      .collect().map(r => r.getLong(0) -> r.getAs[Number]("r").intValue).toMap
    assert(scalable == naive)
  }

  test("q27 broadcasts all dimension sides") {
    val plan = TpchSuite.q27LocalSupplierVolume(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("q75 percentiles are ordered and the mode is the deterministic argmax") {
    val rows = TpchSuite.q75PercentileSuite(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("p25") <= r.getAs[Double]("p50") &&
        r.getAs[Double]("p50") <= r.getAs[Double]("p75"))
    }
    // modal_quantity must be the SMALLEST value achieving the max count
    val li = Tables(spark, sf, "lineitem")
    rows.foreach { r =>
      val flag = r.getAs[String]("l_returnflag")
      val counts = li.filter(col("l_returnflag") === flag)
        .groupBy(col("l_quantity")).count()
        .collect().map(x => (x.getAs[Double]("l_quantity"), x.getAs[Long]("count")))
      val maxC = counts.map(_._2).max
      assert(r.getAs[Long]("modal_count") == maxC)
      assert(r.getAs[Double]("modal_quantity") ==
        counts.filter(_._2 == maxC).map(_._1).min)
    }
  }

  test("q73 unpivot plans ONE lineitem scan via Expand, not a 3-scan union") {
    val plan = TpchSuite.q73Unpivot(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Expand"), "unpivot should plan an Expand node")
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected a single fact scan, found $scans")
  }

  test("q74 gap fill surfaces zero-order days and LOCF carries the last value") {
    val rows = TpchSuite.q74GapFill(spark, sf).collect()
    // full spine: every (priority, day) cell of March 1995 is present
    val prios = rows.map(_.getAs[String]("o_orderpriority")).distinct
    assert(rows.length == prios.length * 31, "spine is not dense")
    val gaps = rows.filter(_.getAs[Long]("n_orders") == 0)
    assert(gaps.nonEmpty, "sf0.001 March should have day-priority gaps")
    gaps.foreach(g => assert(g.isNullAt(g.fieldIndex("day_revenue"))))
    // LOCF: within each priority, a gap day's locf equals the most
    // recent non-gap day's revenue (null if no prior observation)
    rows.groupBy(_.getAs[String]("o_orderpriority")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[java.sql.Date]("order_date").toString)
      var lastSeen: Option[Double] = None
      sorted.foreach { r =>
        if (!r.isNullAt(r.fieldIndex("day_revenue")))
          lastSeen = Some(r.getAs[Double]("day_revenue"))
        val locf = if (r.isNullAt(r.fieldIndex("locf_revenue"))) None
          else Some(r.getAs[Double]("locf_revenue"))
        assert(locf == lastSeen, "LOCF diverged from last observation")
      }
    }
  }

  test("q127 recursive closure partitions all customers; depth/root agree with the driver-walked parent chain") {
    val rows = TpchSuite.q127RecursiveCte(spark, sf).collect()
    val nCust = Tables(spark, sf, "customer").count()
    assert(rows.map(_.getAs[Long]("n_nodes")).sum == nCust,
      "closure must reach every customer exactly once")
    // driver-walk the parent chain for a sample and pin (root, depth)
    val byRootDepth = rows.map(r => (r.getAs[Long]("root"),
      r.getAs[Int]("depth")) -> (r.getAs[Long]("min_key"), r.getAs[Long]("max_key"))).toMap
    def walk(k: Long): (Long, Int) = {
      var cur = k; var d = 0
      while (cur >= 10) { cur = cur / 10; d += 1 }
      (cur, d)
    }
    Seq(0L, 7L, 42L, 999L, 1423L).filter(_ < nCust).foreach { k =>
      val (root, depth) = walk(k)
      val (lo, hi) = byRootDepth.getOrElse((root, depth),
        fail(s"missing (root=$root, depth=$depth) for key $k"))
      assert(lo <= k && k <= hi, s"key $k outside its (root,depth) span")
    }
  }

  test("q128 LATERAL top-2 equals the window spelling") {
    val got = TpchSuite.q128LateralTopk(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("s_nationkey"))
      .orderBy(col("s_acctbal").desc, col("s_name"))
    val want = Tables(spark, sf, "supplier")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 2)
      .join(Tables(spark, sf, "nation"),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("s_name"), col("s_acctbal"), col("rnk"))
      .orderBy(col("n_name"), col("rnk"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(got.toSeq == want.toSeq,
      "LATERAL correlated LIMIT diverged from the ranked-window answer")
  }

  test("q130 bitmap distinct == exact everywhere, including the 32768-bit bucket boundary and id 0") {
    val rows = graft.queries.Advanced.q130BitmapDistinct(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("nd_bitmap") == r.getAs[Long]("nd_exact"),
        s"bitmap cardinality diverged for ${r.getString(0)}")
    }
    // boundary fixture: 0 (the shift-by-one reason), the bucket edge
    // pair 32767/32768, and a second-bucket id must all stay distinct
    import spark.implicits._
    Seq(0L, 1L, 32767L, 32768L, 32769L, 65536L).toDF("user_id")
      .createOrReplaceTempView("q130_edge")
    val nd = spark.sql(
      """SELECT CAST(SUM(bitmap_count(b)) AS BIGINT) AS nd FROM (
        |  SELECT bitmap_construct_agg(bitmap_bit_position(user_id + 1)) AS b
        |  FROM q130_edge GROUP BY bitmap_bucket_number(user_id + 1))""".stripMargin)
      .head().getLong(0)
    assert(nd == 6L, s"boundary ids collided in the bitmap: $nd")
  }

  test("q131 pipe SQL equals the DataFrame chain") {
    val got = TpchSuite.q131PipeSql(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getAs[Long]("n_items"),
        math.round(r.getAs[Double]("revenue") * 100)))
    val want = Tables(spark, sf, "lineitem")
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-01-01").cast("timestamp"))
      .withColumn("disc_price",
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,4)"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), sum(col("disc_price")).as("rev"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        math.round(r.getDecimal(3).doubleValue * 100)))
    assert(got.toSeq == want.toSeq, "pipe dataflow diverged from the DataFrame chain")
  }

  test("q88 PageRank: descending positive ranks; run-to-run bit-stable under repartitioning") {
    import graft.queries.TpchSuite
    val rows = TpchSuite.q88GraphRank(spark, sf).collect()
    assert(rows.length == 20)
    val ranks = rows.map(_.getDouble(1))
    assert(ranks.forall(_ > 0.0))
    assert(ranks.zip(ranks.tail).forall { case (a, b) => a >= b },
      "top-20 not rank-descending")
    assert(rows.map(_.getString(0)).distinct.length == 20)
    // the fixed-point integer accumulation is the exactness claim:
    // a second run under a DIFFERENT shuffle width must be
    // bit-identical (a double-sum formulation would drift here)
    val altWidth = org.apache.spark.sql.GraftShims.cloneWithConf(spark,
      "spark.sql.shuffle.partitions" -> "7")
    val again = TpchSuite.q88GraphRank(altWidth, sf).collect()
    assert(rows.map(r => (r.getString(0), r.getDouble(1))).toSeq ==
      again.map(r => (r.getString(0), r.getDouble(1))).toSeq,
      "rank drifted under a different partitioning")
  }
}
