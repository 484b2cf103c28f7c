package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config(graft.streaming.EventStream.STREAM_SHUFFLE_KEY, "4")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1048576")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  /** Run `f` on a fresh session built with [[GraftExtensions]] (sharing
    * the test SparkContext), then restore the default/active sessions.
    * SQL text that names a graft function needs such a session.
    */
  def withExtendedSession[T](f: SparkSession => T): T = {
    val base = spark // ensure the shared context exists first
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    val out = try {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      f(SparkSession.builder()
        .master("local[4]")
        .withExtensions(new GraftExtensions)
        .getOrCreate())
    } finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
    assert(base.sql("SELECT 1").count() == 1)
    out
  }
}

/** Every registered query runs and returns sane results at sf0.001. */
class QueriesSpec extends AnyFunSuite {
  import TestSession._

  test("every queries entry has a runner that yields rows") {
    // Piggybacked plan audit: an UNPARTITIONED window (`WindowExec:
    // No Partition Defined`) funnels its whole input through ONE
    // task — acceptable only when the input is structurally bounded
    // (a limit/TakeOrdered below it, a literal spine, a global
    // 1-row aggregate, or a composition of those). r9 flagged
    // t15/t16 for ranking corpus-scale tables this way; this audit
    // keeps the pattern from coming back on ANY entry.
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case other => other.children
    }
    // bounded = this subtree provably yields few rows: a bounding
    // node anywhere down EVERY branch (a join/zip of bounded sides
    // stays bounded; a union of bounded sides stays bounded)
    def bounded(p: SparkPlan): Boolean = p match {
      case _: TakeOrderedAndProjectExec | _: GlobalLimitExec |
           _: LocalLimitExec | _: CollectLimitExec => true
      case _: LocalTableScanExec => true // literal fixture/spine
      case h: aggregate.HashAggregateExec if h.groupingExpressions.isEmpty => true
      case h: aggregate.ObjectHashAggregateExec if h.groupingExpressions.isEmpty => true
      case h: aggregate.SortAggregateExec if h.groupingExpressions.isEmpty => true
      case other =>
        val cs = kids(other)
        cs.nonEmpty && cs.forall(bounded)
    }
    def unboundedGlobalWindows(p: SparkPlan): Seq[String] = {
      val here = p match {
        case w: WindowExec if w.partitionSpec.isEmpty && !kids(w).forall(bounded) =>
          Seq(w.windowExpression.mkString(", ").take(120))
        case w: WindowGroupLimitExec if w.partitionSpec.isEmpty && !kids(w).forall(bounded) =>
          Seq(s"group-limit ${w.orderSpec.mkString(", ").take(120)}")
        case _ => Seq.empty
      }
      here ++ kids(p).flatMap(unboundedGlobalWindows)
    }
    // DOMAIN-bounded (not structurally bounded) window inputs — each
    // needs a written reason the input stays small at 100 TB:
    //   q126: the concurrency sweep's running sums range over the
    //   DISTINCT-DAY calendar (one row per day in the date domain —
    //   100 TB of orders still spans the same ~2,400 days; the input
    //   grows with the calendar, never with data volume).
    val domainBounded = Set("q126_interval_concurrency")
    val violations = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      val n = df.count()
      assert(n > 0, s"$name returned 0 rows")
      if (!domainBounded(name))
        unboundedGlobalWindows(df.queryExecution.executedPlan)
          .foreach(w => violations += s"$name: $w")
    }
    assert(violations.isEmpty,
      s"unpartitioned windows over unbounded input:\n${violations.mkString("\n")}")
  }

  test("every oracleSql key has a matching queries key") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("q01 groups by the 6 (returnflag, linestatus) combos") {
    assert(SparkEntry.queries("q01_pricing_summary")(spark, sf).count() == 6)
  }

  test("q13 segments partition all customers") {
    val rows = SparkEntry.queries("q13_semi_anti_customers")(spark, sf).collect()
    val total = rows.map(_.getAs[Long]("n_customers")).sum
    val customers = Tables(spark, sf, "customer").count()
    assert(total == customers)
  }

  test("q10 latest snapshot has one row per user") {
    val df = SparkEntry.queries("q10_cdc_latest_snapshot")(spark, sf)
    assert(df.count() == df.select("user_id").distinct().count())
  }

  test("d01 exact dedup covers all documents") {
    val df = SparkEntry.queries("d01_dedup_exact")(spark, sf)
    val copies = df.agg(org.apache.spark.sql.functions.sum("n_copies")).head.getLong(0)
    assert(copies == Tables(spark, sf, "documents").count())
  }

  test("s01 returns exactly 10 neighbours per query, self excluded") {
    val rows = SparkEntry.queries("s01_cosine_topk")(spark, sf).collect()
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    assert(byQ.size == 10 && byQ.values.forall(_.length == 10))
    assert(rows.forall(r => r.getAs[Long]("qid") != r.getAs[Long]("cid")))
  }

  test("declarative queries keep UDF-free, codegen-friendly plans") {
    // typed/streaming ops legitimately leave pure-SQL land:
    // m03 (typed mapPartitions), st02 (flatMapGroupsWithState),
    // st01/03/04 (streaming machinery), a02 (builds its bloom eagerly
    // at construction)
    val exempt = Set("m03_resize_features", "st01_stream_window",
      "st02_stateful_counts", "st03_stream_static_join",
      "st04_stream_dedup", "a02_bloom_filtered_join")
    SparkEntry.queries.filterNot(q => exempt(q._1)).foreach { case (name, fn) =>
      val plan = fn(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
        s"$name plan contains a UDF")
    }
  }

  test("q22 never hints a broadcast of the per-partkey aggregate") {
    // avgQty is one row per l_partkey — fact-proportional at 100 TB.
    // A broadcast() hint there forces a driver collect that OOMs at
    // scale; AQE must stay free to pick the join strategy per-sf.
    val analyzed = SparkEntry.queries("q22_small_quantity_revenue")(spark, sf)
      .queryExecution.analyzed.toString
    assert(!analyzed.contains("ResolvedHint"),
      "q22 logical plan carries a broadcast hint")
  }

  test("q17 global analytics never funnel rows through a single-partition window") {
    // ntile/cume_dist used to be empty-partition windows (a WindowExec
    // fed by Exchange SinglePartition — the whole fact through one
    // task); they now ride Rank's distributed row numbers, whose node
    // also carries N. Assert no Window sits on a single-partition
    // exchange.
    val plan = SparkEntry.queries("q17_window_suite")(spark, sf)
      .queryExecution.executedPlan.toString
    val windowOnSingle =
      "(?s)Window[^\\n]*\\n[^\\n]*Exchange SinglePartition".r
    assert(windowOnSingle.findFirstIn(plan).isEmpty,
      "q17 has a window fed by a single-partition exchange")
    assert(plan.contains("GlobalRunningSum"), "q17 should ride Rank's GlobalRunningSum exec")
  }

  test("st22 micro-batched ANN ingest == s15 bulk append (batch-structure invariance)") {
    val streamed = SparkEntry.queries("st22_stream_ann_ingest")(spark, sf)
      .collect().map(_.toSeq).toSet
    import org.apache.spark.sql.functions.{col => c}
    val bulk = graft.operators.Similarity.s15AnnAppend(spark, sf)
      .filter(c("phase") === "post")
      .select(c("qid"), c("rnk"), c("cid"), c("cell_id"), c("sim_r"))
      .collect().map(_.toSeq).toSet
    assert(streamed == bulk,
      "micro-batched frozen-quantizer appends must serve exactly like one bulk append")
  }

  test("q126 sweep-line concurrency == in-driver quadratic overlap count, cartesian-free plan") {
    import org.apache.spark.sql.functions._
    val df = graft.queries.Advanced.q126IntervalConcurrency(spark, sf)
    val got = df.collect()
      .map(r => (r.getLong(0), r.getAs[Long]("n_concurrent")))
    assert(got.nonEmpty)
    val iv = Tables(spark, sf, "orders")
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("s"))
      .collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate))
      .map { case (k, s) => (k, s, s.plusDays(k % 20 + 3)) }
    val want = iv.filter(_._1 % 37 == 0).map { case (k, s, e) =>
      (k, iv.count { case (k2, s2, e2) =>
        k2 != k && !s2.isAfter(e) && !s.isAfter(e2)
      }.toLong)
    }
    assert(got.toSeq.sortBy(_._1) == want.toSeq.sortBy(_._1),
      "sweep diverged from the quadratic overlap definition")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "q126 fell back to an all-pairs interval join")
  }

  test("st27 streamed join mart == static full join; exactly ceil(16/4)+seed versions") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("st27_stream_join_ivm")(spark, sf).collect()
    assert(rows.forall(_.getInt(3) == 5), "expected seed + 4 merge commits")
    val want = Tables(spark, sf, "orders")
      .join(Tables(spark, sf, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("m"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).as("rev"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1),
        BigDecimal(r.getDecimal(2).doubleValue)
          .setScale(2, BigDecimal.RoundingMode.HALF_UP))).toSet
    val got = rows.map(r => (r.getString(0), r.getLong(1),
      BigDecimal(r.getDouble(2)).setScale(2, BigDecimal.RoundingMode.HALF_UP)))
      .toSet
    assert(got == want, "streamed join mart diverged from the full rejoin")
  }

  test("q129 variant round-trip is lossless vs q19's string-path extraction; missing paths yield NULL not error") {
    import org.apache.spark.sql.functions._
    val v = graft.queries.Advanced.q129VariantJson(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_with_k"), r.getAs[Long]("sum_k"))).toMap
    val q19 = graft.queries.Advanced.q19JsonProps(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_with_k"), r.getAs[Long]("sum_k"))).toMap
    assert(v == q19, "variant_get diverged from get_json_object on the same data")
    graft.queries.Advanced.q129VariantJson(spark, sf).collect().foreach { r =>
      assert(r.getAs[Long]("n_missing_hits") == 0L,
        "variant_get on an absent path must return NULL for every row")
      assert(r.getAs[String]("variant_schema").startsWith("OBJECT<id: BIGINT"),
        s"unexpected variant schema: ${r.getAs[String]("variant_schema")}")
    }
  }

  test("st28 transformWithState: multi-batch run converges to the single-batch final state") {
    import org.apache.spark.sql.functions._
    import graft.streaming.{EvTws, UserStatsProcessor}
    val single = SparkEntry.queries("st28_transform_with_state")(spark, sf)
      .collect().map(_.toSeq).toSet
    // same processor, but the source sliced into 4-file micro-batches:
    // per-key state accumulates across triggers and the max-n emission
    // must equal the one-batch answer (order-independent accumulators)
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s.implicits._
    val src = TempDirs.scratch("graft-st28-spec-src")
    Tables(s, sf, "events")
      .select(col("user_id"), col("event_type"), col("value"),
        unix_micros(col("ts")).as("ts"))
      .repartition(16)
      .write.mode("overwrite").parquet(src)
    val stream = s.readStream
      .schema("user_id LONG, event_type STRING, value DOUBLE, ts LONG")
      .option("maxFilesPerTrigger", "4")
      .parquet(src)
      .as[EvTws]
    val out = stream.groupByKey(_.user_id)
      .transformWithState(new UserStatsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Append())
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("st28_spec_out").start()
    try q.processAllAvailable() finally q.stop()
    val multi = s.table("st28_spec_out")
      .groupBy(col("user_id"))
      .agg(max_by(struct(col("n_events"), col("n_types"), col("types_sig"),
        col("total_value"), col("min_ts_ms"), col("max_ts_ms")),
        col("n_events")).as("f"))
      .select(col("user_id"), col("f.n_events"), col("f.n_types"),
        col("f.types_sig"), col("f.total_value"),
        col("f.min_ts_ms"), col("f.max_ts_ms"))
      .collect().map(_.toSeq).toSet
    assert(multi == single,
      "batch slicing changed the transformWithState final state")
  }

  test("st01 streaming totals match batch totals") {
    import org.apache.spark.sql.functions._
    val streamed = SparkEntry.queries("st01_stream_window")(spark, sf)
      .agg(sum("n_events")).head.getLong(0)
    assert(streamed == Tables(spark, sf, "events").count())
  }

  test("st02 state expires on event-time timeout and re-aggregates from zero") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.RawEvent
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[RawEvent]
    val dayNs = 24L * 3600 * 1000 * 1000 * 1000
    val ds = input.toDS()
      .withColumn("ets", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ets", "1 hour")
      .as[RawEvent]
    val out = graft.streaming.EventStream.statefulCounts(ds)
    spark.catalog.dropTempView("st02_timeout")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("st02_timeout").start()
    try {
      input.addData(
        RawEvent(1, 1 * dayNs, 7L, "view", 1.0, "{}"),
        RawEvent(2, 1 * dayNs + 1000, 7L, "view", 1.0, "{}"))
      q.processAllAvailable()
      // advance the watermark far past user 7's last activity +
      // EventStream.St02RetentionMs (30 d of event time)
      input.addData(RawEvent(3, 40 * dayNs, 8L, "view", 1.0, "{}"))
      q.processAllAvailable()
      // the batch at which 7's expiry callback fires (timeouts are
      // evaluated against the PREVIOUS batch's watermark)
      input.addData(RawEvent(4, 41 * dayNs, 8L, "view", 1.0, "{}"))
      q.processAllAvailable()
      // post-expiry event for user 7: the aggregate must restart
      input.addData(RawEvent(5, 42 * dayNs, 7L, "view", 1.0, "{}"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("st02_timeout").filter($"user_id" === 7L)
      .orderBy($"last_ts_ms").collect()
    assert(rows.head.getAs[Long]("n_events") == 2)
    assert(rows.last.getAs[Long]("n_events") == 1,
      "state for user 7 was not evicted by the event-time timeout")
  }
}
