package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Approx, Dedup, TextAnalysis}
import graft.streaming.EventStream

/** Invariants for the approx/sketch pack and the round's other new
  * operators (redaction, dup clustering, streaming dedup).
  */
class ApproxSpec extends AnyFunSuite {
  import TestSession._

  test("a01 HLL estimates are within bound for every lang and the merged ALL row") {
    val rows = Approx.a01HllSketches(spark, sf).collect()
    assert(rows.map(_.getAs[String]("lang")).contains("ALL"))
    rows.foreach { r =>
      assert(r.getAs[Boolean]("within_bound"),
        s"${r.getAs[String]("lang")} HLL estimate out of 5% bound")
    }
  }

  test("a11 rolling windows: estimates in-envelope, monotone vs daily, every window answered") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("a11_rolling_sketch")(spark, sf).collect()
    // 30 fixture days → 30 trailing windows, each answered
    assert(rows.length == 30, s"expected 30 window rows, got ${rows.length}")
    assert(rows.forall(_.getBoolean(3)),
      "a trailing-window estimate left the 3/sqrt(K) envelope")
    // a trailing 7-day distinct can never be below its own day's:
    // the merged sketch must reflect the union, not one day
    val daily = Tables(spark, sf, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(countDistinct(col("user_id")).as("nd"))
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    rows.foreach { r =>
      val winEnd = r.getDate(0).toString
      assert(r.getLong(1) >= daily(winEnd),
        s"window ending $winEnd has exact ${r.getLong(1)} < its day's ${daily(winEnd)}")
    }
  }

  test("a03 quantile sketch lands inside the exact ±5%-rank envelope") {
    val rows = Approx.a03QuantileSketch(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("ok_p50"), s"${r.getAs[String]("lang")} p50 out of envelope")
      assert(r.getAs[Boolean]("ok_p90"), s"${r.getAs[String]("lang")} p90 out of envelope")
    }
  }

  test("a02 bloom pre-filter preserves exact join results") {
    val withBloom = Approx.a02BloomFilteredJoin(spark, sf).collect()
    val plain = Tables(spark, sf, "orders")
      .join(Tables(spark, sf, "customer").filter(col("c_acctbal") > 9000.0),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"))
      .collect().map(r => r.getAs[String]("c_mktsegment") -> r.getAs[Long]("n_orders")).toMap
    assert(withBloom.map(r =>
      r.getAs[String]("c_mktsegment") -> r.getAs[Long]("n_orders")).toMap == plain)
  }

  test("a02 bloom probe runs codegen'd in the scan stage (no UDF)") {
    val plan = Approx.a02BloomFilteredJoin(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"))
    assert(plan.contains("might_contain") || plan.contains("BloomFilterMightContain"))
  }

  test("t06 redacted output contains no digit runs") {
    // the md5 is over text with digits replaced; re-derive locally on a sample
    val df = TextAnalysis.t06Redact(spark, sf)
    val rows = df.limit(100).collect()
    assert(rows.nonEmpty)
    // counts are consistent: a doc with zero digit runs keeps its length
    rows.foreach { r =>
      if (r.getAs[Long]("n_digit_runs") == 0 && r.getAs[Long]("n_emails") == 0)
        assert(r.getAs[Long]("redacted_len") > 0)
    }
  }

  test("d06 clustering reaches a fixpoint and covers every document") {
    val clusters = Dedup.d06DupClusters(spark, sf).collect()
    val covered = clusters.map(_.getAs[Long]("cluster_size")).sum
    assert(covered == Tables(spark, sf, "documents").count())
    // exact duplicates (identical text) must share a cluster: derive
    // expected exact-dup groups and check each lands in one cluster
    val exact = Dedup.d01DedupExact(spark, sf)
      .filter(col("n_copies") > 1).collect()
    assert(clusters.count(_.getAs[Long]("cluster_size") > 1) >= exact.length)
  }

  test("m03 batched resize covers all docs with consistent geometry") {
    val rows = graft.operators.Multimodal.m03ResizeFeatures(spark, sf).collect()
    assert(rows.length == Tables(spark, sf, "documents").count())
    rows.foreach { r =>
      assert(r.getAs[Long]("out_w") == 64L && r.getAs[Long]("out_h") == 64L)
      val sx = r.getAs[Double]("scale_x")
      assert(math.abs(sx - 64.0 / r.getAs[Long]("in_w")) < 1e-12)
      assert(r.getAs[String]("feat_sums").split(",").length == 8)
      assert(r.getAs[Double]("feat_norm") > 0.0)
    }
  }

  test("a06 KMV set algebra lands inside the sketch error envelope") {
    // K=128 → relative stderr ~1/sqrt(K-2) ≈ 9%; allow 3 sigma
    val rows = graft.operators.Approx.a06KmvSetOps(spark, sf).collect()
    assert(rows.length == 3, "three flag pairs expected")
    rows.foreach { r =>
      val uEx = r.getAs[Long]("n_union_exact").toDouble
      val iEx = r.getAs[Long]("n_inter_exact").toDouble
      assert(math.abs(r.getAs[Double]("kmv_union_est") - uEx) / uEx < 0.27,
        s"union estimate off: ${r.getAs[Double]("kmv_union_est")} vs $uEx")
      assert(math.abs(r.getAs[Double]("est_jaccard") - iEx / uEx) < 0.25,
        s"jaccard estimate off: ${r.getAs[Double]("est_jaccard")} vs ${iEx / uEx}")
    }
  }

  test("a07 sketch sizing: every rung of the error ladder is inside 3/sqrt(k)") {
    val rows = Approx.a07SketchSizing(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("k")).toSeq == Seq(16L, 64L, 256L))
    rows.foreach { r =>
      assert(r.getAs[Boolean]("within_3_sigma"),
        s"k=${r.getAs[Long]("k")} rel_err ${r.getAs[Double]("rel_err")} out of envelope")
    }
    // the biggest sketch should be usably tight
    assert(rows.last.getAs[Double]("rel_err") < 0.2)
  }

  test("a08 AQP estimates land inside their own 3-sigma interval") {
    val rows = Approx.a08AqpGroupby(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("within_ci"),
        s"${r.getAs[String]("l_returnflag")}: est ${r.getAs[Double]("n_est")} " +
          s"vs exact ${r.getAs[Long]("n_exact")} outside ci")
      assert(r.getAs[Long]("n_sampled") < r.getAs[Long]("n_exact"))
    }
  }

  test("st04 streaming dedup removes the injected duplicates exactly") {
    val rows = EventStream.st04StreamDedup(spark, sf).collect()
    val total = rows.map(_.getAs[Long]("n_events")).sum
    assert(total == Tables(spark, sf, "events").count())
  }

  test("st05 stream-stream join equals the batch interval join") {
    val streamed = EventStream.st05StreamStreamJoin(spark, sf).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_pairs"))).toMap
    val e = Tables(spark, sf, "events")
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("pts"))
    val v = e.filter(col("event_type") === "view")
      .select(col("user_id").as("vu"), col("ts").as("vts"))
    val batch = p.join(v, col("pu") === col("vu") &&
        col("vts") >= col("pts") - expr("INTERVAL 6 HOURS") && col("vts") <= col("pts"))
      .groupBy(col("pu")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(streamed == batch)
  }

  test("st12 append mode emits exactly the finalized windows, once each") {
    val rows = EventStream.st12AppendWindows(spark, sf).collect()
    assert(rows.nonEmpty)
    // exactly-once: (window, type) keys are unique in the emitted set
    val keys = rows.map(r =>
      (r.getAs[Long]("window_start_ms"), r.getAs[String]("event_type")))
    assert(keys.distinct.length == rows.length, "append mode emitted a window twice")
    // finalized-only: every emitted window closed before the final watermark
    val e = Tables(spark, sf, "events")
    val wmMs = e.agg(max(col("ts"))).head().getTimestamp(0).getTime - 3600000L
    assert(rows.forall(_.getAs[Long]("window_end_ms") <= wmMs),
      "append mode emitted a window still open at the final watermark")
    // completeness: the emitted set == the batch finalized-window rollup
    val batch = e
      .withColumn("w_start", (floor(unix_millis(col("ts")) / 21600000L) * 21600000L))
      .filter(col("w_start") + 21600000L <= wmMs)
      .groupBy(col("w_start"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => ((r.getAs[Long]("w_start"), r.getAs[String]("event_type")),
        r.getAs[Long]("n"))).toMap
    val streamed = rows.map(r =>
      ((r.getAs[Long]("window_start_ms"), r.getAs[String]("event_type")),
        r.getAs[Long]("n_events"))).toMap
    assert(streamed == batch)
  }

  test("st13 maintained sketch estimate == single-pass sketch of the whole table") {
    import graft.functions.GraftFunctions
    val rows = EventStream.st13StreamingSketch(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Int]("n_versions") == 5),
      "expected seed + ceil(16/4) merge commits")
    // single-pass sketch over the raw table — the batched incremental
    // maintenance must land on the IDENTICAL estimate (KMV union law)
    val K = 128
    val est = when(size(col("sk")) < K, size(col("sk")).cast("double"))
      .otherwise(lit((K - 1).toDouble) * lit(1152921504606846976L).cast("double") /
        element_at(col("sk"), K).cast("double"))
    val onePass = Tables(spark, sf, "events")
      .select(col("event_type"),
        conv(substring(md5(col("user_id").cast("string").cast("binary")), 1, 15),
          16, 10).cast("long").as("hv"))
      .groupBy(col("event_type"))
      .agg(GraftFunctions.kMinValues(col("hv"), K).as("sk"))
      .select(col("event_type"), est.as("kmv_est"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    val streamed = rows.map(r =>
      (r.getAs[String]("event_type"), r.getAs[Double]("kmv_est"))).toMap
    assert(streamed == onePass, "incremental sketch diverged from single-pass sketch")
  }

  test("st14 valid + dead-letter rows partition the topic exactly") {
    val rows = EventStream.st14DeadLetter(spark, sf).collect()
    val total = rows.map(_.getAs[Long]("n")).sum
    assert(total == Tables(spark, sf, "events").count(),
      "valid ∪ dlq must cover every landed record exactly once")
    val reasons = rows.filter(_.getAs[String]("kind") == "dlq")
      .map(_.getAs[String]("label")).toSet
    assert(reasons == Set("unparseable", "missing_key"),
      s"unexpected DLQ reasons: $reasons")
    assert(rows.exists(_.getAs[String]("kind") == "valid"))
  }

  test("st15 restart resumes batch ids from the checkpoint (no replay, no loss)") {
    val rows = EventStream.st15RestartRecovery(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Int]("n_versions") == 5),
      "expected seed + 2 + 2 merge commits across the restart")
    val total = rows.map(_.getAs[Long]("n_events")).sum
    assert(total == Tables(spark, sf, "events").count(),
      "restart lost or replayed a wave")
  }

  test("st16 AvailableNow drains exactly once per invocation; idle re-run commits nothing") {
    val rows = EventStream.st16AvailableNow(spark, sf).collect()
    assert(rows.forall(_.getAs[Int]("n_versions") == 5),
      "expected seed + 2 + 2 commits across the two invocations")
    assert(rows.map(_.getAs[Long]("n_events")).sum ==
      Tables(spark, sf, "events").count(),
      "an AvailableNow invocation lost or replayed data")
    // a third invocation with NO new files must terminate on its own
    // without committing anything
    import org.apache.spark.sql.types._
    val src = graft.TempDirs.scratch("st16-spec-src")
    val ckpt = graft.TempDirs.scratch("st16-spec-ckpt")
    val table = s"${graft.TempDirs.scratch("st16-spec-tbl")}/agg"
    graft.sources.Snapshots.commit(
      spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        StructType(Seq(
          StructField("event_type", StringType),
          StructField("n_events", LongType),
          StructField("total_value", DecimalType(18, 4))))), table)
    Tables(spark, sf, "events").select(col("event_type"), col("value"))
      .repartition(4).write.mode("overwrite").parquet(src)
    EventStream.drainAvailable(spark, src, ckpt, table)
    val v1 = graft.sources.Snapshots.versions(table).size
    EventStream.drainAvailable(spark, src, ckpt, table) // nothing new
    assert(graft.sources.Snapshots.versions(table).size == v1,
      "idle AvailableNow invocation produced a commit")
  }

  test("st11 left-outer join emits null-padded unmatched purchases exactly") {
    val rows = EventStream.st11StreamLeftJoin(spark, sf).collect()
    val unmatched = rows.map(_.getAs[Long]("n_unmatched_purchases")).sum
    assert(unmatched > 0, "expected purchases with no preceding view")
    // batch recomputation over the same watermark-resolvable scope
    val e = Tables(spark, sf, "events")
    val mx = e.agg(max(col("ts"))).head().getTimestamp(0)
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("pu"),
        col("ts").as("pts"))
      .filter(col("pts") <= lit(mx) - expr("INTERVAL 2 HOURS"))
    val v = e.filter(col("event_type") === "view")
      .select(col("user_id").as("vu"), col("ts").as("vts"),
        col("event_id").as("v_id"))
    val batch = p.join(v, col("pu") === col("vu") &&
        col("vts") >= col("pts") - expr("INTERVAL 6 HOURS") &&
        col("vts") <= col("pts"), "left")
      .groupBy(col("pu"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("v_id").isNull, 1).otherwise(0)).as("n_unmatched"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val streamed = rows.map(r => (r.getAs[Long]("user_id"),
      (r.getAs[Long]("n_rows"), r.getAs[Long]("n_unmatched_purchases")))).toMap
    assert(streamed == batch)
  }

  test("st19 observed metrics sum exactly across forced multi-batch execution") {
    val src = graft.TempDirs.scratch("graft-st19-spec")
    Tables(spark, sf, "events")
      .select(col("event_id"), unix_micros(col("ts")).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .repartition(16)
      .write.mode("overwrite").parquet(src)
    val stream = spark.readStream
      .schema(EventStream.eventsSchema)
      .option("maxFilesPerTrigger", "4")
      .parquet(src)
      .observe("spec_gate",
        count(lit(1)).as("rows_seen"),
        count(when(col("event_type").isNull, 1)).as("n_null_type"))
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    spark.catalog.dropTempView("st19_spec_out")
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("st19_spec_out").start()
    try q.processAllAvailable() finally q.stop()
    var (seen, nulls, batches) = (0L, 0L, 0)
    q.recentProgress.foreach { p =>
      val m = p.observedMetrics
      if (m.containsKey("spec_gate") && p.numInputRows > 0) {
        val r = m.get("spec_gate")
        seen += r.getLong(0); nulls += r.getLong(1); batches += 1
      }
    }
    assert(batches >= 4, s"expected >= 4 data batches (16 files / 4), got $batches")
    val ev = Tables(spark, sf, "events")
    assert(seen == ev.count(), "summed per-batch observed rows != table rows")
    assert(nulls == ev.filter(col("event_type").isNull).count())
  }
}
