package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{Exact, GraftFunctions}

/** Approximate / sketch operators — the 100 TB scale path where exact
  * counterparts (countDistinct, percentile, semi joins) stop fitting:
  *
  *  - HLL sketches are MERGEABLE: partial per-partition sketches union
  *    without rescanning, so distinct counts compose across days/
  *    shards/retries (the property exact countDistinct lacks).
  *  - A bloom filter built on a selective dim side prunes the fact
  *    scan before the shuffle — the manual form of Spark's injected
  *    runtime filters, with no false negatives, so join results stay
  *    EXACT (a02 carries a normal DuckDB oracle).
  */
object Approx {

  /** a01: per-language HLL distinct-source sketches + a merged ALL row
    * (hll_union_agg over the per-lang sketches — the mergeability that
    * justifies sketches at 100 TB), checked against exact counts.
    * Output is engine-independent: the sketch estimate itself stays
    * Spark-side; what's emitted is the exact count plus a
    * `within_bound` boolean asserting the estimate landed within 5%
    * relative error (default lgK=12 HLL guarantees ~1.6%, and small
    * cardinalities are exact in sparse mode). The DuckDB oracle
    * recomputes the exact halves and expects `within_bound` TRUE, so
    * a drifting estimate fails the hash check.
    */
  def a01HllSketches(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    val perLang = d.groupBy(col("lang"))
      .agg(
        expr("hll_sketch_agg(source)").as("sk"),
        countDistinct(col("source")).as("exact_distinct"),
        count(lit(1)).as("n_docs"))
    val all = perLang.agg(
      expr("hll_union_agg(sk)").as("sk"),
      sum(col("n_docs")).as("n_docs"))
      .join(d.agg(countDistinct(col("source")).as("exact_distinct")))
      .select(lit("ALL").as("lang"), col("sk"), col("exact_distinct"), col("n_docs"))
    perLang.select(col("lang"), col("sk"), col("exact_distinct"), col("n_docs"))
      .unionAll(all)
      .withColumn("approx_distinct", expr("hll_sketch_estimate(sk)"))
      // 10% ≈ 6σ for default lgK=12 HLL (RSE ≈ 1.6%): sampling noise
      // cannot trip the exact-hash gate, while a genuinely broken
      // sketch (order-of-magnitude drift) still fails it. (a03 needs
      // no such margin: approx_percentile's rank bound is
      // DETERMINISTIC at ε=1/accuracy.)
      .withColumn("within_bound",
        abs(col("approx_distinct") - col("exact_distinct")).cast("double") <=
          lit(0.10) * col("exact_distinct").cast("double"))
      .select(col("lang"), col("n_docs"), col("exact_distinct"), col("within_bound"))
      .orderBy(col("lang"))
  }

  /** a02: bloom-filtered star join. The selective customer slice
    * builds a compact bloom sketch (one collected row — the same
    * mechanism as Spark's injected runtime filters); the orders scan
    * probes it codegen'd BEFORE the shuffle, so only ~matching rows
    * move. False positives are removed by the real join → result is
    * exact, oracle-checkable.
    */
  def a02BloomFilteredJoin(spark: SparkSession, dir: String): DataFrame = {
    val dim = Tables(spark, dir, "customer")
      .filter(col("c_acctbal") > 9000.0)
    // 2^20 bits = 128 KB: the sketch is embedded in the probe-side plan
    // (and its generated code), so size it to the build-side
    // cardinality, not "as big as fits" — at 100 TB scale bits with the
    // dim count (~10 bits/key for ~1% FPP).
    val bloom = dim
      .agg(GraftFunctions.bloomAgg(col("c_custkey"), 100000L, 1L << 20).as("bf"))
      .head().getAs[Array[Byte]](0)
    val o = Tables(spark, dir, "orders")
      .filter(GraftFunctions.bloomMightContain(lit(bloom), col("o_custkey")))
    o.join(dim, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_orders"),
        countDistinct(col("c_custkey")).as("n_customers"),
        Exact.dsum(col("o_totalprice")).as("revenue"))
      .orderBy(col("c_mktsegment"))
  }

  /** a03: quantile sketches — per-language approx_percentile (the
    * mergeable rank sketch that replaces exact percentile at 100 TB)
    * checked against the exact interpolated percentiles. Output is
    * engine-independent: the sketch value stays Spark-side; emitted
    * are the exact p50/p90 plus `ok_p50`/`ok_p90` booleans asserting
    * the sketch landed inside the ±5%-rank exact envelope
    * ([p45,p55] / [p85,p95] — the sketch's ε=1e-3 rank guarantee
    * plus the 1/n discretization sits far inside it). The DuckDB
    * oracle recomputes the exact halves and expects TRUE booleans,
    * so a drifting sketch fails the hash check.
    */
  def a03QuantileSketch(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    d.groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        expr("approx_percentile(n_chars, array(0.5, 0.9), 1000)").as("approx"),
        expr("percentile(n_chars, array(0.45, 0.5, 0.55, 0.85, 0.9, 0.95))").as("ex"))
      .select(col("lang"), col("n_docs"),
        round(element_at(col("ex"), 2), 6).as("exact_p50_r"),
        round(element_at(col("ex"), 5), 6).as("exact_p90_r"),
        (element_at(col("approx"), 1).cast("double").between(
          element_at(col("ex"), 1), element_at(col("ex"), 3))).as("ok_p50"),
        (element_at(col("approx"), 2).cast("double").between(
          element_at(col("ex"), 4), element_at(col("ex"), 6))).as("ok_p90"))
      .orderBy(col("lang"))
  }

  /** a04: count-min-sketch heavy hitters — the mergeable
    * frequency sketch that replaces exact token counting when the
    * vocabulary no longer fits (the 100 TB top-k path). One
    * distributed `count_min_sketch` aggregate builds the sketch
    * (eps=1e-4, δ=1e-4, fixed seed); the exact top-10 tokens (computed
    * distributedly, rank deterministic by count desc + token) are then
    * probed against it driver-side — the same one-small-row fetch
    * pattern as a02's bloom build. `within_bound` asserts the CMS
    * contract: estimate ≥ exact always (CMS never undercounts), and
    * ≤ exact + 10·eps·N — a ~6σ-style margin over the ε·N guarantee,
    * so sampling noise cannot trip the exact-hash gate while an
    * order-of-magnitude-broken sketch still fails it.
    */
  def a04CmsHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.util.sketch.CountMinSketch
    // persist: the tokenized scan feeds BOTH the sketch aggregate and
    // the exact top-10 — two actions inside this function, so an
    // in-plan shared exchange cannot serve them; a plain try/finally
    // releases the cache before the function returns
    val toks = Tables(spark, dir, "documents")
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
      .persist()
    val (top, margin, cms) = try {
      val skBytes = toks
        .agg(expr("count_min_sketch(token, 0.0001d, 0.9999d, 42)"))
        .head().getAs[Array[Byte]](0)
      val sk = CountMinSketch.readFrom(new java.io.ByteArrayInputStream(skBytes))
      // exact top-10 computed DISTRIBUTEDLY (agg + deterministic
      // rank); only the 10 winners come to the driver for probes
      val t = toks.groupBy(col("token")).agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("token"))
        .limit(10)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      (t, (10.0 * 0.0001 * sk.totalCount()).toLong, sk)
    } finally toks.unpersist(blocking = false)
    import spark.implicits._
    top.zipWithIndex.map { case ((t, exact), i) =>
      val est = cms.estimateCount(t)
      ((i + 1).toLong, t, exact, est >= exact && est <= exact + margin)
    }.toSeq.toDF("est_rank", "token", "exact_cnt", "within_bound")
      .orderBy(col("est_rank"))
  }

  /** a05: K-Minimum-Values distinct sketch ([[graft.functions
    * .KMinValues]] — native bounded TypedImperativeAggregate, O(k)
    * state, map-side mergeable) with the estimate checked EXACTLY:
    * KMV over md5-derived 60-bit hashes is cross-engine
    * deterministic, so unlike a01's HLL (engine-private registers,
    * bound-only check) the DuckDB oracle reproduces sketch AND
    * estimator bit-for-bit. Per-returnflag sketches of distinct
    * order keys, plus the ALL row built by UNIONING the per-flag
    * sketches (explode + re-aggregate — sketch-of-union ==
    * union-of-sketches, deduplicating order keys shared across
    * flags: the mergeability that justifies sketches at 100 TB).
    * Estimator: n<k → exact; else (k−1)·2^60/h_(k).
    */
  def a05KmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    val K = 128
    import graft.functions.GraftFunctions.kMinValues
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_returnflag").as("flag"), col("l_orderkey"),
        conv(substring(md5(col("l_orderkey").cast("string").cast("binary")), 1, 15),
          16, 10).cast("long").as("hv"))
    def estimate(sk: org.apache.spark.sql.Column) =
      when(size(sk) < K, size(sk).cast("double"))
        .otherwise(lit((K - 1).toDouble) * lit(1152921504606846976L).cast("double") /
          element_at(sk, K).cast("double"))
    val perFlag = li.groupBy(col("flag")).agg(
      kMinValues(col("hv"), K).as("sk"),
      countDistinct(col("l_orderkey")).as("n_exact"))
    val allExact = li.agg(countDistinct(col("l_orderkey")).as("n_exact"))
    val allRow = perFlag.select(explode(col("sk")).as("hv"))
      .agg(kMinValues(col("hv"), K).as("sk"))
      .crossJoin(allExact)   // two one-row sides
      .select(lit("ALL").as("flag"), col("sk"), col("n_exact"))
    perFlag.unionByName(allRow)
      .select(col("flag"), col("n_exact"), estimate(col("sk")).as("kmv_est"))
      .orderBy(col("flag"))
  }

  /** a07: sketch SIZING — the error-vs-k ladder that answers "how big
    * must the sketch be" at 100 TB, measured not asserted: ONE k=256
    * KMV pass, then the k=16 / k=64 / k=256 estimates all read from
    * its PREFIX (the h_(k') order statistic for k' ≤ k lives inside
    * the k-sketch — one aggregate prices every candidate size, no
    * re-scan per k). Relative error lands within 3/√k (the KMV
    * standard-error envelope, Beyer et al. 2007) at every rung;
    * estimates are md5-deterministic, so the oracle reproduces the
    * ladder — errors and booleans included — bit-for-bit.
    */
  def a07SketchSizing(spark: SparkSession, dir: String): DataFrame = {
    val K = 256
    import graft.functions.GraftFunctions.kMinValues
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"),
        conv(substring(md5(col("l_orderkey").cast("string").cast("binary")), 1, 15),
          16, 10).cast("long").as("hv"))
    val agg = li.agg(
      kMinValues(col("hv"), K).as("sk"),
      countDistinct(col("l_orderkey")).as("n_exact"))
    val est =
      when(size(col("sk")) < col("k"), size(col("sk")).cast("double"))
        .otherwise((col("k") - 1).cast("double") *
          lit(1152921504606846976L).cast("double") /
          element_at(col("sk"), col("k").cast("int")).cast("double"))
    agg.select(col("sk"), col("n_exact"),
        explode(array(lit(16), lit(64), lit(256))).as("k"))
      .select(col("k").cast("long").as("k"), col("n_exact"), est.as("kmv_est"))
      .withColumn("rel_err", abs(col("kmv_est") / col("n_exact") - 1))
      .withColumn("within_3_sigma",
        col("rel_err") <= lit(3.0) / sqrt(col("k").cast("double")))
      .orderBy(col("k"))
  }

  /** a08: approximate GROUP BY from a SAMPLE (the BlinkDB/AQP
    * pattern): a 5% deterministic uniform sample (p10's
    * exactly-representable 32-bit md5 u < rate — reproducible across
    * engines AND cluster sizes) scanned instead of the full table;
    * group counts scale up by 1/rate with a binomial 3σ interval
    * alongside. At 100 TB this is the difference between an
    * interactive dashboard and a full-table pass — and the interval
    * is what makes the speed honest. Sample membership, estimates,
    * and CI booleans are all md5-deterministic → exactly oracled.
    */
  def a08AqpGroupby(spark: SparkSession, dir: String): DataFrame = {
    val rate = 0.05
    val li = Tables(spark, dir, "lineitem")
    val u = conv(substring(md5(concat(lit("aqp:"), col("l_orderkey").cast("string"),
      lit(":"), col("l_linenumber").cast("string"))), 1, 8), 16, 10)
      .cast("double") / lit(4294967296.0)
    val sampled = li.withColumn("in_sample", u < lit(rate))
    sampled.groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_exact"),
        count(when(col("in_sample"), 1)).as("n_sampled"))
      .withColumn("n_est", col("n_sampled").cast("double") / lit(rate))
      // 3σ of the binomial count, scaled up: 3·√(n·r·(1−r))/r — the
      // interval a dashboard would print next to the estimate
      .withColumn("ci_3sigma",
        lit(3.0) * sqrt(col("n_exact").cast("double") * lit(rate) * lit(1 - rate))
          / lit(rate))
      .withColumn("within_ci",
        abs(col("n_est") - col("n_exact").cast("double")) <= col("ci_3sigma"))
      .orderBy(col("l_returnflag"))
  }

  /** a06: KMV sketch SET ALGEBRA — the theta-sketch surface on top of
    * a05's sketches (Beyer et al. 2007, "On Synopses for Distinct
    * Value Estimation Under Multiset Operations"): from two stored
    * per-partition sketches alone — never the raw data — estimate
    * |A∪B| (combined sketch, standard KMV estimator on its k-th
    * value), Jaccard (ρ = |combined ∩ A ∩ B| / k) and |A∩B| (ρ ×
    * union est). This is the query a 100 TB deployment answers from
    * kilobyte sketches: "how many distinct orders have BOTH flags"
    * without ever co-scanning the two partitions. All array math is
    * row-local on ≤k-element lists; under-full combined sketches
    * degrade to EXACT set ops (the sketch holds every hash). Same
    * md5-derived 60-bit hash space as a05 → the estimates themselves
    * are exactly oracled, and exact counts ride along for the error
    * story.
    */
  def a06KmvSetOps(spark: SparkSession, dir: String): DataFrame = {
    val K = 128
    import graft.functions.GraftFunctions.kMinValues
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_returnflag").as("t"), col("l_orderkey"),
        conv(substring(md5(col("l_orderkey").cast("string").cast("binary")), 1, 15),
          16, 10).cast("long").as("hv"))
    val sk = li.groupBy(col("t")).agg(
      kMinValues(col("hv"), K).as("sk"),
      countDistinct(col("l_orderkey")).as("n_exact"))
    // 3 one-row sides — the pair join is driver-bounded by design
    val pairs = sk.as("a").join(sk.as("b"), col("a.t") < col("b.t"))
      .select(col("a.t").as("ta"), col("b.t").as("tb"),
        col("a.sk").as("ska"), col("b.sk").as("skb"),
        col("a.n_exact").as("na"), col("b.n_exact").as("nb"))
      .withColumn("sku",
        slice(array_sort(array_distinct(concat(col("ska"), col("skb")))), 1, K))
      .withColumn("k_inter",
        size(array_intersect(array_intersect(col("sku"), col("ska")), col("skb"))))
    val full = size(col("sku")) >= K
    val unionEst = when(!full, size(col("sku")).cast("double"))
      .otherwise(lit((K - 1).toDouble) * lit(1152921504606846976L).cast("double") /
        element_at(col("sku"), K).cast("double"))
    val est = pairs
      .withColumn("kmv_union_est", unionEst)
      .withColumn("est_jaccard",
        when(!full,
          size(array_intersect(col("ska"), col("skb"))).cast("double") /
            size(col("sku")).cast("double"))
        .otherwise(col("k_inter").cast("double") / lit(K.toDouble)))
      .withColumn("kmv_inter_est", col("est_jaccard") * col("kmv_union_est"))
    // exact pair truth (for the error story; the estimator never sees it)
    val users = li.select(col("t"), col("l_orderkey")).distinct()
    val inter = users.as("x").join(users.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") && col("x.t") < col("y.t"))
      .groupBy(col("x.t").as("ta"), col("y.t").as("tb"))
      .agg(count(lit(1)).as("n_inter_exact"))
    est.join(inter, Seq("ta", "tb"))
      .select(col("ta"), col("tb"),
        (col("na") + col("nb") - col("n_inter_exact")).as("n_union_exact"),
        col("n_inter_exact"),
        col("kmv_union_est"), col("kmv_inter_est"), col("est_jaccard"))
      .orderBy(col("ta"), col("tb"))
  }

  /** a09: deterministic RESERVOIR SAMPLE — k uniform documents per
    * source via [[graft.functions.BottomK]], the bounded bottom-k
    * aggregate: keep the k smallest (md5-hash, doc_id) pairs per
    * group in an O(k) buffer. The textbook formulation —
    * `row_number() OVER (PARTITION BY source ORDER BY hash) <= k` —
    * shuffles and sorts EVERY row for a k-row answer; the aggregate
    * reduces each map partition to ≤ k pairs per group before the
    * exchange, so at 100 TB the shuffle carries kilobytes per group
    * instead of the corpus. The k smallest values of a uniform hash
    * ARE a uniform k-sample, the sample is mergeable (union two
    * groups' samples = sample of the union), stable under
    * re-partitioning, and reproducible run-to-run and engine-to-
    * engine — the DuckDB oracle IS the window formulation, proving
    * the two shapes pick identical rows.
    */
  def a09ReservoirSample(spark: SparkSession, dir: String): DataFrame = {
    val K = 8
    import graft.functions.GraftFunctions.bottomK
    val docs = Tables(spark, dir, "documents").select(
      col("source"),
      col("doc_id").cast("long").as("doc_id"),
      conv(substring(md5(concat(lit("rsv:"), col("doc_id").cast("string"))
        .cast("binary")), 1, 15), 16, 10).cast("long").as("h"))
    docs.groupBy(col("source"))
      .agg(bottomK(col("h"), col("doc_id"), K).as("sample"))
      .select(col("source"), explode(col("sample")).as("s"))
      .select(col("source"), col("s.v").as("doc_id"), col("s.k").as("h"))
      .orderBy(col("source"), col("h"), col("doc_id"))
  }

  /** a10: SKETCH PERSISTENCE + ROLLUP — the nightly-cube pattern that
    * makes sketches pay at 100 TB: a "nightly" job commits per-nation
    * customer KMV sketches (25 rows of ≤K hashes each) to the
    * versioned store; the "serve" job answers the per-REGION distinct
    * question from the STORED sketches alone — no raw-table scan at
    * serve time, because KMV is mergeable: the k-min of the union of
    * per-nation k-mins IS the sketch of the union (each customer
    * belongs to one nation, so regional distinct = disjoint union).
    * The merged estimate is therefore BIT-IDENTICAL to sketching the
    * raw region directly, which is what the DuckDB oracle computes —
    * the gate proves two-level merge == direct sketch exactly, plus
    * the 3/√K error envelope versus the exact count.
    */
  def a10SketchRollup(spark: SparkSession, dir: String): DataFrame = {
    val K = 256
    import graft.functions.GraftFunctions.kMinValues
    val t = s"${graft.TempDirs.scratch("graft-sketchcube")}/nation_sketches"
    val cust = Tables(spark, dir, "customer").select(
      col("c_custkey"), col("c_nationkey"),
      conv(substring(md5(col("c_custkey").cast("string").cast("binary")), 1, 15),
        16, 10).cast("long").as("hv"))
    // nightly: per-nation sketches, committed (fixed-size artifacts —
    // this table is KB-sized regardless of customer-table scale)
    val perNation = cust.groupBy(col("c_nationkey"))
      .agg(kMinValues(col("hv"), K).as("sk"))
    graft.sources.Snapshots.commit(perNation, t)
    // serve: region rollup from the STORED sketches only
    val nation = Tables(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_regionkey"))
    val region = Tables(spark, dir, "region")
      .select(col("r_regionkey"), col("r_name").as("region"))
    val merged = graft.sources.Snapshots.read(spark, t)
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .select(col("region"), explode(col("sk")).as("hv"))
      .groupBy(col("region")).agg(kMinValues(col("hv"), K).as("sk"))
    def estimate(sk: org.apache.spark.sql.Column) =
      when(size(sk) < K, size(sk).cast("double"))
        .otherwise(lit((K - 1).toDouble) * lit(1152921504606846976L).cast("double") /
          element_at(sk, K).cast("double"))
    // exact side (gate evidence only — the served answer above never
    // touched the raw table)
    val exact = cust
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("region")).agg(countDistinct(col("c_custkey")).as("n_exact"))
    merged.join(exact, Seq("region"))
      .select(col("region"), col("n_exact"), estimate(col("sk")).as("kmv_est"))
      .withColumn("within_envelope",
        abs(col("kmv_est") - col("n_exact").cast("double")) /
          col("n_exact").cast("double") <= lit(3.0 / math.sqrt(K.toDouble)))
      .orderBy(col("region"))
  }

  /** a11: ROLLING-WINDOW distinct from STORED sketches — the other
    * half of a10's nightly-cube pattern, on the TIME axis: "distinct
    * users in the trailing 7 days, for every day" cannot sum daily
    * distincts (users repeat across days) and re-scanning 7 days of
    * raw events per day costs 7× the lake at 100 TB. The nightly job
    * commits ONE KMV sketch per day (≤K hashes — manifest-sized
    * artifacts); the serve job answers every trailing window by
    * merging 7 stored sketches (KMV dedupes on insert, so the
    * overlap of a user active on several days collapses — the merged
    * sketch is BIT-IDENTICAL to sketching the window's raw slice
    * directly, which is exactly what the oracle computes). Serve
    * cost: #days × 7 sketch rows, zero raw-table reads. The exact
    * side here is gate evidence only.
    */
  def a11RollingSketch(spark: SparkSession, dir: String): DataFrame = {
    val K = 256
    import graft.functions.GraftFunctions.kMinValues
    val t = s"${graft.TempDirs.scratch("graft-rollsketch")}/daily_sketches"
    val ev = Tables(spark, dir, "events").select(
      to_date(col("ts")).as("day"),
      col("user_id"),
      conv(substring(md5(col("user_id").cast("string").cast("binary")), 1, 15),
        16, 10).cast("long").as("hv"))
    // nightly: one sketch per day, committed
    graft.sources.Snapshots.commit(
      ev.groupBy(col("day")).agg(kMinValues(col("hv"), K).as("sk")), t)
    // serve: each stored day feeds the 7 windows ending d..d+6; only
    // window-ends that are real days answer. Reads the stored table
    // ONLY (60 sketch rows at any data scale).
    val stored = graft.sources.Snapshots.read(spark, t)
    val ends = stored.select(col("day").as("win_end"))
    val merged = stored
      .select(explode(expr("sequence(day, date_add(day, 6))")).as("win_end"),
        col("sk"))
      .join(broadcast(ends), "win_end")
      .select(col("win_end"), explode(col("sk")).as("hv"))
      .groupBy(col("win_end")).agg(kMinValues(col("hv"), K).as("sk"))
    def estimate(sk: org.apache.spark.sql.Column) =
      when(size(sk) < K, size(sk).cast("double"))
        .otherwise(lit((K - 1).toDouble) * lit(1152921504606846976L).cast("double") /
          element_at(sk, K).cast("double"))
    // exact trailing-window distinct: gate evidence only
    val exact = ev.select(col("day"), col("user_id"))
      .join(broadcast(ends),
        col("day").between(date_sub(col("win_end"), 6), col("win_end")))
      .groupBy(col("win_end")).agg(countDistinct(col("user_id")).as("n_exact"))
    merged.join(exact, Seq("win_end"))
      .select(col("win_end"), col("n_exact"), estimate(col("sk")).as("kmv_est"))
      .withColumn("within_envelope",
        abs(col("kmv_est") - col("n_exact").cast("double")) /
          col("n_exact").cast("double") <= lit(3.0 / math.sqrt(K.toDouble)))
      .orderBy(col("win_end"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a11_rolling_sketch" -> (a11RollingSketch _),
    "a10_sketch_rollup" -> (a10SketchRollup _),
    "a09_reservoir_sample" -> (a09ReservoirSample _),
    "a01_hll_sketches" -> (a01HllSketches _),
    "a05_kmv_distinct" -> (a05KmvDistinct _),
    "a06_kmv_set_ops" -> (a06KmvSetOps _),
    "a07_sketch_sizing" -> (a07SketchSizing _),
    "a08_aqp_groupby" -> (a08AqpGroupby _),
    "a02_bloom_filtered_join" -> (a02BloomFilteredJoin _),
    "a03_quantile_sketch" -> (a03QuantileSketch _),
    "a04_cms_heavy_hitters" -> (a04CmsHeavyHitters _)
  )

  val oracles: Map[String, String] = Map(
    // a11: the oracle sketches each trailing 7-day WINDOW directly
    // from the raw slice — the merged-from-stored-daily-sketches
    // estimate must equal it bit-for-bit (KMV mergeability dedupes
    // the cross-day user overlap), and land in the 3/sqrt(K)
    // envelope of the exact trailing distinct
    "a11_rolling_sketch" ->
      """WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
        |hv AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id,
        |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS hv
        |  FROM events),
        |wins AS (
        |  SELECT d.day AS win_end, h.hv, h.user_id
        |  FROM days d JOIN hv h
        |    ON h.day BETWEEN d.day - INTERVAL 6 DAY AND d.day),
        |dist AS (SELECT win_end, hv FROM wins GROUP BY 1, 2),
        |ranked AS (
        |  SELECT win_end, hv,
        |    ROW_NUMBER() OVER (PARTITION BY win_end ORDER BY hv) AS rn,
        |    COUNT(*) OVER (PARTITION BY win_end) AS nd
        |  FROM dist),
        |est AS (
        |  SELECT win_end,
        |    CASE WHEN MAX(nd) < 256 THEN CAST(MAX(nd) AS DOUBLE)
        |         ELSE 255.0 * 1152921504606846976.0 /
        |           CAST(MAX(CASE WHEN rn = 256 THEN hv END) AS DOUBLE) END
        |      AS kmv_est
        |  FROM ranked GROUP BY 1),
        |exact AS (
        |  SELECT win_end, COUNT(DISTINCT user_id) AS n_exact
        |  FROM wins GROUP BY 1)
        |SELECT e.win_end, x.n_exact, e.kmv_est,
        |  abs(e.kmv_est - CAST(x.n_exact AS DOUBLE)) / CAST(x.n_exact AS DOUBLE)
        |    <= 3.0 / sqrt(256.0) AS within_envelope
        |FROM est e JOIN exact x USING (win_end)
        |ORDER BY e.win_end""".stripMargin,
    // a10: the oracle sketches each REGION directly from the raw
    // table — the stored-per-nation-then-merged estimate must equal
    // it bit-for-bit (KMV mergeability), and land in the 3/sqrt(K)
    // envelope of the exact count
    "a10_sketch_rollup" ->
      """WITH hv AS (
        |  SELECT DISTINCT r.r_name AS region,
        |    CAST(('0x' || substr(md5(CAST(c.c_custkey AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS hv
        |  FROM customer c
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey),
        |ranked AS (
        |  SELECT region, hv,
        |    ROW_NUMBER() OVER (PARTITION BY region ORDER BY hv) AS rn,
        |    COUNT(*) OVER (PARTITION BY region) AS nd
        |  FROM hv),
        |est AS (
        |  SELECT region,
        |    CASE WHEN MAX(nd) < 256 THEN CAST(MAX(nd) AS DOUBLE)
        |         ELSE 255.0 * 1152921504606846976.0 /
        |           CAST(MAX(CASE WHEN rn = 256 THEN hv END) AS DOUBLE) END
        |      AS kmv_est
        |  FROM ranked GROUP BY 1),
        |exact AS (
        |  SELECT r.r_name AS region, COUNT(DISTINCT c.c_custkey) AS n_exact
        |  FROM customer c
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey
        |  GROUP BY 1)
        |SELECT e.region, x.n_exact, e.kmv_est,
        |  abs(e.kmv_est - CAST(x.n_exact AS DOUBLE)) / CAST(x.n_exact AS DOUBLE)
        |    <= 3.0 / sqrt(256.0) AS within_envelope
        |FROM est e JOIN exact x USING (region)
        |ORDER BY e.region""".stripMargin,
    // a09: the window formulation over the same salted hash must pick
    // the identical k rows per source the bounded aggregate kept
    "a09_reservoir_sample" ->
      """WITH hv AS (
        |  SELECT source, CAST(doc_id AS BIGINT) AS doc_id,
        |    CAST(('0x' || substr(md5('rsv:' || CAST(doc_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS h
        |  FROM documents),
        |ranked AS (
        |  SELECT source, doc_id, h,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn
        |  FROM hv)
        |SELECT source, doc_id, h FROM ranked WHERE rn <= 8
        |ORDER BY source, h, doc_id""".stripMargin,
    // a07: the k'-th order statistic of the distinct-hash set IS the
    // prefix read of the k=256 sketch — ladder reproduced exactly
    "a07_sketch_sizing" ->
      """WITH hv AS (
        |  SELECT DISTINCT
        |    CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
        |  FROM lineitem),
        |ranked AS (
        |  SELECT hv, ROW_NUMBER() OVER (ORDER BY hv) AS rn FROM hv),
        |nd AS (SELECT COUNT(*) AS nd FROM hv),
        |exact AS (SELECT COUNT(DISTINCT l_orderkey) AS n_exact FROM lineitem),
        |ks AS (SELECT unnest([16, 64, 256]) AS k),
        |est AS (
        |  SELECT k.k, e.n_exact,
        |    CASE WHEN (SELECT nd FROM nd) < k.k
        |         THEN CAST((SELECT nd FROM nd) AS DOUBLE)
        |         ELSE CAST(k.k - 1 AS DOUBLE)
        |              * CAST(1152921504606846976 AS DOUBLE)
        |              / CAST((SELECT r.hv FROM ranked r WHERE r.rn = k.k) AS DOUBLE)
        |    END AS kmv_est
        |  FROM ks k CROSS JOIN exact e)
        |SELECT CAST(k AS BIGINT) AS k, n_exact, kmv_est,
        |  abs(kmv_est / n_exact - 1) AS rel_err,
        |  abs(kmv_est / n_exact - 1) <= 3.0 / sqrt(CAST(k AS DOUBLE))
        |    AS within_3_sigma
        |FROM est ORDER BY k""".stripMargin,
    // a08: same md5 sample membership → estimates and CI booleans
    // reproduce exactly
    "a08_aqp_groupby" ->
      """WITH s AS (
        |  SELECT l_returnflag,
        |    (('0x' || substr(md5('aqp:' || l_orderkey || ':' || l_linenumber), 1, 8))::BIGINT)::DOUBLE
        |      / 4294967296.0 < 0.05 AS in_sample
        |  FROM lineitem)
        |SELECT l_returnflag,
        |  COUNT(*) AS n_exact,
        |  COUNT(CASE WHEN in_sample THEN 1 END) AS n_sampled,
        |  CAST(COUNT(CASE WHEN in_sample THEN 1 END) AS DOUBLE) / 0.05 AS n_est,
        |  3.0 * sqrt(CAST(COUNT(*) AS DOUBLE) * 0.05 * 0.95) / 0.05 AS ci_3sigma,
        |  abs(CAST(COUNT(CASE WHEN in_sample THEN 1 END) AS DOUBLE) / 0.05
        |      - CAST(COUNT(*) AS DOUBLE))
        |    <= 3.0 * sqrt(CAST(COUNT(*) AS DOUBLE) * 0.05 * 0.95) / 0.05 AS within_ci
        |FROM s
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
    // a05: the sketch AND estimator are cross-engine deterministic —
    // DuckDB recomputes the identical k-min hash sets and estimate.
    // a06: the pair sketches, combined sketch, and BOTH estimators
    // recomputed bit-for-bit in list space; exact pair truth joined on
    "a06_kmv_set_ops" ->
      """WITH hv AS (
        |  SELECT DISTINCT l_returnflag AS t,
        |    CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
        |  FROM lineitem),
        |sk AS (
        |  SELECT t, list(hv ORDER BY hv)[1:128] AS sk FROM hv GROUP BY t),
        |ex AS (
        |  SELECT l_returnflag AS t, COUNT(DISTINCT l_orderkey) AS n_exact
        |  FROM lineitem GROUP BY 1),
        |pairs AS (
        |  SELECT a.t AS ta, b.t AS tb, a.sk AS ska, b.sk AS skb,
        |    ea.n_exact AS na, eb.n_exact AS nb
        |  FROM sk a JOIN sk b ON a.t < b.t
        |  JOIN ex ea ON ea.t = a.t JOIN ex eb ON eb.t = b.t),
        |comb AS (
        |  SELECT *, list_sort(list_distinct(ska || skb))[1:128] AS sku FROM pairs),
        |scored AS (
        |  SELECT *,
        |    CASE WHEN len(sku) < 128 THEN CAST(len(sku) AS DOUBLE)
        |         ELSE CAST(127 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE) /
        |              CAST(sku[128] AS DOUBLE) END AS kmv_union_est,
        |    CASE WHEN len(sku) < 128
        |         THEN CAST(len(list_intersect(ska, skb)) AS DOUBLE) /
        |              CAST(len(sku) AS DOUBLE)
        |         ELSE CAST(len(list_intersect(list_intersect(sku, ska), skb)) AS DOUBLE) /
        |              CAST(128 AS DOUBLE) END AS est_jaccard
        |  FROM comb),
        |inter AS (
        |  SELECT x.f AS ta, y.f AS tb, COUNT(*) AS n_inter_exact
        |  FROM (SELECT DISTINCT l_returnflag AS f, l_orderkey AS k FROM lineitem) x
        |  JOIN (SELECT DISTINCT l_returnflag AS f, l_orderkey AS k FROM lineitem) y
        |    ON x.k = y.k AND x.f < y.f
        |  GROUP BY 1, 2)
        |SELECT s.ta, s.tb,
        |  s.na + s.nb - i.n_inter_exact AS n_union_exact,
        |  i.n_inter_exact,
        |  s.kmv_union_est,
        |  s.est_jaccard * s.kmv_union_est AS kmv_inter_est,
        |  s.est_jaccard
        |FROM scored s JOIN inter i ON s.ta = i.ta AND s.tb = i.tb
        |ORDER BY s.ta, s.tb""".stripMargin,
    "a05_kmv_distinct" ->
      """WITH hv AS (
        |  SELECT DISTINCT l_returnflag AS flag,
        |    CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
        |  FROM lineitem),
        |ranked AS (
        |  SELECT flag, hv,
        |    ROW_NUMBER() OVER (PARTITION BY flag ORDER BY hv) AS rn,
        |    COUNT(*) OVER (PARTITION BY flag) AS nd
        |  FROM hv),
        |exact AS (
        |  SELECT l_returnflag AS flag, COUNT(DISTINCT l_orderkey) AS n_exact
        |  FROM lineitem GROUP BY 1),
        |per_flag AS (
        |  SELECT r.flag, e.n_exact,
        |    CASE WHEN MAX(r.nd) < 128 THEN CAST(MAX(r.nd) AS DOUBLE)
        |         ELSE CAST(127 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE) /
        |              CAST(MAX(CASE WHEN r.rn = 128 THEN r.hv END) AS DOUBLE) END AS kmv_est
        |  FROM ranked r JOIN exact e ON r.flag = e.flag
        |  GROUP BY r.flag, e.n_exact),
        |all_sk AS (
        |  SELECT DISTINCT hv FROM ranked WHERE rn <= 128),
        |all_ranked AS (
        |  SELECT hv, ROW_NUMBER() OVER (ORDER BY hv) AS rn,
        |    COUNT(*) OVER () AS nd
        |  FROM all_sk),
        |all_row AS (
        |  SELECT 'ALL' AS flag,
        |    (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem) AS n_exact,
        |    CASE WHEN MAX(nd) < 128 THEN CAST(MAX(nd) AS DOUBLE)
        |         ELSE CAST(127 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE) /
        |              CAST(MAX(CASE WHEN rn = 128 THEN hv END) AS DOUBLE) END AS kmv_est
        |  FROM all_ranked)
        |SELECT flag, n_exact, kmv_est FROM per_flag
        |UNION ALL SELECT flag, n_exact, kmv_est FROM all_row
        |ORDER BY 1""".stripMargin,
    // a01/a03: exact halves recomputed in DuckDB; the booleans are
    // expected TRUE — the Spark side computes them from the live
    // sketch, so an out-of-bound estimate hash-mismatches.
    "a01_hll_sketches" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT source) AS exact_distinct, TRUE AS within_bound
        |FROM documents GROUP BY lang
        |UNION ALL
        |SELECT 'ALL', COUNT(*), COUNT(DISTINCT source), TRUE FROM documents
        |ORDER BY lang""".stripMargin,
    "a03_quantile_sketch" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  round(quantile_cont(n_chars, 0.5), 6) AS exact_p50_r,
        |  round(quantile_cont(n_chars, 0.9), 6) AS exact_p90_r,
        |  TRUE AS ok_p50, TRUE AS ok_p90
        |FROM documents GROUP BY lang
        |ORDER BY lang""".stripMargin,
    "a04_cms_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
        |  FROM documents),
        |counts AS (
        |  SELECT token, COUNT(*) AS exact_cnt FROM toks GROUP BY 1)
        |SELECT ROW_NUMBER() OVER (ORDER BY exact_cnt DESC, token) AS est_rank,
        |  token, exact_cnt, TRUE AS within_bound
        |FROM counts
        |QUALIFY est_rank <= 10
        |ORDER BY est_rank""".stripMargin,
    "a02_bloom_filtered_join" ->
      """SELECT c_mktsegment,
        |  COUNT(*) AS n_orders,
        |  COUNT(DISTINCT c_custkey) AS n_customers,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_acctbal > 9000.0
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin
  )
}
