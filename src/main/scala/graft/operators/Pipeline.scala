package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Exact._

/** LLM training-data pipeline operators over `documents` — the corpus
  * preparation stages that run AFTER cleaning/dedup and BEFORE
  * training: token-budget sequence packing, deterministic splits,
  * stratified sampling, length bucketing, corpus statistics.
  *
  * Cross-engine determinism: anything "random" derives from md5 of a
  * salted key (hex md5 is bit-identical in Spark and DuckDB — SURVEY.md
  * §4), so splits/samples are reproducible across engines, re-runs, and
  * cluster sizes — a hard requirement for training-data lineage.
  *
  * Scale notes (100 TB): packing partitions the corpus into
  * independent buckets (bucket count ∝ cluster size; window runs
  * per-bucket, never a global sort); splits/samples are narrow
  * map-side ops; the only shuffles are the final small aggregates.
  */
object Pipeline {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")

  /** Whitespace token count (BIGINT, cross-engine with
    * regexp_split_to_array in DuckDB).
    */
  private def nTokens(c: Column): Column =
    size(split(trim(c), "\\s+")).cast("long")

  /** p01: token-budget sequence packing. Documents are hashed into
    * independent buckets; inside each bucket a running token total
    * (deterministic doc_id order) chunks docs into packs of ≤2048
    * tokens (streaming chunk assignment: pack = (cumsum-1) div budget).
    * Per-pack stats: doc count, token total, budget utilization.
    */
  def p01PackSequences(spark: SparkSession, dir: String): DataFrame = {
    val budget = 2048L
    val w = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
    docs(spark, dir)
      .select(col("doc_id"), (col("doc_id") % 8).cast("int").as("bucket"),
        nTokens(col("text")).as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("pack_id", ((col("cum_tokens") - 1L) / budget).cast("long"))
      .groupBy(col("bucket"), col("pack_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("pack_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .withColumn("utilization", col("pack_tokens").cast("double") / lit(budget.toDouble))
      .orderBy(col("bucket"), col("pack_id"))
  }

  /** p02: deterministic hash train/val/test split (~80/10/10) — the
    * split of a doc is a pure function of its id, so it is stable
    * under re-partitioning, re-runs, and corpus growth.
    */
  def p02TrainTestSplit(spark: SparkSession, dir: String): DataFrame = {
    val h = substring(md5(concat(lit("split:"), col("doc_id").cast("string"))), 1, 2)
    docs(spark, dir)
      .withColumn("split",
        when(h < "cd", "train").when(h < "e6", "val").otherwise("test"))
      .groupBy(col("split"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(nTokens(col("text"))).as("n_tokens"),
        sum(col("n_chars")).as("n_chars_total"),
        countDistinct(col("lang")).as("n_langs"))
      .orderBy(col("split"))
  }

  /** p15: LEAK-PROOF train/test split — the dedup-aware split modern
    * eval hygiene demands and p02's id-keyed split cannot give: a
    * near-dup PAIR split across train and test is test-set leakage
    * (the model has effectively seen the answer), and keying the
    * split on doc_id makes that a coin flip per pair. Keying it on
    * the doc's DUP-CLUSTER label ([[Dedup.dupLabels]] — d06's
    * connected components over verified LSH pairs, one plan node)
    * pins every cluster wholly to one side BY CONSTRUCTION. The gate
    * carries both schemes' straddle counts over multi-doc clusters:
    * `by_id` > 0 (the leakage p02-style splitting really causes on
    * this corpus) and `by_cluster` = 0, exactly oracled through the
    * same recursive-CC labels.
    */
  def p15LeakproofSplit(spark: SparkSession, dir: String): DataFrame = {
    val labels = Dedup.dupLabels(spark, dir)
    def splitOf(h: Column): Column =
      when(h < "cd", "train").when(h < "e6", "val").otherwise("test")
    val a = labels
      .withColumn("split_by_id", splitOf(
        substring(md5(concat(lit("split:"), col("doc_id").cast("string"))), 1, 2)))
      .withColumn("split_by_cluster", splitOf(
        substring(md5(concat(lit("split:"), col("label").cast("string"))), 1, 2)))
    // ONE per-cluster aggregation (split_by_cluster is constant within
    // a label, so max() recovers it), read once: one global aggregate
    // yields both straddle counters and each split's rollup. A second
    // reader would plan its own, differently pruned copy of the labels
    // and run the connected components twice unless AQE reused an
    // exchange between the copies
    val per = a.groupBy(col("label"))
      .agg(count(lit(1)).as("sz"),
        countDistinct(col("split_by_id")).as("ns_id"),
        countDistinct(col("split_by_cluster")).as("ns_cl"),
        max(col("split_by_cluster")).as("split"))
    val bySplit = Seq("train", "val", "test").map { s =>
      val in = col("split") === s
      struct(lit(s).as("split"), sum(when(in, col("sz"))).as("n_docs"),
        count(when(in, 1)).as("n_clusters"))
    }
    per.agg(array(bySplit: _*).as("splits"),
        sum(when(col("sz") > 1 && col("ns_id") > 1, 1L).otherwise(0L))
          .as("n_straddling_by_id"),
        sum(when(col("sz") > 1 && col("ns_cl") > 1, 1L).otherwise(0L))
          .as("n_straddling_by_cluster"))
      .select(explode(col("splits")).as("s"),
        col("n_straddling_by_id"), col("n_straddling_by_cluster"))
      .filter(col("s.n_clusters") > 0)
      .select(col("s.split").as("split"), col("s.n_docs").as("n_docs"),
        col("s.n_clusters").as("n_clusters"),
        col("n_straddling_by_id"), col("n_straddling_by_cluster"))
      .orderBy(col("split"))
  }

  /** p03: stratified deterministic sample — top-5 docs per language by
    * salted md5 order (reproducible pseudo-random pick per stratum).
    */
  def p03StratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(md5(concat(lit("sample:"), col("doc_id").cast("string"))), col("doc_id"))
    docs(spark, dir)
      .withColumn("pick", row_number().over(w))
      .filter(col("pick") <= 5)
      .select(col("lang"), col("pick"), col("doc_id"), col("source"), col("n_chars"))
      .orderBy(col("lang"), col("pick"))
  }

  /** p04: sequence-length histogram — power-of-two token buckets (the
    * batching distribution a trainer packs against).
    */
  def p04LengthBuckets(spark: SparkSession, dir: String): DataFrame = {
    val n = col("n_tokens")
    docs(spark, dir)
      .select(col("doc_id"), col("n_chars"), nTokens(col("text")).as("n_tokens"))
      .withColumn("len_bucket",
        when(n < 8, "0007").when(n < 16, "0015").when(n < 32, "0031")
          .when(n < 64, "0063").when(n < 128, "0127").when(n < 256, "0255")
          .otherwise("0256+"))
      .groupBy(col("len_bucket"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        davg(col("n_chars"), 2).as("avg_chars"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"))
      .orderBy(col("len_bucket"))
  }

  /** p05: per-language corpus statistics — doc/source/token totals and
    * an exact interpolated median (both engines interpolate
    * percentiles the same way on BIGINT input).
    */
  def p05CorpusStats(spark: SparkSession, dir: String): DataFrame = {
    docs(spark, dir)
      .select(col("lang"), col("source"), col("n_chars"),
        nTokens(col("text")).as("n_tokens"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"),
        davg(col("n_chars"), 2).as("avg_chars"),
        expr("percentile(n_chars, 0.5)").as("median_chars"))
      .orderBy(col("lang"))
  }

  /** Distinct word-5-grams per doc `(doc_id, g)` of docs with at least
    * 5 tokens — p06's and p16's gram stream.
    */
  private def gram5s(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.spread(docs(spark, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), expr(graft.functions.TextGrams.tokensExpr("text")).as("ts"))
      .filter(size(col("ts")) >= 5)
      .select(col("doc_id"),
        explode(array_distinct(expr(graft.functions.TextGrams.gramExpr("ts", 5)))).as("g"))

  /** p06: benchmark-contamination check — flag training docs sharing
    * any word-5-gram with the held-out benchmark set (here: the
    * doc_id % 13 slice as a stand-in eval set). The benchmark's
    * distinct grams are a small broadcast side; the corpus explodes
    * its grams once and counts its grams and its matches per doc in one
    * aggregate — the standard decontamination sweep before an LLM
    * training run.
    */
  def p06ContaminationCheck(spark: SparkSession, dir: String): DataFrame = {
    val grams = gram5s(spark, dir)
    val bench = grams.filter(col("doc_id") % 13 === 0)
      .select(col("g")).distinct().withColumn("hit", lit(true))
    grams.filter(col("doc_id") % 13 =!= 0)
      .join(broadcast(bench), Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("hit")).as("n_hit_grams"), count(lit(1)).as("n_grams"))
      .filter(col("n_hit_grams") > 0)
      .withColumn("contamination_ratio",
        col("n_hit_grams").cast("double") / col("n_grams").cast("double"))
      .orderBy(col("n_hit_grams").desc, col("doc_id"))
  }

  /** p16: BLOOM-gated decontamination — p06's sweep at its 100 TB
    * shape. p06 broadcasts the benchmark's exact distinct-gram set;
    * at a real bench-suite scale that broadcast is gigabytes. Here
    * the bench grams compact into a 2^20-bit bloom sketch (128 KB,
    * embedded in the probe plan's generated code — a02's machinery)
    * and the TRAINING corpus's gram stream is pruned map-side BEFORE
    * any shuffle: the corpus-side aggregation only ever sees bloom
    * candidates (true hits + a bounded false-positive trickle). The
    * candidates are then exactly CONFIRMED against the bench set, so
    * the emitted accounting is bit-identical to the exact sweep; the
    * `bloom_sound` column cross-checks the bloom path against an
    * independent exact join (no false negatives — the bloom
    * contract), and the oracle expects it TRUE on every row. Only the
    * bloom probe runs at build time (one aggregate over the bench
    * grams); the training grams are read twice by the query, once
    * bloom-pruned and once in full for the exact counts.
    */
  def p16BloomDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val grams = gram5s(spark, dir)
    val bench = grams.filter(col("doc_id") % 13 === 0).select(col("g")).distinct()
    val bloom = bench
      .agg(graft.functions.GraftFunctions.bloomAgg(xxhash64(col("g")), 100000L, 1L << 20).as("bf"))
      .head().getAs[Array[Byte]](0)
    val train = grams.filter(col("doc_id") % 13 =!= 0)
    val candidates = train.filter(
      graft.functions.GraftFunctions.bloomMightContain(lit(bloom), xxhash64(col("g"))))
    val hits = candidates.join(broadcast(bench), Seq("g"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit_grams"))
    // independent exact sweep (no bloom) — the soundness yardstick —
    // counted in the same aggregate as the per-doc totals
    val perDoc = train
      .join(broadcast(bench.withColumn("hit", lit(true))), Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_exact_hits"))
    perDoc
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_hit_grams"), lit(0L)).as("n_hit_grams"),
        (coalesce(col("n_hit_grams"), lit(0L)).cast("double") /
          col("n_grams").cast("double")).as("contamination_ratio"),
        (coalesce(col("n_hit_grams"), lit(0L)) ===
          coalesce(col("n_exact_hits"), lit(0L))).as("bloom_sound"))
      .orderBy(col("doc_id"))
  }

  /** p07: vocabulary coverage / OOV rate — build a top-500 token
    * vocabulary (global counts, deterministic tie-break) and measure
    * per-language out-of-vocabulary token share: the coverage metric
    * that sizes a tokenizer's vocab against a corpus. The vocab is a
    * small broadcast side; OOV detection is one anti join.
    */
  def p07OovRate(spark: SparkSession, dir: String): DataFrame = {
    val toks = docs(spark, dir)
      .select(col("lang"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
    val vocab = toks.groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")).limit(500)
      .select(col("token"))
    val oov = toks.join(broadcast(vocab), Seq("token"), "left_anti")
      .groupBy(col("lang")).agg(count(lit(1)).as("oov_tokens"))
    toks.groupBy(col("lang")).agg(count(lit(1)).as("total_tokens"))
      .join(oov, Seq("lang"), "left")
      .withColumn("oov_tokens", coalesce(col("oov_tokens"), lit(0L)))
      .withColumn("oov_rate",
        col("oov_tokens").cast("double") / col("total_tokens").cast("double"))
      .orderBy(col("lang"))
  }

  /** p08: end-to-end corpus filter — the composed keep/drop manifest a
    * training run consumes: exact-dedup keeper (min doc_id per content
    * hash) ∧ quality gate (t02's composite score ≥ 0.5) ∧ non-trivial
    * length. One pass; every predicate is a column expression.
    */
  def p08CorpusFilter(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stopList = TextAnalysis.stopwords.map(s => s"'$s'").mkString(", ")
    val d = docs(spark, dir)
      .withColumn("text_len", length(col("text")).cast("long"))
      .withColumn("punct_count",
        (col("text_len") - length(regexp_replace(col("text"), "[.,;:!?]", ""))).cast("long"))
      .withColumn("n_tokens", size(split(lower(trim(col("text"))), "\\s+")).cast("long"))
      .withColumn("stop_hits",
        expr(s"size(filter(split(lower(trim(text)), '\\\\s+'), t -> t in ($stopList)))").cast("long"))
      .withColumn("quality_score",
        lit(0.4) * least(lit(1.0), col("text_len").cast("double") / lit(500.0)) +
          lit(0.3) * (lit(1.0) - col("punct_count").cast("double") /
            when(col("text_len") === 0, null).otherwise(col("text_len").cast("double"))) +
          lit(0.3) * (col("stop_hits").cast("double") /
            when(col("n_tokens") === 0, null).otherwise(col("n_tokens").cast("double"))))
      .withColumn("keep_id",
        min(col("doc_id")).over(Window.partitionBy(md5(col("text").cast("binary")))))
    d.withColumn("is_canonical", col("doc_id") === col("keep_id"))
      .withColumn("passes_quality", col("quality_score") >= 0.5)
      .withColumn("kept",
        col("is_canonical") && col("passes_quality") && col("n_tokens") >= 5)
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        col("quality_score"), col("is_canonical"), col("passes_quality"), col("kept"))
      .orderBy(col("doc_id"))
  }

  /** p09: Gopher-style within-document repetition filter — the
    * quality rule that drops degenerate/looping generations before
    * training: duplicate-token fraction and duplicate-word-3-gram
    * fraction, thresholded into a keep flag. Entirely row-local array
    * work (no shuffle, embarrassingly parallel at 100 TB).
    */
  def p09RepetitionFilter(spark: SparkSession, dir: String): DataFrame = {
    val gram3 = expr(graft.functions.TextGrams.gramExpr("ts", 3))
    docs(spark, dir)
      .select(col("doc_id"), col("lang"),
        expr(graft.functions.TextGrams.tokensExpr("text")).as("ts"))
      .filter(size(col("ts")) >= 3)
      .withColumn("g3", gram3)
      .select(
        col("doc_id"), col("lang"),
        size(col("ts")).cast("long").as("n_tokens"),
        size(array_distinct(col("ts"))).cast("long").as("n_distinct_tokens"),
        size(col("g3")).cast("long").as("n_grams3"),
        size(array_distinct(col("g3"))).cast("long").as("n_distinct_grams3"))
      .withColumn("dup_token_ratio",
        lit(1.0) - col("n_distinct_tokens").cast("double") / col("n_tokens").cast("double"))
      .withColumn("dup_gram3_ratio",
        lit(1.0) - col("n_distinct_grams3").cast("double") / col("n_grams3").cast("double"))
      .withColumn("kept",
        col("dup_token_ratio") <= 0.5 && col("dup_gram3_ratio") <= 0.1)
      .orderBy(col("doc_id"))
  }

  /** Driver-contract registration. */
  /** p10: domain mixing — the source-weighted downsampling every LLM
    * corpus recipe runs (web gets 0.25×, books 1.0×, …). Each doc
    * draws a deterministic md5 uniform and survives iff u < its
    * source's weight, so the mix is i.i.d.-correct per doc yet exactly
    * reproducible across engines, re-runs, and cluster sizes.
    * Map-side only (one narrow filter + final per-source rollup) — at
    * 100 TB the sample never shuffles the corpus. Weights here derive
    * from the source index (idx%4+1)/4 ∈ {.25,.5,.75,1}; a real
    * deployment passes a weight table and broadcast-joins it.
    */
  def p10DomainMix(spark: SparkSession, dir: String): DataFrame = {
    val idx = substring(col("source"), 4, 10).cast("int")
    val w = ((idx % 4) + 1) / lit(4.0)
    // u = first 32 md5 bits / 2^32: exactly representable in double,
    // so the < comparison is bit-deterministic in both engines
    val u = conv(substring(md5(concat(lit("mix:"), col("doc_id").cast("string"))), 1, 8),
      16, 10).cast("double") / lit(4294967296.0)
    docs(spark, dir)
      .withColumn("w", w)
      .withColumn("kept", u < col("w"))
      .groupBy(col("source"), col("w"))
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(col("kept"), 1)).as("n_kept"))
      .withColumn("eff_rate",
        col("n_kept").cast("double") / col("n_docs").cast("double"))
      .orderBy(col("source"))
  }

  /** p14: TEMPERATURE-flattened domain mix (α = 0.5) — p10's fixed
    * weights replaced by the standard pretraining recipe (GPT-3 /
    * multilingual-T5 style): sampling weight ∝ n^α, so over-
    * represented domains are damped and small domains up-weighted
    * RELATIVELY, with rates derived FROM the data (acceptance ∝
    * 1/√n, capped at 1). Two-pass cluster shape: one tiny count
    * aggregate → broadcast rate table → map-side deterministic
    * accept (p10's exactly-representable 32-bit-hash u < rate), so
    * the 100 TB side is a single filter inside the scan. α enters
    * only through `sqrt` (correctly rounded IEEE — bit-identical
    * cross-engine, unlike a general `pow`).
    */
  def p14TemperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val counts = docs(spark, dir).groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("accept_rate",
        least(lit(1.0), lit(4.0) / sqrt(col("n_docs").cast("double"))))
    val u = conv(substring(md5(concat(lit("temp:"), col("doc_id").cast("string"))), 1, 8),
      16, 10).cast("double") / lit(4294967296.0)
    docs(spark, dir).select(col("source"), u.as("u"))
      .join(broadcast(counts), Seq("source"))
      .groupBy(col("source"), col("n_docs"), col("accept_rate"))
      .agg(count(when(col("u") < col("accept_rate"), 1)).as("n_sampled"))
      .withColumn("eff_rate",
        col("n_sampled").cast("double") / col("n_docs").cast("double"))
      .orderBy(col("source"))
  }

  /** p11: deterministic global shuffle — the training-order shuffle, as
    * a distributed range sort on a salted md5 key (reproducible, no
    * single-partition window: ranks come from [[Rank.globalRowNumber]]'s
    * distributed plan node). Emits the first 100 positions.
    */
  def p11GlobalShuffle(spark: SparkSession, dir: String): DataFrame = {
    val keyed = docs(spark, dir)
      .select(col("doc_id"), col("source"),
        md5(concat(lit("shuffle:"), col("doc_id").cast("string"))).as("shuffle_key"))
    Rank.globalRowNumber(keyed, Seq(col("shuffle_key"), col("doc_id")), "shuffle_rank")
      .filter(col("shuffle_rank") <= 100)
      .select(col("shuffle_rank"), col("doc_id"), col("source"), col("shuffle_key"))
      .orderBy(col("shuffle_rank"))
  }

  /** p12: document chunking with overlap — the context-window prep
    * step: each doc splits into 64-token chunks at stride 48 (16-token
    * overlap carries context across boundaries), short docs yield one
    * chunk. Entirely map-side (explode of a per-row `sequence`; no
    * shuffle, no UDF — chunk count and slices are closed-form column
    * math), so at 100 TB it pipelines inside the scan stage. Emits
    * chunk token counts + md5 fingerprints; the oracle recomputes them
    * with DuckDB list slicing.
    */
  def p12ChunkDocuments(spark: SparkSession, dir: String): DataFrame = {
    val C = 64  // chunk size (tokens)
    val S = 48  // stride = C - overlap(16)
    val base = docs(spark, dir)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .withColumn("n_chunks",
        when(col("n") <= C, lit(1L))
          .otherwise(((col("n") - C + (S - 1)) / S).cast("long") + 1L))
    base
      .select(col("doc_id"), col("toks"), col("n"), col("n_chunks"),
        explode(sequence(lit(0L), col("n_chunks") - 1L)).as("chunk_idx"))
      .withColumn("chunk",
        slice(col("toks"), (col("chunk_idx") * S + 1L).cast("int"), lit(C)))
      .select(
        col("doc_id"), col("chunk_idx"), col("n_chunks"),
        size(col("chunk")).cast("long").as("chunk_n_tokens"),
        md5(array_join(col("chunk"), " ")).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** p17: weighted sampling without replacement — the "ticket race"
    * (Efraimidis–Spirakis A-ES family): each document holds `w`
    * lottery tickets (w = its source's mixing weight, 1–4), its race
    * key is the MINIMUM of the w per-ticket md5 draws, and the sample
    * is the global bottom-k keys. The min of w iid uniforms is the
    * first arrival of w independent clocks, so selection pressure is
    * proportional to weight — yet every draw is a deterministic
    * `md5(doc_id:i)`: reproducible across engines, runs and cluster
    * sizes, with no RNG state to coordinate. Scale shape: the ticket
    * min is a per-row ARRAY projection (no explode, no shuffle) and
    * the bottom-k a TakeOrdered — map work + one k-row collect at
    * 100 TB.
    */
  def p17WeightedSample(spark: SparkSession, dir: String): DataFrame = {
    val k = 200
    docs(spark, dir)
      .withColumn("weight",
        expr("cast(substring(source, 4) as bigint) % 4 + 1"))
      .withColumn("ticket", expr(
        """array_min(transform(sequence(1, weight),
          |  i -> md5(cast(concat(cast(doc_id as string), ':',
          |                       cast(i as string)) as binary))))""".stripMargin))
      .select(col("doc_id"), col("source"), col("weight"), col("ticket"))
      .orderBy(col("ticket"))
      .limit(k)
  }

  /** p21: CURRICULUM SCHEDULE — order the corpus easy→hard and cut it
    * into equal-count training phases (curriculum learning, Bengio et
    * al. 2009 — the standard pretraining trick of warming up on
    * simpler text). Difficulty here is the cheap, deterministic
    * mean-word-length proxy in scaled integers (`n_chars·1000 div
    * n_tokens` — longer words ≈ harder text; any scorer with a total
    * order slots in), the global order comes from
    * [[graft.operators.Rank.globalRowNumber]] (never a
    * single-partition window; its total column is the corpus size n),
    * and phase = `(rn−1)·3 div n` — exact
    * equal-count thirds, no NTILE edge-rule ambiguity. Output: per
    * phase, the doc/token volume and the difficulty bounds — proving
    * the schedule partitions the corpus into contiguous,
    * monotonically harder slices. At 100 TB: one scan for the score,
    * one range shuffle for the order, one keyed aggregate.
    */
  def p21Curriculum(spark: SparkSession, dir: String): DataFrame = {
    val scored = docs(spark, dir)
      .withColumn("n_tokens",
        size(expr(graft.functions.TextGrams.tokensExpr("text"))).cast("long"))
      .withColumn("difficulty", expr("n_chars * 1000 div n_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("difficulty"))
    val ranked = graft.operators.Rank.globalRowNumber(
      scored, Seq(col("difficulty"), col("doc_id")), "rn", totalCol = Some("n"))
    ranked
      .withColumn("phase", expr("(rn - 1) * 3 div n"))
      .groupBy(col("phase"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("phase_tokens"),
        min(col("difficulty")).as("min_difficulty"),
        max(col("difficulty")).as("max_difficulty"))
      .orderBy(col("phase"))
  }

  /** p19: DATASET CARD — the per-split datasheet ("Datasheets for
    * Datasets", Gebru et al.) every released training corpus ships:
    * for each of p02's deterministic train/val/test splits, the
    * volume (docs/tokens/chars), diversity (sources, languages,
    * dominant source + its share), and hygiene (exact-dup rate)
    * numbers a consumer needs before training on it. One groupBy over
    * the corpus + a per-(split,source) top-1 — the whole card costs
    * two small aggregates regardless of corpus size, and every number
    * is exact (the card is a release artifact; sampled stats would
    * make it unauditable).
    */
  def p19DatasetCard(spark: SparkSession, dir: String): DataFrame = {
    val h = substring(md5(concat(lit("split:"), col("doc_id").cast("string"))), 1, 2)
    // both roll-ups read the table; each scans it, since sharing it
    // would shuffle every document's text
    val d = docs(spark, dir)
      .withColumn("split",
        when(h < "cd", "train").when(h < "e6", "val").otherwise("test"))
    val card = d.groupBy(col("split")).agg(
      count(lit(1)).as("n_docs"),
      sum(nTokens(col("text"))).as("n_tokens"),
      sum(col("n_chars")).as("n_chars"),
      countDistinct(col("source")).as("n_sources"),
      countDistinct(col("lang")).as("n_langs"),
      (lit(1.0) - countDistinct(md5(col("text").cast("binary"))).cast("double") /
        count(lit(1)).cast("double")).as("dup_rate"))
    val w = Window.partitionBy(col("split"))
      .orderBy(col("cnt").desc, col("source"))
    val top = d.groupBy(col("split"), col("source"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("split"), col("source").as("top_source"), col("cnt"))
    card.join(top, Seq("split"))
      .withColumn("top_source_share",
        col("cnt").cast("double") / col("n_docs").cast("double"))
      .drop("cnt")
      .orderBy(col("split"))
  }

  /** p25: EPOCH SCHEDULE — the multi-epoch data-ordering deliverable
    * (what the trainer actually reads in epoch e): each epoch gets
    * its OWN deterministic permutation (key = md5 over (epoch,
    * doc_id, copy) — repeating one epoch's order across epochs is a
    * known training pathology), upsampled domains (source idx % 4 ==
    * 0 → 2 copies, the p10 weighting made integral) appear once per
    * copy AT DIFFERENT POSITIONS (the copy index enters the key),
    * and the schedule materializes as SHARD assignments (first md5
    * byte mod 8) rather than a global sort — the webdataset layout:
    * at 100 TB ordering a corpus is a hash shuffle per epoch, never
    * a total-order sort; within-shard order is the key order. Gate:
    * per (epoch, shard) entry/distinct-doc counts plus the shard's
    * first (key, doc) — pinning both the permutation and its
    * cross-epoch decorrelation; the oracle re-derives every cell
    * from the same md5 arithmetic.
    */
  def p25EpochSchedule(spark: SparkSession, dir: String): DataFrame = {
    val base = docs(spark, dir).select(col("doc_id"), col("source"))
      .withColumn("n_copies",
        when(substring(col("source"), 4, 10).cast("int") % 4 === 0, 2)
          .otherwise(1))
      .withColumn("copy", explode(expr("sequence(1, n_copies)")))
    val epochs = spark.range(1, 4).select(col("id").cast("int").as("epoch"))
    val keyed = base.crossJoin(broadcast(epochs))
      .withColumn("k", md5(concat(
        lit("epoch:"), col("epoch").cast("string"),
        lit(":"), col("doc_id").cast("string"),
        lit(":"), col("copy").cast("string"))))
      .withColumn("shard",
        conv(substring(col("k"), 1, 2), 16, 10).cast("long") % 8)
    keyed.groupBy(col("epoch"), col("shard"))
      .agg(
        count(lit(1)).as("n_entries"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("k")).as("first_key"),
        min_by(col("doc_id"), col("k")).as("first_doc"))
      .orderBy(col("epoch"), col("shard"))
  }

  /** p26: QUALITY-THRESHOLD RETENTION CURVE — the calibration sweep a
    * curator runs before picking a filter cutoff (the "what fraction
    * of my tokens does each threshold cost" table behind every
    * quality-filter decision, e.g. Gopher/FineWeb-style rule tuning):
    * for thresholds 0.1 … 0.9 over t02's composite quality score,
    * documents kept, tokens kept, and both retention fractions.
    * Shape: ONE corpus scan → per-doc (score, tokens) → a broadcast
    * 9-row threshold spine → a map-side-combining aggregate (n×9
    * rows reduce to 9 before the exchange). Cross-engine exactness
    * rides on t02's already-gated bit-identical score. At 100 TB the
    * sweep costs one scan regardless of how many thresholds — the
    * reason to compute the whole curve at once instead of re-running
    * the filter per candidate cutoff.
    */
  def p26QualityCurve(spark: SparkSession, dir: String): DataFrame = {
    val scored = TextAnalysis.t02QualityScore(spark, dir)
      .select(col("doc_id"), col("n_tokens"), col("quality_score"))
    val ks = spark.range(1, 10).select(col("id").cast("int").as("k"))
    scored.crossJoin(broadcast(ks))
      .groupBy(col("k"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens_total"),
        count(when(col("quality_score") >= col("k").cast("double") / lit(10.0), 1))
          .as("n_docs_kept"),
        sum(when(col("quality_score") >= col("k").cast("double") / lit(10.0),
          col("n_tokens")).otherwise(0L)).as("n_tokens_kept"))
      .select(
        (col("k").cast("double") / lit(10.0)).as("threshold"),
        col("n_docs"), col("n_docs_kept"),
        round(col("n_docs_kept").cast("double") /
          col("n_docs").cast("double"), 6).as("doc_retention"),
        col("n_tokens_total"), col("n_tokens_kept"),
        round(col("n_tokens_kept").cast("double") /
          col("n_tokens_total").cast("double"), 6).as("token_retention"))
      .orderBy(col("threshold"))
  }

  /** p29: RENDEZVOUS (highest-random-weight) shard placement — the
    * deterministic, coordination-free way a 100 TB corpus assigns
    * shards to workers (ingest/compaction ownership, cache affinity):
    * every (doc, worker) pair hashes to a 32-bit md5 score and the
    * doc lands on its argmax worker. No directory, no state — any
    * node recomputes the owner from the key alone — and adding a
    * worker moves ONLY the docs whose new argmax IS the new worker
    * (expected 1/(W+1) of the corpus), never doc↔old-worker moves:
    * the minimal-disruption property consistent hashing is used for
    * (Thaler–Ravishankar HRW). The gate runs W=8 and W=9 side by
    * side and the per-worker `n_moved_in` column pins the property:
    * zero everywhere except the new worker. Argmax packs (score,
    * worker) into one BIGINT — `score*16 + (15-w)` — so a plain
    * map-side-combining MAX aggregate picks max-score-then-lowest-
    * worker with no window shuffle (the s08 lesson; W ≤ 16).
    */
  def p29RendezvousShards(spark: SparkSession, dir: String): DataFrame = {
    val ids = docs(spark, dir).select(col("doc_id"))
    def owner(nW: Int, as: String): DataFrame =
      ids.withColumn("w", explode(expr(s"sequence(0, ${nW - 1})")))
        .withColumn("score", conv(substring(md5(concat(lit("rv:"),
          col("doc_id").cast("string"), lit(":"), col("w").cast("string"))),
          1, 8), 16, 10).cast("long"))
        .groupBy(col("doc_id"))
        .agg(max(col("score") * 16L + (lit(15) - col("w"))).as("packed"))
        .select(col("doc_id"), (lit(15) - pmod(col("packed"), lit(16L))).as(as))
    val joined = owner(8, "w8").join(owner(9, "w9"), "doc_id")
      .withColumn("moved", col("w8") =!= col("w9"))
    val workers = spark.range(9).select(col("id").cast("long").as("worker"))
    def cnt(c: String, flag: Option[Column], as: String): DataFrame = {
      val base = flag.fold(joined)(joined.filter(_))
      base.groupBy(col(c).as("worker")).agg(count(lit(1)).as(as))
    }
    workers
      .join(cnt("w8", None, "n_w8"), Seq("worker"), "left")
      .join(cnt("w9", None, "n_w9"), Seq("worker"), "left")
      .join(cnt("w9", Some(col("moved")), "n_moved_in"), Seq("worker"), "left")
      .select(col("worker"),
        coalesce(col("n_w8"), lit(0L)).as("n_w8"),
        coalesce(col("n_w9"), lit(0L)).as("n_w9"),
        coalesce(col("n_moved_in"), lit(0L)).as("n_moved_in"))
      .orderBy(col("worker"))
  }

  /** p30: PER-SOURCE QUOTA CAP — the domain-cap curation rule
    * (C4/RefinedWeb: no single site may dominate the mix; Gopher's
    * per-domain document caps): each source keeps at most K
    * documents, chosen by deterministic salted-hash order — stable
    * across runs, engines and cluster sizes (data lineage), and
    * needing NO coordination: any worker can decide any document's
    * fate from its own key. Differs from p03 (stratified FRACTION)
    * and p10 (source REWEIGHTING): a quota is an absolute per-group
    * ceiling. Implementation is a09's bounded bottom-K AGGREGATE per
    * source — each map partition reduces to ≤K (hash, chars) pairs
    * per source before the exchange, so at 100 TB the shuffle
    * carries kilobytes per source where the window formulation
    * (`row_number OVER (PARTITION BY source ORDER BY hash)`) would
    * shuffle-and-sort the corpus; the DuckDB oracle IS that window
    * formulation, proving both shapes keep identical documents.
    */
  def p30SourceQuota(spark: SparkSession, dir: String): DataFrame = {
    val K = 20
    import graft.functions.GraftFunctions.bottomK
    val d = docs(spark, dir).select(
      col("source"), col("n_chars"),
      conv(substring(md5(concat(lit("quota:"), col("doc_id").cast("string"))
        .cast("binary")), 1, 15), 16, 10).cast("long").as("h"))
    d.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        bottomK(col("h"), col("n_chars"), K).as("kept"))
      .select(col("source"), col("n_docs"),
        size(col("kept")).cast("long").as("n_kept"),
        expr("aggregate(kept, 0L, (acc, x) -> acc + x.v)").as("kept_chars"))
      .orderBy(col("source"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p30_source_quota" -> (p30SourceQuota _),
    "p29_rendezvous_shards" -> (p29RendezvousShards _),
    "p26_quality_curve" -> (p26QualityCurve _),
    "p25_epoch_schedule" -> (p25EpochSchedule _),
    "p21_curriculum" -> (p21Curriculum _),
    "p19_dataset_card" -> (p19DatasetCard _),
    "p17_weighted_sample" -> (p17WeightedSample _),
    "p12_chunk_documents" -> (p12ChunkDocuments _),
    "p10_domain_mix" -> (p10DomainMix _),
    "p14_temperature_mix" -> (p14TemperatureMix _),
    "p15_leakproof_split" -> (p15LeakproofSplit _),
    "p11_global_shuffle" -> (p11GlobalShuffle _),
    "p09_repetition_filter" -> (p09RepetitionFilter _),
    "p08_corpus_filter" -> (p08CorpusFilter _),
    "p07_oov_rate" -> (p07OovRate _),
    "p01_pack_sequences" -> (p01PackSequences _),
    "p02_train_test_split" -> (p02TrainTestSplit _),
    "p03_stratified_sample" -> (p03StratifiedSample _),
    "p04_length_buckets" -> (p04LengthBuckets _),
    "p05_corpus_stats" -> (p05CorpusStats _),
    "p06_contamination_check" -> (p06ContaminationCheck _),
    "p16_bloom_decontaminate" -> (p16BloomDecontaminate _)
  )

  private val stopListSql = TextAnalysis.stopwords.map(s => s"'$s'").mkString(", ")

  /** DuckDB oracles (parity rules: SURVEY.md §4). */
  val oracles: Map[String, String] = Map(
    // p30: the window formulation over the same salted hash must keep
    // the identical documents the bounded aggregate kept
    "p30_source_quota" ->
      """WITH h AS (
        |  SELECT source, n_chars,
        |    CAST(('0x' || substr(md5('quota:' || CAST(doc_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS hv
        |  FROM documents),
        |r AS (
        |  SELECT source, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY hv) AS rn
        |  FROM h)
        |SELECT source,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN rn <= 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN rn <= 20 THEN n_chars ELSE 0 END) AS BIGINT)
        |    AS kept_chars
        |FROM r GROUP BY 1 ORDER BY source""".stripMargin,
    // p29: identical md5 scores, identical packed argmax arithmetic —
    // the HRW minimal-disruption property must emerge from the data
    "p29_rendezvous_shards" ->
      """WITH ids AS (SELECT doc_id FROM documents),
        |sc8 AS (
        |  SELECT doc_id, w,
        |    ('0x' || substr(md5('rv:' || CAST(doc_id AS VARCHAR) || ':' || CAST(w AS VARCHAR)), 1, 8))::BIGINT AS score
        |  FROM ids, (SELECT unnest(generate_series(0, 7)) AS w)),
        |o8 AS (
        |  SELECT doc_id, 15 - (MAX(score * 16 + (15 - w)) % 16) AS w8
        |  FROM sc8 GROUP BY doc_id),
        |sc9 AS (
        |  SELECT doc_id, w,
        |    ('0x' || substr(md5('rv:' || CAST(doc_id AS VARCHAR) || ':' || CAST(w AS VARCHAR)), 1, 8))::BIGINT AS score
        |  FROM ids, (SELECT unnest(generate_series(0, 8)) AS w)),
        |o9 AS (
        |  SELECT doc_id, 15 - (MAX(score * 16 + (15 - w)) % 16) AS w9
        |  FROM sc9 GROUP BY doc_id),
        |j AS (
        |  SELECT o8.doc_id, w8, w9, w8 <> w9 AS moved
        |  FROM o8 JOIN o9 ON o8.doc_id = o9.doc_id),
        |workers AS (SELECT unnest(generate_series(0, 8)) AS worker)
        |SELECT CAST(worker AS BIGINT) AS worker,
        |  CAST(COALESCE((SELECT COUNT(*) FROM j WHERE w8 = worker), 0) AS BIGINT) AS n_w8,
        |  CAST(COALESCE((SELECT COUNT(*) FROM j WHERE w9 = worker), 0) AS BIGINT) AS n_w9,
        |  CAST(COALESCE((SELECT COUNT(*) FROM j WHERE w9 = worker AND moved), 0) AS BIGINT) AS n_moved_in
        |FROM workers ORDER BY worker""".stripMargin,
    // p26: the t02 score chain verbatim, swept over a 9-row threshold
    // spine; sums cast to BIGINT (HUGEINT portability rule, §4)
    "p26_quality_curve" ->
      s"""WITH base AS (
         |  SELECT doc_id,
         |    len(text) AS text_len,
         |    len(text) - len(regexp_replace(text, '[.,;:!?]', '', 'g'))
         |      AS punct_count,
         |    len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tokens,
         |    len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
         |      t -> t in ($stopListSql))) AS stop_hits
         |  FROM documents),
         |scored AS (
         |  SELECT doc_id, n_tokens,
         |    0.4*least(1.0, CAST(text_len AS DOUBLE)/500.0)
         |    + 0.3*(1.0 - CAST(punct_count AS DOUBLE)
         |        /NULLIF(CAST(text_len AS DOUBLE), 0))
         |    + 0.3*(CAST(stop_hits AS DOUBLE)
         |        /NULLIF(CAST(n_tokens AS DOUBLE), 0)) AS quality_score
         |  FROM base),
         |ks AS (SELECT unnest(range(1, 10)) AS k)
         |SELECT CAST(k AS DOUBLE) / 10.0 AS threshold,
         |  COUNT(*) AS n_docs,
         |  COUNT(CASE WHEN quality_score >= CAST(k AS DOUBLE) / 10.0 THEN 1 END)
         |    AS n_docs_kept,
         |  ROUND(CAST(COUNT(CASE WHEN quality_score >= CAST(k AS DOUBLE) / 10.0 THEN 1 END)
         |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS doc_retention,
         |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_total,
         |  CAST(SUM(CASE WHEN quality_score >= CAST(k AS DOUBLE) / 10.0 THEN n_tokens
         |    ELSE 0 END) AS BIGINT) AS n_tokens_kept,
         |  ROUND(CAST(SUM(CASE WHEN quality_score >= CAST(k AS DOUBLE) / 10.0 THEN n_tokens
         |      ELSE 0 END) AS DOUBLE) / CAST(SUM(n_tokens) AS DOUBLE), 6)
         |    AS token_retention
         |FROM scored CROSS JOIN ks
         |GROUP BY k ORDER BY threshold""".stripMargin,
    // p25: every cell re-derived from the same md5 arithmetic —
    // per-epoch keys, integral upsampling, first-byte shards
    "p25_epoch_schedule" ->
      """WITH base AS (
        |  SELECT doc_id, source,
        |    CASE WHEN CAST(substr(source, 4, 10) AS INT) % 4 = 0
        |      THEN 2 ELSE 1 END AS n_copies
        |  FROM documents),
        |expanded AS (
        |  SELECT doc_id, unnest(range(1, n_copies + 1)) AS copy
        |  FROM base),
        |keyed AS (
        |  SELECT e.epoch, x.doc_id, x.copy,
        |    md5('epoch:' || e.epoch::VARCHAR || ':'
        |      || x.doc_id::VARCHAR || ':' || x.copy::VARCHAR) AS k
        |  FROM expanded x
        |  CROSS JOIN (SELECT unnest([1, 2, 3]) AS epoch) e),
        |sharded AS (
        |  SELECT epoch, doc_id, k,
        |    (('0x' || substr(k, 1, 2))::BIGINT % 8) AS shard
        |  FROM keyed)
        |SELECT epoch, shard,
        |  COUNT(*) AS n_entries,
        |  COUNT(DISTINCT doc_id) AS n_docs,
        |  MIN(k) AS first_key,
        |  arg_min(doc_id, k) AS first_doc
        |FROM sharded
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
    // p21: the same integer difficulty, the same total order, the
    // same equal-count thirds — phase boundaries restated exactly
    "p21_curriculum" ->
      s"""WITH scored AS (
         |  SELECT doc_id,
         |    CAST(len(${graft.functions.TextGrams.tokensSql("text")}) AS BIGINT)
         |      AS n_tokens,
         |    n_chars FROM documents),
         |d AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(n_chars * 1000 // n_tokens AS BIGINT) AS difficulty
         |  FROM scored),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (ORDER BY difficulty, doc_id) AS rn,
         |    (SELECT COUNT(*) FROM d) AS n
         |  FROM d)
         |SELECT CAST((rn - 1) * 3 // n AS BIGINT) AS phase,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS phase_tokens,
         |  MIN(difficulty) AS min_difficulty,
         |  MAX(difficulty) AS max_difficulty
         |FROM ranked GROUP BY 1 ORDER BY 1""".stripMargin,
    // p19: every card number restated in SQL over the same p02 split
    "p19_dataset_card" ->
      """WITH d AS (
        |  SELECT *,
        |    CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cd'
        |           THEN 'train'
        |         WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
        |           THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents),
        |card AS (
        |  SELECT split,
        |    COUNT(*) AS n_docs,
        |    CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
        |      AS n_tokens,
        |    CAST(SUM(n_chars) AS BIGINT) AS n_chars,
        |    COUNT(DISTINCT source) AS n_sources,
        |    COUNT(DISTINCT lang) AS n_langs,
        |    1.0 - CAST(COUNT(DISTINCT md5(text)) AS DOUBLE)
        |        / CAST(COUNT(*) AS DOUBLE) AS dup_rate
        |  FROM d GROUP BY 1),
        |top AS (
        |  SELECT split, source AS top_source, cnt FROM (
        |    SELECT split, source, COUNT(*) AS cnt,
        |      ROW_NUMBER() OVER (PARTITION BY split
        |        ORDER BY COUNT(*) DESC, source) AS rn
        |    FROM d GROUP BY split, source) WHERE rn = 1)
        |SELECT c.split, c.n_docs, c.n_tokens, c.n_chars, c.n_sources,
        |  c.n_langs, c.dup_rate, t.top_source,
        |  CAST(t.cnt AS DOUBLE) / CAST(c.n_docs AS DOUBLE) AS top_source_share
        |FROM card c JOIN top t USING (split)
        |ORDER BY c.split""".stripMargin,
    // p17: the ticket race restated with DuckDB list lambdas — same
    // md5 draws, same min, same bottom-k
    "p17_weighted_sample" ->
      """WITH w AS (
        |  SELECT doc_id, source,
        |    CAST(substring(source, 4) AS BIGINT) % 4 + 1 AS weight
        |  FROM documents),
        |t AS (
        |  SELECT doc_id, source, weight,
        |    list_min(list_transform(generate_series(1, weight),
        |      i -> md5(doc_id::VARCHAR || ':' || i::VARCHAR))) AS ticket
        |  FROM w)
        |SELECT doc_id, source, weight, ticket
        |FROM t ORDER BY ticket LIMIT 200""".stripMargin,
    // p16: the oracle is the EXACT sweep over every train doc (the
    // bloom is a plan-side prune confirmed exactly — a02's pattern),
    // and it expects the bloom-vs-exact cross-check TRUE on every row
    "p16_bloom_decontaminate" ->
      s"""WITH toks AS (
         |  SELECT doc_id, ${graft.functions.TextGrams.tokensSql("text")} AS ts
         |  FROM documents
         |  WHERE len(${graft.functions.TextGrams.tokensSql("text")}) >= 5),
         |raw AS (
         |  SELECT doc_id, unnest(${graft.functions.TextGrams.gramSql("ts", 5)}) AS g
         |  FROM toks),
         |grams AS (SELECT DISTINCT doc_id, g FROM raw),
         |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 13 = 0),
         |per_doc AS (
         |  SELECT doc_id, COUNT(*) AS n_grams FROM grams
         |  WHERE doc_id % 13 <> 0 GROUP BY 1),
         |hits AS (
         |  SELECT doc_id, COUNT(*) AS n_hit_grams
         |  FROM grams WHERE doc_id % 13 <> 0 AND g IN (SELECT g FROM bench)
         |  GROUP BY 1)
         |SELECT p.doc_id, p.n_grams,
         |  COALESCE(h.n_hit_grams, 0) AS n_hit_grams,
         |  CAST(COALESCE(h.n_hit_grams, 0) AS DOUBLE) / CAST(p.n_grams AS DOUBLE)
         |    AS contamination_ratio,
         |  TRUE AS bloom_sound
         |FROM per_doc p LEFT JOIN hits h ON p.doc_id = h.doc_id
         |ORDER BY p.doc_id""".stripMargin,
    // DuckDB list slice toks[a:b] is 1-based and end-inclusive with
    // out-of-range clamp — exactly Spark's slice(toks, a, 64)
    "p12_chunk_documents" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t),
        |c AS (
        |  SELECT doc_id, toks, n,
        |    CASE WHEN n <= 64 THEN 1 ELSE (n - 64 + 47) // 48 + 1 END AS n_chunks
        |  FROM n),
        |x AS (
        |  SELECT doc_id, toks, n, n_chunks,
        |    UNNEST(generate_series(0, n_chunks - 1)) AS chunk_idx
        |  FROM c)
        |SELECT doc_id, chunk_idx, n_chunks,
        |  CAST(len(toks[chunk_idx * 48 + 1 : chunk_idx * 48 + 64]) AS BIGINT)
        |    AS chunk_n_tokens,
        |  md5(array_to_string(toks[chunk_idx * 48 + 1 : chunk_idx * 48 + 64], ' '))
        |    AS chunk_md5
        |FROM x
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    "p10_domain_mix" ->
      """WITH mixed AS (
        |  SELECT source,
        |    ((CAST(substring(source, 4) AS INT) % 4) + 1) / 4.0 AS w,
        |    (('0x' || substr(md5('mix:' || doc_id), 1, 8))::BIGINT)::DOUBLE
        |      / 4294967296.0 AS u
        |  FROM documents)
        |SELECT source, w,
        |  COUNT(*) AS n_docs,
        |  COUNT(CASE WHEN u < w THEN 1 END) AS n_kept,
        |  CAST(COUNT(CASE WHEN u < w THEN 1 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS eff_rate
        |FROM mixed GROUP BY 1, 2 ORDER BY source""".stripMargin,
    // p14: same u idiom as p10; rate = min(1, 4/√n) recomputed from
    // the same counts — sqrt is correctly-rounded IEEE in both engines
    "p14_temperature_mix" ->
      """WITH c AS (
        |  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
        |r AS (
        |  SELECT source, n_docs,
        |    least(1.0, 4.0 / sqrt(CAST(n_docs AS DOUBLE))) AS accept_rate
        |  FROM c),
        |h AS (
        |  SELECT source,
        |    (('0x' || substr(md5('temp:' || doc_id), 1, 8))::BIGINT)::DOUBLE
        |      / 4294967296.0 AS u
        |  FROM documents)
        |SELECT r.source, r.n_docs, r.accept_rate,
        |  COUNT(CASE WHEN h.u < r.accept_rate THEN 1 END) AS n_sampled,
        |  CAST(COUNT(CASE WHEN h.u < r.accept_rate THEN 1 END) AS DOUBLE)
        |    / CAST(r.n_docs AS DOUBLE) AS eff_rate
        |FROM h JOIN r USING (source)
        |GROUP BY r.source, r.n_docs, r.accept_rate
        |ORDER BY r.source""".stripMargin,
    "p11_global_shuffle" ->
      """SELECT ROW_NUMBER() OVER (ORDER BY md5('shuffle:' || doc_id), doc_id)
        |    AS shuffle_rank,
        |  doc_id, source, md5('shuffle:' || doc_id) AS shuffle_key
        |FROM documents
        |QUALIFY shuffle_rank <= 100
        |ORDER BY shuffle_rank""".stripMargin,
    "p09_repetition_filter" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang,
         |    ${graft.functions.TextGrams.tokensSql("text")} AS ts
         |  FROM documents),
         |g AS (
         |  SELECT doc_id, lang, ts,
         |    ${graft.functions.TextGrams.gramSql("ts", 3)} AS g3
         |  FROM t WHERE len(ts) >= 3),
        |c AS (
        |  SELECT doc_id, lang,
        |    CAST(len(ts) AS BIGINT) AS n_tokens,
        |    CAST(len(list_distinct(ts)) AS BIGINT) AS n_distinct_tokens,
        |    CAST(len(g3) AS BIGINT) AS n_grams3,
        |    CAST(len(list_distinct(g3)) AS BIGINT) AS n_distinct_grams3
        |  FROM g)
        |SELECT *,
        |  1.0 - CAST(n_distinct_tokens AS DOUBLE)/CAST(n_tokens AS DOUBLE) AS dup_token_ratio,
        |  1.0 - CAST(n_distinct_grams3 AS DOUBLE)/CAST(n_grams3 AS DOUBLE) AS dup_gram3_ratio,
        |  (1.0 - CAST(n_distinct_tokens AS DOUBLE)/CAST(n_tokens AS DOUBLE)) <= 0.5
        |    AND (1.0 - CAST(n_distinct_grams3 AS DOUBLE)/CAST(n_grams3 AS DOUBLE)) <= 0.1 AS kept
        |FROM c ORDER BY doc_id""".stripMargin,
    "p08_corpus_filter" ->
      s"""WITH base AS (
         |  SELECT doc_id, lang, text,
         |    len(text) AS text_len,
         |    len(text) - len(regexp_replace(text, '[.,;:!?]', '', 'g')) AS punct_count,
         |    len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tokens,
         |    len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
         |      t -> t in ($stopListSql))) AS stop_hits
         |  FROM documents),
         |scored AS (
         |  SELECT doc_id, lang, n_tokens,
         |    0.4 * least(1.0, CAST(text_len AS DOUBLE)/500.0)
         |      + 0.3 * (1.0 - CAST(punct_count AS DOUBLE)/NULLIF(CAST(text_len AS DOUBLE), 0))
         |      + 0.3 * (CAST(stop_hits AS DOUBLE)/NULLIF(CAST(n_tokens AS DOUBLE), 0)) AS quality_score,
         |    MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
         |  FROM base)
         |SELECT doc_id, lang, n_tokens, quality_score,
         |  doc_id = keep_id AS is_canonical,
         |  quality_score >= 0.5 AS passes_quality,
         |  (doc_id = keep_id AND quality_score >= 0.5 AND n_tokens >= 5) AS kept
         |FROM scored
         |ORDER BY doc_id""".stripMargin,
    "p07_oov_rate" ->
      """WITH toks AS (
        |  SELECT lang, unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        |  FROM documents),
        |vocab AS (
        |  SELECT token FROM (
        |    SELECT token, COUNT(*) AS n FROM toks GROUP BY 1
        |    ORDER BY n DESC, token LIMIT 500)),
        |oov AS (
        |  SELECT lang, COUNT(*) AS oov_tokens FROM toks
        |  WHERE token NOT IN (SELECT token FROM vocab) GROUP BY 1),
        |tot AS (
        |  SELECT lang, COUNT(*) AS total_tokens FROM toks GROUP BY 1)
        |SELECT t.lang, t.total_tokens,
        |  COALESCE(o.oov_tokens, 0) AS oov_tokens,
        |  CAST(COALESCE(o.oov_tokens, 0) AS DOUBLE)/CAST(t.total_tokens AS DOUBLE) AS oov_rate
        |FROM tot t LEFT JOIN oov o ON t.lang = o.lang
        |ORDER BY t.lang""".stripMargin,
    "p06_contamination_check" ->
      s"""WITH toks AS (
         |  SELECT doc_id, ${graft.functions.TextGrams.tokensSql("text")} AS ts
         |  FROM documents
         |  WHERE len(${graft.functions.TextGrams.tokensSql("text")}) >= 5),
         |raw AS (
         |  SELECT doc_id, unnest(${graft.functions.TextGrams.gramSql("ts", 5)}) AS g
         |  FROM toks),
        |grams AS (SELECT DISTINCT doc_id, g FROM raw),
        |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 13 = 0),
        |per_doc AS (
        |  SELECT doc_id, COUNT(*) AS n_grams FROM grams
        |  WHERE doc_id % 13 <> 0 GROUP BY 1),
        |hits AS (
        |  SELECT doc_id, COUNT(*) AS n_hit_grams
        |  FROM grams WHERE doc_id % 13 <> 0 AND g IN (SELECT g FROM bench)
        |  GROUP BY 1)
        |SELECT doc_id, n_hit_grams, n_grams,
        |  CAST(n_hit_grams AS DOUBLE)/CAST(n_grams AS DOUBLE) AS contamination_ratio
        |FROM hits JOIN per_doc USING (doc_id)
        |ORDER BY n_hit_grams DESC, doc_id""".stripMargin,
    "p01_pack_sequences" ->
      """WITH toks AS (
        |  SELECT doc_id, CAST(doc_id % 8 AS INT) AS bucket,
        |    CAST(array_length(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |packed AS (
        |  SELECT *, SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
        |  FROM toks)
        |SELECT bucket, CAST((cum_tokens - 1) // 2048 AS BIGINT) AS pack_id,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
        |  MIN(doc_id) AS first_doc,
        |  MAX(doc_id) AS last_doc,
        |  CAST(SUM(n_tokens) AS DOUBLE) / 2048.0 AS utilization
        |FROM packed
        |GROUP BY 1, 2
        |ORDER BY bucket, pack_id""".stripMargin,
    // p15: d06's recursive-CC labels + both split schemes; cluster-
    // keyed straddles must be zero, id-keyed shows the real leakage
    "p15_leakproof_split" ->
      s"""WITH RECURSIVE raw AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(1, len(text)-1), i -> substring(text, i, 3))) AS g
         |  FROM documents WHERE len(text) >= 3),
         |sh AS (SELECT DISTINCT doc_id, g FROM raw),
         |sig AS (
         |  SELECT doc_id,
         |    ${Dedup.oracleSigSelect}
         |  FROM sh GROUP BY doc_id),
         |banded AS (
         |  ${Dedup.oracleBandSelects}),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |  FROM banded a JOIN banded b
         |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         |    AND a.doc_id < b.doc_id),
         |verified AS (
         |  SELECT da, db FROM cand
         |  JOIN sig sa ON cand.da = sa.doc_id
         |  JOIN sig sb ON cand.db = sb.doc_id
         |  WHERE (${Dedup.oracleSigAgree}) >= ${Dedup.oracleAgreeMin}),
         |edges AS (SELECT da AS src, db AS dst FROM verified
         |          UNION ALL SELECT db, da FROM verified),
         |nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
         |r(doc_id, label) AS (
         |  SELECT doc_id, doc_id FROM nodes
         |  UNION
         |  SELECT e.dst, r.label FROM r JOIN edges e ON r.doc_id = e.src),
         |cc AS (SELECT doc_id, MIN(label) AS label FROM r GROUP BY doc_id),
         |labels AS (
         |  SELECT doc_id, label FROM cc
         |  UNION ALL
         |  SELECT d.doc_id, d.doc_id AS label FROM documents d
         |  WHERE d.doc_id NOT IN (SELECT doc_id FROM nodes)),
         |a AS (
         |  SELECT doc_id, label,
         |    CASE WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
         |         WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
         |         ELSE 'test' END AS sid,
         |    CASE WHEN substring(md5('split:' || CAST(label AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
         |         WHEN substring(md5('split:' || CAST(label AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
         |         ELSE 'test' END AS scl
         |  FROM labels),
         |strid AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM (
         |    SELECT label FROM a GROUP BY label
         |    HAVING COUNT(*) > 1 AND COUNT(DISTINCT sid) > 1)),
         |strcl AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM (
         |    SELECT label FROM a GROUP BY label
         |    HAVING COUNT(*) > 1 AND COUNT(DISTINCT scl) > 1))
         |SELECT scl AS split,
         |  COUNT(*) AS n_docs,
         |  COUNT(DISTINCT label) AS n_clusters,
         |  (SELECT n FROM strid) AS n_straddling_by_id,
         |  (SELECT n FROM strcl) AS n_straddling_by_cluster
         |FROM a GROUP BY 1 ORDER BY 1""".stripMargin,
    "p02_train_test_split" ->
      """WITH tagged AS (
        |  SELECT *,
        |    CASE WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
        |         WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
        |         ELSE 'test' END AS split,
        |    CAST(array_length(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT split, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(SUM(n_chars) AS BIGINT) AS n_chars_total,
        |  COUNT(DISTINCT lang) AS n_langs
        |FROM tagged GROUP BY 1 ORDER BY split""".stripMargin,
    "p03_stratified_sample" ->
      """WITH ranked AS (
        |  SELECT lang, doc_id, source, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY md5('sample:' || CAST(doc_id AS VARCHAR)), doc_id) AS pick
        |  FROM documents)
        |SELECT lang, pick, doc_id, source, n_chars
        |FROM ranked WHERE pick <= 5
        |ORDER BY lang, pick""".stripMargin,
    "p04_length_buckets" ->
      """WITH toks AS (
        |  SELECT doc_id, n_chars,
        |    CAST(array_length(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT CASE WHEN n_tokens < 8 THEN '0007' WHEN n_tokens < 16 THEN '0015'
        |            WHEN n_tokens < 32 THEN '0031' WHEN n_tokens < 64 THEN '0063'
        |            WHEN n_tokens < 128 THEN '0127' WHEN n_tokens < 256 THEN '0255'
        |            ELSE '0256+' END AS len_bucket,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |  CAST(SUM(CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE)/COUNT(n_chars) AS avg_chars,
        |  MIN(n_tokens) AS min_tokens,
        |  MAX(n_tokens) AS max_tokens
        |FROM toks GROUP BY 1 ORDER BY len_bucket""".stripMargin,
    "p05_corpus_stats" ->
      """WITH toks AS (
        |  SELECT lang, source, n_chars,
        |    CAST(array_length(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT lang, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT source) AS n_sources,
        |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  CAST(SUM(CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE)/COUNT(n_chars) AS avg_chars,
        |  quantile_cont(n_chars, 0.5) AS median_chars
        |FROM toks GROUP BY 1 ORDER BY lang""".stripMargin
  )
}
