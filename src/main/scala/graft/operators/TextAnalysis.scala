package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.GraftFunctions

/** Text-analysis operators over the `documents` table: token counting,
  * quality scoring, language ID, document fingerprinting — the
  * row-local text featurization stages of an LLM-data pipeline. All
  * pure column expressions (codegen'd, no UDFs), so they scale as
  * embarrassingly-parallel map work at 100 TB.
  */
object TextAnalysis {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")

  /** Tokens from whitespace splitting (lowercased). */
  private def tokens(c: Column): Column = split(lower(trim(c)), "\\s+")

  /** t01: token/char statistics per document. */
  def t01TokenStats(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(
        col("doc_id"), col("lang"), col("source"), col("n_chars"),
        length(col("text")).cast("long").as("text_len"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"),
        size(regexp_extract_all(col("text"), lit("[A-Za-z]+"), lit(0))).cast("long").as("n_alpha_tokens"),
        size(regexp_extract_all(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))
          .cast("long").as("n_bpe_tokens"),
        length(regexp_replace(col("text"), "\\s+", "")).cast("long").as("n_nonspace_chars"))
      .withColumn("avg_token_len",
        col("n_nonspace_chars").cast("double") /
          when(col("n_tokens") === 0, null).otherwise(col("n_tokens").cast("double")))
      .orderBy(col("doc_id"))

  val stopwords: Seq[String] = Seq("the", "a", "and", "of", "to", "in", "is")

  /** t02: composite quality score — length, punctuation, stopword
    * density (the heuristics used to filter LLM training text).
    */
  def t02QualityScore(spark: SparkSession, dir: String): DataFrame = {
    val stopList = stopwords.map(s => s"'$s'").mkString(", ")
    docs(spark, dir)
      .withColumn("text_len", length(col("text")).cast("long"))
      .withColumn("punct_count",
        (col("text_len") - length(regexp_replace(col("text"), "[.,;:!?]", ""))).cast("long"))
      .withColumn("n_tokens", size(split(lower(trim(col("text"))), "\\s+")).cast("long"))
      .withColumn("stop_hits",
        expr(s"size(filter(split(lower(trim(text)), '\\\\s+'), t -> t in ($stopList)))").cast("long"))
      .withColumn("punct_ratio",
        col("punct_count").cast("double") /
          when(col("text_len") === 0, null).otherwise(col("text_len").cast("double")))
      .withColumn("stop_ratio",
        col("stop_hits").cast("double") /
          when(col("n_tokens") === 0, null).otherwise(col("n_tokens").cast("double")))
      .withColumn("length_score", least(lit(1.0), col("text_len").cast("double") / lit(500.0)))
      .withColumn("quality_score",
        lit(0.4) * col("length_score") + lit(0.3) * (lit(1.0) - col("punct_ratio")) +
          lit(0.3) * col("stop_ratio"))
      .select(col("doc_id"), col("lang"), col("text_len"), col("punct_count"),
        col("n_tokens"), col("stop_hits"), col("punct_ratio"), col("stop_ratio"),
        col("length_score"), col("quality_score"))
      .orderBy(col("doc_id"))
  }

  /** Language marker profiles (tiny stopword lists per language). */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "les", "et", "des", "une"),
    "es" -> Seq("el", "los", "y", "que", "una"),
    "zh" -> Seq("的", "是", "在", "了", "和"))

  /** t03: stopword-profile language ID + accuracy flag vs the label.
    * (n-gram-profile langid reduced to marker-token scoring — exactly
    * expressible in both engines.)
    */
  def t03Langid(spark: SparkSession, dir: String): DataFrame = {
    val base = docs(spark, dir).withColumn("toks", tokens(col("text")))
    val scored = langMarkers.foldLeft(base) { case (df, (code, markers)) =>
      val list = markers.map(m => s"'$m'").mkString(", ")
      df.withColumn(s"score_$code",
        expr(s"size(filter(toks, t -> t in ($list)))").cast("long"))
    }
    val scores = langMarkers.map { case (code, _) => col(s"score_$code") }
    val best = greatest(scores: _*)
    val predicted = langMarkers.foldRight(lit("und")) { case ((code, _), acc) =>
      when(col(s"score_$code") === best && best > 0, lit(code)).otherwise(acc)
    }
    // NOTE: foldRight means earlier entries in langMarkers win ties —
    // mirror the same CASE order in the oracle.
    scored
      .withColumn("predicted_lang", predicted)
      .withColumn("is_correct", col("predicted_lang") === col("lang"))
      .select((Seq(col("doc_id"), col("lang")) ++
        langMarkers.map { case (c, _) => col(s"score_$c") } ++
        Seq(col("predicted_lang"), col("is_correct"))): _*)
      .orderBy(col("doc_id"))
  }

  /** t04: document fingerprints via the native RollingHashExpr —
    * whole-doc hash + min/max over per-token hashes (winnowing-style
    * summary). Exactly oracle-checked: the DuckDB twin re-derives the
    * polynomial rolling hash over `ord()` of each character (byte ==
    * char on the ASCII corpus) in HUGEINT space with the same modulus.
    */
  def t04Fingerprint(spark: SparkSession, dir: String): DataFrame = {
    docs(spark, dir)
      .withColumn("doc_fp", GraftFunctions.rollingHash(col("text")))
      .withColumn("token_fps", transform(split(trim(col("text")), "\\s+"), GraftFunctions.rollingHash(_)))
      .select(
        col("doc_id"),
        col("doc_fp"),
        array_min(col("token_fps")).as("min_token_fp"),
        array_max(col("token_fps")).as("max_token_fp"),
        size(array_distinct(col("token_fps"))).cast("long").as("n_distinct_token_fps"))
      .orderBy(col("doc_id"))
  }

  /** t05: corpus vocabulary — top-10 tokens per language by frequency
    * (explode → two-level aggregate → ranked window; the partial
    * aggregation absorbs the token explosion before the shuffle).
    */
  def t05TopTokens(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs(spark, dir)
      .select(col("lang"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("lang"), col("token"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("lang")).orderBy(col("n").desc, col("token"))
    toks.withColumn("token_rank", row_number().over(w))
      .filter(col("token_rank") <= 10)
      .orderBy(col("lang"), col("token_rank"))
  }

  /** t06: PII-style redaction — mask email-shaped spans then digit
    * runs (order matters: emails contain digits), with per-doc match
    * counts. Pure regexp column ops (codegen'd map work at 100 TB);
    * patterns stick to char-classes so Java regex and RE2 agree.
    */
  def t06Redact(spark: SparkSession, dir: String): DataFrame = {
    val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
    docs(spark, dir)
      .select(
        col("doc_id"), col("lang"),
        size(regexp_extract_all(col("text"), lit(emailPat), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0)))
          .cast("long").as("n_digit_runs"),
        regexp_replace(regexp_replace(col("text"), emailPat, "<EMAIL>"),
          "[0-9]+", "<NUM>").as("redacted"))
      .withColumn("redacted_md5", md5(col("redacted").cast("binary")))
      .withColumn("redacted_len", length(col("redacted")).cast("long"))
      .drop("redacted")
      .orderBy(col("doc_id"))
  }

  /** t07: bigram language-model statistics — top-5 bigrams per
    * language with conditional probability p(w2|w1). The unigram
    * denominator is a window sum over the bigram counts (no second
    * token explosion); probability is one IEEE division.
    */
  def t07BigramStats(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bigram = expr(
      "transform(sequence(1, size(ts)-1), i -> " +
        "struct(element_at(ts, i) AS w1, element_at(ts, CAST(i+1 AS INT)) AS w2))")
    val counts = docs(spark, dir)
      .select(col("lang"), tokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col("lang"), explode(bigram).as("b"))
      .groupBy(col("lang"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .agg(count(lit(1)).as("n_bigram"))
    val wUni = Window.partitionBy(col("lang"), col("w1"))
    val wRank = Window.partitionBy(col("lang"))
      .orderBy(col("n_bigram").desc, col("w1"), col("w2"))
    counts
      .withColumn("n_w1", sum(col("n_bigram")).over(wUni))
      .withColumn("p_w2_given_w1",
        col("n_bigram").cast("double") / col("n_w1").cast("double"))
      .withColumn("bigram_rank", row_number().over(wRank).cast("long"))
      .filter(col("bigram_rank") <= 5)
      .orderBy(col("lang"), col("bigram_rank"))
  }

  /** t08: string-function surface — the everyday cleansing functions a
    * dbt-style staging model uses, exercised together for cross-engine
    * parity (pad, translate, reverse, edit distance, position,
    * split_part).
    */
  def t08StringSuite(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(
        col("doc_id"),
        upper(col("lang")).as("lang_up"),
        lpad(col("lang"), 5, "_").as("lang_lpad"),
        rpad(col("lang"), 5, ".").as("lang_rpad"),
        translate(col("lang"), "aeiou", "12345").as("lang_translated"),
        reverse(col("lang")).as("lang_rev"),
        levenshtein(col("lang"), lit("en")).cast("long").as("lev_to_en"),
        instr(col("text"), "data").cast("long").as("pos_data"),
        element_at(split(col("source"), "c"), 2).as("src_part"),
        concat_ws("-", col("lang"), col("source")).as("lang_source"),
        substring(col("text"), 1, 12).as("head12"),
        repeat(col("lang"), 2).as("lang_twice"))
      .orderBy(col("doc_id"))

  /** t10: higher-order-function suite — Spark SQL's lambda surface
    * (`transform`/`filter`/`aggregate`/`exists`/`forall` + array
    * combinators), the codegen-friendly way to compute per-row over
    * nested arrays WITHOUT exploding (no row-count blowup, no
    * re-aggregation shuffle — at 100 TB an explode+groupBy for a
    * per-doc token statistic is a self-inflicted shuffle of every
    * token). DuckDB's list lambdas (`list_filter`/`list_transform`/
    * `list_sum`) mirror each expression exactly in the oracle.
    */
  def t10HofSuite(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("ts"))
      .select(
        col("doc_id"),
        size(col("ts")).cast("long").as("n_toks"),
        expr("size(filter(ts, t -> length(t) > 4))").cast("long").as("n_long"),
        expr("aggregate(ts, 0L, (acc, t) -> acc + length(t))").as("total_chars"),
        expr("exists(ts, t -> t rlike '^[0-9]+$')").as("has_number"),
        expr("forall(ts, t -> length(t) < 20)").as("all_short"),
        expr("array_join(slice(array_sort(array_distinct(ts)), 1, 3), '|')")
          .as("first3_sorted"),
        expr("array_join(transform(slice(ts, 1, 3), " +
          "t -> concat(t, ':', CAST(length(t) AS STRING))), ',')")
          .as("head_tagged"))
      .orderBy(col("doc_id"))

  /** t09: LM-perplexity quality score (CCNet-style filtering) — score
    * each document by average negative log-likelihood under the
    * corpus's own per-language bigram model (unseen bigrams smoothed
    * to 1e-6). Cross-engine exactness: each ln(p) is rounded to 9
    * decimals and decimal-summed, so the per-doc total is
    * order-independent; the final division is one IEEE op.
    */
  def t09LmScore(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val bigram = expr(
      "transform(sequence(1, size(ts)-1), i -> " +
        "struct(element_at(ts, i) AS w1, element_at(ts, CAST(i+1 AS INT)) AS w2))")
    val docBigrams = docs(spark, dir)
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col("doc_id"), col("lang"), explode(bigram).as("b"))
      .select(col("doc_id"), col("lang"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val counts = docBigrams.groupBy(col("lang"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("n_bigram"))
    val probs = counts
      .withColumn("n_w1", sum(col("n_bigram"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("lang"), col("w1"))))
      .withColumn("p", col("n_bigram").cast("double") / col("n_w1").cast("double"))
      .select(col("lang"), col("w1"), col("w2"), col("p"))
    docBigrams.join(probs, Seq("lang", "w1", "w2"), "left")
      .withColumn("lnp", round(log(coalesce(col("p"), lit(1e-6))), 9))
      .groupBy(col("doc_id"), col("lang"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        (-sum(col("lnp").cast(DecimalType(18, 9))).cast("double") /
          count(lit(1))).as("avg_nll"))
      .orderBy(col("doc_id"))
  }

  /** t11: BPE tokenizer training — the first three merge steps of
    * byte-pair encoding (Sennrich et al. 2016, the subword algorithm
    * behind every modern LLM tokenizer), run ON-CLUSTER the way a
    * 100 TB corpus demands: train on the DISTINCT-WORD frequency
    * table (pair statistics are Σ n over word types — never a pass
    * over raw tokens), each round = one aggregate for the global
    * pair counts + one map-side `replace` to apply the winning merge.
    * Words are held as sentinel-delimited symbol strings
    * (`<h> <e> <l> <l> <o>`), so a plain string replace IS the
    * token-boundary-safe, leftmost-greedy, non-overlapping merge —
    * both engines' `replace` share those semantics, which makes the
    * whole training loop exactly oracle-checkable (no regex
    * lookbehind, which RE2 lacks). Output: the learned merge table
    * (pair, new token, weighted pair count, affected word types) —
    * the artifact a tokenizer ships.
    */
  def t11BpeMerges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    bpeTrain(spark, dir, rounds = 3)._1
      .toDF("merge_idx", "pair", "new_token", "pair_count", "n_word_types")
      .orderBy(col("merge_idx"))
  }

  /** The shared BPE trainer behind t11 (merge table) and t12/t18
    * (encode): `rounds` merge steps over the distinct-word frequency
    * table; returns the merge records AND the final word table
    * `(w, n, sym)` with every merge applied — the word→subword
    * dictionary a trained tokenizer IS. Training runs its rounds now
    * and releases its own round caches before it returns; the returned
    * dictionary is a lazy plan, the word table with the trained merges
    * folded over the initial symbols as `replace` calls.
    */
  private def bpeTrain(spark: SparkSession, dir: String, rounds: Int)
      : (Seq[(Int, String, String, Long, Long)], DataFrame) = {
    val words = docs(spark, dir)
      .select(explode(tokens(col("text"))).as("raw"))
      .select(regexp_replace(col("raw"), "[^a-z]", "").as("w"))
      .filter(length(col("w")).between(2, 20))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
    val sym0 = concat(lit("<"),
      array_join(expr("transform(sequence(1, length(w)), i -> substr(w, i, 1))"),
        "> <"),
      lit(">"))
    // the word-type table is read 3× per round (pair counts, affected
    // count, merge apply) — persist once, tiny (distinct words)
    var cur = words.select(col("w"), col("n"), sym0.as("sym")).persist()
    val merges = Seq.newBuilder[(Int, String, String, Long, Long)]
    locally {
      for (k <- 1 to rounds) {
        val toks = cur.select(col("w"), col("n"), split(col("sym"), " ").as("toks"))
        // affected-word-types rides the SAME aggregate as the pair
        // counts (count(distinct w) over the pair explosion — a word
        // type contains the pair iff it emitted ≥1 such row), saving
        // the separate instr-filter count job each round
        val top = toks.filter(size(col("toks")) >= 2)
          .select(col("w"), col("n"), explode(expr(
            """transform(sequence(1, size(toks) - 1),
              |  i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"""
              .stripMargin)).as("pair"))
          .groupBy(col("pair")).agg(sum(col("n")).as("cnt"),
            countDistinct(col("w")).as("nw"))
          .orderBy(col("cnt").desc, col("pair")).limit(1)
          .head() // the single winning merge — the BPE train step's output
        val (pair, cnt) = (top.getString(0), top.getLong(1))
        val merged = pair.replace("> <", "")
        val nWords = top.getLong(2)
        merges += ((k, pair, merged, cnt, nWords))
        if (k < rounds) { // the last round's table is the lazy dictionary below
          val next = cur.select(col("w"), col("n"),
            replace(col("sym"), lit(pair), lit(merged)).as("sym")).persist()
          next.count() // materialize before dropping the parent cache
          cur.unpersist(blocking = false)
          cur = next
        }
      }
    }
    cur.unpersist(blocking = false)
    val trained = merges.result()
    val sym = trained.foldLeft(sym0) { case (s, (_, pair, merged, _, _)) =>
      replace(s, lit(pair), lit(merged))
    }
    (trained, words.select(col("w"), col("n"), sym.as("sym")))
  }

  /** t12: BPE ENCODING — the other half of the tokenizer loop: apply
    * t11's trained merges to every document and report its subword
    * token count. The word table after training IS the word→subword
    * dictionary, so encoding the corpus is ONE dictionary join (word
    * types, not tokens — the dictionary side is tiny relative to the
    * corpus and broadcast-able at any scale) plus a per-doc rollup; no
    * per-token merge work ever touches the 100 TB side. Output per
    * doc: eligible-word count, their chars, and the BPE token count —
    * chars − tokens = exactly the merge compression the 3 trained
    * merges bought. Oracle retrains the same 3 rounds in SQL (t11's
    * CTEs) and encodes via the same join.
    */
  def t12BpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val (_, dict) = bpeTrain(spark, dir, rounds = 3)
    val docWords = docs(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("raw"))
      .select(col("doc_id"), regexp_replace(col("raw"), "[^a-z]", "").as("w"))
      .filter(length(col("w")).between(2, 20))
    docWords
      .join(dict.select(col("w"),
        size(split(col("sym"), " ")).cast("long").as("ntok")), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_words"),
        sum(length(col("w")).cast("long")).as("n_chars"),
        sum(col("ntok")).as("n_bpe_tokens"))
      .orderBy(col("doc_id"))
  }

  /** t13: Unicode/whitespace canonicalization — the cleanup pass that
    * must precede any hash-keyed dedup: the same visible string can
    * arrive composed or decomposed (NFC vs NFD) and would fingerprint
    * differently without normalization. NFC runs through the native
    * codegen'd [[graft.functions.NfcNormalizeExpr]]; control-char
    * strip and whitespace collapse are plain column regexes. Entirely
    * row-local map work — embarrassingly parallel at 100 TB.
    */
  def t13Normalize(spark: SparkSession, dir: String): DataFrame = {
    docs(spark, dir)
      .select(col("doc_id"), col("text"))
      .withColumn("nfc_text", GraftFunctions.nfcNormalize(col("text")))
      .withColumn("clean_text",
        trim(regexp_replace(
          regexp_replace(col("nfc_text"), "[\\x00-\\x1F\\x7F]", ""),
          "[ \\t\\n\\r]+", " ")))
      // the corpus is clean ASCII, where NFC is an identity — so also
      // normalize a decomposed suffix ("e" + U+0301 must COMPOSE to é)
      // to pin the actual composition behavior against the oracle's
      // independent normalizer
      .withColumn("nfc_dirty",
        GraftFunctions.nfcNormalize(concat(col("text"), lit("e"), lit("\u0301"))))
      .select(col("doc_id"),
        length(col("text")).cast("long").as("len_raw"),
        length(col("clean_text")).cast("long").as("len_clean"),
        (col("clean_text") =!= col("text")).as("changed"),
        md5(col("clean_text").cast("binary")).as("clean_md5"),
        length(col("nfc_dirty")).cast("long").as("len_dirty_nfc"),
        md5(col("nfc_dirty").cast("binary")).as("dirty_md5"))
      .orderBy(col("doc_id"))
  }

  /** t14: VOCABULARY / lexical-diversity statistics per language —
    * the corpus-health panel (type-token ratio, hapax share, top-10
    * mass concentration) that flags template spam (low TTR, heavy
    * head), OCR noise (hapax explosion), and boilerplate floods
    * before a token is spent training. Every number derives from
    * exact integer token counts — ratios are single divisions of
    * exact BIGINTs, so there is no float-accumulation hazard at any
    * scale or partitioning. One token-count aggregate feeds the
    * whole panel; the per-lang top-10 mass rides a bounded window
    * over the per-lang count table (vocab-sized, not corpus-sized).
    */
  def t14VocabStats(spark: SparkSession, dir: String): DataFrame = {
    // shared: the token counts feed the panel and the top-10 window
    val counts = Tables.shared(docs(spark, dir)
      .select(col("lang"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("lang"), col("token"))
      .agg(count(lit(1)).as("n")))
    val panel = counts.groupBy(col("lang")).agg(
      sum(col("n")).as("n_tokens"),
      count(lit(1)).as("n_types"),
      sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_hapax"),
      sum(when(col("n") === 2, 1L).otherwise(0L)).as("n_dis"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("n").desc, col("token"))
    val top10 = counts.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .groupBy(col("lang")).agg(sum(col("n")).as("top10_mass"))
    panel.join(top10, Seq("lang"))
      .select(col("lang"), col("n_tokens"), col("n_types"),
        col("n_hapax"), col("n_dis"),
        (col("n_types").cast("double") / col("n_tokens").cast("double"))
          .as("ttr"),
        (col("n_hapax").cast("double") / col("n_types").cast("double"))
          .as("hapax_share"),
        (col("top10_mass").cast("double") / col("n_tokens").cast("double"))
          .as("top10_coverage"))
      .orderBy(col("lang"))
  }

  /** t15: PMI COLLOCATIONS — pointwise mutual information over the
    * corpus bigram stream (Church & Hanks 1990), the association
    * measure behind multiword-expression mining: PMI(w1,w2) =
    * ln(p(w1,w2) / (p(w1)·p(w2))), with a min-count floor (n12 ≥ 5)
    * to kill singleton noise. Differs from t07 (per-language
    * conditional p(w2|w1)): this is corpus-global SYMMETRIC
    * association against unigram marginals. Cross-engine
    * determinism: the RANKING never touches libm — it orders by the
    * raw ratio r = (n12·T·T)/(B·n1·n2), computed as exact integer
    * products cast to double and ONE IEEE division (bit-identical on
    * both engines; T = unigram total ~1e6 at sf0.1, so n12·T² stays
    * well inside int64); `ln` appears only in the displayed
    * 6-dp-rounded value (the s04 libm lesson). At 100 TB: two
    * hash-aggregates (map-side combined) + a skinny count-table
    * join; the ≥5 floor keeps the scored table a fraction of the
    * bigram vocabulary.
    */
  def t15Collocations(spark: SparkSession, dir: String): DataFrame = {
    val ts = docs(spark, dir).select(tokens(col("text")).as("ts"))
    val bigram = expr(
      "transform(sequence(1, size(ts)-1), i -> " +
        "struct(element_at(ts, i) AS w1, element_at(ts, CAST(i+1 AS INT)) AS w2))")
    val uni = ts.select(explode(col("ts")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
    val big = ts.filter(size(col("ts")) >= 2)
      .select(explode(bigram).as("b"))
      .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .agg(count(lit(1)).as("n12"))
    val tTot = uni.agg(sum(col("n")).as("t_tot"))
    val bTot = big.agg(sum(col("n12")).as("b_tot"))
    val scored = big.filter(col("n12") >= 5)
      .join(uni.select(col("token").as("w1"), col("n").as("n1")), "w1")
      .join(uni.select(col("token").as("w2"), col("n").as("n2")), "w2")
      .crossJoin(broadcast(tTot)).crossJoin(broadcast(bTot))
      .withColumn("r",
        (col("n12") * col("t_tot") * col("t_tot")).cast("double") /
          (col("b_tot") * col("n1") * col("n2")).cast("double"))
    import org.apache.spark.sql.expressions.Window
    // TakeOrdered-limit to the answer size FIRST (distributed
    // TakeOrderedAndProject), THEN rank the 15 survivors — the
    // unpartitioned row_number window only ever sees 15 rows, never
    // the corpus-scale scored bigram table (d02/d17's pattern).
    // (r, w1, w2) is a total order ((w1,w2) is the groupBy key), so
    // top-15-by-order == rank<=15 exactly.
    scored
      .orderBy(col("r").desc, col("w1"), col("w2"))
      .limit(15)
      .withColumn("pmi_rank",
        row_number().over(Window.orderBy(col("r").desc, col("w1"), col("w2")))
          .cast("long"))
      .select(col("pmi_rank"), col("w1"), col("w2"), col("n12"),
        col("n1"), col("n2"), round(log(col("r")), 6).as("pmi_r"))
      .orderBy(col("pmi_rank"))
  }

  /** t16: VOCAB-SIZE COVERAGE CURVE — the calibration table behind
    * choosing a tokenizer's vocabulary size (p26's retention-curve
    * idea applied to the vocabulary axis; the first question of any
    * BPE/WordPiece budget: "what token coverage does each vocab size
    * buy"): words ranked by corpus frequency (count desc, word —
    * deterministic), then for each candidate size K ∈ {256 … 8192}
    * the fraction of all token OCCURRENCES covered by the top-K
    * words and the residual OOV rate. One corpus scan → a
    * DISTINCT-WORD table → TakeOrdered-limit to the max spine size
    * (8192) so the global frequency-rank window is bounded, never
    * vocabulary-scale; corpus totals ride a separate one-row
    * broadcast aggregate → a broadcast size spine →
    * map-side-combining aggregate. OOV computed as
    * (total−covered)/total, not 1−rounded-coverage, so both cells
    * stay exact independently.
    */
  def t16VocabCurve(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs(spark, dir)
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
    // Corpus-wide totals come from a separate map-side-combining
    // aggregate (one row, broadcast), so the rank window NEVER has
    // to see the full vocabulary — a web-scale vocab (typos, URLs)
    // is billions of rows and the curve only needs ranks <= 8192.
    val totals = counts.agg(
      count(lit(1)).as("n_distinct_words"),
      sum(col("n")).as("tokens_total"))
    val maxK = 8192
    // TakeOrdered-limit the vocab to the largest spine size FIRST
    // (distributed TakeOrderedAndProject), THEN rank: the
    // unpartitioned row_number window is bounded at 8192 rows.
    val ranked = counts
      .orderBy(col("n").desc, col("token"))
      .limit(maxK)
      .withColumn("rnk",
        row_number().over(Window.orderBy(col("n").desc, col("token"))))
    val spine = spark.createDataFrame(
      Seq(256, 512, 1024, 2048, 4096, 8192).map(Tuple1(_)))
      .toDF("vocab_size")
    ranked.crossJoin(broadcast(spine))
      .groupBy(col("vocab_size"))
      .agg(
        count(when(col("rnk") <= col("vocab_size"), 1)).as("vocab_used"),
        sum(when(col("rnk") <= col("vocab_size"), col("n"))
          .otherwise(0L)).as("tokens_covered"))
      .crossJoin(broadcast(totals))
      .select(col("vocab_size"), col("n_distinct_words"), col("vocab_used"),
        col("tokens_total"), col("tokens_covered"),
        round(col("tokens_covered").cast("double") /
          col("tokens_total").cast("double"), 6).as("coverage"),
        round((col("tokens_total") - col("tokens_covered")).cast("double") /
          col("tokens_total").cast("double"), 6).as("oov_rate"))
      .orderBy(col("vocab_size"))
  }

  /** t17: HOMOGLYPH (confusable) folding — the adversarial-dedup
    * preprocessing step: spam/SEO text evades exact dedup by swapping
    * Latin letters for visually-identical Cyrillic codepoints
    * (а е о р с = U+0430/0435/043E/0440/0441), so a dedup pass that
    * hashes raw bytes counts each variant as a fresh document. The
    * fixture stages the attack deterministically: every doc with
    * doc_id % 7 == 0 is RE-POSTED as a homoglyph copy under a fresh
    * id — byte-distinct, visually identical, invisible to exact
    * dedup. The operator folds confusables back (the skeleton of
    * Unicode TR#39 skeleton-matching, as a pure codegen'd
    * `translate`) and compares dedup granularity on raw vs folded
    * hashes per source: `n_reunified` = the spam copies folding
    * re-merges with their originals. Row-local map work at 100 TB;
    * every cell restated in DuckDB (same translate semantics, same
    * md5 bytes).
    */
  def t17ConfusableFold(spark: SparkSession, dir: String): DataFrame = {
    val latin = "aeopc"
    val cyr = "аеорс"
    val d = docs(spark, dir).select(col("doc_id"), col("source"), col("text"))
    // the spam scenario: every doc_id % 7 == 0 doc is RE-POSTED as a
    // homoglyph copy under a fresh id — byte-distinct, visually
    // identical, invisible to exact dedup
    val spam = d.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("source"),
        translate(col("text"), latin, cyr).as("text"))
    d.withColumn("is_spam", lit(false))
      .unionByName(spam.withColumn("is_spam", lit(true)))
      .withColumn("folded", translate(col("text"), cyr, latin))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("is_spam"), 1L).otherwise(0L)).as("n_spam"),
        countDistinct(md5(col("text").cast("binary"))).as("n_raw_distinct"),
        countDistinct(md5(col("folded").cast("binary"))).as("n_fold_distinct"))
      .withColumn("n_reunified", col("n_raw_distinct") - col("n_fold_distinct"))
      .orderBy(col("source"))
  }

  /** t18: TOKENIZER FERTILITY by language — the first table any
    * multilingual tokenizer-budget review reads: with ONE tokenizer
    * trained on the mixed corpus (t11/t12's BPE), how many tokens
    * does each language pay per word (`fertility`), and how many
    * characters does one token buy? A language the merges under-serve
    * pays more tokens for the same text — the compute/quality-mix
    * input behind per-language sampling weights (p10/p14) and vocab
    * sizing (t16). Same distributed encode as t12 (broadcast-joined
    * merge dictionary, map-side-combined per-lang aggregate; the
    * ratios are two IEEE divisions over exact integer sums —
    * cross-engine deterministic). The oracle retrains the SAME BPE in
    * SQL and restates both ratios per language.
    */
  def t18Fertility(spark: SparkSession, dir: String): DataFrame = {
    val (_, dict) = bpeTrain(spark, dir, rounds = 3)
    val docWords = docs(spark, dir)
      .select(col("lang"), explode(tokens(col("text"))).as("raw"))
      .select(col("lang"), regexp_replace(col("raw"), "[^a-z]", "").as("w"))
      .filter(length(col("w")).between(2, 20))
    docWords
      .join(dict.select(col("w"),
        size(split(col("sym"), " ")).cast("long").as("ntok")), Seq("w"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_words"),
        sum(length(col("w")).cast("long")).as("n_chars"),
        sum(col("ntok")).as("n_bpe_tokens"))
      .select(col("lang"), col("n_words"), col("n_chars"), col("n_bpe_tokens"),
        round(col("n_bpe_tokens").cast("double") /
          col("n_words").cast("double"), 6).as("tokens_per_word"),
        round(col("n_chars").cast("double") /
          col("n_bpe_tokens").cast("double"), 6).as("chars_per_token"))
      .orderBy(col("lang"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t18_fertility" -> (t18Fertility _),
    "t17_confusable_fold" -> (t17ConfusableFold _),
    "t16_vocab_curve" -> (t16VocabCurve _),
    "t15_collocations" -> (t15Collocations _),
    "t14_vocab_stats" -> (t14VocabStats _),
    "t13_normalize" -> (t13Normalize _),
    "t10_hof_suite" -> (t10HofSuite _),
    "t11_bpe_merges" -> (t11BpeMerges _),
    "t12_bpe_encode" -> (t12BpeEncode _),
    "t09_lm_score" -> (t09LmScore _),
    "t08_string_suite" -> (t08StringSuite _),
    "t01_token_stats" -> (t01TokenStats _),
    "t02_quality_score" -> (t02QualityScore _),
    "t03_langid" -> (t03Langid _),
    "t04_fingerprint" -> (t04Fingerprint _),
    "t05_top_tokens" -> (t05TopTokens _),
    "t06_redact" -> (t06Redact _),
    "t07_bigram_stats" -> (t07BigramStats _)
  )

  private val stopList = stopwords.map(s => s"'$s'").mkString(", ")

  private val langidScoreCols = langMarkers.map { case (code, markers) =>
    val list = markers.map(m => s"'$m'").mkString(", ")
    s"len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t in ($list))) AS score_$code"
  }.mkString(",\n  ")

  private val langidBest =
    langMarkers.map { case (c, _) => s"score_$c" }.mkString("greatest(", ", ", ")")

  private val langidCase = langMarkers.map { case (c, _) =>
    s"WHEN score_$c = $langidBest AND $langidBest > 0 THEN '$c'"
  }.mkString("CASE ", " ", " ELSE 'und' END")

  /** DuckDB replica of [[graft.functions.RollingHashExpr]]: the same
    * `h = 31·h + byte (mod 2^64)` polynomial in HUGEINT space, mapped
    * to signed at the end — makes the native-expression pipeline
    * exactly oracle-checkable (documents text is ASCII, so ord(char)
    * == utf8 byte; m01/m03 oracles already rely on this).
    */
  private val rollDuck: String => String = col =>
    s"""list_reduce(
       |      list_prepend(1125899906842597::HUGEINT,
       |        list_transform(range(1, length($col) + 1),
       |          i -> ord(substring($col, i::INT, 1))::HUGEINT)),
       |      (a, x) -> (31::HUGEINT * a + x) % 18446744073709551616::HUGEINT)""".stripMargin
  private val toSigned: String => String = u =>
    s"""CASE WHEN $u >= 9223372036854775808::HUGEINT
       |     THEN ($u - 18446744073709551616::HUGEINT)::BIGINT
       |     ELSE $u::BIGINT END""".stripMargin

  /** One BPE round's oracle CTEs: pair counts over w{k-1}, the winning
    * merge, and the merged word table w{k}. Mirrors the Spark loop
    * exactly (same tie-break, same leftmost-greedy replace).
    */
  private def bpeRoundSql(k: Int): String = {
    val prev = s"w${k - 1}"
    s"""p$k AS (
       |  SELECT pair, CAST(SUM(n) AS BIGINT) AS cnt FROM (
       |    SELECT n, unnest(list_transform(range(1, len(string_split(sym, ' '))),
       |      i -> string_split(sym, ' ')[i] || ' ' || string_split(sym, ' ')[i+1])) AS pair
       |    FROM $prev WHERE len(string_split(sym, ' ')) >= 2)
       |  GROUP BY 1),
       |t$k AS (SELECT pair, cnt FROM p$k ORDER BY cnt DESC, pair LIMIT 1),
       |m$k AS (
       |  SELECT $k AS merge_idx, t.pair, replace(t.pair, '> <', '') AS new_token,
       |    t.cnt AS pair_count,
       |    (SELECT COUNT(*) FROM $prev WHERE position(t.pair IN sym) > 0) AS n_word_types
       |  FROM t$k t),
       |w$k AS (
       |  SELECT w, n, replace(sym, (SELECT pair FROM m$k),
       |    (SELECT new_token FROM m$k)) AS sym FROM $prev)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // t18: the oracle retrains the SAME 3-round BPE in SQL (t12's CTE
    // chain), then restates per-language fertility — exact integer
    // sums, one IEEE division per ratio
    "t18_fertility" ->
      s"""WITH base AS (
         |  SELECT regexp_replace(tok, '[^a-z]', '', 'g') AS w
         |  FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
         |        FROM documents)),
         |w0 AS (
         |  SELECT w, COUNT(*) AS n,
         |    '<' || array_to_string(
         |      list_transform(range(1, len(w)+1), i -> substring(w, i, 1)),
         |      '> <') || '>' AS sym
         |  FROM base WHERE len(w) BETWEEN 2 AND 20
         |  GROUP BY w),
         |${bpeRoundSql(1)},
         |${bpeRoundSql(2)},
         |${bpeRoundSql(3)},
         |dw AS (
         |  SELECT lang, regexp_replace(tok, '[^a-z]', '', 'g') AS w
         |  FROM (SELECT lang,
         |          unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
         |        FROM documents)),
         |enc AS (SELECT w, len(string_split(sym, ' ')) AS ntok FROM w3),
         |agg AS (
         |  SELECT lang,
         |    CAST(COUNT(*) AS BIGINT) AS n_words,
         |    CAST(SUM(len(w)) AS BIGINT) AS n_chars,
         |    CAST(SUM(ntok) AS BIGINT) AS n_bpe_tokens
         |  FROM dw JOIN enc USING (w)
         |  WHERE len(w) BETWEEN 2 AND 20
         |  GROUP BY lang)
         |SELECT lang, n_words, n_chars, n_bpe_tokens,
         |  round(CAST(n_bpe_tokens AS DOUBLE) / CAST(n_words AS DOUBLE), 6)
         |    AS tokens_per_word,
         |  round(CAST(n_chars AS DOUBLE) / CAST(n_bpe_tokens AS DOUBLE), 6)
         |    AS chars_per_token
         |FROM agg
         |ORDER BY lang""".stripMargin,
    // t17: same injected attack, same fold, same md5 bytes — DuckDB's
    // translate is character-wise like Spark's
    "t17_confusable_fold" ->
      """WITH base AS (
        |  SELECT source, text, FALSE AS is_spam FROM documents
        |  UNION ALL
        |  SELECT source, translate(text, 'aeopc', 'аеорс'), TRUE
        |  FROM documents WHERE doc_id % 7 = 0),
        |f AS (
        |  SELECT source, text, is_spam,
        |    translate(text, 'аеорс', 'aeopc') AS folded
        |  FROM base)
        |SELECT source,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN is_spam THEN 1 ELSE 0 END) AS BIGINT) AS n_spam,
        |  COUNT(DISTINCT md5(text)) AS n_raw_distinct,
        |  COUNT(DISTINCT md5(folded)) AS n_fold_distinct,
        |  COUNT(DISTINCT md5(text)) - COUNT(DISTINCT md5(folded)) AS n_reunified
        |FROM f
        |GROUP BY source
        |ORDER BY source""".stripMargin,
    // t15: the ranking orders by the raw ratio (exact integer
    // products, one IEEE division — no libm); ln only in the
    // displayed 6-dp value
    "t15_collocations" ->
      """WITH toks AS (
        |  SELECT string_split_regex(lower(trim(text)), '\s+') AS ts
        |  FROM documents),
        |uni AS (SELECT unnest(ts) AS token FROM toks),
        |ucnt AS (SELECT token, COUNT(*) AS n FROM uni GROUP BY 1),
        |tt AS (SELECT CAST(SUM(n) AS BIGINT) AS t_tot FROM ucnt),
        |big AS (
        |  SELECT unnest(list_transform(range(1, len(ts)),
        |    i -> {'w1': ts[i], 'w2': ts[i+1]})) AS b
        |  FROM toks WHERE len(ts) >= 2),
        |bcnt AS (
        |  SELECT b.w1 AS w1, b.w2 AS w2, COUNT(*) AS n12
        |  FROM big GROUP BY 1, 2),
        |bt AS (SELECT CAST(SUM(n12) AS BIGINT) AS b_tot FROM bcnt),
        |scored AS (
        |  SELECT c.w1, c.w2, c.n12, u1.n AS n1, u2.n AS n2,
        |    CAST(c.n12 * tt.t_tot * tt.t_tot AS DOUBLE)
        |      / CAST(bt.b_tot * u1.n * u2.n AS DOUBLE) AS r
        |  FROM bcnt c
        |  JOIN ucnt u1 ON u1.token = c.w1
        |  JOIN ucnt u2 ON u2.token = c.w2
        |  CROSS JOIN tt CROSS JOIN bt
        |  WHERE c.n12 >= 5)
        |SELECT ROW_NUMBER() OVER (ORDER BY r DESC, w1, w2) AS pmi_rank,
        |  w1, w2, CAST(n12 AS BIGINT) AS n12, CAST(n1 AS BIGINT) AS n1,
        |  CAST(n2 AS BIGINT) AS n2, round(ln(r), 6) AS pmi_r
        |FROM scored
        |QUALIFY pmi_rank <= 15
        |ORDER BY pmi_rank""".stripMargin,
    // t13: DuckDB's nfc_normalize is the independent NFC
    // implementation the native expression is checked against
    "t13_normalize" ->
      """WITH c AS (
        |  SELECT doc_id, text,
        |    trim(regexp_replace(
        |      regexp_replace(nfc_normalize(text), '[\x00-\x1F\x7F]', '', 'g'),
        |      '[ \t\n\r]+', ' ', 'g')) AS clean_text
        |  FROM documents)
        |SELECT doc_id,
        |  length(text) AS len_raw,
        |  length(clean_text) AS len_clean,
        |  clean_text <> text AS changed,
        |  md5(clean_text) AS clean_md5,
        |  length(nfc_normalize(text || 'e' || chr(769))) AS len_dirty_nfc,
        |  md5(nfc_normalize(text || 'e' || chr(769))) AS dirty_md5
        |FROM c ORDER BY doc_id""".stripMargin,
    "t11_bpe_merges" ->
      s"""WITH base AS (
         |  SELECT regexp_replace(tok, '[^a-z]', '', 'g') AS w
         |  FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
         |        FROM documents)),
         |w0 AS (
         |  SELECT w, COUNT(*) AS n,
         |    '<' || array_to_string(
         |      list_transform(range(1, len(w)+1), i -> substring(w, i, 1)),
         |      '> <') || '>' AS sym
         |  FROM base WHERE len(w) BETWEEN 2 AND 20
         |  GROUP BY w),
         |${bpeRoundSql(1)},
         |${bpeRoundSql(2)},
         |${bpeRoundSql(3)}
         |SELECT * FROM m1
         |UNION ALL SELECT * FROM m2
         |UNION ALL SELECT * FROM m3
         |ORDER BY merge_idx""".stripMargin,
    // t12: retrain the same 3 rounds (w3 = the trained dictionary),
    // then encode = the same dictionary join + per-doc rollup
    "t12_bpe_encode" ->
      s"""WITH base AS (
         |  SELECT regexp_replace(tok, '[^a-z]', '', 'g') AS w
         |  FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
         |        FROM documents)),
         |w0 AS (
         |  SELECT w, COUNT(*) AS n,
         |    '<' || array_to_string(
         |      list_transform(range(1, len(w)+1), i -> substring(w, i, 1)),
         |      '> <') || '>' AS sym
         |  FROM base WHERE len(w) BETWEEN 2 AND 20
         |  GROUP BY w),
         |${bpeRoundSql(1)},
         |${bpeRoundSql(2)},
         |${bpeRoundSql(3)},
         |dw AS (
         |  SELECT doc_id, regexp_replace(tok, '[^a-z]', '', 'g') AS w
         |  FROM (SELECT doc_id,
         |          unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
         |        FROM documents)),
         |enc AS (SELECT w, len(string_split(sym, ' ')) AS ntok FROM w3)
         |SELECT doc_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_words,
         |  CAST(SUM(len(w)) AS BIGINT) AS n_chars,
         |  CAST(SUM(ntok) AS BIGINT) AS n_bpe_tokens
         |FROM dw JOIN enc USING (w)
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,
    "t04_fingerprint" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    ${rollDuck("text")} AS fp_u,
         |    list_transform(regexp_split_to_array(trim(text), '\\s+'),
         |      tok -> ${rollDuck("tok")}) AS tfs_u
         |  FROM documents),
         |s AS (
         |  SELECT doc_id,
         |    ${toSigned("fp_u")} AS doc_fp,
         |    list_transform(tfs_u, u -> ${toSigned("u")}) AS tfs
         |  FROM t)
         |SELECT doc_id, doc_fp,
         |  list_aggregate(tfs, 'min') AS min_token_fp,
         |  list_aggregate(tfs, 'max') AS max_token_fp,
         |  CAST(length(list_distinct(tfs)) AS BIGINT) AS n_distinct_token_fps
         |FROM s ORDER BY doc_id""".stripMargin,
    "t10_hof_suite" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS ts
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(ts) AS BIGINT) AS n_toks,
        |  CAST(len(list_filter(ts, t -> length(t) > 4)) AS BIGINT) AS n_long,
        |  CAST(list_sum(list_transform(ts, t -> length(t))) AS BIGINT) AS total_chars,
        |  len(list_filter(ts, t -> regexp_full_match(t, '[0-9]+'))) > 0 AS has_number,
        |  len(list_filter(ts, t -> length(t) >= 20)) = 0 AS all_short,
        |  array_to_string(list_sort(list_distinct(ts))[1:3], '|') AS first3_sorted,
        |  array_to_string(list_transform(ts[1:3],
        |    t -> t || ':' || CAST(length(t) AS VARCHAR)), ',') AS head_tagged
        |FROM toks
        |ORDER BY doc_id""".stripMargin,
    "t09_lm_score" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\s+') AS ts
        |  FROM documents WHERE len(string_split_regex(lower(trim(text)), '\s+')) >= 2),
        |db AS (
        |  SELECT doc_id, lang, b.w1 AS w1, b.w2 AS w2 FROM (
        |    SELECT doc_id, lang, unnest(list_transform(range(1, len(ts)),
        |      i -> {'w1': ts[i], 'w2': ts[i+1]})) AS b
        |    FROM toks)),
        |counts AS (
        |  SELECT lang, w1, w2, COUNT(*) AS n_bigram FROM db GROUP BY 1, 2, 3),
        |probs AS (
        |  SELECT lang, w1, w2,
        |    CAST(n_bigram AS DOUBLE) /
        |      CAST(SUM(n_bigram) OVER (PARTITION BY lang, w1) AS DOUBLE) AS p
        |  FROM counts)
        |SELECT doc_id, any_value(db.lang) AS lang, COUNT(*) AS n_bigrams,
        |  -CAST(SUM(CAST(round(ln(COALESCE(p, 1e-6)), 9) AS DECIMAL(18,9))) AS DOUBLE)
        |    / COUNT(*) AS avg_nll
        |FROM db LEFT JOIN probs USING (lang, w1, w2)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,
    "t08_string_suite" ->
      """SELECT doc_id,
        |  UPPER(lang) AS lang_up,
        |  lpad(lang, 5, '_') AS lang_lpad,
        |  rpad(lang, 5, '.') AS lang_rpad,
        |  translate(lang, 'aeiou', '12345') AS lang_translated,
        |  reverse(lang) AS lang_rev,
        |  CAST(levenshtein(lang, 'en') AS BIGINT) AS lev_to_en,
        |  CAST(strpos(text, 'data') AS BIGINT) AS pos_data,
        |  string_split(source, 'c')[2] AS src_part,
        |  concat_ws('-', lang, source) AS lang_source,
        |  substring(text, 1, 12) AS head12,
        |  repeat(lang, 2) AS lang_twice
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t07_bigram_stats" ->
      """WITH toks AS (
        |  SELECT lang, string_split_regex(lower(trim(text)), '\s+') AS ts
        |  FROM documents WHERE len(string_split_regex(lower(trim(text)), '\s+')) >= 2),
        |bigrams AS (
        |  SELECT lang, unnest(list_transform(range(1, len(ts)),
        |    i -> {'w1': ts[i], 'w2': ts[i+1]})) AS b
        |  FROM toks),
        |counts AS (
        |  SELECT lang, b.w1 AS w1, b.w2 AS w2, COUNT(*) AS n_bigram
        |  FROM bigrams GROUP BY 1, 2, 3),
        |uni AS (
        |  SELECT *, SUM(n_bigram) OVER (PARTITION BY lang, w1) AS n_w1
        |  FROM counts)
        |SELECT lang, w1, w2, n_bigram, CAST(n_w1 AS BIGINT) AS n_w1,
        |  CAST(n_bigram AS DOUBLE)/CAST(n_w1 AS DOUBLE) AS p_w2_given_w1,
        |  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_bigram DESC, w1, w2) AS bigram_rank
        |FROM uni
        |QUALIFY bigram_rank <= 5
        |ORDER BY lang, bigram_rank""".stripMargin,
    "t06_redact" ->
      """SELECT doc_id, lang,
        |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+')) AS n_emails,
        |  len(regexp_extract_all(text, '[0-9]+')) AS n_digit_runs,
        |  md5(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
        |    '[0-9]+', '<NUM>', 'g')) AS redacted_md5,
        |  len(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
        |    '[0-9]+', '<NUM>', 'g')) AS redacted_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    // t14: same tokenization, every panel number an exact-integer
    // derivation (ratios are single BIGINT/BIGINT divisions)
    "t14_vocab_stats" ->
      """WITH toks AS (
        |  SELECT lang, unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        |  FROM documents),
        |counts AS (
        |  SELECT lang, token, COUNT(*) AS n FROM toks GROUP BY 1, 2),
        |panel AS (
        |  SELECT lang,
        |    CAST(SUM(n) AS BIGINT) AS n_tokens,
        |    COUNT(*) AS n_types,
        |    CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        |    CAST(SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dis
        |  FROM counts GROUP BY 1),
        |top10 AS (
        |  SELECT lang, CAST(SUM(n) AS BIGINT) AS top10_mass FROM (
        |    SELECT lang, n,
        |      ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, token) AS rk
        |    FROM counts) WHERE rk <= 10 GROUP BY 1)
        |SELECT p.lang, p.n_tokens, p.n_types, p.n_hapax, p.n_dis,
        |  CAST(p.n_types AS DOUBLE) / CAST(p.n_tokens AS DOUBLE) AS ttr,
        |  CAST(p.n_hapax AS DOUBLE) / CAST(p.n_types AS DOUBLE) AS hapax_share,
        |  CAST(t.top10_mass AS DOUBLE) / CAST(p.n_tokens AS DOUBLE)
        |    AS top10_coverage
        |FROM panel p JOIN top10 t USING (lang)
        |ORDER BY p.lang""".stripMargin,
    // t16: the same tokenization and (n DESC, token) frequency rank;
    // sums cast to BIGINT (HUGEINT portability rule, §4); OOV from
    // the exact residual, never 1−rounded-coverage
    "t16_vocab_curve" ->
      """WITH counts AS (
        |  SELECT token, COUNT(*) AS n FROM (
        |    SELECT unnest(string_split_regex(lower(trim(text)), '\s+'))
        |      AS token
        |    FROM documents) GROUP BY 1),
        |ranked AS (
        |  SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, token) AS rnk
        |  FROM counts),
        |spine AS (SELECT unnest([256, 512, 1024, 2048, 4096, 8192])
        |  AS vocab_size)
        |SELECT vocab_size,
        |  COUNT(*) AS n_distinct_words,
        |  COUNT(CASE WHEN rnk <= vocab_size THEN 1 END) AS vocab_used,
        |  CAST(SUM(n) AS BIGINT) AS tokens_total,
        |  CAST(SUM(CASE WHEN rnk <= vocab_size THEN n ELSE 0 END)
        |    AS BIGINT) AS tokens_covered,
        |  ROUND(CAST(SUM(CASE WHEN rnk <= vocab_size THEN n ELSE 0 END)
        |      AS DOUBLE) / CAST(SUM(n) AS DOUBLE), 6) AS coverage,
        |  ROUND(CAST(SUM(n) - SUM(CASE WHEN rnk <= vocab_size THEN n
        |      ELSE 0 END) AS DOUBLE) / CAST(SUM(n) AS DOUBLE), 6)
        |    AS oov_rate
        |FROM ranked CROSS JOIN spine
        |GROUP BY vocab_size ORDER BY vocab_size""".stripMargin,
    "t05_top_tokens" ->
      """WITH toks AS (
        |  SELECT lang, unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        |  FROM documents),
        |counts AS (
        |  SELECT lang, token, COUNT(*) AS n FROM toks GROUP BY 1, 2)
        |SELECT lang, token, n,
        |  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, token) AS token_rank
        |FROM counts
        |QUALIFY token_rank <= 10
        |ORDER BY lang, token_rank""".stripMargin,
    "t01_token_stats" ->
      """SELECT doc_id, lang, source, n_chars,
        |  len(text) AS text_len,
        |  len(string_split_regex(trim(text), '\s+')) AS n_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+')) AS n_alpha_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_tokens,
        |  len(regexp_replace(text, '\s+', '', 'g')) AS n_nonspace_chars,
        |  CAST(len(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) /
        |    NULLIF(CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE), 0) AS avg_token_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t02_quality_score" ->
      s"""WITH base AS (
         |  SELECT doc_id, lang,
         |    len(text) AS text_len,
         |    len(text) - len(regexp_replace(text, '[.,;:!?]', '', 'g')) AS punct_count,
         |    len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tokens,
         |    len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t in ($stopList))) AS stop_hits
         |  FROM documents),
         |ratios AS (
         |  SELECT *,
         |    CAST(punct_count AS DOUBLE)/NULLIF(CAST(text_len AS DOUBLE), 0) AS punct_ratio,
         |    CAST(stop_hits AS DOUBLE)/NULLIF(CAST(n_tokens AS DOUBLE), 0) AS stop_ratio,
         |    least(1.0, CAST(text_len AS DOUBLE)/500.0) AS length_score
         |  FROM base)
         |SELECT doc_id, lang, text_len, punct_count, n_tokens, stop_hits,
         |  punct_ratio, stop_ratio, length_score,
         |  0.4*length_score + 0.3*(1.0 - punct_ratio) + 0.3*stop_ratio AS quality_score
         |FROM ratios ORDER BY doc_id""".stripMargin,
    "t03_langid" ->
      s"""WITH scored AS (
         |  SELECT doc_id, lang,
         |  $langidScoreCols
         |  FROM documents)
         |SELECT doc_id, lang, score_en, score_de, score_fr, score_es, score_zh,
         |  $langidCase AS predicted_lang,
         |  ($langidCase) = lang AS is_correct
         |FROM scored ORDER BY doc_id""".stripMargin
  )
}
