package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftDatasetFactory.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** graft's native expressions, two ways in.
  *
  *  - Column wrappers build the Catalyst node directly, so the
  *    DataFrame API works on any session and touches no function
  *    registry.
  *  - [[sqlFunctions]] is the one `(name, builder)` table SQL text
  *    resolves through; [[graft.GraftExtensions]] injects it at session
  *    build.
  */
object GraftFunctions {

  /** Every graft SQL function, with its arity and literal checks. */
  val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    fn("rolling_hash", 1) { a => RollingHashExpr(a(0)) },
    fn("cosine_sim", 2) { a => CosineSimExpr(a(0), a(1)) },
    // Catalyst ships codegen'd bloom-filter expressions but leaves them
    // out of the public registry (they back the optimizer's injected
    // runtime filters). Expose them: the build side aggregates a
    // compact mergeable sketch, the probe side filters codegen'd.
    fn("bloom_agg", 3) { a => new BloomFilterAggregate(a(0), a(1), a(2)) },
    fn("bloom_might_contain", 2) { a => BloomFilterMightContain(a(0), a(1)) },
    fn("char_grams", 2) { a => CharGramsExpr(a(0), a(1)) },
    fn("minhash_sig", 1) { a => MinHashExpr(a(0)) },
    fn("collect_capped", 2) { a => CollectCapped(a(0), intLiteral("collect_capped cap", a(1))) },
    fn("bottom_k", 3) { a => BottomK(a(0), a(1), intLiteral("bottom_k k", a(2))) },
    fn("nfc_normalize", 1) { a => NfcNormalizeExpr(a(0)) },
    fn("k_min_values", 2) { a => KMinValues(a(0), intLiteral("k_min_values k", a(1))) },
    fn("iceberg_bucket", 2) { a => IcebergBucketExpr(a(0), intLiteral("iceberg_bucket N", a(1))) },
    fn("iceberg_hash", 1) { a => IcebergHashExpr(a(0)) })

  private def fn(name: String, arity: Int)(build: Seq[Expression] => Expression)
      : (String, Seq[Expression] => Expression) =
    name -> { exprs =>
      require(exprs.length == arity, s"$name expects $arity argument" +
        s"${if (arity == 1) "" else "s"}, got ${exprs.length}")
      build(exprs)
    }

  private def intLiteral(what: String, e: Expression): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"$what must be an integer literal, got $other")
  }

  /** Iceberg-spec murmur3 bucket id ([[IcebergBucketExpr]]). */
  def icebergBucket(c: Column, n: Int): Column = column(IcebergBucketExpr(expression(c), n))

  /** Raw Iceberg-spec murmur3_x86_32 hash ([[IcebergHashExpr]]). */
  def icebergHash(c: Column): Column = column(IcebergHashExpr(expression(c)))

  /** 64-bit rolling hash of a string column ([[RollingHashExpr]]). */
  def rollingHash(c: Column): Column = column(RollingHashExpr(expression(c)))

  /** Native codegen'd cosine similarity over float[] columns. */
  def cosineSim(a: Column, b: Column): Column =
    column(CosineSimExpr(expression(a), expression(b)))

  /** Bounded-buffer collect_list of a long column ([[CollectCapped]]). */
  def collectCapped(c: Column, cap: Int): Column =
    column(CollectCapped(expression(c), cap).toAggregateExpression())

  /** Unicode NFC normalization ([[NfcNormalizeExpr]]). */
  def nfcNormalize(c: Column): Column = column(NfcNormalizeExpr(expression(c)))

  /** Distinct char-n-grams of a string column ([[CharGramsExpr]]). */
  def charGrams(c: Column, n: Int): Column = column(CharGramsExpr(expression(c), Literal(n)))

  /** K-permutation MinHash signature of a string's char-3-grams
    * ([[MinHashExpr]]).
    */
  def minhashSig(c: Column): Column = column(MinHashExpr(expression(c)))

  /** KMV distinct sketch of a long hash column ([[KMinValues]]). */
  def kMinValues(c: Column, k: Int): Column =
    column(KMinValues(expression(c), k).toAggregateExpression())

  /** Bounded bottom-k (key, payload) pairs per group ([[BottomK]]). */
  def bottomK(key: Column, payload: Column, k: Int): Column =
    column(BottomK(expression(key), expression(payload), k).toAggregateExpression())

  /** Bloom-filter sketch of a long column, sized for `expectedItems`
    * keys in `numBits` bits (Catalyst's `BloomFilterAggregate`).
    */
  def bloomAgg(c: Column, expectedItems: Long, numBits: Long): Column =
    column(new BloomFilterAggregate(expression(c), Literal(expectedItems), Literal(numBits))
      .toAggregateExpression())

  /** Whether `value` may be in the serialized `bloom` sketch
    * (Catalyst's `BloomFilterMightContain`).
    */
  def bloomMightContain(bloom: Column, value: Column): Column =
    column(BloomFilterMightContain(expression(bloom), expression(value)))
}
