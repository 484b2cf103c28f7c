package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: 64-bit polynomial rolling hash of a
  * string (document fingerprinting primitive). Stays inside
  * whole-stage codegen via a static-call `doGenCode`, so it runs at
  * built-in-function speed — no UDF serialization, no codegen break.
  */
case class RollingHashExpr(child: Expression) extends UnaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any =
    RollingHashExpr.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RollingHashExpr.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): RollingHashExpr =
    copy(child = newChild)
}

object RollingHashExpr {
  /** h = 31*h + byte over UTF-8 bytes, seeded with a large prime. */
  def hash(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 1125899906842597L
    var i = 0
    while (i < bytes.length) {
      h = 31L * h + bytes(i)
      i += 1
    }
    h
  }
}

/** Session registration + Column-API wrappers for graft's native
  * expressions (Spark 4 hides the Column-from-Expression constructor,
  * so we go through the function registry + `call_function`).
  */
object GraftFunctions {
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "rolling_hash", exprs => {
        require(exprs.length == 1, s"rolling_hash expects 1 argument, got ${exprs.length}")
        RollingHashExpr(exprs.head)
      }, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_sim", exprs => {
        require(exprs.length == 2, s"cosine_sim expects 2 arguments, got ${exprs.length}")
        CosineSimExpr(exprs.head, exprs(1))
      }, "scala_udf")
    // Catalyst ships codegen'd bloom-filter expressions but leaves them
    // out of the public registry (they back the optimizer's injected
    // runtime filters). Expose them: the build side aggregates a
    // compact mergeable sketch, the probe side filters codegen'd.
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "bloom_agg", exprs => {
        require(exprs.length == 3, s"bloom_agg expects 3 arguments, got ${exprs.length}")
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          exprs.head, exprs(1), exprs(2))
      }, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "bloom_might_contain", exprs => {
        require(exprs.length == 2, s"bloom_might_contain expects 2 arguments, got ${exprs.length}")
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          exprs.head, exprs(1))
      }, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "char_grams", exprs => {
        require(exprs.length == 2,
          s"char_grams expects 2 arguments, got ${exprs.length}")
        CharGramsExpr(exprs.head, exprs(1))
      }, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "minhash_sig", exprs => {
        require(exprs.length == 1,
          s"minhash_sig expects 1 argument, got ${exprs.length}")
        MinHashExpr(exprs.head)
      }, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "collect_capped", exprs => {
        require(exprs.length == 2,
          s"collect_capped expects 2 arguments, got ${exprs.length}")
        val cap = exprs(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"collect_capped cap must be an integer literal, got $other")
        }
        CollectCapped(exprs.head, cap)
      }, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "bottom_k", exprs => {
        require(exprs.length == 3,
          s"bottom_k expects 3 arguments, got ${exprs.length}")
        val k = exprs(2) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"bottom_k k must be an integer literal, got $other")
        }
        BottomK(exprs.head, exprs(1), k)
      }, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "nfc_normalize", exprs => {
        require(exprs.length == 1,
          s"nfc_normalize expects 1 argument, got ${exprs.length}")
        NfcNormalizeExpr(exprs.head)
      }, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "k_min_values", exprs => {
        require(exprs.length == 2,
          s"k_min_values expects 2 arguments, got ${exprs.length}")
        val k = exprs(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"k_min_values k must be an integer literal, got $other")
        }
        KMinValues(exprs.head, k)
      }, "scala_udf")
    IcebergHash.registerWith(spark.sessionState.functionRegistry)
  }

  /** Iceberg-spec murmur3 bucket id ([[IcebergBucketExpr]]). */
  def icebergBucket(c: Column, n: Int): Column = IcebergHash.icebergBucket(c, n)

  /** Raw Iceberg-spec murmur3_x86_32 hash ([[IcebergHashExpr]]). */
  def icebergHash(c: Column): Column = IcebergHash.icebergHash(c)

  /** 64-bit rolling hash of a string column (register first). */
  def rollingHash(c: Column): Column = call_function("rolling_hash", c)

  /** Native codegen'd cosine similarity over float[] columns. */
  def cosineSim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)

  /** Bounded-buffer collect_list of a long column ([[CollectCapped]]). */
  def collectCapped(c: Column, cap: Int): Column =
    call_function("collect_capped", c, org.apache.spark.sql.functions.lit(cap))

  /** Unicode NFC normalization ([[NfcNormalizeExpr]]). */
  def nfcNormalize(c: Column): Column = call_function("nfc_normalize", c)

  /** Distinct char-n-grams of a string column ([[CharGramsExpr]]). */
  def charGrams(c: Column, n: Int): Column =
    call_function("char_grams", c, org.apache.spark.sql.functions.lit(n))

  /** K-permutation MinHash signature of a string's char-3-grams
    * ([[MinHashExpr]]).
    */
  def minhashSig(c: Column): Column = call_function("minhash_sig", c)

  /** KMV distinct sketch of a long hash column ([[KMinValues]]). */
  def kMinValues(c: Column, k: Int): Column =
    call_function("k_min_values", c, org.apache.spark.sql.functions.lit(k))

  /** Bounded bottom-k (key, payload) pairs per group ([[BottomK]]). */
  def bottomK(key: Column, payload: Column, k: Int): Column =
    call_function("bottom_k", key, payload, org.apache.spark.sql.functions.lit(k))
}
