package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native distinct character-n-gram generator — one forward walk
  * over the code points, one hash set, emitted straight as an
  * ArrayData in first-occurrence order. Replaces the
  * `array_distinct(transform(sequence(1, len-n+1), i ->
  * substring(s, i, n)))` chain on dedup's hottest path with the same
  * output per document, so every md5-derived downstream (Jaccard,
  * LSH bands) and its DuckDB oracle are unchanged. Code-point
  * semantics match Spark's `substring` (and DuckDB's): character
  * boundaries come from `UTF8String.numBytesForFirstByte`, the rule
  * `substringSQL` and `length` use. Each gram is a zero-copy slice of
  * the input's bytes, so a document costs O(length), not the
  * O(length²) of a `substringSQL` per position (each call re-walks the
  * string from its first byte). Stays inside whole-stage codegen via
  * a static-call doGenCode.
  */
case class CharGramsExpr(child: Expression, nExpr: Expression)
    extends BinaryExpression {
  override def left: Expression = child
  override def right: Expression = nExpr
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  // loud analysis-time rejection: the SQL facade exposes char_grams,
  // so a wrong-typed argument must not surface as an executor-side
  // codegen/ClassCastException
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType &&
      nExpr.dataType == org.apache.spark.sql.types.IntegerType) {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    } else {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"char_grams expects (STRING, INT), got " +
          s"(${child.dataType.sql}, ${nExpr.dataType.sql})")
    }

  override protected def nullSafeEval(s: Any, n: Any): Any =
    CharGramsExpr.grams(s.asInstanceOf[UTF8String], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, n) =>
      s"graft.functions.CharGramsExpr.grams($s, $n)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CharGramsExpr =
    copy(child = newLeft, nExpr = newRight)
}

object CharGramsExpr {
  def grams(s: UTF8String, n: Int): ArrayData = {
    // loud, not [""]-for-every-row: n<=0 would make substringSQL(_, n)
    // emit the empty gram for every position and silently collapse
    // all documents into one shingle class
    require(n > 0, s"char_grams n must be positive, got $n")
    val nb = s.numBytes
    val base = s.getBaseObject
    val off = s.getBaseOffset
    // ring of the last n character starts
    val starts = new Array[Int](n)
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var chars = 0
    var i = 0
    while (i < nb) {
      val next = i + UTF8String.numBytesForFirstByte(Platform.getByte(base, off + i))
      starts(chars % n) = i
      chars += 1
      if (chars >= n) {
        val g0 = starts(chars % n)
        // a truncated trailing sequence ends at the string's end
        seen.add(UTF8String.fromAddress(base, off + g0, math.min(next, nb) - g0))
      }
      i = next
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }
}
