package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native MinHash signature of a string's character 3-grams: `K`
  * minima of the affine family `h_s(g) = (A_s·x + B_s) mod P`, where
  * `x` is the first 32 bits of `md5(g)` read as an unsigned int —
  * exactly `conv(substring(md5(g), 1, 8), 16, 10)`, so the signature
  * equals the per-gram `array_min(transform(char_grams(text, 3), …))`
  * formulation and its DuckDB oracle, bit for bit.
  *
  * One forward walk over the code points (boundaries from
  * `UTF8String.numBytesForFirstByte`, the rule `substring` and
  * `length` use), one md5 per gram position fed straight from the
  * row's bytes through a reused per-thread `MessageDigest`; no gram
  * string, gram array or distinct set is built — a repeated gram
  * cannot change a minimum. NULL for a string of fewer than 3
  * characters (no grams, as `array_min` of an empty array). Stays
  * inside whole-stage codegen via a static-call `doGenCode`.
  */
case class MinHashExpr(child: Expression) extends UnaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_sig"

  override protected def nullSafeEval(input: Any): Any =
    MinHashExpr.sig(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.MinHashExpr.sig($c);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): MinHashExpr =
    copy(child = newChild)
}

object MinHashExpr {
  /** Signature length: minhash permutations. */
  val K = 16
  /** Shingle width in characters. */
  val GRAM = 3
  /** The affine family `h_s(g) = (A_s·x + B_s) mod P`: one md5 per
    * gram instead of K, and K integer multiply-adds the DuckDB oracles
    * reproduce exactly (`('0x' || substr(md5(g),1,8))::BIGINT` there
    * == `x` here; both engines then do identical positive-BIGINT
    * arithmetic). P = 2^31-1 (Mersenne); A_s ∈ [1, P-2] an odd-ish
    * Knuth-multiplier spread, B_s arbitrary — with `x < 2^32` every
    * product stays below 2^63, so neither engine overflows.
    */
  val HASH_P = 2147483647L
  val HASH_A: IndexedSeq[Long] =
    (0 until K).map(s => ((2654435761L * (s + 1)) % (HASH_P - 2)) + 1)
  val HASH_B: IndexedSeq[Long] =
    (0 until K).map(s => (40503L * 65537L * (s + 1)) % HASH_P)

  private val A = HASH_A.toArray
  private val B = HASH_B.toArray

  /** Per-thread md5 state: the digest and its 16-byte output, the
    * running minima, a ring of the last GRAM character starts, and a
    * copy buffer for strings not backed by a byte array (a gram is at
    * most GRAM 4-byte characters).
    */
  private final class Scratch {
    val md: MessageDigest = MessageDigest.getInstance("MD5")
    val out = new Array[Byte](16)
    val mins = new Array[Long](K)
    val starts = new Array[Int](GRAM)
    val gram = new Array[Byte](4 * GRAM)
  }
  private val scratch = ThreadLocal.withInitial[Scratch](() => new Scratch)

  def sig(s: UTF8String): ArrayData = {
    val nb = s.numBytes
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val sc = scratch.get()
    val md = sc.md
    val out = sc.out
    val mins = sc.mins
    val starts = sc.starts
    java.util.Arrays.fill(mins, Long.MaxValue)
    val onHeap = base.isInstanceOf[Array[Byte]]
    val arrOff = if (onHeap) (off - Platform.BYTE_ARRAY_OFFSET).toInt else 0
    var chars = 0
    var i = 0
    while (i < nb) {
      val next = i + UTF8String.numBytesForFirstByte(Platform.getByte(base, off + i))
      starts(chars % GRAM) = i
      chars += 1
      if (chars >= GRAM) {
        val g0 = starts(chars % GRAM)
        // a truncated trailing sequence ends at the string's end
        val len = math.min(next, nb) - g0
        if (onHeap) {
          md.update(base.asInstanceOf[Array[Byte]], arrOff + g0, len)
        } else {
          Platform.copyMemory(base, off + g0, sc.gram, Platform.BYTE_ARRAY_OFFSET, len)
          md.update(sc.gram, 0, len)
        }
        md.digest(out, 0, 16)
        val x = ((out(0) & 0xffL) << 24) | ((out(1) & 0xffL) << 16) |
          ((out(2) & 0xffL) << 8) | (out(3) & 0xffL)
        var k = 0
        while (k < K) {
          val h = (A(k) * x + B(k)) % HASH_P
          if (h < mins(k)) mins(k) = h
          k += 1
        }
      }
      i = next
    }
    if (chars < GRAM) null else UnsafeArrayData.fromPrimitiveArray(mins)
  }
}
