package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Iceberg-spec `murmur3_x86_32` — the hash the Iceberg partition
  * spec REQUIRES for its `bucket[N]` transform (spec Appendix B:
  * "Bucket transforms … hash the value with murmur3_x86_32, seed 0"),
  * so any engine sharing a bucketed table must agree bit-for-bit on
  * file placement (reference: docs/components/iceberg.md:6-7 — the
  * hidden-partitioning contract [[graft.sources.Transforms]] records).
  *
  * Per the spec's type rules:
  *   - int/long/date/timestamp hash the value widened to LONG, as its
  *     8 LITTLE-ENDIAN bytes;
  *   - string hashes the UTF-8 bytes (no length prefix);
  *   - binary hashes the raw bytes.
  * `bucket = (hash & Int.MaxValue) % N`.
  *
  * The standard algorithm differs from Spark's own `hash()` in seed
  * (42) and in tail handling (Spark's `hashUnsafeBytes` mixes tail
  * bytes as whole blocks), so this is a fresh implementation,
  * verified in TransformsSpec against the spec's published test
  * vectors (34 → 2017239379, "iceberg" → 1210000089, …).
  */
object IcebergMurmur3 {
  private final val C1 = 0xcc9e2d51
  private final val C2 = 0x1b873593

  private def mixK1(k0: Int): Int = {
    var k = k0 * C1
    k = Integer.rotateLeft(k, 15)
    k * C2
  }

  private def mixH1(h0: Int, k: Int): Int = {
    var h = h0 ^ k
    h = Integer.rotateLeft(h, 13)
    h * 5 + 0xe6546b64
  }

  private def fmix(h0: Int, len: Int): Int = {
    var h = h0 ^ len
    h ^= h >>> 16
    h *= 0x85ebca6b
    h ^= h >>> 13
    h *= 0xc2b2ae35
    h ^ (h >>> 16)
  }

  /** murmur3_x86_32(bytes, seed = 0) — the spec's byte-stream hash. */
  def hashBytes(data: Array[Byte]): Int = {
    val len = data.length
    val rounded = len & ~3
    var h = 0
    var i = 0
    while (i < rounded) {
      val k = (data(i) & 0xff) | ((data(i + 1) & 0xff) << 8) |
        ((data(i + 2) & 0xff) << 16) | ((data(i + 3) & 0xff) << 24)
      h = mixH1(h, mixK1(k))
      i += 4
    }
    var k = 0
    val tail = len - rounded
    if (tail >= 3) k ^= (data(rounded + 2) & 0xff) << 16
    if (tail >= 2) k ^= (data(rounded + 1) & 0xff) << 8
    if (tail >= 1) {
      k ^= data(rounded) & 0xff
      h ^= mixK1(k)
    }
    fmix(h, len)
  }

  /** Integral hash: the value's 8 little-endian bytes. A long's two
    * little-endian 4-byte blocks ARE its low and high ints, so the
    * block loop collapses to two mixes — no allocation.
    */
  def hashLong(v: Long): Int = {
    var h = mixH1(0, mixK1(v.toInt))
    h = mixH1(h, mixK1((v >>> 32).toInt))
    fmix(h, 8)
  }

  def hashUtf8(s: UTF8String): Int = hashBytes(s.getBytes)

  /** Iceberg bucket id: non-negative hash mod N. */
  def bucketLong(v: Long, n: Int): Int = (hashLong(v) & Int.MaxValue) % n
  def bucketUtf8(s: UTF8String, n: Int): Int = (hashUtf8(s) & Int.MaxValue) % n
  def bucketBytes(b: Array[Byte], n: Int): Int = (hashBytes(b) & Int.MaxValue) % n

  /** Driver-side bucket of a string (scan planning). */
  def bucketString(s: String, n: Int): Int =
    (hashBytes(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      & Int.MaxValue) % n
}

/** `iceberg_bucket(col, N)` as a native codegen'd expression: stays
  * inside whole-stage codegen via static calls (the [[RollingHashExpr]]
  * idiom), so deriving partition values for a 100 TB write costs a
  * hash per row, not a UDF boundary.
  */
case class IcebergBucketExpr(child: Expression, n: Int)
    extends UnaryExpression {
  require(n > 0, s"bucket count must be positive: $n")

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case LongType | IntegerType | ShortType | ByteType | DateType |
           StringType | BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"iceberg_bucket: unsupported input type ${other.sql}")
    }

  override protected def nullSafeEval(input: Any): Any = child.dataType match {
    case LongType => IcebergMurmur3.bucketLong(input.asInstanceOf[Long], n)
    case IntegerType | DateType =>
      IcebergMurmur3.bucketLong(input.asInstanceOf[Int].toLong, n)
    case ShortType => IcebergMurmur3.bucketLong(input.asInstanceOf[Short].toLong, n)
    case ByteType => IcebergMurmur3.bucketLong(input.asInstanceOf[Byte].toLong, n)
    case StringType => IcebergMurmur3.bucketUtf8(input.asInstanceOf[UTF8String], n)
    case BinaryType => IcebergMurmur3.bucketBytes(input.asInstanceOf[Array[Byte]], n)
    case other => throw new IllegalStateException(s"unreachable: $other")
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = child.dataType match {
      case StringType => "bucketUtf8"
      case BinaryType => "bucketBytes"
      case _ => "bucketLong"
    }
    val cast = child.dataType match {
      case LongType | StringType | BinaryType => ""
      case _ => "(long)"
    }
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.IcebergMurmur3.$fn($cast$c, $n)")
  }

  override protected def withNewChildInternal(newChild: Expression)
      : IcebergBucketExpr = copy(child = newChild)
}

/** `iceberg_hash(col)` — the raw spec hash (signed 32-bit), exposed
  * so tests and debugging can pin the spec's test vectors end-to-end.
  */
case class IcebergHashExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case LongType | IntegerType | ShortType | ByteType | DateType |
           StringType | BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"iceberg_hash: unsupported input type ${other.sql}")
    }

  override protected def nullSafeEval(input: Any): Any = child.dataType match {
    case LongType => IcebergMurmur3.hashLong(input.asInstanceOf[Long])
    case IntegerType | DateType =>
      IcebergMurmur3.hashLong(input.asInstanceOf[Int].toLong)
    case ShortType => IcebergMurmur3.hashLong(input.asInstanceOf[Short].toLong)
    case ByteType => IcebergMurmur3.hashLong(input.asInstanceOf[Byte].toLong)
    case StringType => IcebergMurmur3.hashUtf8(input.asInstanceOf[UTF8String])
    case BinaryType => IcebergMurmur3.hashBytes(input.asInstanceOf[Array[Byte]])
    case other => throw new IllegalStateException(s"unreachable: $other")
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = child.dataType match {
      case StringType => "hashUtf8"
      case BinaryType => "hashBytes"
      case _ => "hashLong"
    }
    val cast = child.dataType match {
      case LongType | StringType | BinaryType => ""
      case _ => "(long)"
    }
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.IcebergMurmur3.$fn($cast$c)")
  }

  override protected def withNewChildInternal(newChild: Expression)
      : IcebergHashExpr = copy(child = newChild)
}
