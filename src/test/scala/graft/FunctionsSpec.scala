package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{CharGramsExpr, GraftFunctions, MinHashExpr, RollingHashExpr}
import graft.operators.Multimodal

/** The SQL formulation the native minhash kernel replaced, kept as
  * the tests' reference: distinct 3-grams by `substring` per
  * position, one md5 per gram, K `array_min(transform(…))` minima.
  */
object MinHashReference {
  def sig(text: Column): Column = {
    val grams = array_distinct(transform(
      sequence(lit(1), length(text) - 2), i => text.substr(i, lit(3))))
    val xs = transform(grams,
      g => conv(substring(md5(g), 1, 8), 16, 10).cast("long"))
    array((0 until MinHashExpr.K).map { s =>
      array_min(transform(xs, x =>
        (lit(MinHashExpr.HASH_A(s)) * x + lit(MinHashExpr.HASH_B(s))) %
          lit(MinHashExpr.HASH_P)))
    }: _*)
  }
}

class FunctionsSpec extends AnyFunSuite {
  import TestSession._

  /** Strings the code-point walks must agree on, as raw bytes: ASCII,
    * 2-, 3- and 4-byte UTF-8, a lone continuation byte, a lead byte
    * missing its continuations mid-string, exactly 3 chars, repeated
    * grams, and strings too short for a 3-gram.
    */
  private val edgeHex: Seq[String] = Seq(
    "hello world", "abc", "ab", "", "aaaaaaa", "abcabcabcab",
    "h\u00e9llo w\u00f6rld \u00e9\u00e9\u00e9", "\u65e5\u672c\u8a9e\u30c6\u30ad\u30b9\u30c8",
    "a\ud83d\ude00b\ud83d\ude00c\ud834\udd1ed\ud83d\ude00\ud83d\ude00\ud83d\ude00"
  ).map(t => t.getBytes("UTF-8").map(b => f"$b%02x").mkString) ++ Seq(
    "616280636480",   // lone continuation bytes (one of them trailing)
    "61e2626364",     // 3-byte lead whose continuations are ASCII
    "80808080")       // only continuation bytes

  private def edgeStrings: Seq[UTF8String] = edgeHex.map(h =>
    UTF8String.fromBytes(h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray))

  test("RollingHashExpr: interpreted eval matches the static helper") {
    val h = RollingHashExpr.hash(UTF8String.fromString("spark"))
    assert(h == "spark".getBytes("UTF-8")
      .foldLeft(1125899906842597L)((a, b) => 31 * a + b))
  }

  test("rolling_hash runs inside a DataFrame plan (codegen path)") {
    import spark.implicits._
    val out = Seq("a", "spark", "a").toDF("s")
      .select(GraftFunctions.rollingHash(col("s")).as("h"))
      .collect().map(_.getLong(0))
    assert(out(0) == out(2) && out(0) != out(1))
    assert(out(1) == RollingHashExpr.hash(UTF8String.fromString("spark")))
  }

  test("k_min_values: k smallest distinct, sorted, null-safe, merges across partitions") {
    import spark.implicits._
    // 1000 values with duplicates, spread over 8 partitions so the
    // sketch must MERGE partial buffers; expected = 5 smallest distinct
    val vals = (1L to 500L).flatMap(v => Seq(v * 7 % 501, v * 7 % 501, v))
    val df = vals.toDF("v").repartition(8)
      .select(when(col("v") =!= 13L, col("v")).as("v")) // a NULL in the mix
    val got = df.agg(GraftFunctions.kMinValues(col("v"), 5)).head()
      .getSeq[Long](0)
    val expected = vals.filter(_ != 13L).distinct.sorted.take(5)
    assert(got == expected, s"got $got expected $expected")
    // under-full group: sketch IS the exact distinct set
    val small = Seq(9L, 3L, 9L, 7L).toDF("v")
      .agg(GraftFunctions.kMinValues(col("v"), 5)).head().getSeq[Long](0)
    assert(small == Seq(3L, 7L, 9L))
  }

  test("k_min_values union-of-sketches == sketch-of-union") {
    import spark.implicits._
    val a = (1L to 300L).map(_ * 3).toDF("v")   // multiples of 3
    val b = (1L to 300L).map(_ * 2).toDF("v")   // multiples of 2, overlap on 6s
    def sk(df: org.apache.spark.sql.DataFrame) =
      df.agg(GraftFunctions.kMinValues(col("v"), 16).as("sk"))
    val unioned = sk(a).unionByName(sk(b))
      .select(explode(col("sk")).as("v"))
      .agg(GraftFunctions.kMinValues(col("v"), 16)).head().getSeq[Long](0)
    val direct = sk(a.unionByName(b)).head().getSeq[Long](0)
    assert(unioned == direct)
  }

  test("decodeBatch stub is deterministic and preserves ids") {
    import spark.implicits._
    val payloads = spark.createDataset(Seq(
      (1L, "hello".getBytes("UTF-8")),
      (2L, Array.empty[Byte])))
    val out = Multimodal.decodeBatch(spark, payloads).collect().sortBy(_.doc_id)
    assert(out.map(_.doc_id).toSeq == Seq(1L, 2L))
    assert(out(0).byte_len == 5 && out(1).byte_len == 0)
    val again = Multimodal.decodeBatch(spark, payloads).collect().sortBy(_.doc_id)
    assert(out.toSeq == again.toSeq)
  }

  /** `edgeStrings` as a one-column DataFrame; binary → string keeps
    * the raw bytes, invalid UTF-8 included.
    */
  private def edgeFrame = {
    import spark.implicits._
    edgeHex.toDF("hex").select(unhex(col("hex")).cast("string").as("text"))
  }

  test("minhash_sig equals the substring/md5/array_min formulation on every sf0.001 document") {
    val docs = Tables(spark, sf, "documents").filter(length(col("text")) >= 3)
    val diff = docs
      .select(col("doc_id"), GraftFunctions.minhashSig(col("text")).as("native"),
        MinHashReference.sig(col("text")).as("ref"))
      .filter(not(col("native") <=> col("ref")))
    assert(docs.count() > 100)
    assert(diff.count() == 0, s"signatures differ: ${diff.take(3).mkString("; ")}")
  }

  test("minhash_sig equals the reference on multi-byte, invalid and repeated-gram strings") {
    val rows = edgeFrame
      .select(col("text"), length(col("text")).as("n"),
        GraftFunctions.minhashSig(col("text")).as("native"),
        when(length(col("text")) >= 3, MinHashReference.sig(col("text"))).as("ref"))
      .collect()
    assert(rows.length == edgeHex.length)
    // 2-, 3- and 4-byte sequences (é, 日, U+1F600) really are in the set
    Seq("c3a9", "e697a5", "f09f9880").foreach(b => assert(edgeHex.exists(_.contains(b))))
    // the cast kept every raw byte, invalid UTF-8 included
    assert(edgeFrame.select(octet_length(col("text"))).collect().map(_.getInt(0)).toSeq ==
      edgeHex.map(_.length / 2))
    rows.foreach { r =>
      assert(r.get(2) == r.get(3), s"text ${r.get(0)} (${r.getInt(1)} chars)")
      // fewer than 3 characters: no gram, so no signature
      assert((r.getInt(1) < 3) == r.isNullAt(2))
    }
    // interpreted eval and strings not backed by a byte array agree
    edgeStrings.filter(_.numChars >= 3).foreach { u =>
      val onHeap = MinHashExpr.sig(u).toLongArray.toSeq
      val bytes = u.getBytes
      val addr = org.apache.spark.unsafe.Platform.allocateMemory(bytes.length.toLong)
      try {
        org.apache.spark.unsafe.Platform.copyMemory(bytes,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, null, addr, bytes.length.toLong)
        val offHeap = MinHashExpr.sig(UTF8String.fromAddress(null, addr, bytes.length))
        assert(offHeap.toLongArray.toSeq == onHeap, s"off-heap differs for $u")
      } finally org.apache.spark.unsafe.Platform.freeMemory(addr)
    }
  }

  test("char_grams equals a substringSQL loop, in first-occurrence order") {
    for (u <- edgeStrings; n <- 1 to 4) {
      val ref = (1 to u.numChars - n + 1).map(i => u.substringSQL(i, n)).distinct
      val got = CharGramsExpr.grams(u, n).toSeq[UTF8String](StringType)
      assert(got == ref, s"n=$n text=$u")
    }
    val diff = Tables(spark, sf, "documents").filter(length(col("text")) >= 3)
      .select(GraftFunctions.charGrams(col("text"), 3).as("native"),
        array_distinct(transform(sequence(lit(1), length(col("text")) - 2),
          i => col("text").substr(i, lit(3)))).as("ref"))
      .filter(col("native") =!= col("ref"))
    assert(diff.count() == 0)
  }

  test("minhash_sig and char_grams run codegen'd: no CodegenFallback, inside whole-stage code") {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
    val text = org.apache.spark.sql.catalyst.expressions.Literal("abcd")
    assert(!MinHashExpr(text).isInstanceOf[CodegenFallback])
    assert(!CharGramsExpr(text,
      org.apache.spark.sql.catalyst.expressions.Literal(3)).isInstanceOf[CodegenFallback])
    val df = Tables(spark, sf, "documents")
      .select(GraftFunctions.minhashSig(col("text")).as("sig"),
        GraftFunctions.charGrams(col("text"), 3).as("g"))
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val inCodegen = plan.collect { case w: WholeStageCodegenExec => w }
      .flatMap(_.child.collect { case p: ProjectExec => p })
      .flatMap(_.projectList).map(_.toString)
    assert(inCodegen.exists(_.contains("minhash_sig(")), plan.toString)
    assert(inCodegen.exists(_.contains("chargramsexpr(")), plan.toString)
  }
}
