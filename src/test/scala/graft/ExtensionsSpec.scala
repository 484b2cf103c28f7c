package graft

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions

class ExtensionsSpec extends AnyFunSuite {
  import TestSession._

  test("GraftExtensions injects rolling_hash into a fresh session") {
    withExtendedSession { s =>
      val h = s.sql("SELECT rolling_hash('spark') AS h").head.getLong(0)
      val direct = graft.functions.RollingHashExpr.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString("spark"))
      assert(h == direct)
      val err = intercept[Exception](s.sql("SELECT rolling_hash('a','b')").collect())
      assert(err.getMessage.contains("rolling_hash expects 1 argument"))
    }
  }

  test("every SQL function in the table equals its Column wrapper and checks its arity") {
    withExtendedSession { s =>
      val t = s.range(0, 20, 1, 1).select(
        col("id"),
        concat(lit("graft spark "), col("id").cast("string")).as("s"),
        array(lit(1.0f), col("id").cast("float"), lit(3.0f)).as("v"),
        array(lit(2.0f), lit(0.5f), col("id").cast("float")).as("w"))
      t.createOrReplaceTempView("parity_t")
      val bloom = t.select(GraftFunctions.bloomAgg(col("id"), 100L, 1024L)).head.getAs[Array[Byte]](0)
      val bloomHex = bloom.map(b => f"$b%02X").mkString
      import GraftFunctions._
      // name, arity, SQL call over parity_t, the wrapper's Column
      val cases: Seq[(String, Int, String, Column)] = Seq(
        ("rolling_hash", 1, "rolling_hash(s)", rollingHash(col("s"))),
        ("cosine_sim", 2, "cosine_sim(v, w)", cosineSim(col("v"), col("w"))),
        ("bloom_agg", 3, "bloom_agg(id, 100L, 1024L)", bloomAgg(col("id"), 100L, 1024L)),
        ("bloom_might_contain", 2, s"bloom_might_contain(X'$bloomHex', id * 7)",
          bloomMightContain(lit(bloom), col("id") * 7)),
        ("char_grams", 2, "char_grams(s, 3)", charGrams(col("s"), 3)),
        ("minhash_sig", 1, "minhash_sig(s)", minhashSig(col("s"))),
        ("collect_capped", 2, "sort_array(collect_capped(id, 4))",
          sort_array(collectCapped(col("id"), 4))),
        ("bottom_k", 3, "bottom_k(id, id * 2, 3)", bottomK(col("id"), col("id") * 2, 3)),
        ("nfc_normalize", 1, "nfc_normalize(s)", nfcNormalize(col("s"))),
        ("k_min_values", 2, "k_min_values(id, 4)", kMinValues(col("id"), 4)),
        ("iceberg_bucket", 2, "iceberg_bucket(id, 8)", icebergBucket(col("id"), 8)),
        ("iceberg_hash", 1, "iceberg_hash(id)", icebergHash(col("id"))))
      assert(cases.map(_._1) == GraftFunctions.sqlFunctions.map(_._1))

      def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
        df.collect().toSeq.map((r: Row) => r.toSeq.map {
          case b: Array[Byte] => b.toSeq
          case v => v
        }).sortBy(_.toString)
      cases.foreach { case (name, arity, call, c) =>
        val viaSql = rows(s.sql(s"SELECT $call AS r FROM parity_t"))
        assert(viaSql.nonEmpty && viaSql == rows(t.select(c.as("r"))), name)
        val bad = s"$name(${Seq.fill(arity + 1)("id").mkString(", ")})"
        val err = intercept[Exception](s.sql(s"SELECT $bad FROM parity_t").collect())
        assert(err.getMessage.contains(s"$name expects $arity argument") &&
          err.getMessage.contains(s"got ${arity + 1}"), s"$name: ${err.getMessage}")
      }
    }
  }

  test("GraftExtensions plans the global rank node without session registration") {
    import org.apache.spark.sql.GraftDatasetFactory
    import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference, Literal, SortOrder}
    import org.apache.spark.sql.types.LongType
    withExtendedSession { s =>
      // built directly, not through Rank (whose wrappers register the
      // strategy on the session themselves)
      assert(!s.experimental.extraStrategies.contains(graft.plans.GlobalRankStrategy))
      val child = s.range(0, 10).toDF("id").queryExecution.analyzed
      val df = GraftDatasetFactory.ofRows(s, graft.plans.GlobalRunningSum(
        Seq(SortOrder(child.output.head, Ascending)), Literal(1L),
        AttributeReference("rn", LongType, nullable = false)(),
        AttributeReference("n", LongType, nullable = false)(), child))
      assert(df.queryExecution.executedPlan.toString.contains("GlobalRunningSum"))
      val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(rows.sortBy(_._1).toSeq == (0L until 10L).map(i => (i, i + 1, 10L)))
      assert(!s.experimental.extraStrategies.contains(graft.plans.GlobalRankStrategy))
    }
  }
}
