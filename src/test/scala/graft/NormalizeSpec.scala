package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions
import graft.operators.Pipeline

class NormalizeSpec extends AnyFunSuite {
  import TestSession._

  test("nfc_normalize composes decomposed sequences and is idempotent") {
    import spark.implicits._
    val decomposed = "Café"   // e + combining acute
    val composed = "Caf\u00e9"            // precomposed
    val df = Seq((1, decomposed), (2, composed), (3, "plain ascii"), (4, null))
      .toDF("id", "s")
      .select(col("id"), GraftFunctions.nfcNormalize(col("s")).as("n"),
        length(GraftFunctions.nfcNormalize(col("s"))).as("len"))
      .orderBy("id").collect()
    assert(df(0).getString(1) == composed, "decomposed must compose under NFC")
    assert(df(0).getInt(2) == 4)
    assert(df(1).getString(1) == composed, "already-composed is a fixpoint")
    assert(df(2).getString(1) == "plain ascii")
    assert(df(3).isNullAt(1), "null in, null out")

    // SQL path, through the extension's function table
    val viaSql = withExtendedSession(
      _.sql(s"SELECT nfc_normalize('Café')").collect().head.getString(0))
    assert(viaSql == composed)
  }

  test("t17 confusable fold re-unifies attacked duplicates and is lossless on clean text") {
    import org.apache.spark.sql.functions._
    val rows = graft.operators.TextAnalysis.t17ConfusableFold(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val raw = r.getAs[Long]("n_raw_distinct")
      val fold = r.getAs[Long]("n_fold_distinct")
      assert(fold <= raw, "folding can only merge, never split")
      assert(r.getAs[Long]("n_reunified") == raw - fold)
      // every spam copy must fold back onto its original
      assert(r.getAs[Long]("n_spam") == 0 || r.getAs[Long]("n_reunified") > 0,
        s"source ${r.getString(0)}: spam copies survived folding")
    }
    assert(rows.map(_.getAs[Long]("n_reunified")).sum > 0,
      "fixture produced no reunifiable spam copies")
    // folding is lossless on pure-Latin text: folded == raw for docs
    // that were never attacked
    val clean = Tables(spark, sf, "documents")
      .filter(col("doc_id") % 7 =!= 0)
      .withColumn("folded", translate(col("text"), "аеорс", "aeopc"))
      .filter(col("folded") =!= col("text")).count()
    assert(clean == 0L, "fold altered unattacked ASCII text")
  }

  test("p17 ticket race: keys are reproducible and selection pressure is monotone in weight") {
    // per-row key recomputed independently: min over md5(doc_id:i)
    val sample = Pipeline.p17WeightedSample(spark, "/root/testdata/sf0.01").collect()
    assert(sample.length == 200)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    sample.take(20).foreach { r =>
      val (id, w, ticket) = (r.getLong(0), r.getLong(2), r.getString(3))
      val expect = (1L to w).map(i => md5hex(s"$id:$i")).min
      assert(ticket == expect, s"doc $id ticket mismatch")
    }
    // inclusion rate must grow with weight: at sf0.01 every source has
    // 25 docs, weights 1..4 cover 5 sources each → 125 docs per class
    val byWeight = sample.groupBy(_.getLong(2)).view.mapValues(_.length).toMap
    assert(byWeight.keySet == Set(1L, 2L, 3L, 4L), s"missing weight class: $byWeight")
    assert(byWeight(4L) > byWeight(1L),
      s"weight-4 docs must be oversampled vs weight-1: $byWeight")
  }
}
