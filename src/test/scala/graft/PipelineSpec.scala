package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Pipeline

/** Invariants for the training-data pipeline pack. */
class PipelineSpec extends AnyFunSuite {
  import TestSession._

  test("p30 quota caps every source at K via the bounded aggregate (no corpus-wide window)") {
    val df = Pipeline.p30SourceQuota(spark, sf)
    val rows = df.collect()
    // every source present; kept never exceeds the quota nor the source
    val nSources = Tables(spark, sf, "documents")
      .select(col("source")).distinct().count()
    assert(rows.length == nSources)
    rows.foreach { r =>
      val (n, kept) = (r.getLong(1), r.getLong(2))
      assert(kept == math.min(n, 20L),
        s"${r.getString(0)}: kept $kept of $n (quota 20)")
      assert(r.getLong(3) > 0L, "kept docs must carry chars")
    }
    // the scale claim IS the plan shape: the bounded aggregate, not a
    // row_number window over the corpus
    assert(!df.queryExecution.executedPlan.toString.contains("Window"),
      "p30 must not plan a window over the corpus")
  }

  test("p01 packs conserve documents and respect the running-chunk bound") {
    val packs = Pipeline.p01PackSequences(spark, sf).collect()
    val nDocs = packs.map(_.getAs[Long]("n_docs")).sum
    assert(nDocs == Tables(spark, sf, "documents").count())
    // every pack except a bucket's last holds >= 1 doc and pack ids are dense per bucket
    packs.groupBy(_.getAs[Int]("bucket")).foreach { case (_, rows) =>
      val ids = rows.map(_.getAs[Long]("pack_id")).sorted
      assert(ids.head == 0L && ids.zip(ids.tail).forall { case (a, b) => b == a + 1 })
    }
  }

  test("p02 split is exhaustive and roughly 80/10/10") {
    val rows = Pipeline.p02TrainTestSplit(spark, sf).collect()
    val counts = rows.map(r => r.getAs[String]("split") -> r.getAs[Long]("n_docs")).toMap
    val total = counts.values.sum
    assert(total == Tables(spark, sf, "documents").count())
    assert(counts("train").toDouble / total > 0.6)
    assert(counts.keySet == Set("train", "val", "test"))
  }

  test("p02 split assignment is deterministic across runs") {
    val a = Pipeline.p02TrainTestSplit(spark, sf).collect().map(_.toString).sorted
    val b = Pipeline.p02TrainTestSplit(spark, sf).collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("p03 samples exactly 5 docs per language stratum") {
    val rows = Pipeline.p03StratifiedSample(spark, sf).collect()
    rows.groupBy(_.getAs[String]("lang")).foreach { case (_, picks) =>
      assert(picks.length == 5)
      assert(picks.map(_.getAs[Int]("pick")).sorted.sameElements(Array(1, 2, 3, 4, 5)))
    }
  }

  test("p04 buckets cover the whole corpus with consistent min/max") {
    val rows = Pipeline.p04LengthBuckets(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum ==
      Tables(spark, sf, "documents").count())
    rows.foreach { r =>
      assert(r.getAs[Long]("min_tokens") <= r.getAs[Long]("max_tokens"))
    }
  }

  test("p05 per-language doc counts sum to the corpus size") {
    val rows = Pipeline.p05CorpusStats(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum ==
      Tables(spark, sf, "documents").count())
  }

  test("p06 contamination ratios are valid fractions over non-benchmark docs") {
    val rows = Pipeline.p06ContaminationCheck(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_id") % 13 != 0)
      val ratio = r.getAs[Double]("contamination_ratio")
      assert(ratio > 0.0 && ratio <= 1.0)
      assert(r.getAs[Long]("n_hit_grams") <= r.getAs[Long]("n_grams"))
    }
  }

  test("t07 conditional probabilities are valid and unigram counts dominate") {
    val rows = graft.operators.TextAnalysis.t07BigramStats(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val p = r.getAs[Double]("p_w2_given_w1")
      assert(p > 0.0 && p <= 1.0)
      assert(r.getAs[Long]("n_bigram") <= r.getAs[Long]("n_w1"))
    }
  }

  test("pipeline ops are UDF-free (codegen-friendly hot paths)") {
    Pipeline.queries.foreach { case (name, fn) =>
      val plan = fn(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
        s"$name contains a UDF")
    }
  }

  test("p16 bloom prune is in-plan, sound, and agrees with p06's exact hits") {
    val df = Pipeline.p16BloomDecontaminate(spark, sf)
    assert(df.queryExecution.executedPlan.toString.contains("might_contain"),
      "bloom probe missing from the physical plan")
    val rows = df.collect()
    assert(rows.forall(_.getAs[Boolean]("bloom_sound")),
      "bloom path lost an exact hit (false negative)")
    val exact = Pipeline.p06ContaminationCheck(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_hit_grams")).toMap
    val mine = rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_hit_grams")).toMap
    exact.foreach { case (d, n) =>
      assert(mine(d) == n, s"doc $d: bloom-confirmed hits $n != p06 exact ${mine(d)}")
    }
    assert(mine.filter(_._2 > 0).keySet == exact.keySet,
      "contaminated-doc sets differ between p16 and p06")
  }

  test("p15 cluster-keyed split leaks zero near-dup clusters; id-keyed split leaks") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val df = graft.operators.Pipeline.p15LeakproofSplit(spark, sf)
    val rows = df.collect()
    // the connected components node runs once in the final adaptive
    // plan (a reused exchange does not run its subtree), also when an
    // earlier suite left cache entries that AQE plans around
    def executed(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => executed(a.executedPlan)
      case q: QueryStageExec => executed(q.plan)
      case _: ReusedExchangeExec => Nil
      case other => other.children.flatMap(executed)
    })
    assert(executed(df.queryExecution.executedPlan)
      .count(_.isInstanceOf[graft.plans.ConnectedComponentsExec]) == 1,
      "the connected components node does not run exactly once")
    assert(rows.map(_.getAs[String]("split")).toSet == Set("train", "val", "test"))
    assert(rows.map(_.getAs[Long]("n_docs")).sum ==
      Tables(spark, sf, "documents").count())
    rows.foreach { r =>
      assert(r.getAs[Long]("n_straddling_by_cluster") == 0L,
        "cluster-keyed split must never straddle a dup cluster")
      assert(r.getAs[Long]("n_straddling_by_id") > 0L,
        "testdata's near-dup clusters should expose id-keyed leakage")
    }
  }

  test("p14 temperature mix flattens the domain distribution (alpha = 0.5)") {
    val rows = graft.operators.Pipeline.p14TemperatureMix(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, k, rate) = (r.getAs[Long]("n_docs"), r.getAs[Long]("n_sampled"),
        r.getAs[Double]("accept_rate"))
      assert(k <= n && rate > 0.0 && rate <= 1.0)
      if (rate == 1.0) assert(k == n, "rate-1 source must be fully kept")
      // deterministic-hash acceptance tracks the rate (binomial bound)
      val tol = 4.0 * math.sqrt(rate * (1 - rate) / n) + 1.0 / n
      assert(math.abs(k.toDouble / n - rate) <= tol,
        s"${r.getAs[String]("source")}: eff ${k.toDouble / n} vs rate $rate")
    }
    // flattening: between damped sources, sampled sizes shrink the gap
    val damped = rows.filter(_.getAs[Double]("accept_rate") < 1.0)
      .sortBy(_.getAs[Long]("n_docs"))
    if (damped.length >= 2) {
      val (small, big) = (damped.head, damped.last)
      val rawRatio = big.getAs[Long]("n_docs").toDouble / small.getAs[Long]("n_docs")
      val sampledRatio =
        big.getAs[Long]("n_sampled").toDouble / small.getAs[Long]("n_sampled")
      assert(sampledRatio < rawRatio,
        s"no flattening: sampled $sampledRatio vs raw $rawRatio")
    }
  }

  test("p19 dataset card partitions the corpus and agrees with p02's split rule") {
    import org.apache.spark.sql.functions._
    val card = graft.operators.Pipeline.p19DatasetCard(spark, sf).collect()
    assert(card.map(_.getString(0)).sorted.toSeq == Seq("test", "train", "val"))
    val docs = Tables(spark, sf, "documents")
    // volumes partition the corpus exactly — nothing dropped, nothing
    // double-counted
    assert(card.map(_.getLong(1)).sum == docs.count())
    assert(card.map(_.getLong(3)).sum ==
      docs.agg(sum(col("n_chars"))).head.getLong(0))
    // same split rule as p02 → same per-split doc counts
    val p02 = graft.operators.Pipeline.p02TrainTestSplit(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    card.foreach(r => assert(r.getLong(1) == p02(r.getString(0)),
      s"${r.getString(0)} count diverges from p02"))
    card.foreach { r =>
      val share = r.getDouble(r.fieldIndex("top_source_share"))
      assert(share > 0.0 && share <= 1.0)
      assert(r.getDouble(r.fieldIndex("dup_rate")) >= 0.0)
    }
  }

  test("p21 curriculum phases partition the corpus into contiguous, monotonically harder slices") {
    val phases = graft.operators.Pipeline.p21Curriculum(spark, sf).collect()
    assert(phases.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    val docs = Tables(spark, sf, "documents")
    assert(phases.map(_.getLong(1)).sum == docs.count(),
      "phases must partition the corpus")
    // equal-count thirds (±1 doc)
    val counts = phases.map(_.getLong(1))
    assert(counts.max - counts.min <= 1, s"unbalanced phases: ${counts.toSeq}")
    // difficulty strictly non-overlapping and non-decreasing across phases
    phases.sliding(2).foreach { case Array(a, b) =>
      assert(a.getLong(4) <= b.getLong(3),
        s"phase ${a.getLong(0)} max_difficulty ${a.getLong(4)} overlaps " +
          s"phase ${b.getLong(0)} min ${b.getLong(3)}")
    }
  }

  test("p29 rendezvous placement: full partition, minimal disruption, near-uniform balance") {
    val rows = Pipeline.p29RendezvousShards(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val nDocs = Tables(spark, sf, "documents").count()
    assert(rows.map(_._1).toSeq == (0L to 8L), "one row per worker 0..8")
    // both configs partition the corpus exactly
    assert(rows.map(_._2).sum == nDocs && rows.map(_._3).sum == nDocs)
    assert(rows.find(_._1 == 8L).get._2 == 0L, "worker 8 absent under W=8")
    // HRW minimal disruption: every move lands ON the new worker
    rows.filter(_._1 < 8L).foreach { case (w, _, _, movedIn) =>
      assert(movedIn == 0L, s"doc moved between OLD workers (into $w)")
    }
    val moved = rows.find(_._1 == 8L).get._4
    assert(moved == rows.find(_._1 == 8L).get._3,
      "every doc on worker 8 must have moved there")
    // expected moved fraction 1/9 ≈ 11% — allow a generous band
    val frac = moved.toDouble / nDocs
    assert(frac > 0.03 && frac < 0.25, s"moved fraction off: $frac")
    // balance: no worker above 3x the uniform share under either config
    val uniform = nDocs.toDouble / 8.0
    assert(rows.filter(_._1 < 8L).forall(_._2 < 3 * uniform),
      s"skewed placement: ${rows.map(_._2).toSeq}")
  }
}
