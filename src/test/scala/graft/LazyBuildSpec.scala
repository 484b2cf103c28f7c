package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftShims, GraftTestShims}
import org.scalatest.funsuite.AnyFunSuite

/** Building a DataFrame only plans it: the ranking and dup-cluster
  * entries submit no Spark job, persist nothing and leave the session
  * conf as it was until an action runs. No entry rewrites the caller's
  * session: the function registry and the conf stay as they were, and
  * the planner gains only graft's own strategies and rules. An entry
  * that reads a frame twice shares it inside its own plan, so building
  * it caches nothing and registers no query listener.
  */
class LazyBuildSpec extends AnyFunSuite {
  import TestSession._

  test("building the ranking entries submits no job, caches nothing and keeps the conf") {
    val names = Seq("q04_user_order_summary", "q15_cte_pipeline", "q17_window_suite",
      "q43_scalable_rank", "p11_global_shuffle", "p21_curriculum", "m05_shard_manifest",
      "d06_dup_clusters", "d12_cluster_apply", "p15_leakproof_split")
    // count only jobs submitted from this thread while the tag is set
    val tag = "graft.test.lazyBuild"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(tag) != null)
          jobs.add(e.stageInfos.map(_.name).mkString("; "))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setLocalProperty(tag, "build")
    try {
      val conf = spark.conf.getAll
      val cached = GraftTestShims.numCachedEntries(spark)
      names.foreach(n => SparkEntry.queries(n)(spark, sf))
      GraftShims.waitListenerBusEmpty(spark)
      assert(jobs.isEmpty, s"building submitted Spark jobs: ${jobs.toArray.mkString(" | ")}")
      assert(GraftTestShims.numCachedEntries(spark) == cached, "building added cache-manager entries")
      assert(spark.conf.getAll == conf, "building changed the session conf")
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
  }

  test("building entries that use graft functions or read events leaves the session alone") {
    // the graft-function Column wrappers (a02, d02, d03, t04, p16,
    // q116), the `events` readers (a11, st08) and two entries that plan
    // graft nodes through Registration.ensure (d14, m07); some of them
    // write at build time, so jobs and cache entries are not asserted
    val names = Seq("a02_bloom_filtered_join", "d02_ngram_jaccard", "d03_minhash_lsh",
      "t04_fingerprint", "p16_bloom_decontaminate", "q116_murmur_bucket",
      "a11_rolling_sketch", "st08_stream_ingest", "d14_prefix_join", "m07_media_align")
    // a session of its own, so no earlier suite's registrations hide a change
    val s = spark.newSession()
    val functions = s.sessionState.functionRegistry.listFunction().toSet
    val conf = s.conf.getAll
    val em = s.experimental
    val (strategies, rules) = (em.extraStrategies, em.extraOptimizations)
    names.foreach(n => SparkEntry.queries(n)(s, sf))
    val added = s.sessionState.functionRegistry.listFunction().toSet -- functions
    val confChanges = s.conf.getAll.toSet -- conf.toSet
    val planners = em.extraStrategies.diff(strategies) ++ em.extraOptimizations.diff(rules)
    val foreign = planners.filterNot(_.getClass.getName.startsWith("graft.plans."))
    val changes = Seq(
      Option.when(added.nonEmpty)(s"registered functions ${added.mkString(", ")}"),
      Option.when(confChanges.nonEmpty || s.conf.getAll.size != conf.size)(
        s"changed the conf: ${confChanges.mkString(", ")}"),
      Option.when(foreign.nonEmpty)(s"added planner hooks ${foreign.mkString(", ")}")).flatten
    assert(changes.isEmpty, changes.mkString("building ", "; building ", ""))
    assert(planners.nonEmpty, "d14 and m07 no longer plan a graft node")
  }

  test("building entries that read a frame twice caches nothing and registers no listener") {
    val names = Seq("d02_ngram_jaccard", "d05_embedding_dup", "d09_lsh_recall",
      "d10_semantic_dedup", "d11_dup_spans", "d13_incremental_lsh", "d14_prefix_join",
      "d17_containment", "p06_contamination_check", "p13_fuzzy_contamination",
      "p16_bloom_decontaminate", "p19_dataset_card", "s02_ann_lsh", "s04_tfidf_search",
      "s06_ann_multiprobe", "s09_ann_recall", "s11_pq_search", "s12_knn_graph",
      "s14_ivf_pq", "t12_bpe_encode", "t14_vocab_stats", "t18_fertility",
      "m06_perceptual_dedup")
    // entries that still run jobs at build time: t12 and t18 train
    // their BPE merges, p16 collects its bloom sketch. This list may
    // only shrink.
    val buildJobs = Set("t12_bpe_encode", "t18_fertility", "p16_bloom_decontaminate")
    val tag = "graft.test.lazyBuild"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(tag) != null)
          jobs.add(e.properties.getProperty(tag))
    }
    // a session of its own: its listener manager starts empty
    val s = spark.newSession()
    val sc = s.sparkContext
    sc.addSparkListener(listener)
    try {
      val listeners = GraftTestShims.listeners(s)
      val cached = GraftTestShims.numCachedEntries(s)
      names.foreach { n =>
        sc.setLocalProperty(tag, n)
        SparkEntry.queries(n)(s, sf)
      }
      sc.setLocalProperty(tag, null)
      GraftShims.waitListenerBusEmpty(s)
      assert(GraftTestShims.numCachedEntries(s) == cached, "building added cache-manager entries")
      assert(GraftTestShims.listeners(s) == listeners, "building registered a query listener")
      val withJobs = jobs.toArray.map(_.toString).toSet
      assert(withJobs == buildJobs,
        s"entries that ran jobs at build time: ${withJobs.toSeq.sorted.mkString(", ")}")
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
  }
}
