package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftShims, GraftTestShims}
import org.scalatest.funsuite.AnyFunSuite

/** Building a DataFrame only plans it: the ranking entries submit no
  * Spark job, persist nothing and leave the session conf as it was
  * until an action runs.
  */
class LazyBuildSpec extends AnyFunSuite {
  import TestSession._

  test("building the ranking entries submits no job, caches nothing and keeps the conf") {
    val names = Seq("q04_user_order_summary", "q15_cte_pipeline", "q17_window_suite",
      "q43_scalable_rank", "p11_global_shuffle", "p21_curriculum", "m05_shard_manifest")
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
}
