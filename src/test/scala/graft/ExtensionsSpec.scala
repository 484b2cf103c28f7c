package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class ExtensionsSpec extends AnyFunSuite {

  /** Run `f` on a fresh session built with GraftExtensions (sharing the
    * test SparkContext), then restore the default/active sessions.
    */
  private def withExtendedSession(f: SparkSession => Unit): Unit = {
    val base = TestSession.spark // ensure shared context exists first
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    try {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      f(SparkSession.builder()
        .master("local[4]")
        .withExtensions(new GraftExtensions)
        .getOrCreate())
    } finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
    assert(base.sql("SELECT 1").count() == 1)
  }

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
