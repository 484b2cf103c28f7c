package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

/** Installs graft's planner strategies and optimizer rules into a
  * session not built with [[graft.GraftExtensions]] (which injects them
  * at session build). Idempotent: appends only what is missing.
  *
  * This is the one place the library adds to a caller's session: a
  * graft plan node has no physical plan without its strategy, so an
  * operator that builds one calls `ensure` first. Functions never go
  * this way; their Column wrappers need no registration.
  */
object Registration {
  def ensure(spark: SparkSession, strategies: Seq[SparkStrategy],
      rules: Seq[Rule[LogicalPlan]] = Nil): Unit = {
    val em = spark.experimental
    em.synchronized {
      em.extraStrategies ++= strategies.filterNot(em.extraStrategies.contains)
      em.extraOptimizations ++= rules.filterNot(em.extraOptimizations.contains)
    }
  }
}
