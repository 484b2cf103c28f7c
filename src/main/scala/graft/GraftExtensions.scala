package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.GraftFunctions

/** SparkSessionExtensions entry point — wire graft's SQL functions,
  * planner strategies and optimizer rules into any session at build
  * time:
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)           // programmatic
  * // or: --conf spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * This is the same injection surface the reference stack uses to load
  * Iceberg's extensions into Kyuubi-managed Spark sessions
  * (reference: docs/components/kyuubi.md §4 config snippets).
  *
  * A session built without it stays supported: the Column wrappers in
  * [[GraftFunctions]] need no registry, so the whole DataFrame API
  * works there; only SQL text naming a graft function needs the
  * extension. The one exception is [[graft.plans.Registration.ensure]],
  * through which an operator that plans a graft node appends that
  * node's strategy or rule to such a session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.sqlFunctions.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(GraftFunctions.getClass.getName, null, name), builder))
    }
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.GlobalRankStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.ConnectedComponentsStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.SharedFrameStrategy)
    ext.injectOptimizerRule(_ => graft.plans.PushFilterThroughAsofJoin)
    ext.injectOptimizerRule(_ => graft.plans.MvRewriteRule)
  }
}
