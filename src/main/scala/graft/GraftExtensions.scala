package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{CosineSimExpr, RollingHashExpr}

/** SparkSessionExtensions entry point — wire graft's native functions
  * into any session at build time:
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
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("rolling_hash"),
      new ExpressionInfo(classOf[RollingHashExpr].getName, null, "rolling_hash"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, s"rolling_hash expects 1 argument, got ${exprs.length}")
        RollingHashExpr(exprs.head)
      }))
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.GlobalRankStrategy)
    ext.injectOptimizerRule(_ => graft.plans.PushFilterThroughAsofJoin)
    ext.injectOptimizerRule(_ => graft.plans.MvRewriteRule)
    ext.injectFunction((
      new FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[graft.functions.NfcNormalizeExpr].getName, null, "nfc_normalize"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, s"nfc_normalize expects 1 argument, got ${exprs.length}")
        graft.functions.NfcNormalizeExpr(exprs.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimExpr].getName, null, "cosine_sim"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, s"cosine_sim expects 2 arguments, got ${exprs.length}")
        CosineSimExpr(exprs.head, exprs(1))
      }))
  }
}
