package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Cast, Coalesce, Expression, ExprId, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Materialized views with automatic query rewrite — the warehouse
  * feature the reference exposes through its marts layer (dbt models
  * pre-aggregate facts; BI queries hit the mart, not the fact table —
  * `dbt/models/marts/`), promoted to an ENGINE capability: the user
  * keeps querying the BASE table and a Catalyst rule reroutes any
  * rollup the MV can answer to the (much smaller) materialization.
  *
  * At 100 TB this is the difference between scanning the fact table
  * (TBs) and scanning a day-grain summary (MBs) for every dashboard
  * query — the classic Calcite/Materialize aggregate-rewrite, done
  * Spark-first as an injected optimizer rule.
  *
  * Scope (matched conservatively; anything else is left untouched):
  *  - plan shape `Aggregate / [Project|Filter]* / LogicalRelation`
  *    where the relation's root path IS the registered base path;
  *  - grouping expressions are plain base columns, a SUBSET of the
  *    MV's group-by keys (rollup);
  *  - filter predicates reference only MV group-by keys (they prune
  *    MV rows exactly as they would base rows);
  *  - aggregates are expression trees over `SUM(x)`, `MIN(x)`,
  *    `MAX(x)`, `COUNT(x)`, `COUNT(*)` (no DISTINCT, no FILTER
  *    clause) whose inputs `x` match a registered measure — a bare
  *    column or `CAST(col AS t)` (so the decimal-exact `dsum` shape
  *    rewrites too).
  *
  * Rewrites: SUM → SUM(mv.sum_x), COUNT → SUM(mv.cnt_x) (coalesced to
  * 0 to keep COUNT's non-nullable contract), MIN/MAX → MIN/MAX of the
  * per-group min/max. Output attributes keep the original exprIds and
  * data types (re-summed decimals are cast back down), so parent
  * operators never see the substitution.
  */
object Mv {

  /** One pre-aggregated measure column of an MV. */
  final case class Measure(kind: String, col: String, cast: Option[DataType], mvCol: String) {
    require(Set("sum", "min", "max", "count")(kind), s"unknown measure kind $kind")
  }

  final case class MvDef(
      name: String,
      basePath: String,
      mvPath: String,
      groupCols: Seq[String],
      measures: Seq[Measure],
      countStarCol: Option[String])

  private val registry = TrieMap.empty[String, MvDef]

  def register(d: MvDef): Unit = registry.put(d.name, d)
  def drop(name: String): Unit = registry.remove(name)
  def registered: Seq[MvDef] = registry.values.toSeq

  /** Materialize `base.groupBy(groupCols).agg(measures…)` to parquet
    * at `mvPath` and register the definition. Registration happens
    * strictly AFTER the write so the rewrite rule never routes the
    * materialization query (or anything else) to a half-written MV.
    */
  def create(
      base: DataFrame,
      name: String,
      basePath: String,
      mvPath: String,
      groupCols: Seq[String],
      measures: Seq[Measure],
      countStarCol: Option[String] = Some("cnt_star")): MvDef = {
    val aggCols = measures.map { m =>
      val in = m.cast.fold(col(m.col))(t => col(m.col).cast(t))
      val agg = m.kind match {
        case "sum" => sum(in)
        case "min" => min(in)
        case "max" => max(in)
        case "count" => count(in)
      }
      agg.as(m.mvCol)
    } ++ countStarCol.map(c => count(lit(1)).as(c)).toSeq
    base.groupBy(groupCols.map(col): _*)
      .agg(aggCols.head, aggCols.tail: _*)
      .write.mode("overwrite").parquet(mvPath)
    val d = MvDef(name, basePath, mvPath, groupCols, measures, countStarCol)
    // arm the rule in THIS session even without GraftExtensions (it is
    // idempotent, so coexisting with an injected copy is harmless)
    Registration.ensure(base.sparkSession, Nil, Seq(MvRewriteRule))
    register(d)
    d
  }

  private[plans] def findForPath(path: String): Option[MvDef] = {
    val target = new java.io.File(path).getAbsolutePath
    registry.values.find(d => new java.io.File(d.basePath).getAbsolutePath == target)
  }
}

/** The injected optimizer rule. Runs inside the operator-optimization
  * fixed point, so it must be (and is) idempotent: a rewritten plan
  * scans the MV path, which no registered definition claims as base.
  */
object MvRewriteRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (Mv.registered.isEmpty) plan
    else plan.transformUp {
      case agg: Aggregate =>
        try tryRewrite(agg).getOrElse(agg)
        catch { case scala.util.control.NonFatal(_) => agg }
    }
  }

  /** scan chain: relation + pending predicates + exprId→base-column. */
  private case class Chain(rel: LogicalRelation, preds: Seq[Expression], nameOf: Map[ExprId, String])

  private def destructure(p: LogicalPlan): Option[Chain] = p match {
    case rel: LogicalRelation =>
      Some(Chain(rel, Nil, rel.output.map(a => a.exprId -> a.name).toMap))
    case Filter(cond, child) =>
      destructure(child).map(c => c.copy(preds = c.preds :+ cond))
    case Project(list, child) =>
      destructure(child).flatMap { c =>
        val mapped = list.map {
          case a: AttributeReference => c.nameOf.get(a.exprId).map(a.exprId -> _)
          case al @ Alias(a: AttributeReference, _) => c.nameOf.get(a.exprId).map(al.exprId -> _)
          case _ => None
        }
        if (mapped.exists(_.isEmpty)) None
        else Some(c.copy(nameOf = c.nameOf ++ mapped.flatten))
      }
    case SubqueryAlias(_, child) => destructure(child)
    case _ => None
  }

  private def rootPath(rel: LogicalRelation): Option[String] = rel.relation match {
    case fs: HadoopFsRelation if fs.location.rootPaths.length == 1 =>
      Some(fs.location.rootPaths.head.toUri.getPath)
    case _ => None
  }

  /** Canonical (colName, castType) of a measure input expression. */
  private def inputOf(e: Expression, nameOf: Map[ExprId, String]): Option[(String, Option[DataType])] =
    e match {
      case a: AttributeReference => nameOf.get(a.exprId).map(n => (n, None))
      case c: Cast => c.child match {
        case a: AttributeReference => nameOf.get(a.exprId).map(n => (n, Some(c.dataType)))
        case _ => None
      }
      case _ => None
    }

  private def tryRewrite(agg: Aggregate): Option[Aggregate] = for {
    chain <- destructure(agg.child)
    base <- rootPath(chain.rel)
    mv <- Mv.findForPath(base)
    rewritten <- rewriteWith(agg, chain, mv)
  } yield rewritten

  private def rewriteWith(agg: Aggregate, chain: Chain, mv: Mv.MvDef): Option[Aggregate] = {
    val spark = SparkSession.active
    val groupSet = mv.groupCols.toSet

    // every grouping expr must be a plain base column that is an MV key
    val groupNames: Seq[Option[String]] = agg.groupingExpressions.map {
      case a: AttributeReference => chain.nameOf.get(a.exprId).filter(groupSet)
      case _ => None
    }
    if (groupNames.exists(_.isEmpty)) return None

    // filter predicates may only touch MV keys
    val predsOk = chain.preds.forall(_.references.forall(a =>
      chain.nameOf.get(a.exprId).exists(groupSet)))
    if (!predsOk) return None

    // fresh scan of the materialization (analysis only — no recursion)
    val mvPlan = spark.read.parquet(mv.mvPath).queryExecution.analyzed
    val mvAttr: Map[String, Attribute] = mvPlan.output.map(a => a.name -> a).toMap
    if (!(mv.groupCols ++ mv.measures.map(_.mvCol) ++ mv.countStarCol).forall(mvAttr.contains))
      return None

    def substAttrs(e: Expression): Option[Expression] = {
      var ok = true
      val out = e.transformUp {
        case a: AttributeReference =>
          chain.nameOf.get(a.exprId).filter(groupSet).flatMap(mvAttr.get) match {
            case Some(m) => m
            case None => ok = false; a
          }
      }
      if (ok) Some(out) else None
    }

    def rewriteAggExpr(ae: AggregateExpression): Option[Expression] = {
      if (ae.isDistinct || ae.filter.isDefined) return None
      def measure(kind: String, child: Expression): Option[Attribute] = for {
        (n, c) <- inputOf(child, chain.nameOf)
        m <- mv.measures.find(m => m.kind == kind && m.col == n && m.cast == c)
        a <- mvAttr.get(m.mvCol)
      } yield a
      ae.aggregateFunction match {
        case Sum(child, _) => measure("sum", child).map { a =>
          val re = ae.copy(aggregateFunction = Sum(a))
          if (re.dataType == ae.dataType) re else Cast(re, ae.dataType)
        }
        case Min(child) => measure("min", child).map(a => ae.copy(aggregateFunction = Min(a)))
        case Max(child) => measure("max", child).map(a => ae.copy(aggregateFunction = Max(a)))
        case Count(Seq(Literal(_, _))) => mv.countStarCol.flatMap(mvAttr.get).map { cnt =>
          Coalesce(Seq(ae.copy(aggregateFunction = Sum(cnt)), Literal(0L)))
        }
        case Count(Seq(child)) => measure("count", child).map { a =>
          Coalesce(Seq(ae.copy(aggregateFunction = Sum(a)), Literal(0L)))
        }
        case _ => None
      }
    }

    // expression-tree rewrite: aggregates are handled atomically (their
    // children are measure inputs, resolved against the MV's measure
    // columns, never substituted attr-by-attr); bare attrs outside an
    // aggregate must be grouping keys
    def rewriteExpr(e: Expression): Option[Expression] = e match {
      case ae: AggregateExpression => rewriteAggExpr(ae)
      case a: AttributeReference =>
        chain.nameOf.get(a.exprId).filter(groupSet).flatMap(mvAttr.get)
      case _ =>
        val kids = e.children.map(rewriteExpr)
        if (kids.exists(_.isEmpty)) None
        else Some(e.withNewChildren(kids.map(_.get)))
    }

    // rewrite each output expression; keep names, exprIds and types
    val newAggExprs: Seq[Option[NamedExpression]] = agg.aggregateExpressions.map {
      case a: AttributeReference =>
        chain.nameOf.get(a.exprId).filter(groupSet).flatMap(mvAttr.get)
          .map(m => Alias(m, a.name)(exprId = a.exprId))
      case al @ Alias(child, name) =>
        rewriteExpr(child)
          .filter(_.dataType == al.dataType)
          .map(c => Alias(c, name)(exprId = al.exprId))
      case _ => None
    }
    if (newAggExprs.exists(_.isEmpty)) return None

    val newGrouping = groupNames.map(n => mvAttr(n.get))
    val mvPlanFiltered = chain.preds.flatMap(substAttrs) match {
      case Nil => mvPlan
      case rewrittenPreds if rewrittenPreds.length == chain.preds.length =>
        rewrittenPreds.foldLeft(mvPlan)((p, c) => Filter(c, p))
      case _ => return None
    }
    val rewritten = Aggregate(newGrouping, newAggExprs.map(_.get), mvPlanFiltered)
    // Column-prune explicitly: this rule can run after the optimizer's
    // own pruning pass, so without a Project the MV scan would read
    // every MV column.
    val needed = rewritten.references
    val pruned =
      if (needed.size == mvPlan.output.size) rewritten
      else rewritten.copy(child =
        Project(mvPlanFiltered.output.filter(needed.contains), mvPlanFiltered))
    Some(pruned)
  }
}
