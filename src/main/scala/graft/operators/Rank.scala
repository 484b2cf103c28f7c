package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftDatasetFactory}
import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference, SortOrder}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.plans.{GlobalRankStrategy, GlobalRunningSum, Registration}

/** Scalable global ranking. `row_number() OVER (ORDER BY …)` with no
  * PARTITION BY plans as a single-partition WindowExec — every row
  * moves to ONE task (Spark itself warns "No Partition Defined").
  * These build the IDENTICAL ranking as one distributed plan node,
  * [[graft.plans.GlobalRunningSum]]; building the DataFrame runs no job.
  *
  * The order must be total (tie-break on a unique column) — the same
  * requirement the oracle-parity rules impose on every window in this
  * library (SURVEY.md §4). `totalCol`, when given, adds the grand total
  * (N for a row number) as a column, so callers need no count branch.
  * The input must be deterministic: one that needs no shuffle (a single
  * partition, or a rank on the same order) is evaluated twice.
  */
object Rank {

  /** Global row_number over `order` (a total order) as column `rankCol`. */
  def globalRowNumber(df: DataFrame, order: Seq[Column],
      rankCol: String = "row_num", totalCol: Option[String] = None): DataFrame =
    globalRunningSum(df, order, lit(1L), rankCol, totalCol)

  /** Global RUNNING SUM over a total order — `sum(v) OVER (ORDER BY …)`
    * as a distributed node. `value` is cast to long; NULL adds nothing.
    */
  def globalRunningSum(df: DataFrame, order: Seq[Column], value: Column,
      sumCol: String = "running_sum", totalCol: Option[String] = None): DataFrame = {
    val total = totalCol.getOrElse("__graft_total")
    Seq(sumCol, total).foreach(c => require(!df.columns.contains(c),
      s"column '$c' collides with an input column - pass a different name"))
    require(sumCol != total, s"sum and total columns are both named '$sumCol'")
    require(df.queryExecution.analyzed.deterministic, "a global rank needs a deterministic input")
    val spark = df.sparkSession
    Registration.ensure(spark, Seq(GlobalRankStrategy))
    val orders = order.map(c => GraftDatasetFactory.expression(c) match {
      case s: SortOrder => s
      case e => SortOrder(e, Ascending)
    })
    val out = GraftDatasetFactory.ofRows(spark, GlobalRunningSum(orders,
      GraftDatasetFactory.expression(value.cast("long")),
      AttributeReference(sumCol, LongType, nullable = false)(),
      AttributeReference(total, LongType, nullable = false)(),
      df.queryExecution.analyzed))
    if (totalCol.isEmpty) out.drop(total) else out
  }

  /** Global RANK() (ties share the smallest position) distributed:
    * row_number over a totalized order, then min-per-value-group — a
    * value-partitioned window, never a single-partition move. `values`
    * are the raw ranking value columns (tie groups); `order` the same
    * values with sort direction; `tiebreak` any unique column(s).
    * percent_rank at scale = (globalRank - 1) / (N - 1), N via `totalCol`.
    */
  def globalRank(df: DataFrame, values: Seq[Column], order: Seq[Column],
      tiebreak: Seq[Column], rankCol: String = "rank"): DataFrame = {
    require(!df.columns.contains(rankCol),
      s"rank column '$rankCol' collides with an input column - pass a different name")
    val rn = globalRowNumber(df, order ++ tiebreak, "__rn")
    rn.withColumn(rankCol, min(col("__rn")).over(Window.partitionBy(values: _*)))
      .drop("__rn")
  }
}
