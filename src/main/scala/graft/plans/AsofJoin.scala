package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftDatasetFactory}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** As-of join as a first-class operator — custom-op ladder rung (c):
  * LogicalPlan + SparkStrategy + SparkPlan.
  *
  * Spark has no native as-of join between two relations; the
  * compositional fallback (tag + union + running `last(ignoreNulls)`
  * window, see q20) forces both sides into one schema and one big
  * sort. This operator instead broadcasts the (small) right side as a
  * key → time-sorted-rows index and binary-searches per left row:
  * zero shuffles of the left side, O(log m) per probe — the
  * broadcast-dimension pattern at 100 TB.
  *
  * Semantics: LEFT OUTER as-of — each left row picks the right row
  * with the greatest (rightTime, tieBreak) such that
  * `rightTime <= leftTime`; unmatched left rows emit NULL right
  * columns. Times must evaluate to integral/timestamp values.
  */
case class AsofJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression,
    rightTieBreak: Expression) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinPlan =
    copy(left = newLeft, right = newRight)
}

case class AsofJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression,
    rightTieBreak: Expression) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  private def toLong(v: Any): Long = v match {
    case l: Long => l
    case i: Int => i.toLong
    case s: Short => s.toLong
    case b: Byte => b.toLong
    case other => throw new IllegalArgumentException(
      s"as-of time/tiebreak must be integral or timestamp, got $other")
  }

  private def isNullKey(v: Any): Boolean = v == null

  override protected def doExecute(): RDD[InternalRow] = {
    // Build the broadcast index: key -> rows sorted by (time, tiebreak).
    // Like Spark's own BroadcastExchange, the build side is collected
    // to the driver — and like it, that collect must fail LOUDLY past
    // a cap instead of OOMing the driver at scale. executeTake(cap+1),
    // NOT executeCollect: take is incremental (scans partitions until
    // it has enough rows), so an oversized side trips the cap without
    // ever materializing more than cap+1 rows driver-side.
    val maxRows = conf.getConfString(AsofJoinExec.MAX_BUILD_ROWS_KEY,
      AsofJoinExec.MAX_BUILD_ROWS_DEFAULT.toString).toLong
    require(maxRows > 0, s"${AsofJoinExec.MAX_BUILD_ROWS_KEY} must be positive: $maxRows")
    // clamp BEFORE the +1: a Long.MaxValue "unlimited" cap must not
    // overflow into executeTake(0) and silently build an empty index
    val takeN = (math.min(maxRows, Int.MaxValue - 1L) + 1L).toInt
    val collected = right.executeTake(takeN)
    if (collected.length > maxRows) {
      throw new IllegalStateException(
        s"As-of join build side exceeds the " +
          s"${AsofJoinExec.MAX_BUILD_ROWS_KEY}=$maxRows cap. The right side is " +
          "collected into a driver-broadcast index - filter or pre-aggregate it " +
          "(or raise the cap if the driver genuinely has the memory).")
    }
    val rKey = BindReferences.bindReference(rightKey, right.output)
    val rTime = BindReferences.bindReference(rightTime, right.output)
    val rTie = BindReferences.bindReference(rightTieBreak, right.output)
    val grouped = mutable.HashMap.empty[Any, mutable.ArrayBuffer[(Long, Long, InternalRow)]]
    collected.foreach { row =>
      val r = row.copy()
      val k = rKey.eval(r)
      val t = rTime.eval(r)
      val tb = rTie.eval(r)
      // SQL join semantics: a NULL key never equals anything, and a
      // NULL time can never satisfy `rightTime <= leftTime` — such
      // rows are unmatchable, so they are dropped from the index
      // (NOT filed under a shared null bucket, which would wrongly
      // match NULL-keyed left rows to each other)
      if (!isNullKey(k) && t != null && tb != null) {
        grouped.getOrElseUpdate(k, mutable.ArrayBuffer.empty) +=
          ((toLong(t), toLong(tb), r))
      }
    }
    val index: Map[Any, Array[(Long, Long, InternalRow)]] =
      grouped.map { case (k, buf) => k -> buf.sortBy(e => (e._1, e._2)).toArray }.toMap
    val bc = sparkContext.broadcast(index)

    val leftOut = left.output
    val rightArity = right.output.size
    val outAttrs = output
    left.execute().mapPartitions { iter =>
      val lKey = BindReferences.bindReference(leftKey, leftOut)
      val lTime = BindReferences.bindReference(leftTime, leftOut)
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(rightArity)
      val proj = UnsafeProjection.create(outAttrs.map(_.asInstanceOf[Expression]), outAttrs)
      val idx = bc.value
      iter.map { lrow =>
        val lt = lTime.eval(lrow)
        val lk = lKey.eval(lrow)
        // NULL left key or time: no right row can match (SQL
        // semantics) — emit the NULL-padded outer row
        val arr =
          if (lk == null || lt == null) null
          else idx.getOrElse(lk, null)
        val t = if (lt == null) 0L else toLong(lt)
        var best: InternalRow = null
        if (arr != null) {
          // binary search: greatest position with time <= t
          var lo = 0
          var hi = arr.length - 1
          while (lo <= hi) {
            val mid = (lo + hi) >>> 1
            if (arr(mid)._1 <= t) lo = mid + 1 else hi = mid - 1
          }
          if (hi >= 0) best = arr(hi)._3
        }
        joined(lrow, if (best == null) nullRight else best)
        proj(joined)
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)
}

object AsofJoinExec {
  /** Session conf capping the driver-collected build side. */
  val MAX_BUILD_ROWS_KEY = "spark.graft.asof.maxBuildRows"
  val MAX_BUILD_ROWS_DEFAULT = 5000000L

  /** Plan-time fallback threshold: when Catalyst's size estimate for
    * the build side exceeds this, [[Asof.join]] plans the shuffle-based
    * window composition instead of the broadcast index (which would
    * trip the row cap at runtime). Estimated bytes, so it is a
    * conservative gate — the runtime row cap above stays as the hard
    * guard for when stats under-estimate.
    */
  val FALLBACK_BYTES_KEY = "spark.graft.asof.fallbackBytes"
  val FALLBACK_BYTES_DEFAULT: Long = 1L << 30 // ~5M rows x ~200 B
}

/** Optimizer rule: push left-side-only filters below AsofJoinPlan.
  * Catalyst's PushDownPredicate doesn't know custom nodes, so without
  * this a `WHERE` on left columns filters AFTER the join — at 100 TB
  * that is the difference between probing every left row and probing
  * the selected ones (and the parquet scan losing the pushed filter).
  * Left-side filters can't change join results for remaining rows
  * (each output row depends only on its own left row), so the rewrite
  * is semantics-preserving.
  */
object PushFilterThroughAsofJoin
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {
  import org.apache.spark.sql.catalyst.plans.logical.Filter

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, aj: AsofJoinPlan) =>
      val (leftOnly, rest) = splitConjunctivePredicates(cond)
        .partition(_.references.subsetOf(aj.left.outputSet))
      if (leftOnly.isEmpty) f
      else {
        val pushed = aj.copy(left = Filter(leftOnly.reduce(
          org.apache.spark.sql.catalyst.expressions.And), aj.left))
        rest.reduceOption(org.apache.spark.sql.catalyst.expressions.And)
          .map(Filter(_, pushed)).getOrElse(pushed)
      }
  }
}

/** Planner strategy mapping the logical node to the exec. */
object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoinPlan(l, r, lk, rk, lt, rt, tb) =>
      AsofJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, tb) :: Nil
    case _ => Nil
  }
}

/** Public API for the as-of join operator. */
object Asof {

  /** LEFT OUTER as-of join: for each left row, the latest right row
    * (by rightTime, tie-broken by rightTieBreak) with
    * `rightTime <= leftTime` and equal keys. Right columns must not
    * collide with left column names — rename them first.
    *
    * Physical strategy is picked at plan time from Catalyst's size
    * estimate of the build side: small → broadcast-index
    * [[AsofJoinExec]] (zero left-side shuffles); past
    * `spark.graft.asof.fallbackBytes` → the shuffle-based window
    * composition ([[composed]]), which handles a build side of ANY
    * size. Same semantics either way.
    */
  def join(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      rightTieBreak: String): DataFrame = {
    val spark = left.sparkSession
    Registration.ensure(spark, Seq(AsofJoinStrategy), Seq(PushFilterThroughAsofJoin))
    val dup = left.columns.toSet.intersect(right.columns.toSet)
    require(dup.isEmpty, s"rename right-side columns colliding with left: $dup")
    val fallbackBytes = BigInt(spark.conf
      .get(AsofJoinExec.FALLBACK_BYTES_KEY,
        AsofJoinExec.FALLBACK_BYTES_DEFAULT.toString).toLong)
    val buildBytes = right.queryExecution.optimizedPlan.stats.sizeInBytes
    if (buildBytes > fallbackBytes)
      return composed(left, right, leftKey, rightKey, leftTime, rightTime,
        rightTieBreak)
    val lp = left.queryExecution.analyzed
    val rp = right.queryExecution.analyzed
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"column '$n' not found in [${p.output.map(_.name).mkString(", ")}]"))
    GraftDatasetFactory.ofRows(spark, AsofJoinPlan(lp, rp,
      attr(lp, leftKey), attr(rp, rightKey),
      attr(lp, leftTime), attr(rp, rightTime), attr(rp, rightTieBreak)))
  }

  /** The any-size as-of plan: tag both sides, union, and carry the
    * latest right row per key with a running `last(ignoreNulls)` over
    * (time, side, tiebreak) — one shuffle of (left ∪ right) on the
    * key, no driver materialization, no broadcast. The q20 composition
    * generalized to arbitrary schemas.
    *
    * Ordering encodes the as-of contract exactly as the exec's binary
    * search does: right rows sort BEFORE left rows at equal time
    * (`rightTime <= leftTime` is inclusive), and among right rows at
    * equal time the greatest tiebreak is carried last. Right rows with
    * NULL key/time/tiebreak are unmatchable and dropped; left rows
    * with NULL key/time sort before every right row in their partition
    * and emit NULL padding — identical to the exec's NULL semantics.
    */
  def composed(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      rightTieBreak: String): DataFrame = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.expressions.Window
    // no wildcard: functions.left/right would shadow the parameters
    import org.apache.spark.sql.functions.{col, last, lit, struct, unix_date, unix_micros}
    import org.apache.spark.sql.types.{ByteType, DateType, IntegerType, LongType, ShortType, TimestampType}
    val P = "__graft_asof_"
    // times/tiebreaks compare as the exec's toLong does: timestamps by
    // their microsecond value, dates by their epoch-day Int (a direct
    // date→long cast is an invalid Cast and would fail analysis),
    // integrals widened. Anything else throws — EXACTLY like the
    // exec's toLong: a double/string time column must fail loudly on
    // both paths, not silently truncate on this one once the build
    // side crosses the fallback threshold.
    def asLong(df: DataFrame, c: String): Column =
      df.schema(c).dataType match {
        case TimestampType => unix_micros(col(c))
        case DateType => unix_date(col(c)).cast("long")
        case ByteType | ShortType | IntegerType | LongType => col(c).cast("long")
        case other => throw new IllegalArgumentException(
          s"as-of time/tiebreak must be integral or timestamp, got $other ('$c')")
      }
    val lStruct = struct(left.columns.map(col): _*)
    val rStruct = struct(right.columns.map(col): _*)
    val lStructType = left.select(lStruct).schema.head.dataType
    val rStructType = right.select(rStruct).schema.head.dataType
    val lPart = left.select(
      col(leftKey).as(s"${P}k"),
      asLong(left, leftTime).as(s"${P}t"),
      lit(1).as(s"${P}side"),
      lit(null).cast("long").as(s"${P}tb"),
      lit(null).cast(rStructType).as(s"${P}r"),
      lStruct.as(s"${P}l"))
    val rPart = right
      .filter(col(rightKey).isNotNull && col(rightTime).isNotNull &&
        col(rightTieBreak).isNotNull)
      .select(
        col(rightKey).as(s"${P}k"),
        asLong(right, rightTime).as(s"${P}t"),
        lit(0).as(s"${P}side"),
        asLong(right, rightTieBreak).as(s"${P}tb"),
        rStruct.as(s"${P}r"),
        lit(null).cast(lStructType).as(s"${P}l"))
    val w = Window.partitionBy(col(s"${P}k"))
      .orderBy(col(s"${P}t").asc_nulls_first, col(s"${P}side").asc,
        col(s"${P}tb").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = lPart.unionByName(rPart)
      .withColumn(s"${P}rc", last(col(s"${P}r"), ignoreNulls = true).over(w))
      .filter(col(s"${P}side") === 1)
    val outCols =
      left.columns.map(c => col(s"${P}l.$c").as(c)) ++
        right.columns.map(c => col(s"${P}rc.$c").as(c))
    carried.select(outCols: _*)
  }
}
