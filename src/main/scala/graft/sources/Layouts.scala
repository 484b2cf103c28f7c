package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Partition-spec EVOLUTION over a Hive-partitioned landing — the
  * Iceberg hidden-partitioning headline the reference's CDC tables
  * rely on (docs/components/cdc.md: tables `partitioned by
  * __source_ts`; Iceberg's layout feature is changing that spec —
  * e.g. month → day as a table grows — WITHOUT rewriting old files:
  * old files keep the old layout, and queries prune across both).
  *
  * Layout:
  *   tableDir/spec=<id>/<partCol>=<value>/…parquet   data, per spec
  *   tableDir/_layout                                "<id>\t<transform>" per spec
  *
  * Partitioning is HIDDEN: writers and readers name only the source
  * time column. [[append]] derives the current spec's partition value
  * from it; [[scan]] turns the ONE user-facing date range into a
  * per-spec DIRECTORY predicate (month dirs pruned by month bounds,
  * day dirs by day bounds) plus the exact row-level filter, then
  * unions the specs. Only the tiny `_layout` record (a few bytes per
  * evolution) is driver-side metadata — data moves stay distributed,
  * and evolving the spec never touches existing files.
  *
  * Transforms are ordered coarse→fine by zero-padded formats, so
  * every partition predicate is a lexicographic range over directory
  * names — the property that keeps pruning a pure planning-time
  * string comparison at any scale.
  */
object Layouts {

  /** A partition transform over the table's time column. */
  sealed abstract class Transform(val name: String, val partCol: String,
      format: String) {
    /** Derived partition value for a row. */
    def derive(dateCol: Column): Column = date_format(dateCol, format)
    /** Directory-range literal for an inclusive date-string bound. */
    def bound(date: String): String = date.take(format.length)
  }
  case object ByMonth extends Transform("month", "p_month", "yyyy-MM")
  case object ByDay extends Transform("day", "p_day", "yyyy-MM-dd")

  def transform(name: String): Transform = name match {
    case ByMonth.name => ByMonth
    case ByDay.name => ByDay
    case other => throw new IllegalArgumentException(
      s"unknown partition transform '$other' (have: month, day)")
  }

  private def layoutFile(tableDir: String) = Paths.get(tableDir, "_layout")

  /** All specs, ascending id order (empty if the table is unborn). */
  def specs(tableDir: String): Seq[(Int, Transform)] = {
    val f = layoutFile(tableDir)
    if (!Files.exists(f)) Seq.empty
    else Files.readAllLines(f, StandardCharsets.UTF_8).asScala.toSeq
      .filter(_.nonEmpty).map { line =>
        val parts = line.split('\t')
        (parts(0).toInt, transform(parts(1)))
      }.sortBy(_._1)
  }

  /** Declare the table's (next) partition spec. First call creates the
    * table's layout record; later calls EVOLVE it — existing spec
    * directories are untouched (that is the point). Idempotent when
    * the current spec already has this transform. Returns the spec id
    * now current.
    */
  def evolveTo(tableDir: String, t: Transform): Int = {
    val cur = specs(tableDir)
    cur.lastOption match {
      case Some((id, tr)) if tr == t => id
      case last =>
        Files.createDirectories(Paths.get(tableDir))
        val id = last.map(_._1 + 1).getOrElse(0)
        Files.write(layoutFile(tableDir),
          s"$id\t${t.name}\n".getBytes(StandardCharsets.UTF_8),
          StandardOpenOption.CREATE, StandardOpenOption.APPEND)
        id
    }
  }

  /** Append `df` under the CURRENT spec, Hive-partitioned by the
    * derived value of `dateCol`. Repartitioned by the partition value
    * first, so each directory lands as one file per write (the
    * streaming/CDC ingest shape) instead of one per upstream task.
    */
  def append(spark: SparkSession, tableDir: String, df: DataFrame,
      dateCol: String): Unit = {
    val (id, t) = specs(tableDir).lastOption.getOrElse(
      throw new IllegalStateException(
        s"no partition spec declared at $tableDir — call evolveTo first"))
    val withPart = df.withColumn(t.partCol, t.derive(col(dateCol)))
    // width-pinned like Transforms.land: an unnumbered repartition(col)
    // lets AQE coalesce the tiny pre-write exchange to ONE task that
    // writes every partition directory serially (guide §2.6/§6)
    withPart.repartition(spark.sessionState.conf.numShufflePartitions,
        col(t.partCol))
      .write.mode(SaveMode.Append).partitionBy(t.partCol)
      .parquet(s"$tableDir/spec=$id")
  }

  /** Scan an inclusive `[from, to]` date range (strings `yyyy-MM-dd`)
    * across EVERY spec the table has ever had. Per spec: the range is
    * coarsened to that spec's granularity and applied to its partition
    * column — a pure directory prune at planning time (the scan's
    * PartitionFilters; WarehouseSpec asserts it for both layouts) —
    * then the exact row filter on `dateCol` trims the boundary
    * partitions. Specs whose directory holds no data yet are skipped.
    */
  def scan(spark: SparkSession, tableDir: String, dateCol: String,
      from: String, to: String): DataFrame = {
    val parts = specs(tableDir).flatMap { case (id, t) =>
      val dir = Paths.get(tableDir, s"spec=$id")
      if (!Files.exists(dir)) None
      else Some {
        spark.read.parquet(dir.toString)
          .filter(col(t.partCol) >= lit(t.bound(from)) &&
            col(t.partCol) <= lit(t.bound(to)))
          .filter(col(dateCol).cast("date")
            .between(lit(from).cast("date"), lit(to).cast("date")))
          .drop(t.partCol)
      }
    }
    require(parts.nonEmpty, s"no data landed at $tableDir")
    parts.reduce(_.unionByName(_))
  }
}
