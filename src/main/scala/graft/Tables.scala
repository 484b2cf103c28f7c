package graft

import org.apache.spark.sql.{DataFrame, GraftDatasetFactory, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.{Registration, SharedFrame, SharedFrameStrategy}

/** Parquet table loader for the driver-generated testdata layout
  * (`<dir>/<name>.parquet`). One function so every operator reads
  * through the same pushdown-friendly path, which plans without a job.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.ts is parquet TIMESTAMP(MICROS), which Spark reads as
    // TIMESTAMP_NTZ when the file marks it isAdjustedToUTC=false.
    // Normalize to TimestampType so every operator sees one shape. All
    // graft sessions run with session.timeZone=UTC, so the NTZ→LTZ
    // cast is value-preserving.
    val df = graft.sources.ParquetSchemas.read(spark, s"$dir/$name.parquet")
    if (name == "events" && df.schema("ts").dataType == org.apache.spark.sql.types.TimestampNTZType)
      df.withColumn("ts", col("ts").cast("timestamp"))
    else df
  }

  /** Ensure at least the session's shuffle width of partitions before
    * CPU-heavy per-row work (hashing, gram explosion). A local
    * single-file scan is ONE task, so everything narrow downstream of
    * it runs single-threaded; on a cluster the scan already has ≥
    * width splits and this adds nothing. The repartition only ships
    * the projected columns, so spread a slim projection, not the
    * full table. Call ONLY on scan-rooted frames (scan + filter +
    * project): the width probe plans the frame's RDD, and under AQE
    * a frame containing a shuffle would materialize its upstream
    * stages eagerly — once for the probe and again for the action.
    * It widens one reader's scan; [[shared]] is the exchange for a
    * frame that several readers of one query share.
    */
  def spread(df: DataFrame): DataFrame = {
    val width = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    if (df.rdd.getNumPartitions < width) df.repartition(width) else df
  }

  /** `df` as one exchange that every branch of a query reading it
    * shares ([[graft.plans.SharedFrame]]). AQE reuses an exchange, not
    * the operator above it, so without this each branch re-runs the
    * frame's root (a final aggregate, a projection fold). Use it where
    * a frame has two or more readers in one query; each reader gets the
    * frame's columns and rows as they are, and filters above the
    * exchange. Planning only: runs no job and persists nothing.
    */
  def shared(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    Registration.ensure(spark, Seq(SharedFrameStrategy))
    val plan = df.queryExecution.analyzed
    GraftDatasetFactory.ofRows(spark, SharedFrame(plan.output, plan))
  }
}
