package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Source/sink breadth — the lake-side formats the reference ingests
  * (parquet landing zones, CSV/JSON drops from Kafka Connect, ORC
  * interchange) plus layout tools (partitioned writes, the on-disk
  * organization that makes 100 TB scans prunable).
  */
object Sources {

  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  def readCsv(spark: SparkSession, path: String, header: Boolean = true): DataFrame =
    spark.read.option("header", header.toString).option("inferSchema", "true").csv(path)

  def readJson(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeCsv(df: DataFrame, path: String): Unit = {
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
  }

  def writeJson(df: DataFrame, path: String): Unit = {
    df.write.mode(SaveMode.Overwrite).json(path)
  }

  def writeOrc(df: DataFrame, path: String): Unit = {
    df.write.mode(SaveMode.Overwrite).orc(path)
  }

  /** Hive-style partitioned parquet: the partition column becomes the
    * directory key, so `WHERE part = x` prunes whole directories at
    * scan planning (the layout the reference's Iceberg tables get from
    * `partitioned by __source_ts` in docs/components/cdc.md).
    */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*).parquet(path)

  /** Dynamic partition overwrite — replace ONLY the partitions present
    * in `df`, leaving every other partition's files physically
    * untouched (Spark's `partitionOverwriteMode=dynamic`, scoped to
    * this one write). This is dbt-spark's default `incremental_
    * strategy: insert_overwrite`: a backfill recomputes an affected
    * day/month and swaps it wholesale — no join, no keys, and at
    * 100 TB the cost is the recomputed partitions, never the table.
    */
  def overwritePartitions(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Bucketed + sorted table: both sides of a fact⋈fact join bucketed
    * the same way join with NO shuffle exchange (each bucket pairs up
    * 1:1) — the layout that turns the biggest 100 TB join from a
    * full-cluster shuffle into local merges. Registered via
    * saveAsTable (bucketing metadata lives in the catalog).
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      numBuckets: Int, path: Option[String] = None): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** Small-file compaction — streaming/CDC ingest (one file per
    * micro-batch per partition, the reference's Kafka→Iceberg sink
    * pattern) degrades scans with open/footer overhead; periodically
    * rewrite to ~targetMB files. File count derives from actual input
    * bytes; sortCols (optional) co-locates hot predicate ranges so
    * row-group min/max stats prune after the rewrite. Reads + writes
    * are distributed; only file STATS are driver-side.
    */
  def compact(spark: SparkSession, inPath: String, outPath: String,
      targetMB: Int = 256, sortCols: Seq[String] = Nil): Long = {
    val df = spark.read.parquet(inPath)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val nFiles = math.max(1L,
      (bytes / (targetMB.toLong * 1024 * 1024)).toLong).toInt
    val laid =
      if (sortCols.nonEmpty)
        df.repartitionByRange(nFiles, sortCols.map(df.col): _*)
          .sortWithinPartitions(sortCols.map(df.col): _*)
      else df.repartition(nFiles)
    laid.write.mode(SaveMode.Overwrite).parquet(outPath)
    nFiles.toLong
  }

  /** A pruned read produced by [[readSkipping]]: the DataFrame over
    * only the surviving files, plus the skip accounting.
    */
  case class Skipped(df: DataFrame, selected: Int, total: Int)

  /** Land `df` range-clustered on a LONG column with a per-file
    * min/max stats manifest — Iceberg's metadata-based file skipping
    * (manifests record `lower_bounds`/`upper_bounds` per data file;
    * a predicate prunes files before any I/O). Clustering makes the
    * per-file ranges narrow, so skipping is effective; the stats
    * pass is one aggregation producing #files rows (manifest-sized).
    * The manifest lands as `_stats.tsv` (underscore-prefixed — Spark
    * file listing ignores it).
    */
  /** Per-file [lo, hi] bounds of LONG columns read from the parquet
    * FOOTERS — Iceberg's manifest-stats model: the writer already
    * recorded exact min/max per row group, so collecting write-time
    * stats is #files footer reads, never a second pass over the data
    * (the previous implementation re-scanned the whole table through
    * `groupBy(input_file_name())`; guide §6 — at 100 TB that second
    * pass is a full column scan for information the footers hold).
    * A column with no non-null value in a file yields None for that
    * dimension. Parquet long statistics are exact (truncation only
    * affects binary/string columns).
    */
  private def footerBounds(spark: org.apache.spark.sql.SparkSession,
      path: String, cols: Seq[String])
      : Seq[(String, Seq[Option[(Long, Long)]])] = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(conf)
    fs.listStatus(dir).toSeq
      .filter(f => f.getPath.getName.endsWith(".parquet"))
      .map { f =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            f.getPath, conf))
        try {
          val chunks = reader.getFooter.getBlocks.asScala
            .flatMap(_.getColumns.asScala)
          val bounds = cols.map { c =>
            val stats = chunks.filter(_.getPath.toDotString == c)
              .map(_.getStatistics)
              .filter(s => s != null && s.hasNonNullValue)
            if (stats.isEmpty) None
            else Some((
              stats.map(_.genericGetMin.asInstanceOf[Number].longValue).min,
              stats.map(_.genericGetMax.asInstanceOf[Number].longValue).max))
          }
          (f.getPath.toString, bounds)
        } finally reader.close()
      }
  }

  def landWithStats(df: DataFrame, path: String, statsCol: String,
      numFiles: Int): Unit = {
    require(df.schema(statsCol).dataType == org.apache.spark.sql.types.LongType,
      s"landWithStats clusters a BIGINT column, got ${df.schema(statsCol).dataType.sql}")
    df.repartitionByRange(numFiles, df.col(statsCol))
      .sortWithinPartitions(statsCol)
      .write.mode(SaveMode.Overwrite).parquet(path)
    val stats = footerBounds(df.sparkSession, path, Seq(statsCol))
      .collect { case (f, Seq(Some((lo, hi)))) => s"$f\t$lo\t$hi" }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path.stripPrefix("file:"), "_stats.tsv"),
      stats.sorted.mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Scan only the files whose recorded `[lo, hi]` intersects
    * `[qLo, qHi]` — file-granular, so callers still apply the exact
    * predicate as a residual (same contract as Iceberg skipping:
    * stats prune I/O, they don't evaluate the filter). All-NULL
    * files carry no bounds and are skipped (a BETWEEN never matches
    * NULL).
    */
  def readSkipping(spark: SparkSession, path: String, statsCol: String,
      qLo: Long, qHi: Long): Skipped = {
    import scala.jdk.CollectionConverters._
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(path.stripPrefix("file:"), "_stats.tsv")).asScala
    val all = lines.filter(_.nonEmpty).map { l =>
      val Array(f, lo, hi) = l.split('\t')
      (f, lo.toLong, hi.toLong)
    }
    val keep = all.filter { case (_, lo, hi) => hi >= qLo && lo <= qHi }
    val df =
      if (keep.isEmpty) spark.read.parquet(path).limit(0)
      else spark.read.parquet(keep.map(_._1).toSeq: _*)
    Skipped(df, keep.size, all.size)
  }

  /** Z-order landing — [[landWithStats]] generalized to TWO cluster
    * columns (Iceberg `rewrite_data_files(strategy => 'zorder')`):
    * each BIGINT column is linearly scaled to 16 bits over its global
    * [min, max] (one 1-row aggregate), the bits are interleaved into
    * one 32-bit z-value, and the write is a single range-shuffle on
    * z. Because z-neighbors are neighbors in BOTH dimensions, every
    * file's min/max range is narrow on each column SEPARATELY — so a
    * predicate on either column alone prunes files, where a
    * single-column sort gives pruning on the lead column only. The
    * two-column bounds manifest lands as `_stats2.tsv`; a column
    * whose bounds are all-NULL in a file carries no entry for that
    * dimension (a range predicate can't match NULL → skip).
    */
  /** Cluster `df` by the 2-D z-value of `(colA, colB)` into `n`
    * range partitions — the shared core of [[landZOrdered]] and
    * z-order write-order specs ([[clusterBySpec]]). Returns `df`
    * unchanged when the batch is empty (no bounds to scale against).
    */
  private def zCluster(df: DataFrame, colA: String, colB: String,
      n: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    Seq(colA, colB).foreach { c =>
      require(df.schema(c).dataType == org.apache.spark.sql.types.LongType,
        s"z-order clusters BIGINT columns, got ${df.schema(c).dataType.sql} ('$c')")
    }
    val b = df.agg(
      min(col(colA)), max(col(colA)), min(col(colB)), max(col(colB))).head()
    if (b.isNullAt(0)) return df // empty batch: nothing to cluster
    def scaled(c: String, lo: Long, hi: Long): org.apache.spark.sql.Column =
      if (hi == lo) lit(0L)
      else expr(s"((`$c` - ${lo}L) * 65535L) div ${hi - lo}L")
    val za = scaled(colA, b.getLong(0), b.getLong(1))
    val zb = scaled(colB, b.getLong(2), b.getLong(3))
    val z = (0 until 16).map { i =>
      shiftleft(shiftright(col("_za"), i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(col("_zb"), i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)  // disjoint bit positions: + == bitwise OR
    df.withColumn("_za", za).withColumn("_zb", zb).withColumn("_z", z)
      .repartitionByRange(n, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_za", "_zb", "_z")
  }

  private val ZOrderSpecRe =
    """(?i)^\s*zorder\s*\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*,\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)\s*$""".r

  /** Cluster a data batch per a table's declared write order (the
    * `write.sort-order` property): a comma-separated column list
    * range-clusters + in-partition sorts (narrow per-file bounds on
    * the lead column); `zorder(a, b)` bit-interleaves two LONG
    * columns (narrow bounds on BOTH independently). One shuffle into
    * the session's configured parallelism either way.
    */
  def clusterBySpec(df: DataFrame, spec: String): DataFrame = {
    val n = df.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "32").toInt
    spec match {
      case ZOrderSpecRe(a, b) =>
        val missing = Seq(a, b).filterNot(df.columns.contains)
        require(missing.isEmpty,
          s"write order ($spec) names columns absent from the batch: " +
            missing.mkString(", "))
        zCluster(df, a, b, n)
      case _ =>
        val cols = spec.split(',').map(_.trim).filter(_.nonEmpty).toSeq
        require(cols.nonEmpty, s"empty write-order spec: '$spec'")
        val missing = cols.filterNot(df.columns.contains)
        require(missing.isEmpty,
          s"write order ($spec) names columns absent from the batch: " +
            missing.mkString(", "))
        df.repartitionByRange(n, cols.map(df.col): _*)
          .sortWithinPartitions(cols.map(df.col): _*)
    }
  }

  def landZOrdered(df: DataFrame, path: String, colA: String, colB: String,
      numFiles: Int): Unit = {
    zCluster(df, colA, colB, numFiles)
      .write.mode(SaveMode.Overwrite).parquet(path)
    // two-column bounds from the footers (see footerBounds) — the
    // data is never re-read to build its own manifest
    val stats = footerBounds(df.sparkSession, path, Seq(colA, colB))
      .map { case (f, dims) =>
        def dim(d: Option[(Long, Long)]): String =
          d.fold("-\t-") { case (lo, hi) => s"$lo\t$hi" }
        s"$f\t${dim(dims.head)}\t${dim(dims(1))}"
      }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path.stripPrefix("file:"), "_stats2.tsv"),
      stats.sorted.mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Prune a [[landZOrdered]] layout on either (or both) dimensions:
    * a file survives when, for EVERY supplied range, its recorded
    * bounds on that dimension exist and intersect. Same contract as
    * [[readSkipping]]: stats prune I/O at file granularity; callers
    * still apply the exact predicate as a residual.
    */
  def readSkipping2(spark: SparkSession, path: String,
      qA: Option[(Long, Long)], qB: Option[(Long, Long)]): Skipped = {
    import scala.jdk.CollectionConverters._
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(path.stripPrefix("file:"), "_stats2.tsv")).asScala
    val all = lines.filter(_.nonEmpty).map { l =>
      val Array(f, loA, hiA, loB, hiB) = l.split('\t')
      (f, (loA, hiA), (loB, hiB))
    }
    def hit(bounds: (String, String), q: Option[(Long, Long)]): Boolean =
      q match {
        case None => true
        case Some((qLo, qHi)) =>
          bounds._1 != "-" && bounds._2.toLong >= qLo && bounds._1.toLong <= qHi
      }
    val keep = all.filter { case (_, ba, bb) => hit(ba, qA) && hit(bb, qB) }
    val df =
      if (keep.isEmpty) spark.read.parquet(path).limit(0)
      else spark.read.parquet(keep.map(_._1).toSeq: _*)
    Skipped(df, keep.size, all.size)
  }

  /** Build a secondary point-lookup index over a landed layout: one
    * (key, file) row per distinct key-in-file occurrence — the
    * covering-index idea (Hyperspace / Delta bloom indexes) for point
    * queries on a column the layout is NOT clustered by, where
    * min/max stats prune nothing (every file spans the key domain).
    * The build is one distinct-projection aggregate over the table;
    * the index is itself a parquet table, read with a pushed-down key
    * predicate at lookup time. Index size ∝ Σ per-file distinct keys
    * — rows, not data.
    */
  /** Full per-file stats manifest (file, rows, lo, hi) for a column —
    * ONE manifest-sized aggregate at write time. Enables
    * METADATA-ONLY answers: COUNT(*) = Σ rows, MIN/MAX = min lo /
    * max hi, read from the manifest without touching a data file.
    */
  def writeStatsManifest(spark: SparkSession, path: String, statsCol: String): Unit = {
    import org.apache.spark.sql.functions._
    val stats = spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n"),
        min(col(statsCol)).as("lo"), max(col(statsCol)).as("hi"))
      .collect() // #files rows — manifest-sized, not data-sized
      .map(r => s"${r.getString(0)}\t${r.getLong(1)}\t${r.get(2)}\t${r.get(3)}")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path.stripPrefix("file:"), "_full_stats.tsv"),
      stats.sorted.mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Answer (rows, min, max) from `_full_stats.tsv` ALONE — the
    * Iceberg metadata-only query path: planning cost is the manifest
    * read; no cluster job, no data file opened. At 100 TB this is
    * why `SELECT count(*)` on an Iceberg table returns in
    * milliseconds.
    */
  def statsOnlyAnswer(path: String): (Long, Long, Long) = {
    import scala.jdk.CollectionConverters._
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(path.stripPrefix("file:"), "_full_stats.tsv")).asScala
    val rows = lines.filter(_.nonEmpty).map(_.split('\t'))
    (rows.map(_(1).toLong).sum,
      rows.map(_(2).toLong).min,
      rows.map(_(3).toLong).max)
  }

  /** Per-file BLOOM index: m-bit filter with k=2 hash functions (two
    * 32-bit slices of one md5), stored as each file's sorted
    * occupied-bit array. Index size is O(files × min(2·keys, m))
    * ints — INDEPENDENT of key cardinality, which is exactly where
    * [[buildPointIndex]]'s exact key→file map stops scaling (a 100 TB
    * table with billions of distinct keys gets a billions-row index;
    * the bloom stays at m bits per file, at the price of a tunable
    * false-positive rate — a fp costs one wasted file scan, never a
    * wrong result: callers still apply the exact residual predicate).
    */
  def buildBloomIndex(spark: SparkSession, path: String, keyCol: String,
      indexPath: String, mBits: Int): Unit = {
    import org.apache.spark.sql.functions._
    val m = lit(mBits.toLong)
    spark.read.parquet(path)
      .select(input_file_name().as("file"),
        md5(col(keyCol).cast("string").cast("binary")).as("h"))
      .select(col("file"), explode(array(
        conv(substring(col("h"), 1, 8), 16, 10).cast("long") % m,
        conv(substring(col("h"), 9, 8), 16, 10).cast("long") % m)).as("bit"))
      .groupBy(col("file"))
      // bounded: ≤ min(2·distinct keys, mBits) elements per file
      .agg(sort_array(collect_set(col("bit"))).as("bits"))
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(indexPath)
  }

  /** Point lookup through the bloom index: a file is a candidate for
    * key k iff BOTH of k's bit positions are set in its filter; read
    * only candidate files, exact predicate applied by the caller as a
    * residual (same contract as [[readSkipping]]).
    */
  def lookupByBloom(spark: SparkSession, path: String, indexPath: String,
      keyCol: String, keys: Seq[Long], mBits: Int): Skipped = {
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    // the probe bit pairs — |keys| of them, computed with the same
    // md5-slice family the index was built with
    val md = java.security.MessageDigest.getInstance("MD5")
    val probeBits = keys.map { k =>
      val hex = md.digest(k.toString.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      (java.lang.Long.parseLong(hex.substring(0, 8), 16) % mBits,
        java.lang.Long.parseLong(hex.substring(8, 16), 16) % mBits)
    }
    val cond = probeBits.map { case (b1, b2) =>
      array_contains(col("bits"), b1) && array_contains(col("bits"), b2)
    }.reduce(_ || _)
    val files = spark.read.parquet(indexPath)
      .filter(cond).select(col("file")).distinct()
      .collect().map(_.getString(0)) // bounded by the candidate files
    val listing = java.nio.file.Files.list(
      java.nio.file.Paths.get(path.stripPrefix("file:")))
    val total =
      try listing.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
      finally listing.close()
    val df =
      if (files.isEmpty) spark.read.parquet(path).limit(0)
      else spark.read.parquet(files.toSeq: _*)
    Skipped(df, files.length, total)
  }

  def buildPointIndex(spark: SparkSession, path: String, keyCol: String,
      indexPath: String): Unit = {
    import org.apache.spark.sql.functions._
    spark.read.parquet(path)
      .select(col(keyCol), input_file_name().as("file"))
      .distinct()
      .coalesce(4)
      .write.mode(SaveMode.Overwrite).parquet(indexPath)
  }

  /** Point lookup through the index: scan the index with the key
    * predicate (pushed down), read ONLY the files that contain a
    * queried key, apply the exact predicate as a residual. The
    * driver-side file list is bounded by the files the keys actually
    * live in (≈ keys × rows-per-key), never the table size.
    */
  def lookupByIndex(spark: SparkSession, path: String, indexPath: String,
      keyCol: String, keys: Seq[Long]): Skipped = {
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    val files = spark.read.parquet(indexPath)
      .filter(col(keyCol).isin(keys: _*))
      .select(col("file")).distinct()
      .collect().map(_.getString(0)) // bounded: files containing the keys
    val listing = java.nio.file.Files.list(
      java.nio.file.Paths.get(path.stripPrefix("file:")))
    val total =
      try listing.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
      finally listing.close()
    val df =
      if (files.isEmpty) spark.read.parquet(path).limit(0)
      else spark.read.parquet(files.toSeq: _*)
    Skipped(df, files.length, total)
  }
}
