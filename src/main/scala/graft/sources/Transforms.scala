package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Iceberg-style PARTITION TRANSFORMS with file-level pruning — the
  * other half of hidden partitioning next to [[Layouts]] (which
  * evolves Hive directory specs): here the transform itself is
  * RECORDED IN THE TABLE'S METADATA, the partition value never
  * appears in user queries, and scan planning turns a predicate on
  * the RAW source column into the exact set of files to open via
  * transform arithmetic alone (reference: the CDC landing is
  * "partitioned by" the source timestamp — docs/components/cdc.md —
  * and Iceberg's spec derives `days(ts)` / `bucket(n, key)` values
  * the reader never names).
  *
  * Layout:
  *   tableDir/data/__pv=<v>/…parquet   one directory per partition value
  *   tableDir/_spec                    "<transform>\t<sourceCol>[\t<n>]"
  *   tableDir/_pvals                   one partition value per line
  *
  * `land` repartitions by the derived value before the partitioned
  * write, so every value directory is written by exactly ONE task →
  * exactly one file per partition value; `n_files_read` below is
  * therefore the partition-value count and oracle-derivable from the
  * transform arithmetic. `_pvals` (the manifest) is written from the
  * directory listing after the write — planning reads ONLY this
  * sidecar, never a data footer: cost = one tiny file, independent of
  * data size. At 100 TB a day-range query opens the hit days and a
  * key lookup opens one bucket; everything else is never listed.
  *
  * Transforms:
  *   - `days(srcTimestamp)` — value = days since 1970-01-01 of the
  *     source timestamp (Iceberg's `days` transform exactly).
  *   - `bucket(n, srcKey)` — value = key mod n. (Iceberg specs
  *     murmur3-32 here; this engine's recorded bucket function is
  *     `mod`, deterministic and cross-engine reproducible — the
  *     planner and writer share whatever function the spec records,
  *     which is the property that matters.)
  */
object Transforms {

  private val PvCol = "__pv"

  sealed trait Transform {
    def sourceCol: String
    /** Partition value of a row, as BIGINT. */
    def derive: Column
    def specLine: String
  }
  /** `days(ts)`: days since epoch of a timestamp/date column. */
  final case class Days(sourceCol: String) extends Transform {
    def derive: Column =
      datediff(col(sourceCol).cast("date"), lit("1970-01-01").cast("date"))
        .cast("long")
    def specLine: String = s"days\t$sourceCol"
  }
  /** `bucket(n, key)`: key mod n over an integral key column — the
    * engine's LEGACY bucket function (pre-murmur3 tables recorded
    * `mod`; the recorded spec keeps them readable forever). New
    * tables should use [[MBucket]], the Iceberg-spec hash.
    */
  final case class Bucket(n: Int, sourceCol: String) extends Transform {
    require(n > 0, s"bucket count must be positive: $n")
    def derive: Column = pmod(col(sourceCol).cast("long"), lit(n.toLong))
    def specLine: String = s"bucket\t$sourceCol\t$n"
  }

  /** `mbucket(n, key)`: the Iceberg-SPEC bucket transform —
    * `(murmur3_x86_32(key) & Int.MaxValue) % n` with the spec's type
    * rules (integral keys hash their 8 little-endian bytes, strings
    * their UTF-8 bytes) via the codegen'd
    * [[graft.functions.IcebergBucketExpr]]. This is the transform a
    * real Iceberg reader/writer sharing the table computes, so both
    * engines agree on file placement bit-for-bit (reference:
    * docs/components/iceberg.md:6-7 + Iceberg spec Appendix B;
    * test vectors pinned in TransformsSpec).
    */
  final case class MBucket(n: Int, sourceCol: String) extends Transform {
    require(n > 0, s"bucket count must be positive: $n")
    def derive: Column =
      graft.functions.GraftFunctions.icebergBucket(col(sourceCol), n)
        .cast("long")
    def specLine: String = s"mbucket\t$sourceCol\t$n"
  }

  /** `hours(ts)` / `months(ts)` / `years(ts)`: the rest of Iceberg's
    * time-transform family next to [[Days]] — hours/months/years
    * since epoch (1970-01-01 / 1970-01). All monotone in the source
    * timestamp, so a raw time-range predicate prunes to a contiguous
    * value range ([[scanTimeRange]]). Months and years are the
    * coarser CDC-landing layouts a slowly-growing table wants (a
    * day-partitioned 100 TB table is millions of directories; a
    * month-partitioned one is thousands).
    */
  final case class Hours(sourceCol: String) extends Transform {
    def derive: Column = {
      val secs = col(sourceCol).cast("long")
      ((secs - pmod(secs, lit(3600L))) / 3600L).cast("long")
    }
    def specLine: String = s"hours\t$sourceCol"
  }
  final case class Months(sourceCol: String) extends Transform {
    def derive: Column =
      ((year(col(sourceCol)) - 1970) * 12 + month(col(sourceCol)) - 1)
        .cast("long")
    def specLine: String = s"months\t$sourceCol"
  }
  final case class Years(sourceCol: String) extends Transform {
    def derive: Column = (year(col(sourceCol)) - 1970).cast("long")
    def specLine: String = s"years\t$sourceCol"
  }

  /** `truncate(w, col)`: Iceberg's truncate transform over an
    * integral column — value floored to a multiple of the width,
    * `v - (v mod w)` with floor mod, so negatives land in the bucket
    * BELOW zero exactly as the spec requires. A range predicate on
    * the raw column prunes to the overlapped width-groups.
    */
  final case class TruncateLong(w: Long, sourceCol: String) extends Transform {
    require(w > 0, s"truncate width must be positive: $w")
    def derive: Column = {
      val c = col(sourceCol).cast("long")
      (c - pmod(c, lit(w))).cast("long")
    }
    def specLine: String = s"truncate\t$sourceCol\t$w"
  }

  /** Human DDL spelling of one recorded transform — the engine's own
    * round-trippable names (`mbucket` IS the Iceberg-spec murmur3
    * bucket; plain `bucket` is the legacy mod bucket old tables
    * recorded).
    */
  def showTransform(t: Transform): String = t match {
    case Days(c) => s"days($c)"
    case Hours(c) => s"hours($c)"
    case Months(c) => s"months($c)"
    case Years(c) => s"years($c)"
    case Bucket(n, c) => s"bucket($n, $c)"
    case MBucket(n, c) => s"mbucket($n, $c)"
    case TruncateLong(w, c) => s"truncate($w, $c)"
  }

  /** DDL spellings of the table's CURRENT partition fields (latest
    * `_specs` entry for spec-evolved tables, the single `_spec`
    * otherwise); empty when not transform-partitioned. A pure sidecar
    * read — metadata-only at any table size (SHOW CREATE TABLE's
    * partition clause).
    */
  def currentSpecShow(tableDir: String): Seq[String] =
    if (Files.exists(specsLedger(tableDir)))
      specs(tableDir).last._2.map(showTransform)
    else if (Files.exists(Paths.get(tableDir, "_spec")))
      Seq(showTransform(readSpec(tableDir)))
    else Seq.empty

  private def readSpec(tableDir: String): Transform = {
    val f = Paths.get(tableDir, "_spec")
    require(Files.exists(f), s"no transform spec at $tableDir")
    val p = Files.readAllLines(f, StandardCharsets.UTF_8).asScala
      .find(_.nonEmpty).get.split('\t')
    parseSpecParts(p)
  }

  private def parseSpecParts(p: Array[String]): Transform =
    p(0) match {
      case "days" => Days(p(1))
      case "hours" => Hours(p(1))
      case "months" => Months(p(1))
      case "years" => Years(p(1))
      case "bucket" => Bucket(p(2).toInt, p(1))
      case "mbucket" => MBucket(p(2).toInt, p(1))
      case "truncate" => TruncateLong(p(2).toLong, p(1))
      case other => throw new IllegalArgumentException(
        s"unknown transform '$other'")
    }

  /** The manifest: every partition value with a data directory. */
  def partitionValues(tableDir: String): Seq[Long] = {
    val f = Paths.get(tableDir, "_pvals")
    require(Files.exists(f), s"no partition manifest at $tableDir")
    Files.readAllLines(f, StandardCharsets.UTF_8).asScala.toSeq
      .filter(_.nonEmpty).map(_.toLong).sorted
  }

  /** Land `df` partitioned by `t`'s derived value (hidden — the
    * column is dropped from the data files' payload into the
    * directory key). One task per value → one file per value.
    */
  def land(spark: SparkSession, tableDir: String, df: DataFrame,
      t: Transform): Unit = {
    graft.functions.GraftFunctions.register(spark) // MBucket's expression
    Files.createDirectories(Paths.get(tableDir))
    // repartition PINNED at the session shuffle width: the unnumbered
    // repartition(col) lets AQE coalesce the tiny pre-write exchange
    // to ONE task, which then writes every partition-value file
    // SERIALLY — a many-directory landing (e.g. ~300 truncate groups)
    // measured 4.1 s single-task vs spread across the width (guide
    // §2.6 idle capacity; §6 the write is file-count-bound, not
    // byte-bound). Hash keeps one task per value → one file per value.
    val width = spark.sessionState.conf.numShufflePartitions
    df.withColumn(PvCol, t.derive)
      .repartition(width, col(PvCol))
      .write.mode(SaveMode.Overwrite).partitionBy(PvCol)
      .parquet(s"$tableDir/data")
    writeManifest(tableDir, t)
  }

  /** Manifest (+spec) rebuilt from the directory listing — what was
    * actually written, never what a writer intended.
    */
  private def writeManifest(tableDir: String, t: Transform): Unit = {
    val listing = Files.list(Paths.get(tableDir, "data"))
    val pvals =
      try listing.iterator().asScala
        .map(_.getFileName.toString)
        .filter(_.startsWith(s"$PvCol="))
        .map(_.stripPrefix(s"$PvCol=").toLong)
        .toSeq.sorted
      finally listing.close()
    Files.write(Paths.get(tableDir, "_spec"),
      s"${t.specLine}\n".getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.write(Paths.get(tableDir, "_pvals"),
      pvals.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
  }

  /** INCREMENTAL landing — the streaming/multi-batch variant of
    * [[land]] (the reference's CDC landing grows a day-partition at
    * a time as Debezium batches arrive, docs/components/cdc.md):
    * appends `df`'s rows into the value directories the transform
    * derives (a touched value gains one file per append — compaction
    * is [[land]]'s full rewrite or a per-directory pass), then
    * rebuilds the `_pvals` manifest so planning sees new partitions
    * immediately. The spec must match the table's recorded transform
    * — a writer cannot silently change the partitioning. `batchId`
    * makes replays idempotent: an id already in the `_batches`
    * ledger short-circuits (the foreachBatch at-least-once
    * contract); the ledger line is written AFTER the data lands, so
    * a crash mid-append re-runs the batch rather than losing it.
    * Micro-batches from one query arrive serially; this writer is
    * not safe under CONCURRENT multi-writer appends (the versioned
    * [[Snapshots]] store is the tool for that).
    */
  def append(spark: SparkSession, tableDir: String, df: DataFrame,
      t: Transform, batchId: Option[Long] = None): Unit = {
    val specF = Paths.get(tableDir, "_spec")
    if (Files.exists(specF))
      require(readSpec(tableDir).specLine == t.specLine,
        s"append with ${t.specLine} onto a ${readSpec(tableDir).specLine} table")
    val ledger = Paths.get(tableDir, "_batches")
    val seen = batchId.isDefined && Files.exists(ledger) &&
      Files.readAllLines(ledger, StandardCharsets.UTF_8).asScala
        .contains(batchId.get.toString)
    if (seen) return
    graft.functions.GraftFunctions.register(spark) // MBucket's expression
    Files.createDirectories(Paths.get(tableDir))
    // same width pin as [[land]]: a batch touching many partition
    // values must not collapse to one serial writer task
    df.withColumn(PvCol, t.derive)
      .repartition(spark.sessionState.conf.numShufflePartitions, col(PvCol))
      .write.mode(SaveMode.Append).partitionBy(PvCol)
      .parquet(s"$tableDir/data")
    writeManifest(tableDir, t)
    batchId.foreach(id => Files.write(ledger,
      s"$id\n".getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND))
  }

  /** Open exactly the directories for `kept` values. */
  private def readParts(spark: SparkSession, tableDir: String,
      kept: Seq[Long]): DataFrame =
    if (kept.isEmpty)
      spark.read.parquet(s"$tableDir/data").filter(lit(false)).drop(PvCol)
    else
      spark.read.parquet(kept.map(v => s"$tableDir/data/$PvCol=$v"): _*)

  /** Day-range scan with the predicate on the RAW timestamp column:
    * `[from, toExcl)` date strings. Planning = transform arithmetic
    * against the `_pvals` manifest (hit days only); the exact
    * row-level predicate trims nothing here (day-aligned bounds) but
    * is applied anyway — the residual-filter contract. Returns
    * (rows, filesRead, filesTotal).
    */
  def scanDays(spark: SparkSession, tableDir: String,
      from: String, toExcl: String): (DataFrame, Long, Long) = {
    val t = readSpec(tableDir) match {
      case d: Days => d
      case other => throw new IllegalArgumentException(
        s"scanDays on a ${other.specLine} table")
    }
    val lo = java.time.LocalDate.parse(from).toEpochDay
    val hi = java.time.LocalDate.parse(toExcl).toEpochDay
    val pvals = partitionValues(tableDir)
    val kept = pvals.filter(v => v >= lo && v < hi)
    val df = readParts(spark, tableDir, kept)
      .filter(col(t.sourceCol).cast("date") >= lit(from).cast("date") &&
        col(t.sourceCol).cast("date") < lit(toExcl).cast("date"))
    (df, kept.size.toLong, pvals.size.toLong)
  }

  /** Raw-timestamp range scan `[from, toExcl)` over ANY of the
    * monotone time transforms ([[Days]]/[[Hours]]/[[Months]]/
    * [[Years]]): the derived values of the bounds delimit the kept
    * partition directories (to-exclusive evaluated at `toExcl − 1µs`
    * so an exact boundary never opens the group above), and the
    * exact predicate applies as the residual filter — misaligned
    * bounds stay correct, just prune one extra edge group.
    * Timestamps parse as UTC (the engine's session convention).
    * Returns (rows, filesRead, filesTotal).
    */
  def scanTimeRange(spark: SparkSession, tableDir: String,
      from: String, toExcl: String): (DataFrame, Long, Long) = {
    val t = readSpec(tableDir)
    def parse(s: String) =
      java.time.LocalDateTime.parse(s.replace(' ', 'T'))
    def valueOf(dt: java.time.LocalDateTime): Long = t match {
      case Days(_) => dt.toLocalDate.toEpochDay
      case Hours(_) =>
        java.lang.Math.floorDiv(
          dt.toEpochSecond(java.time.ZoneOffset.UTC), 3600L)
      case Months(_) => (dt.getYear - 1970).toLong * 12 + dt.getMonthValue - 1
      case Years(_) => (dt.getYear - 1970).toLong
      case other => throw new IllegalArgumentException(
        s"scanTimeRange on a ${other.specLine} table")
    }
    val lo = valueOf(parse(from))
    val hi = valueOf(parse(toExcl).minusNanos(1000))
    val pvals = partitionValues(tableDir)
    val kept = pvals.filter(v => v >= lo && v <= hi)
    val df = readParts(spark, tableDir, kept)
      .filter(col(t.sourceCol).cast("timestamp") >= lit(from).cast("timestamp") &&
        col(t.sourceCol).cast("timestamp") < lit(toExcl).cast("timestamp"))
    (df, kept.size.toLong, pvals.size.toLong)
  }

  // ---- partition-spec EVOLUTION (Iceberg ADD PARTITION FIELD) ------
  // A table carries an append-only ledger of partition SPECS
  // (`_specs`: one line per spec, `<sid>|<specLine>[;<specLine>…]` —
  // '|' because specLines contain tabs), every data file lands under
  // the spec that was CURRENT when it was written
  // (`data/__spec=<sid>/__pv0=<v>[/__pv1=<w>]/…`), and evolving the
  // spec is ONE ledger line — zero data paths touched, exactly
  // Iceberg's ADD PARTITION FIELD. Scan planning prunes EACH file by
  // ITS OWN spec: old files keep pruning on the fields they record
  // and simply cannot prune on fields they predate — the defining
  // semantics of spec evolution (old data is never rewritten, it just
  // prunes coarser until a compaction rewrites it under the new
  // spec).

  private def specsLedger(tableDir: String) = Paths.get(tableDir, "_specs")

  private def parseSpecLine(s: String): Transform = parseSpecParts(s.split('\t'))

  /** The spec ledger, oldest first: (specId, partition fields). */
  def specs(tableDir: String): Seq[(Int, Seq[Transform])] = {
    val f = specsLedger(tableDir)
    require(Files.exists(f), s"no spec ledger at $tableDir")
    Files.readAllLines(f, StandardCharsets.UTF_8).asScala.toSeq
      .filter(_.nonEmpty).map { line =>
        val i = line.indexOf('|')
        (line.substring(0, i).toInt,
          line.substring(i + 1).split(';').toSeq.map(parseSpecLine))
      }
  }

  /** Create an evolvable table whose first spec is `ts`. */
  def createEvolved(tableDir: String, ts: Seq[Transform]): Unit = {
    require(ts.nonEmpty, "a partition spec needs at least one field")
    Files.createDirectories(Paths.get(tableDir))
    require(!Files.exists(specsLedger(tableDir)),
      s"spec ledger already exists at $tableDir")
    Files.write(specsLedger(tableDir),
      s"0|${ts.map(_.specLine).mkString(";")}\n"
        .getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
  }

  /** Iceberg `ALTER TABLE … ADD PARTITION FIELD`: the new current
    * spec = the old fields plus `t`. Metadata-only by construction —
    * the only write is the ledger line.
    */
  def addPartitionField(tableDir: String, t: Transform): Int = {
    val cur = specs(tableDir)
    val sid = cur.last._1 + 1
    Files.write(specsLedger(tableDir),
      s"$sid|${(cur.last._2 :+ t).map(_.specLine).mkString(";")}\n"
        .getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    sid
  }

  /** Land `df` under the CURRENT spec (one file per partition tuple —
    * the [[land]] invariant, so file counts stay oracle-derivable).
    */
  def appendEvolved(spark: SparkSession, tableDir: String,
      df: DataFrame): Unit = {
    graft.functions.GraftFunctions.register(spark) // MBucket's expression
    val (sid, ts) = specs(tableDir).last
    val pvCols = ts.indices.map(i => s"__pv$i")
    val withPv = ts.zipWithIndex.foldLeft(df) { case (d, (t, i)) =>
      d.withColumn(s"__pv$i", t.derive)
    }
    // same width pin as [[land]]: an unnumbered repartition(cols) lets
    // AQE coalesce the tiny pre-write exchange to one serial writer
    withPv.repartition(spark.sessionState.conf.numShufflePartitions,
        pvCols.map(col): _*)
      .write.mode(SaveMode.Append).partitionBy(pvCols: _*)
      .parquet(s"$tableDir/data/__spec=$sid")
  }

  /** Full logical read of a transform-partitioned table — the facade
    * catalog path (`SELECT * FROM t` on a hidden-partition table):
    * partition-key directories are discovery columns, and HIDDEN
    * partitioning means exactly that the user never sees them, so
    * every `__pv*`/`__spec` column is dropped. Works for both the
    * single-`_spec` layout (`data/__pv=…`) and the evolved `_specs`
    * layout (`data/__spec=…/__pvN=…` — per-file schemas may differ
    * across specs only in partition keys, which are dropped anyway).
    */
  def readAll(spark: SparkSession, tableDir: String): DataFrame = {
    def dropHidden(df: DataFrame): DataFrame = {
      val hidden = df.columns.filter(c =>
        c.startsWith(PvCol) || c == "__spec")
      df.drop(hidden.toIndexedSeq: _*)
    }
    if (Files.exists(specsLedger(tableDir))) {
      // per-spec subtrees have DIFFERENT partition-key arities — one
      // discovery over the whole tree conflicts; scan each spec's
      // subtree with its own discovery and union the logical rows
      val frames = specs(tableDir).map(_._1).distinct.flatMap { sid =>
        val p = Paths.get(tableDir, "data", s"__spec=$sid")
        if (Files.exists(p)) Some(dropHidden(spark.read.parquet(p.toString)))
        else None
      }
      require(frames.nonEmpty, s"no data at $tableDir")
      frames.reduce(_.unionByName(_))
    } else dropHidden(spark.read.parquet(s"$tableDir/data"))
  }

  /** Whether `tableDir` is a transform-partitioned table. */
  def isTransformTable(tableDir: String): Boolean =
    Files.exists(Paths.get(tableDir, "_spec")) ||
      Files.exists(specsLedger(tableDir))

  private def listLongDirs(dir: java.nio.file.Path,
      prefix: String): Seq[(Long, java.nio.file.Path)] = {
    val s = Files.list(dir)
    try s.iterator().asScala
      .filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith(prefix))
      .map(p => p.getFileName.toString.stripPrefix(prefix).toLong -> p)
      .toSeq.sortBy(_._1)
    finally s.close()
  }

  /** One entry per partition tuple of spec `sid`: (values, leaf dir). */
  private def specLeaves(tableDir: String, sid: Int,
      arity: Int): Seq[(Seq[Long], java.nio.file.Path)] = {
    val root = Paths.get(tableDir, "data", s"__spec=$sid")
    if (!Files.exists(root)) Seq.empty
    else (0 until arity).foldLeft(
      Seq((Seq.empty[Long], root))) { case (acc, i) =>
      acc.flatMap { case (vals, dir) =>
        listLongDirs(dir, s"__pv$i=").map { case (v, p) => (vals :+ v, p) }
      }
    }
  }

  /** Evolved-table scan with predicates on the RAW columns. Each spec
    * prunes by the fields IT records: a `days` field prunes against
    * `dayRange`, a `bucket` field against `keys`' buckets, and a spec
    * that predates a field keeps all its directories for that
    * predicate (coarser pruning, never wrong answers — the exact
    * row-level predicates are applied as residual filters). Returns
    * (rows, filesRead, filesTotal) with one file per tuple by the
    * landing invariant.
    */
  def scanEvolved(spark: SparkSession, tableDir: String,
      dayRange: Option[(String, String)] = None,
      keys: Option[Seq[Long]] = None): (DataFrame, Long, Long) = {
    val all = specs(tableDir)
    val lohi = dayRange.map { case (f, t) =>
      (java.time.LocalDate.parse(f).toEpochDay,
        java.time.LocalDate.parse(t).toEpochDay)
    }
    var read = 0L
    var total = 0L
    val kept: Seq[String] = all.flatMap { case (sid, ts) =>
      val leaves = specLeaves(tableDir, sid, ts.length)
      total += leaves.size
      val hit = leaves.filter { case (vals, _) =>
        ts.zip(vals).forall {
          case (Days(_), v) =>
            lohi.forall { case (lo, hi) => v >= lo && v < hi }
          case (b: Bucket, w) =>
            keys.forall(_.exists(k =>
              java.lang.Math.floorMod(k, b.n.toLong) == w))
          case (b: MBucket, w) =>
            keys.forall(_.exists(k =>
              graft.functions.IcebergMurmur3.bucketLong(k, b.n).toLong == w))
          case (t: TruncateLong, v) =>
            keys.forall(_.exists(k =>
              k - java.lang.Math.floorMod(k, t.w) == v))
          // coarser time fields in an evolved spec: kept (no pruning
          // on this field) — the residual filter keeps answers exact
          case (_: Hours | _: Months | _: Years, _) => true
        }
      }
      read += hit.size
      hit.map(_._2.toString)
    }
    val base =
      if (kept.nonEmpty) spark.read.parquet(kept: _*)
      else {
        val any = all.flatMap { case (sid, ts) =>
          specLeaves(tableDir, sid, ts.length)
        }
        require(any.nonEmpty, s"no data in evolved table $tableDir")
        spark.read.parquet(any.head._2.toString).filter(lit(false))
      }
    val dayCol = all.flatMap(_._2).collectFirst { case Days(c) => c }
    val keyCol = all.flatMap(_._2).collectFirst {
      case b: Bucket => b.sourceCol
      case b: MBucket => b.sourceCol
      case t: TruncateLong => t.sourceCol
    }
    var out = base
    for ((f, t) <- dayRange; c <- dayCol)
      out = out.filter(col(c).cast("date") >= lit(f).cast("date") &&
        col(c).cast("date") < lit(t).cast("date"))
    for (ks <- keys; c <- keyCol)
      out = out.filter(col(c).isin(ks: _*))
    (out, read, total)
  }

  /** Point lookups with the predicate on the RAW key column: opens
    * only the buckets the queried keys hash to — `mod` for the legacy
    * [[Bucket]] spec, the Iceberg murmur3 for [[MBucket]]; either
    * way planning is pure driver arithmetic against the `_pvals`
    * sidecar. Returns (rows, filesRead, filesTotal).
    */
  def scanKeys(spark: SparkSession, tableDir: String,
      keys: Seq[Long]): (DataFrame, Long, Long) = {
    val (srcCol, bucketOf) = readSpec(tableDir) match {
      case b: Bucket =>
        (b.sourceCol, (k: Long) => java.lang.Math.floorMod(k, b.n.toLong))
      case b: MBucket =>
        (b.sourceCol,
          (k: Long) => graft.functions.IcebergMurmur3.bucketLong(k, b.n).toLong)
      case other => throw new IllegalArgumentException(
        s"scanKeys on a ${other.specLine} table")
    }
    val pvals = partitionValues(tableDir)
    val want = keys.map(bucketOf).distinct.toSet
    val kept = pvals.filter(want)
    val df = readParts(spark, tableDir, kept)
      .filter(col(srcCol).isin(keys: _*))
    (df, kept.size.toLong, pvals.size.toLong)
  }

  /** [[scanKeys]] for STRING keys on an [[MBucket]] table — the spec
    * hashes the key's UTF-8 bytes, so a natural-key-bucketed table
    * (user ids, URLs) point-looks-up by opening one bucket per key.
    */
  def scanStringKeys(spark: SparkSession, tableDir: String,
      keys: Seq[String]): (DataFrame, Long, Long) = {
    val t = readSpec(tableDir) match {
      case b: MBucket => b
      case other => throw new IllegalArgumentException(
        s"scanStringKeys on a ${other.specLine} table (string keys need " +
          "the murmur3 spec)")
    }
    val pvals = partitionValues(tableDir)
    val want = keys
      .map(k => graft.functions.IcebergMurmur3.bucketString(k, t.n).toLong)
      .distinct.toSet
    val kept = pvals.filter(want)
    val df = readParts(spark, tableDir, kept)
      .filter(col(t.sourceCol).isin(keys: _*))
    (df, kept.size.toLong, pvals.size.toLong)
  }

  /** Range scan `[lo, hi)` on the RAW column of a [[TruncateLong]]
    * table: a width-`w` group starting at `v` overlaps iff
    * `v < hi && v + w > lo` — truncate is the one bucket-family
    * transform that PRESERVES ordering, which is exactly why Iceberg
    * recommends it for range-queried keys. The exact predicate is
    * applied as the residual filter (the group boundaries rarely
    * align with the range). Returns (rows, filesRead, filesTotal).
    */
  def scanRange(spark: SparkSession, tableDir: String,
      lo: Long, hiExcl: Long): (DataFrame, Long, Long) = {
    val t = readSpec(tableDir) match {
      case tr: TruncateLong => tr
      case other => throw new IllegalArgumentException(
        s"scanRange on a ${other.specLine} table")
    }
    val pvals = partitionValues(tableDir)
    val kept = pvals.filter(v => v < hiExcl && v + t.w > lo)
    val df = readParts(spark, tableDir, kept)
      .filter(col(t.sourceCol).cast("long") >= lo &&
        col(t.sourceCol).cast("long") < hiExcl)
    (df, kept.size.toLong, pvals.size.toLong)
  }
}
