package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.IcebergMurmur3

/** Iceberg-style HIDDEN PARTITIONING with spec evolution and
  * file-level pruning: the partition transforms are RECORDED IN THE
  * TABLE'S METADATA, the partition values never appear in user
  * queries, and scan planning turns a predicate on the RAW source
  * column into the exact set of files to open via transform
  * arithmetic alone (reference: the CDC landing is "partitioned by"
  * the source timestamp — docs/components/cdc.md — and Iceberg's spec
  * derives `days(ts)` / `bucket(n, key)` values the reader never
  * names).
  *
  * Layout:
  *   tableDir/_specs        the spec ledger, oldest first: one line per
  *                          spec, `<sid>|<specLine>[;<specLine>…]`
  *                          ('|' and ';' because specLines hold tabs)
  *   tableDir/data/__spec=<sid>/__pv0=<v>[/__pv1=<w>…]/…parquet
  *                          one leaf directory per partition tuple,
  *                          under the spec CURRENT when it was written
  *   tableDir/_partitions   the manifest: one `<sid>|<v0>[,<v1>…]`
  *                          line per leaf
  *   tableDir/_batches      batch ids already appended (idempotence)
  *
  * A single-field table is simply spec 0 with one field. Evolving the
  * spec ([[evolve]]) is ONE ledger line — zero data paths touched,
  * exactly Iceberg's ADD/REPLACE PARTITION FIELD — and old files keep
  * their own spec: [[scan]] prunes EACH leaf by the fields ITS spec
  * records, so old files prune coarser (never wrongly) until a
  * rewrite lands them under the new spec.
  *
  * [[append]] repartitions by the derived tuple before the
  * partitioned write, so every leaf is written by exactly ONE task →
  * exactly one file per partition tuple per write; `filesRead` below
  * therefore counts leaves and is oracle-derivable from the transform
  * arithmetic. `_partitions` is rebuilt from the directory listing
  * after every write and renamed into place atomically (a reader sees
  * the old manifest or the new one) — planning reads ONLY the two
  * sidecars, never a data listing or footer: cost = two tiny files,
  * independent of data size. At 100 TB a day-range query opens the
  * hit days and a key lookup opens one bucket; everything else is
  * never listed.
  *
  * Transforms:
  *   - `days/hours/months/years(ts)` — time since 1970-01-01 (UTC) of
  *     the source timestamp, Iceberg's time transforms exactly.
  *   - `bucket(n, key)` — key mod n, the engine's legacy bucket.
  *   - `mbucket(n, key)` — the Iceberg-spec murmur3 bucket.
  *   - `truncate(w, key)` — key floored to a multiple of w.
  */
object Transforms {

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
    * value range. Months and years are the coarser CDC-landing
    * layouts a slowly-growing table wants (a day-partitioned 100 TB
    * table is millions of directories; a month-partitioned one is
    * thousands).
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

  private def parseSpecLine(s: String): Transform = {
    val p = s.split('\t')
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
  }

  /** A scan predicate on ONE raw column. The planner prunes every
    * field whose transform can serve it; [[exact]] is always applied
    * to the rows read.
    */
  sealed trait Predicate {
    def column: String
    def exact: Column
  }
  /** Half-open time range `[from, toExcl)`: `yyyy-MM-dd` or
    * `yyyy-MM-dd HH:mm:ss` strings, read as UTC (the engine's session
    * convention). Prunes [[Days]]/[[Hours]]/[[Months]]/[[Years]].
    */
  final case class TimeRange(column: String, from: String, toExcl: String)
      extends Predicate {
    def exact: Column =
      col(column).cast("timestamp") >= lit(from).cast("timestamp") &&
        col(column).cast("timestamp") < lit(toExcl).cast("timestamp")
    /** Keep-test for a monotone time transform `value`: the bounds'
      * values delimit the kept leaves, the exclusive bound evaluated
      * at `toExcl − 1µs` so an exact boundary never opens the value
      * above; misaligned bounds just keep one extra edge leaf.
      */
    private[Transforms] def within(
        value: java.time.LocalDateTime => Long): Long => Boolean = {
      def parse(s: String) =
        if (s.length == 10) java.time.LocalDate.parse(s).atStartOfDay
        else java.time.LocalDateTime.parse(s.replace(' ', 'T'))
      val lo = value(parse(from))
      val hi = value(parse(toExcl).minusNanos(1000))
      v => v >= lo && v <= hi
    }
  }
  /** Point lookup on an integral key. Prunes [[Bucket]] and [[MBucket]]. */
  final case class LongKeys(column: String, keys: Seq[Long]) extends Predicate {
    def exact: Column = col(column).isin(keys: _*)
  }
  /** Point lookup on a string key. Prunes [[MBucket]] (UTF-8 murmur3). */
  final case class StringKeys(column: String, keys: Seq[String])
      extends Predicate {
    def exact: Column = col(column).isin(keys: _*)
  }
  /** Half-open range `[lo, hiExcl)` on an integral column. Prunes
    * [[TruncateLong]] — the one bucket-family transform that
    * PRESERVES ordering, which is why Iceberg recommends it for
    * range-queried keys.
    */
  final case class LongRange(column: String, lo: Long, hiExcl: Long)
      extends Predicate {
    def exact: Column =
      col(column).cast("long") >= lo && col(column).cast("long") < hiExcl
  }

  /** Which partition values of field `t` can hold rows matching `p`;
    * None when the field cannot serve the predicate (it then keeps
    * every leaf).
    */
  private def keep(t: Transform, p: Predicate): Option[Long => Boolean] =
    if (t.sourceCol != p.column) None
    else (t, p) match {
      case (Days(_), r: TimeRange) => Some(r.within(_.toLocalDate.toEpochDay))
      case (Hours(_), r: TimeRange) => Some(r.within(dt =>
        java.lang.Math.floorDiv(dt.toEpochSecond(java.time.ZoneOffset.UTC), 3600L)))
      case (Months(_), r: TimeRange) =>
        Some(r.within(dt => (dt.getYear - 1970L) * 12 + dt.getMonthValue - 1))
      case (Years(_), r: TimeRange) => Some(r.within(dt => dt.getYear - 1970L))
      case (Bucket(n, _), LongKeys(_, ks)) =>
        Some(ks.map(k => java.lang.Math.floorMod(k, n.toLong)).toSet)
      case (MBucket(n, _), LongKeys(_, ks)) =>
        Some(ks.map(k => IcebergMurmur3.bucketLong(k, n).toLong).toSet)
      case (MBucket(n, _), StringKeys(_, ks)) =>
        Some(ks.map(k => IcebergMurmur3.bucketString(k, n).toLong).toSet)
      case (TruncateLong(w, _), LongRange(_, lo, hi)) =>
        Some(v => v < hi && v + w > lo)
      case _ => None
    }

  private def specsLedger(tableDir: String) = Paths.get(tableDir, "_specs")
  private def manifest(tableDir: String) = Paths.get(tableDir, "_partitions")

  private def readLines(f: Path): Seq[String] =
    Files.readAllLines(f, StandardCharsets.UTF_8).asScala.toSeq.filter(_.nonEmpty)

  private def writeLine(f: Path, line: String, mode: StandardOpenOption): Unit =
    Files.write(f, s"$line\n".getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, mode)

  /** `<specId>|<rest>` lines of one sidecar. */
  private def bySpec(f: Path): Seq[(Int, String)] = readLines(f).map { line =>
    val i = line.indexOf('|')
    (line.substring(0, i).toInt, line.substring(i + 1))
  }

  /** The spec ledger, oldest first: (specId, partition fields). */
  def specs(tableDir: String): Seq[(Int, Seq[Transform])] = {
    val f = specsLedger(tableDir)
    require(Files.exists(f), s"no spec ledger at $tableDir")
    bySpec(f).map { case (sid, s) => sid -> s.split(';').toSeq.map(parseSpecLine) }
  }

  /** The manifest, one entry per leaf: (specId, partition tuple). */
  def partitions(tableDir: String): Seq[(Int, Seq[Long])] = {
    val f = manifest(tableDir)
    if (!Files.exists(f)) Seq.empty
    else bySpec(f).map { case (sid, s) => sid -> s.split(',').toSeq.map(_.toLong) }
  }

  private def ledgerLine(sid: Int, fields: Seq[Transform]): String =
    s"$sid|${fields.map(_.specLine).mkString(";")}"

  /** Create a table whose spec 0 is `fields`. A no-op when the table
    * already has exactly these fields; a different spec is rejected —
    * a writer cannot silently change the partitioning (that is
    * [[evolve]]'s job).
    */
  def create(tableDir: String, fields: Seq[Transform]): Unit = {
    require(fields.nonEmpty, "a partition spec needs at least one field")
    if (Files.exists(specsLedger(tableDir))) {
      val cur = specs(tableDir).last._2
      require(cur == fields, s"table at $tableDir is partitioned by " +
        s"${cur.map(showTransform).mkString(", ")}, not " +
        fields.map(showTransform).mkString(", "))
    } else {
      Files.createDirectories(Paths.get(tableDir))
      writeLine(specsLedger(tableDir), ledgerLine(0, fields),
        StandardOpenOption.TRUNCATE_EXISTING)
    }
  }

  /** Iceberg `ALTER TABLE … ADD/REPLACE PARTITION FIELD`: `fields`
    * becomes the current spec. Metadata-only by construction — the
    * only write is the ledger line. Returns the current spec id (the
    * existing one when `fields` already is the current spec).
    */
  def evolve(tableDir: String, fields: Seq[Transform]): Int = {
    require(fields.nonEmpty, "a partition spec needs at least one field")
    val (sid, cur) = specs(tableDir).last
    if (cur == fields) sid
    else {
      writeLine(specsLedger(tableDir), ledgerLine(sid + 1, fields),
        StandardOpenOption.APPEND)
      sid + 1
    }
  }

  /** Append `df` under the CURRENT spec: each field's derived value is
    * a hidden directory key (dropped from the files' payload), one
    * task per tuple → one file per tuple per write; then `_partitions`
    * is rebuilt so planning sees new leaves immediately. `batchId`
    * makes replays idempotent: an id already in the `_batches` ledger
    * short-circuits (the foreachBatch at-least-once contract); the
    * ledger line is written AFTER the data lands, so a crash
    * mid-append re-runs the batch rather than losing it. Micro-batches
    * from one query arrive serially; this writer is not safe under
    * CONCURRENT multi-writer appends (the versioned [[Snapshots]]
    * store is the tool for that).
    */
  def append(spark: SparkSession, tableDir: String, df: DataFrame,
      batchId: Option[Long] = None): Unit = {
    val (sid, fields) = specs(tableDir).last
    val ledger = Paths.get(tableDir, "_batches")
    val seen = batchId.exists(id =>
      Files.exists(ledger) && readLines(ledger).contains(id.toString))
    if (seen) return
    val pvCols = fields.indices.map(i => s"__pv$i")
    val withPv = fields.zip(pvCols).foldLeft(df) { case (d, (t, c)) =>
      d.withColumn(c, t.derive)
    }
    // repartition PINNED at the session shuffle width: the unnumbered
    // repartition(cols) lets AQE coalesce the tiny pre-write exchange
    // to ONE task, which then writes every leaf file SERIALLY — a
    // many-directory landing (e.g. ~300 truncate groups) measured
    // 4.1 s single-task vs spread across the width (guide §2.6 idle
    // capacity; §6 the write is file-count-bound, not byte-bound).
    // Hash keeps one task per tuple → one file per tuple.
    withPv.repartition(spark.sessionState.conf.numShufflePartitions,
        pvCols.map(col): _*)
      .write.mode(SaveMode.Append).partitionBy(pvCols: _*)
      .parquet(s"$tableDir/data/__spec=$sid")
    writeManifest(tableDir)
    batchId.foreach(id =>
      writeLine(ledger, id.toString, StandardOpenOption.APPEND))
  }

  private def listLongDirs(dir: Path, prefix: String): Seq[(Long, Path)] = {
    val s = Files.list(dir)
    try s.iterator().asScala
      .filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith(prefix))
      .map(p => p.getFileName.toString.stripPrefix(prefix).toLong -> p)
      .toSeq.sortBy(_._1)
    finally s.close()
  }

  /** `_partitions` rebuilt from the directory listing — what was
    * actually written, never what a writer intended. Written to a
    * temp file in the table dir, then renamed over the manifest
    * atomically, so a concurrent [[scan]] or [[partitions]] reads the
    * old manifest or the new one, never a truncated one.
    */
  private def writeManifest(tableDir: String): Unit = {
    val lines = specs(tableDir).flatMap { case (sid, fields) =>
      val root = Paths.get(tableDir, "data", s"__spec=$sid")
      val leaves =
        if (!Files.exists(root)) Seq.empty
        else fields.indices.foldLeft(Seq((Seq.empty[Long], root))) {
          case (acc, i) => acc.flatMap { case (vals, dir) =>
            listLongDirs(dir, s"__pv$i=").map { case (v, p) => (vals :+ v, p) }
          }
        }
      leaves.map { case (vals, _) => s"$sid|${vals.mkString(",")}" }
    }
    val tmp = Files.createTempFile(Paths.get(tableDir), "_partitions.", ".tmp")
    try {
      Files.write(tmp, lines.map(_ + "\n").mkString.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, manifest(tableDir),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp)
  }

  /** Scan with `predicate` on its RAW column. Planning reads only the
    * `_specs` and `_partitions` sidecars: each leaf is kept unless a
    * field of ITS spec rules it out — a spec that predates (or lacks)
    * a field that can serve the predicate keeps all its leaves, and
    * the exact predicate on the rows read keeps answers exact either
    * way. A predicate no field of any spec can prune is a caller error
    * (a wrong-kind scan), rejected rather than silently read in full.
    * Returns (rows, filesRead, filesTotal): leaves, one file per tuple
    * per write by the [[append]] invariant.
    */
  def scan(spark: SparkSession, tableDir: String,
      predicate: Predicate): (DataFrame, Long, Long) = {
    val fieldsOf = specs(tableDir).toMap
    if (!fieldsOf.values.flatten.exists(keep(_, predicate).isDefined))
      throw new IllegalArgumentException(s"$predicate cannot prune any " +
        s"partition field of $tableDir (" + fieldsOf.toSeq.sortBy(_._1)
          .map(_._2.map(showTransform).mkString(", ")).mkString("; ") + ")")
    val leaves = partitions(tableDir)
    val kept = leaves.filter { case (sid, vals) =>
      fieldsOf(sid).zip(vals).forall { case (t, v) =>
        keep(t, predicate).forall(_(v))
      }
    }
    val rows =
      if (kept.isEmpty) readAll(spark, tableDir).filter(lit(false))
      else spark.read.parquet(kept.map { case (sid, vals) =>
        (s"$tableDir/data/__spec=$sid" +: vals.zipWithIndex.map {
          case (v, i) => s"__pv$i=$v"
        }).mkString("/")
      }: _*)
    (rows.filter(predicate.exact), kept.size.toLong, leaves.size.toLong)
  }

  /** Full logical read — the facade catalog path (`SELECT * FROM t`
    * on a hidden-partition table): partition-key directories are
    * discovery columns, and HIDDEN partitioning means exactly that the
    * user never sees them, so every `__pv*` column is dropped.
    * Per-spec subtrees have DIFFERENT partition-key arities — one
    * discovery over the whole tree conflicts — so each spec's subtree
    * is read with its own discovery and the logical rows are unioned.
    */
  def readAll(spark: SparkSession, tableDir: String): DataFrame = {
    val frames = specs(tableDir).map(_._1).flatMap { sid =>
      val p = Paths.get(tableDir, "data", s"__spec=$sid")
      if (!Files.exists(p)) None
      else {
        val df = spark.read.parquet(p.toString)
        Some(df.drop(df.columns.filter(_.startsWith("__pv")).toIndexedSeq: _*))
      }
    }
    require(frames.nonEmpty, s"no data at $tableDir")
    frames.reduce(_.unionByName(_))
  }

  /** DDL spellings of the table's CURRENT partition fields; empty when
    * not transform-partitioned. A pure sidecar read — metadata-only at
    * any table size (SHOW CREATE TABLE's partition clause).
    */
  def currentSpecShow(tableDir: String): Seq[String] =
    if (isTransformTable(tableDir)) specs(tableDir).last._2.map(showTransform)
    else Seq.empty

  /** Whether `tableDir` is a transform-partitioned table. */
  def isTransformTable(tableDir: String): Boolean =
    Files.exists(specsLedger(tableDir))
}
