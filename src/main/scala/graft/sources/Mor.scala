package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}

/** Merge-on-read table — the OTHER half of the Iceberg v2 surface the
  * reference warehouse runs on (docs/components/cdc.md lands CDC into
  * Iceberg v2 tables; format-version 2's headline is row-level deletes
  * WITHOUT rewriting data files). [[Snapshots]] is copy-on-write:
  * every commit (and every `merge`) rewrites the full snapshot — the
  * right trade for read-heavy marts, but a 10-row GDPR delete against
  * a 100 TB table must not cost a 100 TB rewrite. This module is the
  * write-cheap side of that trade:
  *
  *   tableDir/c=<n>/…parquet   one immutable directory per commit
  *   tableDir/_commits         one `<n>\t<kind>[\t<keyCols>]` line each
  *   tableDir/_reserve.<n>     marker: commit id <n> is taken
  *   tableDir/_commits.lock    committer lock (ledger append)
  *
  * Commit kinds:
  *   - `data`    — a base land or an APPENDED delta (rows add to the
  *     merged view; [[upsert]] pairs one with a delete commit — the
  *     kafka-connect-iceberg CDC write shape).
  *   - `delete`  — an EQUALITY-DELETE file (Iceberg v2 §Delete
  *     Formats): only the distinct key tuples of deleted rows, plus
  *     the key column list in the ledger. Cost ∝ rows deleted, data
  *     files untouched (MorSpec pins both).
  *   - `posdelete` — a POSITION-DELETE file (v2's other delete kind):
  *     `(file, pos)` tuples naming physical rows — the
  *     compaction-free delete of KNOWN rows, no key required
  *     ([[deleteAt]]; same sequence-number rule as equality deletes).
  *   - `compact` — a materialized merge (read-side view made a new
  *     base). Readers at or past it stop paying the anti-joins; prior
  *     commits stay readable for time travel.
  *
  * `read(version)` replays the ledger up to `version` under Iceberg
  * v2's sequence-number rule — an equality-delete applies only to
  * data committed BEFORE it: each data commit since the last compact
  * contributes its rows minus every LATER delete, unioned. Deletes
  * are small (they're deltas), so every anti-join auto-broadcasts —
  * a read at scale is scan + N broadcast probes, no shuffle. Time
  * travel falls out: a version before a delete still sees the
  * deleted rows.
  *
  * Concurrency follows [[Snapshots]]'s model: commit ids are claimed
  * with an atomic marker-file create (parallel data writes), only the
  * tiny ledger append serializes under a file lock; a crashed commit
  * leaves an invisible orphan directory.
  */
object Mor {

  final case class Commit(id: Long, kind: String, keyCols: Seq[String],
      tag: Option[String] = None)


  private def ledger(tableDir: String) = Paths.get(tableDir, "_commits")

  /** Ledger lines in commit-id order (empty if table doesn't exist). */
  def commits(tableDir: String): Seq[Commit] = {
    val f = ledger(tableDir)
    if (!Files.exists(f)) Seq.empty
    else Files.readAllLines(f, StandardCharsets.UTF_8).asScala.toSeq
      .filter(_.nonEmpty).map { line =>
        val p = line.split('\t')
        Commit(p(0).toLong, p(1),
          p.lift(2).filter(_.nonEmpty).map(_.split(',').toSeq).getOrElse(Nil),
          p.lift(3).filter(_.nonEmpty))
      }.sortBy(_.id)
  }

  // commit ids share Snapshots' `_reserve.<n>` marker rule
  private def reserveId(tableDir: String): Long =
    Snapshots.reserveId(tableDir,
      commits(tableDir).lastOption.map(_.id).getOrElse(0L))

  private def withLedgerLock[A](tableDir: String)(f: => A): A =
    graft.FileLocks.withLock(Paths.get(tableDir, "_commits.lock"))(f)

  /** Write `df` under a fresh commit id, then ledger it (append LAST,
    * so readers never see an in-flight commit). `tag` makes the
    * commit IDEMPOTENT, [[Snapshots.commit]]-style: if the tag is
    * already ledgered when the append runs (checked INSIDE the
    * ledger lock), the existing id is returned and the fresh
    * directory is left an invisible orphan — a replayed streaming
    * batch commits nothing twice.
    */
  private def commit(df: DataFrame, tableDir: String, kind: String,
      keyCols: Seq[String] = Nil, tag: Option[String] = None): Long = {
    require(keyCols.forall(c => !c.contains(',') && !c.contains('\t')),
      s"key column names must not contain ',' or tab: $keyCols")
    tag.foreach(t => require(!t.exists(c => c == '\t' || c == '\n'),
      s"tag must not contain tab/newline: $t"))
    Files.createDirectories(Paths.get(tableDir))
    val id = reserveId(tableDir)
    Snapshots.compactLocal(df).write.mode(SaveMode.Overwrite).parquet(s"$tableDir/c=$id")
    withLedgerLock(tableDir) {
      val existing = tag.flatMap(t => commits(tableDir).find(_.tag.contains(t)))
      existing.map(_.id).getOrElse {
        val line = s"$id\t$kind\t${keyCols.mkString(",")}" +
          tag.fold("")(t => s"\t$t")
        Files.write(ledger(tableDir),
          s"$line\n".getBytes(StandardCharsets.UTF_8),
          StandardOpenOption.CREATE, StandardOpenOption.APPEND)
        id
      }
    }
  }

  /** Reserved table property carrying a declared write order
    * (`ALTER TABLE … WRITE ORDERED BY`, Iceberg's sort-order DDL —
    * reference lakehouse.md:100): a comma-separated column list.
    * Every subsequent DATA commit range-clusters + sorts on these
    * columns before writing, so per-file min/max bounds stay narrow
    * and file skipping works on the ordered column without the writer
    * having to remember to cluster. Delete commits are NEVER
    * reordered (their shape is positional/equality metadata).
    */
  val WriteOrderProp = "write.sort-order"

  /** Apply the table's declared write order (if any) to a data batch
    * — see [[Sources.clusterBySpec]] for the two spec shapes (range
    * column list / `zorder(a, b)`). At 100 TB the shuffle is the
    * price of narrow per-file bounds on every future scan.
    */
  private def applyWriteOrder(df: DataFrame, tableDir: String): DataFrame =
    Snapshots.tableProperties(tableDir).get(WriteOrderProp)
      .map(Sources.clusterBySpec(df, _)).getOrElse(df)

  /** Land `df` as a base snapshot. */
  def land(df: DataFrame, tableDir: String): Long =
    commit(applyWriteOrder(df, tableDir), tableDir, "data")

  /** Append `df` as a new data commit — rows ADD to the merged view
    * (existing data files untouched; the fact-stream ingest path).
    * Honors the table's declared write order ([[WriteOrderProp]]).
    */
  def append(df: DataFrame, tableDir: String, tag: Option[String] = None): Long =
    commit(applyWriteOrder(df, tableDir), tableDir, "data", Nil, tag)

  /** Row-level DELETE as metadata: writes only the DISTINCT `keyCols`
    * tuples of rows in the current merged view matching `cond` — an
    * Iceberg v2 equality-delete file. No data file is opened for
    * write; cost ∝ matched rows. Deleting already-deleted rows is a
    * no-op by construction (they're gone from the merged view).
    */
  def deleteWhere(spark: SparkSession, tableDir: String, cond: Column,
      keyCols: Seq[String]): Long = {
    require(keyCols.nonEmpty, "equality delete needs key columns")
    val keys = read(spark, tableDir).filter(cond)
      .select(keyCols.head, keyCols.tail: _*).distinct()
    commit(keys, tableDir, "delete", keyCols)
  }

  /** Row-level DELETE by POSITION — Iceberg v2's OTHER delete kind
    * (§Delete Formats: position deletes name `(file, pos)` tuples;
    * reference lands CDC into format-v2 tables, docs/components/cdc
    * .md). Where an equality delete says "key K is gone", a position
    * delete surgically removes one physical row — the
    * compaction-free way to drop known rows without touching ANY
    * data file and without requiring a key at all. `cond` is
    * resolved against the current merged view ONCE; the commit
    * stores only the matched rows' `(file, pos)` pairs (parquet's
    * `_metadata.file_name` / `row_index` — exactly Iceberg's file +
    * ordinal). Cost ∝ rows deleted; the base is never opened for
    * write.
    */
  def deleteAt(spark: SparkSession, tableDir: String, cond: Column): Long = {
    import org.apache.spark.sql.functions.col
    val positions = readWithPos(spark, tableDir)
      .filter(cond)
      .select(col(PosFile).as("file"), col(PosIdx).as("pos"))
      .distinct()
    commit(positions, tableDir, "posdelete")
  }

  private val PosFile = "__graft_file"
  private val PosIdx = "__graft_pos"

  /** Row-level UPDATE without rewriting any data file — what position
    * deletes exist FOR (Iceberg v2 MoR update path): one pass resolves
    * `cond` to the matched rows WITH their physical addresses, then
    * (1) a position-delete commit retires the old versions and (2) a
    * data commit appends the updated ones (`set` maps column →
    * replacement expression over the old row). The matched set is
    * materialized once (localCheckpoint) so both commits derive from
    * the same rows. Sequence rule keeps it sound: the delete precedes
    * the append, so it can never retire the new versions. Cost ∝ rows
    * updated. Returns (posDeleteCommit, dataCommit).
    */
  def updateWhere(spark: SparkSession, tableDir: String, cond: Column,
      set: Map[String, Column], tag: Option[String] = None): (Long, Long) = {
    import org.apache.spark.sql.functions.col
    // replay guard FIRST: an update is NOT idempotent by value (a
    // second application transforms the already-updated rows), so a
    // tagged replay must short-circuit before resolving anything
    val already = replayedPair(tableDir, tag.map(_ + ":upd"))
    if (already.isDefined) return already.get
    val matched = readWithPos(spark, tableDir).filter(cond).localCheckpoint(true)
    try {
      val positions = matched
        .select(col(PosFile).as("file"), col(PosIdx).as("pos")).distinct()
      // ONE select, every SET expression against the OLD row — the
      // SQL-standard UPDATE semantic. A sequential withColumn fold
      // would let later assignments see earlier ones, in Map order —
      // nondeterministic for interdependent SETs (fuzz-spec finding)
      val base = matched.drop(PosFile, PosIdx)
      val unknown = set.keySet -- base.columns
      require(unknown.isEmpty,
        s"UPDATE SET names unknown columns: ${unknown.toSeq.sorted.mkString(",")}")
      val updated = base.select(base.columns.toSeq.map(c =>
        set.get(c).map(_.as(c)).getOrElse(col(c))): _*)
      commitPair(positions, updated, tableDir, tag.map(_ + ":upd"))
    } finally {
      try matched.unpersist(blocking = false) catch { case _: Throwable => () }
    }
  }

  /** ATOMIC delete+data pair: both directories land first, then BOTH
    * ledger lines go in ONE locked append — a crash can leave orphan
    * directories but never a half-applied update (a delete without
    * its data loses rows; data without its delete double-counts
    * them). Both [[updateWhere]] (posdelete+data) and [[upsert]]
    * (equality delete+data) ride this: there is NO reader-visible
    * window in which only one half exists, by construction. The pair
    * claims consecutive ids (delId < addId), so the sequence-number
    * rule reads them exactly like two commits. `tag` (on the delete
    * line) makes the PAIR idempotent.
    */
  /** Both halves of an already-ledgered tagged pair (delete line tag
    * `t`, data line tag `t#add`), or None.
    */
  private def replayedPair(tableDir: String,
      tag: Option[String]): Option[(Long, Long)] =
    for {
      t <- tag
      cs = commits(tableDir)
      d <- cs.find(_.tag.contains(t))
      a <- cs.find(_.tag.contains(t + "#add"))
    } yield (d.id, a.id)

  private def commitPair(deletes: DataFrame, data: DataFrame,
      tableDir: String, tag: Option[String],
      delKind: String = "posdelete", delKeyCols: Seq[String] = Nil): (Long, Long) = {
    require(delKeyCols.forall(c => !c.contains(',') && !c.contains('\t')),
      s"key column names must not contain ',' or tab: $delKeyCols")
    tag.foreach(t => require(!t.exists(c => c == '\t' || c == '\n'),
      s"tag must not contain tab/newline: $t"))
    Files.createDirectories(Paths.get(tableDir))
    val delId = reserveId(tableDir)
    val addId = reserveId(tableDir) // strictly delId < addId
    // stage both halves CONCURRENTLY (guide §2.6): neither is reader-
    // visible until the single locked ledger append below, and at
    // CDC-batch sizes each write is a scheduling-dominated job — the
    // pair costs max() instead of sum()
    graft.Overlap.pair(
      Snapshots.compactLocal(deletes).write.mode(SaveMode.Overwrite).parquet(s"$tableDir/c=$delId"),
      Snapshots.compactLocal(data).write.mode(SaveMode.Overwrite).parquet(s"$tableDir/c=$addId"))
    withLedgerLock(tableDir) {
      replayedPair(tableDir, tag).getOrElse {
        val lines =
          s"$delId\t$delKind\t${delKeyCols.mkString(",")}${tag.fold("")(t => s"\t$t")}\n" +
          s"$addId\tdata\t${tag.fold("")(t => s"\t$t#add")}\n"
        Files.write(ledger(tableDir), lines.getBytes(StandardCharsets.UTF_8),
          StandardOpenOption.CREATE, StandardOpenOption.APPEND)
        (delId, addId)
      }
    }
  }

  /** The merged view carrying each row's physical address columns
    * ([[PosFile]], [[PosIdx]]) — [[deleteAt]]'s resolve pass.
    */
  private def readWithPos(spark: SparkSession, tableDir: String): DataFrame =
    merged(spark, tableDir, -1L, withPos = true)

  /** MoR UPSERT — the kafka-connect-iceberg write shape (reference:
    * docker/kafka-connect-iceberg lands Debezium CDC into v2 tables):
    * one equality-delete commit covering every touched key, then one
    * data commit with the new row versions (tombstoned keys delete
    * only). Cost ∝ batch size; the 100 TB base is never opened for
    * write. `rows` must hold ≤ 1 row per key (pre-reduce the batch);
    * `tombstoneCol` is a boolean column marking CDC deletes. The
    * sequence-number rule in [[read]] makes the pairing sound: the
    * delete commit precedes its data commit, so it purges only OLDER
    * row versions. Both halves ledger in ONE locked append
    * ([[commitPair]]): a crash mid-upsert can never leave the
    * equality-delete applied without its data commit — there is no
    * reader-visible window in which touched keys have vanished.
    * Returns (deleteCommit, dataCommit).
    */
  def upsert(tableDir: String, rows: DataFrame, keyCols: Seq[String],
      tombstoneCol: String, tag: Option[String] = None): (Long, Long) = {
    import org.apache.spark.sql.functions.col
    commitPair(
      rows.select(keyCols.head, keyCols.tail: _*).distinct(),
      rows.filter(!col(tombstoneCol)).drop(tombstoneCol),
      tableDir, tag.map(_ + ":up"), delKind = "delete", delKeyCols = keyCols)
  }

  /** The merged view at `version` (< 0 → latest). Iceberg v2's
    * sequence-number rule: an equality-delete applies only to data
    * committed BEFORE it. So each data commit since the last
    * compaction contributes its rows minus every LATER delete, and
    * the view is the union (a compact commit materializes everything
    * before it, so earlier commits don't contribute). Delete files
    * are deltas — small, so Spark's stats auto-broadcast the anti
    * joins; nothing on the data side shuffles.
    */
  def read(spark: SparkSession, tableDir: String, version: Long = -1L): DataFrame =
    merged(spark, tableDir, version, withPos = false)

  private def isDelete(kind: String): Boolean =
    kind == "delete" || kind == "posdelete"

  private def merged(spark: SparkSession, tableDir: String, version: Long,
      withPos: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.col
    val all = commits(tableDir)
    require(all.nonEmpty, s"no commits at $tableDir")
    // the hidden address columns ride the merge when position deletes
    // are in play — a user column of the same name would be silently
    // shadowed, so refuse it at the door
    if (all.exists(_.kind == "posdelete") || withPos) {
      val cols = ParquetSchemas.read(spark,
        s"$tableDir/c=${all.find(c => !isDelete(c.kind)).get.id}").columns.toSet
      require(!cols.contains(PosFile) && !cols.contains(PosIdx),
        s"table columns collide with MoR's reserved position columns " +
          s"($PosFile, $PosIdx)")
    }
    val upTo = if (version < 0) all else {
      require(all.exists(_.id == version), s"unknown version $version")
      all.takeWhile(_.id <= version)
    }
    val start = math.max(0, upTo.lastIndexWhere(_.kind == "compact"))
    val active = upTo.drop(start)
    require(active.exists(c => !isDelete(c.kind)),
      s"no data commit at or before $version")
    val parts = active.zipWithIndex.collect {
      case (c, i) if !isDelete(c.kind) =>
        val later = active.drop(i + 1)
        // each row carries its physical address when a later position
        // delete (or the caller) needs it — parquet's hidden _metadata
        // (file_name + row_index), Iceberg's (file, ordinal) exactly
        val needsPos = withPos || later.exists(_.kind == "posdelete")
        val base = ParquetSchemas.read(spark, s"$tableDir/c=${c.id}")
        val df0 =
          if (!needsPos) base
          else base.select(col("*"),
            col("_metadata.file_name").as(PosFile),
            col("_metadata.row_index").as(PosIdx))
        val afterDeletes = later.filter(c2 => isDelete(c2.kind))
          .foldLeft(df0) { (acc, d) =>
            val dd = ParquetSchemas.read(spark, s"$tableDir/c=${d.id}")
            if (d.kind == "delete") acc.join(dd, d.keyCols, "left_anti")
            else acc.join(dd,
              acc(PosFile) === dd("file") && acc(PosIdx) === dd("pos"),
              "left_anti")
          }
        if (needsPos && !withPos) afterDeletes.drop(PosFile, PosIdx)
        else afterDeletes
    }
    parts.reduce(_ unionByName _)
  }

  /** Materialize the current merged view as a new base — the Iceberg
    * `rewrite_data_files`-with-deletes maintenance action. Readers of
    * later versions pay zero anti-joins; history stays readable.
    */
  def compact(spark: SparkSession, tableDir: String): Long =
    commit(read(spark, tableDir), tableDir, "compact")

  /** Bytes under one commit's directory (spec + cost accounting). */
  def commitBytes(tableDir: String, id: Long): Long = {
    val dir = Paths.get(tableDir, s"c=$id")
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum
    finally s.close()
  }
}
