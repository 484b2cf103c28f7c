package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SQL facade — the engine-side equivalent of the reference's Kyuubi
  * surface (docs/components/kyuubi.md): a user connects, the warehouse
  * tables are there, and plain Spark SQL works against them. `open`
  * registers every testdata table as a temp view and the dialect
  * aliases of [[graft.functions.SqlDialect]]; afterwards `spark.sql(...)`
  * is the full API. SQL text naming graft's own functions needs a
  * session built with [[GraftExtensions]].
  */
object Engine {

  /** Register all warehouse tables as temp views + the dialect aliases. */
  def open(spark: SparkSession, dir: String): SparkSession = {
    // open() overwrites flat temp views out-of-band, exactly like
    // openGoverned: a warehouse table of the same name (e.g. 'orders')
    // registered earlier would otherwise stay marked fresh in the memo
    // and the next openWarehouse would skip re-registration — silently
    // serving THIS testdata view in the warehouse's place
    invalidateRegistrations(spark)
    Tables.names.foreach { n =>
      Tables(spark, dir, n).createOrReplaceTempView(n)
    }
    graft.functions.SqlDialect.register(spark)
    spark
  }

  /** Convenience: open + run one SQL statement. */
  def sql(spark: SparkSession, dir: String, query: String): DataFrame = {
    open(spark, dir)
    spark.sql(query)
  }

  /** A new CONNECTION over the shared engine — the Kyuubi session
    * semantic (docs: one Spark application, many isolated user
    * sessions): shares the SparkContext, cached data and catalog
    * metastore, but carries its OWN temp-view namespace, conf and
    * function registry. Two connections can `openWarehouse` different
    * warehouse dirs (or pin different snapshot versions) without
    * clobbering each other's view names.
    */
  def connect(spark: SparkSession): SparkSession = spark.newSession()

  // ---- KYUUBI ENGINE SHARE LEVELS -----------------------------------
  // Reference docs/components/kyuubi.md:9-14: CONNECTION = a fresh
  // engine per connection ([[connect]]); USER = ONE engine per user,
  // shared by all of that user's connections and isolated from every
  // other user's; SERVER = everyone shares one engine (the plain
  // session). [[connectUser]] reproduces the USER semantic over
  // Spark's session-state isolation: the same user's second
  // connection sees the first's temp views and session confs, a
  // different user sees neither. Per-user GOVERNANCE DEFAULTS
  // ([[setUserPolicies]]) apply at engine creation, the way Kyuubi's
  // AuthZ plugin binds Ranger policies to the session user — a
  // governed user cannot shed their masks by reconnecting. Table
  // COMMITS still serialize warehouse-wide (manifest/ledger locks
  // live on disk per table, not per session) — share levels isolate
  // session STATE, never transactional safety.

  // keyed by (SparkContext identity, user): one app's user engines
  // must never leak into a different app's (fresh context in tests)
  private val userSessions =
    scala.collection.concurrent.TrieMap.empty[(Int, String), SparkSession]
  private val userPolicies =
    scala.collection.concurrent.TrieMap.empty[String, (String, Seq[Policy])]

  /** Bind `user`'s default governance: every engine [[connectUser]]
    * creates for them opens [[openGoverned]] over `dir` with
    * `policies`. Takes effect for engines created AFTER the call.
    */
  def setUserPolicies(user: String, dir: String, policies: Seq[Policy]): Unit =
    userPolicies(user) = (dir, policies)

  /** A connection at the USER share level: the caching makes two
    * connections of one user land on the SAME engine (temp views and
    * session confs shared — Kyuubi's "subsequent connections reuse
    * the user's engine"), while distinct users get distinct engines.
    */
  def connectUser(spark: SparkSession, user: String): SparkSession = {
    require(user.nonEmpty, "USER share level needs a user")
    val key = (System.identityHashCode(spark.sparkContext), user)
    userSessions.getOrElseUpdate(key, {
      val s = spark.newSession()
      s.conf.set("graft.session.user", user)
      userPolicies.get(user).foreach { case (dir, ps) => openGoverned(s, dir, ps) }
      s
    })
  }

  /** Tear down `user`'s engine (Kyuubi's engine idle-timeout): the
    * next [[connectUser]] builds a fresh one — with the user's
    * CURRENT policy defaults re-applied.
    */
  def disconnectUser(spark: SparkSession, user: String): Unit =
    userSessions.remove((System.identityHashCode(spark.sparkContext), user))

  /** Register every [[graft.sources.Snapshots]] table under
    * `warehouseDir` as a temp view over its LATEST snapshot — the
    * warehouse side of the Kyuubi surface, where a SQL user sees the
    * versioned marts the pipeline [[graft.pipeline.Runner]]
    * materialized. Two layouts coexist, exactly the reference's
    * catalog convention (docs/components/iceberg.md:6-7 "Namespace =
    * database, e.g. `sales.orders`"; docs/architecture/lakehouse
    * .md:11-13 `warehouse/<db>.db/<table>/`):
    *
    *   <wh>/<table>/_manifest          → view `table` (flat legacy)
    *   <wh>/<db>.db/<table>/_manifest  → qualified name `db.table`
    *
    * Temp views live in a single dot-free namespace, so a qualified
    * table registers under the mangled view name `db__table`;
    * [[sqlWarehouse]] rewrites `db.table` references (including
    * `db.table$meta` and travel clauses) to that view before the
    * statement reaches Spark's parser — the user writes the catalog
    * spelling, same-name tables in two databases never collide.
    */
  // ---- registration memo -------------------------------------------
  // Every facade statement re-opens the warehouse, and registering a
  // table costs a read-plan construction (parquet footer/schema) plus
  // a stored-stats probe — measured ~450 ms per openWarehouse on a
  // 3-table warehouse, paid per statement AND per view-definition
  // resolution (guide §5: driver-side planning work). A registered
  // view only needs refreshing when the TABLE STATE changed, so each
  // session keeps (view → state fingerprint) and re-registers only on
  // a fingerprint miss — the invalidation rule every catalog uses.
  // The fingerprint covers every metadata surface a registration
  // reads: top-level ledger/sidecar files (manifest, _times, _commits,
  // _schemas, _props, …) by size+mtime, top-level dirs (new v=N /
  // c=N / _tablestats versions) by name+mtime, the transform store's
  // data directory tree (an append into existing leaves does not
  // change the `_partitions` manifest's content — leaf dir mtimes
  // catch it), the stats sidecar
  // files (they flip the broadcast hint). Weak keys: a stopped
  // session must not be pinned.
  private val regMemo = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      scala.collection.mutable.HashMap[String, String]]())

  // view-definition resolution memo (guide §5, the same invalidation
  // rule as regMemo): every facade SELECT re-resolved EVERY ledgered
  // view definition — a parse + full analysis per view per statement
  // (~10-30 ms each) even when nothing changed. A resolved view only
  // goes stale when some TABLE state or the view ledger itself moves
  // (a view re-resolves against current state by design — p20's
  // semantic), so the memo key is the concatenation of every table's
  // fingerprint plus the definitions. One slot per session, carrying
  // the warehouse: statements against a DIFFERENT warehouse miss, so
  // two warehouses sharing view names keep last-opened-wins.
  private val viewsMemo = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())

  /** Drop `spark`'s registration memo — callers that overwrite temp
    * views out-of-band (governed view sets) force full re-registration
    * on the next openWarehouse.
    */
  private def invalidateRegistrations(spark: SparkSession): Unit = {
    regMemo.remove(spark)
    viewsMemo.remove(spark)
  }

  private def tableFingerprint(tdir: String): String = {
    import java.nio.file.{Files, Path, Paths}
    val root = Paths.get(tdir)
    val sb = new StringBuilder
    def stamp(f: Path, rel: String): Unit = {
      sb.append(rel).append(':')
      if (Files.isDirectory(f)) sb.append('d')
      else sb.append(Files.size(f))
      sb.append(':').append(Files.getLastModifiedTime(f).toMillis).append('|')
    }
    def listSorted(p: Path): Seq[Path] = {
      val s = Files.list(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toSeq.sortBy(_.getFileName.toString)
      } finally s.close()
    }
    listSorted(root).foreach(f => stamp(f, f.getFileName.toString))
    // transform-store data tree: dir mtimes see appended files, and a
    // per-directory ENTRY COUNT closes the mtime-granularity hole (two
    // Transforms.append batches landing in the same millisecond tick, or a
    // coarse-mtime filesystem, leave the mtime unchanged — the count
    // still moves)
    val data = root.resolve("data")
    if (Files.isDirectory(data)) {
      val w = Files.walk(data)
      try {
        import scala.jdk.CollectionConverters._
        w.iterator().asScala.filter(Files.isDirectory(_))
          .toSeq.map(p => root.relativize(p).toString).sorted
          .foreach { r =>
            stamp(root.resolve(r), r)
            val l = Files.list(root.resolve(r))
            try sb.append("n=").append(l.count()).append('|')
            finally l.close()
          }
      } finally w.close()
    }
    // stats sidecars drive the broadcast hint
    val stats = root.resolve("_tablestats")
    if (Files.isDirectory(stats)) {
      val w = Files.walk(stats)
      try {
        import scala.jdk.CollectionConverters._
        w.iterator().asScala.filter(Files.isRegularFile(_))
          .toSeq.map(p => root.relativize(p).toString).sorted
          .foreach(r => stamp(root.resolve(r), r))
      } finally w.close()
    }
    sb.toString
  }

  def openWarehouse(spark: SparkSession, warehouseDir: String): SparkSession = {
    // reads go through the catalog: complete any durable-but-part-
    // published multi-table transaction before resolving views
    graft.sources.Snapshots.recoverTxns(warehouseDir)
    // stats-informed planning: a table whose STORED statistics (q108's
    // ANALYZE sidecar) say it is small registers broadcast-hinted, so
    // joins against it plan broadcast even when Spark's size estimate
    // can't see through the view (the CBO use every catalog keeps
    // stats for). Threshold in ROWS because that's what ANALYZE
    // stores. HEAD-only: stats from any older version are stale (the
    // table may have grown arbitrarily since) and broadcast() overrides
    // size-based vetoes, so a stale hint would be a driver-OOM risk —
    // any commit after ANALYZE invalidates the hint until the next
    // ANALYZE.
    val cboRows = 50000L
    val memo = {
      var m = regMemo.get(spark)
      if (m == null) {
        m = scala.collection.mutable.HashMap.empty[String, String]
        regMemo.put(spark, m)
      }
      m
    }
    warehouseEntries(warehouseDir).foreach { case (name, tdir) =>
      // keyed by VIEW name, value carries the warehouse: two
      // warehouses sharing a table name in one session must keep
      // last-opened-wins semantics (a stale same-name skip would
      // serve the OTHER warehouse's table)
      val fp = s"$warehouseDir|${tableFingerprint(tdir)}"
      val memoKey = viewName(name)
      val fresh = memo.synchronized { memo.get(memoKey).contains(fp) }
      if (!fresh) {
        val base = readTable(spark, tdir)
        val hinted = graft.sources.Snapshots.headAnalyzedRowCount(spark, tdir) match {
          case Some(n) if n <= cboRows =>
            org.apache.spark.sql.functions.broadcast(base)
          case _ => base
        }
        hinted.createOrReplaceTempView(viewName(name))
        memo.synchronized { memo(memoKey) = fp }
      }
    }
    graft.functions.SqlDialect.register(spark)
    spark
  }

  /** The on-disk directory of table `name` ("table" or "db.table"). */
  def tableDir(warehouseDir: String, name: String): String =
    name.split('.') match {
      case Array(db, t) => s"$warehouseDir/$db.db/$t"
      case _ => s"$warehouseDir/$name"
    }

  private def viewName(qualified: String): String =
    qualified.replace(".", "__")

  /** True when `dir` is a merge-on-read table ([[graft.sources.Mor]]'s
    * `_commits` ledger) rather than a copy-on-write snapshot table
    * (`_manifest`). The facade's DML lands MoR; reads pick per-dir.
    */
  private def isMorTable(dir: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_commits"))

  /** Latest view of a warehouse table, whichever store backs it.
    * Store markers are mutually exclusive by construction (`_commits`
    * = MoR ledger, `_specs` = hidden-partition transform ledger,
    * `_manifest` = CoW snapshot) — a dir carrying two would silently
    * flip semantics depending on check order, so fail loudly instead.
    */
  private def readTable(spark: SparkSession, dir: String): DataFrame = {
    assertStoreExclusive(dir)
    if (isMorTable(dir)) graft.sources.Mor.read(spark, dir)
    else if (graft.sources.Transforms.isTransformTable(dir))
      graft.sources.Transforms.readAll(spark, dir)
    else graft.sources.Snapshots.read(spark, dir)
  }

  /** Fails with a clear message if `dir` carries more than one store
    * marker — such a dir has no well-defined read semantics and must
    * not fall through to whichever branch happens to be checked first.
    */
  private def assertStoreExclusive(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    val markers = Seq("_commits", "_specs", "_manifest")
      .filter(m => java.nio.file.Files.exists(p.resolve(m)))
    require(markers.size <= 1,
      s"table dir $dir carries conflicting store markers ${markers.mkString(", ")}: " +
        "a table is exactly one of merge-on-read (_commits), " +
        "transform-partitioned (_specs) or snapshot (_manifest)")
  }

  /** (qualified name, table dir) for every table under the warehouse:
    * flat `<wh>/<t>` and namespaced `<wh>/<db>.db/<t>` entries.
    */
  private def warehouseEntries(warehouseDir: String): Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    def manifestDirs(root: java.nio.file.Path): Seq[java.nio.file.Path] =
      if (!java.nio.file.Files.isDirectory(root)) Seq.empty
      else {
        val listing = java.nio.file.Files.list(root)
        // snapshot (_manifest), merge-on-read (_commits) and hidden-
        // partition transform tables (_specs) are ALL catalog
        // entries — a SQL user sees one namespace regardless of store.
        // A transform table needs its first landed data to be
        // queryable (the spec ledger alone carries no schema).
        try listing.iterator().asScala
          .filter(p => java.nio.file.Files.exists(p.resolve("_manifest")) ||
            java.nio.file.Files.exists(p.resolve("_commits")) ||
            (java.nio.file.Files.exists(p.resolve("_specs")) &&
              java.nio.file.Files.exists(p.resolve("data"))))
          .toSeq
        finally listing.close()
      }
    val root = java.nio.file.Paths.get(warehouseDir)
    val flat = manifestDirs(root)
      .map(p => p.getFileName.toString -> p.toString)
    val namespaced =
      if (!java.nio.file.Files.isDirectory(root)) Seq.empty
      else {
        val listing = java.nio.file.Files.list(root)
        val dbs =
          try listing.iterator().asScala
            .filter(p => java.nio.file.Files.isDirectory(p) &&
              p.getFileName.toString.endsWith(".db"))
            .toSeq
          finally listing.close()
        dbs.flatMap { dbDir =>
          val db = dbDir.getFileName.toString.stripSuffix(".db")
          manifestDirs(dbDir).map(p => s"$db.${p.getFileName}" -> p.toString)
        }
      }
    (flat ++ namespaced).sortBy(_._1)
  }

  /** Ranger-style data-governance policies, applied at the facade the
    * way Kyuubi's AuthZ plugin applies them to its managed engines
    * (reference: docs/components/kyuubi.md security notes — the
    * gateway, not the user, decides what each session may see):
    * a connection opened with `openGoverned` gets VIEWS with the row
    * filter and column masks baked into the plan, so every downstream
    * query — joins, aggregates, CTEs — is governed for free. Masks
    * mirror Ranger's standard set: hash, show-last-4, null-out,
    * date-show-year.
    */
  sealed trait Mask
  case object MaskHash extends Mask
  case object MaskShowLast4 extends Mask
  case object MaskNull extends Mask
  case object MaskDateYear extends Mask

  final case class Policy(
      table: String,
      rowFilter: Option[String] = None,
      masks: Map[String, Mask] = Map.empty)

  /** Register the testdata tables with `policies` enforced (tables
    * without a policy are registered unmasked). Use on a
    * [[connect]]-ed session so governed and ungoverned connections
    * coexist over one engine.
    */
  def openGoverned(spark: SparkSession, dir: String,
      policies: Seq[Policy]): SparkSession = {
    // governed views may overwrite warehouse-registered names: force
    // the next openWarehouse on this session to re-register everything
    invalidateRegistrations(spark)
    val byTable = policies.map(p => p.table -> p).toMap
    Tables.names.foreach { n =>
      val base = Tables(spark, dir, n)
      byTable.get(n).fold(base)(applyPolicy(base, _))
        .createOrReplaceTempView(n)
    }
    graft.functions.SqlDialect.register(spark)
    spark
  }

  private def applyPolicy(df: DataFrame, p: Policy): DataFrame = {
    import org.apache.spark.sql.functions._
    val filtered = p.rowFilter.fold(df)(df.filter)
    val cols = filtered.columns.map { c =>
      (p.masks.get(c) match {
        case Some(MaskHash) => md5(col(c).cast("binary"))
        case Some(MaskShowLast4) =>
          concat(expr(s"repeat('X', greatest(length($c) - 4, 0))"),
            expr(s"right($c, 4)"))
        case Some(MaskNull) => lit(null).cast(df.schema(c).dataType)
        case Some(MaskDateYear) => to_date(date_trunc("year", col(c)))
        case None => col(c)
      }).as(c)
    }
    filtered.select(cols.toSeq: _*)
  }

  // Iceberg/Trino time-travel clauses, rewritten ahead of Spark's
  // parser (temp views have no V2 time-travel path to hook into):
  //   <table> [FOR] VERSION AS OF <n> | '<branch|tag>'  (ref travel)
  //   <table> [FOR] TIMESTAMP AS OF '<yyyy-MM-dd HH:mm:ss[.SSS]>'
  //     | <epochMillis>
  //     | NOW() [- INTERVAL '<n>' DAY|HOUR|MINUTE|SECOND]
  // The optional FOR prefix and the NOW()-relative form are Trino's
  // spelling — the reference's own example is `FOR TIMESTAMP AS OF
  // NOW() - INTERVAL '1' DAY` (docs/components/iceberg.md:9-12). The
  // relative expression is evaluated ONCE at parse time against the
  // session clock ([[nowMillis]]; -Dgraft.now.millis injects a fixed
  // clock for deterministic tests) and resolves to the latest
  // snapshot at or before the instant.
  private val VersionAsOf =
    """(?i)\b([A-Za-z_][A-Za-z0-9_]*)\s+(?:FOR\s+)?VERSION\s+AS\s+OF\s+(?:(\d+)|'([^']+)')""".r

  /** The session clock relative travel evaluates against —
    * `-Dgraft.now.millis=<epochMillis>` pins it for tests/replays
    * (no wall-clock may reach an oracle-checked plan).
    */
  private def nowMillis(): Long =
    sys.props.get("graft.now.millis").map(_.toLong)
      .getOrElse(System.currentTimeMillis())

  /** `table$history` / `$snapshots` / `$files` / `$partitions` /
    * `$refs` — Iceberg's metadata-table spelling (docs/architecture/
    * lakehouse.md:59-61 — the snapshot-id-driven read path an
    * operator debugs with). All answer from manifests/ledgers/stat
    * sidecars; none scans data.
    */
  private val HistoryTable =
    """\b([A-Za-z_][A-Za-z0-9_]*)\$(history|snapshots|files|partitions|refs|stats)\b""".r
  private val TimestampAsOf =
    ("""(?i)\b([A-Za-z_][A-Za-z0-9_]*)\s+(?:FOR\s+)?TIMESTAMP\s+AS\s+OF\s+""" +
      """(?:'([^']+)'|(\d+)|NOW\s*\(\s*\)""" +
      """(?:\s*-\s*INTERVAL\s+'(\d+)'\s+(DAY|HOUR|MINUTE|SECOND)S?)?)""").r
  private val TableChangesCall =
    """(?i)\btable_changes\s*\(\s*'([^']+)'\s*,\s*(\d+)\s*,\s*(\d+)\s*(?:,\s*'([^']+)')?\s*\)""".r

  /** True when offset `i` in `sql` falls inside a single-quoted
    * string literal (standard SQL `''` escaping) — travel-clause
    * rewriting must never touch literal text.
    */
  private def inStringLiteral(sql: String, i: Int): Boolean = {
    var open = false
    var j = 0
    while (j < i) {
      if (sql.charAt(j) == '\'') open = !open
      j += 1
    }
    open
  }

  /** Open the warehouse + run one SQL statement that may carry
    * Iceberg-style time travel (`VERSION AS OF` / `TIMESTAMP AS OF` —
    * docs/components/iceberg.md's headline read path). Each travel
    * clause is rewritten to a snapshot-pinned temp view
    * (`Snapshots.read` / `Snapshots.readAsOf`) before the statement
    * reaches Spark's parser; everything else is plain Spark SQL over
    * the latest-version views. Matches inside single-quoted string
    * literals are left untouched.
    */
  /** Catalog spelling `db.table` — rewritten to the mangled view name
    * ahead of every other clause. Membership-guarded: only a KNOWN
    * (db, table) pair rewrites, so `alias.column` references pass
    * through untouched (an alias that shadows a database name AND a
    * column that shadows its table name would collide — the same
    * ambiguity any dotted-name SQL surface has).
    */
  private val QualifiedTable =
    """\b([A-Za-z_][A-Za-z0-9_]*)\.([A-Za-z_][A-Za-z0-9_]*)""".r

  // CALL [iceberg.]system.<proc>('<table>'[, name => value]…) — the
  // reference's documented maintenance surface runs as SQL text
  // (docs/architecture/lakehouse.md:73-75: expire_snapshots,
  // rewrite_manifests, rewrite_data_files scheduled as CALLs).
  private val CallProc =
    """(?is)^\s*CALL\s+(?:iceberg\.)?system\.([A-Za-z_]+)\s*\((.*)\)\s*$""".r

  private def dataFileCount(tableDir: String, v: Long): Long = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(tableDir, s"v=$v")
    val s = java.nio.file.Files.walk(root)
    try s.iterator().asScala.count(_.toString.endsWith(".parquet")).toLong
    finally s.close()
  }

  /** Execute one maintenance procedure against a warehouse table and
    * return its metrics as a (metric, value) table — Iceberg's
    * stored-procedure shape on this engine's snapshot store. Known
    * procedures: `expire_snapshots(retain_last)`,
    * `rewrite_data_files(min_input_files, target_files)` (no-op
    * below the input-file floor, exactly the scheduled-compaction
    * contract), `rewrite_manifests()` (regenerates the `$files`
    * stats sidecar), `rollback_to_snapshot(version)`. Unknown
    * procedures and unknown tables fail loudly.
    */
  private def callProcedure(spark: SparkSession, warehouseDir: String,
      proc: String, argText: String): DataFrame = {
    import graft.sources.Snapshots
    Snapshots.recoverTxns(warehouseDir) // catalog entry point
    val table = """'([^']+)'""".r.findFirstMatchIn(argText).map(_.group(1))
      .getOrElse(throw new IllegalArgumentException(
        s"CALL system.$proc: first argument must be the quoted table name"))
    val named: Map[String, Long] =
      """(?i)([A-Za-z_]+)\s*=>\s*(\d+)""".r.findAllMatchIn(argText)
        .map(m => m.group(1).toLowerCase -> m.group(2).toLong).toMap
    val dir = warehouseEntries(warehouseDir).find(_._1 == table).map(_._2)
      .getOrElse(throw new IllegalArgumentException(
        s"CALL system.$proc: unknown table '$table'"))
    def metrics(rows: (String, Long)*): DataFrame = {
      import spark.implicits._
      rows.toSeq.toDF("metric", "value")
    }
    proc.toLowerCase match {
      case "expire_snapshots" =>
        val keep = named.getOrElse("retain_last", 1L).toInt
        metrics("deleted_snapshots_count" ->
          Snapshots.expireSnapshots(dir, keep).size.toLong)
      case "rewrite_data_files" =>
        val minIn = named.getOrElse("min_input_files", 2L)
        val target = named.getOrElse("target_files", 1L).toInt
        val latest = Snapshots.versions(dir).last
        val nFiles = dataFileCount(dir, latest)
        if (nFiles >= minIn) {
          Snapshots.compactLatest(spark, dir, target)
          metrics("rewritten_data_files_count" -> nFiles,
            "added_data_files_count" -> target.toLong)
        } else metrics("rewritten_data_files_count" -> 0L,
          "added_data_files_count" -> 0L)
      case "rewrite_manifests" =>
        Snapshots.writeFileStats(spark, dir, Snapshots.versions(dir).last)
        metrics("rewritten_manifests_count" -> 1L)
      case "rollback_to_snapshot" =>
        val v = named.getOrElse("version", throw new IllegalArgumentException(
          "rollback_to_snapshot needs version => <n>"))
        metrics("rolled_back_to" -> Snapshots.rollback(dir, v))
      case other => throw new IllegalArgumentException(
        s"unknown procedure system.$other")
    }
  }

  private val ShowTables =
    """(?is)^\s*SHOW\s+TABLES(?:\s+IN\s+([A-Za-z_][A-Za-z0-9_]*))?\s*$""".r

  // DESCRIBE [TABLE] <t> — the other first-contact catalog statement
  // next to SHOW TABLES: the CURRENT schema (post-DDL names/types,
  // the by-id ledger applied), answered metadata-only.
  private val DescribeStmt =
    """(?is)^\s*DESC(?:RIBE)?\s+(?:TABLE\s+)?([A-Za-z_][A-Za-z0-9_.]*)\s*$""".r

  // SHOW CREATE TABLE <t> — the catalog round-trip statement: columns
  // from the current by-id schema, the partition-transform clause from
  // the spec sidecar, TBLPROPERTIES from the `_props` ledger. Output
  // is (line_no, line) rows so every fragment is exactly checkable.
  private val ShowCreateStmt =
    """(?is)^\s*SHOW\s+CREATE\s+TABLE\s+([A-Za-z_][A-Za-z0-9_.]*)\s*$""".r

  // ALTER TABLE <t> SET/UNSET TBLPROPERTIES — the Iceberg/Spark
  // table-property surface over the append-only `_props` sidecar.
  private val SetTblPropsStmt =
    """(?is)^\s*ALTER\s+TABLE\s+([A-Za-z_][A-Za-z0-9_.]*)\s+SET\s+TBLPROPERTIES\s*\((.+)\)\s*$""".r
  private val UnsetTblPropsStmt =
    """(?is)^\s*ALTER\s+TABLE\s+([A-Za-z_][A-Za-z0-9_.]*)\s+UNSET\s+TBLPROPERTIES\s*\((.+)\)\s*$""".r
  private val ShowTblPropsStmt =
    """(?is)^\s*SHOW\s+TBLPROPERTIES\s+([A-Za-z_][A-Za-z0-9_.]*)\s*$""".r

  // SHOW PARTITIONS <t> — the statement spelling of the `$partitions`
  // metadata table (answered from the $files sidecar, no data read).
  private val ShowPartitionsStmt =
    """(?is)^\s*SHOW\s+PARTITIONS\s+([A-Za-z_][A-Za-z0-9_.]*)\s*$""".r

  // ALTER TABLE <t> WRITE ORDERED BY (c1[, c2…]) — Iceberg's
  // persistent sort-order DDL (reference lakehouse.md:100): attaches
  // a write order to the CATALOG TABLE so every subsequent INSERT
  // INTO / landing range-clusters on the named columns without the
  // writer asking — the set-once-per-table spelling of q67's
  // per-landing clustering. WRITE UNORDERED drops it.
  private val WriteOrderedStmt =
    """(?is)^\s*ALTER\s+TABLE\s+([A-Za-z_][A-Za-z0-9_.]*)\s+WRITE\s+ORDERED\s+BY\s*\(\s*([A-Za-z_][A-Za-z0-9_]*(?:\s*,\s*[A-Za-z_][A-Za-z0-9_]*)*)\s*\)\s*$""".r
  // WRITE ZORDERED BY (a, b) — the 2-D variant (Delta's OPTIMIZE
  // ZORDER BY as a persistent write order): every data commit
  // bit-interleave-clusters, so predicates on EITHER column prune.
  private val WriteZOrderedStmt =
    """(?is)^\s*ALTER\s+TABLE\s+([A-Za-z_][A-Za-z0-9_.]*)\s+WRITE\s+ZORDERED\s+BY\s*\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*,\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)\s*$""".r
  private val WriteUnorderedStmt =
    """(?is)^\s*ALTER\s+TABLE\s+([A-Za-z_][A-Za-z0-9_.]*)\s+WRITE\s+UNORDERED\s*$""".r

  // EXPLAIN <select> — the resolved Spark plan as text rows; the
  // query is PLANNED (travel clauses, views, governance all applied)
  // but never executed.
  private val ExplainStmt = """(?is)^\s*EXPLAIN\s+(SELECT\b.*)$""".r

  // TRUNCATE TABLE <t> — a new EMPTY version of a snapshot table:
  // no data file is rewritten or deleted, every prior version stays
  // travelable, rollback undoes it. (MoR tables are rejected loudly —
  // their delete surface is `DELETE FROM`, which keeps the positional
  // delete economics.)
  private val TruncateStmt =
    """(?is)^\s*TRUNCATE\s+TABLE\s+([A-Za-z_][A-Za-z0-9_.]*)\s*$""".r

  /** One `'k' = 'v'` pair; `''` in the value unescapes to `'`. */
  private val PropPair =
    """(?s)^\s*'([^']+)'\s*=\s*'((?:[^']|'')*)'\s*$""".r
  private val PropKey = """(?s)^\s*'([^']+)'\s*$""".r

  /** Split on top-level commas OUTSIDE quotes (the parseAssignments
    * splitter, reused for property lists).
    */
  private def splitTopLevel(s: String): Seq[String] = {
    val parts = scala.collection.mutable.Buffer[String]()
    var depth = 0; var inStr = false; val cur = new StringBuilder
    s.foreach { ch =>
      if (ch == '\'') { inStr = !inStr; cur += ch }
      else if (!inStr && ch == '(') { depth += 1; cur += ch }
      else if (!inStr && ch == ')') { depth -= 1; cur += ch }
      else if (!inStr && depth == 0 && ch == ',') {
        parts += cur.toString; cur.clear()
      } else cur += ch
    }
    parts += cur.toString
    parts.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  private def parsePropPairs(body: String): Seq[(String, String)] =
    splitTopLevel(body).map {
      case PropPair(k, v) => (k, v.replace("''", "'"))
      case other => throw new IllegalArgumentException(
        s"malformed TBLPROPERTIES pair: $other (expected 'key' = 'value')")
    }

  private def parsePropKeys(body: String): Seq[String] =
    splitTopLevel(body).map {
      case PropKey(k) => k
      case other => throw new IllegalArgumentException(
        s"malformed TBLPROPERTIES key: $other (expected 'key')")
    }

  private def showCreateTable(spark: SparkSession, warehouseDir: String,
      name: String): DataFrame = {
    val dir = existingDir(warehouseDir, name, "SHOW CREATE TABLE")
    val fields = readTable(spark, dir).schema.fields
    val colLines = fields.zipWithIndex.map { case (f, i) =>
      s"  ${f.name} ${f.dataType.sql.toLowerCase}" +
        (if (i < fields.length - 1) "," else ")")
    }
    val usingLine = "USING " + (
      if (isMorTable(dir)) "graft_mor"
      else if (graft.sources.Transforms.isTransformTable(dir)) "graft_transforms"
      else "graft_snapshots")
    val specFields = graft.sources.Transforms.currentSpecShow(dir)
    val partLines =
      if (specFields.isEmpty) Seq.empty
      else Seq(s"PARTITIONED BY (${specFields.mkString(", ")})")
    val allProps = graft.sources.Snapshots.tableProperties(dir)
    // the write order round-trips as its own DDL clause, not a prop line
    val ZSpec = """(?i)^\s*zorder\s*\((.+)\)\s*$""".r
    val orderLines = allProps.get(graft.sources.Mor.WriteOrderProp)
      .map {
        case ZSpec(cols) => s"WRITE ZORDERED BY (${cols.trim})"
        case spec => s"WRITE ORDERED BY ($spec)"
      }.toSeq
    val props = (allProps - graft.sources.Mor.WriteOrderProp).toSeq.sortBy(_._1)
    val propLines =
      if (props.isEmpty) Seq.empty
      else "TBLPROPERTIES (" +: props.zipWithIndex.map { case ((k, v), i) =>
        s"  '$k' = '${v.replace("'", "''")}'" +
          (if (i < props.length - 1) "," else ")")
      }
    val all = (s"CREATE TABLE $name (" +: colLines) ++
      (usingLine +: partLines) ++ orderLines ++ propLines
    import spark.implicits._
    all.zipWithIndex.map { case (l, i) => (i + 1L, l) }
      .toSeq.toDF("line_no", "line")
  }

  private def describeTable(spark: SparkSession, warehouseDir: String,
      name: String): DataFrame = {
    val dir = existingDir(warehouseDir, name, "DESCRIBE")
    val fields = readTable(spark, dir).schema.fields
    import spark.implicits._
    fields.zipWithIndex.map { case (f, i) =>
      (i + 1L, f.name, f.dataType.sql.toLowerCase)
    }.toSeq.toDF("ordinal", "column_name", "data_type")
  }

  // ANALYZE TABLE <t> COMPUTE STATISTICS [FOR ALL COLUMNS] — Spark's
  // own spelling (Trino: ANALYZE <t>); stats land as a versioned
  // sidecar and serve through `<t>$stats` + the broadcast planner.
  private val AnalyzeStmt =
    """(?is)^\s*ANALYZE\s+TABLE\s+([A-Za-z_][A-Za-z0-9_.]*)\s+COMPUTE\s+STATISTICS(?:\s+FOR\s+ALL\s+COLUMNS)?\s*$""".r

  // SQL DML over merge-on-read tables — the reference's own GDPR
  // surface is literally `DELETE FROM <table> WHERE user_id=…` with
  // positionDeletes keeping it metadata-only
  // (docs/architecture/lakehouse.md:108). CREATE TABLE AS and INSERT
  // INTO land/append data commits; UPDATE rides Mor.updateWhere's
  // atomic posdelete+data pair; DELETE FROM rides Mor.deleteAt — no
  // key columns needed, no data file rewritten, cost ∝ rows touched.
  private val CreateTableAs =
    """(?is)^\s*CREATE\s+TABLE\s+([A-Za-z_][A-Za-z0-9_.]*)\s+AS\s+(SELECT\b.*)$""".r
  private val InsertInto =
    """(?is)^\s*INSERT\s+INTO\s+([A-Za-z_][A-Za-z0-9_.]*)\s+(SELECT\b.*)$""".r
  private val DeleteFrom =
    """(?is)^\s*DELETE\s+FROM\s+([A-Za-z_][A-Za-z0-9_.]*)\s+WHERE\s+(.+)$""".r
  // SET body and WHERE split by [[topLevelIndexOf]], not the regex: a
  // lazy `(.+?)\s+WHERE` would split at a WHERE inside a string
  // literal (found by the fuzz corpus — `SET s = 'DELETE … WHERE 1=1'`)
  private val UpdateStmt =
    """(?is)^\s*UPDATE\s+([A-Za-z_][A-Za-z0-9_.]*)\s+SET\s+(.+)$""".r

  /** Index of the first word-bounded, case-insensitive `keyword` in
    * `text` at paren depth 0 and OUTSIDE single-quoted literals
    * (`''` escaping toggles twice — same effect); -1 when absent.
    * The statement splitter for clause keywords that may legally
    * appear inside literal data.
    */
  private def topLevelIndexOf(text: String, keyword: String): Int = {
    var i = 0
    var depth = 0
    var inStr = false
    val n = text.length
    def wordChar(c: Char) = Character.isLetterOrDigit(c) || c == '_'
    while (i < n) {
      val c = text.charAt(i)
      if (c == '\'') inStr = !inStr
      else if (!inStr && c == '(') depth += 1
      else if (!inStr && c == ')') depth -= 1
      else if (!inStr && depth == 0 &&
        text.regionMatches(true, i, keyword, 0, keyword.length) &&
        (i == 0 || !wordChar(text.charAt(i - 1))) &&
        (i + keyword.length >= n || !wordChar(text.charAt(i + keyword.length))))
        return i
      i += 1
    }
    -1
  }

  /** Split `a = e1, b = e2, …` on top-level commas (quote- and
    * paren-aware) into (column, expression-text) pairs.
    */
  private def parseAssignments(s: String): Seq[(String, String)] = {
    val parts = scala.collection.mutable.Buffer[String]()
    var depth = 0; var inStr = false; val cur = new StringBuilder
    s.foreach { ch =>
      if (ch == '\'') { inStr = !inStr; cur += ch }
      else if (!inStr && ch == '(') { depth += 1; cur += ch }
      else if (!inStr && ch == ')') { depth -= 1; cur += ch }
      else if (!inStr && depth == 0 && ch == ',') {
        parts += cur.toString; cur.clear()
      } else cur += ch
    }
    parts += cur.toString
    parts.toSeq.map(_.trim).filter(_.nonEmpty).map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"malformed SET assignment: '$a'")
      (a.take(i).trim, a.drop(i + 1).trim)
    }
  }

  /** Resolve a DML target: the on-disk dir of an EXISTING warehouse
    * table (flat or namespaced), failing loudly on unknown names.
    */
  private def existingDir(warehouseDir: String, name: String,
      stmt: String): String =
    warehouseEntries(warehouseDir).find(_._1 == name).map(_._2)
      .getOrElse(throw new IllegalArgumentException(
        s"$stmt: unknown table '$name'"))

  /** One (table, operation, rows_affected) row — the facade's DML
    * result shape. `rowsAffected` reads the landed commit directory's
    * row count (the delta itself — never the table).
    */
  private def dmlResult(spark: SparkSession, table: String, op: String,
      dir: String, commitId: Long): DataFrame = {
    import spark.implicits._
    // delta row count from the commit dir's footers — no data job
    val n = graft.sources.ParquetSchemas.rowCount(spark, s"$dir/c=$commitId")
    Seq((table, op, n)).toDF("table_name", "operation", "rows_affected")
  }

  // ALTER TABLE — the SQL spelling of the by-id schema ledger
  // (reference: the lakehouse schema-evolution matrix, docs/
  // architecture/lakehouse.md:83-89 — add/rename/drop/compatible-
  // type-change, all metadata-only "tracked via field IDs"). Each
  // statement appends ONE ledger entry; no data file is touched;
  // explicit-version travel keeps every snapshot's write-time schema.
  private val AlterRename =
    """(?is)^\s*ALTER\s+TABLE\s+([A-Za-z_][A-Za-z0-9_.]*)\s+RENAME\s+COLUMN\s+([A-Za-z_][A-Za-z0-9_]*)\s+TO\s+([A-Za-z_][A-Za-z0-9_]*)\s*$""".r
  private val AlterAddCol =
    """(?is)^\s*ALTER\s+TABLE\s+([A-Za-z_][A-Za-z0-9_.]*)\s+ADD\s+COLUMN\s+([A-Za-z_][A-Za-z0-9_]*)\s+([A-Za-z][A-Za-z0-9_(),\s]*?)(?:\s+DEFAULT\s+(.+?))?\s*$""".r
  private val AlterColType =
    """(?is)^\s*ALTER\s+TABLE\s+([A-Za-z_][A-Za-z0-9_.]*)\s+ALTER\s+COLUMN\s+([A-Za-z_][A-Za-z0-9_]*)\s+TYPE\s+([A-Za-z][A-Za-z0-9_(),\s]*?)\s*$""".r
  private val AlterDropCol =
    """(?is)^\s*ALTER\s+TABLE\s+([A-Za-z_][A-Za-z0-9_.]*)\s+DROP\s+COLUMN\s+([A-Za-z_][A-Za-z0-9_]*)\s*$""".r

  private def ddlResult(spark: SparkSession, table: String, op: String,
      detail: String): DataFrame = {
    import spark.implicits._
    Seq((table, op, detail)).toDF("table_name", "operation", "detail")
  }

  // CREATE TABLE … [SHALLOW] CLONE <src> [VERSION AS OF n] — Delta's
  // zero-copy clone as a statement: a new table hard-linked over one
  // source snapshot ([[graft.sources.Snapshots.cloneTable]]), independent
  // from birth. Dev/test copies of a 100 TB table for the cost of a
  // manifest write — the workflow shallow clone exists for.
  private val CloneStmt =
    """(?is)^\s*CREATE\s+TABLE\s+([A-Za-z_][A-Za-z0-9_.]*)\s+(?:SHALLOW\s+)?CLONE\s+([A-Za-z_][A-Za-z0-9_.]*)(?:\s+VERSION\s+AS\s+OF\s+(\d+))?\s*$""".r

  // MERGE INTO — the canonical whole-row Delta/Iceberg spelling over
  // the copy-on-write merge primitive (`Merge.upsertFull` under
  // `Snapshots.mergeWith`'s optimistic-retry commit): ON must be key
  // equalities, matched rows take the whole source row (`UPDATE SET
  // *`) or DELETE under a condition, unmatched source rows `INSERT *`,
  // and the two `NOT MATCHED BY SOURCE` actions (DELETE / UPDATE SET)
  // handle disappeared records. Column-wise SET on MATCHED is out of
  // scope by design — reshape the source with CREATE VIEW instead
  // (the composition the view catalog exists for).
  private val MergeIntoStmt =
    """(?is)^\s*MERGE\s+INTO\s+([A-Za-z_][A-Za-z0-9_.]*)(?:\s+(?:AS\s+)?([A-Za-z_][A-Za-z0-9_]*))?\s+USING\s+([A-Za-z_][A-Za-z0-9_.]*)(?:\s+(?:AS\s+)?([A-Za-z_][A-Za-z0-9_]*))?\s+ON\s+(.+?)\s+(WHEN\s.+)$""".r
  // the clause-boundary lookahead names the full clause heads so a
  // CASE WHEN inside a SET expression can never terminate a clause
  private val WhenClause =
    """(?is)WHEN\s+(NOT\s+MATCHED\s+BY\s+SOURCE|NOT\s+MATCHED|MATCHED)(?:\s+AND\s+(.+?))?\s+THEN\s+(DELETE|INSERT\s*\*|UPDATE\s+SET\s+(?:\*|.+?))\s*(?=WHEN\s+(?:NOT\s+)?MATCHED|$)""".r
  private val OnEquality =
    """(?:([A-Za-z_][A-Za-z0-9_]*)\.)?([A-Za-z_][A-Za-z0-9_]*)\s*=\s*(?:([A-Za-z_][A-Za-z0-9_]*)\.)?([A-Za-z_][A-Za-z0-9_]*)""".r

  /** Strip `alias.` prefixes so clause conditions written against the
    * MERGE aliases resolve as bare columns inside the primitive.
    */
  private def stripAliases(text: String, aliases: Seq[String]): String =
    aliases.filter(_ != null).foldLeft(text) { (t, a) =>
      t.replaceAll(s"(?i)\\b${java.util.regex.Pattern.quote(a)}\\.", "")
    }

  /** Reject a MERGE clause condition that qualifies columns with the
    * alias of the side the condition will NOT be evaluated against.
    * [[graft.operators.Merge.upsertFull]] evaluates `WHEN MATCHED …
    * DELETE` conditions on the SOURCE row and `WHEN NOT MATCHED BY
    * SOURCE` conditions on the TARGET row; blindly stripping the
    * other side's alias would silently re-point `t.balance < 0` at
    * the source's `balance` — a silent wrong answer. Failing loudly
    * here directs the user to fold such logic into the source view
    * (the documented composition path). Checked on the raw clause
    * text, so an over-match inside a string literal errs loud, never
    * silent.
    */
  private def rejectWrongSideAlias(cond: String, alias: String,
      clause: String, evalSide: String): Unit =
    if (alias != null &&
      s"(?i)\\b${java.util.regex.Pattern.quote(alias)}\\.".r
        .findFirstIn(cond).isDefined)
      throw new IllegalArgumentException(
        s"$clause condition references alias '$alias', but this clause " +
          s"is evaluated against the $evalSide row only; fold that logic " +
          "into the source view (CREATE VIEW) instead")

  // CREATE VIEW / DROP VIEW / SHOW VIEWS — named logical views in the
  // warehouse catalog (the dbt `view` materialization at the SQL
  // surface, p20's semantic: a view RE-RESOLVES against the current
  // table state on every query, a table stays pinned). Definitions
  // live in a `_views` ledger (name + base64 SQL — SQL text may carry
  // any byte); they resolve in creation order, so a definition may
  // reference tables and EARLIER views only (later- or self-reference
  // fails loudly at CREATE validation — cycles are unrepresentable).
  private val CreateView =
    """(?is)^\s*CREATE\s+VIEW\s+([A-Za-z_][A-Za-z0-9_.]*)\s+AS\s+(SELECT\b.*)$""".r
  private val DropView =
    """(?is)^\s*DROP\s+VIEW\s+([A-Za-z_][A-Za-z0-9_.]*)\s*$""".r
  private val ShowViews = """(?is)^\s*SHOW\s+VIEWS\s*$""".r

  private def viewsLedger(wh: String) =
    java.nio.file.Paths.get(wh, "_views")

  // CREATE/DROP VIEW mutate the ledger under an exclusive lock: a
  // concurrent CREATE interleaving a DROP's read-rewrite would
  // otherwise lose one of the two writes silently
  private def withViewsLock[A](wh: String)(f: => A): A =
    FileLocks.withLock(java.nio.file.Paths.get(wh, "_views.lock"))(f)

  private def viewDefs(wh: String): Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    val p = viewsLedger(wh)
    if (!java.nio.file.Files.exists(p)) Seq.empty
    else java.nio.file.Files.readAllLines(p).asScala.toSeq
      .filter(_.nonEmpty).map { line =>
        val Array(n, b64) = line.split('\t')
        n -> new String(java.util.Base64.getDecoder.decode(b64), "UTF-8")
      }
  }

  /** `SHOW TABLES [IN <db>]` — the catalog listing a Kyuubi user
    * types first (reference: namespace-per-database convention,
    * docs/components/iceberg.md:6-7): one row per warehouse table
    * with its namespace, version count, head version and current
    * row count (parquet footer metadata — no data scan).
    */
  private def showTables(spark: SparkSession, warehouseDir: String,
      db: Option[String]): DataFrame = {
    import graft.sources.Snapshots
    Snapshots.recoverTxns(warehouseDir)
    val rows = warehouseEntries(warehouseDir).map { case (name, d) =>
      val (ns, t) = name.split('.') match {
        case Array(a, b) => (a, b)
        case _ => ("default", name)
      }
      (ns, t, d)
    }
      // db filter BEFORE any counting: SHOW TABLES IN db must not pay
      // row counts for every other database's tables
      .filter(r => db.forall(_ == r._1)).sortBy(r => (r._1, r._2))
      .map { case (ns, t, d) =>
        val vs =
          if (isMorTable(d)) graft.sources.Mor.commits(d).map(_.id)
          else Snapshots.versions(d)
        // plain snapshot tables answer from the _filestats sidecar
        // when present, else an in-memory footer sum — NO sidecar is
        // written here: SHOW TABLES is a read statement and must not
        // mutate a (possibly read-only) warehouse. MoR replay and
        // transform reads keep the exact count job
        val nRows =
          if (isMorTable(d) || graft.sources.Transforms.isTransformTable(d))
            readTable(spark, d).count()
          else Snapshots.headRowCountNoWrite(spark, d)
        (ns, t, vs.size.toLong, vs.lastOption.getOrElse(0L), nRows)
      }
    import spark.implicits._
    rows.toDF("namespace", "table_name", "n_versions",
      "latest_version", "latest_rows")
  }

  def sqlWarehouse(spark: SparkSession, warehouseDir: String,
      query: String): DataFrame =
    sqlWarehouse0(spark, warehouseDir, query, withViews = true)

  /** `withViews = false` is the view-definition resolution path: it
    * skips the registration loop (the loop itself is registering, in
    * ledger order — earlier views are already temp views when a later
    * definition resolves), which is what makes view-over-view legal
    * and self/forward reference a loud failure instead of recursion.
    */
  private def sqlWarehouse0(spark: SparkSession, warehouseDir: String,
      query: String, withViews: Boolean): DataFrame = {
    query match {
      case CreateView(name, select) =>
        require(warehouseEntries(warehouseDir).forall(_._1 != name),
          s"CREATE VIEW: '$name' already exists")
        // validate NOW — a broken definition must fail at CREATE,
        // not at some later reader's query
        sqlWarehouse0(spark, warehouseDir, select, withViews = true).schema
        withViewsLock(warehouseDir) {
          require(viewDefs(warehouseDir).forall(_._1 != name),
            s"CREATE VIEW: '$name' already exists")
          val b64 = java.util.Base64.getEncoder
            .encodeToString(select.getBytes("UTF-8"))
          java.nio.file.Files.write(viewsLedger(warehouseDir),
            s"$name\t$b64\n".getBytes("UTF-8"),
            java.nio.file.StandardOpenOption.CREATE,
            java.nio.file.StandardOpenOption.APPEND)
        }
        import spark.implicits._
        return Seq((name, "create_view")).toDF("view_name", "operation")
      case DropView(name) =>
        withViewsLock(warehouseDir) {
          val defs = viewDefs(warehouseDir)
          require(defs.exists(_._1 == name), s"DROP VIEW: unknown view '$name'")
          val kept = defs.filter(_._1 != name).map { case (n, s) =>
            s"$n\t${java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))}"
          }
          java.nio.file.Files.write(viewsLedger(warehouseDir),
            kept.mkString("", "\n", if (kept.isEmpty) "" else "\n")
              .getBytes("UTF-8"))
        }
        // drop BOTH spellings from the session catalog: a FLAT view
        // name was registered verbatim, so a post-drop query would
        // otherwise resolve the stale same-name temp view and silently
        // serve the dropped definition (dotted names register only
        // mangled — dropping both covers either case)
        spark.catalog.dropTempView(name)
        spark.catalog.dropTempView(viewName(name))
        import spark.implicits._
        return Seq((name, "drop_view")).toDF("view_name", "operation")
      case ShowViews() =>
        import spark.implicits._
        return viewDefs(warehouseDir).map { case (n, _) =>
          n.split('.') match {
            case Array(db, t) => (db, t)
            case _ => ("default", n)
          }
        }.sortBy(identity).toDF("namespace", "view_name")
      case CallProc(proc, args) =>
        return callProcedure(spark, warehouseDir, proc, args)
      case ShowTables(db) =>
        return showTables(spark, warehouseDir, Option(db))
      case ShowCreateStmt(name) =>
        graft.sources.Snapshots.recoverTxns(warehouseDir)
        return showCreateTable(spark, warehouseDir, name)
      case WriteOrderedStmt(name, colsText) =>
        val dir = existingDir(warehouseDir, name, "ALTER TABLE")
        val cols = colsText.split(',').map(_.trim).filter(_.nonEmpty).toSeq
        val schema = readTable(spark, dir).columns.toSet
        val missing = cols.filterNot(schema.contains)
        require(missing.isEmpty,
          s"WRITE ORDERED BY names unknown column(s): ${missing.mkString(", ")}")
        graft.sources.Snapshots.setTableProperties(dir,
          Seq(graft.sources.Mor.WriteOrderProp -> cols.mkString(", ")))
        return ddlResult(spark, name, "write_ordered_by", cols.mkString(", "))
      case WriteZOrderedStmt(name, ca, cb) =>
        val dir = existingDir(warehouseDir, name, "ALTER TABLE")
        val schema = readTable(spark, dir).schema
        val missing = Seq(ca, cb).filterNot(c => schema.fieldNames.contains(c))
        require(missing.isEmpty,
          s"WRITE ZORDERED BY names unknown column(s): ${missing.mkString(", ")}")
        Seq(ca, cb).foreach { c =>
          require(schema(c).dataType == org.apache.spark.sql.types.LongType,
            s"WRITE ZORDERED BY needs BIGINT columns, " +
              s"'$c' is ${schema(c).dataType.sql.toLowerCase}")
        }
        graft.sources.Snapshots.setTableProperties(dir,
          Seq(graft.sources.Mor.WriteOrderProp -> s"zorder($ca, $cb)"))
        return ddlResult(spark, name, "write_zordered_by", s"$ca, $cb")
      case WriteUnorderedStmt(name) =>
        val dir = existingDir(warehouseDir, name, "ALTER TABLE")
        graft.sources.Snapshots.unsetTableProperties(dir,
          Seq(graft.sources.Mor.WriteOrderProp))
        return ddlResult(spark, name, "write_unordered", "")
      case SetTblPropsStmt(name, body) =>
        val dir = existingDir(warehouseDir, name, "ALTER TABLE")
        val kvs = parsePropPairs(body)
        graft.sources.Snapshots.setTableProperties(dir, kvs)
        return ddlResult(spark, name, "set_tblproperties",
          kvs.map(_._1).mkString(", "))
      case UnsetTblPropsStmt(name, body) =>
        val dir = existingDir(warehouseDir, name, "ALTER TABLE")
        val keys = parsePropKeys(body)
        graft.sources.Snapshots.unsetTableProperties(dir, keys)
        return ddlResult(spark, name, "unset_tblproperties",
          keys.mkString(", "))
      case ShowTblPropsStmt(name) =>
        val dir = existingDir(warehouseDir, name, "SHOW TBLPROPERTIES")
        import spark.implicits._
        return graft.sources.Snapshots.tableProperties(dir).toSeq
          .sortBy(_._1).toDF("key", "value")
      case ShowPartitionsStmt(name) =>
        graft.sources.Snapshots.recoverTxns(warehouseDir)
        val dir = existingDir(warehouseDir, name, "SHOW PARTITIONS")
        return graft.sources.Snapshots.partitionsTable(spark, dir)
          .orderBy(org.apache.spark.sql.functions.col("partition"))
      case ExplainStmt(select) =>
        val planned = sqlWarehouse0(spark, warehouseDir, select, withViews)
        import spark.implicits._
        return planned.queryExecution.explainString(
            org.apache.spark.sql.execution.SimpleMode)
          .split('\n').toSeq.zipWithIndex
          .map { case (l, i) => (i + 1L, l) }
          .toDF("line_no", "plan_line")
      case TruncateStmt(name) =>
        graft.sources.Snapshots.recoverTxns(warehouseDir)
        val dir = existingDir(warehouseDir, name, "TRUNCATE TABLE")
        require(!isMorTable(dir), "TRUNCATE TABLE targets snapshot " +
          "tables; merge-on-read tables delete through DELETE FROM")
        require(!graft.sources.Transforms.isTransformTable(dir),
          "TRUNCATE TABLE targets snapshot tables; a transform-" +
            "partitioned table would get a snapshot version committed " +
            "into its directory — delete through the transform store")
        val schema = graft.sources.Snapshots.read(spark, dir).schema
        // one empty partition (not zero) so a schema-bearing parquet
        // footer lands and the empty version reads back like any other
        val empty = spark.createDataFrame(
          spark.sparkContext.parallelize(
            Seq.empty[org.apache.spark.sql.Row], 1), schema)
        val v = graft.sources.Snapshots.commit(empty, dir)
        return ddlResult(spark, name, "truncate", s"version $v")
      case DescribeStmt(name) =>
        graft.sources.Snapshots.recoverTxns(warehouseDir)
        return describeTable(spark, warehouseDir, name)
      case AnalyzeStmt(table) =>
        graft.sources.Snapshots.recoverTxns(warehouseDir)
        val dir = warehouseEntries(warehouseDir).find(_._1 == table)
          .map(_._2).getOrElse(throw new IllegalArgumentException(
            s"ANALYZE TABLE: unknown table '$table'"))
        return graft.sources.Snapshots.analyzeTable(spark, dir)
      case AlterRename(name, from, to) =>
        graft.sources.Snapshots.renameColumn(
          existingDir(warehouseDir, name, "ALTER TABLE"), from, to)
        return ddlResult(spark, name, "rename_column", s"$from -> $to")
      case AlterAddCol(name, colName, typeText, defaultText) =>
        graft.sources.Snapshots.addColumn(
          existingDir(warehouseDir, name, "ALTER TABLE"), colName,
          org.apache.spark.sql.types.DataType.fromDDL(typeText.trim),
          Option(defaultText))
        return ddlResult(spark, name, "add_column",
          s"$colName ${typeText.trim}" +
            Option(defaultText).fold("")(d => s" default $d"))
      case AlterColType(name, colName, typeText) =>
        graft.sources.Snapshots.widenColumn(
          existingDir(warehouseDir, name, "ALTER TABLE"), colName,
          org.apache.spark.sql.types.DataType.fromDDL(typeText.trim))
        return ddlResult(spark, name, "widen_column",
          s"$colName -> ${typeText.trim}")
      case AlterDropCol(name, colName) =>
        graft.sources.Snapshots.dropColumn(
          existingDir(warehouseDir, name, "ALTER TABLE"), colName)
        return ddlResult(spark, name, "drop_column", colName)
      case CloneStmt(newName, srcName, vText) =>
        import graft.sources.Snapshots
        require(warehouseEntries(warehouseDir).forall(_._1 != newName),
          s"CLONE: table '$newName' already exists")
        val srcDir = existingDir(warehouseDir, srcName, "CLONE")
        require(!isMorTable(srcDir),
          "CLONE sources snapshot tables (MoR tables carry delete " +
            "ledgers a link-tree cannot snapshot consistently)")
        Snapshots.cloneTable(spark, srcDir, tableDir(warehouseDir, newName),
          Option(vText).map(_.toLong).getOrElse(-1L))
        return ddlResult(spark, newName, "clone",
          s"$srcName${Option(vText).fold("")(v => s" v$v")}")
      case MergeIntoStmt(tName, tAlias, sName, sAlias, onText, whenText) =>
        import graft.sources.Snapshots
        val dir = existingDir(warehouseDir, tName, "MERGE INTO")
        require(!isMorTable(dir),
          "MERGE INTO targets snapshot (copy-on-write) tables; use " +
            "INSERT/UPDATE/DELETE for merge-on-read tables")
        val aliases = Seq(tAlias, sAlias)
        // EVERY ANDed conjunct must be a same-name key equality — a
        // silently-dropped extra ON predicate would change which rows
        // match, the worst kind of wrong answer
        val keys = onText.split("(?i)\\s+AND\\s+").toSeq.map(_.trim).map {
          case OnEquality(_, l, _, r) =>
            require(l == r,
              s"MERGE ON must equate same-named key columns, got '$l' = '$r'")
            l
          case other => throw new IllegalArgumentException(
            s"MERGE ON supports only ANDed key equalities; " +
              s"fold '$other' into the source view")
        }
        require(keys.nonEmpty, s"MERGE ON has no key equality: $onText")
        var matchedUpdate = false
        var deleteWhen: Option[org.apache.spark.sql.Column] = None
        var insertAll = false
        var nmbsDelete: Option[org.apache.spark.sql.Column] = None
        var nmbsSet: Map[String, org.apache.spark.sql.Column] = Map.empty
        def condOf(s: String) =
          org.apache.spark.sql.functions.expr(stripAliases(s, aliases))
        WhenClause.findAllMatchIn(whenText).foreach { m =>
          val kind = m.group(1).toLowerCase.replaceAll("\\s+", " ")
          val cond = Option(m.group(2))
          val action = m.group(3).trim
          val actionU = action.toUpperCase.replaceAll("\\s+", " ")
          (kind, actionU) match {
            case ("matched", "UPDATE SET *") =>
              require(cond.isEmpty,
                "conditional MATCHED UPDATE is unsupported; use a view")
              matchedUpdate = true
            case ("matched", "DELETE") =>
              cond.foreach(rejectWrongSideAlias(_, tAlias,
                "WHEN MATCHED … DELETE", "source"))
              deleteWhen = Some(cond.map(condOf)
                .getOrElse(org.apache.spark.sql.functions.lit(true)))
            case ("not matched", "INSERT *") =>
              require(cond.isEmpty,
                "conditional NOT MATCHED INSERT is unsupported; use a view")
              insertAll = true
            case ("not matched by source", "DELETE") =>
              cond.foreach(rejectWrongSideAlias(_, sAlias,
                "WHEN NOT MATCHED BY SOURCE … DELETE", "target"))
              nmbsDelete = Some(cond.map(condOf)
                .getOrElse(org.apache.spark.sql.functions.lit(true)))
            case ("not matched by source", a) if a.startsWith("UPDATE SET ") =>
              require(cond.isEmpty,
                "fold the condition into the SET expression (CASE WHEN)")
              val assigns = parseAssignments(
                action.replaceAll("(?is)^UPDATE\\s+SET\\s+", ""))
              assigns.foreach { case (_, e) =>
                rejectWrongSideAlias(e, sAlias,
                  "WHEN NOT MATCHED BY SOURCE … UPDATE SET", "target")
              }
              nmbsSet = assigns.map { case (c, e) => c -> condOf(e) }.toMap
            case other => throw new IllegalArgumentException(
              s"unsupported MERGE clause: WHEN ${m.group(1)} THEN $action")
          }
        }
        require(matchedUpdate && insertAll,
          "MERGE needs WHEN MATCHED THEN UPDATE SET * and " +
            "WHEN NOT MATCHED THEN INSERT * (whole-row semantics; " +
            "reshape the source with CREATE VIEW for anything else)")
        val srcDf = sqlWarehouse0(spark, warehouseDir,
          s"SELECT * FROM $sName", withViews = true)
        val v = Snapshots.mergeWith(spark, dir, srcDf)(
          (base, src) => graft.operators.Merge.upsertFull(
            base, src, keys, deleteWhen, nmbsDelete, nmbsSet))
        import spark.implicits._
        return Seq((tName, "merge", v))
          .toDF("table_name", "operation", "committed_version")
      case CreateTableAs(name, select) =>
        import graft.sources.Mor
        val dir = tableDir(warehouseDir, name)
        require(warehouseEntries(warehouseDir).forall(_._1 != name),
          s"CREATE TABLE: table '$name' already exists")
        val id = Mor.land(sqlWarehouse(spark, warehouseDir, select), dir)
        return dmlResult(spark, name, "create", dir, id)
      case InsertInto(name, select) =>
        import graft.sources.Mor
        val dir = existingDir(warehouseDir, name, "INSERT INTO")
        require(isMorTable(dir),
          s"INSERT INTO: '$name' is a snapshot table; DML targets MoR tables")
        val id = Mor.append(sqlWarehouse(spark, warehouseDir, select), dir)
        return dmlResult(spark, name, "insert", dir, id)
      case UpdateStmt(name, body) =>
        import graft.sources.Mor
        val dir = existingDir(warehouseDir, name, "UPDATE")
        require(isMorTable(dir),
          s"UPDATE: '$name' is a snapshot table; DML targets MoR tables")
        val wIdx = topLevelIndexOf(body, "WHERE")
        require(wIdx > 0,
          s"UPDATE needs a top-level WHERE clause (a WHERE inside a " +
            s"string literal does not count): $query")
        val setText = body.take(wIdx).trim
        val condText = body.drop(wIdx + "WHERE".length).trim
        val set = parseAssignments(setText).map { case (c, e) =>
          c -> org.apache.spark.sql.functions.expr(e)
        }.toMap
        val (_, addId) = Mor.updateWhere(spark, dir,
          org.apache.spark.sql.functions.expr(condText), set)
        return dmlResult(spark, name, "update", dir, addId)
      case DeleteFrom(name, condText) =>
        import graft.sources.Mor
        val dir = existingDir(warehouseDir, name, "DELETE FROM")
        require(isMorTable(dir),
          s"DELETE FROM: '$name' is a snapshot table; DML targets MoR tables")
        val id = Mor.deleteAt(spark, dir,
          org.apache.spark.sql.functions.expr(condText))
        return dmlResult(spark, name, "delete", dir, id)
      case _ =>
    }
    openWarehouse(spark, warehouseDir)
    val entries = warehouseEntries(warehouseDir)
    val defs = viewDefs(warehouseDir)
    if (withViews && defs.nonEmpty) {
      // skip re-resolution when every table state AND the definitions
      // are byte-identical to the last resolution on this session; a
      // DML/commit moves a table's fingerprint, CREATE/DROP VIEW moves
      // the defs, openGoverned/open invalidate out-of-band overwrites
      val fp = warehouseDir + "||" +
        entries.map { case (n, d) => s"$n=${tableFingerprint(d)}" }
          .mkString(";") + "||" +
        defs.map { case (n, s) => n + "\u0000" + s }.mkString("\u0001")
      if (!fp.equals(viewsMemo.get(spark))) {
        defs.foreach { case (n, sql) =>
          sqlWarehouse0(spark, warehouseDir, sql, withViews = false)
            .createOrReplaceTempView(viewName(n))
        }
        viewsMemo.put(spark, fp)
      }
    }
    val dirs: Map[String, String] =
      entries.map { case (n, d) => viewName(n) -> d }.toMap
    val qualified: Set[String] =
      (entries.map(_._1) ++ defs.map(_._1)).filter(_.contains('.')).toSet
    val tables = dirs.keySet
    val afterNs = QualifiedTable.replaceAllIn(query, m => {
      val q0 = s"${m.group(1)}.${m.group(2)}"
      if (!qualified(q0) || inStringLiteral(query, m.start))
        scala.util.matching.Regex.quoteReplacement(m.matched)
      else viewName(q0)
    })
    // table_changes('t', v1, v2[, 'key,key']) — the CDF table-valued
    // read (Delta's spelling; the key list is this engine's explicit
    // parameter, defaulting to the table's first column)
    val afterChanges = TableChangesCall.replaceAllIn(afterNs, m => {
      val raw = m.group(1)
      val vn = if (raw.contains('.')) viewName(raw) else raw
      if (!tables(vn) || inStringLiteral(afterNs, m.start))
        scala.util.matching.Regex.quoteReplacement(m.matched)
      else {
        val d = dirs(vn)
        val keys = Option(m.group(4))
          .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
          .getOrElse(Seq(
            graft.sources.Snapshots.read(spark, d).columns.head))
        val view = s"${vn}__changes_${m.group(2)}_${m.group(3)}"
        graft.sources.Snapshots.tableChanges(spark, d,
          m.group(2).toLong, m.group(3).toLong, keys)
          .createOrReplaceTempView(view)
        view
      }
    })
    val afterHistory = HistoryTable.replaceAllIn(afterChanges, m => {
      val (t, meta) = (m.group(1), m.group(2))
      // quoteReplacement: the fallthrough text contains `$<meta>`, which
      // Matcher.appendReplacement would otherwise parse as a group ref
      // and throw on — e.g. `$history` inside a string literal of an
      // otherwise-valid query must pass through verbatim, not crash
      if (!tables(t) || inStringLiteral(afterChanges, m.start))
        scala.util.matching.Regex.quoteReplacement(m.matched)
      else {
        import graft.sources.Snapshots
        val dir = dirs(t)
        val df = meta match {
          case "history" => Snapshots.history(spark, dir)
          case "snapshots" => Snapshots.snapshotsTable(spark, dir)
          case "files" => Snapshots.filesTable(spark, dir)
          case "partitions" => Snapshots.partitionsTable(spark, dir)
          case "refs" => Snapshots.refsTable(spark, dir)
          case "stats" => Snapshots.statsTable(spark, dir)
        }
        val view = s"${t}__$meta"
        df.createOrReplaceTempView(view)
        view
      }
    })
    val afterVersion = VersionAsOf.replaceAllIn(afterHistory, m => {
      val t = m.group(1)
      if (!tables(t) || inStringLiteral(afterHistory, m.start))
        scala.util.matching.Regex.quoteReplacement(m.matched)
      else if (m.group(2) != null) {
        val v = m.group(2).toLong
        val view = s"${t}__v$v"
        // numeric travel works on BOTH stores: snapshot version, or
        // MoR commit id (the ledger replay up to that commit — so a
        // pre-DELETE read shows the GDPR'd rows, the audit view)
        val travelled =
          if (isMorTable(dirs(t))) graft.sources.Mor.read(spark, dirs(t), v)
          else graft.sources.Snapshots.read(spark, dirs(t), v)
        travelled.createOrReplaceTempView(view)
        view
      } else {
        // Iceberg's ref-name travel: VERSION AS OF '<branch|tag>'
        val ref = m.group(3)
        val view = s"${t}__ref${ref.map(c =>
          if (c.isLetterOrDigit) c else '_')}"
        graft.sources.Snapshots.readRef(spark, dirs(t), ref)
          .createOrReplaceTempView(view)
        view
      }
    })
    val rewritten = TimestampAsOf.replaceAllIn(afterVersion, m => {
      val t = m.group(1)
      if (!tables(t) || inStringLiteral(afterVersion, m.start)) m.matched
      else {
        // quoted form parses as UTC, matching the engine's session
        // timeZone convention (Timestamp.valueOf would use JVM-local);
        // NOW()-relative evaluates once at parse time vs the session
        // clock ([[nowMillis]]) — Trino's semantics for the clause
        val millis = (Option(m.group(3)), Option(m.group(2))) match {
          case (Some(epoch), _) => epoch.toLong
          case (_, Some(lit)) =>
            java.time.LocalDateTime.parse(lit.replace(' ', 'T'))
              .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
          case _ =>
            val unitMs = Option(m.group(5)).map(_.toUpperCase) match {
              case Some("DAY") => 86400000L
              case Some("HOUR") => 3600000L
              case Some("MINUTE") => 60000L
              case Some("SECOND") => 1000L
              case _ => 0L
            }
            nowMillis() - Option(m.group(4)).fold(0L)(_.toLong) * unitMs
        }
        val view = s"${t}__ts$millis"
        graft.sources.Snapshots.readAsOf(spark, dirs(t), millis)
          .createOrReplaceTempView(view)
        view
      }
    })
    spark.sql(rewritten)
  }
}
