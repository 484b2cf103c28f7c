package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Snapshots

/** Materialization policies — the dbt `materialized=` configs the
  * reference's models declare (dbt/analytics/models: stg_users.sql
  * and stg_orders.sql are `materialized='table'`;
  * marts/daily_order_metrics.sql:2-12 is `materialized='incremental',
  * incremental_strategy='merge', unique_key=...`; all models carry
  * `on_schema_change='fail'`).
  */
sealed trait Materialization
object Materialization {

  /** Full refresh: every run commits a complete new snapshot (history
    * is retained by the store — time travel across runs).
    */
  case object Table extends Materialization

  /** dbt `materialized='view'` — dbt's DEFAULT materialization
    * (dbt_project.yml sets `materialized` per folder; unset models are
    * views): nothing is materialized, the model is a stored DEFINITION
    * re-resolved against its upstreams' CURRENT state on every read.
    * A view over a 100 TB staging table costs zero storage and is
    * never stale; the trade is that every consumer pays the view's
    * compute. Reads go through [[Runner.readModel]], which composes
    * the definition over the upstreams' latest snapshots (exactly
    * `CREATE VIEW` + read in a catalog warehouse). Checks run against
    * the resolved plan at build time.
    */
  case object View extends Materialization

  /** dbt `materialized='ephemeral'` — no warehouse object AT ALL: the
    * model is inlined into each consumer's plan as a CTE
    * (dbt/analytics models pick table/incremental; ephemeral is the
    * third core strategy for cheap intermediate shaping that should
    * never hit storage). Consumers see the composed logical plan —
    * Catalyst optimizes straight through it (filter/column pushdown
    * cross the model boundary, which a materialized table blocks).
    * Not directly readable ([[Runner.readModel]] refuses) and not
    * directly selectable — `--select` reaches it only via `+`
    * ancestry, like dbt.
    */
  case object Ephemeral extends Materialization

  /** dbt's `on_schema_change` contract for incremental models. */
  sealed trait SchemaChange
  object SchemaChange {
    /** Any column drift aborts the run — the safe default. */
    case object Fail extends SchemaChange
    /** Columns NEW in the model output are added to the mart (existing
      * rows read NULL there — dbt's `append_new_columns`); columns the
      * model DROPPED still fail, since silently carrying stale values
      * for them corrupts the mart.
      */
    case object AppendNewColumns extends SchemaChange
  }

  /** MERGE upsert by `uniqueKeys` into the current snapshot — dbt's
    * `incremental_strategy='merge'`. The first run is a full build.
    * `onSchemaChange` defaults to [[SchemaChange.Fail]].
    */
  final case class Incremental(
      uniqueKeys: Seq[String],
      onSchemaChange: SchemaChange = SchemaChange.Fail) extends Materialization

  /** dbt `snapshot` materialization, CHECK strategy — the third dbt
    * write path next to table/incremental (reference runs dbt inside
    * Kyuubi, docs/components/dbt.md; snapshots are how dbt tracks
    * slowly-changing dimensions when the source has NO reliable
    * updated-at column): each run diffs the model's CURRENT output
    * against the stored snapshot's open rows on `checkCols`
    * (empty = all non-key columns, dbt `check_cols='all'`) and
    * merges only the delta — changed keys close + re-open, new keys
    * open, keys absent from the source close iff
    * `invalidateHardDeletes`. The table carries dbt's exact metadata
    * columns (dbt_scd_id, dbt_updated_at, dbt_valid_from,
    * dbt_valid_to). `at` supplies the run's effective timestamp
    * (dbt's run started_at); injectable for deterministic tests.
    *
    * `updatedAt` switches to dbt's TIMESTAMP strategy: a key
    * re-versions iff its source row's `updatedAt` column is newer
    * than the open version's dbt_updated_at, and validity boundaries
    * come from that column per row (not the run clock) — the
    * strategy for sources that DO carry a reliable change timestamp;
    * `checkCols` is ignored then. Hard deletes still close at the
    * run timestamp.
    */
  final case class Snapshot(
      uniqueKeys: Seq[String],
      checkCols: Seq[String] = Nil,
      invalidateHardDeletes: Boolean = false,
      at: () => java.sql.Timestamp =
        () => new java.sql.Timestamp(System.currentTimeMillis()),
      updatedAt: Option[String] = None)
    extends Materialization

  /** dbt `seed` (reference: dag/dbt_analytics_pipeline.py:76-81
    * `DbtSparkSeedOperator` runs first in the DAG; dbt_project.yml:12
    * `seed-paths`): a small version-controlled CSV loaded into the
    * warehouse as a versioned table that downstream models `ref()` —
    * the hand-maintained reference dim (targets, mappings, tiers)
    * every analytics DAG starts from. Each run re-commits the CSV as
    * a new snapshot, so seed edits are time-travel auditable like any
    * model. `schema` pins the column types (header-only inference is
    * non-deterministic across engines; seeds feeding oracle-checked
    * marts should always pin).
    */
  final case class Seed(
      csvPath: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None) extends Materialization
}

/** One dbt-model-shaped DAG node.
  *
  * `build` receives (resolved inputs, current materialization):
  * inputs map each declared dep to a DataFrame — upstream MODELS are
  * read back from the warehouse (the `ref()` semantic: a model
  * consumes what was actually materialized, not its parent's logical
  * plan — which also caps plan depth at one model, the property that
  * keeps a 50-model DAG compilable at 100 TB), raw sources come from
  * the caller. The second argument is `Some(current table)` for an
  * incremental model after its first run — dbt's `{{ this }}` /
  * `is_incremental()` — letting the model restrict its scan to data
  * newer than what it already holds.
  */
final case class Model(
    name: String,
    deps: Seq[String],
    materialization: Materialization,
    build: (Map[String, DataFrame], Option[DataFrame]) => DataFrame,
    checks: Seq[Checks.Check] = Nil,
    tags: Set[String] = Set.empty,
    fullRefresh: Option[Boolean] = None)

object Model {
  /** A seed node: no deps, no build — materializes straight from its
    * CSV ([[Materialization.Seed]]). Participates in DAG ordering and
    * `checks` like any model (dbt runs generic tests on seeds too).
    */
  def seed(name: String, csvPath: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      checks: Seq[Checks.Check] = Nil): Model =
    Model(name, Nil, Materialization.Seed(csvPath, schema),
      (_, _) => throw new IllegalStateException(
        s"seed '$name' materializes from its CSV, not a build"),
      checks)
}

/** What one model run did: `mode` ∈ seed | full | merge(+widen). */
final case class ModelRun(name: String, version: Long, mode: String)

/** Dependency-ordered model materialization into the versioned
  * [[Snapshots]] store — the reference's actual unit of use: its dbt
  * DAG (dag/dbt_analytics_pipeline.py:81-119 runs stg_users →
  * stg_orders → marts in topological order via dbt against Kyuubi).
  * Each model's output is an immutable snapshot version, so a failed
  * run never leaves a half-visible table and every run is time-travel
  * auditable.
  */
object Runner {
  /** dbt node selection (`--select`, which the reference's operator
    * forwards verbatim — dag/operators/dbt_spark_operator.py:153):
    * `name` picks one model, `+name` adds its ancestors, `name+` its
    * descendants, `+name+` both; `tag:x` picks every model tagged
    * `x` (graph prefixes/suffixes compose: `+tag:x`); several
    * selectors union, and `exclude` selectors (dbt `--exclude`, same
    * grammar) subtract from the result. Returns the selected sub-DAG
    * in the input order. Running a selection whose upstream is NOT
    * included still works when that upstream is already materialized
    * — [[Runner.run]]'s partial-run semantic reads the stored
    * `ref()`.
    */
  def select(models: Seq[Model], selectors: Seq[String],
      exclude: Seq[String] = Nil): Seq[Model] = {
    val byName = models.map(m => m.name -> m).toMap
    val children: Map[String, Seq[String]] = models
      .flatMap(m => m.deps.filter(byName.contains).map(_ -> m.name))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    def walk(start: String, step: String => Seq[String]): Set[String] = {
      val seen = scala.collection.mutable.Set(start)
      var frontier = Seq(start)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(step).filterNot(seen)
        seen ++= frontier
      }
      seen.toSet
    }
    def resolve(sel: String): Set[String] = {
      val up = sel.startsWith("+")
      val down = sel.endsWith("+")
      val body = sel.stripPrefix("+").stripSuffix("+")
      val roots: Set[String] =
        if (body.startsWith("tag:")) {
          val t = body.stripPrefix("tag:")
          models.filter(_.tags(t)).map(_.name).toSet
        } else {
          require(byName.contains(body), s"--select: unknown model '$body'")
          Set(body)
        }
      roots.flatMap { name =>
        var s = Set(name)
        if (up) s ++= walk(name, n => byName(n).deps.filter(byName.contains))
        if (down) s ++= walk(name, n => children.getOrElse(n, Nil))
        s
      }
    }
    val picked = selectors.flatMap(resolve).toSet --
      exclude.flatMap(resolve).toSet
    models.filter(m => picked(m.name))
  }
}

final class Runner(spark: SparkSession, warehouseDir: String) {

  def tableDir(name: String): String = s"$warehouseDir/$name"

  // view/ephemeral DEFINITIONS registered by run() — the in-process
  // analog of the catalog's CREATE VIEW: they persist across runs on
  // this Runner and re-resolve against upstream CURRENT state on each
  // read. (`sources` snapshots the raw-source DataFrames a definition
  // may close over.)
  private var registered: Map[String, Model] = Map.empty
  private var registeredSources: Map[String, DataFrame] = Map.empty

  private def isLogical(m: Model): Boolean = m.materialization match {
    case Materialization.View | Materialization.Ephemeral => true
    case _ => false
  }

  /** Compose a view/ephemeral definition over its deps' CURRENT state
    * (stored snapshot for materialized deps, recursive composition for
    * logical ones, registered raw source otherwise). `resolving`
    * guards against definition cycles ACROSS runs — run()'s topo sort
    * only sees the models of one run, but the registry persists, so a
    * later run can close a loop through an older view definition;
    * that must fail loudly, not stack-overflow.
    */
  private def resolveLogical(m: Model,
      resolving: Set[String] = Set.empty): DataFrame = {
    require(!resolving(m.name),
      s"view/ephemeral definition cycle through '${m.name}' " +
        s"(resolving: ${resolving.toSeq.sorted.mkString(" -> ")})")
    val inputs = m.deps.map { d =>
      d -> (registered.get(d) match {
        case Some(dm) if isLogical(dm) =>
          resolveLogical(dm, resolving + m.name)
        case _ =>
          if (Snapshots.versions(tableDir(d)).nonEmpty)
            Snapshots.read(spark, tableDir(d))
          else registeredSources.getOrElse(d,
            throw new IllegalStateException(
              s"view/ephemeral '${m.name}': dependency '$d' is neither " +
                "materialized nor a registered source"))
      })
    }.toMap
    m.build(inputs, None)
  }

  /** Read a model: materialized models come back from the snapshot
    * store; a `View` re-resolves its definition against upstream
    * CURRENT state (always fresh, zero storage — so `version` is
    * meaningless and must be the default); an `Ephemeral` has no
    * readable surface at all (dbt parity: it exists only inlined in
    * its consumers).
    */
  def readModel(name: String, version: Long = -1L): DataFrame =
    registered.get(name) match {
      case Some(m) if m.materialization == Materialization.Ephemeral =>
        throw new IllegalStateException(
          s"model '$name' is ephemeral: not materialized, not readable — " +
            "it is inlined into its consumers")
      case Some(m) if m.materialization == Materialization.View =>
        require(version == -1L,
          s"view '$name' has no versions — it re-resolves current state")
        resolveLogical(m)
      case _ => Snapshots.read(spark, tableDir(name), version)
    }

  /** Materialize `models` in dependency order. A dep resolves to (in
    * precedence order) another model in this run, a key of `sources`,
    * or an already-materialized warehouse table — the last being
    * dbt's partial-run semantic (`--models down` still reads the
    * stored `ref('up')`). Returns one [[ModelRun]] per model in
    * execution order. Cycles and unresolved deps fail fast, before
    * anything is written.
    */
  /** `retries` mirrors the reference DAG's Airflow task policy
    * (dag/dbt_analytics_pipeline.py:40-42 `retries: 1`): each model's
    * materialization gets 1+retries attempts before the DAG aborts.
    * Safe to retry because commits are manifest-last: a failed
    * attempt leaves at most an orphan data directory (vacuumable),
    * never a visible version. The scheduler's retry_delay is omitted
    * in-process — a real deployment backs off between attempts.
    */
  /** `resumeId` adds the dbt-retry / Airflow-clear-failed semantic:
    * a model whose materialization already committed under this run
    * id (marker tag `run:<id>:<model>`, written only AFTER the
    * model's checks pass) is SKIPPED with its stored version, so a
    * DAG aborted at model X resumes AT X — upstream work is neither
    * redone nor double-committed. A crash in the window between
    * commit and marker re-runs that one model (at-least-once into the
    * versioned store: an extra version, never half-visible data).
    */
  /** Path of the lineage manifest the most recent [[run]] wrote (the
    * OpenLineage-style artifact — reference roadmap names OpenLineage
    * integration: docs/architecture/lakehouse.md:116). One JSON
    * document per run under `_lineage/`: for every model its
    * materialization, mode, committed version, declared inputs with
    * the exact upstream VERSION each read, and its checks — enough to
    * reconstruct the DAG and audit which snapshot fed which build.
    */
  @volatile var lastLineagePath: Option[String] = None

  private def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def writeLineage(runId: String, entries: Seq[String]): Unit = {
    val dir = java.nio.file.Paths.get(warehouseDir, "_lineage")
    java.nio.file.Files.createDirectories(dir)
    val body =
      s"""{"run_id": ${jstr(runId)}, "producer": "graft-runner",
         |"models": [${entries.mkString(",\n")}]}""".stripMargin
    // run ids are caller-supplied (resumeId): sanitize for the file
    // name, keep the raw id inside the document
    val safe = runId.map(c =>
      if (c.isLetterOrDigit || c == '.' || c == '_' || c == '-') c else '_')
    val p = dir.resolve(s"$safe.json")
    java.nio.file.Files.writeString(p, body)
    lastLineagePath = Some(p.toString)
  }

  private val runCounter = new java.util.concurrent.atomic.AtomicLong

  /** `fullRefresh` is dbt's `dbt run --full-refresh`: every
    * Incremental model rebuilds FROM SCRATCH as a new committed
    * version — the model's build sees `existing = None` (so its
    * `is_incremental()` branch is off), the result replaces the mart
    * wholesale, and prior versions stay time-travelable (a bad
    * refresh is one `rollback` away). The flag every dbt operator
    * reaches for the first time an incremental model's LOGIC changes:
    * a plain run only merges recomputed grains, silently leaving
    * stale rows computed under the old logic. A model may pin
    * `Model.fullRefresh` to `Some(true)` (always rebuild) or
    * `Some(false)` (never — dbt's guard for huge marts where an
    * accidental --full-refresh would be a multi-hour rebuild);
    * `None` follows the run flag. Non-incremental materializations
    * are unaffected (table/seed already rebuild each run; snapshots
    * are append-only audit history dbt never refreshes).
    */
  def run(models: Seq[Model],
      sources: Map[String, DataFrame] = Map.empty,
      retries: Int = 0,
      resumeId: Option[String] = None,
      fullRefresh: Boolean = false,
      storeFailures: Boolean = false,
      storeFailuresLimit: Int = 10000): Seq[ModelRun] = {
    val byName = models.map(m => m.name -> m).toMap
    require(byName.size == models.size, "duplicate model names in DAG")
    models.foreach { m =>
      require(!sources.contains(m.name),
        s"model '${m.name}' shadows a source of the same name")
      m.deps.foreach(d => require(
        byName.contains(d) || sources.contains(d) ||
          registered.contains(d) ||
          Snapshots.versions(tableDir(d)).nonEmpty,
        s"model '${m.name}': unresolved dependency '$d'"))
    }
    // register view/ephemeral definitions (and the raw sources they may
    // resolve against) BEFORE execution: a downstream model's inputs
    // and any later readModel compose through the registry. A model
    // re-declared as a MATERIALIZED kind drops its old logical
    // registration (view→table migration must not leave a stale view
    // shadowing the stored table).
    registered --= models.filterNot(isLogical).map(_.name)
    registered ++= models.filter(isLogical).map(m => m.name -> m)
    registeredSources ++= sources
    // Kahn's topological sort; ready set drained in name order so the
    // execution plan is deterministic across runs. Each drained batch
    // is one LEVEL: its models have no dependency among themselves, so
    // they can materialize concurrently (dbt's `threads`; guide §2.6 —
    // a model build here is a handful of scheduling-dominated jobs, so
    // same-level builds back-fill each other's driver gaps).
    val levels = scala.collection.mutable.ArrayBuffer.empty[Seq[Model]]
    val done = scala.collection.mutable.Set.empty[String]
    val remaining = scala.collection.mutable.SortedMap.empty[String, Model] ++ byName
    while (remaining.nonEmpty) {
      val ready = remaining.values
        .filter(_.deps.forall(d => done.contains(d) || !byName.contains(d)))
        .toSeq
      require(ready.nonEmpty,
        s"dependency cycle among models: ${remaining.keys.mkString(", ")}")
      levels += ready
      ready.foreach { m =>
        done += m.name
        remaining -= m.name
      }
    }
    val lineage = scala.collection.mutable.ArrayBuffer.empty[String]
    def matLabel(m: Model): String = m.materialization match {
      case Materialization.Table => "table"
      case Materialization.View => "view"
      case Materialization.Ephemeral => "ephemeral"
      case _: Materialization.Incremental => "incremental"
      case _: Materialization.Snapshot => "snapshot"
      case _: Materialization.Seed => "seed"
    }
    def depRecord(d: String): String = {
      val kind =
        if (byName.get(d).exists(isLogical) ||
          registered.get(d).exists(isLogical))
          matLabel(byName.getOrElse(d, registered(d)))
        else if (Snapshots.versions(tableDir(d)).nonEmpty) "model"
        else "source"
      val v = if (kind == "model")
        s""", "version": ${Snapshots.versions(tableDir(d)).last}""" else ""
      s"""{"name": ${jstr(d)}, "type": ${jstr(kind)}$v}"""
    }
    def record(m: Model, run: ModelRun, inputRecs: Seq[String]): ModelRun = {
      val checks = m.checks.map(c =>
        s"""{"check": ${jstr(c.name)}, "column": ${jstr(c.column)}}""")
      lineage += s"""{"name": ${jstr(m.name)},
        | "materialization": ${jstr(matLabel(m))},
        | "mode": ${jstr(run.mode)}, "version": ${run.version},
        | "inputs": [${inputRecs.mkString(", ")}],
        | "checks": [${checks.mkString(", ")}]}""".stripMargin
      run
    }
    // one model's full build-check-mark step; returns (run, inputRecs)
    // so lineage recording stays sequential in level name order
    def runOne(m: Model): (ModelRun, Seq[String]) = {
      // view/ephemeral never write, so resume markers don't apply —
      // re-registering a definition is free and always safe
      val marker =
        if (isLogical(m)) None else resumeId.map(id => s"run:$id:${m.name}")
      val alreadyDone = marker.exists(t =>
        Snapshots.versions(tableDir(m.name)).nonEmpty &&
          Snapshots.committedTags(tableDir(m.name)).contains(t))
      if (alreadyDone) {
        (ModelRun(m.name, Snapshots.versions(tableDir(m.name)).last, "skipped"),
          m.deps.map(depRecord))
      } else {
      // dep versions recorded BEFORE the build reads them — the exact
      // upstream snapshot each model consumed
      val inputRecs = m.deps.map(depRecord)
      val inputs = m.deps.map { d =>
        d -> (if (byName.contains(d)) {
                val dm = byName(d)
                if (isLogical(dm)) resolveLogical(dm) else readModel(d)
              }
              else sources.getOrElse(d, readModel(d)))
      }.toMap
      val run = retrying(m.name, retries)(materialize(m, inputs, fullRefresh))
      // dbt's `dbt test` after build: a failing severity=error check
      // aborts the DAG before anything downstream consumes bad data;
      // severity=warn failures are reported and the run proceeds.
      // The committed version stays in history (time-travel debuggable)
      // but is never read by a later run that repairs and re-commits.
      // For view/ephemeral the checks run against the COMPOSED plan —
      // there is no stored table to audit.
      if (m.checks.nonEmpty) {
        val checked = if (isLogical(m)) resolveLogical(m) else readModel(m.name)
        val failed = Checks.summary(checked, m.checks)
          .filter(!org.apache.spark.sql.functions.col("passed"))
          .collect()
        // dbt `--store-failures`: each failing check's violating rows
        // land (capped) as a versioned audit table next to the model,
        // and the abort/warn message names where to look — "which
        // rows?" is answered by a table, not a log line.
        val failedKeys = failed.map(r => (r.getString(0), r.getString(1))).toSet
        val storedAt: Map[(String, String), String] =
          if (!storeFailures) Map.empty
          else m.checks.filter(c => failedKeys((c.name, c.column))).map { c =>
            val (name, v, n) = Checks.storeFailures(
              checked, m.name, c, tableDir, storeFailuresLimit)
            (c.name, c.column) -> s" [${n} rows stored at $name v$v]"
          }.toMap
        def describe(rows: Seq[org.apache.spark.sql.Row]) = rows
          .map(r => s"${r.getString(0)}(${r.getString(1)})=" +
            s"${r.getLong(2)} violations" +
            storedAt.getOrElse((r.getString(0), r.getString(1)), ""))
          .mkString("; ")
        val bySeverity = m.checks.map(c => (c.name, c.column) -> c.severity).toMap
        val (warned, fatal) = failed.partition(r =>
          bySeverity.getOrElse((r.getString(0), r.getString(1)),
            Checks.Error) == Checks.Warn)
        if (warned.nonEmpty) {
          System.err.println(
            s"[runner] WARN model '${m.name}' checks: ${describe(warned.toSeq)}")
        }
        require(fatal.isEmpty,
          s"model '${m.name}' failed data checks: ${describe(fatal.toSeq)}")
      }
      marker.foreach(t => Snapshots.tagVersion(tableDir(m.name), run.version, t))
      (run, inputRecs)
      }
    }
    val report = levels.toSeq.flatMap { level =>
      // same-level models are independent by construction: build them
      // concurrently, then record lineage sequentially in name order so
      // the manifest (and the returned report) are byte-identical to a
      // serial run. Overlap rethrows the first failure in name order —
      // the same exception a serial run surfaces, but not the same side
      // effects: same-level siblings of the failed model that already
      // started still build, commit and tag (a serial run would have
      // stopped at the failure). Siblings not yet started are cancelled,
      // and none is still running when `run` throws.
      val runs = graft.Overlap.jobs(level)(runOne)
      level.zip(runs).map { case (m, (run, inputRecs)) =>
        record(m, run, inputRecs)
      }
    }
    writeLineage(
      resumeId.getOrElse(s"run-${runCounter.incrementAndGet()}"), lineage.toSeq)
    report
  }

  /** Airflow-style BACKFILL over logical dates (reference:
    * docs/architecture/orchestration.md §6 "Backfills — trigger with
    * `airflow dags backfill`"; the DAG itself is daily,
    * dag/dbt_analytics_pipeline.py:52 `schedule_interval=
    * timedelta(days=1)`): materialize the DAG once per logical date,
    * in date order (Airflow's catchup ordering), with `modelsFor(ds)`
    * playing the template-context role of `{{ ds }}` — each dated DAG
    * restricts its reads to its own interval, so a backfill's cost is
    * #dates × one-interval, never #dates × table. Every dated run
    * executes under resume id `backfill:<ds>`: re-triggering an
    * already-complete date SKIPS each of its models (the marker is
    * written only after checks pass — [[run]]'s resume semantics,
    * reused as Airflow's task-idempotency contract). Returns the
    * per-date reports in execution order.
    */
  def backfill(dates: Seq[String], modelsFor: String => Seq[Model],
      sources: Map[String, DataFrame] = Map.empty,
      retries: Int = 0): Seq[(String, Seq[ModelRun])] =
    dates.sorted.map(ds =>
      ds -> run(modelsFor(ds), sources, retries, Some(s"backfill:$ds")))

  /** 1+retries attempts; non-fatal failures between attempts are
    * swallowed (the failed attempt left no visible version).
    */
  private def retrying[A](model: String, retries: Int)(attempt: => A): A = {
    var left = math.max(0, retries)
    while (true) {
      try return attempt
      catch {
        case scala.util.control.NonFatal(e) if left > 0 =>
          left -= 1
          System.err.println(
            s"[runner] RETRY model '$model' after: ${e.getMessage} ($left left)")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def materialize(m: Model,
      inputs: Map[String, DataFrame],
      runFullRefresh: Boolean = false): ModelRun = {
    val dir = tableDir(m.name)
    val existing =
      if (Snapshots.versions(dir).nonEmpty) Some(readModel(m.name)) else None
    // dbt precedence: the model's own full_refresh config overrides
    // the run flag (Some(false) protects a huge mart from accidental
    // rebuild; Some(true) always rebuilds)
    val doFullRefresh = m.fullRefresh.getOrElse(runFullRefresh)
    m.materialization match {
      case Materialization.View =>
        // validate the definition resolves/analyzes NOW (dbt compiles
        // views at run time even though no data moves); -1 = no version
        resolveLogical(m).schema
        ModelRun(m.name, -1L, "view")
      case Materialization.Ephemeral =>
        resolveLogical(m).schema
        ModelRun(m.name, -1L, "ephemeral")
      case Materialization.Seed(path, schema) =>
        val reader = spark.read.option("header", "true")
        val df = schema.fold(reader.option("inferSchema", "true"))(reader.schema).csv(path)
        ModelRun(m.name, Snapshots.commit(df, dir), "seed")
      case Materialization.Table =>
        val df = m.build(inputs, None)
        ModelRun(m.name, Snapshots.commit(df, dir), "full")
      case Materialization.Snapshot(keys, checkCols, hardDeletes, at, updCol) =>
        // the model sees only its inputs (a dbt snapshot block is a
        // plain select over the source; `{{ this }}` doesn't apply)
        val df = m.build(inputs, None)
        require(keys.forall(df.columns.contains),
          s"snapshot '${m.name}': output lacks key columns " +
            keys.filterNot(df.columns.contains).mkString(","))
        updCol.foreach(c => require(df.columns.contains(c),
          s"snapshot '${m.name}': output lacks updated-at column '$c'"))
        val ts = at()
        existing match {
          case None =>
            ModelRun(m.name,
              Snapshots.commit(
                graft.operators.Merge.snapshotFirst(df, keys, ts, updCol), dir),
              "snapshot-first")
          case Some(cur) =>
            val delta = graft.operators.Merge.snapshotDelta(
              cur, df, keys, checkCols, ts, hardDeletes, updCol)
            // one snapshot-table version per run, delta-priced: the
            // merge touches (keys, dbt_valid_from) grains the delta
            // names and passes everything else through
            ModelRun(m.name,
              Snapshots.merge(spark, dir, delta, keys :+ "dbt_valid_from"),
              "snapshot")
        }
      case Materialization.Incremental(keys, policy) =>
        if (doFullRefresh && existing.isDefined) {
          // rebuild from scratch: the model's is_incremental() branch
          // is off (no `this`), the whole mart re-commits as a NEW
          // version (old versions stay travelable), and the schema
          // drift policy doesn't apply — changing the logic/schema is
          // exactly what --full-refresh exists for
          val df = m.build(inputs, None)
          return ModelRun(m.name, Snapshots.commit(df, dir), "full-refresh")
        }
        val df = m.build(inputs, existing)
        existing match {
          case None =>
            ModelRun(m.name, Snapshots.commit(df, dir), "full")
          case Some(cur) =>
            val dropped = cur.columns.toSet -- df.columns.toSet
            val added = df.columns.toSet -- cur.columns.toSet
            policy match {
              case Materialization.SchemaChange.Fail =>
                require(dropped.isEmpty && added.isEmpty,
                  s"on_schema_change=fail: model '${m.name}' schema drift " +
                    s"(have ${cur.columns.sorted.mkString(",")}; " +
                    s"new ${df.columns.sorted.mkString(",")})")
                ModelRun(m.name, Snapshots.merge(spark, dir, df, keys), "merge")
              case Materialization.SchemaChange.AppendNewColumns =>
                require(dropped.isEmpty,
                  s"on_schema_change=append_new_columns: model '${m.name}' " +
                    s"DROPPED columns ${dropped.toSeq.sorted.mkString(",")} — " +
                    "only additions are appendable")
                if (added.isEmpty)
                  ModelRun(m.name, Snapshots.merge(spark, dir, df, keys), "merge")
                else {
                  // widen the stored mart first (existing rows read NULL
                  // in the new columns), commit the widened snapshot,
                  // then merge normally against the widened base
                  val newCols = df.schema.fields.filter(f => added.contains(f.name))
                  val widened = newCols.foldLeft(cur)((acc, f) =>
                    acc.withColumn(f.name,
                      org.apache.spark.sql.functions.lit(null).cast(f.dataType)))
                  Snapshots.commit(
                    widened.select(df.columns.toIndexedSeq.map(widened.col): _*), dir)
                  ModelRun(m.name, Snapshots.merge(spark, dir, df, keys), "merge+widen")
                }
            }
        }
    }
  }
}
