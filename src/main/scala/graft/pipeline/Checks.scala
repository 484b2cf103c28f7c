package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** dbt-style data-quality checks (`tests:` in a model's schema.yml —
  * the reference's dbt project declares `test-paths` for exactly
  * these): not_null, unique, accepted_values, relationships. Each
  * check compiles to ONE aggregate over the table (no driver-side
  * row pulls), and a check suite is a union of those one-row
  * aggregates — a single distributed plan whose output is the test
  * report. [[Runner]] runs a model's suite right after
  * materialization and aborts the DAG on failure, dbt's
  * severity=error semantic.
  */
object Checks {

  /** dbt `severity:` config — `error` (default) aborts the DAG,
    * `warn` reports the failure and lets the run proceed.
    */
  final val Error = "error"
  final val Warn = "warn"

  sealed trait Check {
    def name: String
    def column: String
    def severity: String
  }
  /** Column must contain no NULLs. */
  final case class NotNull(column: String,
      severity: String = Error) extends Check {
    val name = "not_null"
  }
  /** Column values must be pairwise distinct (violations = extra
    * copies beyond the first of each value).
    */
  final case class Unique(column: String,
      severity: String = Error) extends Check {
    val name = "unique"
  }
  /** Non-null values must come from the accepted set. */
  final case class AcceptedValues(column: String, values: Seq[String],
      severity: String = Error) extends Check {
    val name = "accepted_values"
  }
  /** Non-null values must exist in `refColumn` of the parent table —
    * dbt's referential-integrity test. `ref` resolves the parent
    * lazily so a suite can be declared before the warehouse exists.
    */
  final case class Relationships(column: String, refColumn: String,
      ref: () => DataFrame, severity: String = Error) extends Check {
    val name = "relationships"
  }

  /** Violation-count aggregate for a scalar (non-join) check. */
  private def violationsAgg(check: Check): Column = check match {
    case NotNull(c, _) => count(when(col(c).isNull, 1))
    case Unique(c, _) => count(col(c)) - countDistinct(col(c))
    // NULLs are not_null's job, not accepted_values' (dbt ditto)
    case AcceptedValues(c, vs, _) => count(when(!col(c).isin(vs: _*), 1))
    case r: Relationships =>
      throw new IllegalArgumentException(s"${r.name} is not a scalar check")
  }

  private def report(nameC: Column, colC: Column, violations: Column) =
    struct(nameC.as("check_name"), colC.as("col_name"),
      violations.cast("long").as("n_violations"))

  /** A suite → one report DataFrame, ordered by (check_name,
    * col_name). ALL scalar checks (not_null / unique /
    * accepted_values) share ONE aggregate pass over the table —
    * a 4-check suite on a 100 TB mart must not scan it 4 times;
    * only relationships checks add a pass (their anti-join).
    */
  def summary(df: DataFrame, checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "empty check suite")
    val (relational, scalar) = checks.partition(_.isInstanceOf[Relationships])
    val parts = Seq.newBuilder[DataFrame]
    if (scalar.nonEmpty) {
      val aggs = scalar.zipWithIndex.map { case (c, i) =>
        violationsAgg(c).cast("long").as(s"v$i")
      }
      val reports = scalar.zipWithIndex.map { case (c, i) =>
        report(lit(c.name), lit(c.column), col(s"v$i"))
      }
      parts += df.agg(aggs.head, aggs.tail: _*)
        .select(explode(array(reports: _*)).as("r"))
        .select(col("r.check_name"), col("r.col_name"), col("r.n_violations"))
    }
    relational.foreach { case Relationships(c, refCol, ref, _) =>
      val child = df.select(col(c)).filter(col(c).isNotNull)
      val orphans = child.join(ref().select(col(refCol).as(c)), Seq(c), "left_anti")
      parts += orphans
        .agg(count(lit(1)).cast("long").as("n_violations"))
        .select(lit("relationships").as("check_name"), lit(c).as("col_name"),
          col("n_violations"))
    }
    parts.result().reduce(_.unionAll(_))
      .withColumn("passed", col("n_violations") === 0L)
      .orderBy(col("check_name"), col("col_name"))
  }

  /** dbt `store_failures`: the failing ROWS of one check — the result
    * set of dbt's generic-test query for that check type, which is
    * what dbt persists to its `dbt_test__audit` schema when a stored
    * test fails. not_null keeps the FULL failing rows (the analyst's
    * "which rows?"); the grouped checks store (value, n_records) —
    * bounded by the violating-value cardinality, never the table.
    */
  def failingRows(df: DataFrame, check: Check): DataFrame = check match {
    case NotNull(c, _) => df.filter(col(c).isNull)
    case Unique(c, _) =>
      df.filter(col(c).isNotNull).groupBy(col(c))
        .agg(count(lit(1)).as("n_records"))
        .filter(col("n_records") > 1L)
    case AcceptedValues(c, vs, _) =>
      df.filter(col(c).isNotNull && !col(c).isin(vs: _*))
        .groupBy(col(c)).agg(count(lit(1)).as("n_records"))
    case Relationships(c, refCol, ref, _) =>
      df.select(col(c)).filter(col(c).isNotNull)
        .join(ref().select(col(refCol).as(c)), Seq(c), "left_anti")
        .groupBy(col(c)).agg(count(lit(1)).as("n_records"))
  }

  /** The audit-table name for one (model, check) — dbt's
    * one-table-per-test layout, flattened into the warehouse
    * namespace so SHOW TABLES / time travel / SQL all see it.
    */
  def failuresTableName(model: String, check: Check): String =
    s"${model}__failures__${check.name}_${check.column}"

  /** Persist one failing check's rows (capped) as a VERSIONED commit
    * of its audit table — repeated red runs append versions, so the
    * failure history is itself time-travelable. Returns
    * (table name, committed version, stored rows). `cap` bounds the
    * stored sample (dbt's `limit` config on stored failures): at
    * 100 TB a not_null failure can be most of a table — the audit
    * copy must never be a second copy of the mart.
    */
  def storeFailures(df: DataFrame, model: String, check: Check,
      auditDirFor: String => String, cap: Int = 10000): (String, Long, Long) = {
    require(cap > 0, "store_failures cap must be positive")
    val name = failuresTableName(model, check)
    val rows = failingRows(df, check).limit(cap)
      .localCheckpoint(true) // pin: count + commit must see the same sample
    try {
      val v = graft.sources.Snapshots.commit(rows, auditDirFor(name))
      (name, v, rows.count())
    } finally {
      try rows.unpersist(blocking = false) catch { case _: Throwable => () }
    }
  }

  /** q54: the dbt test-suite semantic under the oracle gate — four
    * check types over orders (+ customer as the relationships
    * parent); oracle recomputes each count in SQL.
    */
  def q54QualityChecks(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables(spark, dir, "orders")
    summary(orders, Seq(
      NotNull("o_custkey"),
      Unique("o_orderkey"),
      AcceptedValues("o_orderstatus", Seq("F", "O", "P")),
      Relationships("o_custkey", "c_custkey",
        () => Tables(spark, dir, "customer"))))
  }

  /** dbt source freshness (`dbt source freshness`; the reference
    * ships it as a first-class DAG task —
    * dag/operators/dbt_spark_operator.py `DbtSparkFreshnessOperator`):
    * how stale is a source, measured as `asOf - max(loaded_at)`
    * against warn/error thresholds. ONE max-aggregate per source —
    * at 100 TB the max comes from footer stats if the landing is
    * time-sorted.
    */
  def sourceFreshness(df: DataFrame, sourceName: String, loadedAt: Column,
      asOfMs: Long, warnAfterMs: Long, errorAfterMs: Long): DataFrame = {
    require(warnAfterMs <= errorAfterMs, "warn_after must be <= error_after")
    // NTZ sources cast to TIMESTAMP first (session tz is UTC, so the
    // naive value is read as UTC — matching the oracle's epoch_ms)
    df.agg(max(unix_millis(loadedAt.cast("timestamp"))).as("max_loaded_ms"))
      .select(
        lit(sourceName).as("source"),
        col("max_loaded_ms"),
        (lit(asOfMs) - col("max_loaded_ms")).as("age_ms"))
      .withColumn("status",
        when(col("age_ms") > errorAfterMs, "error")
          .when(col("age_ms") > warnAfterMs, "warn")
          .otherwise("pass"))
  }

  /** q64: source freshness end-to-end over both time-carrying tables,
    * pinned to a fixed as-of instant so the report is deterministic:
    * events is fresh at its thresholds (`pass`), orders (date
    * frontier 2001-08-01 at every sf) is checked 45 days later —
    * landing in `warn` but not `error`. Oracle recomputes max/age/
    * status in SQL.
    */
  def q64SourceFreshness(spark: SparkSession, dir: String): DataFrame = {
    val day = 86400000L
    val evAsOf = java.time.Instant.parse("2024-02-01T00:00:00Z").toEpochMilli
    val ordAsOf = java.time.Instant.parse("2001-09-15T00:00:00Z").toEpochMilli
    sourceFreshness(Tables(spark, dir, "events"), "events", col("ts"),
      evAsOf, warnAfterMs = 45 * day, errorAfterMs = 90 * day)
      .unionAll(sourceFreshness(Tables(spark, dir, "orders"), "orders",
        col("o_orderdate"), ordAsOf, warnAfterMs = 30 * day,
        errorAfterMs = 60 * day))
      .orderBy(col("source"))
  }

  /** WRITE-SIDE table constraints — the Delta/Iceberg `ALTER TABLE …
    * ADD CONSTRAINT` semantic, which is a different contract from the
    * Runner's dbt-style POST-build tests: the checks run BEFORE the
    * commit, and a violating write is REJECTED leaving no trace (no
    * version, no data directory reachable by any reader) instead of
    * landing and flagging. At 100 TB this is the difference between
    * a poisoned mart that needs a rollback and a failed job log line.
    * Cost: the batch is materialized once (localCheckpoint) so the
    * rows that passed the checks are EXACTLY the rows committed — a
    * non-deterministic or source-changing plan cannot slip different
    * data past the audit (no check-then-write TOCTOU) — plus one
    * aggregate pass for the constraint summary ([[summary]], a single
    * union plan, not per-row UDF work).
    */
  def commitChecked(df: DataFrame, tableDir: String, checks: Seq[Check],
      tag: Option[String] = None): Long = {
    // materialize ONCE, then check and commit the same rows — checking
    // `df` and re-evaluating it inside commit would let a
    // non-deterministic or source-changing plan slip unchecked data
    // into the table (check-then-write TOCTOU)
    val pinned = df.localCheckpoint(true)
    try {
      val failed = summary(pinned, checks)
        .filter(!col("passed")).collect()
      if (failed.nonEmpty) {
        val desc = failed.map(r =>
          s"${r.getString(0)}(${r.getString(1)})=${r.getLong(2)} violations")
          .mkString("; ")
        throw new IllegalStateException(
          s"constraint violation, write rejected: $desc")
      }
      graft.sources.Snapshots.commit(pinned, tableDir, tag)
    } finally {
      // checkpoint blocks are context-cleaned when the RDD is GC'd;
      // the unpersist just drops any cache-manager entry eagerly
      try pinned.unpersist(blocking = false) catch { case _: Throwable => () }
    }
  }

  /** q87: the constraint gate end-to-end — a good rollup commits, a
    * NULL-key write and a duplicate-key write are both rejected (the
    * table stays at v1 with nothing orphaned a reader could see), a
    * second valid commit lands as v2. Output = the surviving table +
    * pinned evidence columns; the oracle restates the rollup and the
    * expected control flow from the raw table.
    */
  def q87WriteConstraints(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Snapshots
    val t = s"${graft.TempDirs.scratch("graft-constraints")}/status_rev"
    val good = Tables(spark, dir, "orders")
      .groupBy(upper(trim(col("o_orderstatus"))).as("status"))
      .agg(count(lit(1)).as("n_orders"),
        graft.functions.Exact.dsum(col("o_totalprice")).as("revenue"))
    val constraints = Seq(NotNull("status"), Unique("status"))
    commitChecked(good, t, constraints)
    def rejected(bad: DataFrame): Boolean =
      try { commitChecked(bad, t, constraints); false }
      catch { case _: IllegalStateException => true }
    val nullRejected = rejected(
      good.withColumn("status",
        when(col("status") === "F", lit(null: String)).otherwise(col("status"))))
    val dupRejected = rejected(good.unionAll(good))
    val v2 = commitChecked(
      good.withColumn("n_orders", col("n_orders") + 0L), t, constraints)
    Snapshots.read(spark, t)
      .withColumn("n_versions", lit(Snapshots.versions(t).size.toLong))
      .withColumn("null_write_rejected", lit(nullRejected))
      .withColumn("dup_write_rejected", lit(dupRejected))
      .withColumn("final_version_is_2", lit(v2 == 2L))
      .orderBy(col("status"))
  }

  /** q134: dbt `store_failures` — the answer to the first question
    * after a red test ("WHICH rows?"): a Runner run with
    * `storeFailures = true` persists each FAILING check's violating
    * rows (dbt's generic-test result shape, capped) as a versioned
    * audit table `<model>__failures__<check>_<col>` in the warehouse,
    * referenced from the warn/abort message; passing checks store
    * nothing. The fixture poisons staged orders deterministically
    * (custkey ≡ 0 mod 97 → NULL) and narrows accepted statuses so
    * two warn-severity checks fail; the gate reads BOTH audit tables
    * back and restates every count from the raw table. At 100 TB the
    * cap keeps the audit copy a sample, never a second mart.
    */
  def q134StoreFailures(spark: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.{Materialization, Model, Runner => _}
    val wh = graft.TempDirs.scratch("graft-storefail")
    val runner = new graft.pipeline.Runner(spark, wh)
    val model = Model("stg_orders_poisoned", Seq("orders"),
      Materialization.Table,
      (in, _) => in("orders").select(
        col("o_orderkey"),
        when(col("o_custkey") % 97 === 0, lit(null).cast("long"))
          .otherwise(col("o_custkey")).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice")),
      checks = Seq(
        NotNull("o_custkey", Warn),
        AcceptedValues("o_orderstatus", Seq("F", "O"), Warn),
        Unique("o_orderkey")))
    runner.run(Seq(model),
      sources = Map("orders" -> Tables(spark, dir, "orders")),
      storeFailures = true)
    val nn = graft.sources.Snapshots.read(spark, runner.tableDir(
      failuresTableName("stg_orders_poisoned", NotNull("o_custkey"))))
    val av = graft.sources.Snapshots.read(spark, runner.tableDir(
      failuresTableName("stg_orders_poisoned",
        AcceptedValues("o_orderstatus", Nil))))
    val uniqueStored = graft.sources.Snapshots.versions(runner.tableDir(
      failuresTableName("stg_orders_poisoned", Unique("o_orderkey")))).nonEmpty
    nn.agg(
        count(lit(1)).as("n_null_rows_stored"),
        countDistinct(col("o_orderkey")).as("n_distinct_orderkeys"))
      .crossJoin(av.agg(
        sum(col("n_records")).cast("long").as("n_bad_status_rows"),
        count(lit(1)).as("n_bad_status_values")))
      .withColumn("passing_check_not_stored", lit(!uniqueStored))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q134_store_failures" -> (q134StoreFailures _),
    "q87_write_constraints" -> (q87WriteConstraints _),
    "q54_quality_checks" -> (q54QualityChecks _),
    "q64_source_freshness" -> (q64SourceFreshness _)
  )

  val oracles: Map[String, String] = Map(
    // q134: every stored-failure count restates from the raw table
    // under the same poison predicate; the only out-of-set status in
    // the TPC-H domain {F,O,P} vs accepted {F,O} is 'P'
    "q134_store_failures" ->
      """SELECT
        |  (SELECT COUNT(*) FROM orders WHERE o_custkey % 97 = 0)
        |    AS n_null_rows_stored,
        |  (SELECT COUNT(DISTINCT o_orderkey) FROM orders
        |   WHERE o_custkey % 97 = 0) AS n_distinct_orderkeys,
        |  (SELECT COUNT(*) FROM orders WHERE o_orderstatus NOT IN ('F','O'))
        |    AS n_bad_status_rows,
        |  (SELECT COUNT(DISTINCT o_orderstatus) FROM orders
        |   WHERE o_orderstatus NOT IN ('F','O')) AS n_bad_status_values,
        |  TRUE AS passing_check_not_stored""".stripMargin,
    // q87: surviving rollup + the expected constraint control flow
    "q87_write_constraints" ->
      """SELECT upper(trim(o_orderstatus)) AS status,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  CAST(2 AS BIGINT) AS n_versions,
        |  TRUE AS null_write_rejected,
        |  TRUE AS dup_write_rejected,
        |  TRUE AS final_version_is_2
        |FROM orders GROUP BY 1 ORDER BY status""".stripMargin,
    "q64_source_freshness" -> {
      val day = 86400000L
      val evAsOf = java.time.Instant.parse("2024-02-01T00:00:00Z").toEpochMilli
      val ordAsOf = java.time.Instant.parse("2001-09-15T00:00:00Z").toEpochMilli
      s"""WITH f AS (
         |  SELECT 'events' AS source, epoch_ms(MAX(ts)) AS max_loaded_ms,
         |    $evAsOf - epoch_ms(MAX(ts)) AS age_ms,
         |    ${45 * day} AS warn_after, ${90 * day} AS error_after
         |  FROM events
         |  UNION ALL
         |  SELECT 'orders', epoch_ms(MAX(o_orderdate)),
         |    $ordAsOf - epoch_ms(MAX(o_orderdate)),
         |    ${30 * day}, ${60 * day}
         |  FROM orders)
         |SELECT source, max_loaded_ms, age_ms,
         |  CASE WHEN age_ms > error_after THEN 'error'
         |       WHEN age_ms > warn_after THEN 'warn'
         |       ELSE 'pass' END AS status
         |FROM f ORDER BY source""".stripMargin
    },
    "q54_quality_checks" ->
      """SELECT * FROM (
        |  SELECT 'not_null' AS check_name, 'o_custkey' AS col_name,
        |    COUNT(CASE WHEN o_custkey IS NULL THEN 1 END) AS n_violations,
        |    COUNT(CASE WHEN o_custkey IS NULL THEN 1 END) = 0 AS passed
        |  FROM orders
        |  UNION ALL
        |  SELECT 'unique', 'o_orderkey',
        |    COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey),
        |    COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) = 0
        |  FROM orders
        |  UNION ALL
        |  SELECT 'accepted_values', 'o_orderstatus',
        |    COUNT(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 END),
        |    COUNT(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 END) = 0
        |  FROM orders
        |  UNION ALL
        |  SELECT 'relationships', 'o_custkey',
        |    (SELECT COUNT(*) FROM orders o
        |     WHERE o.o_custkey IS NOT NULL
        |       AND NOT EXISTS (SELECT 1 FROM customer c
        |                       WHERE c.c_custkey = o.o_custkey)),
        |    (SELECT COUNT(*) FROM orders o
        |     WHERE o.o_custkey IS NOT NULL
        |       AND NOT EXISTS (SELECT 1 FROM customer c
        |                       WHERE c.c_custkey = o.o_custkey)) = 0
        |) ORDER BY check_name, col_name""".stripMargin
  )
}
