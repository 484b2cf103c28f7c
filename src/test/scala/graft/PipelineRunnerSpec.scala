package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{AnalyticsDag, Materialization, Model, Runner}
import graft.sources.Snapshots

/** DAG runner semantics: dependency order, ref() reads the store,
  * incremental == full recompute, on_schema_change=fail, cycles.
  */
class PipelineRunnerSpec extends AnyFunSuite {
  import TestSession._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-wh").toString

  private def sources(ordersFilter: Option[org.apache.spark.sql.Column]) = Map(
    "customer" -> Tables(spark, sf, "customer"),
    "orders" -> ordersFilter.foldLeft(Tables(spark, sf, "orders"))(_.filter(_)))

  test("models materialize in dependency order, staging before marts") {
    val runner = new Runner(spark, tmp())
    val report = runner.run(AnalyticsDag.models, sources(None))
    val pos = report.map(_.name).zipWithIndex.toMap
    assert(pos("stg_users") < pos("user_order_summary"))
    assert(pos("stg_orders") < pos("user_order_summary"))
    assert(pos("stg_orders") < pos("daily_order_metrics"))
    assert(report.forall(_.mode == "full")) // first run = full builds
    // every model is a readable v1 snapshot in the warehouse
    AnalyticsDag.models.foreach { m =>
      assert(Snapshots.versions(runner.tableDir(m.name)) == Seq(1L))
    }
  }

  test("backfill + incremental refresh == one full recompute (the q21 property, end-to-end)") {
    val whInc = new Runner(spark, tmp())
    whInc.run(AnalyticsDag.models,
      sources(Some(col("o_orderdate") < lit("1996-01-01").cast("timestamp"))))
    val r2 = whInc.run(AnalyticsDag.models, sources(None))
    assert(r2.find(_.name == "daily_order_metrics").get.mode == "merge")

    val whFull = new Runner(spark, tmp())
    whFull.run(AnalyticsDag.models, sources(None))

    val inc = whInc.readModel("daily_order_metrics")
    val full = whFull.readModel("daily_order_metrics")
    assert(inc.count() == full.count())
    assert(inc.exceptAll(full).isEmpty && full.exceptAll(inc).isEmpty)
    // and the incremental mart kept its backfill history (2 versions)
    assert(Snapshots.versions(whInc.tableDir("daily_order_metrics")).size == 2)
  }

  test("incremental runs only reprocess days at/after the mart frontier") {
    val runner = new Runner(spark, tmp())
    runner.run(AnalyticsDag.models,
      sources(Some(col("o_orderdate") < lit("1996-01-01").cast("timestamp"))))
    val frontier = runner.readModel("daily_order_metrics")
      .agg(max(col("metric_date"))).head.getDate(0)
    // the second run's daily build must filter, not rescan history:
    // plan the incremental build directly and check its row span
    val stg = AnalyticsDag.stgOrders(Tables(spark, sf, "orders"))
    val incBuild = AnalyticsDag.dailyOrderMetrics(stg,
      Some(runner.readModel("daily_order_metrics")))
    val minProcessed = incBuild.agg(min(col("metric_date"))).head.getDate(0)
    assert(!minProcessed.before(frontier),
      s"incremental build reprocessed $minProcessed before frontier $frontier")
  }

  test("seed nodes load the CSV as a versioned table models can ref()") {
    val runner = new Runner(spark, tmp())
    val csv = AnalyticsDag.writeSegmentTargetsCsv()
    val seed = Model.seed("segment_targets", csv)
    // run 1: seed lands as v1 with the CSV's 5 rows
    val r1 = runner.run(Seq(seed))
    assert(r1.map(_.mode) == Seq("seed"))
    val landed = runner.readModel("segment_targets")
    assert(landed.count() == AnalyticsDag.SegmentTargets.size)
    assert(landed.columns.toSeq == Seq("segment", "target_revenue", "tier"))
    // run 2: re-seeding commits a NEW version (seed edits are
    // time-travel auditable), and a dependent model reads the store
    val dag2 = Seq(seed,
      Model("tier_counts", Seq("segment_targets"), Materialization.Table,
        (in, _) => in("segment_targets").groupBy(col("tier"))
          .agg(count(lit(1)).as("n"))))
    runner.run(dag2)
    assert(Snapshots.versions(runner.tableDir("segment_targets")) == Seq(1L, 2L))
    val tiers = runner.readModel("tier_counts").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tiers == Map("strategic" -> 2L, "growth" -> 2L, "maintain" -> 1L))
  }

  test("q59 seeded mart joins every segment against the seed dim") {
    val df = SparkEntry.queries("q59_seeded_mart")(spark, sf)
    val rows = df.collect()
    assert(rows.length == AnalyticsDag.SegmentTargets.size)
    val bySegment = rows.map(r => r.getAs[String]("segment") -> r).toMap
    assert(bySegment.keySet == AnalyticsDag.SegmentTargets.map(_._1).toSet)
    // attainment is consistent with its own columns
    rows.foreach { r =>
      val pct = r.getAs[Double]("attainment_pct")
      val expect = r.getAs[Double]("revenue") / r.getAs[Double]("target_revenue") * 100.0
      assert(math.abs(pct - expect) < 1e-4)
    }
  }

  test("on_schema_change=fail: incremental schema drift aborts the run") {
    val runner = new Runner(spark, tmp())
    val base = Model("m", Seq("src"), Materialization.Incremental(Seq("k")),
      (in, _) => in("src"))
    import spark.implicits._
    runner.run(Seq(base), Map("src" -> Seq((1, "a")).toDF("k", "v")))
    val drifted = Seq((1, "a", 0.5)).toDF("k", "v", "extra")
    val e = intercept[IllegalArgumentException](
      runner.run(Seq(base), Map("src" -> drifted)))
    assert(e.getMessage.contains("on_schema_change"))
  }

  test("on_schema_change=append_new_columns: mart widens, old rows read NULL") {
    val runner = new Runner(spark, tmp())
    val m = Model("m", Seq("src"), Materialization.Incremental(Seq("k"),
      Materialization.SchemaChange.AppendNewColumns),
      (in, _) => in("src"))
    import spark.implicits._
    runner.run(Seq(m), Map("src" -> Seq((1, "a"), (2, "b")).toDF("k", "v")))
    val drifted = Seq((2, "b2", 0.5), (3, "c", 0.7)).toDF("k", "v", "extra")
    val report = runner.run(Seq(m), Map("src" -> drifted))
    assert(report.head.mode == "merge+widen")
    val rows = runner.readModel("m").orderBy("k").collect()
      .map(r => (r.getInt(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getDouble(2).toString)).toSeq
    // k=1 untouched (NULL in the new column), k=2 updated, k=3 inserted
    assert(rows == Seq((1, "a", null), (2, "b2", "0.5"), (3, "c", "0.7")))
    // dropping a column still fails even under append_new_columns
    val narrowed = Seq((4, 0.9)).toDF("k", "extra")
    val e = intercept[IllegalArgumentException](
      runner.run(Seq(m), Map("src" -> narrowed)))
    assert(e.getMessage.contains("DROPPED"))
  }

  test("model checks run after build and abort the DAG on violations") {
    import graft.pipeline.Checks
    import spark.implicits._
    val runner = new Runner(spark, tmp())
    val clean = Model("m", Seq("src"), Materialization.Table,
      (in, _) => in("src"),
      checks = Seq(Checks.NotNull("v"), Checks.Unique("k")))
    runner.run(Seq(clean), Map("src" -> Seq((1, "a"), (2, "b")).toDF("k", "v")))
    assert(runner.readModel("m").count() == 2)
    val dirty = Seq((1, "a"), (1, "b")).toDF("k", "v") // duplicate key
    // a check-free sibling at the same level builds concurrently: the
    // abort does not undo it, and it has finished committing by the
    // time `run` throws
    val sibling = Model("n", Seq("src"), Materialization.Table,
      (in, _) => in("src"))
    val e = intercept[IllegalArgumentException](
      runner.run(Seq(clean, sibling), Map("src" -> dirty)))
    assert(e.getMessage.contains("unique(k)"))
    assert(Snapshots.versions(runner.tableDir("n")).size == 1)
    assert(runner.readModel("n").count() == 2)
  }

  test("severity=warn checks report but never abort; error still does") {
    import graft.pipeline.Checks
    import spark.implicits._
    val runner = new Runner(spark, tmp())
    val dirty = Seq((1, "a"), (1, "b")).toDF("k", "v") // duplicate key
    val warned = Model("mw", Seq("src"), Materialization.Table,
      (in, _) => in("src"),
      checks = Seq(Checks.Unique("k", severity = Checks.Warn)))
    // warn: the run completes and the model is readable
    runner.run(Seq(warned), Map("src" -> dirty))
    assert(runner.readModel("mw").count() == 2)
    // the same failing check at default (error) severity aborts
    val fatal = warned.copy(name = "me",
      checks = Seq(Checks.Unique("k")))
    val e = intercept[IllegalArgumentException](
      runner.run(Seq(fatal), Map("src" -> dirty)))
    assert(e.getMessage.contains("unique(k)"))
  }

  test("store_failures: a red run persists the violating rows to a versioned audit table the abort names") {
    import graft.pipeline.Checks
    import spark.implicits._
    val runner = new Runner(spark, tmp())
    val dirty = Seq((1, "a"), (1, "b"), (2, null), (3, "c"))
      .toDF("k", "v") // duplicate key AND a null v
    val fatal = Model("m", Seq("src"), Materialization.Table,
      (in, _) => in("src"),
      checks = Seq(Checks.Unique("k"), Checks.NotNull("v")))
    val e = intercept[IllegalArgumentException](
      runner.run(Seq(fatal), Map("src" -> dirty), storeFailures = true))
    // the abort message references BOTH audit tables
    assert(e.getMessage.contains("m__failures__unique_k v1"), e.getMessage)
    assert(e.getMessage.contains("m__failures__not_null_v v1"), e.getMessage)
    // unique: the duplicated value with its count
    val uniq = Snapshots.read(spark, runner.tableDir("m__failures__unique_k"))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(uniq.toSeq == Seq((1, 2L)))
    // not_null: the FULL failing row
    val nn = Snapshots.read(spark, runner.tableDir("m__failures__not_null_v"))
      .collect().map(r => (r.getInt(0), r.getString(1)))
    assert(nn.toSeq == Seq((2, null)))
    // a second red run appends version 2 — failure history is travelable
    val e2 = intercept[IllegalArgumentException](
      runner.run(Seq(fatal.copy(name = "m2",
        checks = Seq(Checks.Unique("k")))), Map("src" -> dirty),
        storeFailures = true))
    assert(e2.getMessage.contains("m2__failures__unique_k v1"))
    intercept[IllegalArgumentException](
      runner.run(Seq(fatal.copy(name = "m2",
        checks = Seq(Checks.Unique("k")))), Map("src" -> dirty),
        storeFailures = true))
    assert(Snapshots.versions(runner.tableDir("m2__failures__unique_k")) == Seq(1L, 2L))
    // the cap bounds the stored sample
    val wide = (1 to 20).map(i => (i, null: String)).toDF("k", "v")
    intercept[IllegalArgumentException](
      runner.run(Seq(fatal.copy(name = "m3",
        checks = Seq(Checks.NotNull("v")))), Map("src" -> wide),
        storeFailures = true, storeFailuresLimit = 5))
    assert(Snapshots.read(spark,
      runner.tableDir("m3__failures__not_null_v")).count() == 5L)
    // without the flag nothing is stored (dbt's default)
    intercept[IllegalArgumentException](
      runner.run(Seq(fatal.copy(name = "m4",
        checks = Seq(Checks.NotNull("v")))), Map("src" -> dirty)))
    assert(Snapshots.versions(runner.tableDir("m4__failures__not_null_v")).isEmpty)
  }

  test("a flaky model succeeds within the Airflow-style retry budget") {
    import spark.implicits._
    val runner = new Runner(spark, tmp())
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val flaky = Model("f", Seq("src"), Materialization.Table,
      (in, _) => {
        if (attempts.incrementAndGet() == 1)
          throw new RuntimeException("transient source hiccup")
        in("src")
      })
    val src = Map("src" -> Seq((1, "a")).toDF("k", "v"))
    // no budget → the first failure aborts the DAG
    intercept[RuntimeException](runner.run(Seq(flaky), src))
    attempts.set(0)
    // retries=1 (the reference DAG's default_args) → second attempt lands
    val report = runner.run(Seq(flaky), src, retries = 1)
    assert(report.map(_.name) == Seq("f") && attempts.get() == 2)
    assert(runner.readModel("f").count() == 1)
  }

  test("dbt --select graph operators pick the right sub-DAG; partial run reads stored refs") {
    val names = (sel: Seq[String]) =>
      Runner.select(AnalyticsDag.models, sel).map(_.name).toSet
    assert(names(Seq("stg_orders")) == Set("stg_orders"))
    assert(names(Seq("+user_order_summary")) ==
      Set("stg_users", "stg_orders", "user_order_summary"))
    assert(names(Seq("stg_orders+")) ==
      Set("stg_orders", "daily_order_metrics", "user_order_summary"))
    assert(names(Seq("+daily_order_metrics", "stg_users")) ==
      Set("stg_orders", "daily_order_metrics", "stg_users"))
    intercept[IllegalArgumentException](Runner.select(AnalyticsDag.models, Seq("nope")))
    // end-to-end partial run: materialize ancestors first, then run a
    // selection WITHOUT its upstream — it reads the stored ref()
    val runner = new Runner(spark, tmp())
    runner.run(Runner.select(AnalyticsDag.models, Seq("+stg_orders", "+stg_users")),
      sources(None))
    val report = runner.run(
      Runner.select(AnalyticsDag.models, Seq("user_order_summary")), sources(None))
    assert(report.map(_.name) == Seq("user_order_summary"))
    assert(runner.readModel("user_order_summary").count() > 0)
  }

  test("cycles and unresolved deps fail fast, before any write") {
    val runner = new Runner(spark, tmp())
    import spark.implicits._
    val src = Map("src" -> Seq((1, "a")).toDF("k", "v"))
    val a = Model("a", Seq("b"), Materialization.Table, (in, _) => in("b"))
    val b = Model("b", Seq("a"), Materialization.Table, (in, _) => in("a"))
    assert(intercept[IllegalArgumentException](
      runner.run(Seq(a, b), src)).getMessage.contains("cycle"))
    val dangling = Model("c", Seq("nope"), Materialization.Table, (in, _) => in("nope"))
    assert(intercept[IllegalArgumentException](
      runner.run(Seq(dangling), src)).getMessage.contains("unresolved"))
    // nothing was materialized
    AnalyticsDag.models.foreach(m =>
      assert(Snapshots.versions(runner.tableDir(m.name)).isEmpty))
  }

  test("downstream models consume the MATERIALIZED upstream (ref semantics)") {
    val runner = new Runner(spark, tmp())
    import spark.implicits._
    val up = Model("up", Seq("src"), Materialization.Table, (in, _) => in("src"))
    val down = Model("down", Seq("up"), Materialization.Table,
      (in, _) => in("up").agg(count(lit(1)).as("n")))
    runner.run(Seq(up, down), Map("src" -> Seq(1, 2, 3).toDF("x")))
    // partial run (`dbt --models down`): `up` is neither in the model
    // list nor a source — it must resolve to the STORED table
    runner.run(Seq(down), Map.empty)
    assert(runner.readModel("down").head.getLong(0) == 3L)
    assert(Snapshots.versions(runner.tableDir("down")).size == 2)
  }

  test("backfill: dates run in order, each date is idempotent, a crashed date resumes mid-DAG") {
    import spark.implicits._
    val runner = new Runner(spark, tmp())
    @volatile var broken = "" // date whose mart build fails
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    def dag(ds: String): Seq[Model] = Seq(
      Model("slice", Seq("src"), Materialization.Table,
        (in, _) => { seen += ds; in("src").filter(col("d") === ds) }),
      Model("mart", Seq("slice"), Materialization.Incremental(Seq("d")),
        (in, _) => {
          if (ds == broken) throw new IllegalStateException("boom")
          in("slice").groupBy(col("d")).agg(sum(col("x")).as("sx"))
        }))
    val src = Map("src" ->
      Seq(("d1", 1), ("d1", 2), ("d2", 10), ("d3", 100)).toDF("d", "x"))
    // d2's mart crashes mid-backfill; d1 completed, d3 never ran
    broken = "d2"
    intercept[IllegalStateException](
      runner.backfill(Seq("d3", "d1", "d2"), dag, src)) // sorted → d1 first
    assert(seen.toSeq == Seq("d1", "d2"), "dates must run in sorted order")
    broken = ""
    // resuming the same backfill: d1 skips entirely, d2 skips its
    // committed slice and finishes the mart, d3 runs fresh
    val report = runner.backfill(Seq("d1", "d2", "d3"), dag, src)
    val modes = report.map { case (ds, rs) =>
      ds -> rs.map(r => r.name -> r.mode).toMap }.toMap
    assert(modes("d1") == Map("slice" -> "skipped", "mart" -> "skipped"))
    assert(modes("d2")("slice") == "skipped")
    assert(modes("d2")("mart") != "skipped")
    assert(modes("d3")("mart") != "skipped")
    val mart = runner.readModel("mart").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mart == Map("d1" -> 3L, "d2" -> 10L, "d3" -> 100L))
    // full replay of every date: pure no-op, no new versions
    val nv = Snapshots.versions(runner.tableDir("mart")).size
    val replay = runner.backfill(Seq("d1", "d2", "d3"), dag, src)
    assert(replay.flatMap(_._2).forall(_.mode == "skipped"))
    assert(Snapshots.versions(runner.tableDir("mart")).size == nv)
  }

  test("resume: rerun under the same id skips committed models and finishes the aborted DAG") {
    import spark.implicits._
    val runner = new Runner(spark, tmp())
    @volatile var fixed = false
    val up = Model("up", Seq("src"), Materialization.Table, (in, _) => in("src"))
    val down = Model("down", Seq("up"), Materialization.Table,
      (in, _) => {
        if (!fixed) throw new IllegalStateException("boom")
        in("up").agg(max(col("x")).as("mx"))
      })
    val src = Map("src" -> Seq(1, 2, 3).toDF("x"))
    intercept[IllegalStateException](
      runner.run(Seq(up, down), src, resumeId = Some("rA")))
    assert(Snapshots.versions(runner.tableDir("up")) == Seq(1L))
    fixed = true
    val runs = runner.run(Seq(up, down), src, resumeId = Some("rA"))
    assert(runs.find(_.name == "up").get.mode == "skipped")
    assert(runs.find(_.name == "down").get.mode == "full")
    assert(Snapshots.versions(runner.tableDir("up")) == Seq(1L),
      "resume must not re-commit completed upstream work")
    assert(runner.readModel("down").head.getInt(0) == 3)
    // a DIFFERENT run id re-runs everything
    val fresh = runner.run(Seq(up, down), src, resumeId = Some("rB"))
    assert(fresh.forall(_.mode == "full"))
    assert(Snapshots.versions(runner.tableDir("up")).size == 2)
  }

  test("resume markers land only after checks pass: a check-failed model re-runs") {
    import graft.pipeline.Checks
    import spark.implicits._
    val runner = new Runner(spark, tmp())
    @volatile var clean = false
    val m = Model("m", Seq("src"), Materialization.Table,
      (in, _) => if (clean) in("src").dropDuplicates("k") else in("src"),
      checks = Seq(Checks.Unique("k")))
    val src = Map("src" -> Seq((1, "a"), (1, "b")).toDF("k", "v"))
    intercept[IllegalArgumentException](
      runner.run(Seq(m), src, resumeId = Some("rC")))
    // the bad version committed (time-travel debuggable) but is NOT
    // marked done — the resume must re-materialize, not skip
    assert(Snapshots.versions(runner.tableDir("m")).size == 1)
    clean = true
    val runs = runner.run(Seq(m), src, resumeId = Some("rC"))
    assert(runs.head.mode == "full", "check-failed model must re-run on resume")
    assert(runner.readModel("m").count() == 1)
  }

  test("lineage manifest reconstructs the DAG, per-model versions, and input snapshot versions") {
    val runner = new Runner(spark, tmp())
    runner.run(AnalyticsDag.models, sources(None))
    val r2 = runner.run(AnalyticsDag.models, sources(None)) // incremental second run
    val path = runner.lastLineagePath.get
    val manifest = spark.read.option("multiLine", true).json(path)
    assert(manifest.head.getAs[String]("run_id").nonEmpty)
    import org.apache.spark.sql.Row
    val models = manifest.select(explode(col("models")).as("m")).select("m.*")
      .collect().map(r => r.getAs[String]("name") -> r).toMap
    // DAG edges reconstruct: every declared dep appears as an input
    AnalyticsDag.models.foreach { m =>
      val ins = models(m.name).getAs[Seq[Row]]("inputs")
        .map(_.getAs[String]("name")).toSet
      assert(m.deps.toSet == ins, s"${m.name}: lineage inputs != declared deps")
    }
    // committed versions in the manifest match the report and the store
    r2.foreach { mr =>
      assert(models(mr.name).getAs[Long]("version") == mr.version,
        s"${mr.name}: lineage version != run report")
    }
    // model-type inputs carry the exact upstream version read (run 2
    // reads the upstreams' run-2 versions)
    val martIns = models("user_order_summary").getAs[Seq[Row]]("inputs")
      .map(r => r.getAs[String]("name") -> r).toMap
    assert(martIns("stg_users").getAs[String]("type") == "model")
    assert(martIns("stg_users").getAs[Long]("version")
      == r2.find(_.name == "stg_users").get.version)
  }

  test("view->table migration drops the stale view registration") {
    import spark.implicits._
    val runner = new Runner(spark, tmp())
    val stg = Model("base", Seq("src"), Materialization.Table,
      (in, _) => in("src"))
    val asView = Model("m", Seq("base"), Materialization.View,
      (in, _) => in("base").withColumn("via", lit("view")))
    runner.run(Seq(stg, asView), Map("src" -> Seq(1).toDF("x")))
    assert(runner.readModel("m").head.getString(1) == "view")
    // re-declare m as a TABLE: readModel must serve the STORED table,
    // not re-resolve the old view definition
    val asTable = Model("m", Seq("base"), Materialization.Table,
      (in, _) => in("base").withColumn("via", lit("table")))
    runner.run(Seq(asTable), Map.empty)
    assert(Snapshots.versions(runner.tableDir("m")) == Seq(1L))
    assert(runner.readModel("m").head.getString(1) == "table",
      "stale view registration shadowed the materialized table")
  }

  test("cross-run view-definition cycles fail loudly, not by stack overflow") {
    import spark.implicits._
    val runner = new Runner(spark, tmp())
    val stg = Model("base", Seq("src"), Materialization.Table,
      (in, _) => in("src"))
    // run 1: view A over (not-yet-existing) view B is invalid alone,
    // so set it up stepwise: A over base, then B over A, then
    // re-register A over B — closing the loop through the registry
    val a1 = Model("a", Seq("base"), Materialization.View, (in, _) => in("base"))
    runner.run(Seq(stg, a1), Map("src" -> Seq(1).toDF("x")))
    val b = Model("b", Seq("a"), Materialization.View, (in, _) => in("a"))
    runner.run(Seq(b), Map.empty)
    val a2 = Model("a", Seq("b"), Materialization.View, (in, _) => in("b"))
    val ex = intercept[IllegalArgumentException](runner.run(Seq(a2), Map.empty))
    assert(ex.getMessage.contains("cycle"), s"wrong failure: ${ex.getMessage}")
  }

  test("tag: selectors and --exclude compose with graph operators") {
    import spark.implicits._
    def m(name: String, deps: Seq[String], tag: String*) =
      Model(name, deps, Materialization.Table,
        (in, _) => in.values.headOption.getOrElse(Seq(1).toDF("x")),
        tags = tag.toSet)
    val dag = Seq(
      m("stg_a", Seq("src"), "staging"),
      m("stg_b", Seq("src"), "staging", "nightly"),
      m("mart_a", Seq("stg_a"), "mart"),
      m("mart_b", Seq("stg_b"), "mart", "nightly"))
    // tag picks by tag, not name
    assert(Runner.select(dag, Seq("tag:nightly")).map(_.name)
      == Seq("stg_b", "mart_b"))
    // graph prefix composes with tag roots: +tag:mart pulls ancestors
    assert(Runner.select(dag, Seq("+tag:mart")).map(_.name)
      == Seq("stg_a", "stg_b", "mart_a", "mart_b"))
    // --exclude subtracts its own selection (incl. graph operators)
    assert(Runner.select(dag, Seq("+tag:mart"), exclude = Seq("tag:nightly"))
      .map(_.name) == Seq("stg_a", "mart_a"))
    assert(Runner.select(dag, Seq("tag:staging"), exclude = Seq("stg_b+"))
      .map(_.name) == Seq("stg_a"))
    // unknown tag selects nothing; unknown NAME still fails fast
    assert(Runner.select(dag, Seq("tag:nosuch")).isEmpty)
    intercept[IllegalArgumentException](Runner.select(dag, Seq("nosuch")))
  }

  test("view materialization: zero storage, re-resolves upstream CURRENT state per read") {
    import spark.implicits._
    val runner = new Runner(spark, tmp())
    val stg = Model("stg", Seq("src"), Materialization.Table,
      (in, _) => in("src"))
    val v = Model("v", Seq("stg"), Materialization.View,
      (in, _) => in("stg").groupBy(col("k")).agg(sum(col("x")).as("sx")))
    val src = Map("src" -> Seq(("a", 1L), ("a", 2L), ("b", 5L)).toDF("k", "x"))
    val report = runner.run(Seq(stg, v), src)
    assert(report.find(_.name == "v").get.mode == "view")
    assert(report.find(_.name == "v").get.version == -1L)
    // no warehouse object behind the view
    assert(Snapshots.versions(runner.tableDir("v")).isEmpty)
    assert(runner.readModel("v").orderBy("k").collect().map(_.getLong(1)).toSeq
      == Seq(3L, 5L))
    // a later ingest to stg is visible through the view with NO re-run
    Snapshots.commit(
      runner.readModel("stg").unionAll(Seq(("b", 10L)).toDF("k", "x")),
      runner.tableDir("stg"))
    assert(runner.readModel("v").orderBy("k").collect().map(_.getLong(1)).toSeq
      == Seq(3L, 15L), "view must reflect upstream current state")
    // views have no versions to time-travel
    intercept[IllegalArgumentException](runner.readModel("v", 1L))
  }

  test("ephemeral materialization: inlined into consumers, not readable, not directly runnable surface") {
    import spark.implicits._
    val runner = new Runner(spark, tmp())
    val stg = Model("stg", Seq("src"), Materialization.Table,
      (in, _) => in("src"))
    val eph = Model("eph", Seq("stg"), Materialization.Ephemeral,
      (in, _) => in("stg").withColumn("x2", col("x") * 2))
    val mart = Model("mart", Seq("eph"), Materialization.Table,
      (in, _) => in("eph").groupBy(col("k")).agg(sum(col("x2")).as("sx2")))
    val src = Map("src" -> Seq(("a", 1L), ("b", 3L)).toDF("k", "x"))
    val report = runner.run(Seq(stg, eph, mart), src)
    assert(report.find(_.name == "eph").get.mode == "ephemeral")
    assert(Snapshots.versions(runner.tableDir("eph")).isEmpty,
      "ephemeral must write nothing")
    assert(runner.readModel("mart").orderBy("k").collect().map(_.getLong(1)).toSeq
      == Seq(2L, 6L))
    intercept[IllegalStateException](runner.readModel("eph"))
  }

  test("--select reaches ephemeral ancestors via +; checks run on the composed plan") {
    import graft.pipeline.Checks
    import spark.implicits._
    val runner = new Runner(spark, tmp())
    val stg = Model("stg", Seq("src"), Materialization.Table,
      (in, _) => in("src"))
    val eph = Model("eph", Seq("stg"), Materialization.Ephemeral,
      (in, _) => in("stg").filter(col("x") > 0),
      checks = Seq(Checks.NotNull("k")))
    val mart = Model("mart", Seq("eph"), Materialization.Table,
      (in, _) => in("eph"))
    val src = Map("src" -> Seq(("a", 1L), ("b", -1L)).toDF("k", "x"))
    // select the mart with ancestors: the ephemeral definition comes
    // along (dbt parity — a consumer cannot compile without it)
    val picked = Runner.select(Seq(stg, eph, mart), Seq("+mart"))
    assert(picked.map(_.name).toSet == Set("stg", "eph", "mart"))
    val report = runner.run(picked, src)
    assert(report.map(_.name) == Seq("stg", "eph", "mart"))
    assert(runner.readModel("mart").count() == 1)
    // composed-plan checks abort on violation
    val badEph = Model("eph2", Seq("stg"), Materialization.Ephemeral,
      (in, _) => in("stg").withColumn("k", lit(null: String)),
      checks = Seq(Checks.NotNull("k")))
    intercept[IllegalArgumentException](runner.run(Seq(badEph), src))
  }

  test("snapshot materialization: check-strategy SCD2 — diff without timestamps, dbt metadata columns, delta-priced runs") {
    import spark.implicits._
    val runner = new Runner(spark, tmp())
    val ts = Iterator("2024-01-01 00:00:00", "2024-02-01 00:00:00",
      "2024-03-01 00:00:00").map(java.sql.Timestamp.valueOf)
    val snap = Model("dim", Seq("src"),
      Materialization.Snapshot(Seq("k"), Seq("seg"), at = () => ts.next()),
      (in, _) => in("src"))
    def state(rows: (Long, String, Double)*) =
      Map("src" -> rows.toSeq.toDF("k", "seg", "bal"))
    val r1 = runner.run(Seq(snap), state((1L, "A", 10.0), (2L, "B", 20.0)))
    assert(r1.head.mode == "snapshot-first")
    // dbt's exact metadata columns, scd_id = md5 of (keys|valid_from)
    val cols = runner.readModel("dim").columns.toSeq
    assert(cols == Seq("k", "seg", "bal", "dbt_scd_id", "dbt_updated_at",
      "dbt_valid_from", "dbt_valid_to"))
    assert(runner.readModel("dim").select("dbt_scd_id").as[String]
      .collect().forall(_.matches("[0-9a-f]{32}")))
    // run 2: key 1 re-segmented (close+open); key 3 new; key 2 ABSENT
    // but invalidate_hard_deletes is OFF → its open row stays; `bal`
    // is NOT a check column, so a bal-only change would be invisible
    val r2 = runner.run(Seq(snap),
      state((1L, "A2", 10.0), (3L, "C", 30.0)))
    assert(r2.head.mode == "snapshot")
    val dim = runner.readModel("dim")
      .select("k", "seg", "dbt_valid_from", "dbt_valid_to")
      .as[(Long, String, java.sql.Timestamp, Option[java.sql.Timestamp])]
      .collect().toSeq.sortBy(r => (r._1, r._3.getTime))
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    assert(dim == Seq(
      (1L, "A", t("2024-01-01 00:00:00"), Some(t("2024-02-01 00:00:00"))),
      (1L, "A2", t("2024-02-01 00:00:00"), None),
      (2L, "B", t("2024-01-01 00:00:00"), None),
      (3L, "C", t("2024-02-01 00:00:00"), None)))
    // closed rows keep their original dbt_updated_at; reopened get the
    // run's — the (key,version) grain each carries its own audit stamp
    val upd = runner.readModel("dim").filter(col("k") === 1L)
      .select("dbt_updated_at", "dbt_valid_to")
      .as[(java.sql.Timestamp, Option[java.sql.Timestamp])].collect().toMap
    assert(upd(t("2024-01-01 00:00:00")).contains(t("2024-02-01 00:00:00")))
    assert(upd(t("2024-02-01 00:00:00")).isEmpty)
    // run 3: identical state → the delta is EMPTY; the committed
    // version equals the previous byte-for-byte (no spurious churn)
    val before = runner.readModel("dim").collect().toSet
    runner.run(Seq(snap), state((1L, "A2", 10.0), (3L, "C", 30.0)))
    assert(runner.readModel("dim").collect().toSet == before)
  }

  test("snapshot timestamp strategy: business-time validity, stale rows ignored, replay idempotent") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val runner = new Runner(spark, tmp())
    val snap = Model("dim", Seq("src"),
      Materialization.Snapshot(Seq("k"), updatedAt = Some("u"),
        at = () => t("2024-06-01 00:00:00")),
      (in, _) => in("src"))
    def state(rows: (Long, String, java.sql.Timestamp)*) =
      Map("src" -> rows.toSeq.toDF("k", "v", "u"))
    runner.run(Seq(snap),
      state((1L, "a", t("2024-01-05 00:00:00")),
        (2L, "b", t("2024-01-09 00:00:00"))))
    // first run opens each key at its OWN updated-at, not the run ts
    assert(runner.readModel("dim").select("k", "dbt_valid_from")
      .as[(Long, java.sql.Timestamp)].collect().toMap ==
      Map(1L -> t("2024-01-05 00:00:00"), 2L -> t("2024-01-09 00:00:00")))
    // run 2: key 1 NEWER (re-versions at its new u); key 2 arrives
    // with a DIFFERENT value but the SAME u — stale by the
    // newer-than rule, must be ignored (the whole point: replays and
    // out-of-order restatements can't corrupt history)
    runner.run(Seq(snap),
      state((1L, "a2", t("2024-02-01 00:00:00")),
        (2L, "b-stale", t("2024-01-09 00:00:00"))))
    val rows = runner.readModel("dim")
      .select("k", "v", "dbt_valid_from", "dbt_valid_to")
      .as[(Long, String, java.sql.Timestamp, Option[java.sql.Timestamp])]
      .collect().toSeq.sortBy(r => (r._1, r._3.getTime))
    assert(rows == Seq(
      (1L, "a", t("2024-01-05 00:00:00"), Some(t("2024-02-01 00:00:00"))),
      (1L, "a2", t("2024-02-01 00:00:00"), None),
      (2L, "b", t("2024-01-09 00:00:00"), None)))
  }

  test("--full-refresh rebuilds an incremental model whose logic changed; Some(false) pins never") {
    import spark.implicits._
    val runner = new Runner(spark, TempDirs.scratch("graft-runner-fr"))
    val src = Seq((1L, 10.0, "x"), (1L, 20.0, "y"), (2L, 5.0, "x"))
      .toDF("k", "v", "cat")
    def mdl(xOnly: Boolean, pin: Option[Boolean] = None): Model =
      Model("mart", Seq("src"), Materialization.Incremental(Seq("k")),
        (in, cur) => {
          // incremental branch: only keys ABSENT from the mart land
          // (so a logic change never reaches existing keys)
          val base = cur match {
            case Some(c) => in("src").join(c.select("k"), Seq("k"), "left_anti")
            case None => in("src")
          }
          val scoped = if (xOnly) base.filter(col("cat") === "x") else base
          scoped.groupBy(col("k")).agg(sum(col("v")).as("sv"))
        }, fullRefresh = pin)
    def mart(): Map[Long, Double] = runner.readModel("mart").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    runner.run(Seq(mdl(xOnly = false)), Map("src" -> src))
    assert(mart() == Map(1L -> 30.0, 2L -> 5.0))
    // logic change + plain run: existing keys keep the OLD numbers
    runner.run(Seq(mdl(xOnly = true)), Map("src" -> src))
    assert(mart() == Map(1L -> 30.0, 2L -> 5.0), "plain run must leave stale rows")
    // --full-refresh: whole mart rebuilt under the new logic, as a
    // NEW version — the stale mart stays travelable
    val report = runner.run(Seq(mdl(xOnly = true)), Map("src" -> src),
      fullRefresh = true)
    assert(report.head.mode == "full-refresh")
    assert(mart() == Map(1L -> 10.0, 2L -> 5.0))
    val dir = runner.tableDir("mart")
    assert(graft.sources.Snapshots.versions(dir).size == 3)
    assert(graft.sources.Snapshots.read(spark, dir, 2L).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      == Map(1L -> 30.0, 2L -> 5.0), "superseded mart must stay travelable")
    // Some(false) pins never-refresh: the flag is ignored (dbt's guard
    // for marts too big to accidentally rebuild)
    val guarded = runner.run(
      Seq(mdl(xOnly = true, pin = Some(false))), Map("src" -> src),
      fullRefresh = true)
    assert(guarded.head.mode == "merge")
    // Some(true) pins always-refresh even without the flag
    val always = runner.run(
      Seq(mdl(xOnly = true, pin = Some(true))), Map("src" -> src))
    assert(always.head.mode == "full-refresh")
  }
}
