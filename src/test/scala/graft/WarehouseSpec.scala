package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Warehouse

class WarehouseSpec extends AnyFunSuite {
  import TestSession._

  test("q51 scan carries a partition filter and reads only the matching directory") {
    val landed = Warehouse.landOrders(spark, sf)
    val df = Warehouse.prunedDaily(landed.df, Warehouse.Q51Month)

    // execute THIS dataset's own query execution so the AQE-final plan
    // and its scan metrics are the ones inspected below
    df.collect()
    // AQE hides materialized stages behind leaf QueryStageExec nodes —
    // walk through them to reach the actual file scan
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def allScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
      case q: QueryStageExec => allScans(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(allScans)
    }
    val scans = allScans(df.queryExecution.executedPlan)
    assert(scans.nonEmpty, "no FileSourceScanExec in q51's plan")
    val scan = scans.head
    assert(scan.partitionFilters.exists(_.toString.contains("o_month")),
      s"month predicate not a PartitionFilter: ${scan.partitionFilters}")
    // The predicate must NOT survive as a post-scan data filter — it
    // binds to the directory key and is consumed at planning time.
    assert(!scan.dataFilters.exists(_.toString.contains("o_month")),
      s"o_month leaked into data filters: ${scan.dataFilters}")

    val matching = new java.io.File(
      s"${landed.path}/o_month=${Warehouse.Q51Month}")
      .listFiles().count(_.getName.endsWith(".parquet"))
    val allParts = new java.io.File(landed.path)
      .listFiles().count(_.getName.startsWith("o_month="))
    assert(allParts > 10, s"expected many month partitions, got $allParts")
    assert(scan.metrics("numFiles").value == matching,
      s"scan read ${scan.metrics("numFiles").value} files, " +
        s"matching partition holds $matching")
  }

  test("q53 compaction collapses the fragmented landing into few sorted files") {
    val landed = Warehouse.compactOrders(spark, sf)
    def parquetFiles(p: String): Int =
      new java.io.File(p).listFiles().count(_.getName.endsWith(".parquet"))
    val outFiles = parquetFiles(landed.path)
    assert(outFiles < 64 && outFiles >= 1,
      s"expected compaction below the 64 landed shards, got $outFiles")
    // lossless: compacted row count equals the raw table's
    assert(landed.df.count() == Tables(spark, sf, "orders").count())
  }

  test("q58 bucketed sides join with zero shuffle exchanges") {
    // spec-private table names: q58 itself (run by QueriesSpec /
    // SqlParitySpec in the same session) owns the g58_* names and
    // re-lands them; keeping this test on its own tables makes it
    // order-independent of those suites
    val o = Warehouse.bucketTable(spark, "g58spec_orders_b",
      Tables(spark, sf, "orders")
        .select(col("o_orderkey"), col("o_orderpriority")), "o_orderkey")
    val l = Warehouse.bucketTable(spark, "g58spec_lineitem_b",
      Tables(spark, sf, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice")),
      "l_orderkey")
    // disable broadcast for the assertion: at test sf the small side
    // broadcasts (also shuffle-free); the bucketed layout is what
    // keeps the join exchange-free at the scale where it CAN'T
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = o.join(l, col("o_orderkey") === col("l_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(400))
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n${plan.take(800)}")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }

  test("q60 evolution: both layouts prune, old files never rewritten") {
    val landed = Warehouse.landEvolvedOrders(spark, sf)
    val df = landed.df
    // parquet files per leaf of one spec: (partition value, files)
    def leaves(sid: Int): Seq[(Long, Int)] =
      new java.io.File(s"${landed.path}/data/__spec=$sid").listFiles()
        .filter(_.getName.startsWith("__pv0="))
        .map(d => d.getName.stripPrefix("__pv0=").toLong ->
          d.listFiles.count(_.getName.endsWith(".parquet")))
        .toSeq
    // spec 0 = months(o_orderdate), spec 1 = days(o_orderdate): each
    // prunes by ITS OWN transform from the one user-facing date range
    def month(d: String) = {
      val x = java.time.LocalDate.parse(d)
      (x.getYear - 1970L) * 12 + x.getMonthValue - 1
    }
    def day(d: String) = java.time.LocalDate.parse(d).toEpochDay
    val months = leaves(0)
    val days = leaves(1)
    val mIn = months.filter { case (v, _) =>
      v >= month(Warehouse.Q60From) && v <= month(Warehouse.Q60To) }.map(_._2).sum
    val dIn = days.filter { case (v, _) =>
      v >= day(Warehouse.Q60From) && v <= day(Warehouse.Q60To) }.map(_._2).sum
    assert(months.map(_._2).sum > mIn && days.map(_._2).sum > dIn,
      "range must exclude some leaves on both specs")
    // exact per-spec file reads: the scan's input files are the
    // in-range leaves' files of each spec, nothing else
    val specOf = "/__spec=(\\d+)/".r
    val read = df.inputFiles.toSeq
      .groupBy(f => specOf.findFirstMatchIn(f).map(_.group(1).toInt))
      .map { case (sid, fs) => sid -> fs.size }
    assert(read == Map(Some(0) -> mIn, Some(1) -> dIn),
      s"files read per spec $read, in-range leaves hold spec 0: $mIn, spec 1: $dIn")
    df.collect()
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def allScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
      case q: QueryStageExec => allScans(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(allScans)
    }
    assert(allScans(df.queryExecution.executedPlan)
      .map(_.metrics("numFiles").value).sum == mIn + dIn)
    // evolution appended a NEW spec subtree; the month files stayed put
    assert(months.nonEmpty && days.nonEmpty)
    // and the union is lossless over the range vs the raw table
    val expected = Tables(spark, sf, "orders")
      .filter(col("o_orderdate").cast("date")
        .between(lit(Warehouse.Q60From).cast("date"), lit(Warehouse.Q60To).cast("date")))
      .count()
    assert(df.count() == expected)
  }

  test("q63 maintenance: expire+vacuum deletes v1 files, compact leaves one file, retained versions read") {
    import graft.sources.Snapshots
    val t = java.nio.file.Files.createTempDirectory("graft-maint-spec").toString + "/orders_m"
    val stg = Tables(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_orderdate"))
    val v1 = Snapshots.commit(stg.limit(100), t)
    val v2 = Snapshots.commit(stg.limit(200), t)
    val v3 = Snapshots.commit(stg, t)
    val n2 = Snapshots.read(spark, t, v2).count()
    val n3 = Snapshots.read(spark, t, v3).count()
    Snapshots.expireSnapshots(t, keep = 2)
    Snapshots.vacuumOrphans(t, minAgeMs = 0L)
    val v4 = Snapshots.compactLatest(spark, t, numFiles = 1)
    // v1's data directory is physically gone
    def dataDir(v: Long) = java.nio.file.Paths.get(t, s"v=$v")
    assert(!java.nio.file.Files.exists(dataDir(v1)),
      s"expired v$v1 files survived vacuum")
    // the compacted latest holds exactly one parquet file
    val files = java.nio.file.Files.list(dataDir(v4))
    val nParquet = try {
      import scala.jdk.CollectionConverters._
      files.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
    } finally files.close()
    assert(nParquet == 1, s"compactLatest left $nParquet parquet files")
    // both retained pre-maintenance versions still read losslessly
    assert(Snapshots.read(spark, t, v2).count() == n2)
    assert(Snapshots.read(spark, t, v3).count() == n3)
    assert(Snapshots.read(spark, t, v4).count() == n3)
  }

  test("Ivm.maintain: update/insert/delete, group drops at zero, new group appears") {
    import spark.implicits._
    import graft.operators.Ivm
    // base state: g=a {k1:10, k2:20}, g=b {k3:30}
    val base = Seq(("a", 1L, 10.0), ("a", 2L, 20.0), ("b", 3L, 30.0))
      .toDF("g", "k", "v")
    val mat = base.groupBy("g").agg(
      count(lit(1)).as("n"),
      sum(col("v").cast("decimal(18,2)")).as("sv"))
    // transition: k1 repriced, k3 deleted (b drops to zero),
    // k4 inserted into new group c
    val oldRows = Seq(("a", 1L, 10.0), ("b", 3L, 30.0)).toDF("g", "k", "v")
    val newRows = Seq(("a", 1L, 15.0), ("c", 4L, 40.0)).toDF("g", "k", "v")
    val got = Ivm.maintain(mat, oldRows, newRows, Seq("g"), "n", Seq("v" -> "sv"))
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2).doubleValue))
    assert(got.toSeq == Seq(("a", 2L, 35.0), ("c", 1L, 40.0)))
    // and it must equal the full recompute of the new state
    val newState = Seq(("a", 1L, 15.0), ("a", 2L, 20.0), ("c", 4L, 40.0))
      .toDF("g", "k", "v")
    val recomputed = newState.groupBy("g").agg(
        count(lit(1)).as("n"), sum(col("v").cast("decimal(18,2)")).as("sv"))
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2).doubleValue))
    assert(got.toSeq == recomputed.toSeq)
  }

  test("q67 stats skipping: strict file subset, equals the unpruned filter, empty range") {
    import graft.sources.Sources
    val p = s"${graft.TempDirs.scratch("graft-skip-spec")}/orders"
    val orders = Tables(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    Sources.landWithStats(orders, p, "o_custkey", numFiles = 16)
    val sk = Sources.readSkipping(spark, p, "o_custkey", 100L, 199L)
    assert(sk.total == 16, s"expected 16 landed files, saw ${sk.total}")
    // range-clustered landing → a narrow key range must skip most
    // files (the key span varies with sf, so bound relatively)
    assert(sk.selected >= 1 && sk.selected < sk.total / 2,
      s"expected under half the files to survive, got ${sk.selected}/${sk.total}")
    def rollup(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("o_custkey").between(100L, 199L))
        .agg(count(lit(1)), sum(col("o_totalprice").cast("decimal(18,2)"))).head()
    val pruned = rollup(sk.df)
    val full = rollup(orders)
    assert(pruned == full, "pruned read must equal the unpruned filter")
    // a range outside every file's bounds selects nothing but still reads
    val none = Sources.readSkipping(spark, p, "o_custkey", -500L, -100L)
    assert(none.selected == 0 && none.df.count() == 0)
  }

  test("q68 z-order: BOTH single-column predicates prune the same landed copy") {
    import graft.sources.Sources
    val p = s"${graft.TempDirs.scratch("graft-zorder-spec")}/lineitem"
    val li = Tables(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_extendedprice"))
    Sources.landZOrdered(li, p, "l_orderkey", "l_partkey", numFiles = 32)
    // ~1/8 of each key span, derived from the data so the spec holds
    // at every sf
    val mx = li.agg(max(col("l_orderkey")), max(col("l_partkey"))).head()
    val (oQ, pQ) = ((mx.getLong(0) / 8, mx.getLong(0) / 4),
      (mx.getLong(1) / 8, mx.getLong(1) / 4))
    val byOrd = Sources.readSkipping2(spark, p, Some(oQ), None)
    val byPart = Sources.readSkipping2(spark, p, None, Some(pQ))
    assert(byOrd.total == 32 && byPart.total == 32)
    assert(byOrd.selected >= 1 && byOrd.selected < byOrd.total / 2,
      s"orderkey-only predicate did not prune: ${byOrd.selected}/32")
    assert(byPart.selected >= 1 && byPart.selected < byPart.total / 2,
      s"partkey-only predicate did not prune: ${byPart.selected}/32")
    // both dimensions together prune at least as hard as either alone
    val both = Sources.readSkipping2(spark, p, Some(oQ), Some(pQ))
    assert(both.selected <= math.min(byOrd.selected, byPart.selected))
    // pruned reads equal the raw filters — the layout loses nothing
    def sums(df: org.apache.spark.sql.DataFrame,
        c: String, q: (Long, Long)) =
      df.filter(col(c).between(q._1, q._2))
        .agg(count(lit(1)), sum(col("l_extendedprice").cast("decimal(18,2)")))
        .head()
    assert(sums(byOrd.df, "l_orderkey", oQ) == sums(li, "l_orderkey", oQ))
    assert(sums(byPart.df, "l_partkey", pQ) == sums(li, "l_partkey", pQ))
  }

  test("q70 point index: reads only the keys' files, equals the raw filter, empty on a missing key") {
    import graft.sources.Sources
    val p = s"${graft.TempDirs.scratch("graft-ptidx-spec")}/orders"
    val idx = s"$p-index"
    val orders = Tables(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    Sources.landWithStats(orders, p, "o_orderkey", numFiles = 64)
    Sources.buildPointIndex(spark, p, "o_custkey", idx)
    val sk = Sources.lookupByIndex(spark, p, idx, "o_custkey", Seq(100L))
    assert(sk.total == 64)
    // one customer's ~10 orders live in at most ~10 of 64 files
    assert(sk.selected >= 1 && sk.selected <= 16,
      s"point lookup touched ${sk.selected}/64 files")
    def rollup(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("o_custkey") === 100L)
        .agg(count(lit(1)), sum(col("o_totalprice").cast("decimal(18,2)"))).head()
    assert(rollup(sk.df) == rollup(orders),
      "indexed read must equal the raw filter")
    // a key outside the domain reads zero files and zero rows
    val none = Sources.lookupByIndex(spark, p, idx, "o_custkey", Seq(-5L))
    assert(none.selected == 0 && none.df.count() == 0)
  }

  test("q71 insert_overwrite swaps only the recomputed month's files") {
    import scala.jdk.CollectionConverters._
    import graft.sources.Sources
    val landed = Warehouse.landOrders(spark, sf)
    def listing(month: String): Map[String, Long] = {
      val d = java.nio.file.Paths.get(landed.path, s"o_month=$month")
      if (!java.nio.file.Files.exists(d)) Map.empty
      else {
        val s = java.nio.file.Files.list(d)
        try s.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .map(p => p.getFileName.toString ->
            java.nio.file.Files.getLastModifiedTime(p).toMillis)
          .toMap
        finally s.close()
      }
    }
    val beforeOther = listing("1995-02")
    val beforeTarget = listing("1995-03")
    assert(beforeOther.nonEmpty && beforeTarget.nonEmpty)
    val total = Sources.readParquet(spark, landed.path).count()
    val fixed = Tables(spark, sf, "orders")
      .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
      .filter(col("o_month") === "1995-03")
      .withColumn("o_totalprice", col("o_totalprice") + 1.0)
    Sources.overwritePartitions(fixed, landed.path, Seq("o_month"))
    assert(listing("1995-02") == beforeOther,
      "dynamic overwrite touched a partition it should not have")
    assert(listing("1995-03") != beforeTarget,
      "target partition was not rewritten")
    assert(Sources.readParquet(spark, landed.path).count() == total,
      "partition swap changed the row count")
  }

  test("q72 bloom prunes a non-clustered column where min/max stats cannot") {
    import graft.sources.Sources
    val p = graft.TempDirs.scratch("graft-bloomspec")
    val idx = s"$p-index"
    val orders = Tables(spark, sf, "orders")
    // the time-clustered layout q72 lands (custkey NOT clustered)
    orders.select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_totalprice"))
      .repartitionByRange(32, col("o_orderdate"), col("o_orderkey"))
      .sortWithinPartitions(col("o_orderdate"))
      .write.mode("overwrite").parquet(p)
    Sources.buildBloomIndex(spark, p, "o_custkey", idx, mBits = 65536)
    // the rarest customer: few orders → few files actually hold it
    val rare = orders.groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").asc, col("o_custkey")).limit(1)
      .head().getLong(0)
    // min/max on the un-clustered custkey is useless: (almost) every
    // file's [min,max] contains the probe key
    val perFile = spark.read.parquet(p)
      .groupBy(input_file_name().as("file"))
      .agg(min(col("o_custkey")).as("lo"), max(col("o_custkey")).as("hi"))
      .collect()
    val rangePositive = perFile.count(r =>
      r.getAs[Long]("lo") <= rare && rare <= r.getAs[Long]("hi"))
    val bloom = Sources.lookupByBloom(spark, p, idx, "o_custkey", Seq(rare), 65536)
    assert(rangePositive > bloom.selected,
      s"bloom (${bloom.selected} files) should beat custkey ranges ($rangePositive)")
    assert(bloom.selected < bloom.total, "bloom pruned nothing")
    // and no false negatives: candidates hold every row of the key
    val exact = orders.filter(col("o_custkey") === rare).count()
    assert(bloom.df.filter(col("o_custkey") === rare).count() == exact,
      "bloom candidates lost rows of a present key")
  }

  test("q77 metadata-only answers survive the data files becoming unreadable") {
    import scala.jdk.CollectionConverters._
    import graft.sources.Sources
    val p = graft.TempDirs.scratch("graft-metaspec")
    val orders = Tables(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    orders.repartition(8).write.mode("overwrite").parquet(p)
    Sources.writeStatsManifest(spark, p, "o_orderkey")
    val truth = orders.agg(count(lit(1)), min(col("o_orderkey")),
      max(col("o_orderkey"))).head()
    val fromStats = Sources.statsOnlyAnswer(p)
    assert(fromStats == ((truth.getLong(0), truth.getLong(1), truth.getLong(2))))
    // metadata-only means the data files are never opened: remove them
    // and the answer must not change
    val d = java.nio.file.Paths.get(p)
    val s = java.nio.file.Files.list(d)
    try s.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach(java.nio.file.Files.delete(_))
    finally s.close()
    assert(Sources.statsOnlyAnswer(p) == fromStats)
  }

  test("facade DML: rows_affected exact, loud wrong-store and duplicate-CTAS errors, both stores listed") {
    import graft.sources.Snapshots
    import spark.implicits._
    val wh = TempDirs.scratch("graft-dml-spec")
    Snapshots.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s"),
      Engine.tableDir(wh, "raw.src"))
    def sql(q: String) = Engine.sqlWarehouse(spark, wh, q)
    val created = sql("CREATE TABLE lake.t AS SELECT k, s FROM raw.src").head()
    assert(created.getString(1) == "create" && created.getLong(2) == 3L)
    val ins = sql("INSERT INTO lake.t SELECT k + 10 AS k, s FROM raw.src").head()
    assert(ins.getLong(2) == 3L)
    val upd = sql("UPDATE lake.t SET s = concat(s, '!') WHERE k > 10").head()
    assert(upd.getString(1) == "update" && upd.getLong(2) == 3L)
    val del = sql("DELETE FROM lake.t WHERE k = 2").head()
    assert(del.getString(1) == "delete" && del.getLong(2) == 1L)
    // zero-match DML: affected 0, view unchanged
    assert(sql("DELETE FROM lake.t WHERE k = 999").head().getLong(2) == 0L)
    val rows = sql("SELECT k, s FROM lake.t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((1L, "a"), (3L, "c"),
      (11L, "a!"), (12L, "b!"), (13L, "c!")))
    // wrong store and duplicate CTAS fail loudly, leaving no trace
    intercept[IllegalArgumentException] {
      sql("DELETE FROM raw.src WHERE k = 1") }
    intercept[IllegalArgumentException] {
      sql("CREATE TABLE lake.t AS SELECT k, s FROM raw.src") }
    assert(sql("SELECT COUNT(*) AS n FROM raw.src").head().getLong(0) == 3L)
    // SHOW TABLES sees the MoR table next to the snapshot table
    val listed = sql("SHOW TABLES").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(listed == Set(("raw", "src"), ("lake", "t")))
  }

  test("catalog views: re-resolve per query, compose in ledger order, fail loudly on bad refs") {
    import graft.sources.Snapshots
    import spark.implicits._
    val wh = TempDirs.scratch("graft-views-spec")
    Snapshots.commit(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "x"),
      Engine.tableDir(wh, "raw.t"))
    def sql(q: String) = Engine.sqlWarehouse(spark, wh, q)
    sql("CREATE VIEW raw.v1 AS SELECT k, x * 2 AS x2 FROM raw.t")
    sql("CREATE VIEW raw.v2 AS SELECT SUM(x2) AS s FROM raw.v1")
    assert(sql("SELECT s FROM raw.v2").head().getDouble(0) == 60.0)
    // a view tracks the CURRENT base state — no refresh step
    sql("CREATE TABLE raw.m AS SELECT k, x FROM raw.t")
    sql("CREATE VIEW raw.vm AS SELECT SUM(x) AS s FROM raw.m")
    assert(sql("SELECT s FROM raw.vm").head().getDouble(0) == 30.0)
    sql("INSERT INTO raw.m SELECT k + 10 AS k, x FROM raw.t")
    assert(sql("SELECT s FROM raw.vm").head().getDouble(0) == 60.0)
    // duplicate name, self/forward reference, unknown DROP: all loud
    intercept[IllegalArgumentException] {
      sql("CREATE VIEW raw.v1 AS SELECT 1 AS one") }
    intercept[Exception] {
      sql("CREATE VIEW raw.bad AS SELECT * FROM raw.bad") }
    assert(sql("SHOW VIEWS").count() == 3,
      "a failed CREATE VIEW must leave no ledger entry")
    intercept[IllegalArgumentException] { sql("DROP VIEW raw.nope") }
    // a view name must not shadow a table name
    intercept[IllegalArgumentException] {
      sql("CREATE VIEW raw.t AS SELECT 1 AS one") }
  }

  test("ALTER TABLE DDL: metadata-only, narrowing and unknown columns rejected loudly") {
    import graft.sources.Snapshots
    import spark.implicits._
    val wh = TempDirs.scratch("graft-ddl-spec")
    val t = Engine.tableDir(wh, "lake.t")
    Snapshots.commit(Seq((1L, 10, "x"), (2L, 20, "y")).toDF("k", "q", "s"), t)
    def sql(qq: String) = Engine.sqlWarehouse(spark, wh, qq)
    def dataBytes(): Long = {
      import scala.jdk.CollectionConverters._
      val w = java.nio.file.Files.walk(java.nio.file.Paths.get(t, "v=1"))
      try w.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .map(java.nio.file.Files.size(_)).sum
      finally w.close()
    }
    val before = dataBytes()
    sql("ALTER TABLE lake.t RENAME COLUMN q TO qty")
    sql("ALTER TABLE lake.t ALTER COLUMN qty TYPE BIGINT")
    sql("ALTER TABLE lake.t ADD COLUMN tier STRING DEFAULT 'bronze'")
    sql("ALTER TABLE lake.t DROP COLUMN s")
    assert(dataBytes() == before, "DDL must touch zero data bytes")
    val rows = sql("SELECT k, qty, tier FROM lake.t ORDER BY k").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
      == Seq((1L, 10L, "bronze"), (2L, 20L, "bronze")))
    // narrowing, unknown column, unknown table: all loud
    intercept[IllegalArgumentException] {
      sql("ALTER TABLE lake.t ALTER COLUMN qty TYPE INT") }
    intercept[IllegalArgumentException] {
      sql("ALTER TABLE lake.t RENAME COLUMN nope TO x") }
    intercept[IllegalArgumentException] {
      sql("ALTER TABLE lake.missing DROP COLUMN k") }
  }

  test("MERGE INTO SQL: whole-row grammar enforced, MoR targets and bad ON rejected") {
    import graft.sources.{Mor, Snapshots}
    import spark.implicits._
    val wh = TempDirs.scratch("graft-merge-spec")
    Snapshots.commit(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"),
      Engine.tableDir(wh, "lake.dim"))
    Snapshots.commit(Seq((2L, 25.0), (3L, 30.0)).toDF("k", "v"),
      Engine.tableDir(wh, "lake.src"))
    def sql(q: String) = Engine.sqlWarehouse(spark, wh, q)
    sql("""MERGE INTO lake.dim t USING lake.src s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val rows = sql("SELECT k, v FROM lake.dim ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rows == Seq((1L, 10.0), (2L, 25.0), (3L, 30.0)))
    // missing INSERT *, mismatched ON keys, MoR target: all loud
    intercept[IllegalArgumentException] {
      sql("""MERGE INTO lake.dim t USING lake.src s ON t.k = s.k
            |WHEN MATCHED THEN UPDATE SET *""".stripMargin) }
    intercept[IllegalArgumentException] {
      sql("""MERGE INTO lake.dim t USING lake.src s ON t.k = s.v
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin) }
    sql("CREATE TABLE lake.mor AS SELECT k, v FROM lake.src")
    intercept[IllegalArgumentException] {
      sql("""MERGE INTO lake.mor t USING lake.src s ON t.k = s.k
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin) }
    // a non-equality ON predicate must fail loudly, never be dropped
    intercept[IllegalArgumentException] {
      sql("""MERGE INTO lake.dim t USING lake.src s
            |ON t.k = s.k AND s.v > 5
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin) }
    // clause conditions are evaluated one-sided (MATCHED DELETE on the
    // SOURCE row, NOT MATCHED BY SOURCE on the TARGET row): a condition
    // qualified with the OTHER side's alias would silently re-point at
    // the wrong row's columns after alias-stripping — reject loudly
    intercept[IllegalArgumentException] {
      sql("""MERGE INTO lake.dim t USING lake.src s ON t.k = s.k
            |WHEN MATCHED AND t.v < 15 THEN DELETE
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin) }
    intercept[IllegalArgumentException] {
      sql("""MERGE INTO lake.dim t USING lake.src s ON t.k = s.k
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *
            |WHEN NOT MATCHED BY SOURCE AND s.v > 0 THEN DELETE""".stripMargin) }
    intercept[IllegalArgumentException] {
      sql("""MERGE INTO lake.dim t USING lake.src s ON t.k = s.k
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *
            |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = s.v""".stripMargin) }
  }

  test("MERGE INTO SQL: CASE WHEN inside a clause condition or SET expression parses whole") {
    import graft.sources.Snapshots
    import spark.implicits._
    val wh = TempDirs.scratch("graft-merge-case-spec")
    Snapshots.commit(Seq((1L, 10.0), (2L, 20.0), (4L, 40.0)).toDF("k", "v"),
      Engine.tableDir(wh, "lake.dim"))
    Snapshots.commit(Seq((2L, 25.0), (3L, 30.0)).toDF("k", "v"),
      Engine.tableDir(wh, "lake.src"))
    def sql(q: String) = Engine.sqlWarehouse(spark, wh, q)
    // the CASE's inner THEN must not terminate the clause: cond is the
    // whole CASE expression (not firing here: 25 and 30 are <= 35),
    // action is DELETE — key 2 upserts, key 3 inserts; and the NMBS
    // SET's CASE stays one expression — key 4 (absent from source,
    // v=40 > 35) flips v to -1
    sql("""MERGE INTO lake.dim t USING lake.src s ON t.k = s.k
          |WHEN MATCHED AND CASE WHEN s.v > 35 THEN true ELSE false END THEN DELETE
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *
          |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = CASE WHEN v > 35 THEN -1.0 ELSE v END""".stripMargin)
    val rows = sql("SELECT k, v FROM lake.dim ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rows == Seq((1L, 10.0), (2L, 25.0), (3L, 30.0), (4L, -1.0)))
    // a MATCHED DELETE whose CASE condition FIRES removes the key
    Snapshots.commit(Seq((3L, 99.0)).toDF("k", "v"),
      Engine.tableDir(wh, "lake.src2"))
    sql("""MERGE INTO lake.dim t USING lake.src2 s ON t.k = s.k
          |WHEN MATCHED AND CASE WHEN s.v > 35 THEN true ELSE false END THEN DELETE
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(sql("SELECT k FROM lake.dim ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L, 4L))
  }

  test("relative time travel: FOR TIMESTAMP AS OF NOW() - INTERVAL resolves on the session clock") {
    import graft.sources.Snapshots
    import spark.implicits._
    val wh = TempDirs.scratch("graft-reltravel-spec")
    val t = s"$wh/tbl"
    def commitDistinct(df: org.apache.spark.sql.DataFrame): Long = {
      val v = Snapshots.commit(df, t)
      val ts = Snapshots.commitTimes(t)(v)
      while (System.currentTimeMillis() <= ts) Thread.sleep(1L)
      v
    }
    val v1 = commitDistinct(Seq((1L, "a")).toDF("k", "s"))
    val v2 = commitDistinct(Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    commitDistinct(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s"))
    def countAt(clause: String, nowMs: Long): Long = {
      sys.props("graft.now.millis") = nowMs.toString
      try Engine.sqlWarehouse(spark, wh,
        s"SELECT COUNT(*) AS n FROM tbl $clause").head().getLong(0)
      finally sys.props.remove("graft.now.millis")
    }
    val ts1 = Snapshots.commitTimes(t)(v1)
    val ts2 = Snapshots.commitTimes(t)(v2)
    // now - 1h lands between v1 and v2 -> v1; now - 0-interval = head
    assert(countAt("FOR TIMESTAMP AS OF NOW() - INTERVAL '1' HOUR",
      ts1 + 3600000L) == 1L)
    assert(countAt("FOR TIMESTAMP AS OF NOW() - INTERVAL '1' DAY",
      ts2 + 86400000L) == 2L)
    assert(countAt("FOR TIMESTAMP AS OF NOW()", ts2) == 2L)
    // bare NOW() on the real clock = head (the injected value IS now)
    assert(countAt("FOR TIMESTAMP AS OF NOW()",
      System.currentTimeMillis()) == 3L)
    // FOR-prefixed VERSION spelling; and both Trino forms compose with
    // the plain (non-FOR) spelling the facade always accepted
    assert(countAt("FOR VERSION AS OF 1", ts1) == 1L)
    assert(countAt("VERSION AS OF 2", ts1) == 2L)
    // an instant before the first snapshot fails loudly
    intercept[IllegalArgumentException] {
      countAt("FOR TIMESTAMP AS OF NOW() - INTERVAL '2' DAY", ts1 + 1000L)
    }
    // relative text inside a string literal is never rewritten
    val lit = Engine.sqlWarehouse(spark, wh,
      "SELECT 'tbl FOR TIMESTAMP AS OF NOW()' AS s FROM tbl").count()
    assert(lit == 3L)
  }

  test("DROP VIEW unregisters the session temp view (flat names must fail, not serve stale)") {
    import graft.sources.Snapshots
    import spark.implicits._
    val wh = TempDirs.scratch("graft-dropview-spec")
    Snapshots.commit(Seq((1L, 5.0), (2L, 7.0)).toDF("k", "x"), s"$wh/base")
    def sql(q: String) = Engine.sqlWarehouse(spark, wh, q)
    sql("CREATE VIEW flatv AS SELECT SUM(x) AS s FROM base")
    assert(sql("SELECT s FROM flatv").head().getDouble(0) == 12.0)
    sql("DROP VIEW flatv")
    // the undotted name was registered verbatim as a temp view — after
    // DROP it must be gone from the catalog, so the query fails loudly
    // instead of resolving the stale definition
    intercept[Exception] { sql("SELECT s FROM flatv").collect() }
    // dotted views keep failing loudly too (only the mangled name ever
    // existed); re-creating after a drop works
    sql("CREATE VIEW flatv AS SELECT COUNT(*) AS s FROM base")
    assert(sql("SELECT s FROM flatv").head().getLong(0) == 2L)
  }

  test("TBLPROPERTIES: latest-wins ledger, '' escapes round-trip, unknown UNSET loud; TRUNCATE travels and rejects MoR") {
    import graft.sources.{Snapshots, Transforms}
    import spark.implicits._
    val wh = TempDirs.scratch("graft-props-spec")
    Snapshots.commit(Seq((1L, "x"), (2L, "y")).toDF("k", "v"), s"$wh/t")
    def sql(q: String) = Engine.sqlWarehouse(spark, wh, q)
    // '' in a value unescapes to ' on write and re-escapes on SHOW CREATE
    sql("ALTER TABLE t SET TBLPROPERTIES ('comment' = 'it''s fine', 'a' = '1')")
    sql("ALTER TABLE t SET TBLPROPERTIES ('a' = '2')")
    val props = sql("SHOW TBLPROPERTIES t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props == Map("comment" -> "it's fine", "a" -> "2"))
    val created = sql("SHOW CREATE TABLE t").collect().map(_.getString(1))
    assert(created.contains("  'comment' = 'it''s fine')"),
      s"SHOW CREATE must re-escape the quote: ${created.mkString("|")}")
    // a keyword and a comma inside a quoted value must not split the pair list
    sql("ALTER TABLE t SET TBLPROPERTIES ('note' = 'SET a, UNSET b')")
    assert(sql("SHOW TBLPROPERTIES t").collect()
      .find(_.getString(0) == "note").get.getString(1) == "SET a, UNSET b")
    // unknown key: loud, and the ledger is untouched by the failed call
    intercept[IllegalArgumentException] {
      sql("ALTER TABLE t UNSET TBLPROPERTIES ('nope')")
    }
    sql("ALTER TABLE t UNSET TBLPROPERTIES ('a')")
    assert(!sql("SHOW TBLPROPERTIES t").collect().exists(_.getString(0) == "a"))

    // SHOW CREATE's partition clause: spec-evolved and single-spec sidecars
    val ev = s"$wh/ev"
    Transforms.create(ev, Seq(Transforms.Days("ts")))
    Transforms.evolve(ev, Seq(Transforms.Days("ts"), Transforms.MBucket(4, "k")))
    assert(Transforms.currentSpecShow(ev) == Seq("days(ts)", "mbucket(4, k)"))
    assert(Transforms.currentSpecShow(s"$wh/t").isEmpty)

    // TRUNCATE: empty head readable with the old schema, v1 travelable,
    // and the old version's data files untouched on disk
    sql("TRUNCATE TABLE t")
    assert(sql("SELECT * FROM t").collect().isEmpty)
    assert(sql("SELECT * FROM t").schema.fieldNames.toSeq == Seq("k", "v"))
    assert(sql("SELECT COUNT(*) AS n FROM t FOR VERSION AS OF 1")
      .head().getLong(0) == 2L)
    // MoR tables are rejected loudly (their delete surface is DELETE FROM)
    graft.sources.Mor.land(Seq((1L, "a")).toDF("id", "s"), s"$wh/m")
    intercept[IllegalArgumentException] { sql("TRUNCATE TABLE m") }
  }

  test("SHOW PARTITIONS answers from the $files sidecar; EXPLAIN plans travel without executing") {
    import graft.sources.Snapshots
    import spark.implicits._
    val wh = TempDirs.scratch("graft-showpart-spec")
    val df = Seq((1L, "a", 1.0), (2L, "a", 2.0), (3L, "b", 4.0))
      .toDF("k", "part", "v")
    val v = Snapshots.commitPartitioned(df, s"$wh/t", Seq("part"))
    Snapshots.writeFileStats(spark, s"$wh/t", v)
    def sql(q: String) = Engine.sqlWarehouse(spark, wh, q)
    val parts = sql("SHOW PARTITIONS t").collect()
      .map(r => (r.getAs[String]("partition"), r.getAs[Long]("record_count")))
    assert(parts.toSeq == Seq(("part=a", 2L), ("part=b", 1L)),
      s"unexpected partitions: ${parts.toSeq}")
    // EXPLAIN returns the resolved plan WITHOUT executing: a travel
    // clause must resolve (pinning the facade rewrite) and the text
    // must carry a physical scan node
    val plan = sql("EXPLAIN SELECT COUNT(*) AS n FROM t FOR VERSION AS OF 1")
      .collect().map(_.getString(1)).mkString("\n")
    assert(plan.contains("Physical Plan"), s"no physical plan in: $plan")
    assert(plan.toLowerCase.contains("scan"), "plan text carries no scan node")
    // malformed travel must still fail loudly through EXPLAIN
    intercept[Exception] {
      sql("EXPLAIN SELECT * FROM t FOR VERSION AS OF 99").collect()
    }
  }

  test("hidden-partition tables are catalog citizens: SELECT hides layout columns, DESCRIBE/SHOW TABLES see them") {
    import graft.sources.Transforms
    import spark.implicits._
    val wh = TempDirs.scratch("graft-hpcat")
    val t = s"$wh/ev"
    val rows = Seq((1L, "1995-01-05", 10.0), (2L, "1995-01-06", 20.0),
      (3L, "1995-02-01", 30.0))
      .toDF("k", "d", "v")
      .select(col("k"), col("d").cast("timestamp").as("d"), col("v"))
    Transforms.create(t, Seq(Transforms.Days("d")))
    Transforms.append(spark, t, rows)
    def sql(q: String) = Engine.sqlWarehouse(spark, wh, q)
    // listed next to the other stores
    assert(sql("SHOW TABLES").collect().exists(_.getString(1) == "ev"))
    // SELECT: all rows, NO __pv/__spec layout columns
    val got = sql("SELECT * FROM ev")
    assert(got.count() == 3L)
    assert(got.columns.toSet == Set("k", "d", "v"),
      s"layout columns leaked: ${got.columns.toSeq}")
    assert(sql("SELECT CAST(SUM(v) AS DOUBLE) AS s FROM ev").head().getDouble(0) == 60.0)
    // DESCRIBE shows only the logical columns
    assert(sql("DESCRIBE TABLE ev").collect().map(_.getString(1)).toSeq
      == Seq("k", "d", "v"))
    // spec evolution shows up in SHOW CREATE's partition clause
    Transforms.evolve(t, Seq(Transforms.Days("d"), Transforms.MBucket(2, "k")))
    val created = sql("SHOW CREATE TABLE ev").collect().map(_.getString(1))
    assert(created.contains("PARTITIONED BY (days(d), mbucket(2, k))"),
      s"missing/incorrect partition clause: ${created.mkString("|")}")
  }

  test("q125 delta-join maintenance equals the from-scratch join; the mart advanced exactly one version") {
    val got = Warehouse.q125JoinIvm(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1),
        BigDecimal(r.getDouble(2)).setScale(2, BigDecimal.RoundingMode.HALF_UP)))
    val want = Tables(spark, sf, "orders")
      .join(Tables(spark, sf, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("m"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).as("rev"))
      .orderBy(col("m")).collect()
      .map(r => (r.getString(0), r.getLong(1),
        BigDecimal(r.getDecimal(2).doubleValue)
          .setScale(2, BigDecimal.RoundingMode.HALF_UP)))
    assert(got.toSeq == want.toSeq,
      "incrementally-maintained join mart diverged from the full rejoin")
    // the fixture's delta must be non-trivial (1995-07+ inserts exist
    // on both sides) or the algebra was never exercised
    val cutoff = lit("1995-07-01").cast("timestamp")
    assert(Tables(spark, sf, "orders")
      .filter(col("o_orderdate") >= cutoff).count() > 0)
    assert(Tables(spark, sf, "lineitem")
      .filter(col("l_shipdate") >= cutoff).count() > 0)
  }

  test("Ivm.maintain treats a NULL group key as ONE group (SQL GROUP BY semantics)") {
    import spark.implicits._
    import graft.operators.Ivm
    val base = Seq((Option("a"), 1L, 10.0), (None, 2L, 20.0), (None, 3L, 5.0))
      .toDF("g", "k", "v")
    val mat = base.groupBy("g").agg(
      count(lit(1)).as("n"), sum(col("v").cast("decimal(18,2)")).as("sv"))
    val newRows = Seq((None: Option[String], 4L, 7.0)).toDF("g", "k", "v")
    val got = Ivm.maintain(mat, newRows.limit(0), newRows, Seq("g"), "n", Seq("v" -> "sv"))
      .orderBy(asc_nulls_first("g")).collect()
      .map(r => (Option(r.getString(0)), r.getLong(1), r.getDecimal(2).doubleValue))
    assert(got.toSeq == Seq((None, 3L, 32.0), (Some("a"), 1L, 10.0)))
  }

  test("WRITE ORDERED BY: post-DDL inserts cluster (files prune), SHOW CREATE round-trips, UNORDERED drops it") {
    val wh = graft.TempDirs.scratch("spec-wordered")
    graft.sources.Snapshots.commit(
      Tables(spark, sf, "orders").select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice")),
      graft.Engine.tableDir(wh, "sales.orders"))
    def sql(q: String) = graft.Engine.sqlWarehouse(spark, wh, q)
    val t = graft.Engine.tableDir(wh, "m.ord")
    sql("""CREATE TABLE m.ord AS
          |SELECT o_orderkey, o_custkey, o_totalprice
          |FROM sales.orders WHERE o_orderkey % 2 = 0""".stripMargin)
    // unknown column rejected loudly
    val err = intercept[IllegalArgumentException] {
      sql("ALTER TABLE m.ord WRITE ORDERED BY (nope)")
    }
    assert(err.getMessage.contains("unknown column"))
    sql("ALTER TABLE m.ord WRITE ORDERED BY (o_custkey)")
    sql("""INSERT INTO m.ord
          |SELECT o_orderkey, o_custkey, o_totalprice
          |FROM sales.orders WHERE o_orderkey % 2 = 1""".stripMargin)
    def boundsOf(commit: Long) = spark.read.parquet(s"$t/c=$commit")
      .groupBy(input_file_name().as("f"))
      .agg(min(col("o_custkey")).as("lo"), max(col("o_custkey")).as("hi"))
      .collect()
    val post = boundsOf(2L)
    val hit = post.count(r => !r.isNullAt(1) &&
      r.getLong(2) >= 100L && r.getLong(1) <= 199L)
    assert(post.length > 1, s"ordered insert landed ${post.length} file(s)")
    assert(hit < post.length,
      s"custkey range hit all ${post.length} files — write order not applied")
    // the INSERT lost nothing
    val n = sql("SELECT COUNT(*) AS n FROM m.ord").collect().head.getLong(0)
    assert(n == Tables(spark, sf, "orders").count())
    // SHOW CREATE carries the clause as DDL, not as a TBLPROPERTIES line
    val lines = sql("SHOW CREATE TABLE m.ord").collect().map(_.getString(1))
    assert(lines.exists(_.trim == "WRITE ORDERED BY (o_custkey)"), lines.mkString("\n"))
    assert(!lines.exists(_.contains("write.sort-order")), lines.mkString("\n"))
    // WRITE UNORDERED drops it; SHOW CREATE loses the clause
    sql("ALTER TABLE m.ord WRITE UNORDERED")
    val after = sql("SHOW CREATE TABLE m.ord").collect().map(_.getString(1))
    assert(!after.exists(_.contains("WRITE ORDERED BY")), after.mkString("\n"))
  }

  test("WRITE ZORDERED BY: post-DDL inserts prune on BOTH columns; round-trips; type-checked") {
    val wh = graft.TempDirs.scratch("spec-wzorder")
    graft.sources.Snapshots.commit(
      Tables(spark, sf, "lineitem").select(col("l_orderkey"), col("l_partkey"),
        col("l_quantity"), col("l_returnflag")),
      graft.Engine.tableDir(wh, "sales.lineitem"))
    def sql(q: String) = graft.Engine.sqlWarehouse(spark, wh, q)
    val t = graft.Engine.tableDir(wh, "m.li")
    sql("""CREATE TABLE m.li AS
          |SELECT l_orderkey, l_partkey, l_quantity, l_returnflag
          |FROM sales.lineitem WHERE l_orderkey % 2 = 0""".stripMargin)
    // non-BIGINT column rejected loudly
    val err = intercept[IllegalArgumentException] {
      sql("ALTER TABLE m.li WRITE ZORDERED BY (l_orderkey, l_returnflag)")
    }
    assert(err.getMessage.contains("BIGINT"))
    sql("ALTER TABLE m.li WRITE ZORDERED BY (l_orderkey, l_partkey)")
    sql("""INSERT INTO m.li
          |SELECT l_orderkey, l_partkey, l_quantity, l_returnflag
          |FROM sales.lineitem WHERE l_orderkey % 2 = 1""".stripMargin)
    // the post-DDL commit must prune on EACH dimension independently
    def hitFrac(c: String, lo: Long, hi: Long): (Int, Int) = {
      val rows = spark.read.parquet(s"$t/c=2")
        .groupBy(input_file_name().as("f"))
        .agg(min(col(c)).as("lo"), max(col(c)).as("hi"))
        .collect()
      (rows.count(r => !r.isNullAt(1) &&
        r.getLong(2) >= lo && r.getLong(1) <= hi), rows.length)
    }
    val okDomain = Tables(spark, sf, "lineitem")
      .agg(max(col("l_orderkey")), max(col("l_partkey"))).head()
    val (okHi, pkHi) = (okDomain.getLong(0), okDomain.getLong(1))
    val (hitOk, totOk) = hitFrac("l_orderkey", 1L, okHi / 8)
    val (hitPk, totPk) = hitFrac("l_partkey", 1L, pkHi / 8)
    assert(totOk > 3, s"z-ordered insert landed only $totOk files")
    assert(hitOk < totOk, s"orderkey range hit all $totOk files")
    assert(hitPk < totPk, s"partkey range hit all $totPk files")
    val lines = sql("SHOW CREATE TABLE m.li").collect().map(_.getString(1))
    assert(lines.exists(_.trim == "WRITE ZORDERED BY (l_orderkey, l_partkey)"),
      lines.mkString("\n"))
  }

  test("q51 pruned mart equals the same month computed from the raw table") {
    val viaLanded = SparkEntry.queries("q51_partitioned_scan")(spark, sf)
      .collect().map(_.toSeq.map(String.valueOf))
    val raw = Tables(spark, sf, "orders")
      .filter(date_format(col("o_orderdate"), "yyyy-MM") === Warehouse.Q51Month)
      .groupBy(to_date(col("o_orderdate")).as("order_date"))
      .agg(count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_customers"),
        graft.functions.Exact.dsum(col("o_totalprice")).as("revenue"))
      .withColumn("o_month", lit(Warehouse.Q51Month))
      .select("o_month", "order_date", "n_orders", "n_customers", "revenue")
      .orderBy("order_date")
      .collect().map(_.toSeq.map(String.valueOf))
    assert(viaLanded.toSeq.map(_.mkString("|")) == raw.toSeq.map(_.mkString("|")))
  }
}
