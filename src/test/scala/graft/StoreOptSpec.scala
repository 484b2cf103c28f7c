package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** r10 optimization invariants: driver-local commits land one file,
  * footer-derived column stats equal the aggregate they replaced
  * (nulls and partition dirs included), and the facade registration
  * memo invalidates on table change.
  */
class StoreOptSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder().master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def parquetFiles(dir: String): Seq[java.nio.file.Path] = {
    val w = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try {
      import scala.jdk.CollectionConverters._
      w.iterator().asScala.filter(p =>
        java.nio.file.Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet")).toSeq
    } finally w.close()
  }

  test("a driver-local commit writes exactly one data file") {
    import spark.implicits._
    val t = TempDirs.scratch("graft-storeopt") + "/local"
    val v = graft.sources.Snapshots.commit(
      (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v"), t)
    assert(parquetFiles(s"$t/v=$v").size == 1)
    assert(graft.sources.Snapshots.read(spark, t).count() == 100)
  }

  test("footer column stats equal the data aggregate, nulls included") {
    import graft.sources.Snapshots
    val t = TempDirs.scratch("graft-storeopt") + "/stats"
    // 3 distributed files, one value range per file, k2 all-null in
    // one range — exercises the footer path's null convention
    val df = spark.range(0, 300, 1, 3).select(
      col("id").as("k"),
      when(col("id") < 100, lit(null).cast("long"))
        .otherwise(col("id") * 2).as("k2"))
    val v = Snapshots.commit(df, t)
    Snapshots.writeColStats(spark, t, v, Seq("k", "k2"))
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(t, s"v=$v", "_colstats.tsv"))
    import scala.jdk.CollectionConverters._
    val byFileCol = lines.asScala.filter(_.nonEmpty).map(_.split('\t'))
      .map(a => (a(0), a(1)) -> (a(2).toLong, a(3).toLong)).toMap
    // recompute the same bounds from the data (the replaced aggregate)
    val expect = spark.read.parquet(s"$t/v=$v")
      .groupBy(input_file_name().as("f"))
      .agg(min(col("k")).as("mnk"), max(col("k")).as("mxk"),
        min(col("k2")).as("mn2"), max(col("k2")).as("mx2"))
      .collect()
    assert(expect.nonEmpty)
    expect.foreach { r =>
      val name = r.getString(0).split('/').last
      assert(byFileCol((name, "k")) == (r.getLong(1), r.getLong(2)))
      val want =
        if (r.isNullAt(3)) (0L, 0L) else (r.getLong(3), r.getLong(4))
      assert(byFileCol((name, "k2")) == want)
    }
  }

  test("date-column pruned read: footer bounds, exact parity, files skipped") {
    import graft.sources.Snapshots
    val t = TempDirs.scratch("graft-storeopt") + "/dates"
    // 4 distributed files, one month-ish range per file
    val df = spark.range(0, 400, 1, 4).select(
      col("id").as("k"),
      expr("DATE_FROM_UNIX_DATE(CAST(19000 + id AS INT))").as("d"))
    val v = Snapshots.commit(df, t)
    val (pruned, kept, total) = Snapshots.readPruned(spark, t, "d",
      19100L, 19199L, v)
    assert(total == 4 && kept == 1) // range-clustered input: 1 file overlaps
    val exact = Snapshots.read(spark, t, v)
      .filter(col("d").between(expr("DATE_FROM_UNIX_DATE(19100)"),
        expr("DATE_FROM_UNIX_DATE(19199)")))
    assert(pruned.count() == 100 && exact.count() == 100)
    assert(pruned.agg(min(col("k")), max(col("k"))).head() ==
      exact.agg(min(col("k")), max(col("k"))).head())
    // sidecar bounds are day ordinals readable as longs
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(t, s"v=$v", "_colstats.tsv"))
    import scala.jdk.CollectionConverters._
    assert(lines.asScala.filter(_.nonEmpty).forall { l =>
      val a = l.split('\t'); a(2).toLong >= 19000L && a(3).toLong < 19400L
    })
  }

  test("partition-column stats fall back instead of fabricating bounds") {
    import graft.sources.Snapshots
    val t = TempDirs.scratch("graft-storeopt") + "/partstats"
    // hive-partitioned snapshot: `p` lives in the DIRECTORY, not in the
    // data files' footers — the footer fast path must not invent (0,0)
    val df = spark.range(0, 90, 1, 3).select(
      col("id").as("k"), (col("id") % 3).as("p"))
    val v = Snapshots.commitPartitioned(df, t, Seq("p"))
    val (pruned, kept, total) = Snapshots.readPruned(spark, t, "p", 2L, 2L, v)
    assert(kept >= 1 && kept < total) // pruning still works via aggregate
    assert(pruned.count() == 30)
    assert(pruned.agg(min(col("k")), max(col("k"))).head().toSeq ==
      Seq(2L, 89L))
  }

  test("SHOW TABLES does not write a stats sidecar") {
    import graft.sources.Snapshots
    import spark.implicits._
    val wh = TempDirs.scratch("graft-storeopt-showro")
    val t = s"$wh/tro"
    val v = Snapshots.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t)
    val s = spark.newSession()
    val row = Engine.sqlWarehouse(s, wh, "SHOW TABLES")
      .filter(col("table_name") === "tro").head()
    assert(row.getAs[Long]("latest_rows") == 2L)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(t, s"v=$v", "_filestats.tsv")))
  }

  test("view-definition memo re-resolves after a table commit") {
    import graft.sources.Snapshots
    import spark.implicits._
    val wh = TempDirs.scratch("graft-storeopt-viewmemo")
    val t = s"$wh/vt"
    Snapshots.commit(Seq((1L, 10L)).toDF("k", "x"), t)
    val s = spark.newSession()
    Engine.sqlWarehouse(s, wh, "CREATE VIEW vsum AS SELECT SUM(x) AS sx FROM vt")
    assert(Engine.sqlWarehouse(s, wh, "SELECT sx FROM vsum")
      .head().getLong(0) == 10L)
    // memo hit: identical statement, nothing changed
    assert(Engine.sqlWarehouse(s, wh, "SELECT sx FROM vsum")
      .head().getLong(0) == 10L)
    Snapshots.commit(Seq((1L, 10L), (2L, 32L)).toDF("k", "x"), t)
    // table fingerprint moved: the VIEW must re-resolve, not serve v1
    assert(Engine.sqlWarehouse(s, wh, "SELECT sx FROM vsum")
      .head().getLong(0) == 42L)
    Engine.sqlWarehouse(s, wh, "DROP VIEW vsum")
    intercept[Exception] {
      Engine.sqlWarehouse(s, wh, "SELECT sx FROM vsum").collect()
    }
  }

  test("Engine.open invalidates the warehouse registration memo") {
    import graft.sources.Snapshots
    import spark.implicits._
    val wh = TempDirs.scratch("graft-storeopt-openinv")
    // warehouse table named like a testdata table
    Snapshots.commit(Seq((1L, "wh")).toDF("k", "src"), s"$wh/orders")
    val s = spark.newSession()
    assert(Engine.sqlWarehouse(s, wh, "SELECT COUNT(*) AS n FROM orders")
      .head().getLong(0) == 1L)
    // open() overwrites 'orders' with the testdata view out-of-band
    Engine.open(s, "/root/testdata/sf0.001")
    // the next openWarehouse must re-register, not serve testdata
    assert(Engine.sqlWarehouse(s, wh, "SELECT COUNT(*) AS n FROM orders")
      .head().getLong(0) == 1L)
  }

  test("registration memo refreshes the view after a new commit") {
    import graft.sources.Snapshots
    import spark.implicits._
    val wh = TempDirs.scratch("graft-storeopt-wh")
    val t = s"$wh/tbl"
    Snapshots.commit(Seq((1L, "a")).toDF("k", "v"), t)
    val s = spark.newSession()
    assert(Engine.sqlWarehouse(s, wh, "SELECT COUNT(*) AS n FROM tbl")
      .head().getLong(0) == 1L)
    // second statement on the same session rides the memo
    assert(Engine.sqlWarehouse(s, wh, "SELECT COUNT(*) AS n FROM tbl")
      .head().getLong(0) == 1L)
    Snapshots.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t)
    // fingerprint changed: the view must re-register, not serve v1
    assert(Engine.sqlWarehouse(s, wh, "SELECT COUNT(*) AS n FROM tbl")
      .head().getLong(0) == 2L)
  }

  // ---- Overlap (concurrent independent jobs, r11) --------------------

  test("Overlap rethrows the failing action's own exception") {
    // st26's in-stream gate proof catches IllegalStateException from a
    // commitChecked running inside Overlap.pair — the pool's
    // ExecutionException wrapper must never leak to call sites
    val e = intercept[IllegalStateException] {
      Overlap.pair(1 + 1, throw new IllegalStateException("boom"))
    }
    assert(e.getMessage == "boom")
    // and results come back in submission order
    assert(Overlap.jobs(Seq(1, 2, 3))(_ * 10) == Seq(10, 20, 30))
  }

  test("Overlap leaves no action running or queued once it has thrown") {
    // a failed Runner level must not keep committing siblings behind
    // the caller's back: queued items are cancelled, running ones are
    // waited for before the exception surfaces
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    intercept[IllegalStateException] {
      Overlap.jobs(Seq(0, 1, 2, 3), maxThreads = 2) { i =>
        if (i == 0) throw new IllegalStateException("boom")
        Thread.sleep(200)
        done.incrementAndGet()
      }
    }
    val atThrow = done.get()
    Thread.sleep(500)
    assert(done.get() == atThrow)
  }

  test("concurrently-staged commitTxn lands both tables atomically") {
    import graft.sources.Snapshots
    import spark.implicits._
    val wh = TempDirs.scratch("graft-storeopt-txn2")
    val (a, b) = (s"$wh/ta", s"$wh/tb")
    val va = Snapshots.commit(Seq(0L).toDF("x"), a)
    val vb = Snapshots.commit(Seq(0L).toDF("x"), b)
    val got = Snapshots.commitTxn(wh,
      Seq((Seq(1L, 2L).toDF("x"), a), (Seq(3L).toDF("x"), b)), "txn-ovl")
    assert(got == Seq(va + 1, vb + 1))
    assert(Snapshots.read(spark, a).count() == 2L)
    assert(Snapshots.read(spark, b).count() == 1L)
    // replay: recorded versions back, nothing written
    assert(Snapshots.commitTxn(wh,
      Seq((Seq(9L).toDF("x"), a), (Seq(9L).toDF("x"), b)), "txn-ovl") == got)
    assert(Snapshots.versions(a).size == 2 && Snapshots.versions(b).size == 2)
  }
}
