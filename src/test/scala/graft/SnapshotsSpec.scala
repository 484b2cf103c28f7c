package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Snapshots

/** Time travel, snapshot isolation, schema evolution, changelog diff. */
class SnapshotsSpec extends AnyFunSuite {
  import TestSession._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-snap").toString

  test("commit/read round-trip with time travel across versions") {
    val dir = tmp()
    val v1data = Tables(spark, sf, "nation").filter(col("n_nationkey") < 10)
    val v1 = Snapshots.commit(v1data, dir)
    val v2 = Snapshots.commit(Tables(spark, sf, "nation"), dir)
    assert(Snapshots.versions(dir) == Seq(v1, v2))
    assert(Snapshots.read(spark, dir, v1).count() == v1data.count())
    assert(Snapshots.read(spark, dir).count() ==
      Tables(spark, sf, "nation").count()) // latest
    intercept[IllegalArgumentException](Snapshots.read(spark, dir, 99L))
  }

  test("purge removes the subject from every version, leaves the rest intact") {
    val dir = s"${tmp()}/t"
    val nat = Tables(spark, sf, "nation")
    val v1 = Snapshots.commit(nat.filter(col("n_nationkey") < 10), dir)
    val v2 = Snapshots.commit(nat, dir, tag = Some("full-load"))
    val preOther = Snapshots.read(spark, dir, v2)
      .filter(col("n_nationkey") =!= 3)
      .collect().map(_.toString).sorted.toSeq
    val hits = Snapshots.purge(spark, dir, col("n_nationkey") === 3)
    assert(hits == Map(v1 -> 1L, v2 -> 1L))
    // subject gone from EVERY version, including via time travel
    Seq(v1, v2).foreach { v =>
      assert(Snapshots.read(spark, dir, v)
        .filter(col("n_nationkey") === 3).count() == 0)
    }
    // everything else byte-identical; versions and tags survive
    assert(Snapshots.read(spark, dir, v2)
      .collect().map(_.toString).sorted.toSeq == preOther)
    assert(Snapshots.versions(dir) == Seq(v1, v2))
    assert(Snapshots.committedTags(dir).contains("full-load"))
    // idempotent: a second purge finds nothing
    assert(Snapshots.purge(spark, dir, col("n_nationkey") === 3)
      .values.forall(_ == 0L))
  }

  test("schema evolution: later snapshots may add columns") {
    val dir = tmp()
    val base = Tables(spark, sf, "region")
    Snapshots.commit(base, dir)
    Snapshots.commit(base.withColumn("r_comment", lit("added")), dir)
    assert(!Snapshots.read(spark, dir, 1L).columns.contains("r_comment"))
    assert(Snapshots.read(spark, dir).columns.contains("r_comment"))
  }

  test("merge commits an upserted snapshot and keeps history") {
    val dir = tmp()
    val base = Tables(spark, sf, "region")
    Snapshots.commit(base, dir)
    val updates = base.filter(col("r_regionkey") === 0)
      .withColumn("r_name", lit("PATCHED"))
      .unionByName(spark.range(99, 100).select(
        col("id").cast("int").as("r_regionkey"), lit("NEW").as("r_name")))
    val v = Snapshots.merge(spark, dir, updates, Seq("r_regionkey"))
    val latest = Snapshots.read(spark, dir).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(latest(0) == "PATCHED" && latest(99) == "NEW")
    assert(latest.size == base.count() + 1)
    // history intact: v1 still has the original row
    assert(Snapshots.read(spark, dir, v - 1).filter(col("r_regionkey") === 0)
      .head().getString(1) != "PATCHED")
  }

  test("column mapping: rename is metadata-only, travel keeps old names, merge resolves by id, drop + rollback compose") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val dir = tmp() + "/cm"
    Snapshots.commit(Seq((1L, 10.0, "a"), (2L, 20.0, "b"))
      .toDF("k", "amount", "note"), dir) // v1
    def dataState(v: Long) = {
      val w = Files.walk(Paths.get(dir, s"v=$v"))
      try w.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => (p.toString, Files.size(p), Files.getLastModifiedTime(p)))
        .toSeq.sortBy(_._1)
      finally w.close()
    }
    val before = dataState(1L)
    Snapshots.renameColumn(dir, "amount", "price")
    assert(dataState(1L) == before, "rename must not touch data files")
    // current view serves the new name over the OLD physical files
    assert(Snapshots.read(spark, dir).columns.toSeq == Seq("k", "price", "note"))
    assert(Snapshots.read(spark, dir).agg(sum("price")).head.getDouble(0) == 30.0)
    // explicit-version travel keeps the snapshot's own schema
    assert(Snapshots.read(spark, dir, 1L).columns.contains("amount"))
    // merge AFTER the rename uses the new name; the key keeps its id
    Snapshots.merge(spark, dir,
      Seq((2L, 25.0, "b2"), (3L, 30.0, "c")).toDF("k", "price", "note"),
      Seq("k")) // v2
    val m = Snapshots.read(spark, dir).orderBy("k")
      .select("k", "price").as[(Long, Double)].collect().toSeq
    assert(m == Seq((1L, 10.0), (2L, 25.0), (3L, 30.0)))
    // drop is metadata-only too: current view omits, v2 travel keeps
    Snapshots.dropColumn(dir, "note")
    assert(Snapshots.read(spark, dir).columns.toSeq == Seq("k", "price"))
    assert(Snapshots.read(spark, dir, 2L).columns.contains("note"))
    // a column added after v1 null-fills when v1's files serve the
    // current view via rollback (id never reused)
    Snapshots.commit(Snapshots.read(spark, dir)
      .withColumn("flag", lit(true)), dir) // v3: adds 'flag'
    val rb = Snapshots.rollback(dir, 1L) // links v1's files
    val cur = Snapshots.read(spark, dir)
    assert(cur.columns.toSeq == Seq("k", "price", "flag"))
    assert(cur.filter(col("flag").isNull).count() == 2L,
      s"rollback view must null-fill the later column (v$rb)")
  }

  test("type promotion: widen is metadata-only, travel keeps the narrow type, narrowing commits and illegal promotions rejected") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types._
    import spark.implicits._
    val dir = tmp() + "/ty"
    Snapshots.commit(Seq((1L, 10), (2L, 20)).toDF("k", "units"), dir) // v1 INT
    def dataState() = {
      val w = Files.walk(Paths.get(dir, "v=1"))
      try w.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => (p.toString, Files.size(p), Files.getLastModifiedTime(p)))
        .toSeq.sortBy(_._1)
      finally w.close()
    }
    val before = dataState()
    Snapshots.widenColumn(dir, "units", LongType)
    assert(dataState() == before, "widen must not touch data files")
    // current view: v1's int files served as bigint, values intact
    val cur = Snapshots.read(spark, dir)
    assert(cur.schema("units").dataType == LongType)
    assert(cur.orderBy("k").select("units").as[Long].collect().toSeq ==
      Seq(10L, 20L))
    // explicit-version travel keeps the write-time int
    assert(Snapshots.read(spark, dir, 1L).schema("units").dataType == IntegerType)
    // a commit arriving NARROWER than the table type is rejected
    val e = intercept[IllegalArgumentException](
      Snapshots.commit(Seq((3L, 30)).toDF("k", "units"), dir))
    assert(e.getMessage.contains("cast it"))
    // ...and a properly-cast bigint commit lands and reads back
    Snapshots.commit(Seq((3L, 5000000000L)).toDF("k", "units"), dir)
    assert(Snapshots.read(spark, dir).agg(max("units")).head.getLong(0) ==
      5000000000L)
    // narrowing/incompatible promotions are illegal
    intercept[IllegalArgumentException](
      Snapshots.widenColumn(dir, "units", IntegerType))
    intercept[IllegalArgumentException](
      Snapshots.widenColumn(dir, "units", StringType))
  }

  test("streaming ingestion commits micro-batches as snapshots") {
    val dir = tmp() + "/ingested"
    val stream = graft.streaming.EventStream.eventsStream(spark, sf)
    val q = graft.streaming.SnapshotSink.ingest(stream, dir)
    try q.processAllAvailable() finally q.stop()
    assert(Snapshots.versions(dir).nonEmpty)
    val total = Snapshots.versions(dir)
      .map(v => Snapshots.read(spark, dir, v).count()).sum
    assert(total == Tables(spark, sf, "events").count())
  }

  test("streaming sink maintenance: coalesced files + inline retention") {
    val dir = tmp() + "/maintained"
    val stream = spark.readStream
      .schema(graft.streaming.EventStream.rawEventsSchema(spark, sf))
      .option("pathGlobFilter", "events.parquet")
      .option("maxFilesPerTrigger", "1")
      .parquet(sf)
    val q = graft.streaming.SnapshotSink.ingest(stream, dir,
      filesPerBatch = 1, retainVersions = 2)
    try q.processAllAvailable() finally q.stop()
    val vs = Snapshots.versions(dir)
    assert(vs.nonEmpty && vs.length <= 2)
    vs.foreach { v =>
      val files = java.nio.file.Files.list(java.nio.file.Paths.get(dir, s"v=$v")).iterator()
      val parquets = scala.jdk.CollectionConverters.IteratorHasAsScala(files).asScala
        .count(_.getFileName.toString.endsWith(".parquet"))
      assert(parquets == 1, s"v=$v has $parquets files, expected 1")
    }
  }

  test("same-tag commits are idempotent even without the caller's pre-check") {
    val dir = tmp()
    val base = Tables(spark, sf, "region")
    val v1 = Snapshots.commit(base, dir, tag = Some("batch=7"))
    // a zombie writer that skipped the fast-path check and committed
    // anyway: the in-lock re-check must return the existing version
    val v2 = Snapshots.commit(base.withColumn("x", lit(1)), dir, tag = Some("batch=7"))
    assert(v1 == v2)
    assert(Snapshots.versions(dir) == Seq(v1))
    // the doomed write left only a vacuumable orphan
    assert(Snapshots.vacuumOrphans(dir, minAgeMs = 0L).nonEmpty)
  }

  test("concurrent merges never silently drop each other's updates") {
    val dir = tmp()
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    Snapshots.commit(Seq((1, "a"), (2, "b")).toDF("k", "s"), dir)
    val merges = (1 to 4).map(i => Future {
      Snapshots.merge(spark, dir, Seq((100 + i, s"m$i")).toDF("k", "s"), Seq("k"))
    })
    Await.result(Future.sequence(merges), 3.minutes)
    val latest = Snapshots.read(spark, dir).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    // optimistic retry: ALL four merged keys must survive in the head
    assert((1 to 4).forall(i => latest.get(100 + i).contains(s"m$i")), latest.toString)
    assert(latest(1) == "a" && latest(2) == "b")
  }

  test("timestamp time travel: readAsOf resolves the snapshot live at that instant") {
    val dir = tmp()
    import spark.implicits._
    Snapshots.commit(Seq((1, "v1")).toDF("k", "v"), dir)
    Thread.sleep(15)
    val between = System.currentTimeMillis()
    Thread.sleep(15)
    Snapshots.commit(Seq((1, "v2")).toDF("k", "v"), dir)
    def vAt(ts: Long): String =
      Snapshots.readAsOf(spark, dir, ts).collect().head.getString(1)
    assert(vAt(between) == "v1")
    assert(vAt(System.currentTimeMillis()) == "v2")
    val tooEarly = Snapshots.commitTimes(dir).values.min - 1
    val e = intercept[IllegalArgumentException](
      Snapshots.readAsOf(spark, dir, tooEarly))
    assert(e.getMessage.contains("no snapshot"))
  }

  test("diff is unambiguous when values contain the separator bytes") {
    val dir = tmp()
    import spark.implicits._
    // ("x\\u0000y", "z") vs ("x", "y\\u0000z"): an unescaped
    // concat would produce the same joined string for both rows
    Snapshots.commit(Seq((1, "x\u0000y", "z")).toDF("k", "a", "b"), dir)
    Snapshots.commit(Seq((1, "x", "y\u0000z")).toDF("k", "a", "b"), dir)
    val ops = Snapshots.diff(spark, dir, 1L, 2L, Seq("k"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(ops.get(1).contains("update"))
    // and a literal escape-char value is not mistaken for NULL
    val dir2 = tmp()
    Snapshots.commit(Seq((1, Option("\u0001<null>"))).toDF("k", "a"), dir2)
    Snapshots.commit(Seq((1, Option.empty[String])).toDF("k", "a"), dir2)
    val ops2 = Snapshots.diff(spark, dir2, 1L, 2L, Seq("k"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(ops2.get(1).contains("update"))
  }

  test("diff distinguishes rows that differ only in WHICH column is null") {
    val dir = tmp()
    import spark.implicits._
    // (x, NULL) vs (NULL, x): a null-skipping concat would hash both
    // sides identically and miss the update.
    Snapshots.commit(Seq((1, Option("x"), Option.empty[String]))
      .toDF("k", "a", "b"), dir)
    Snapshots.commit(Seq((1, Option.empty[String], Option("x")))
      .toDF("k", "a", "b"), dir)
    val ops = Snapshots.diff(spark, dir, 1L, 2L, Seq("k"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(ops(1) == "update")
  }

  test("tagged commits are an idempotency ledger for at-least-once writers") {
    val dir = tmp()
    val base = Tables(spark, sf, "region")
    Snapshots.commit(base, dir, tag = Some("batch=0"))
    assert(Snapshots.committedTags(dir) == Set("batch=0"))
    // a replaying writer consults the ledger and skips
    if (!Snapshots.committedTags(dir).contains("batch=0"))
      Snapshots.commit(base, dir, tag = Some("batch=0"))
    assert(Snapshots.versions(dir) == Seq(1L))
    intercept[IllegalArgumentException](
      Snapshots.commit(base, dir, tag = Some("bad\ttag")))
  }

  test("commit tags survive snapshot expiry (replay after retention is still skipped)") {
    val dir = tmp()
    val base = Tables(spark, sf, "region")
    (0 to 3).foreach(i =>
      Snapshots.commit(base.withColumn("gen", lit(i)), dir, tag = Some(s"batch=$i")))
    // retention trims batch=0/1 out of the manifest...
    assert(Snapshots.expireSnapshots(dir, keep = 2) == Seq(1L, 2L))
    // ...but the tag ledger still remembers them
    assert(Snapshots.committedTags(dir) ==
      Set("batch=0", "batch=1", "batch=2", "batch=3"))
    // a zombie writer replaying the expired batch gets the original
    // version id back and commits NOTHING new
    val v = Snapshots.commit(base.withColumn("gen", lit(0)), dir, tag = Some("batch=0"))
    assert(v == 1L)
    assert(Snapshots.versions(dir) == Seq(3L, 4L))
    assert(Snapshots.read(spark, dir).agg(max(col("gen"))).head.getInt(0) == 3)
  }

  test("merge on an uninitialized table fails with a clear message") {
    val dir = tmp()
    import spark.implicits._
    val e = intercept[IllegalArgumentException](
      Snapshots.merge(spark, dir, Seq((1, "a")).toDF("k", "s"), Seq("k")))
    assert(e.getMessage.contains("no snapshots"))
  }

  test("concurrent committers never clobber or duplicate a version") {
    val dir = tmp()
    val base = Tables(spark, sf, "region")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val vs = Await.result(
      Future.sequence((1 to 4).map(i =>
        Future(Snapshots.commit(base.withColumn("writer", lit(i)), dir)))),
      2.minutes)
    assert(vs.toSet.size == 4) // distinct version ids
    assert(Snapshots.versions(dir) == vs.sorted)
    vs.foreach(v => assert(Snapshots.read(spark, dir, v).count() == base.count()))
  }

  test("merge deleteWhen applies CDC tombstones storage-side") {
    val dir = tmp()
    import spark.implicits._
    Snapshots.commit(Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "s"), dir)
    val updates = Seq((2, "__DEL__"), (3, "C2"), (4, "d")).toDF("k", "s")
    Snapshots.merge(spark, dir, updates, Seq("k"),
      deleteWhen = Some(col("s") === "__DEL__"))
    val latest = Snapshots.read(spark, dir).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(latest == Map(1 -> "a", 3 -> "C2", 4 -> "d"))
    // pre-delete history intact
    assert(Snapshots.read(spark, dir, 1L).count() == 3)
  }

  test("expireSnapshots trims history, keeps latest reads working") {
    val dir = tmp()
    val base = Tables(spark, sf, "region")
    (1 to 4).foreach(i => Snapshots.commit(base.withColumn("gen", lit(i)), dir))
    val expired = Snapshots.expireSnapshots(dir, keep = 2)
    assert(expired == Seq(1L, 2L))
    assert(Snapshots.versions(dir) == Seq(3L, 4L))
    assert(Snapshots.read(spark, dir).agg(max(col("gen"))).head.getInt(0) == 4)
    // expired data directories are gone; kept ones remain
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "v=1")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "v=3")))
    intercept[IllegalArgumentException](Snapshots.read(spark, dir, 1L))
  }

  test("vacuumOrphans removes only old unmanifested directories") {
    val dir = tmp()
    val base = Tables(spark, sf, "region")
    Snapshots.commit(base, dir)
    // fake a crashed commit: reserved + written, never manifested
    val orphan = java.nio.file.Paths.get(dir, "v=7")
    java.nio.file.Files.createDirectories(orphan)
    java.nio.file.Files.write(orphan.resolve("part-0.parquet"), Array[Byte](1, 2))
    assert(Snapshots.vacuumOrphans(dir).isEmpty) // too young with default age
    assert(Snapshots.vacuumOrphans(dir, minAgeMs = 0L) == Seq(7L))
    assert(!java.nio.file.Files.exists(orphan))
    assert(Snapshots.versions(dir) == Seq(1L)) // committed data untouched
    assert(Snapshots.read(spark, dir).count() == base.count())
  }

  test("compactLatest rewrites the head snapshot into fewer files") {
    val dir = tmp()
    val base = Tables(spark, sf, "region").repartition(8)
    Snapshots.commit(base, dir)
    val v = Snapshots.compactLatest(spark, dir, numFiles = 1)
    val files = java.nio.file.Files.list(java.nio.file.Paths.get(dir, s"v=$v"))
      .iterator()
    val parquets = scala.jdk.CollectionConverters.IteratorHasAsScala(files).asScala
      .count(_.getFileName.toString.endsWith(".parquet"))
    assert(parquets == 1)
    assert(Snapshots.read(spark, dir, v).count() == base.count())
    assert(Snapshots.committedTags(dir).exists(_.startsWith("compact-of-v")))
  }

  test("diff produces the exact insert/update/delete changelog") {
    val dir = tmp()
    val base = Tables(spark, sf, "nation")
    Snapshots.commit(base.filter(col("n_nationkey") < 20), dir)
    val evolved = base.filter(col("n_nationkey") >= 5) // drop 0-4, add 20+
      .withColumn("n_name",
        when(col("n_nationkey") === 7, lit("RENAMED")).otherwise(col("n_name")))
    Snapshots.commit(evolved, dir)
    val ops = Snapshots.diff(spark, dir, 1L, 2L, Seq("n_nationkey"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert((0 until 5).forall(k => ops(k) == "delete"))
    assert(ops(7) == "update")
    assert((20 until 25).forall(k => ops(k) == "insert"))
    assert(!ops.contains(6)) // unchanged rows are absent
  }

  test("WAP: staged snapshots are reader-invisible until published; abort leaves no trace") {
    val dir = tmp()
    val base = Tables(spark, sf, "nation")
    Snapshots.commit(base, dir, Some("base"))
    val staged = Snapshots.stage(base.limit(3), dir, "wap-1")
    // invisible to every normal read path
    assert(Snapshots.versions(dir).size == 1)
    assert(Snapshots.read(spark, dir).count() == base.count())
    assert(Snapshots.readAsOf(spark, dir, System.currentTimeMillis()).count() ==
      base.count())
    // audit-side read sees exactly the staged data
    assert(Snapshots.readStaged(spark, dir, "wap-1").count() == 3)
    // replayed stage is idempotent
    assert(Snapshots.stage(base.limit(3), dir, "wap-1") == staged)
    // vacuum must not reap a pending staged snapshot (age 0 anyway,
    // but force the age check to be the only guard)
    assert(!Snapshots.vacuumOrphans(dir, minAgeMs = -1L).contains(staged))
    // publish flips readers atomically to the staged state
    val published = Snapshots.publish(dir, "wap-1")
    assert(published == staged)
    assert(Snapshots.versions(dir).size == 2)
    assert(Snapshots.read(spark, dir).count() == 3)
    // replayed publish resolves via the tag ledger
    assert(Snapshots.publish(dir, "wap-1") == published)
    // a second wap: abort deletes the staged data, readers unaffected
    val s2 = Snapshots.stage(base.limit(1), dir, "wap-2")
    Snapshots.abortStaged(dir, "wap-2")
    assert(Snapshots.versions(dir).size == 2)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, s"v=$s2")))
    intercept[IllegalArgumentException](Snapshots.readStaged(spark, dir, "wap-2"))
    // the burned id is never reused by a later commit
    assert(Snapshots.commit(base, dir) > s2)
  }

  test("history metadata table tracks commits, tags, rollbacks and expiry — without opening data") {
    val dir = s"${tmp()}/t"
    val nat = Tables(spark, sf, "nation")
    Snapshots.commit(nat.filter(col("n_nationkey") < 10).repartition(1), dir)
    Snapshots.commit(nat.repartition(2), dir, tag = Some("full"))
    val h = Snapshots.history(spark, dir).orderBy("version").collect()
    assert(h.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(h(0).isNullAt(1) && h(1).getString(1) == "full")
    assert(h(0).getLong(3) == 1 && h(1).getLong(3) == 2) // n_files
    assert(h.forall(_.getLong(4) > 0)) // n_bytes from the listing
    assert(h.forall(!_.isNullAt(2))) // committed_at from the ledger
    // rollback shows up as a tagged forward version
    Snapshots.rollback(dir, 1L)
    val h2 = Snapshots.history(spark, dir).orderBy("version").collect()
    assert(h2.length == 3 && h2(2).getString(1) == "rollback-of-v1-as-v3")
    // expiry shrinks history to the surviving versions
    Snapshots.expireSnapshots(dir, keep = 1)
    assert(Snapshots.history(spark, dir).collect()
      .map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("multi-table txn: one commit point, crash recovery via the catalog, idempotent replay") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val wh = TempDirs.scratch("graft-txn-spec")
    val fact = s"$wh/t_fact"
    val mart = s"$wh/t_mart"
    def df(n: Int) = spark.range(n).toDF("k")
    val v1 = Snapshots.commitTxn(wh, Seq((df(4), fact), (df(2), mart)), "tx1")
    assert(v1 == Seq(1L, 1L))
    val v2 = Snapshots.commitTxn(wh, Seq((df(8), fact), (df(3), mart)), "tx2")
    assert(v2 == Seq(2L, 2L))
    // crash AFTER the commit point, BEFORE the mart's publish: drop
    // the mart's last manifest line — the torn window recovery closes
    val m = Paths.get(mart, "_manifest")
    val lines = Files.readAllLines(m).asScala.toSeq
    Files.write(m, (lines.dropRight(1).mkString("\n") + "\n").getBytes("UTF-8"))
    assert(Snapshots.versions(mart) == Seq(1L), "torn state set up")
    // any catalog entry point repairs before resolving views
    Engine.openWarehouse(spark, wh)
    assert(Snapshots.versions(mart) == Seq(1L, 2L),
      "recovery must complete the part-published transaction")
    assert(Snapshots.read(spark, mart).count() == 3L)
    // crash BEFORE the commit point: staged data, no txn record —
    // recovery must NOT publish it
    Files.createDirectories(Paths.get(fact, "v=99"))
    Snapshots.recoverTxns(wh)
    assert(!Snapshots.versions(fact).contains(99L),
      "an unrecorded staged write must stay invisible")
    // a replayed transaction returns the same ids and writes nothing
    val manifestBytes = Files.readAllBytes(m).length
    assert(Snapshots.commitTxn(wh, Seq((df(8), fact), (df(3), mart)), "tx2") == v2)
    assert(Files.readAllBytes(m).length == manifestBytes,
      "txn replay must not touch the manifest")
    // expired versions are never resurrected by recovery
    Snapshots.expireSnapshots(mart, keep = 1)
    Snapshots.recoverTxns(wh)
    assert(Snapshots.versions(mart) == Seq(2L))
  }

  test("ANALYZE: versioned column stats, loud pre-analyze $stats, stats-steered broadcast") {
    import spark.implicits._
    val wh = TempDirs.scratch("graft-stats-spec")
    val t = s"$wh/dim"
    Snapshots.commit(
      Seq((1L, "a", 1.5), (2L, null.asInstanceOf[String], 2.5),
        (3L, "ccc", 3.5)).toDF("k", "s", "x"), t)
    // serving absent stats silently is how planners pick bad joins
    intercept[IllegalArgumentException] { Snapshots.statsTable(spark, t) }
    Snapshots.analyzeTable(spark, t)
    val st = Snapshots.statsTable(spark, t).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(st("k").getLong(2) == 3 && st("k").getLong(3) == 0)
    assert(st("k").getString(5) == "1" && st("k").getString(6) == "3")
    assert(st("s").getLong(3) == 1, "one null in s")
    assert(st("s").getLong(4) == 2, "exact NDV excludes nulls")
    assert(st("s").getDouble(7) == 2.0, "avg_len over non-null strings")
    assert(st("x").getString(5) == "1.50" && st("x").getString(6) == "3.50",
      "fractional min/max land at DECIMAL(18,2)")
    assert(Snapshots.analyzedRowCount(spark, t).contains(3L))
    // stats are VERSIONED: a later un-analyzed commit serves the old
    // (explicitly versioned) stats rather than silently recomputing
    Snapshots.commit(Seq((9L, "z", 9.9)).toDF("k", "s", "x"), t)
    assert(Snapshots.statsTable(spark, t)
      .select("analyzed_version").head().getLong(0) == 1L)
    // the stored stats steer the facade's join planning with BOTH
    // size-based broadcast paths off
    Snapshots.commit(spark.range(500).select(col("id").as("k"),
      (col("id") % 3).as("v")), s"$wh/fact")
    val s2 = org.apache.spark.sql.GraftShims.cloneWithConf(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    def planOf(sql: String): String = {
      val df = Engine.sqlWarehouse(s2, wh, sql)
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    val joined =
      "SELECT COUNT(*) AS n FROM fact f JOIN dim d ON f.k = d.k"
    // dim grew a commit AFTER its ANALYZE: the stats are stale, and a
    // stale row count must NOT force-broadcast (broadcast() overrides
    // every size-based veto — a once-small, now-huge table would OOM
    // the driver). Any commit invalidates the hint until re-ANALYZE.
    assert(!planOf(joined).contains("BroadcastHashJoin"),
      "stale (non-head) stats must not force-broadcast")
    Snapshots.analyzeTable(spark, t)
    assert(planOf(joined).contains("BroadcastHashJoin"),
      "head-ANALYZEd-small dim must broadcast")
    // the same join against a never-analyzed twin sort-merges
    Snapshots.commit(Seq((1L, "a", 1.5)).toDF("k", "s", "x"), s"$wh/dim2")
    assert(!planOf(
      "SELECT COUNT(*) AS n FROM fact f JOIN dim2 d ON f.k = d.k")
      .contains("BroadcastHashJoin"),
      "without stats and with size-broadcast off, no broadcast")
  }

  test("clone: zero-copy, independent both ways, survives source expiry, carries renames") {
    import spark.implicits._
    val wh = TempDirs.scratch("graft-clone-spec")
    val src = s"$wh/src"
    Snapshots.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), src)
    Snapshots.renameColumn(src, "s", "name")
    Snapshots.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "name"), src)
    val dst = s"$wh/dev"
    Snapshots.cloneTable(spark, src, dst, version = 1L)
    // the by-id ledger travels: v1's files store 's', the clone reads 'name'
    assert(Snapshots.read(spark, dst).columns.toSeq == Seq("k", "name"))
    assert(Snapshots.read(spark, dst).count() == 2)
    // divergence is invisible to the source, and vice versa
    Snapshots.commit(Seq((9L, "z")).toDF("k", "name"), dst)
    assert(Snapshots.read(spark, dst).count() == 1)
    assert(Snapshots.read(spark, src).count() == 3)
    // hard links: expiring the source's cloned-from snapshot leaves
    // the clone's v=1 fully readable (content outlives the entry)
    Snapshots.expireSnapshots(src, keep = 1)
    assert(Snapshots.read(spark, dst, 1L).count() == 2)
    // a clone onto an existing table refuses
    intercept[IllegalArgumentException] {
      Snapshots.cloneTable(spark, src, dst) }
  }

  test("addColumn with initial-default: pre-add snapshots serve the default, not null") {
    import org.apache.spark.sql.types.{IntegerType, StringType}
    import spark.implicits._
    val dir = s"${TempDirs.scratch("graft-dv-spec")}/t_dv"
    Snapshots.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), dir)
    Snapshots.addColumn(dir, "tier", StringType, Some("'bronze'"))
    Snapshots.addColumn(dir, "pts", IntegerType) // no default -> null
    val cur = Snapshots.read(spark, dir)
    assert(cur.columns.toSeq == Seq("k", "s", "tier", "pts"))
    val rows = cur.orderBy("k").collect()
    assert(rows.forall(_.getString(2) == "bronze"),
      "pre-add rows must serve the initial-default")
    assert(rows.forall(_.isNullAt(3)),
      "a defaultless added column is null for pre-add rows")
    // a writer storing real values keeps ids and the recorded default
    Snapshots.commit(Seq((1L, "a", "gold", 5), (3L, "c", "silver", 1))
      .toDF("k", "s", "tier", "pts"), dir)
    val v2 = Snapshots.read(spark, dir).orderBy("k").collect()
    assert(v2.map(_.getString(2)).toSeq == Seq("gold", "silver"))
    // duplicate add and tab-carrying defaults fail loudly
    intercept[IllegalArgumentException] {
      Snapshots.addColumn(dir, "tier", StringType)
    }
    intercept[IllegalArgumentException] {
      Snapshots.addColumn(dir, "x", StringType, Some("'a\tb'"))
    }
  }
}
