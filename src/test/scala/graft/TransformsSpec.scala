package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Transforms

/** Hidden-partitioning invariants q94's oracle can't see: planning
  * answers from the `_partitions` manifest alone (files outside the
  * pruned set can be DELETED and the scan still answers), one file per
  * partition tuple, and the raw-column predicate never names `__pv0`.
  */
class TransformsSpec extends AnyFunSuite {
  import TestSession._

  private def dataFiles(tableDir: String): Seq[java.nio.file.Path] = {
    val s = Files.walk(Paths.get(tableDir, "data"))
    try s.iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
      .toSeq
    finally s.close()
  }

  test("days transform: raw-ts range opens only the hit days — others can be deleted") {
    val t = TempDirs.scratch("graft-tf-days")
    val orders = Tables(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1995-02-01").cast("timestamp"))
    Transforms.create(t, Seq(Transforms.Days("o_orderdate")))
    Transforms.append(spark, t, orders)
    // one file per partition value, by construction
    val pvals = Transforms.partitions(t).map(_._2.head)
    assert(dataFiles(t).size == pvals.size,
      "landing must write exactly one file per partition value")
    def days(from: String, toExcl: String) = Transforms.scan(spark, t,
      Transforms.TimeRange("o_orderdate", from, toExcl))
    val (df, kept, total) = days("1995-01-10", "1995-01-15")
    val expect = orders.filter(
      col("o_orderdate").cast("date") >= lit("1995-01-10").cast("date") &&
        col("o_orderdate").cast("date") < lit("1995-01-15").cast("date"))
    assert(df.count() == expect.count())
    assert(kept < total, "range scan must prune")
    // the manifest-only planning claim, by destruction: delete every
    // file OUTSIDE the kept range; the same scan still answers
    val lo = java.time.LocalDate.parse("1995-01-10").toEpochDay
    val hi = java.time.LocalDate.parse("1995-01-15").toEpochDay
    pvals.filter(v => v < lo || v >= hi).foreach { v =>
      dataFiles(t).filter(_.toString.contains(s"__pv0=$v/"))
        .foreach(Files.delete)
    }
    val (df2, kept2, _) = days("1995-01-10", "1995-01-15")
    assert(df2.count() == expect.count(), "scan touched files outside the prune set")
    assert(kept2 == kept)
    // empty overlap → empty result, zero files
    val (empty, k0, _) = days("2020-01-01", "2020-01-02")
    assert(k0 == 0L && empty.count() == 0L)
  }

  test("bucket transform: key lookup opens only the keys' buckets") {
    val t = TempDirs.scratch("graft-tf-bucket")
    val orders = Tables(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    Transforms.create(t, Seq(Transforms.Bucket(8, "o_orderkey")))
    Transforms.append(spark, t, orders)
    assert(Transforms.partitions(t).size.toLong ==
      orders.select(pmod(col("o_orderkey").cast("long"), lit(8L)))
        .distinct().count())
    val keys = orders.agg(min(col("o_orderkey")).cast("long"),
      max(col("o_orderkey")).cast("long")).head
    val ks = Seq(keys.getLong(0), keys.getLong(1))
    val (df, kept, total) =
      Transforms.scan(spark, t, Transforms.LongKeys("o_orderkey", ks))
    assert(df.count() == orders.filter(col("o_orderkey").isin(ks: _*)).count())
    assert(kept == ks.map(k => Math.floorMod(k, 8L)).distinct.size.toLong)
    assert(kept <= 2L && total == 8L)
    // wrong-scan-kind guard
    intercept[IllegalArgumentException] {
      Transforms.scan(spark, t,
        Transforms.TimeRange("o_orderdate", "1995-01-01", "1995-01-02"))
    }
  }

  test("append: incremental landing extends the manifest, replayed batch is a no-op, spec mismatch rejected") {
    import spark.implicits._
    val t = TempDirs.scratch("graft-tf-append")
    def day(d: String, rows: Long*) = rows.toSeq
      .map(k => (k, java.sql.Timestamp.valueOf(s"$d 12:00:00")))
      .toDF("k", "ts")
    Transforms.create(t, Seq(Transforms.Days("ts")))
    Transforms.append(spark, t, day("2024-03-01", 1L, 2L), batchId = Some(0L))
    Transforms.append(spark, t,
      day("2024-03-01", 3L).unionAll(day("2024-03-02", 4L)),
      batchId = Some(1L))
    // new day visible to planning; touched day has one file per batch
    assert(Transforms.partitions(t).size == 2)
    val d1 = java.time.LocalDate.parse("2024-03-01").toEpochDay
    assert(dataFiles(t).count(_.toString.contains(s"__pv0=$d1/")) == 2,
      "each append adds one file to a touched partition")
    val firstDay = Transforms.TimeRange("ts", "2024-03-01", "2024-03-02")
    val (df, kept, total) = Transforms.scan(spark, t, firstDay)
    assert(df.count() == 3L && kept == 1L && total == 2L)
    // at-least-once replay: same batch id short-circuits
    Transforms.append(spark, t, day("2024-03-01", 9L), batchId = Some(1L))
    assert(Transforms.scan(spark, t, firstDay)._1.count() == 3L,
      "replayed batch must not double-land")
    // re-creating with the same spec is a no-op; a writer cannot
    // silently change the recorded partitioning
    Transforms.create(t, Seq(Transforms.Days("ts")))
    assert(Transforms.specs(t) == Seq((0, Seq(Transforms.Days("ts")))))
    intercept[IllegalArgumentException] {
      Transforms.create(t, Seq(Transforms.Days("other")))
    }
  }

  test("manifest rewrite is atomic: a reader polling during 20 appends never sees a torn or shrunk manifest") {
    import spark.implicits._
    val t = TempDirs.scratch("graft-tf-atomic")
    Transforms.create(t, Seq(Transforms.Days("ts")))
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    var polls = 0 // read after join()
    val shrinks = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int)]()
    val reader = new Thread(() => {
      var last = 0
      try while (!done.get()) {
        val n = Transforms.partitions(t).size
        if (n < last) shrinks.add((last, n))
        last = n
        polls += 1
      } catch { case e: Throwable => failure.set(e) }
    })
    reader.start()
    try (0 until 20).foreach { d =>
      val ts = java.sql.Timestamp.valueOf(
        java.time.LocalDate.parse("2024-03-01").plusDays(d.toLong).atTime(12, 0))
      Transforms.append(spark, t, Seq((d.toLong, ts)).toDF("k", "ts"))
    } finally {
      done.set(true)
      reader.join()
    }
    assert(failure.get() == null, s"reader failed to parse the manifest: ${failure.get()}")
    assert(polls > 20, s"reader polled only $polls times")
    assert(shrinks.isEmpty, s"leaf count shrank (from, to): ${shrinks.asScala.take(10)}")
    assert(Transforms.partitions(t).size == 20)
    val listing = Files.list(Paths.get(t))
    try assert(!listing.iterator().asScala.exists(_.getFileName.toString.endsWith(".tmp")),
      "temp manifest left behind")
    finally listing.close()
  }

  test("spec evolution: ALTER is metadata-only, old files prune by their own spec") {
    val t = TempDirs.scratch("graft-tf-evo")
    val orders = Tables(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_totalprice"))
    val jan = orders.filter(
      col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1995-02-01").cast("timestamp"))
    val feb = orders.filter(
      col("o_orderdate") >= lit("1995-02-01").cast("timestamp") &&
        col("o_orderdate") < lit("1995-03-01").cast("timestamp"))
    Transforms.create(t, Seq(Transforms.Days("o_orderdate")))
    Transforms.append(spark, t, jan)
    val before = dataFiles(t).map(p =>
      p.toString -> Files.size(p)).toMap
    // ADD PARTITION FIELD touches zero data paths
    Transforms.evolve(t, Seq(Transforms.Days("o_orderdate"),
      Transforms.Bucket(4, "o_custkey")))
    assert(dataFiles(t).map(p => p.toString -> Files.size(p)).toMap
      == before, "spec evolution must be metadata-only")
    assert(Transforms.specs(t).map(_._1) == Seq(0, 1))
    Transforms.append(spark, t, feb)
    // spec-0 files survive the spec-1 landing byte-identical
    before.foreach { case (f, sz) =>
      assert(Files.exists(Paths.get(f)) && Files.size(Paths.get(f)) == sz,
        s"spec-0 file $f changed under the spec-1 append")
    }
    // one file per (spec, tuple): spec-0 = jan days; spec-1 = feb
    // (day, bucket) pairs
    val nJanDays = jan.select(col("o_orderdate").cast("date"))
      .distinct().count()
    val nFebPairs = feb.select(col("o_orderdate").cast("date"),
      pmod(col("o_custkey"), lit(4))).distinct().count()
    assert(dataFiles(t).size == nJanDays + nFebPairs)
    // a key lookup cannot bucket-prune spec-0 (no bucket field) but
    // prunes spec-1 to the hit buckets
    val k = feb.agg(min(col("o_custkey")).cast("long")).head.getLong(0)
    val (rows, read, total) =
      Transforms.scan(spark, t, Transforms.LongKeys("o_custkey", Seq(k)))
    assert(total == nJanDays + nFebPairs)
    val bucketOfK = java.lang.Math.floorMod(k, 4L)
    val nFebHit = feb.filter(pmod(col("o_custkey"), lit(4)) === bucketOfK)
      .select(col("o_orderdate").cast("date")).distinct().count()
    assert(read == nJanDays + nFebHit,
      s"key scan read $read files, want all $nJanDays spec-0 + $nFebHit hit spec-1")
    // residual filter keeps answers exact despite the coarse spec-0 read
    val expect = jan.unionByName(feb).filter(col("o_custkey") === k).count()
    assert(rows.count() == expect)
    // day range prunes BOTH specs by day arithmetic
    val (_, read2, _) = Transforms.scan(spark, t,
      Transforms.TimeRange("o_orderdate", "1995-01-28", "1995-02-05"))
    val nJanHit = jan.filter(col("o_orderdate").cast("date") >= lit("1995-01-28"))
      .select(col("o_orderdate").cast("date")).distinct().count()
    val nFebHit2 = feb.filter(col("o_orderdate").cast("date") < lit("1995-02-05"))
      .select(col("o_orderdate").cast("date"),
        pmod(col("o_custkey"), lit(4))).distinct().count()
    assert(read2 == nJanHit + nFebHit2)
  }

  test("evolved scan: a time range prunes months fields and returns exactly the rows in range") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def batch(rows: (Long, String)*) =
      rows.map { case (k, t) => (k, ts(t)) }.toDF("k", "ts")
    val t = TempDirs.scratch("graft-tf-evo-months")
    Transforms.create(t, Seq(Transforms.Months("ts")))
    Transforms.append(spark, t, batch((1L, "1995-01-10 08:00:00"),
      (2L, "1995-02-03 09:00:00"), (3L, "1995-03-01 00:00:00")))
    Transforms.evolve(t, Seq(Transforms.Months("ts"), Transforms.MBucket(4, "k")))
    val spec1 = batch((10L, "1995-01-31 23:59:59"), (11L, "1995-02-01 00:00:00"),
      (12L, "1995-02-14 12:00:00"), (13L, "1995-02-28 23:00:00"),
      (14L, "1995-03-02 00:00:00"))
    Transforms.append(spark, t, spec1)
    val feb = Transforms.TimeRange("ts", "1995-02-01", "1995-03-01")
    val (rows, read, total) = Transforms.scan(spark, t, feb)
    assert(rows.select("k").as[Long].collect().sorted.toSeq == Seq(2L, 11L, 12L, 13L),
      "a months-only spec must not leak rows outside the range")
    // spec 0 opens its one February leaf; spec 1 opens the February
    // (month, bucket) leaves — never the January or March ones
    val febBuckets = Seq(11L, 12L, 13L)
      .map(graft.functions.IcebergMurmur3.bucketLong(_, 4)).distinct.size
    val spec1Leaves = Transforms.partitions(t).count(_._1 == 1)
    assert(read == 1L + febBuckets && total == 3L + spec1Leaves,
      s"read $read of $total leaves")
    // a key lookup on a table none of whose specs has a bucket field
    // cannot prune anything: rejected, never answered unfiltered
    val noBucket = TempDirs.scratch("graft-tf-evo-nobucket")
    Transforms.create(noBucket, Seq(Transforms.Months("ts")))
    Transforms.append(spark, noBucket, batch((1L, "1995-01-10 08:00:00")))
    Transforms.evolve(noBucket, Seq(Transforms.Years("ts")))
    Transforms.append(spark, noBucket, batch((2L, "1996-01-10 08:00:00")))
    intercept[IllegalArgumentException] {
      Transforms.scan(spark, noBucket, Transforms.LongKeys("k", Seq(1L)))
    }
  }

  test("murmur3: matches the Iceberg spec's published test vectors bit-for-bit") {
    import graft.functions.IcebergMurmur3._
    // Iceberg Table Spec, Appendix B "32-bit Hash Requirements":
    // hashes MUST be murmur3_x86_32 seed 0 over the listed encodings
    assert(hashLong(34L) == 2017239379, "int/long 34")
    assert(hashLong(17486L) == -653330422, "date 2017-11-16 = day 17486")
    assert(hashBytes("iceberg".getBytes("UTF-8")) == 1210000089, "string")
    assert(hashBytes(Array[Byte](0, 1, 2, 3)) == -188683207, "binary 00010203")
    // the codegen'd expression lands on the same numbers from SQL,
    // over every accepted input type
    val (r, both) = withExtendedSession { s =>
      val r = s.sql(
        """SELECT iceberg_hash(CAST(34 AS BIGINT)) AS h_long,
          |  iceberg_hash(CAST(34 AS INT)) AS h_int,
          |  iceberg_hash('iceberg') AS h_str,
          |  iceberg_hash(CAST('2017-11-16' AS DATE)) AS h_date,
          |  iceberg_bucket(CAST(34 AS BIGINT), 16) AS b_long,
          |  iceberg_bucket('iceberg', 16) AS b_str""".stripMargin).head()
      // spec rule: int and long values of the same number hash alike
      // (a bucket spec survives an int->bigint type promotion)
      val both = s.range(100).selectExpr(
        "iceberg_bucket(CAST(id AS INT), 7) AS bi",
        "iceberg_bucket(id, 7) AS bl")
        .filter(col("bi") =!= col("bl")).count()
      (r, both)
    }
    assert(r.getInt(0) == 2017239379 && r.getInt(1) == 2017239379)
    assert(r.getInt(2) == 1210000089)
    assert(r.getInt(3) == -653330422)
    assert(r.getInt(4) == (2017239379 & Int.MaxValue) % 16)
    assert(r.getInt(5) == (1210000089 & Int.MaxValue) % 16)
    assert(both == 0L)
  }

  test("mbucket transform: murmur3 placement, long and string key lookups prune") {
    val t = TempDirs.scratch("graft-tf-mbucket")
    val orders = Tables(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    Transforms.create(t, Seq(Transforms.MBucket(8, "o_orderkey")))
    Transforms.append(spark, t, orders)
    val keys = Seq(1L, 3L, 5L, 7L)
    val (df, kept, total) =
      Transforms.scan(spark, t, Transforms.LongKeys("o_orderkey", keys))
    assert(df.count() == orders.filter(col("o_orderkey").isin(keys: _*)).count())
    assert(kept == keys.map(k =>
      graft.functions.IcebergMurmur3.bucketLong(k, 8)).distinct.size.toLong)
    assert(kept < total, "point lookup must prune")
    // placement IS the spec hash: every surviving directory value
    // equals the murmur3 bucket of the keys it holds
    val placed = spark.read.parquet(s"$t/data")
      .select(col("o_orderkey"), col("__pv0"))
      .filter(col("__pv0") =!= graft.functions.GraftFunctions
        .icebergBucket(col("o_orderkey"), 8).cast("long"))
    assert(placed.count() == 0L, "a row landed outside its spec bucket")
    // string keys: nation by name, lookup opens one bucket per name
    val tn = TempDirs.scratch("graft-tf-mbucket-str")
    Transforms.create(tn, Seq(Transforms.MBucket(8, "n_name")))
    Transforms.append(spark, tn,
      Tables(spark, sf, "nation").select(col("n_nationkey"), col("n_name")))
    val (nf, nKept, _) = Transforms.scan(spark, tn,
      Transforms.StringKeys("n_name", Seq("NATION_3", "NATION_7")))
    assert(nf.count() == 2L)
    assert(nKept == Seq("NATION_3", "NATION_7").map(s =>
      graft.functions.IcebergMurmur3.bucketString(s, 8)).distinct.size.toLong)
    // wrong-scan-kind guard (loud, never wrong)
    intercept[IllegalArgumentException] {
      Transforms.scan(spark, t, Transforms.LongRange("o_orderkey", 0L, 10L))
    }
  }

  test("hours/months/years transforms: monotone pruning, exact boundaries half-open") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val rows = Seq(
      ts("1994-12-31 23:59:59"), ts("1995-01-15 10:30:00"),
      ts("1995-02-01 00:00:00"), ts("1995-02-28 23:00:00"),
      ts("1996-07-04 12:00:00")).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("k", "t")
    // months: value = months since 1970-01
    val tm = TempDirs.scratch("graft-tf-months")
    def land(dir: String, t: Transforms.Transform): Seq[Long] = {
      Transforms.create(dir, Seq(t))
      Transforms.append(spark, dir, rows)
      Transforms.partitions(dir).map(_._2.head)
    }
    def range(dir: String, from: String, toExcl: String) =
      Transforms.scan(spark, dir, Transforms.TimeRange("t", from, toExcl))
    assert(land(tm, Transforms.Months("t")) == Seq(299L, 300L, 301L, 318L))
    val (md, mk, mt) = range(tm, "1995-01-10 00:00:00", "1995-02-01 00:00:00")
    // to-bound exactly on the month boundary: Feb must NOT open
    assert(mk == 1L && mt == 4L && md.count() == 1L)
    // years
    val ty = TempDirs.scratch("graft-tf-years")
    assert(land(ty, Transforms.Years("t")) == Seq(24L, 25L, 26L))
    val (yd, yk, _) = range(ty, "1995-01-01 00:00:00", "1996-01-01 00:00:00")
    assert(yk == 1L && yd.count() == 3L)
    // hours: epoch-hour floor; the 23:59:59 row lands the hour below
    val th = TempDirs.scratch("graft-tf-hours")
    land(th, Transforms.Hours("t"))
    val (hd, hk, ht) = range(th, "1995-01-15 10:00:00", "1995-01-15 11:00:00")
    assert(hk == 1L && ht == 5L && hd.count() == 1L)
    // wrong-kind guard
    intercept[IllegalArgumentException] {
      Transforms.scan(spark, tm, Transforms.LongKeys("k", Seq(1L)))
    }
  }

  test("truncate transform: range scan opens exactly the overlapped width-groups") {
    import spark.implicits._
    val t = TempDirs.scratch("graft-tf-trunc")
    // negatives included: truncate must floor DOWN (-1 -> group -50)
    val rows = Seq(-60L, -1L, 0L, 49L, 50L, 149L, 150L, 260L)
      .map(k => (k, 1.0)).toDF("k", "x")
    Transforms.create(t, Seq(Transforms.TruncateLong(50L, "k")))
    Transforms.append(spark, t, rows)
    assert(Transforms.partitions(t).map(_._2.head) ==
      Seq(-100L, -50L, 0L, 50L, 100L, 150L, 250L))
    def range(lo: Long, hiExcl: Long) =
      Transforms.scan(spark, t, Transforms.LongRange("k", lo, hiExcl))
    val (df, kept, total) = range(-10L, 150L)
    assert(df.select("k").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(-1L, 0L, 49L, 50L, 149L))
    assert(kept == 4L && total == 7L,
      s"groups -50, 0, 50, 100 overlap [-10,150): kept=$kept total=$total")
    // group boundaries are half-open: hi exactly on a boundary never
    // opens the group above it
    assert(range(0L, 50L)._2 == 1L)
    intercept[IllegalArgumentException] {
      Transforms.scan(spark, t, Transforms.LongKeys("k", Seq(1L)))
    }
  }
}
