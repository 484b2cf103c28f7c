package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Merge, Skew}

class OperatorsSpec extends AnyFunSuite {
  import TestSession._

  test("Merge.upsert: update, insert, and keep paths") {
    import spark.implicits._
    val target = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "s", "v")
    val source = Seq((2L, "B", 99.0), (3L, "c", 30.0)).toDF("k", "s", "v")
    val got = Merge.upsert(target, source, Seq("k"))
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, "a", 10.0), (2L, "B", 99.0), (3L, "c", 30.0)))
  }

  test("Merge.upsert honors NULLs in source rows (row-level, not coalesce)") {
    import spark.implicits._
    val target = Seq((1L, Some("x"))).toDF("k", "s")
    val source = Seq((1L, None: Option[String])).toDF("k", "s")
    val got = Merge.upsert(target, source, Seq("k")).collect()
    assert(got.length == 1 && got(0).isNullAt(1))
  }

  test("Merge.upsert deleteWhen: matched-delete, tombstone-noop, update, insert") {
    import spark.implicits._
    val target = Seq((1L, "keep", 10.0), (2L, "del", 20.0), (3L, "upd", 30.0))
      .toDF("k", "s", "v")
    val source = Seq(
      (2L, "tombstone", 0.0),  // matched + delete cond → row removed
      (3L, "UPD", 99.0),       // matched, no delete → replaced
      (4L, "ins", 40.0),       // unmatched → inserted
      (5L, "tombstone", 0.0))  // unmatched tombstone → no-op, NOT inserted
      .toDF("k", "s", "v")
    val got = Merge.upsert(target, source, Seq("k"),
        deleteWhen = Some(col("s") === "tombstone"))
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, "keep", 10.0), (3L, "UPD", 99.0), (4L, "ins", 40.0)))
  }

  test("Merge.upsertFull: NOT MATCHED BY SOURCE delete/set are scoped, out-of-scope rows untouched") {
    import spark.implicits._
    val target = Seq(
      (1L, "A", true),   // target-only, in delete scope (s=A, k<0 bal? below)
      (2L, "A", true),   // target-only, in SET scope → deactivate
      (3L, "B", true),   // target-only, OUT of scope → untouched
      (4L, "A", true))   // matched → source wins
      .toDF("k", "s", "active")
      .withColumn("bal", when(col("k") === 1L, -5.0).otherwise(lit(10.0)))
      .select("k", "s", "bal", "active")
    val source = Seq((4L, "A", 99.0, true), (5L, "A", 50.0, true))
      .toDF("k", "s", "bal", "active")
    val got = Merge.upsertFull(target, source, Seq("k"),
        notMatchedBySourceDelete = Some(col("s") === "A" && col("bal") < 0),
        notMatchedBySourceSet = Map("active" ->
          when(col("s") === "A", lit(false)).otherwise(col("active"))))
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getBoolean(3)))
    assert(got.toSeq == Seq(
      (2L, "A", 10.0, false),  // disappeared in scope → deactivated
      (3L, "B", 10.0, true),   // out of scope → byte-identical
      (4L, "A", 99.0, true),   // matched → updated
      (5L, "A", 50.0, true)))  // new key → inserted; key 1 purged
  }

  test("Merge.cdcApply: newer wins, older loses, tombstone retained, no resurrection") {
    import spark.implicits._
    val target = Seq(
      (1L, 100L, 10L, 1.0, false),  // will be beaten by a newer update
      (2L, 100L, 11L, 2.0, false),  // will survive a STALE update
      (3L, 100L, 12L, 3.0, true))   // tombstone — a stale update must not resurrect
      .toDF("k", "ts", "eid", "v", "deleted")
    val batch = Seq(
      (1L, 200L, 20L, 9.0, false),  // newer → wins
      (2L, 50L, 21L, 8.0, false),   // older → loses
      (3L, 50L, 22L, 7.0, false),   // older than the tombstone → loses
      (4L, 200L, 23L, 6.0, false),  // new key → inserted
      (5L, 200L, 24L, 5.0, true))   // new-key tombstone → retained as deleted
      .toDF("k", "ts", "eid", "v", "deleted")
    val got = Merge.cdcApply(target, batch, Seq("k"), Seq("ts", "eid"), "deleted")
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3), r.getBoolean(4)))
    assert(got.toSeq == Seq(
      (1L, 200L, 9.0, false), (2L, 100L, 2.0, false),
      (3L, 100L, 3.0, true), (4L, 200L, 6.0, false), (5L, 200L, 5.0, true)))
  }

  test("Merge.cdcApply: order-insensitive across batches, tie keeps target (replay no-op)") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long, Long, Double, Boolean)]
      .toDF("k", "ts", "eid", "v", "deleted")
    // one key's history incl. a same-ts tie broken by eid, one delete
    val b1 = Seq((1L, 100L, 1L, 1.0, false), (2L, 100L, 2L, 2.0, false))
      .toDF("k", "ts", "eid", "v", "deleted")
    val b2 = Seq((1L, 100L, 3L, 1.5, false), (2L, 200L, 4L, 0.0, true))
      .toDF("k", "ts", "eid", "v", "deleted")
    def state(batches: Seq[org.apache.spark.sql.DataFrame]) =
      batches.foldLeft(empty)(Merge.cdcApply(_, _, Seq("k"), Seq("ts", "eid"), "deleted"))
        .orderBy("k").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
        .toSeq
    val fwd = state(Seq(b1, b2))
    assert(fwd == state(Seq(b2, b1)), "arrival order must not matter")
    assert(fwd == state(Seq(b1, b2, b2, b1)), "replaying batches must be a no-op")
    assert(fwd == Seq((1L, 100L, 3L, 1.5, false), (2L, 200L, 4L, 0.0, true)))
  }

  test("Snapshots.mergeWith tag: replayed batch returns existing version, no new commit") {
    import spark.implicits._
    val dir = s"${graft.TempDirs.scratch("graft-mergewith-spec")}/t"
    val seed = Seq((1L, 100L, 1.0, false)).toDF("k", "ts", "v", "deleted")
    val v0 = graft.sources.Snapshots.commit(seed, dir)
    val batch = Seq((1L, 200L, 2.0, false), (2L, 100L, 3.0, false))
      .toDF("k", "ts", "v", "deleted")
    def apply() = graft.sources.Snapshots.mergeWith(spark, dir, batch,
      tag = Some("cdc-batch=7"))(
      Merge.cdcApply(_, _, Seq("k"), Seq("ts"), "deleted"))
    val v1 = apply()
    val v2 = apply()
    assert(v1 == v2, "same tag must short-circuit to the committed version")
    assert(graft.sources.Snapshots.versions(dir) == Seq(v0, v1))
    val live = graft.sources.Snapshots.read(spark, dir).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(live.toSeq == Seq((1L, 200L, 2.0), (2L, 100L, 3.0)))
  }

  test("RangeJoin.binned == naive BETWEEN join; plan has no nested loop") {
    import spark.implicits._
    import graft.operators.RangeJoin
    // overlapping + point + empty + negative-crossing intervals, NULLs
    val intervals = Seq(
      (10L, Some(0.0), Some(100.0)),
      (11L, Some(50.0), Some(150.0)),   // overlaps 10
      (12L, Some(75.0), Some(75.0)),    // degenerate point interval
      (13L, Some(-120.0), Some(30.0)),  // crosses zero (negative bins)
      (14L, Some(200.0), Some(100.0)),  // inverted → matches nothing
      (15L, None, Some(50.0)))          // NULL bound → matches nothing
      .toDF("rid", "lo", "hi")
    val points = Seq(
      (1L, Some(75.0)), (2L, Some(-80.0)), (3L, Some(100.0)),
      (4L, Some(151.0)), (5L, None: Option[Double]))
      .toDF("pid", "v")
    val got = RangeJoin.binned(points, "v", intervals, "lo", "hi", 64.0)
    val naive = points.join(intervals,
      col("v") >= col("lo") && col("v") <= col("hi"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("pid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(pairs(got) == pairs(naive))
    assert(pairs(got) == Seq((1L, 10L), (1L, 11L), (1L, 12L),
      (2L, 13L), (3L, 10L), (3L, 11L)))
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"binned range join must be an equi join:\n$plan")
    assert(plan.contains("Join"), "expected a real join in the plan")
  }

  test("Merge.scd2Apply: close+reinsert, new-key, no-op, history passthrough, null-safe") {
    import spark.implicits._
    val eff = lit("2000-06-01")
    val dim = Seq(
      // already-closed history row: must pass through untouched
      (1L, Some("old"), Some("1999-01-01"), Some("2000-01-01"), false),
      (1L, Some("a"), Some("2000-01-01"), None, true),   // changed by batch
      (2L, Some("b"), Some("2000-01-01"), None, true),   // batch re-states same → no-op
      (3L, None, Some("2000-01-01"), None, true),        // NULL tracked, batch NULL → no-op
      (4L, Some("d"), Some("2000-01-01"), None, true))   // not in batch → untouched
      .toDF("k", "attr", "valid_from", "valid_to", "is_current")
      .withColumn("valid_from", col("valid_from").cast("date"))
      .withColumn("valid_to", col("valid_to").cast("date"))
    val batch = Seq(
      (1L, Some("A")),                 // changed → close + insert
      (2L, Some("b")),                 // unchanged
      (3L, None: Option[String]),      // NULL == NULL → unchanged (null-safe)
      (9L, Some("new")))               // brand-new key → first version
      .toDF("k", "attr")
    val got = Merge.scd2Apply(dim, batch, Seq("k"), Seq("attr"), eff)
      .orderBy(col("k"), col("valid_from"))
      .collect()
      .map(r => (r.getLong(0), Option(r.getString(1)),
        r.getDate(2).toString, Option(r.getDate(3)).map(_.toString),
        r.getBoolean(4)))
    assert(got.toSeq == Seq(
      (1L, Some("old"), "1999-01-01", Some("2000-01-01"), false),
      (1L, Some("a"), "2000-01-01", Some("2000-06-01"), false),
      (1L, Some("A"), "2000-06-01", None, true),
      (2L, Some("b"), "2000-01-01", None, true),
      (3L, None, "2000-01-01", None, true),
      (4L, Some("d"), "2000-01-01", None, true),
      (9L, Some("new"), "2000-06-01", None, true)))
  }

  test("Merge.scd2Apply is idempotent: re-applying the same batch changes nothing") {
    import spark.implicits._
    val eff = lit("2000-06-01")
    val dim = Seq(
      (1L, "a", "2000-01-01", true),
      (2L, "b", "2000-01-01", true))
      .toDF("k", "attr", "valid_from", "is_current")
      .withColumn("valid_from", col("valid_from").cast("date"))
      .withColumn("valid_to", lit(null).cast("date"))
      .select("k", "attr", "valid_from", "valid_to", "is_current")
    val batch = Seq((1L, "A"), (3L, "new")).toDF("k", "attr")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .orderBy(col("k"), col("valid_from"), col("is_current"))
      .collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq
    val once = Merge.scd2Apply(dim, batch, Seq("k"), Seq("attr"), eff)
    // second apply of the SAME batch at the same effective date: every
    // batch row now matches an identical current version → all no-ops
    val twice = Merge.scd2Apply(once, batch, Seq("k"), Seq("attr"), eff)
    assert(rows(once) == rows(twice))
  }

  test("Skew.saltedJoin equals the plain join") {
    val li = Tables(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
    val o = Tables(spark, sf, "orders").select("o_orderkey", "o_totalprice")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    val plain = li.join(o, Seq("l_orderkey"))
      .agg(count(lit(1)), sum("l_quantity"), sum("o_totalprice")).collect()
    val salted = Skew.saltedJoin(li, o, "l_orderkey", 8)
      .agg(count(lit(1)), sum("l_quantity"), sum("o_totalprice")).collect()
    assert(plain.toSeq == salted.toSeq)
  }

  test("Engine.open exposes tables + functions to plain SQL") {
    val n = withExtendedSession { s =>
      Engine.open(s, sf)
      s.sql(
        """SELECT n_name, count(*) AS c, rolling_hash(n_name) AS h
          |FROM customer JOIN nation ON c_nationkey = n_nationkey
          |GROUP BY n_name ORDER BY c DESC LIMIT 3""".stripMargin).collect()
    }
    assert(n.length == 3 && n.forall(!_.isNullAt(2)))
  }

  test("t11 BPE merges: well-formed tokens and the non-increasing count invariant") {
    val rows = graft.operators.TextAnalysis.t11BpeMerges(spark, sf)
      .orderBy(col("merge_idx")).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(r.getAs[String]("new_token") ==
        r.getAs[String]("pair").replace("> <", ""))
      assert(r.getAs[Long]("pair_count") > 0 && r.getAs[Long]("n_word_types") > 0)
    }
    // a merge can only create pairs no more frequent than itself, so
    // successive winning counts never increase — the BPE invariant
    val counts = rows.map(_.getAs[Long]("pair_count")).toSeq
    assert(counts == counts.sorted.reverse,
      s"merge counts increased across rounds: $counts")
    assert(rows.map(_.getAs[String]("pair")).distinct.length == 3)
  }

  test("m06 perceptual dedup: exact copies always collide, join never all-pairs") {
    val df = graft.operators.Multimodal.m06PerceptualDedup(spark, sf)
    assert(!df.queryExecution.executedPlan.toString.contains("CartesianProduct"),
      "m06 banded join planned a cartesian product")
    // identical payloads hash identically and identical hashes collide
    // in every band, so exact copies must be mutual neighbors: land a
    // corpus copy with 3 known duplicated docs and require the pairs
    val dir = graft.TempDirs.scratch("m06-spec")
    val d = Tables(spark, sf, "documents")
    val copies = d.filter(length(col("text")) >= 64).orderBy(col("doc_id")).limit(3)
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
    d.unionByName(copies).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val near = graft.operators.Multimodal.m06PerceptualDedup(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_near")).toMap
    copies.collect().map(_.getAs[Long]("doc_id")).foreach { dup =>
      assert(near(dup) >= 1, s"copied doc $dup found no perceptual neighbor")
      assert(near(dup - 1000000L) >= 1, s"original of $dup found no perceptual neighbor")
    }
  }

  test("globalRunningSum matches the naive global window; m05 shards are contiguous") {
    import graft.operators.Rank
    val d = Tables(spark, sf, "documents")
      .select(col("doc_id"), length(col("text")).cast("long").as("v"))
    val dist = Rank.globalRunningSum(d, Seq(col("doc_id")), col("v"), "cs")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cs"))).toMap
    val naive = d.withColumn("cs", sum(col("v")).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("doc_id"))
          .rowsBetween(Long.MinValue, 0)))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cs"))).toMap
    assert(dist == naive, "distributed prefix sum diverged from the window")

    val shards = graft.operators.Multimodal.m05ShardManifest(spark, sf)
      .orderBy(col("shard_id")).collect()
    assert(shards.nonEmpty)
    val maxPayload = d.agg(max(col("v"))).head().getLong(0)
    shards.foreach(s => assert(s.getAs[Long]("shard_bytes") <= 65536L + maxPayload,
      s"shard ${s.getAs[Long]("shard_id")} overflows budget + one payload"))
    // contiguous sample ranges: shard k ends before shard k+1 begins
    shards.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("last_doc") < b.getAs[Long]("first_doc"))
      case _ => ()
    }
  }

  test("t12 BPE encode: words <= tokens <= chars per doc, corpus strictly compressed") {
    val rows = graft.operators.TextAnalysis.t12BpeEncode(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (w, t, c) = (r.getAs[Long]("n_words"), r.getAs[Long]("n_bpe_tokens"),
        r.getAs[Long]("n_chars"))
      assert(w <= t && t <= c,
        s"doc ${r.getAs[Long]("doc_id")}: words=$w tokens=$t chars=$c out of order")
    }
    // 3 trained merges must have bought real corpus-level compression
    val chars = rows.map(_.getAs[Long]("n_chars")).sum
    val toks = rows.map(_.getAs[Long]("n_bpe_tokens")).sum
    assert(toks < chars, s"no compression: tokens=$toks chars=$chars")
  }

  test("Merge.upsertEvolve: new source column backfills NULL, missing source column keeps target") {
    import spark.implicits._
    val target = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "s", "v")
    // source: lacks "s" (target kept on match), carries new "tier"
    val source = Seq((2L, 99.0, "gold"), (3L, 30.0, "std")).toDF("k", "v", "tier")
    val got = Merge.upsertEvolve(target, source, Seq("k"))
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getDouble(2), Option(r.getString(3)).orNull))
    assert(got.toSeq == Seq(
      (1L, "a", 10.0, null),      // untouched target row, NULL new col
      (2L, "b", 99.0, "gold"),    // updated v, KEPT s, gained tier
      (3L, null, 30.0, "std")))   // inserted; target-only col NULL
    // schema order: target columns first, then appended source cols
    assert(Merge.upsertEvolve(target, source, Seq("k")).columns.toSeq ==
      Seq("k", "s", "v", "tier"))
    // identical schemas degenerate to plain upsert
    val same = Merge.upsertEvolve(target,
      Seq((2L, "B", 99.0)).toDF("k", "s", "v"), Seq("k"))
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(same.toSeq == Seq((1L, "a", 10.0), (2L, "B", 99.0)))
  }

  test("s12 kNN graph: ranked per-query edges, no self-loops, sims non-increasing") {
    val edges = graft.operators.Similarity.s12KnnGraph(spark, sf).collect()
    assert(edges.nonEmpty)
    assert(edges.forall(r => r.getLong(0) != r.getLong(2)), "self-loop in kNN graph")
    val byQ = edges.groupBy(_.getLong(0))
    byQ.foreach { case (q, es) =>
      val ranked = es.sortBy(_.getInt(1))
      assert(ranked.map(_.getInt(1)).toSeq == (1 to ranked.length).toSeq,
        s"query $q has gapped ranks")
      val sims = ranked.map(_.getDouble(3))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b },
        s"query $q sims not non-increasing")
      assert(es.length <= 3)
    }
  }

  test("s13 served ANN reads ONLY the probed posting partitions; answers == in-cell exact") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val idxDir = TempDirs.scratch("graft-ann-idx-spec")
    graft.operators.Similarity.buildAnnIndex(spark, sf, idxDir)
    val nCells = spark.read.parquet(s"$idxDir/postings")
      .select("cell_id").distinct().count()
    assert(nCells > 2, "index too coarse to prove pruning")
    // a single query probing ONE cell must scan exactly one partition
    val q1 = Tables(spark, sf, "embeddings").filter(col("vec_id") === 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val served = graft.operators.Similarity.annServe(spark, idxDir, q1,
      nprobe = 1, topK = 5)
    val rows = served.collect()
    assert(rows.length == 5)
    assert(rows.map(_.getAs[Int]("cell_id")).distinct.length == 1,
      "nprobe=1 must serve from one cell")
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: QueryStageExec => scans(s.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val postingScans = scans(served.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("postings")))
    assert(postingScans.nonEmpty, "no posting scan found in the serve plan")
    postingScans.foreach { s =>
      assert(s.metadata.get("PartitionFilters").exists(_.contains("cell_id")),
        "posting scan not partition-filtered")
      val selected = s.selectedPartitions.partitionCount
      assert(selected == 1,
        s"nprobe=1 serve read $selected posting partitions (of $nCells)")
    }
    // served top-5 == exact top-5 computed inside that cell
    val cell = rows.head.getAs[Int]("cell_id")
    val postings = spark.read.parquet(s"$idxDir/postings")
      .filter(col("cell_id") === cell && col("vec_id") =!= 3)
    val exact = postings.crossJoin(broadcast(q1))
      .withColumn("sim", graft.functions.GraftFunctions
        .cosineSim(col("qe"), col("embedding")))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(5).select(col("vec_id")).collect().map(_.getLong(0)).toSeq
    assert(rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq == exact,
      "served ranking != exact in-cell ranking")
  }

  test("s14 IVF-PQ: results come only from each query's <=2 probed cells, ranks contiguous") {
    val out = graft.operators.Similarity.s14IvfPq(spark, sf).collect()
    assert(out.nonEmpty)
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.keySet.forall(_ < 10L))
    byQ.values.foreach { rs =>
      // the IVF property: every served candidate lies in a probed
      // cell, and a query probes at most nprobe=2 cells
      assert(rs.map(_.getAs[Int]("cell_id")).distinct.length <= 2)
      assert(rs.map(_.getInt(1)).sorted.toSeq == (1 to rs.length),
        "ADC ranks must be contiguous from 1")
      assert(rs.length <= 5)
    }
  }

  test("m08 clip filter keeps only above-threshold pairs, one row per doc, scores in [-1, 1]") {
    val out = graft.operators.Multimodal.m08ClipFilter(spark, sf).collect()
    assert(out.nonEmpty)
    assert(out.map(_.getLong(0)).distinct.length == out.length,
      "the doc<->embedding join must stay 1:1")
    assert(out.forall(r => r.getDouble(2) >= 0.28 && r.getDouble(2) <= 1.0))
    val total = Tables(spark, sf, "documents").count()
    assert(out.length < total, "a fixed 0.28 cut must actually filter")
  }

  test("s15 index append never rewrites an existing posting file; serves stay cell-bounded") {
    import graft.operators.Similarity
    val idxDir = graft.TempDirs.scratch("graft-ann-append-spec")
    val e = Tables(spark, sf, "embeddings")
    Similarity.buildAnnIndex(spark, sf, idxDir,
      corpus = Some(e.filter(col("vec_id") % 5 =!= 4)))
    def files(): Map[String, Long] = {
      val root = java.nio.file.Paths.get(s"$idxDir/postings")
      val s = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter(p => p.toString.endsWith(".parquet"))
          .map(p => root.relativize(p).toString ->
            java.nio.file.Files.size(p)).toMap
      } finally s.close()
    }
    val before = files()
    Similarity.appendAnnIndex(spark, idxDir, e.filter(col("vec_id") % 5 === 4))
    val after = files()
    // append-only: every pre-existing file survives byte-identical
    before.foreach { case (f, sz) =>
      assert(after.get(f).contains(sz), s"posting file $f was rewritten")
    }
    assert(after.size > before.size, "the append must add posting files")
    // the appended rows are exactly the batch, each in a real cell
    val stored = spark.read.parquet(s"$idxDir/postings")
    val batchIds = e.filter(col("vec_id") % 5 === 4)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val newRows = stored.filter(col("vec_id") % 5 === 4).collect()
    assert(newRows.map(_.getLong(0)).toSet == batchIds)
    val cells = graft.sources.Snapshots
      .read(spark, s"$idxDir/centroids")
      .select(col("cell_id")).collect().map(_.getInt(0)).toSet
    assert(newRows.forall(r => cells(r.getAs[Int]("cell_id"))))
  }

  test("tagged index append is exactly-once: replay no-ops, crash-replay converges") {
    import graft.operators.Similarity
    val idxDir = graft.TempDirs.scratch("graft-ann-eo-spec")
    val e = Tables(spark, sf, "embeddings")
    Similarity.buildAnnIndex(spark, sf, idxDir,
      corpus = Some(e.filter(col("vec_id") % 5 =!= 4)))
    val batch = e.filter(col("vec_id") % 5 === 4)
    def postingRows() = spark.read.parquet(s"$idxDir/postings").count()
    def tagFiles(): List[String] = {
      import scala.jdk.CollectionConverters._
      val w = java.nio.file.Files.walk(
        java.nio.file.Paths.get(s"$idxDir/postings"))
      try w.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("ann-b7-")).toList.sorted
      finally w.close()
    }
    Similarity.appendAnnIndex(spark, idxDir, batch, batchTag = Some("b7"))
    val afterOnce = postingRows()
    val filesOnce = tagFiles()
    assert(filesOnce.nonEmpty, "tagged append must land tag-named files")
    // replay with the ledger intact: a pure no-op
    Similarity.appendAnnIndex(spark, idxDir, batch, batchTag = Some("b7"))
    assert(postingRows() == afterOnce, "ledgered replay duplicated rows")
    assert(tagFiles() == filesOnce)
    // crash simulation: files landed but the ledger line was lost
    // (crash between landStaged and the ledger write) → the replay
    // must clear the residue and converge, not duplicate
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(idxDir, "_append_ledger"))
    Similarity.appendAnnIndex(spark, idxDir, batch, batchTag = Some("b7"))
    assert(postingRows() == afterOnce, "crash-replay duplicated rows")
    assert(tagFiles() == filesOnce, "crash-replay changed the tag's file set")
    assert(Similarity.committedAppendTags(idxDir) == Set("b7"))
  }

  test("s18 compaction: one file per cell, serves bit-identical, ledgered tags still no-op") {
    import graft.operators.Similarity
    val idxDir = graft.TempDirs.scratch("graft-ann-compact-spec")
    val e = Tables(spark, sf, "embeddings")
    Similarity.buildAnnIndex(spark, sf, idxDir,
      corpus = Some(e.filter(col("vec_id") % 5 =!= 4)))
    val batch = e.filter(col("vec_id") % 5 === 4)
    Similarity.appendAnnIndex(spark, idxDir, batch, batchTag = Some("c1"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    def serve() = Similarity.annServe(spark, idxDir, q, 2, 5)
      .collect().map(_.toString).sorted.toSeq
    val pre = serve()
    val rowsPre = spark.read.parquet(s"$idxDir/postings").count()
    Similarity.compactAnnIndex(spark, idxDir)
    // layout: exactly one parquet file under every cell directory
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(s"$idxDir/postings")
    val cells = java.nio.file.Files.list(root).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("cell_id=")).toList
    assert(cells.nonEmpty)
    cells.foreach { cd =>
      val n = java.nio.file.Files.list(cd).iterator().asScala
        .count(_.toString.endsWith(".parquet"))
      assert(n == 1, s"${cd.getFileName} holds $n files after compaction")
    }
    assert(spark.read.parquet(s"$idxDir/postings").count() == rowsPre)
    assert(serve() == pre, "compaction changed a served answer")
    // exactly-once survives compaction: the ledgered tag replays as a
    // no-op even though its tag-named files no longer exist
    Similarity.appendAnnIndex(spark, idxDir, batch, batchTag = Some("c1"))
    assert(spark.read.parquet(s"$idxDir/postings").count() == rowsPre,
      "a ledgered tag re-applied after compaction")
  }

  test("s20 delete: tombstones only — no posting byte touched; compaction bakes and clears") {
    import graft.operators.Similarity
    import scala.jdk.CollectionConverters._
    val idxDir = graft.TempDirs.scratch("graft-ann-del-spec")
    Similarity.buildAnnIndex(spark, sf, idxDir)
    val e = Tables(spark, sf, "embeddings")
    def postingFiles(): Map[String, Long] = {
      val w = java.nio.file.Files.walk(
        java.nio.file.Paths.get(s"$idxDir/postings"))
      try w.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .map(p => p.toString -> java.nio.file.Files
          .getLastModifiedTime(p).toMillis).toMap
      finally w.close()
    }
    val before = postingFiles()
    val del = e.filter(col("vec_id") % 7 === 3).select(col("vec_id"))
    val nDel = del.count()
    Similarity.deleteFromAnnIndex(spark, idxDir, del, Some("spec-del"))
    // the delete wrote ONLY tombstones: every posting file untouched
    assert(postingFiles() == before, "delete touched a posting file")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$idxDir/deletes")))
    // served candidates exclude every tombstoned id
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val served = Similarity.annServe(spark, idxDir, q, 2, 5)
    assert(served.filter(col("cid") % 7 === 3).count() == 0L)
    // replay of the ledgered tag: no new tombstone bytes
    val delBytes = {
      val w = java.nio.file.Files.walk(
        java.nio.file.Paths.get(s"$idxDir/deletes"))
      try w.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .map(java.nio.file.Files.size(_)).sum
      finally w.close()
    }
    Similarity.deleteFromAnnIndex(spark, idxDir, del, Some("spec-del"))
    val delBytes2 = {
      val w = java.nio.file.Files.walk(
        java.nio.file.Paths.get(s"$idxDir/deletes"))
      try w.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .map(java.nio.file.Files.size(_)).sum
      finally w.close()
    }
    assert(delBytes2 == delBytes, "a ledgered delete tag re-applied")
    // compaction physically erases the ids and clears the tombstones
    val total = spark.read.parquet(s"$idxDir/postings").count()
    Similarity.compactAnnIndex(spark, idxDir)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$idxDir/deletes")))
    val after = spark.read.parquet(s"$idxDir/postings")
    assert(after.count() == total - nDel)
    assert(after.filter(col("vec_id") % 7 === 3).count() == 0L,
      "a tombstoned id survived compaction")
  }

  test("s16 SQ8: contiguous ranks, exact sims dominate their rank order, high recall vs brute force") {
    import graft.functions.GraftFunctions
    val out = graft.operators.Similarity.s16Sq8Search(spark, sf).collect()
    assert(out.length == 50, "10 queries x top-5")
    val byQ = out.groupBy(_.getLong(0))
    byQ.values.foreach { rs =>
      assert(rs.map(_.getInt(1)).sorted.toSeq == (1 to 5))
      val sims = rs.sortBy(_.getInt(1)).map(_.getDouble(4))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b },
        "exact sims must be non-increasing in rank")
    }
    // SQ8 at 64 dims reconstructs tightly: recall@5 vs exact brute
    // force should be near-perfect; 0.8 mean is a safe floor
    val e = Tables(spark, sf, "embeddings")
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val exact = e.select(col("vec_id").as("cid"), col("embedding").as("ce"))
      .join(broadcast(q), col("qid") =!= col("cid"))
      .withColumn("sim", GraftFunctions.cosineSim(col("qe"), col("ce")))
      .withColumn("rnk", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
          .orderBy(col("sim").desc, col("cid"))))
      .filter(col("rnk") <= 5)
      .select(col("qid"), col("cid")).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = byQ.map { case (qid, rs) =>
      rs.map(_.getLong(2)).toSet.intersect(exact(qid)).size / 5.0
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.8, s"SQ8 mean recall@5 $mean below floor")
  }

  test("t15 collocations: contiguous ranks, min-count floor, pmi consistent with count surprise") {
    val out = graft.operators.TextAnalysis.t15Collocations(spark, sf).collect()
    assert(out.nonEmpty && out.length <= 15)
    assert(out.map(_.getLong(0)).toSeq == (1L to out.length))
    out.foreach { r =>
      assert(r.getLong(3) >= 5, "n12 below the min-count floor")
      assert(r.getLong(4) >= r.getLong(3) && r.getLong(5) >= r.getLong(3),
        "a unigram count can never be below its bigram count")
    }
    // ranks descend in pmi (ties broken lexically, so non-strict)
    val pmis = out.sortBy(_.getLong(0)).map(_.getDouble(6))
    assert(pmis.zip(pmis.tail).forall { case (a, b) => a >= b })
  }

  test("a10 stored-sketch rollup == direct region sketch (KMV mergeability), envelope holds") {
    import graft.functions.GraftFunctions.kMinValues
    import org.apache.spark.sql.functions._
    val served = graft.operators.Approx.a10SketchRollup(spark, sf).collect()
    assert(served.length == 5)
    assert(served.forall(_.getBoolean(3)), "an estimate left the 3/sqrt(K) envelope")
    // direct one-level sketch of each region from the raw table must
    // give the SAME estimate the stored-then-merged path served
    val direct = Tables(spark, sf, "customer")
      .select(col("c_custkey"), col("c_nationkey"),
        conv(substring(md5(col("c_custkey").cast("string").cast("binary")), 1, 15),
          16, 10).cast("long").as("hv"))
      .join(Tables(spark, sf, "nation")
        .select(col("n_nationkey"), col("n_regionkey")),
        col("c_nationkey") === col("n_nationkey"))
      .join(Tables(spark, sf, "region")
        .select(col("r_regionkey"), col("r_name").as("region")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("region")).agg(kMinValues(col("hv"), 256).as("sk"))
      .select(col("region"),
        when(size(col("sk")) < 256, size(col("sk")).cast("double"))
          .otherwise(lit(255.0) * lit(1152921504606846976L).cast("double") /
            element_at(col("sk"), 256).cast("double")).as("est"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    served.foreach { r =>
      assert(r.getDouble(2) == direct(r.getString(0)),
        s"${r.getString(0)}: merged ${r.getDouble(2)} != direct ${direct(r.getString(0))}")
    }
  }

  test("m07 media align: every chunk bound to the LATEST frame at-or-before it") {
    val rows = graft.operators.Multimodal.m07MediaAlign(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (chunkTs, frameId, frameTs, lag) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(frameTs == frameId * 40, "frame timeline broken")
      assert(lag == chunkTs - frameTs && lag >= 0, s"negative lag $lag")
      // "latest at-or-before": a lag of a full frame period or more
      // is only legal when the video track ended at this frame
      val maxFrame = rows.filter(_.getLong(0) == r.getLong(0)).map(_.getLong(3)).max
      assert(lag < 40 || frameId == maxFrame,
        s"doc ${r.getLong(0)} chunk ${r.getLong(1)} skipped a newer frame")
    }
    // per-doc chunk counts are dense: chunk ids 0..n with no gaps
    rows.groupBy(_.getLong(0)).foreach { case (doc, rs) =>
      val ids = rs.map(_.getLong(1)).sorted
      assert(ids.toSeq == (0L until ids.length).toSeq, s"doc $doc chunk gap")
    }
  }

  test("s21 JL projection: deterministic, cosine-bounded, beats chance recall, zero-shuffle projection") {
    import graft.operators.Similarity
    val a = Similarity.s21RandomProjection(spark, sf).collect()
    val b = Similarity.s21RandomProjection(spark, sf).collect()
    assert(a.toSeq == b.toSeq, "projection must be deterministic")
    assert(a.length == 50, "5 probes x top-10")
    a.foreach { r =>
      val p = r.getAs[Double]("proj_sim_r"); val e = r.getAs[Double]("exact_sim_r")
      assert(p >= -1.0 - 1e-9 && p <= 1.0 + 1e-9, s"proj cosine out of range: $p")
      assert(e >= -1.0 - 1e-9 && e <= 1.0 + 1e-9, s"exact cosine out of range: $e")
    }
    // neighborhood preservation: top-10-of-~500 by chance keeps ~2% of
    // the exact top-10 in view; JL at K=16 must clear several-x that
    val kept = a.count(_.getAs[Boolean]("in_exact_top10"))
    assert(kept >= 3, s"recall collapsed to chance: $kept/50")
    // the projection itself is row-local map work — the only exchanges
    // in the plan are the broadcast of 5 probes and the top-k window
    val plan = Similarity.s21RandomProjection(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "s21 candidate pairing fell back to a cartesian product")
  }

  test("s22 MIPS reduction: augmented-cosine order == inner-product order, augmented norms 1, weights in range") {
    import graft.operators.Similarity
    val rows = Similarity.s22MipsReduction(spark, sf).collect()
    assert(rows.length == 25, "5 probes x top-5")
    rows.foreach { r =>
      assert(r.getAs[Int]("aug_rank") == r.getAs[Int]("rnk"),
        s"reduction broke the order at qid=${r.getAs[Long]("qid")} " +
          s"rnk=${r.getAs[Int]("rnk")}")
      assert(math.abs(r.getAs[Double]("aug_norm_r") - 1.0) < 1e-5,
        s"augmented vector not unit-norm: ${r.getAs[Double]("aug_norm_r")}")
      val wt = r.getAs[Double]("wt_r")
      assert(wt >= 0.5 && wt < 2.0, s"weight out of range: $wt")
    }
    // the weights genuinely reorder: some top-5 hit must NOT be in the
    // plain-cosine top-5 (otherwise MIPS degenerated to cosine and the
    // reduction proves nothing on this corpus)
    val cosTop = Similarity.s01CosineTopk(spark, sf).collect()
      .filter(r => r.getAs[Long]("qid") < 5 && r.getAs[Int]("rnk") <= 5)
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet
    val mipsTop = rows.map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet
    assert((mipsTop -- cosTop).nonEmpty,
      "weighted MIPS top-5 identical to cosine top-5 — weights inert")
  }

  test("a frame read twice runs its root once: d02's capped aggregate, s14's two models") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.Final
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
    // the operators the final adaptive plan runs: a reused exchange
    // runs its subtree once, wherever AQE left the original stage
    def executed(root: SparkPlan): Seq[SparkPlan] = {
      val seen = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
      def go(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
        case a: AdaptiveSparkPlanExec => go(a.executedPlan)
        case q: QueryStageExec => go(q.plan)
        case r: ReusedExchangeExec => go(r.child)
        case e: Exchange => if (seen.add(e)) e.children.flatMap(go) else Nil
        case other => other.children.flatMap(go)
      })
      go(root)
    }
    def finalAggs(df: org.apache.spark.sql.DataFrame): Map[String, Int] = {
      df.collect()
      executed(df.queryExecution.executedPlan).collect { case a: BaseAggregateExec =>
        a.aggregateExpressions.filter(_.mode == Final).map(_.aggregateFunction.prettyName)
      }.flatten.groupBy(identity).map { case (k, v) => k -> v.size }
    }
    // d02: both readers of the doc lists (gram counts, pair generation)
    // read the one collect_capped aggregate
    val d02 = finalAggs(graft.operators.Dedup.d02NgramJaccard(spark, sf))
    // s14: k-means runs two Lloyd rounds (max_by each), PQ one training
    // round and the corpus assignment (min_by each); collect_list is the
    // k-means centroids, s14's own centroid restatement and the PQ
    // codebook. A chain re-run by one of its readers adds to these.
    val s14 = finalAggs(graft.operators.Similarity.s14IvfPq(spark, sf))
    assert(d02.get("collect_capped").contains(1) &&
      Seq("max_by", "min_by", "collect_list").map(s14.get) == Seq(Some(2), Some(2), Some(3)),
      s"final aggregates: d02 $d02, s14 $s14")
  }
}
