package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Engine
import graft.operators.{Dedup, Merge, TextAnalysis}
import graft.pipeline.{CorpusDag, Runner}
import graft.queries.Relational
import graft.sources.{Mor, Snapshots}

/** What the three workloads share: the clock, op records, and running
  * one library call as a planned-then-collected span pair.
  */
abstract class Workload(spark: SparkSession, conf: Conf, out: Out, trace: Trace) {
  protected val seconds: Double = conf("seconds").toDouble
  protected val work: String = conf("work")
  protected val data: String = conf("data")
  protected val warm: String = conf("warm")
  out.meta("epoch_offset_ns", System.currentTimeMillis() * 1000000L - System.nanoTime())

  /** Plan `build()` (submit to executedPlan) under span `layer.plan`,
    * then collect every row under `layer.exec`.
    */
  protected def planAndRun(layer: String)(build: => DataFrame): (Seq[String], Array[Row]) = {
    val df = trace.span(s"$layer.plan") {
      val d = build
      d.queryExecution.executedPlan
      d
    }
    val rows = trace.span(s"$layer.exec")(df.collect())
    (df.columns.toSeq, rows)
  }

  /** Time `f` as op `id`; returns (result or error, t0, t1). */
  protected def timedOp[A](id: Long)(f: => A): (Either[Throwable, A], Long, Long) = {
    trace.beginOp(id)
    val t0 = System.nanoTime()
    val r = try Right(f) catch { case e: Throwable => Left(e) }
    val t1 = System.nanoTime()
    trace.beginOp(0L)
    (r, t0, t1)
  }

  protected def err(e: Throwable): String = {
    val m = Option(e.getMessage).getOrElse("").linesIterator.take(2).mkString(" ")
    s"${e.getClass.getSimpleName}: ${m.take(300)}"
  }

  /** Set up `reps` times and keep the median: set-up time is a metric
    * and a single JVM-cold sample would be its noisiest part.
    */
  protected def setupReps(reps: Int)(f: Int => Unit): Unit = {
    val ts = (0 until reps).map { i =>
      val t0 = System.nanoTime(); f(i); (System.nanoTime() - t0) / 1e9
    }
    out.meta("setup_reps_s", ts)
    out.meta("setup_median_s", Proc.median(ts))
  }

  protected def warmup(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    f
    out.meta("warmup_s", (System.nanoTime() - t0) / 1e9)
  }

  protected def deadline(): Long = System.nanoTime() + (seconds * 1e9).toLong

  /** A client keeps going until the time is up and it has done the
    * run's fixed measured window of unit ops.
    */
  protected val window: Int = conf.int("window")
  protected def more(until: Long, done: Int, atLeast: Int = window): Boolean =
    System.nanoTime() < until || done < atLeast

  def run(): Unit
}

/** mart_sql: two closed-loop clients, each on its own Engine.connect
  * session over the generated tables, running the statement sequence
  * run.py drew for it (SQL templates and dbt-model programs).
  */
final class MartSql(spark: SparkSession, conf: Conf, out: Out, trace: Trace)
    extends Workload(spark, conf, out, trace) {

  private case class Stmt(client: Int, id: String, kind: String, text: String)

  private val plan: Seq[Stmt] = Files.readAllLines(Paths.get(conf("plan")), UTF_8).asScala
    .filter(_.nonEmpty).map { l =>
      val Array(c, id, kind, text) = l.split("\t", 4)
      Stmt(c.toInt, id, kind, text)
    }.toSeq

  private def program(s: SparkSession, name: String, dir: String): DataFrame = name match {
    case "q02_stg_orders" => Relational.q02StgOrders(s, dir)
    case "q03_daily_order_metrics" => Relational.q03DailyOrderMetrics(s, dir)
    case "q04_user_order_summary" => Relational.q04UserOrderSummary(s, dir)
    case "q15_cte_pipeline" => Relational.q15CtePipeline(s, dir)
  }

  private def execute(s: SparkSession, st: Stmt, dir: String): (Seq[String], Array[Row]) =
    if (st.kind == "program") planAndRun("queries")(program(s, st.text, dir))
    else planAndRun("Engine")(s.sql(st.text))

  /** One client's closed loop; digests are taken after the clock stops. */
  private def client(s: SparkSession, dir: String, stmts: Seq[Stmt], phase: String,
      until: Long, atLeast: Int): Unit = {
    val it = Iterator.continually(stmts).flatten
    var go = true
    var done = 0
    while (go) {
      val st = it.next()
      val id = out.nextId()
      val (r, t0, t1) = timedOp(id)(execute(s, st, dir))
      val digest = r.map { case (cols, rows) => Digest(cols, rows) }
      out.rec("id" -> id, "phase" -> phase, "kind" -> st.kind, "key" -> st.id,
        "client" -> st.client, "t0" -> t0, "t1" -> t1, "ok" -> r.isRight,
        "digest" -> digest.toOption, "err" -> r.left.toOption.map(err))
      done += 1
      go = more(until, done, atLeast)
    }
  }

  def run(): Unit = {
    val clients = plan.map(_.client).distinct.sorted
    val sessions = clients.map(_ => Engine.connect(spark))
    // warm-up: every template and program runs once on the small
    // inputs, split over the clients, untimed and checked like any
    // other op; then the other connections open. It comes first so
    // that no set-up repetition pays for the JVM's cold start.
    warmup {
      val firsts = plan.groupBy(st => st.id.takeWhile(_ != '/')).values.map(_.head).toSeq
      val parts = firsts.zipWithIndex.groupBy(_._2 % clients.size).values.map(_.map(_._1))
      parts.map { part =>
        val th = new Thread(() => {
          val s = Engine.connect(spark)
          Engine.open(s, warm)
          part.foreach(st => client(s, warm, Seq(st), "warm", 0L, 1))
        })
        th.start()
        th
      }.foreach(_.join())
      sessions.tail.foreach(s => trace.span("Engine.open")(Engine.open(s, data)))
    }
    setupReps(3) { _ => trace.span("Engine.open")(Engine.open(sessions.head, data)) }
    out.meta("clients", clients.size)
    trace.openWindow()
    val until = deadline()
    val t0 = System.nanoTime()
    out.meta("loop_start_ns", t0)
    val threads = clients.zip(sessions).map { case (c, s) =>
      val th = new Thread(() => client(s, data, plan.filter(_.client == c), "timed", until, window),
        s"client-$c")
      th.start()
      th
    }
    threads.foreach(_.join())
    out.meta("loop_wall_s", (System.nanoTime() - t0) / 1e9)
    trace.closeWindow()
  }
}

/** cdc_ingest: Debezium-envelope batches land in a directory one per
  * round; one long-lived file-source streaming query drains each with
  * processAllAvailable, and its foreachBatch applies the batch to a
  * copy-on-write and a merge-on-read table. A read-after-write
  * statement then runs through the warehouse SQL facade. Every
  * `maint_every` rounds the MoR table is compacted and old CoW
  * snapshots expire, inside the commit's clock.
  */
final class CdcIngest(spark: SparkSession, conf: Conf, out: Out, trace: Trace)
    extends Workload(spark, conf, out, trace) {

  private val staging = conf("staging")
  private val landing = s"$work/landing"
  private val batches = conf.int("batches")
  private val maintEvery = conf.int("maint_every")
  private val keep = conf.int("keep")
  private val warmRounds = conf.int("warm_rounds")
  private val hotKeys = conf("hot_keys")
  private var wh = ""
  private def cow = s"$wh/orders_cow"
  private def mor = s"$wh/orders_mor"
  private val session = Engine.connect(spark)
  private val reader = Engine.connect(spark)
  // CoW version committed by each batch (-1 = the landed base)
  private val versionOf = scala.collection.mutable.Map[Int, Long]()
  @volatile private var roundOp = 0L
  @volatile private var drainSpan = 0L

  private val rowSchema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DecimalType(12, 2))))
  private val envSchema = StructType(Seq(
    StructField("before", rowSchema), StructField("after", rowSchema),
    StructField("op", StringType),
    StructField("source", StructType(Seq(StructField("lsn", LongType)))),
    StructField("ts_ms", LongType)))

  private def land(i: Int): Unit = {
    wh = s"$work/warehouse$i"
    val base = spark.read.parquet(s"$data/orders.parquet").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice").cast(DecimalType(12, 2)).as("o_totalprice"),
      lit(0L).as("lsn"))
    trace.span("sources.land") {
      Snapshots.commit(base.withColumn("deleted", lit(false)), cow)
      Mor.land(base, mor)
    }
  }

  private def applyBatch(batch: Dataset[Row], batchId: Long): Unit = {
    trace.adopt(roundOp, drainSpan)
    trace.batchOf(batchId, roundOp)
    trace.span("streaming.batch") {
      def pick(c: String) = coalesce(col(s"after.$c"), col(s"before.$c")).as(c)
      val flat = batch.select(pick("o_orderkey"), pick("o_custkey"), pick("o_orderstatus"),
        pick("o_totalprice"), col("source.lsn").as("lsn"), (col("op") === "d").as("deleted"))
      // last writer wins inside the batch: hot keys repeat
      val reduced = flat.groupBy(col("o_orderkey"))
        .agg(max_by(struct(flat.columns.map(col).toSeq: _*), col("lsn")).as("w"))
        .select(col("w.*"))
      val tag = Some(s"batch=$batchId")
      trace.span("sources.merge") {
        Snapshots.mergeWith(batch.sparkSession, cow, reduced, tag)(
          Merge.cdcApply(_, _, Seq("o_orderkey"), Seq("lsn"), "deleted"))
      }
      trace.span("sources.mor_upsert") {
        Mor.upsert(mor, reduced, Seq("o_orderkey"), "deleted", tag)
      }
    }
  }

  private def readSql(round: Int): (String, String, Int) = round % 4 match {
    case 0 => ("agg_cow", "SELECT COUNT(*) AS n_live, SUM(o_totalprice) AS revenue, " +
      "COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_finished, MAX(lsn) AS max_lsn " +
      "FROM orders_cow WHERE NOT deleted", round)
    case 1 => ("agg_mor", "SELECT COUNT(*) AS n_live, SUM(o_totalprice) AS revenue, " +
      "COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_finished, MAX(lsn) AS max_lsn " +
      "FROM orders_mor", round)
    case 2 =>
      val (t, live) = if ((round / 4) % 2 == 0) ("orders_mor", "") else ("orders_cow", " AND NOT deleted")
      (s"point_${t.drop(7)}", "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, lsn " +
        s"FROM $t WHERE o_orderkey IN ($hotKeys)$live", round)
    case _ =>
      val b = math.max(-1, round - 2)
      ("travel", s"SELECT COUNT(*) AS n_live, SUM(o_totalprice) AS revenue " +
        s"FROM orders_cow VERSION AS OF ${versionOf(b)} WHERE NOT deleted", b)
  }

  /** One round: land batch `b`, drain it into both tables, maybe
    * maintain, then read back.
    */
  private def round(b: Int, phase: String): Unit = {
    val id = out.nextId()
    roundOp = id
    val (r, t0, t1) = timedOp(id) {
      Files.move(Paths.get(staging, f"batch_$b%05d.json"),
        Paths.get(landing, f"batch_$b%05d.json"), StandardCopyOption.ATOMIC_MOVE)
      trace.span("streaming.drain") {
        drainSpan = trace.currentSpan
        query.processAllAvailable()
      }
      if ((b + 1) % maintEvery == 0) {
        trace.span("sources.compact")(Mor.compact(session, mor))
        trace.span("sources.expire")(Snapshots.expireSnapshots(cow, keep))
      }
    }
    // expiry keeps the newest snapshots, so the head is still this batch's
    versionOf(b) = Snapshots.versions(cow).last
    out.rec("id" -> id, "phase" -> phase, "kind" -> "commit", "key" -> s"batch$b",
      "batch" -> b, "t0" -> t0, "t1" -> t1, "ok" -> r.isRight,
      "maint" -> ((b + 1) % maintEvery == 0), "err" -> r.left.toOption.map(err))
    val rid = out.nextId()
    val (kind, sql, asOf) = readSql(b)
    val (rr, r0, r1) = timedOp(rid) {
      trace.span("Engine.open")(Engine.openWarehouse(reader, wh))
      planAndRun("Engine")(Engine.sqlWarehouse(reader, wh, sql))
    }
    if (trace.on) {
      val cs = Mor.commits(mor)
      val pending = cs.drop(math.max(0, cs.lastIndexWhere(_.kind == "compact")))
        .count(_.kind == "delete")
      out.rec("id" -> rid, "phase" -> "probe", "kind" -> "pending", "key" -> s"batch$b",
        "pending_deletes" -> pending, "data_files" -> (Proc.du(cow, ".parquet")._2 +
          Proc.du(mor, ".parquet")._2))
    }
    out.rec("id" -> rid, "phase" -> phase, "kind" -> "read", "key" -> kind, "batch" -> b,
      "as_of" -> asOf, "t0" -> r0, "t1" -> r1, "ok" -> rr.isRight,
      "digest" -> rr.toOption.map { case (c, rows) => Digest(c, rows) },
      "err" -> rr.left.toOption.map(err))
  }

  private var query: org.apache.spark.sql.streaming.StreamingQuery = _

  def run(): Unit = {
    setupReps(3) { i => land(i) }
    (0 until 2).foreach(i => Proc.rmrf(s"$work/warehouse$i"))
    versionOf(-1) = Snapshots.versions(cow).last
    Files.createDirectories(Paths.get(landing))
    trace.watchStreams(session)
    query = session.readStream.schema(envSchema).json(landing)
      .writeStream
      .option("checkpointLocation", s"$work/checkpoint")
      .foreachBatch((b: Dataset[Row], id: Long) => applyBatch(b, id))
      .start()
    warmup((0 until warmRounds).foreach(b => round(b, "warm")))
    trace.openWindow()
    val until = deadline()
    val t0 = System.nanoTime()
    out.meta("loop_start_ns", t0)
    var b = warmRounds
    while (more(until, b - warmRounds) && b < batches) {
      round(b, "timed")
      b += 1
    }
    out.meta("loop_wall_s", (System.nanoTime() - t0) / 1e9)
    trace.closeWindow()
    query.stop()
    out.meta("batches_applied", b)
    // the final state of both tables, live rows only
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "lsn")
    def digest(df: DataFrame) = {
      val d = df.select(cols.map(col): _*)
      Digest(d.columns.toSeq, d.collect())
    }
    out.meta("final_cow", digest(Snapshots.read(spark, cow).filter(!col("deleted"))))
    out.meta("final_mor", digest(Mor.read(spark, mor)))
    val (bytes, files) = Proc.du(wh, ".parquet")
    out.meta("warehouse_bytes", bytes)
    out.meta("data_files", files)
    out.meta("cow_versions", Snapshots.versions(cow).size)
    out.meta("mor_commits", Mor.commits(mor).size)
  }
}

/** corpus_clean: a closed loop of full cleaning passes over the
  * generated corpus — the corpus DAG through the pipeline Runner into
  * a fresh warehouse, then the n-gram Jaccard and MinHash-LSH dedup
  * operators, fingerprinting and quality scoring.
  */
final class CorpusClean(spark: SparkSession, conf: Conf, out: Out, trace: Trace)
    extends Workload(spark, conf, out, trace) {

  private val corpus = conf("corpus")

  private val stages: Seq[(String, (String, String) => (Seq[String], Array[Row]))] = Seq(
    "p18_corpus_pipeline" -> { (dir, wh) =>
      val runner = new Runner(spark, wh)
      val built = trace.span("pipeline.run") {
        runner.run(CorpusDag.models, Map("documents" -> graft.Tables(spark, dir, "documents")))
      }
      trace.count("models_built", built.size)
      planAndRun("pipeline")(runner.readModel("corpus_mart"))
    },
    "d02_ngram_jaccard" -> ((dir, _) => planAndRun("operators")(Dedup.d02NgramJaccard(spark, dir))),
    "d03_minhash_lsh" -> ((dir, _) => planAndRun("operators")(Dedup.d03MinhashLsh(spark, dir))),
    "t04_fingerprint" -> ((dir, _) => planAndRun("operators")(TextAnalysis.t04Fingerprint(spark, dir))),
    "t02_quality_score" -> ((dir, _) => planAndRun("operators")(TextAnalysis.t02QualityScore(spark, dir))))

  /** One full cleaning pass over `dir`; the pipeline gets a fresh warehouse. */
  private def pass(p: Int, dir: String, phase: String): Unit = {
    stages.foreach { case (name, f) => stage(name, f, p, dir, phase) }
    Proc.rmrf(s"$work/corpus_wh$p")
  }

  private def stage(name: String, f: (String, String) => (Seq[String], Array[Row]), p: Int,
      dir: String, phase: String): Unit = {
    val id = out.nextId()
    val (r, t0, t1) = timedOp(id)(f(dir, s"$work/corpus_wh$p"))
    val extra = r.toOption.filter(_ => name == "d03_minhash_lsh").map { case (cols, rows) =>
      val i = cols.indexOf("n_candidates")
      rows.map(_.getLong(i)).sum
    }
    out.rec("id" -> id, "phase" -> phase, "kind" -> "stage", "key" -> name, "pass" -> p,
      "t0" -> t0, "t1" -> t1, "ok" -> r.isRight,
      "digest" -> r.toOption.map { case (c, rows) => Digest(c, rows) },
      "n_candidates" -> extra, "err" -> r.left.toOption.map(err))
  }

  def run(): Unit = {
    warmup(pass(0, s"$warm/corpus", "warm"))
    setupReps(3) { _ =>
      trace.span("sources.read")(graft.Tables(spark, corpus, "documents").count())
    }
    trace.openWindow()
    val until = deadline()
    val t0 = System.nanoTime()
    out.meta("loop_start_ns", t0)
    var p = 1
    var go = true
    while (go) {
      pass(p, corpus, "timed")
      go = more(until, p)
      p += 1
    }
    out.meta("loop_wall_s", (System.nanoTime() - t0) / 1e9)
    trace.closeWindow()
  }
}
