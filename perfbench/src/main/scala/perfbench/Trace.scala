package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans around the benchmark's calls into each library layer, plus
  * Spark's own listener and progress events and the JVM's GC
  * notifications, attributed to the op that caused them.
  *
  * With tracing off every method is a pass-through and no listener is
  * registered. With it on, spans and per-op counters stay in memory
  * and are written once, by [[write]], when the run ends.
  *
  * Attribution: [[beginOp]] sets the Spark local property
  * [[OpProperty]] on the calling thread, so the jobs it submits carry
  * the op id to the listener. Code that runs on another thread on the
  * op's behalf (a streaming `foreachBatch` body) calls [[adopt]].
  */
final class Trace(val on: Boolean) {
  import Trace._

  private val spanIds = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Array[Long]]()
  private val names = new ConcurrentHashMap[String, java.lang.Long]()
  private val nameList = new java.util.concurrent.CopyOnWriteArrayList[String]()
  private val curOp = new ThreadLocal[java.lang.Long] { override def initialValue = 0L }
  private val curSpan = new ThreadLocal[java.lang.Long] { override def initialValue = 0L }
  private var sc: org.apache.spark.SparkContext = _

  // per-op counters: op id -> counter name -> value
  private val ops = new ConcurrentHashMap[Long, ConcurrentHashMap[String, LongAdder]]()
  private val jobIntervals = new ConcurrentHashMap[Long, java.util.concurrent.ConcurrentLinkedQueue[Array[Long]]]()
  private val jobOp = new ConcurrentHashMap[Int, Long]()
  private val stageOp = new ConcurrentHashMap[Int, Long]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()
  private val stageFirstLaunch = new ConcurrentHashMap[Int, Long]()
  private val batchOp = new ConcurrentHashMap[Long, Long]()
  private val blocks = new ConcurrentHashMap[String, Long]()
  private val cacheBytes = new AtomicLong(0)
  private val cachePeak = new AtomicLong(0)
  private val gcPauseMs = new AtomicLong(0)
  private val heapAfterGcPeak = new AtomicLong(0)
  private val overheadNs = new AtomicLong(0)
  @volatile private var window = false

  private def add(op: Long, key: String, v: Long): Unit = if (op > 0) {
    ops.computeIfAbsent(op, _ => new ConcurrentHashMap[String, LongAdder]())
      .computeIfAbsent(key, _ => new LongAdder).add(v)
  }

  /** Count `v` against the current thread's op (no-op when off). */
  def count(key: String, v: Long): Unit = if (on) add(curOp.get, key, v)

  /** Make `op` the calling thread's op (0 = none) for spans and jobs. */
  def beginOp(op: Long): Unit = {
    if (on) {
      curOp.set(op)
      curSpan.set(0L)
      sc.setLocalProperty(OpProperty, if (op > 0) op.toString else null)
    }
  }

  /** Run on a helper thread on behalf of `op`, under span `parent`. */
  def adopt(op: Long, parent: Long): Unit = if (on) {
    beginOp(op)
    curSpan.set(parent)
  }

  def currentSpan: Long = if (on) curSpan.get else 0L

  /** Timed scopes count only between [[openWindow]] and [[closeWindow]]. */
  def openWindow(): Unit = window = true
  def closeWindow(): Unit = window = false

  def span[A](name: String)(f: => A): A =
    if (!on) f
    else {
      val id = spanIds.incrementAndGet()
      val parent = curSpan.get
      val op = curOp.get
      curSpan.set(id)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        curSpan.set(parent)
        spans.add(Array(id, parent, op, nameId(name), t0, t1))
      }
    }

  private def nameId(n: String): Long = names.computeIfAbsent(n, k => {
    nameList.synchronized { nameList.add(k); (nameList.size - 1).toLong }
  })

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally overheadNs.addAndGet(System.nanoTime() - t0)
  }

  /** Map a micro-batch id to the op that drains it. */
  def batchOf(batchId: Long, op: Long): Unit = if (on) batchOp.put(batchId, op)

  def install(spark: SparkSession): Unit = if (on) {
    sc = spark.sparkContext
    sc.addSparkListener(new Listener)
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(new GcListener, null, null)
      case _ =>
    }
  }

  /** Streaming progress events go to the session that started the query. */
  def watchStreams(session: SparkSession): Unit =
    if (on) session.streams.addListener(new StreamListener)

  private final class Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty)))
        .map(_.toLong).getOrElse(0L)
      if (op > 0) {
        jobOp.put(e.jobId, op)
        jobStart.put(e.jobId, e.time)
        e.stageIds.foreach(s => stageOp.putIfAbsent(s, op))
        add(op, "jobs", 1)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      val op = jobOp.getOrDefault(e.jobId, 0L)
      if (op > 0) jobIntervals
        .computeIfAbsent(op, _ => new java.util.concurrent.ConcurrentLinkedQueue[Array[Long]]())
        .add(Array(jobStart.getOrDefault(e.jobId, e.time), e.time))
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
      val s = e.stageInfo.stageId
      val op = stageOp.getOrDefault(s, 0L)
      if (op > 0) {
        add(op, "stages", 1)
        stageSubmit.put(s, e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
      }
    }

    override def onTaskStart(e: SparkListenerTaskStart): Unit = timed {
      val op = stageOp.getOrDefault(e.stageId, 0L)
      if (op > 0 && stageFirstLaunch.putIfAbsent(e.stageId, e.taskInfo.launchTime) == null) {
        val sub = stageSubmit.getOrDefault(e.stageId, e.taskInfo.launchTime)
        add(op, "sched_wait_ms", math.max(0L, e.taskInfo.launchTime - sub))
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val op = stageOp.getOrDefault(e.stageId, 0L)
      val m = e.taskMetrics
      if (op > 0) {
        add(op, "tasks", 1)
        if (m != null) {
          add(op, "task_run_ms", m.executorRunTime)
          add(op, "task_cpu_ns", m.executorCpuTime)
          add(op, "task_gc_ms", m.jvmGCTime)
          add(op, "shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
          add(op, "shuffle_read_b", m.shuffleReadMetrics.totalBytesRead)
          add(op, "spill_b", m.memoryBytesSpilled + m.diskBytesSpilled)
          add(op, "input_b", m.inputMetrics.bytesRead)
          add(op, "output_b", m.outputMetrics.bytesWritten)
          add(op, "output_rows", m.outputMetrics.recordsWritten)
        }
      }
    }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = timed {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val now = if (info.storageLevel.isValid) info.memSize else 0L
        val before = Option(blocks.put(info.blockId.name, now)).getOrElse(0L)
        val total = cacheBytes.addAndGet(now - before)
        if (window) cachePeak.accumulateAndGet(total, math.max)
      }
    }
  }

  private final class StreamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = timed {
      val p = e.progress
      val op = batchOp.getOrDefault(p.batchId, 0L)
      if (op > 0) {
        val d = p.durationMs.asScala
        add(op, "batches", 1)
        add(op, "input_rows", p.numInputRows)
        Seq("walCommit" -> "wal_commit_ms", "queryPlanning" -> "query_planning_ms",
          "latestOffset" -> "latest_offset_ms").foreach { case (k, n) =>
          add(op, n, d.get(k).map(_.longValue).getOrElse(0L))
        }
      }
    }
  }

  private final class GcListener extends NotificationListener {
    override def handleNotification(n: Notification, hb: Any): Unit = timed {
      if (window && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        // concurrent cycles run beside the application; only pauses stop it
        if (!info.getGcName.contains("Concurrent")) {
          gcPauseMs.addAndGet(info.getGcInfo.getDuration)
          val heap = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
            case (pool, u) if HeapPools.exists(pool.contains) => u.getUsed
          }.sum
          heapAfterGcPeak.accumulateAndGet(heap, math.max)
        }
      }
    }
  }

  /** Everything recorded, as one JSON document (no-op when off). */
  def write(path: Path): Unit = if (on) {
    val body = Json.render(Map(
      "names" -> nameList.asScala.toSeq,
      "spans" -> spans.asScala.toSeq.map(_.toSeq),
      "ops" -> ops.asScala.map { case (op, m) =>
        op.toString -> m.asScala.map { case (k, v) => k -> v.sum() }
      },
      "job_intervals_ms" -> jobIntervals.asScala.map { case (op, q) =>
        op.toString -> q.asScala.toSeq.map(_.toSeq)
      },
      "gc_pause_ms" -> gcPauseMs.get,
      "heap_after_gc_peak_b" -> heapAfterGcPeak.get,
      "cache_peak_b" -> cachePeak.get,
      "overhead_ns" -> overheadNs.get))
    Files.write(path, body.getBytes(UTF_8))
  }
}

object Trace {
  val OpProperty = "perfbench.op"
  private val HeapPools = Seq("Eden", "Survivor", "Old", "Tenured")
}
