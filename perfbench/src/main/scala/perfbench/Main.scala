package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

/** One benchmark run inside one JVM: `Main <conf file>`.
  *
  * run.py writes the conf (workload, input paths, seconds, trace flag,
  * core count), starts this JVM, and afterwards reads what it leaves in
  * `out`: `ops.jsonl` (one record per op, with an output digest),
  * `meta.json` (set-up timings, peak RSS) and, for a traced run,
  * `trace.json`. Percentiles, throughput and the reference checks are
  * computed by run.py from those files.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val conf = Conf.load(args(0))
    val out = new Out(conf("out"))
    val trace = new Trace(conf.bool("trace"))
    val spark = Session.start(conf)
    out.meta("jvm_to_session_s",
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3)
    trace.install(spark)
    try {
      conf("workload") match {
        case "mart_sql" => new MartSql(spark, conf, out, trace).run()
        case "cdc_ingest" => new CdcIngest(spark, conf, out, trace).run()
        case "corpus_clean" => new CorpusClean(spark, conf, out, trace).run()
        case w => sys.error(s"unknown workload $w")
      }
      // the library's own DuckDB spellings of the programs this run called
      val wanted = conf("oracles").split(',').filter(_.nonEmpty).toSet
      out.write("oracles.json", Json.render(graft.SparkEntry.oracleSql.filter(kv => wanted(kv._1))))
      out.meta("peak_rss_mb", Proc.peakRssMb())
      trace.write(out.dir.resolve("trace.json"))
      out.finish()
    } finally spark.stop()
  }
}

/** `key=value` lines written by run.py. */
final class Conf(kv: Map[String, String]) {
  def apply(k: String): String = kv.getOrElse(k, sys.error(s"conf lacks $k"))
  def int(k: String): Int = apply(k).toInt
  def bool(k: String): Boolean = apply(k) == "1"
}

object Conf {
  def load(path: String): Conf = new Conf(
    Files.readAllLines(Paths.get(path), UTF_8).asScala
      .filter(_.contains('='))
      .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap)
}

object Session {
  def start(conf: Conf): SparkSession = {
    val cores = conf("cores")
    val work = conf("work")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config(graft.streaming.EventStream.STREAM_SHUFFLE_KEY, cores)
      // same session settings graft's own mains use
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1048576")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

object Proc {
  /** The process's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  /** Bytes and regular-file count under `dir`. */
  def du(dir: String, suffix: String = ""): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) return (0L, 0L)
    val s = Files.walk(p)
    try {
      val fs = s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (fs.map(Files.size).sum, fs.count(_.toString.endsWith(suffix)).toLong)
    } finally s.close()
  }

  def rmrf(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Minimal JSON rendering for the records this harness writes. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${render(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(render).mkString("[", ",", "]")
    case x => str(x.toString)
  }
}

/** Op ids, the op records and the run's meta facts. Records are kept in
  * memory and written when the run ends.
  */
final class Out(outDir: String) {
  val dir: Path = Paths.get(outDir)
  Files.createDirectories(dir)
  private val ids = new AtomicLong(0)
  private val recs = new ConcurrentLinkedQueue[String]()
  private val facts = new java.util.concurrent.ConcurrentHashMap[String, Any]()

  def nextId(): Long = ids.incrementAndGet()
  def rec(fields: (String, Any)*): Unit = recs.add(Json.render(fields.toMap))
  def meta(k: String, v: Any): Unit = facts.put(k, v)

  def write(name: String, body: String): Unit =
    Files.write(dir.resolve(name), body.getBytes(UTF_8))

  def finish(): Unit = {
    write("ops.jsonl", recs.asScala.mkString("", "\n", "\n"))
    write("meta.json", Json.render(facts.asScala))
  }
}

/** Order-independent digest of a result, reproduced by check.py from
  * the reference engine's rows. Columns are taken in name order; each
  * value is rendered canonically (integral numbers as integers,
  * other doubles by their bit pattern, decimals through their double,
  * strings length-prefixed, dates ISO, timestamps as epoch micros);
  * each row's MD5 contributes its first 8 bytes, summed mod 2^64.
  */
object Digest {
  def apply(columns: Seq[String], rows: Array[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2).toArray
    val md = MessageDigest.getInstance("MD5")
    val sb = new java.lang.StringBuilder
    var sum = 0L
    rows.foreach { r =>
      sb.setLength(0)
      var i = 0
      while (i < order.length) {
        if (i > 0) sb.append('\u001f')
        value(sb, r.get(order(i)))
        i += 1
      }
      val h = md.digest(sb.toString.getBytes(UTF_8))
      sum += java.nio.ByteBuffer.wrap(h, 0, 8).order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
    }
    f"${rows.length}%d:${java.lang.Long.toUnsignedString(sum)}%s"
  }

  private def num(sb: java.lang.StringBuilder, d: Double): Unit =
    if (d.isNaN) sb.append("NaN")
    else if (d.isInfinite) sb.append(if (d > 0) "inf" else "-inf")
    else if (d == math.rint(d) && math.abs(d) < 9.007199254740992e15) sb.append(d.toLong)
    else sb.append('d').append(java.lang.Double.doubleToRawLongBits(d))

  private def value(sb: java.lang.StringBuilder, v: Any): Unit = v match {
    case null => sb.append("\\N")
    case b: Boolean => sb.append(b)
    case x: Byte => sb.append(x.toLong)
    case x: Short => sb.append(x.toLong)
    case x: Int => sb.append(x.toLong)
    case x: Long => sb.append(x)
    case x: Float => num(sb, x.toDouble)
    case x: Double => num(sb, x)
    case x: java.math.BigDecimal => num(sb, x.doubleValue)
    case x: scala.math.BigDecimal => num(sb, x.toDouble)
    case s: String => sb.append('s').append(s.length).append(':').append(s)
    case d: java.sql.Date => sb.append('D').append(d.toLocalDate.toString)
    case d: java.time.LocalDate => sb.append('D').append(d.toString)
    case t: java.sql.Timestamp =>
      val i = t.toInstant
      sb.append('T').append(i.getEpochSecond * 1000000L + i.getNano / 1000)
    case t: java.time.LocalDateTime =>
      sb.append('T').append(t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
        t.getNano / 1000)
    case t: java.time.Instant =>
      sb.append('T').append(t.getEpochSecond * 1000000L + t.getNano / 1000)
    case xs: Array[Byte] => sb.append('x').append(xs.map(b => f"$b%02x").mkString)
    case xs: collection.Seq[_] =>
      sb.append('[')
      xs.zipWithIndex.foreach { case (x, i) => if (i > 0) sb.append(','); value(sb, x) }
      sb.append(']')
    case x => sb.append('?').append(x.toString)
  }
}
