package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.{FileMetaData, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}

/** Parquet reads that plan without a Spark job: Spark's schema
  * inference submits one to read file footers on every
  * `spark.read.parquet(path)`. [[read]] takes the footer of the
  * table's first data file on the driver and converts it exactly as
  * inference does (the Spark schema stored there, else the converted
  * parquet schema, under the session's parquet confs), memoized per
  * immutable directory (a published `v=N`/`c=N` commit, NOT a growing
  * one) or per file version (path, length, modification time). A path
  * that is missing or has no data file falls back to inference.
  */
object ParquetSchemas {
  private val footers = new java.util.concurrent.ConcurrentHashMap[String, FileMetaData]()

  /** Exact row count of a parquet directory from the file footers
    * (sum of record counts) — no Spark job, no data pages read. For
    * immutable commit directories this equals `read(path).count()`.
    */
  def rowCount(spark: SparkSession, path: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    dataFiles(conf, path).map(f => withReader(conf, f)(_.getRecordCount)).sum
  }

  def read(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val key = Option.when(fs.exists(root))(fs.getFileStatus(root))
      .map(st => if (st.isFile) s"$path|${st.getLen}|${st.getModificationTime}" else path)
    val meta = key.flatMap(k => Option(footers.get(k)).orElse(dataFiles(conf, path).nextOption()
      .map(f => footers.computeIfAbsent(k, _ => withReader(conf, f)(_.getFooter.getFileMetaData)))))
    meta.fold(spark.read.parquet(path))(m => spark.read.schema(ParquetFileFormat.readSchemaFromFooter(
      new Footer(root, new ParquetMetadata(m, java.util.Collections.emptyList())),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))).parquet(path))
  }

  /** The table's data files (hidden `_`/`.` files skipped, as Spark does). */
  private def dataFiles(conf: Configuration, path: String): Iterator[Path] = {
    val files = new Path(path).getFileSystem(conf).listFiles(new Path(path), true)
    Iterator.continually(files).takeWhile(_.hasNext).map(_.next().getPath).filter { f =>
      val n = f.getName
      n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
    }
  }

  private def withReader[T](conf: Configuration, f: Path)(use: ParquetFileReader => T): T = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
    try use(reader) finally reader.close()
  }
}
