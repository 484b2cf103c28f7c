package graft.streaming

import java.nio.ByteBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Exact.dsum

/** One Kafka-wire record of the Confluent-framed Avro topic. */
case class AvroWireRec(key: Array[Byte], value: Array[Byte], topic: String,
  partition: Int, offset: Long, ts_us: Long)

/** One decoded CDC row (reader-schema view + provenance). */
case class AvroDecoded(user_id: Long, event_id: Long, value: Double,
  event_type: String, schema_id: Int)

/** CONFLUENT-STYLE AVRO + SCHEMA REGISTRY CDC decode — the common
  * production wire format the reference's Kafka Connect stack speaks
  * (docker/kafka-connect: Confluent converters post each record as
  * `[0x00 magic][4-byte BE schema id][avro binary]`, schemas resolved
  * against a registry). st06 covers the JSON Debezium envelope; this
  * is the binary sibling, including the part that actually bites in
  * production: SCHEMA EVOLUTION — a topic holding records written
  * under TWO schema versions, decoded through the latest READER
  * schema (avro resolution fills the added field's default for
  * v1-written records).
  *
  * No spark-avro module ships in this container (only avro core), so
  * the decode runs as a per-partition `mapPartitions` deserializer —
  * exactly the kafka-consumer deserializer shape: readers are built
  * once per (partition, writer-schema) and reused row-by-row; the
  * payload bytes never shuffle. At 100 TB of topic this is
  * embarrassingly parallel map work; the first wide operation is the
  * post-decode aggregate.
  */
object AvroCdc {

  /** The registry: schema id → schema JSON. v2 adds `event_type` with
    * a default — the canonical backward-compatible evolution.
    */
  val Registry: Map[Int, String] = Map(
    1 ->
      """{"type":"record","name":"Event","fields":[
        |{"name":"user_id","type":"long"},
        |{"name":"event_id","type":"long"},
        |{"name":"value","type":"double"}]}""".stripMargin,
    2 ->
      """{"type":"record","name":"Event","fields":[
        |{"name":"user_id","type":"long"},
        |{"name":"event_id","type":"long"},
        |{"name":"value","type":"double"},
        |{"name":"event_type","type":"string","default":"(v1-default)"}]}"""
        .stripMargin)

  /** Latest version — the reader schema consumers decode through. */
  val LatestId = 2

  /** Frame an avro payload Confluent-style. */
  private def frame(schemaId: Int, payload: Array[Byte]): Array[Byte] = {
    val out = ByteBuffer.allocate(5 + payload.length)
    out.put(0: Byte).putInt(schemaId).put(payload)
    out.array()
  }

  /** st20: wire-encode the events changelog under BOTH schema
    * versions (even event_ids as v1, odd as v2 — a mixed-version
    * topic, the steady state of any evolving producer fleet), stream
    * it back, decode through the registry with the LATEST reader
    * schema, and roll up. The oracle restates the decode from the raw
    * table: v1-written rows must surface the reader default for the
    * added field, v2-written rows their real value — wire-encode →
    * registry-decode → aggregate loses nothing.
    */
  def st20AvroCdc(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.avro.Schema
    import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
    import org.apache.avro.io.{DecoderFactory, EncoderFactory}

    val s = org.apache.spark.sql.GraftShims.cloneWithConf(spark)
    import s.implicits._

    // 1. PRODUCE: land the topic as Confluent-framed Avro records
    val src = graft.Tables(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("value"),
        coalesce(col("event_type"), lit("(null)")).as("event_type"),
        unix_micros(col("ts")).as("ts_us"))
    val registry = Registry // serializable map of JSON strings
    val topic = src.as[(Long, Long, Double, String, Long)].mapPartitions { it =>
      val schemas = registry.map { case (id, j) =>
        id -> new Schema.Parser().parse(j)
      }
      val writers = schemas.map { case (id, sch) =>
        id -> new GenericDatumWriter[GenericRecord](sch)
      }
      val buf = new java.io.ByteArrayOutputStream()
      it.map { case (userId, eventId, value, eventType, tsUs) =>
        val id = if (eventId % 2 == 0) 1 else 2
        val rec = new GenericData.Record(schemas(id))
        rec.put("user_id", userId)
        rec.put("event_id", eventId)
        rec.put("value", value)
        if (id == 2) rec.put("event_type", eventType)
        buf.reset()
        val enc = EncoderFactory.get().binaryEncoder(buf, null)
        writers(id).write(rec, enc)
        enc.flush()
        AvroWireRec(userId.toString.getBytes("UTF-8"), frame(id, buf.toByteArray),
          "graft.cdc.events.avro", (userId % 8).toInt, eventId, tsUs)
      }
    }
    val path = graft.TempDirs.scratch("graft-avro-topic")
    topic.toDF().repartition(8).write.mode("overwrite").parquet(path)

    // 2. CONSUME: stream the topic, registry-decode per partition
    val wireSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("key",
        org.apache.spark.sql.types.BinaryType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.BinaryType),
      org.apache.spark.sql.types.StructField("topic",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("partition",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("offset",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts_us",
        org.apache.spark.sql.types.LongType)))
    val latestId = LatestId
    val decoded = s.readStream.schema(wireSchema).parquet(path)
      .select(col("value")).as[Array[Byte]]
      .mapPartitions { it =>
        val schemas = registry.map { case (id, j) =>
          id -> new Schema.Parser().parse(j)
        }
        val readerSchema = schemas(latestId)
        // one reader per writer schema, resolved against the latest
        // reader schema ONCE, reused for every record
        val readers = schemas.map { case (id, ws) =>
          id -> new GenericDatumReader[GenericRecord](ws, readerSchema)
        }
        it.map { bytes =>
          require(bytes(0) == 0, s"bad Confluent magic byte: ${bytes(0)}")
          val id = ByteBuffer.wrap(bytes, 1, 4).getInt
          val dec = DecoderFactory.get()
            .binaryDecoder(bytes, 5, bytes.length - 5, null)
          val rec = readers(id).read(null, dec)
          AvroDecoded(
            rec.get("user_id").asInstanceOf[Long],
            rec.get("event_id").asInstanceOf[Long],
            rec.get("value").asInstanceOf[Double],
            rec.get("event_type").toString,
            id)
        }
      }
    s.catalog.dropTempView("st20_out")
    locally {
      val q = decoded.writeStream
        .outputMode("append")
        .format("memory")
        .queryName("st20_out")
        .start()
      try q.processAllAvailable() finally q.stop()
    }

    // 3. rollup: the decoded view, provenance-split by writer schema
    s.table("st20_out")
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        dsum(col("value"), 4).as("total_value"),
        count(when(col("schema_id") === 1, 1)).as("n_v1_writer"),
        count(when(col("schema_id") === 2, 1)).as("n_v2_writer"))
      .orderBy(col("event_type"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st20_avro_cdc" -> (st20AvroCdc _))

  val oracles: Map[String, String] = Map(
    // the decode restated: even event_ids were WRITTEN v1 → the reader
    // default surfaces; odd carried their real (null-coalesced) type
    "st20_avro_cdc" ->
      """WITH d AS (
        |  SELECT user_id, event_id, value,
        |    CASE WHEN event_id % 2 = 0 THEN '(v1-default)'
        |         ELSE COALESCE(event_type, '(null)') END AS event_type,
        |    CASE WHEN event_id % 2 = 0 THEN 1 ELSE 2 END AS schema_id
        |  FROM events)
        |SELECT event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
        |  COUNT(CASE WHEN schema_id = 1 THEN 1 END) AS n_v1_writer,
        |  COUNT(CASE WHEN schema_id = 2 THEN 1 END) AS n_v2_writer
        |FROM d GROUP BY 1 ORDER BY event_type""".stripMargin)
}
