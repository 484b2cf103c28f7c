package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Typed metadata produced by the (stubbed) media decoder. */
case class MediaMeta(doc_id: Long, byte_len: Int, width: Int, height: Int, checksum: Long)

/** Typed output of the (stubbed) batched resize/feature pipeline.
  * The 8-lane byte-histogram travels as exact integer lane sums
  * (csv-encoded — scalar columns keep the result sortable/hashable by
  * the gate, and integer sums are accumulation-order-independent so
  * the oracle can match bit-for-bit); the norm is derived with one
  * sqrt + one division, both single IEEE ops.
  */
case class MediaFeature(doc_id: Long, in_w: Long, in_h: Long, out_w: Long, out_h: Long,
  scale_x: Double, scale_y: Double, feat_sums: String, feat_norm: Double)

/** Multimodal-column plumbing: media payloads travel as opaque
  * `binary` columns with typed metadata alongside. The real decode
  * (image/audio libs) is absent from this container, so the decoder is
  * a clearly-marked deterministic STUB — but the Spark-side shape
  * (binary column, per-partition batched decode, typed output schema)
  * is the real 100 TB pattern.
  */
object Multimodal {

  /** m01: binary payload column + deterministic stub "decode" to
    * typed metadata, as pure column expressions (oracle-checkable).
    */
  def m01MediaMeta(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .withColumn("payload", col("text").cast("binary"))
      .select(
        col("doc_id"),
        when(pmod(col("n_chars"), lit(3)) === 0, "image")
          .when(pmod(col("n_chars"), lit(3)) === 1, "audio")
          .otherwise("video").as("media_type"),
        length(col("payload")).cast("long").as("byte_len"),
        (pmod(col("n_chars"), lit(317)) + 32).cast("long").as("fake_width"),
        (pmod(col("n_chars") * 7, lit(211)) + 32).cast("long").as("fake_height"),
        base64(substring(col("text"), 1, 16).cast("binary")).as("head_b64"))
      .orderBy(col("doc_id"))

  /** Per-partition batched decoder over (id, payload) pairs — the
    * `mapPartitions` shape a real decoder plugs into (amortizes
    * per-batch init: codec contexts, model weights, etc.).
    *
    * STUB: real decode needs image/audio libraries not present in
    * this container; metadata is derived deterministically from the
    * payload bytes instead.
    */
  def decodeBatch(spark: SparkSession, payloads: Dataset[(Long, Array[Byte])]): Dataset[MediaMeta] = {
    import spark.implicits._
    payloads.mapPartitions { it =>
      // per-partition init would go here (codec context, etc.)
      it.map { case (id, bytes) =>
        val len = bytes.length
        var h = 1125899906842597L
        var i = 0
        while (i < len) { h = 31L * h + bytes(i); i += 1 }
        MediaMeta(id, len, 32 + (len % 317), 32 + ((len * 7) % 211), h)
      }
    }
  }

  /** m02: frame-sampling plumbing — fixed-stride "frames" (16-byte
    * slice every 64 bytes) from the payload, fingerprinted per frame,
    * digested per doc. The array stays row-local (no explode shuffle);
    * a real video pipeline swaps the md5 for a decoder call with the
    * identical batch shape.
    */
  def m02FrameSample(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .withColumn("frames", expr(
        "transform(sequence(0, (n_chars - 1) div 64), i -> md5(cast(substring(text, cast(i*64+1 AS INT), 16) as binary)))"))
      .select(
        col("doc_id"),
        size(col("frames")).cast("long").as("n_frames"),
        element_at(col("frames"), 1).as("first_frame_md5"),
        md5(array_join(col("frames"), "").cast("binary")).as("frames_digest"))
      .orderBy(col("doc_id"))

  /** m03: batched resize + feature-extract — the full typed
    * mapPartitions pipeline a real vision preprocessor uses: payloads
    * arrive as binary, each partition processes FIXED-SIZE BATCHES of
    * 32 (the shape GPU/codec APIs want; per-batch init amortized), and
    * emits typed rows: resize scale factors to a 64×64 target + an
    * 8-dim byte-histogram "feature vector" with its norm.
    *
    * STUB: the pixel decode is deterministic byte math (image libs
    * absent from this container) — the schema, batch shape, and
    * partition-parallel structure are the real 100 TB pattern.
    *
    * Oracle parity note: the DuckDB twin walks characters
    * (`ord(substring(text, i, 1))`) where this side walks payload
    * bytes — identical only for single-byte text, which holds for the
    * ASCII test corpus (a real pipeline feeds true binary payloads,
    * where the text-derived fake geometry disappears anyway).
    */
  def m03ResizeFeatures(spark: SparkSession, dir: String): DataFrame =
    mediaFeatures(spark, dir).orderBy(col("doc_id"))

  /** The unordered feature table behind [[m03ResizeFeatures]] (m08
    * consumes it mid-plan, where a sort would only cost an exchange).
    */
  private[operators] def mediaFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val payloads = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
    val outW = 64L
    val outH = 64L
    payloads.mapPartitions { it =>
      // per-partition init (codec context / model weights) goes here
      it.grouped(32).flatMap { batch =>
        // per-batch init (device buffer alloc) goes here
        batch.iterator.map { case (id, bytes) =>
          val len = bytes.length
          val inW = 32L + (len % 317)
          val inH = 32L + ((len.toLong * 7) % 211)
          val lanes = new Array[Long](8)
          var i = 0
          while (i < len) { lanes(i % 8) += (bytes(i) & 0xFF).toLong; i += 1 }
          // BigInt: a Long sum of squares silently wraps once a lane
          // sum passes ~3 GB of payload (lane² > Long.MaxValue) while
          // the oracle's HUGEINT math would raise — keep both exact.
          val sumSq = lanes.foldLeft(BigInt(0))((a, s) => a + BigInt(s) * s)
          val norm = math.sqrt(sumSq.toDouble) / 255.0
          MediaFeature(id, inW, inH, outW, outH,
            outW.toDouble / inW, outH.toDouble / inH,
            lanes.mkString(","), norm)
        }
      }
    }.toDF()
  }

  /** m08: CROSS-MODAL ALIGNMENT FILTER — the CLIP-score curation gate
    * every web-scale multimodal corpus passes through (LAION's
    * pipeline, Schuhmann et al. 2021: keep an (image, caption) pair
    * iff CLIP cosine ≥ 0.28; the same fixed-threshold shape here,
    * with the container-honest stand-ins): the "image tower" is the
    * stubbed media feature vector ([[mediaFeatures]]' 8 exact lane
    * sums), the "text tower" an 8-dim block-sum projection of the
    * document's stored embedding, and the score their cosine as
    * fixed-order double folds (the house list-arithmetic that
    * bit-matches DuckDB). The filter is a PURE PER-ROW PREDICATE on
    * the rounded score — no global window, no driver collect: at
    * 100 TB this is one scan + one 1:1 key join, embarrassingly
    * parallel, which is exactly why web-scale curation uses a fixed
    * threshold rather than a corpus quantile.
    */
  def m08ClipFilter(spark: SparkSession, dir: String): DataFrame = {
    val feats = mediaFeatures(spark, dir)
      .select(col("doc_id"),
        expr("transform(split(feat_sums, ','), x -> CAST(x AS DOUBLE))")
          .as("mv"))
    val txt = Tables(spark, dir, "embeddings")
      .select(col("vec_id").as("doc_id"),
        expr("""transform(sequence(0, 7), j ->
          aggregate(slice(embedding, j * 8 + 1, 8),
            CAST(0.0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE)))""")
          .as("tv"))
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang"))
    feats.join(txt, Seq("doc_id")).join(docs, Seq("doc_id"))
      .withColumn("dot", expr(
        "aggregate(zip_with(mv, tv, (a, b) -> a * b), CAST(0.0 AS DOUBLE), (a, x) -> a + x)"))
      .withColumn("na",
        sqrt(expr("aggregate(mv, CAST(0.0 AS DOUBLE), (a, x) -> a + x * x)")))
      .withColumn("nb",
        sqrt(expr("aggregate(tv, CAST(0.0 AS DOUBLE), (a, x) -> a + x * x)")))
      .withColumn("score_r", round(col("dot") / (col("na") * col("nb")), 6))
      .filter(col("score_r") >= 0.28)
      .select(col("doc_id"), col("lang"), col("score_r"))
      .orderBy(col("doc_id"))
  }

  /** m04: media content dedup — the same payload bytes ingested under
    * different keys (here: a mirrored second ingest of every third
    * doc, offset ids — the "same image from two crawls" shape)
    * collapse by content hash: one md5 per payload map-side, one
    * groupBy on the digest, canonical id = min. At 100 TB this is the
    * first pass of any media pipeline (exact-duplicate removal before
    * expensive decode); the hash shuffle carries digests + ids only,
    * never the payload bytes.
    */
  def m04MediaDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    val mirrored = d.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("payload"))
    d.unionAll(mirrored)
      .select(col("doc_id"), md5(col("payload")).as("content_md5"))
      .groupBy(col("content_md5"))
      .agg(
        count(lit(1)).as("n_copies"),
        min(col("doc_id")).as("canonical_id"),
        max(col("doc_id")).as("max_id"))
      .orderBy(col("content_md5"))
  }

  /** m05: WebDataset-style SHARD MANIFEST — the layout step that
    * turns a sample collection into sequential fixed-budget media
    * shards (the tar-shard convention GPU data loaders stream):
    * samples in a canonical total order, each assigned to the shard
    * holding its cumulative-byte position. The cumulative sum is
    * [[Rank.globalRunningSum]] — `sum() OVER (ORDER BY …)` would plan
    * a SINGLE-PARTITION window (every payload byte through one task);
    * the distributed plan node range-partitions the samples, sums
    * bytes per partition (one long each) → driver prefix offsets →
    * per-partition accumulation, all at action time. Shards come out contiguous in sample
    * order with bytes ≤ budget + one payload (spec-pinned).
    */
  def m05ShardManifest(spark: SparkSession, dir: String): DataFrame = {
    val budget = 64L * 1024 // 64 KiB shards at test scale
    val samples = Tables(spark, dir, "documents")
      .select(col("doc_id"),
        length(col("text").cast("binary")).cast("long").as("n_bytes"))
    Rank.globalRunningSum(samples, Seq(col("doc_id")), col("n_bytes"), "cum_bytes")
      .withColumn("shard_id", ((col("cum_bytes") - 1L) / budget).cast("long"))
      .groupBy(col("shard_id"))
      .agg(
        count(lit(1)).as("n_samples"),
        sum(col("n_bytes")).as("shard_bytes"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .withColumn("utilization",
        col("shard_bytes").cast("double") / lit(budget.toDouble))
      .orderBy(col("shard_id"))
  }

  /** m06: PERCEPTUAL media dedup — the average-hash (aHash) pipeline
    * real image dedup runs (dHash/pHash swap in the same shape): the
    * decoded image reduces to an 8×8 grid, each cell's intensity
    * compares against the global mean for one bit, and the 64-bit
    * hashes meet in a banded hamming join (4×16 bits, candidates
    * verified at distance ≤ 12) — near-identical media collide, the
    * corpus is never all-pairs compared. The DECODE is this
    * container's stub: the payload (text bytes) stands in for pixel
    * data, cell j = exact integer sum of the character codes in the
    * j-th slice — locality-preserving like real pixels (near-dup
    * payloads → near-equal cells → small hamming distance), unlike
    * m04's exact content hash which only catches bit-identical media.
    * Bit rule `64·cell > Σcells` stays in integers (no division), so
    * the DuckDB oracle reproduces hash, bands, and pair set exactly.
    */
  def m06PerceptualDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents").filter(length(col("text")) >= 64)
    val base = Tables.spread(d.select(col("doc_id"), col("text")))
      .withColumn("w", (length(col("text")) / lit(64)).cast("int"))
    val pix = base.withColumn("px", expr(
      "transform(sequence(0, 63), j -> aggregate(transform(sequence(1, w), " +
        "i -> CAST(ascii(substring(text, j*w + i, 1)) AS BIGINT)), 0L, (acc, x) -> acc + x))"))
      .withColumn("total", expr("aggregate(px, 0L, (acc, x) -> acc + x)"))
    // disjoint bits: + == bitwise OR, incl. the sign bit (d04's trick)
    val phash = (0 until 64)
      .map(j => when(expr(s"64 * element_at(px, ${j + 1}) > total"),
        lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    // shared: the O(64·w)-per-doc cell sums feed both sides of the
    // banded self-join AND the final projection — compute once
    val sigs = Tables.shared(pix.select(col("doc_id"), phash.as("phash")))
    val banded = sigs.select(col("doc_id"), col("phash"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band_idx"),
          shiftrightunsigned(col("phash"), b * 16).bitwiseAND(lit(0xFFFFL))
            .as("band_val"))): _*)).as("band"))
      .select(col("doc_id"), col("phash"),
        col("band.band_idx").as("band_idx"), col("band.band_val").as("band_val"))
    val pairs = banded.as("a")
      .join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .filter(bit_count(col("a.phash").bitwiseXOR(col("b.phash"))) <= 12)
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
    val partners = pairs.select(col("da").as("doc_id"), col("db").as("partner"))
      .unionAll(pairs.select(col("db").as("doc_id"), col("da").as("partner")))
      .groupBy(col("doc_id")).agg(countDistinct(col("partner")).as("n_near"))
    sigs.join(partners, Seq("doc_id"), "left")
      .select(col("doc_id"), col("phash"),
        coalesce(col("n_near"), lit(0L)).as("n_near"))
      .orderBy(col("doc_id"))
  }

  /** m07: AUDIO↔VIDEO track alignment via the custom as-of operator —
    * the muxing step every A/V ingest pipeline needs: two per-doc
    * media timelines tick at different rates (video frames every
    * 40 ms, audio chunks every 30 ms — real containers are exactly
    * this, asynchronous clocks), and each audio chunk must bind to
    * the latest frame AT OR BEFORE it. That is an as-of join, served
    * by [[graft.plans.Asof]] (broadcast-index `AsofJoinExec` under
    * its stats cap, window composition past it — either way no
    * nested-loop): zero shuffles of the chunk side on the indexed
    * path. Timelines and frame digests derive deterministically from
    * the payload (stride-256 windows, m02's convention), so the
    * oracle rebuilds both tracks and the alignment in SQL. Every
    * chunk matches (frame 0 is at t=0), `lag_ms` = how stale the
    * bound frame is — the quantity an A/V sync monitor alerts on.
    */
  def m07MediaAlign(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val frames = docs.select(col("doc_id").as("f_doc_id"),
        posexplode(expr("transform(sequence(0, (n_chars - 1) div 256), " +
          "i -> md5(cast(substring(text, cast(i*256+1 AS INT), 16) as binary)))")))
      .select(col("f_doc_id"), col("pos").cast("long").as("frame_id"),
        (col("pos") * 40L).cast("long").as("frame_ts_ms"),
        col("col").as("frame_md5"))
    val chunks = docs
      .select(col("doc_id"),
        explode(expr("sequence(0, (n_chars - 1) div 400)")).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        (col("chunk_id") * 30L).cast("long").as("chunk_ts_ms"))
    graft.plans.Asof.join(chunks, frames,
        leftKey = "doc_id", rightKey = "f_doc_id",
        leftTime = "chunk_ts_ms", rightTime = "frame_ts_ms",
        rightTieBreak = "frame_id")
      .select(col("doc_id"), col("chunk_id"), col("chunk_ts_ms"),
        col("frame_id"), col("frame_ts_ms"),
        (col("chunk_ts_ms") - col("frame_ts_ms")).as("lag_ms"),
        col("frame_md5"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m07_media_align" -> (m07MediaAlign _),
    "m01_media_meta" -> (m01MediaMeta _),
    "m02_frame_sample" -> (m02FrameSample _),
    "m03_resize_features" -> (m03ResizeFeatures _),
    "m04_media_dedup" -> (m04MediaDedup _),
    "m05_shard_manifest" -> (m05ShardManifest _),
    "m06_perceptual_dedup" -> (m06PerceptualDedup _),
    "m08_clip_filter" -> (m08ClipFilter _)
  )

  // m06 oracle pieces: aHash assembly in HUGEINT space (d04's recipe)
  private val phashAssemble = (0 until 64).map(j =>
    s"(CASE WHEN 64 * px[${j + 1}] > total THEN ${BigInt(1) << j}::HUGEINT ELSE 0::HUGEINT END)")
    .mkString(" +\n    ")
  private val phashBands = (0 until 4).map(b =>
    s"SELECT doc_id, phash, $b AS band_idx, " +
      s"((su // ${BigInt(1) << (16 * b)}::HUGEINT) % 65536)::BIGINT AS band_val FROM sigs")
    .mkString("\n  UNION ALL ")

  val oracles: Map[String, String] = Map(
    // m08: both towers rebuilt — media lanes as m03's exact BIGINT
    // sums cast to DOUBLE, the text tower as 8 block-sums of the
    // stored embedding; cosine as the same fixed-order list folds,
    // LAION's 0.28 cut applied to the rounded score
    "m08_clip_filter" ->
      """WITH b AS (
        |  SELECT doc_id, text, octet_length(encode(text)) AS len
        |  FROM documents),
        |lanes AS (
        |  SELECT doc_id,
        |    list_transform(range(0, 8), j ->
        |      CAST(CAST(coalesce(list_sum(list_transform(range(1 + j, len + 1, 8),
        |        i -> ord(substring(text, i::INT, 1)))), 0) AS BIGINT) AS DOUBLE)) AS mv
        |  FROM b),
        |txt AS (
        |  SELECT vec_id AS doc_id,
        |    list_transform(range(0, 8), j ->
        |      list_sum(list_transform(embedding[j*8+1 : j*8+8],
        |        x -> x::DOUBLE))) AS tv
        |  FROM embeddings),
        |scored AS (
        |  SELECT l.doc_id,
        |    round(
        |      list_sum(list_transform(range(1, 9), i -> mv[i] * tv[i])) /
        |      (sqrt(list_sum(list_transform(mv, x -> x * x))) *
        |       sqrt(list_sum(list_transform(tv, x -> x * x)))), 6) AS score_r
        |  FROM lanes l JOIN txt t ON l.doc_id = t.doc_id)
        |SELECT s.doc_id, d.lang, s.score_r
        |FROM scored s JOIN documents d ON s.doc_id = d.doc_id
        |WHERE s.score_r >= 0.28
        |ORDER BY s.doc_id""".stripMargin,
    // m07: both tracks rebuilt from the payload, alignment stated as
    // the classic as-of window (latest frame at-or-before each chunk)
    "m07_media_align" ->
      """WITH f AS (
        |  SELECT doc_id, i AS frame_id, i * 40 AS frame_ts_ms,
        |    md5(substring(text, CAST(i * 256 + 1 AS INT), 16)) AS frame_md5
        |  FROM documents, UNNEST(range(0, (n_chars - 1) // 256 + 1)) AS t(i)),
        |c AS (
        |  SELECT doc_id, j AS chunk_id, j * 30 AS chunk_ts_ms
        |  FROM documents, UNNEST(range(0, (n_chars - 1) // 400 + 1)) AS t(j)),
        |al AS (
        |  SELECT c.doc_id, c.chunk_id, c.chunk_ts_ms,
        |    f.frame_id, f.frame_ts_ms, f.frame_md5,
        |    ROW_NUMBER() OVER (PARTITION BY c.doc_id, c.chunk_id
        |      ORDER BY f.frame_ts_ms DESC, f.frame_id DESC) AS rn
        |  FROM c JOIN f ON f.doc_id = c.doc_id
        |    AND f.frame_ts_ms <= c.chunk_ts_ms)
        |SELECT doc_id, chunk_id, chunk_ts_ms, frame_id, frame_ts_ms,
        |  chunk_ts_ms - frame_ts_ms AS lag_ms, frame_md5
        |FROM al WHERE rn = 1
        |ORDER BY doc_id, chunk_id""".stripMargin,
    // m06: same integer cell sums, same HUGEINT hash assembly, same
    // banded-hamming pair set — bit-for-bit
    "m06_perceptual_dedup" ->
      s"""WITH base AS (
         |  SELECT doc_id, text, (len(text) // 64) AS w
         |  FROM documents WHERE len(text) >= 64),
         |pxt AS (
         |  SELECT doc_id,
         |    list_transform(range(0, 64), j ->
         |      list_sum(list_transform(range(1, w + 1), i ->
         |        CAST(ord(substring(text, CAST(j * w + i AS INT), 1)) AS BIGINT)))) AS px
         |  FROM base),
         |tot AS (SELECT doc_id, px, list_sum(px) AS total FROM pxt),
         |sim AS (
         |  SELECT doc_id,
         |    $phashAssemble AS su
         |  FROM tot),
         |sigs AS (
         |  SELECT doc_id, su,
         |    CASE WHEN su >= 9223372036854775808::HUGEINT
         |         THEN (su - 18446744073709551616::HUGEINT)::BIGINT
         |         ELSE su::BIGINT END AS phash
         |  FROM sim),
         |banded AS (
         |  $phashBands),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |  FROM banded a JOIN banded b
         |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         |    AND a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.phash, b.phash)) <= 12),
         |partners AS (
         |  SELECT doc_id, COUNT(DISTINCT partner) AS n_near FROM (
         |    SELECT da AS doc_id, db AS partner FROM pairs
         |    UNION ALL SELECT db, da FROM pairs) GROUP BY 1)
         |SELECT s.doc_id, s.phash, COALESCE(p.n_near, 0) AS n_near
         |FROM sigs s LEFT JOIN partners p ON s.doc_id = p.doc_id
         |ORDER BY s.doc_id""".stripMargin,
    // m05: the oracle states the semantics as the naive global window
    // (fine at oracle scale; the engine runs the distributed form)
    "m05_shard_manifest" ->
      """WITH s AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        |    SUM(octet_length(encode(text))) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_bytes
        |  FROM documents)
        |SELECT CAST((cum_bytes - 1) // 65536 AS BIGINT) AS shard_id,
        |  COUNT(*) AS n_samples,
        |  CAST(SUM(n_bytes) AS BIGINT) AS shard_bytes,
        |  MIN(doc_id) AS first_doc,
        |  MAX(doc_id) AS last_doc,
        |  CAST(SUM(n_bytes) AS DOUBLE) / 65536.0 AS utilization
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,
    "m04_media_dedup" ->
      """WITH all_media AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 3 = 0)
        |SELECT md5(text) AS content_md5,
        |  COUNT(*) AS n_copies,
        |  MIN(doc_id) AS canonical_id,
        |  MAX(doc_id) AS max_id
        |FROM all_media GROUP BY 1 ORDER BY 1""".stripMargin,
    "m01_media_meta" ->
      """SELECT doc_id,
        |  CASE WHEN n_chars % 3 = 0 THEN 'image'
        |       WHEN n_chars % 3 = 1 THEN 'audio'
        |       ELSE 'video' END AS media_type,
        |  octet_length(encode(text)) AS byte_len,
        |  n_chars % 317 + 32 AS fake_width,
        |  (n_chars * 7) % 211 + 32 AS fake_height,
        |  base64(encode(substring(text, 1, 16))) AS head_b64
        |FROM documents ORDER BY doc_id""".stripMargin,
    "m02_frame_sample" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    list_transform(range(0, (n_chars - 1) // 64 + 1),
        |      i -> md5(substring(text, (i*64+1)::INT, 16))) AS frames
        |  FROM documents)
        |SELECT doc_id,
        |  len(frames) AS n_frames,
        |  frames[1] AS first_frame_md5,
        |  md5(array_to_string(frames, '')) AS frames_digest
        |FROM f ORDER BY doc_id""".stripMargin,
    "m03_resize_features" ->
      """WITH b AS (
        |  SELECT doc_id, text, octet_length(encode(text)) AS len
        |  FROM documents),
        |lanes AS (
        |  SELECT doc_id, len,
        |    list_transform(range(0, 8), j ->
        |      CAST(coalesce(list_sum(list_transform(range(1 + j, len + 1, 8),
        |        i -> ord(substring(text, i::INT, 1)))), 0) AS BIGINT)) AS ls
        |  FROM b)
        |SELECT doc_id,
        |  CAST(32 + len % 317 AS BIGINT) AS in_w,
        |  CAST(32 + (len * 7) % 211 AS BIGINT) AS in_h,
        |  CAST(64 AS BIGINT) AS out_w,
        |  CAST(64 AS BIGINT) AS out_h,
        |  64.0 / (32 + len % 317) AS scale_x,
        |  64.0 / (32 + (len * 7) % 211) AS scale_y,
        |  array_to_string(ls, ',') AS feat_sums,
        |  sqrt(CAST(list_sum(list_transform(ls, s -> s::HUGEINT * s::HUGEINT)) AS DOUBLE)) / 255.0 AS feat_norm
        |FROM lanes ORDER BY doc_id""".stripMargin
  )
}
