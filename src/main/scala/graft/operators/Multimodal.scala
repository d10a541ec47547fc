package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing (driver north star): image/audio/video
  * payloads ride as opaque `binary` columns with typed metadata; decode /
  * feature-extraction runs batch-wise inside `mapPartitions` behind a
  * pluggable [[Multimodal.Decoder]].
  *
  * [[Multimodal.StubDecoder]] is a clearly-marked deterministic fake kept
  * for the one media type with no JDK parser (VIDEO); for IMAGES,
  * [[RealMedia]] decodes real PNGs via `javax.imageio`, and for AUDIO,
  * [[RealAudio]] parses real WAV clips via `javax.sound.sampled` — both
  * zero-dependency JDK paths over the same plumbing. Either way the
  * Spark-side shape — schema, batching, partition-wise execution, feature
  * schema — is the part that matters at 100 TB: payload bytes never leave
  * the executor, the driver only sees fixed-width feature rows.
  */
object Multimodal {

  /** A media record: opaque payload + metadata. */
  final case class MediaRecord(doc_id: Long, media_type: String,
      payload: Array[Byte])

  /** Extracted features — fixed-width, shuffle-friendly. */
  final case class MediaFeatures(doc_id: Long, media_type: String,
      n_bytes: Long, checksum: String, width: Int, height: Int)

  /** One sampled frame's features (video/audio frame-sampling shape). */
  final case class FrameFeature(doc_id: Long, frame_idx: Int,
      n_bytes: Long, checksum: String)

  /** Batch decoder contract. All methods receive bounded batches so
    * implementations can amortize codec setup / native buffers across
    * records. */
  trait Decoder extends Serializable {
    def decodeBatch(batch: Seq[MediaRecord]): Seq[MediaFeatures]

    /** Resize to (w, h) and return features of the resized media. */
    def resizeBatch(batch: Seq[MediaRecord], w: Int, h: Int): Seq[MediaFeatures]

    /** Sample `n` evenly-spaced frames and return per-frame features. */
    def frameSampleBatch(batch: Seq[MediaRecord], n: Int): Seq[FrameFeature]
  }

  /** Deterministic stand-in for the codec the JDK genuinely lacks (video).
    * The stub derives pseudo-dimensions and a checksum purely from the
    * bytes, so results are stable and oracle-checkable. Images and audio
    * have REAL paths — [[RealMedia]] decodes actual PNG payloads with
    * `javax.imageio`, [[RealAudio]] parses actual WAV clips with
    * `javax.sound.sampled`; compare `multimodal_decode_real` /
    * `multimodal_audio_real` vs the stub-backed `multimodal_features`.
    */
  object StubDecoder extends Decoder {
    def decodeBatch(batch: Seq[MediaRecord]): Seq[MediaFeatures] = batch.map { r =>
      val checksum = md5hex(r.payload)
      // first UNICODE CODEPOINT of the utf-8 payload (not the first byte):
      // matches DuckDB unicode() for non-ASCII leading characters too
      val s = new String(r.payload, java.nio.charset.StandardCharsets.UTF_8)
      val first = if (s.nonEmpty) s.codePointAt(0) else 0
      MediaFeatures(r.doc_id, r.media_type,
        n_bytes = r.payload.length.toLong,
        checksum = checksum,
        width = r.payload.length % 640,
        height = first % 480)
    }

    private def md5hex(bytes: Array[Byte]): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(bytes).map("%02x".format(_)).mkString

    /** Fake resize (real pixel rescale for images lives in
      * [[RealMedia.resizeFeatures]]): the stub digests payload ++ "|WxH"
      * so the output is deterministic per target size. */
    def resizeBatch(batch: Seq[MediaRecord], w: Int, h: Int): Seq[MediaFeatures] =
      batch.map { r =>
        val tag = s"|${w}x$h".getBytes(java.nio.charset.StandardCharsets.UTF_8)
        MediaFeatures(r.doc_id, r.media_type,
          n_bytes = r.payload.length.toLong,
          checksum = md5hex(r.payload ++ tag),
          width = w, height = h)
      }

    /** Fake frame sampling: frame i = CODEPOINT range [i·len/n, (i+1)·len/n)
      * of the utf-8-decoded payload (codepoints, not bytes or UTF-16 units,
      * so boundaries never split a character and are reproducible by any
      * engine's character substring). Features are computed over the
      * chunk's utf-8 re-encoding. */
    def frameSampleBatch(batch: Seq[MediaRecord], n: Int): Seq[FrameFeature] =
      batch.flatMap { r =>
        val s = new String(r.payload, java.nio.charset.StandardCharsets.UTF_8)
        val len = s.codePointCount(0, s.length)
        (0 until n).map { i =>
          val from = s.offsetByCodePoints(0, i * len / n)
          val until = s.offsetByCodePoints(0, (i + 1) * len / n)
          val chunk = s.substring(from, until)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          FrameFeature(r.doc_id, i, chunk.length.toLong, md5hex(chunk))
        }
      }
  }

  val BatchSize = 128

  /** Partition-wise batched feature extraction. Rows stream through in
    * bounded batches — no partition-sized materialization, no driver
    * collection. */
  def extractFeatures(media: Dataset[MediaRecord],
      decoder: Decoder = StubDecoder): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.grouped(BatchSize).flatMap(b => decoder.decodeBatch(b)))
  }

  def resize(media: Dataset[MediaRecord], w: Int, h: Int,
      decoder: Decoder = StubDecoder): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.grouped(BatchSize).flatMap(b =>
      decoder.resizeBatch(b, w, h)))
  }

  def frameSample(media: Dataset[MediaRecord], n: Int,
      decoder: Decoder = StubDecoder): Dataset[FrameFeature] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.grouped(BatchSize).flatMap(b =>
      decoder.frameSampleBatch(b, n)))
  }

  /** Build a media table from the documents fixture (utf-8 payloads play
    * the role of opaque media bytes). */
  def mediaFromDocuments(spark: SparkSession, sfDir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), lit("text/plain").as("media_type"),
        encode(col("text"), "UTF-8").as("payload"))
      .as[MediaRecord]
  }

  def featuresQuery(spark: SparkSession, sfDir: String): DataFrame = {
    extractFeatures(mediaFromDocuments(spark, sfDir))
      .toDF()
      .select(col("doc_id"), col("media_type"), col("n_bytes"),
        col("checksum"), col("width").cast("long").as("width"),
        col("height").cast("long").as("height"))
      .orderBy(col("doc_id"))
  }

  def resizeQuery(spark: SparkSession, sfDir: String): DataFrame = {
    resize(mediaFromDocuments(spark, sfDir), w = 64, h = 64)
      .toDF()
      .select(col("doc_id"), col("media_type"), col("n_bytes"),
        col("checksum"), col("width").cast("long").as("width"),
        col("height").cast("long").as("height"))
      .orderBy(col("doc_id"))
  }

  /** The stub's resize digest is md5(payload ++ "|WxH"); for UTF-8 text
    * payloads that is exactly md5 of the concatenated string. */
  val resizeSql: String =
    """SELECT doc_id, 'text/plain' AS media_type,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  md5(text || '|64x64') AS checksum,
      |  CAST(64 AS BIGINT) AS width, CAST(64 AS BIGINT) AS height
      |FROM documents ORDER BY doc_id""".stripMargin

  def framesQuery(spark: SparkSession, sfDir: String): DataFrame = {
    frameSample(mediaFromDocuments(spark, sfDir), n = 4)
      .toDF()
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        col("n_bytes"), col("checksum"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** Frame boundaries are pure integer arithmetic over CODEPOINT counts;
    * DuckDB's character substring + utf-8 re-encoding reproduces the Scala
    * chunking exactly, including non-ASCII text. */
  val framesSql: String =
    """WITH b AS (SELECT doc_id, text, length(text) AS len FROM documents)
      |SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
      |  CAST(octet_length(encode(substring(text, (i * len) // 4 + 1,
      |      (((i+1) * len) // 4) - ((i * len) // 4)))) AS BIGINT) AS n_bytes,
      |  md5(substring(text, (i * len) // 4 + 1,
      |      (((i+1) * len) // 4) - ((i * len) // 4))) AS checksum
      |FROM b, generate_series(0, 3) AS s(i)
      |ORDER BY doc_id, frame_idx""".stripMargin

  val featuresSql: String =
    """SELECT doc_id, 'text/plain' AS media_type,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  md5(text) AS checksum,
      |  CAST(octet_length(encode(text)) % 640 AS BIGINT) AS width,
      |  CAST(CASE WHEN length(text) = 0 THEN 0 ELSE unicode(text) % 480 END AS BIGINT) AS height
      |FROM documents ORDER BY doc_id""".stripMargin
}
