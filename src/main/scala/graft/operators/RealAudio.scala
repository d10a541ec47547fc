package graft

import java.io.ByteArrayInputStream
import javax.sound.sampled.AudioSystem

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** REAL audio decode over opaque binary columns — the audio leg of the
  * multimodal north star with an actual parser instead of a stub. JDK 17
  * bundles `javax.sound.sampled` with a WAV (RIFF/PCM) reader, so like
  * [[RealMedia]]'s PNG path this needs zero non-JDK dependencies:
  *
  *  1. [[stage]] GENERATES a WAV fixture: one short PCM16 mono clip per
  *     `documents` row whose sample values are a closed-form INTEGER
  *     sawtooth in `doc_id` and sample index alone (no transcendentals —
  *     every sample is exact integer arithmetic both engines share),
  *     encoded with a real RIFF/fmt/data header.
  *  2. The queries recover sample rate and sample values by ACTUALLY
  *     PARSING the payload through `AudioSystem` — header fields come from
  *     the decoded `AudioFormat`, samples from the decoded frame stream.
  *     The DuckDB oracle replays the closed-form waveform without ever
  *     touching a WAV, so a decoder that shortcut the parse (wrong
  *     endianness, header skew, frame miscount) could not match it.
  *
  * The features are the standard audio-pipeline screeners — duration,
  * peak, energy (Σs², exact integer in place of float RMS), zero-crossing
  * rate — plus the frame-windowed energy profile (the audio analogue of
  * video frame sampling).
  *
  * Scale shape: identical to [[RealMedia]] — generation and decode run
  * partition-wise in [[Multimodal.BatchSize]] batches, payload bytes never
  * leave the executors, the driver sees fixed-width feature rows. Real
  * corpora skip [[stage]] and point the decode queries at their own audio
  * tables.
  */
object RealAudio {

  /** Fixture row: payload + generation-time expectations (spec-side ground
    * truth; decode queries must not read the expected_ columns). */
  final case class WavRecord(doc_id: Long, payload: Array[Byte],
      expected_n: Int, expected_peak: Int, expected_sum_sq: Long)

  /** Decoded clip features. `sample_rate` comes from the parsed header;
    * everything else from the decoded samples. */
  final case class WavFeatures(doc_id: Long, n_samples: Long,
      sample_rate: Long, duration_ms: Long, peak: Long, sum_sq: Long,
      zero_crossings: Long)

  /** One frame-window's energy (video-frame-sampling analogue). */
  final case class FrameEnergy(doc_id: Long, frame_idx: Long, n_frame: Long,
      sum_sq: Long)

  // ------------------------------------------------------------ generator
  // All-integer waveform parameters, replayable verbatim in SQL.
  val SampleRate = 8000
  def nSamplesOf(docId: Long): Int = (400 + docId % 1200).toInt
  def freqOf(docId: Long): Int = (50 + docId % 350).toInt
  def ampOf(docId: Long): Int = (1000 + (docId % 200) * 100).toInt

  /** Integer sawtooth: phase ramps 0..rate-1 at `freq` steps per sample;
    * the sample maps the ramp onto [-A, A). Floor division on non-negative
    * operands — Scala `/` and DuckDB `//` agree. */
  def sampleOf(docId: Long, i: Int): Int = {
    val phase = (i.toLong * freqOf(docId)) % SampleRate
    ((phase * 2 * ampOf(docId)) / SampleRate - ampOf(docId)).toInt
  }

  /** Real RIFF/WAVE container: 44-byte canonical header + PCM16LE data —
    * what any WAV reader (including `AudioSystem`) parses. */
  private def wavBytes(samples: Array[Int]): Array[Byte] = {
    val dataLen = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1)                       // PCM
      .putShort(1)                       // mono
      .putInt(SampleRate)
      .putInt(SampleRate * 2)            // byte rate
      .putShort(2)                       // block align
      .putShort(16)                      // bits per sample
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(s => bb.putShort(s.toShort))
    bb.array()
  }

  /** Generate the WAV fixture for every `documents` doc_id into a staged
    * parquet (content-addressed per sfDir and reused, like
    * [[RealMedia.stage]] — re-encoding clips per query would charge
    * generator cost to the decode path). */
  def stage(spark: SparkSession, sfDir: String, force: Boolean = false): String = {
    import spark.implicits._
    val dir = Fixtures.path("media_wav_" +
      java.nio.file.Paths.get(sfDir).toAbsolutePath.toString
        .replaceAll("[^A-Za-z0-9.]", "_"))
    if (force || !java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "_SUCCESS"))) {
      Tables.documents(spark, sfDir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val samples = Array.tabulate(nSamplesOf(id))(sampleOf(id, _))
          val peak = samples.foldLeft(0)((m, s) => math.max(m, math.abs(s)))
          val sumSq = samples.foldLeft(0L)((a, s) => a + s.toLong * s)
          WavRecord(id, wavBytes(samples), samples.length, peak, sumSq)
        })
        .write.mode("overwrite").parquet(dir)
    }
    dir
  }

  /** Staged fixture WITHOUT the expectation columns. */
  def readStaged(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).select(col("doc_id"), col("payload"))

  // -------------------------------------------------------------- decoder
  /** Real WAV parse of one payload: header via `AudioSystem`'s format
    * detection, samples via the decoded frame stream. Returns
    * (sampleRate, samples). */
  private def decode(docId: Long, payload: Array[Byte]): (Int, Array[Int]) = {
    val ais =
      try AudioSystem.getAudioInputStream(new ByteArrayInputStream(payload))
      catch { case e: javax.sound.sampled.UnsupportedAudioFileException =>
        throw new IllegalArgumentException(
          s"doc_id=$docId: payload is not a decodable audio clip", e)
      }
    try {
      val fmt = ais.getFormat
      require(fmt.getChannels == 1 && fmt.getSampleSizeInBits == 16 &&
        !fmt.isBigEndian,
        s"doc_id=$docId: expected PCM16LE mono, got $fmt")
      val raw = ais.readAllBytes()
      val bb = java.nio.ByteBuffer.wrap(raw)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val out = new Array[Int](raw.length / 2)
      var i = 0
      while (i < out.length) { out(i) = bb.getShort(i * 2).toInt; i += 1 }
      (fmt.getSampleRate.toInt, out)
    } finally ais.close()
  }

  /** Decode each payload and emit the clip-level features. */
  def decodeFeatures(media: DataFrame): Dataset[WavFeatures] = {
    import media.sparkSession.implicits._
    media.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.grouped(Multimodal.BatchSize).flatMap(_.map {
        case (id, payload) =>
          val (rate, s) = decode(id, payload)
          var peak = 0L
          var sumSq = 0L
          var zc = 0L
          var i = 0
          while (i < s.length) {
            val v = s(i)
            if (math.abs(v.toLong) > peak) peak = math.abs(v.toLong)
            sumSq += v.toLong * v
            if (i > 0 && ((v < 0) != (s(i - 1) < 0))) zc += 1
            i += 1
          }
          WavFeatures(id, s.length.toLong, rate.toLong,
            s.length.toLong * 1000 / rate, peak, sumSq, zc)
      }))
  }

  /** Windowed energy: frame i covers samples [i·n div F, (i+1)·n div F) —
    * the same integer window rule as [[RealMedia.stripFeatures]]. */
  def frameEnergy(media: DataFrame, nFrames: Int): Dataset[FrameEnergy] = {
    import media.sparkSession.implicits._
    require(nFrames >= 1, "need at least one frame")
    media.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.grouped(Multimodal.BatchSize).flatMap(_.flatMap {
        case (id, payload) =>
          val (_, s) = decode(id, payload)
          (0 until nFrames).map { i =>
            val lo = i * s.length / nFrames
            val hi = (i + 1) * s.length / nFrames
            var sumSq = 0L
            var j = lo
            while (j < hi) { sumSq += s(j).toLong * s(j); j += 1 }
            FrameEnergy(id, i.toLong, (hi - lo).toLong, sumSq)
          }
      }))
  }

  // -------------------------------------------------------------- queries
  def decodeRealQuery(spark: SparkSession, sfDir: String): DataFrame =
    decodeFeatures(readStaged(spark, stage(spark, sfDir))).toDF()
      .orderBy(col("doc_id"))

  /** The closed-form waveform replayed without any WAV: sample s(i) =
    * ((i·f) % 8000)·2A // 8000 − A, summed/compared per clip. */
  val decodeRealSql: String =
    """WITH p AS (SELECT doc_id, 400 + doc_id % 1200 AS n,
      |                  50 + doc_id % 350 AS f,
      |                  1000 + (doc_id % 200) * 100 AS a FROM documents),
      |s AS (SELECT doc_id, n, f, a, i,
      |        ((i*f) % 8000) * 2 * a // 8000 - a AS v,
      |        CASE WHEN i > 0
      |          THEN (((i-1)*f) % 8000) * 2 * a // 8000 - a END AS vp
      |      FROM (SELECT doc_id, n, f, a,
      |              unnest(generate_series(0, n - 1)) AS i FROM p))
      |SELECT doc_id,
      |  CAST(count(*) AS BIGINT) AS n_samples,
      |  CAST(8000 AS BIGINT) AS sample_rate,
      |  CAST(count(*) * 1000 // 8000 AS BIGINT) AS duration_ms,
      |  CAST(max(abs(v)) AS BIGINT) AS peak,
      |  CAST(sum(v * v) AS BIGINT) AS sum_sq,
      |  CAST(coalesce(sum(CASE WHEN i > 0 AND ((v < 0) != (vp < 0))
      |                         THEN 1 END), 0) AS BIGINT) AS zero_crossings
      |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val NFrames = 4

  def framesRealQuery(spark: SparkSession, sfDir: String): DataFrame =
    frameEnergy(readStaged(spark, stage(spark, sfDir)), NFrames).toDF()
      .orderBy(col("doc_id"), col("frame_idx"))

  /** Frame i covers samples [(i·n) div 4, ((i+1)·n) div 4). */
  val framesRealSql: String =
    """WITH p AS (SELECT doc_id, 400 + doc_id % 1200 AS n,
      |                  50 + doc_id % 350 AS f,
      |                  1000 + (doc_id % 200) * 100 AS a FROM documents),
      |fr AS (SELECT doc_id, n, f, a, i,
      |         (i*n) // 4 AS lo, ((i+1)*n) // 4 AS hi
      |       FROM (SELECT doc_id, n, f, a,
      |               unnest(generate_series(0, 3)) AS i FROM p)),
      |s AS (SELECT doc_id, i, lo, hi,
      |        ((j*f) % 8000) * 2 * a // 8000 - a AS v
      |      FROM (SELECT doc_id, f, a, i, lo, hi,
      |              unnest(generate_series(lo, hi - 1)) AS j FROM fr
      |            WHERE hi > lo))
      |SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
      |  CAST(any_value(hi) - any_value(lo) AS BIGINT) AS n_frame,
      |  CAST(sum(v * v) AS BIGINT) AS sum_sq
      |FROM s GROUP BY doc_id, i ORDER BY doc_id, frame_idx""".stripMargin
}
