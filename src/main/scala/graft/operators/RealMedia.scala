package graft

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** REAL image decode over opaque binary columns — the multimodal north
  * star with an actual codec instead of [[Multimodal.StubDecoder]]'s
  * deterministic fake. JDK 17 bundles `javax.imageio` readers/writers for
  * PNG (and JPEG/BMP), so both sides of the round trip are implementable
  * with zero non-JDK dependencies:
  *
  *  1. [[stage]] GENERATES a PNG fixture: one tiny image per `documents`
  *     row whose dimensions and RGB pixel values are closed-form integer
  *     functions of `doc_id` alone, encoded through the real PNG writer
  *     into a `binary` payload column. The generation-time expectations
  *     (width/height/pixel sum) are recorded alongside as fixture columns.
  *  2. The queries read the staged parquet and recover those values by
  *     ACTUALLY DECODING the payload bytes with `ImageIO` — the decoder
  *     sees only `(doc_id, payload)`. PNG is lossless, so a correct decode
  *     reproduces the generator's pixels exactly; the DuckDB oracle
  *     replays the closed-form pixel functions without ever touching a
  *     PNG, which makes the check INDEPENDENT: a decoder that shortcut the
  *     codec (or mis-read stride/channel order) could not match it.
  *
  * Scale shape: generation and decode are partition-wise batched
  * ([[Multimodal.BatchSize]] rows per codec batch) with payload bytes
  * never leaving the executors; the driver sees fixed-width feature rows.
  * The staged fixture is one parquet write, re-read with a declared
  * schema. Real corpora skip [[stage]] and point the same decode queries
  * at their existing image tables.
  */
object RealMedia {

  /** Fixture row: payload + the generation-time expectations (spec-side
    * ground truth; the decode queries must not read the expected_ cols). */
  final case class PngRecord(doc_id: Long, payload: Array[Byte],
      expected_width: Int, expected_height: Int, expected_px_sum: Long)

  /** Decoded features: real dimensions + the row-major RGB pixel sum
    * `Σ (r·65536 + g·256 + b)` — order-free, exactly integer, and
    * SQL-replayable from the generator's closed form. */
  final case class PngFeatures(doc_id: Long, width: Int, height: Int,
      px_sum: Long)

  /** One sampled horizontal strip ("frame") of the image. */
  final case class StripFeature(doc_id: Long, frame_idx: Int, n_px: Long,
      px_sum: Long)

  // ------------------------------------------------------------ generator
  // Dimensions 8..16 per side and per-channel affine pixel functions — all
  // integer arithmetic, so the oracle replays them verbatim in SQL.
  def widthOf(docId: Long): Int = (8 + docId % 9).toInt
  def heightOf(docId: Long): Int = (8 + (docId / 9) % 9).toInt
  def red(docId: Long, x: Int, y: Int): Int = ((docId * 7 + x * 3 + y * 5) % 256).toInt
  def green(docId: Long, x: Int, y: Int): Int = ((docId * 11 + x * 5 + y * 7) % 256).toInt
  def blue(docId: Long, x: Int, y: Int): Int = ((docId * 13 + x * 7 + y * 11) % 256).toInt

  private def render(docId: Long): BufferedImage = {
    val (w, h) = (widthOf(docId), heightOf(docId))
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y,
          (red(docId, x, y) << 16) | (green(docId, x, y) << 8) | blue(docId, x, y))
        x += 1
      }
      y += 1
    }
    img
  }

  private def pngBytes(img: BufferedImage): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    // stream-backed ImageOutputStream: no ImageIO disk-cache temp files on
    // executors
    val ios = ImageIO.createImageOutputStream(bos)
    try {
      require(ImageIO.write(img, "png", ios), "JDK PNG writer missing")
    } finally ios.close()
    bos.toByteArray
  }

  private def pxSumOf(img: BufferedImage): Long = {
    var sum = 0L
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        sum += (img.getRGB(x, y) & 0xffffff).toLong
        x += 1
      }
      y += 1
    }
    sum
  }

  /** Generate the PNG fixture for every `documents` doc_id into a staged
    * parquet, returning its path. Encoding runs partition-wise on
    * executors; the driver never sees payload bytes.
    *
    * Idempotent by content: the fixture is a pure function of the doc_id
    * set, so a complete staging (`_SUCCESS` present) for the same sfDir is
    * reused — re-encoding 10⁴-10⁵ PNGs on every decode query would charge
    * generator cost to the decode path. Pass `force = true` to rebuild. */
  def stage(spark: SparkSession, sfDir: String, force: Boolean = false): String = {
    import spark.implicits._
    val dir = Fixtures.path("media_png_" +
      java.nio.file.Paths.get(sfDir).toAbsolutePath.toString
        .replaceAll("[^A-Za-z0-9.]", "_"))
    if (force || !java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "_SUCCESS"))) {
      Tables.documents(spark, sfDir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val img = render(id)
          PngRecord(id, pngBytes(img), img.getWidth, img.getHeight, pxSumOf(img))
        })
        .write.mode("overwrite").parquet(dir)
    }
    dir
  }

  /** Read the staged fixture WITHOUT the expectation columns — the decode
    * queries work from `(doc_id, payload)` alone. */
  def readStaged(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).select(col("doc_id"), col("payload"))

  // -------------------------------------------------------------- decoder
  /** Real PNG decode of one payload. `ImageIO.read` returns null (not an
    * exception) for unrecognizable bytes — surfaced as a typed error so a
    * corrupt payload names its row instead of NPE-ing downstream. */
  private def decode(docId: Long, payload: Array[Byte]): BufferedImage = {
    val img = ImageIO.read(new ByteArrayInputStream(payload))
    require(img != null, s"doc_id=$docId: payload is not a decodable image")
    img
  }

  /** Decode each payload and emit real dimensions + pixel sum. Batched
    * per-partition like every multimodal op ([[Multimodal.BatchSize]]). */
  def decodeFeatures(media: DataFrame): Dataset[PngFeatures] = {
    import media.sparkSession.implicits._
    media.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.grouped(Multimodal.BatchSize).flatMap(_.map {
        case (id, payload) =>
          val img = decode(id, payload)
          PngFeatures(id, img.getWidth, img.getHeight, pxSumOf(img))
      }))
  }

  /** Real nearest-neighbor rescale to `(w, h)`: decode, then sample source
    * pixel `(x·srcW div w, y·srcH div h)` for each target pixel — explicit
    * integer coordinate math (not `Graphics2D` filtering) so the resampled
    * image is bit-reproducible and the oracle can replay the sampling. */
  def resizeFeatures(media: DataFrame, w: Int, h: Int): Dataset[PngFeatures] = {
    import media.sparkSession.implicits._
    require(w >= 1 && h >= 1, "need positive target dims")
    media.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.grouped(Multimodal.BatchSize).flatMap(_.map {
        case (id, payload) =>
          val img = decode(id, payload)
          var sum = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              sum += (img.getRGB(x * img.getWidth / w,
                y * img.getHeight / h) & 0xffffff).toLong
              x += 1
            }
            y += 1
          }
          PngFeatures(id, w, h, sum)
      }))
  }

  /** Sample `n` horizontal strips (the image analogue of video frame
    * sampling): strip i covers rows `[i·H div n, (i+1)·H div n)`. */
  def stripFeatures(media: DataFrame, n: Int): Dataset[StripFeature] = {
    import media.sparkSession.implicits._
    require(n >= 1, "need at least one strip")
    media.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.grouped(Multimodal.BatchSize).flatMap(_.flatMap {
        case (id, payload) =>
          val img = decode(id, payload)
          (0 until n).map { i =>
            val (yLo, yHi) = (i * img.getHeight / n, (i + 1) * img.getHeight / n)
            var sum = 0L
            var y = yLo
            while (y < yHi) {
              var x = 0
              while (x < img.getWidth) {
                sum += (img.getRGB(x, y) & 0xffffff).toLong
                x += 1
              }
              y += 1
            }
            StripFeature(id, i, img.getWidth.toLong * (yHi - yLo), sum)
          }
      }))
  }

  // -------------------------------------------------------------- queries
  def decodeRealQuery(spark: SparkSession, sfDir: String): DataFrame =
    decodeFeatures(readStaged(spark, stage(spark, sfDir))).toDF()
      .select(col("doc_id"), col("width").cast("long").as("width"),
        col("height").cast("long").as("height"), col("px_sum"))
      .orderBy(col("doc_id"))

  /** The closed-form pixel functions, replayed without any PNG. */
  val decodeRealSql: String =
    """WITH d AS (SELECT doc_id, 8 + doc_id % 9 AS w,
      |                  8 + (doc_id // 9) % 9 AS h FROM documents),
      |xs AS (SELECT doc_id, w, h,
      |         unnest(generate_series(0, w - 1)) AS x FROM d),
      |px AS (SELECT doc_id, w, h, x,
      |         unnest(generate_series(0, h - 1)) AS y FROM xs)
      |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
      |  CAST(SUM(((doc_id*7 + x*3 + y*5) % 256) * 65536
      |         + ((doc_id*11 + x*5 + y*7) % 256) * 256
      |         + ((doc_id*13 + x*7 + y*11) % 256)) AS BIGINT) AS px_sum
      |FROM px GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin

  val ResizeW = 8
  val ResizeH = 6

  def resizeRealQuery(spark: SparkSession, sfDir: String): DataFrame =
    resizeFeatures(readStaged(spark, stage(spark, sfDir)), ResizeW, ResizeH)
      .toDF()
      .select(col("doc_id"), col("width").cast("long").as("width"),
        col("height").cast("long").as("height"), col("px_sum"))
      .orderBy(col("doc_id"))

  /** Nearest-neighbor sampling replayed in SQL: target pixel (x, y) reads
    * source pixel ((x·w) div 8, (y·h) div 6). */
  val resizeRealSql: String =
    """WITH d AS (SELECT doc_id, 8 + doc_id % 9 AS w,
      |                  8 + (doc_id // 9) % 9 AS h FROM documents),
      |xs AS (SELECT doc_id, w, h,
      |         unnest(generate_series(0, 7)) AS x FROM d),
      |px AS (SELECT doc_id, (x * w) // 8 AS sx, (y * h) // 6 AS sy
      |       FROM (SELECT doc_id, w, h, x,
      |               unnest(generate_series(0, 5)) AS y FROM xs))
      |SELECT doc_id, CAST(8 AS BIGINT) AS width, CAST(6 AS BIGINT) AS height,
      |  CAST(SUM(((doc_id*7 + sx*3 + sy*5) % 256) * 65536
      |         + ((doc_id*11 + sx*5 + sy*7) % 256) * 256
      |         + ((doc_id*13 + sx*7 + sy*11) % 256)) AS BIGINT) AS px_sum
      |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val NStrips = 4

  def framesRealQuery(spark: SparkSession, sfDir: String): DataFrame =
    stripFeatures(readStaged(spark, stage(spark, sfDir)), NStrips).toDF()
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        col("n_px"), col("px_sum"))
      .orderBy(col("doc_id"), col("frame_idx"))

  /** One perceptual-hash row per image: the 64 dHash bits split into two
    * unsigned 32-bit halves (hash_lo = bits 0–31, hash_hi = 32–63) so no
    * engine has to reason about the sign bit of a full 64-bit value. */
  final case class PhashRow(doc_id: Long, hash_lo: Long, hash_hi: Long)

  /** dHash (difference hash) from REAL pixels: nearest-neighbor resample
    * to a 9×8 luma grid (the same explicit integer sampling as
    * [[resizeFeatures]]; luma = (299r + 587g + 114b) div 1000), bit
    * (x, y) set iff the right neighbor is brighter — the standard
    * near-duplicate image fingerprint (robust to rescaling and small
    * edits, cheap enough to run per-image at corpus scale).
    *
    * All arithmetic is non-negative integers, so the DuckDB oracle
    * replays the grid from the generator's closed-form pixels and must
    * land on the identical 64 bits — which cross-validates the whole
    * decode → resample → luma path, not just dimensions. */
  def dhashFeatures(media: DataFrame): Dataset[PhashRow] = {
    import media.sparkSession.implicits._
    media.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.grouped(Multimodal.BatchSize).flatMap(_.map {
        case (id, payload) =>
          val img = decode(id, payload)
          val (w, h) = (img.getWidth, img.getHeight)
          def luma(tx: Int, ty: Int): Int = {
            val p = img.getRGB(tx * w / 9, ty * h / 8)
            (299 * ((p >> 16) & 0xff) + 587 * ((p >> 8) & 0xff)
              + 114 * (p & 0xff)) / 1000
          }
          var lo = 0L
          var hi = 0L
          var y = 0
          while (y < 8) {
            var x = 0
            while (x < 8) {
              if (luma(x + 1, y) > luma(x, y)) {
                val idx = y * 8 + x
                if (idx < 32) lo |= 1L << idx else hi |= 1L << (idx - 32)
              }
              x += 1
            }
            y += 1
          }
          PhashRow(id, lo, hi)
      }))
  }

  /** Per-image dHash + the size of its exact-hash duplicate group — the
    * image-dedup report (group size 1 = unique). The grouping shuffle is
    * keyed on the 64-bit hash: bounded-width keys at any corpus size. */
  def phashRealQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val hashed = dhashFeatures(readStaged(spark, stage(spark, sfDir))).toDF()
    val groups = hashed.groupBy(col("hash_lo"), col("hash_hi"))
      .agg(count(lit(1)).as("n_dups"))
    hashed.join(groups, Seq("hash_lo", "hash_hi"))
      .select(col("doc_id"), col("hash_lo"), col("hash_hi"), col("n_dups"))
      .orderBy(col("doc_id"))
  }

  /** The dHash grid replayed from the closed-form pixels: same 9×8
    * nearest-neighbor sampling, same integer luma, same bit packing. */
  val phashRealSql: String =
    """WITH d AS (SELECT doc_id, 8 + doc_id % 9 AS w,
      |                  8 + (doc_id // 9) % 9 AS h FROM documents),
      |g AS (SELECT doc_id, w, h, x,
      |        unnest(generate_series(0, 7)) AS y
      |      FROM (SELECT doc_id, w, h,
      |              unnest(generate_series(0, 8)) AS x FROM d)),
      |lum AS (SELECT doc_id, x, y,
      |          (299 * ((doc_id*7 + sx*3 + sy*5) % 256)
      |         + 587 * ((doc_id*11 + sx*5 + sy*7) % 256)
      |         + 114 * ((doc_id*13 + sx*7 + sy*11) % 256)) // 1000 AS l
      |        FROM (SELECT doc_id, x, y, (x * w) // 9 AS sx,
      |                (y * h) // 8 AS sy FROM g)),
      |bits AS (SELECT a.doc_id, a.y * 8 + a.x AS idx,
      |           CASE WHEN b.l > a.l THEN 1 ELSE 0 END AS bit
      |         FROM lum a JOIN lum b
      |           ON a.doc_id = b.doc_id AND b.x = a.x + 1 AND b.y = a.y
      |         WHERE a.x < 8),
      |hs AS (SELECT doc_id,
      |         CAST(SUM(CASE WHEN idx < 32
      |           THEN bit * (CAST(1 AS BIGINT) << idx) ELSE 0 END)
      |           AS BIGINT) AS hash_lo,
      |         CAST(SUM(CASE WHEN idx >= 32
      |           THEN bit * (CAST(1 AS BIGINT) << (idx - 32)) ELSE 0 END)
      |           AS BIGINT) AS hash_hi
      |       FROM bits GROUP BY doc_id),
      |grp AS (SELECT hash_lo, hash_hi, COUNT(*) AS n_dups
      |        FROM hs GROUP BY 1, 2)
      |SELECT hs.doc_id, hs.hash_lo, hs.hash_hi,
      |  CAST(grp.n_dups AS BIGINT) AS n_dups
      |FROM hs JOIN grp ON hs.hash_lo = grp.hash_lo
      |  AND hs.hash_hi = grp.hash_hi
      |ORDER BY hs.doc_id""".stripMargin

  /** Strip i covers source rows [(i·h) div 4, ((i+1)·h) div 4). */
  val framesRealSql: String =
    """WITH d AS (SELECT doc_id, 8 + doc_id % 9 AS w,
      |                  8 + (doc_id // 9) % 9 AS h FROM documents),
      |st AS (SELECT doc_id, w, h,
      |         unnest(generate_series(0, 3)) AS i FROM d),
      |rows_ AS (SELECT doc_id, w, i, (i*h) // 4 AS y_lo, ((i+1)*h) // 4 AS y_hi
      |          FROM st),
      |px AS (SELECT doc_id, w, i, y_lo, y_hi, x,
      |         unnest(generate_series(y_lo, y_hi - 1)) AS y
      |       FROM (SELECT doc_id, w, i, y_lo, y_hi,
      |               unnest(generate_series(0, w - 1)) AS x FROM rows_)
      |       WHERE y_hi > y_lo)
      |SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
      |  CAST(any_value(w) * (any_value(y_hi) - any_value(y_lo)) AS BIGINT)
      |    AS n_px,
      |  CAST(SUM(((doc_id*7 + x*3 + y*5) % 256) * 65536
      |         + ((doc_id*11 + x*5 + y*7) % 256) * 256
      |         + ((doc_id*13 + x*7 + y*11) % 256)) AS BIGINT) AS px_sum
      |FROM px GROUP BY doc_id, i ORDER BY doc_id, frame_idx""".stripMargin
}
