package graft.ops

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** [EXT] Multimodal columns (SURVEY.md §2.11 X5): image/audio/video payloads
  * are opaque `BinaryType` columns with a typed metadata struct, decoded
  * per-partition so each task amortizes codec setup over a whole partition
  * (the batching contract a `mapInPandas` UDF gives a Python decoder).
  * Binary payloads never pass through a shuffle — features/stats are
  * extracted first, payloads dropped.
  *
  * The image codec is REAL: 24-bit BMP encode/decode/resample through
  * `javax.imageio` (pure JVM, offline-safe — no native image libraries in
  * this container). Payloads that are not decodable images fall back to a
  * deterministic byte-histogram featurizer / byte-stride resampler — a
  * documented degradation for opaque formats, not a stand-in for the image
  * path.
  */
object Multimodal {

  // ImageIO's default ImageInputStream is FILE-cache-backed: every
  // ImageIO.read(InputStream) creates (and deletes) a temp file, so a
  // per-row decode pays a filesystem round-trip per image — measured
  // super-linear on the 100x corpus (decade-2 exponent 1.36: 500k decodes
  // x 32 tasks contending on tmp). Payloads here are already in-memory
  // byte arrays; cache in memory. NOTE this is a JVM-GLOBAL setter: other
  // ImageIO users in the same JVM see it too (documented public behavior
  // of this module). It is applied inside [[decodeImage]] — the single
  // decode entry point — not only at object init, so the setting holds on
  // every executor regardless of class-init ordering or future callers
  // (r9 advice: init-order-dependent globals are fragile).
  private def imageIoInMemory(): Unit =
    if (ImageIO.getUseCache) ImageIO.setUseCache(false)

  /** Media row schema: payload + typed metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("format", StringType),
      StructField("width", IntegerType),
      StructField("height", IntegerType))), nullable = true)))

  val featureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("byte_len", LongType, nullable = false),
    StructField("format", StringType),
    StructField("feature", ArrayType(DoubleType), nullable = false)))

  // ---- the deterministic image fixture ---------------------------------
  // There is no binary column in the driver test data (TESTDATA.md), so the
  // engine carries its own: a closed-form RGB pattern per id, encoded as a
  // real BMP. Every quantity below is an integer polynomial in (id, x, y)
  // with NO modular wrap inside a channel (bases capped so base + offset
  // < 256), which keeps the expected decode stats expressible in plain SQL
  // — the DuckDB oracle recomputes them from the formulas while the Spark
  // side recovers them by ACTUALLY decoding the bytes.
  //   w = 4 + id % 13            (4..16)
  //   h = 3 + id % 7             (3..9)
  //   r(x,y) = id % 200 + x      (≤ 214)
  //   g(x,y) = id % 180 + y      (≤ 187)
  //   b(x,y) = id % 120 + x + y  (≤ 142)
  def fixtureWidth(id: Long): Int = (4 + Math.floorMod(id, 13L)).toInt
  def fixtureHeight(id: Long): Int = (3 + Math.floorMod(id, 7L)).toInt

  /** Encode the fixture image for `id` as a real 24-bit BMP — written
    * directly as BITMAPFILEHEADER + BITMAPINFOHEADER + bottom-up padded
    * BGR rows (the standard uncompressed BMP layout). Direct byte
    * construction is ~an order of magnitude cheaper than a
    * BufferedImage + ImageIO.write round trip, and makes the decode test
    * stronger: the bytes the ImageIO DECODER parses were produced by an
    * independent writer, not by its own sibling encoder.
    * (MultimodalSpec cross-checks these bytes decode identically to an
    * ImageIO-encoded reference image.) */
  def encodeBmp(id: Long): Array[Byte] = {
    val w = fixtureWidth(id)
    val h = fixtureHeight(id)
    val br = Math.floorMod(id, 200L).toInt
    val bg = Math.floorMod(id, 180L).toInt
    val bb = Math.floorMod(id, 120L).toInt
    val rowBytes = w * 3
    val pad = (4 - rowBytes % 4) % 4
    val dataSize = (rowBytes + pad) * h
    val b = java.nio.ByteBuffer.allocate(54 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte)          // magic
    b.putInt(54 + dataSize).putInt(0).putInt(54) // file size, reserved, data offset
    b.putInt(40).putInt(w).putInt(h)           // info header, dims (positive h = bottom-up)
    b.putShort(1).putShort(24)                 // planes, 24 bpp
    b.putInt(0).putInt(dataSize)               // BI_RGB uncompressed, image size
    b.putInt(2835).putInt(2835).putInt(0).putInt(0) // 72 DPI, palette unused
    var y = h - 1
    while (y >= 0) { // bottom-up row order, BGR byte order
      var x = 0
      while (x < w) {
        b.put((bb + x + y).toByte).put((bg + y).toByte).put((br + x).toByte)
        x += 1
      }
      var p = 0
      while (p < pad) { b.put(0.toByte); p += 1 }
      y -= 1
    }
    b.array()
  }

  /** The same fixture image through the JVM's own encoder — the reference
    * bytes MultimodalSpec cross-checks [[encodeBmp]] against. */
  def encodeBmpViaImageIO(id: Long): Array[Byte] = {
    val w = fixtureWidth(id)
    val h = fixtureHeight(id)
    val br = Math.floorMod(id, 200L).toInt
    val bg = Math.floorMod(id, 180L).toInt
    val bb = Math.floorMod(id, 120L).toInt
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y, ((br + x) << 16) | ((bg + y) << 8) | (bb + x + y))
        x += 1
      }
      y += 1
    }
    imageIoInMemory() // write-side ImageOutputStream is file-cached too
    val out = new ByteArrayOutputStream()
    require(ImageIO.write(img, "bmp", out), "JVM has no BMP writer")
    out.toByteArray
  }

  /** Decode an image payload (BMP or any format the JVM's ImageIO reads);
    * None when the bytes are not a decodable image. */
  def decodeImage(payload: Array[Byte]): Option[BufferedImage] =
    if (payload == null) None
    else {
      imageIoInMemory() // idempotent guarded read-then-set, cheap per row
      // a malformed container can make ImageIO throw rather than return
      // null — either way the payload is "not a decodable image" here
      scala.util.Try(Option(ImageIO.read(new ByteArrayInputStream(payload))))
        .toOption.flatten
    }

  /** Per-channel integer pixel sums — the decode metadata the oracle can
    * verify closed-form: (width, height, sum_r, sum_g, sum_b). */
  def pixelSums(img: BufferedImage): (Int, Int, Long, Long, Long) = {
    var (sr, sg, sb) = (0L, 0L, 0L)
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val rgb = img.getRGB(x, y)
        sr += (rgb >> 16) & 0xff
        sg += (rgb >> 8) & 0xff
        sb += rgb & 0xff
        x += 1
      }
      y += 1
    }
    (img.getWidth, img.getHeight, sr, sg, sb)
  }

  val imageStatsSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("width", LongType, nullable = false),
    StructField("height", LongType, nullable = false),
    StructField("n_px", LongType, nullable = false),
    StructField("sum_r", LongType, nullable = false),
    StructField("sum_g", LongType, nullable = false),
    StructField("sum_b", LongType, nullable = false)))

  /** REAL decode over a media frame: per-partition ImageIO decode of every
    * payload into integer pixel statistics. Rows whose payload is missing
    * or not a decodable image are dropped (a curation pipeline routes them
    * to a quarantine feed; the decodable subset is the product). */
  def imageStats(media: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(imageStatsSchema)
    media.select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          decodeImage(r.getAs[Array[Byte]]("payload")).map { img =>
            val (w, h, sr, sg, sb) = pixelSums(img)
            Row(r.getLong(0), w.toLong, h.toLong, w.toLong * h, sr, sg, sb)
          }
        }
      }(enc)
  }

  /** Byte-histogram featurizer — the documented fallback for payloads with
    * no decodable image (audio/opaque blobs): deterministic, codec-free. */
  def byteHistogram(payload: Array[Byte], dim: Int = 8): Array[Double] = {
    val f = new Array[Double](dim)
    if (payload != null) payload.foreach(b => f((b & 0xff) % dim) += 1.0)
    f
  }

  /** Per-partition feature extraction over a media frame. Decodable images
    * produce a real feature vector [width, height, mean_r, mean_g, mean_b,
    * 0, 0, 0] (fixed dim 8); opaque payloads fall back to the byte
    * histogram so the pipeline never drops a row here. */
  def extractFeatures(media: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(featureSchema)
    media.select(col("media_id"), col("payload"), col("meta.format").as("format"))
      .mapPartitions { rows =>
        rows.map { r =>
          val payload = r.getAs[Array[Byte]]("payload")
          val feature = decodeImage(payload) match {
            case Some(img) =>
              val (w, h, sr, sg, sb) = pixelSums(img)
              val n = (w.toLong * h).toDouble
              Array(w.toDouble, h.toDouble, sr / n, sg / n, sb / n, 0.0, 0.0, 0.0)
            case None => byteHistogram(payload)
          }
          Row(r.getAs[Long]("media_id"),
            if (payload == null) 0L else payload.length.toLong,
            r.getAs[String]("format"), feature)
        }
      }(enc)
  }

  /** REAL image resample: decode, nearest-neighbor scale (deterministic —
    * no interpolation rounding differences across JVMs), re-encode as BMP. */
  def resizeImage(img: BufferedImage, w: Int, h: Int): Array[Byte] = {
    val dst = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        // nearest-neighbor: integer source index, exactly reproducible
        val sx = (x.toLong * img.getWidth / w).toInt
        val sy = (y.toLong * img.getHeight / h).toInt
        dst.setRGB(x, y, img.getRGB(sx, sy))
        x += 1
      }
      y += 1
    }
    imageIoInMemory() // write-side ImageOutputStream is file-cached too
    val out = new ByteArrayOutputStream()
    ImageIO.write(dst, "bmp", out)
    out.toByteArray
  }

  /** Byte-stride resampler — fallback for opaque payloads: strides/pads the
    * payload to exactly w*h bytes, preserving the contract (fixed output
    * size, metadata updated). */
  def resizeBytes(payload: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val out = new Array[Byte](w * h)
    if (payload != null && payload.length > 0) {
      var i = 0
      while (i < out.length) {
        out(i) = payload((i.toLong * payload.length / out.length).toInt)
        i += 1
      }
    }
    out
  }

  /** Resize a media frame: per-partition processing, payload replaced,
    * typed metadata updated to the new dimensions. Decodable images go
    * through the real resample+re-encode; opaque payloads through the
    * byte-stride fallback. */
  def resize(media: DataFrame, w: Int, h: Int): DataFrame = {
    val enc = RowEncoder.encoderFor(mediaSchema)
    media.select(col("media_id"), col("payload"), col("meta"))
      .mapPartitions { rows =>
        rows.map { r =>
          val meta = r.getStruct(2)
          val payload = r.getAs[Array[Byte]]("payload")
          // missing media stays missing: resizing null into a zero-filled
          // w*h buffer would make absent data indistinguishable from a
          // genuine black image downstream
          val resized =
            if (payload == null) null
            else decodeImage(payload) match {
              case Some(img) => resizeImage(img, w, h)
              case None => resizeBytes(payload, w, h)
            }
          Row(r.getLong(0), resized,
            Row(if (meta == null) null else meta.getString(0), w, h))
        }
      }(enc)
  }

  val frameSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("frame_idx", IntegerType, nullable = false),
    StructField("frame", BinaryType, nullable = false)))

  /** Frame sampling: the payload as fixed-size frames, every `everyN`-th
    * emitted — one output row per sampled frame (video → frame table), the
    * shape a training pipeline feeds to per-frame featurization. (A real
    * container format seeks keyframes; fixed-size frames are the raw-video
    * contract.) */
  def sampleFrames(media: DataFrame, frameBytes: Int, everyN: Int): DataFrame = {
    // validate on the driver — a bad argument should fail here, not as an
    // opaque ArithmeticException inside a task
    require(frameBytes > 0, s"frameBytes must be positive, got $frameBytes")
    require(everyN > 0, s"everyN must be positive, got $everyN")
    val enc = RowEncoder.encoderFor(frameSchema)
    media.select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val payload = r.getAs[Array[Byte]]("payload")
          if (payload == null) Iterator.empty
          // fixed-size-frame contract: the trailing partial chunk is
          // dropped, never emitted as a short "frame" a per-frame
          // featurizer would mis-decode
          else payload.grouped(frameBytes).zipWithIndex
            .filter { case (frame, idx) =>
              idx % everyN == 0 && frame.length == frameBytes }
            .map { case (frame, idx) => Row(r.getLong(0), idx, frame) }
        }
      }(enc)
  }

  /** Build a media frame from the documents table (text bytes as a
    * stand-in payload for the opaque-format path). */
  def fromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(lit("text/plain").as("format"),
        lit(null).cast(IntegerType).as("width"),
        lit(null).cast(IntegerType).as("height")).as("meta"))

  private val encodeBmpUdf = udf((id: Long) => encodeBmp(id))

  /** Build a media frame of REAL BMP payloads keyed by the documents table
    * (the engine's binary fixture: deterministic closed-form images, see
    * the fixture notes above). */
  def bmpFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      encodeBmpUdf(col("doc_id")).as("payload"),
      struct(lit("image/bmp").as("format"),
        (lit(4) + pmod(col("doc_id"), lit(13L)).cast(IntegerType)).as("width"),
        (lit(3) + pmod(col("doc_id"), lit(7L)).cast(IntegerType)).as("height")).as("meta"))
}
