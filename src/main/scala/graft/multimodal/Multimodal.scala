package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column handling for training-data pipelines: media travel as
  * opaque `binary` columns with typed metadata; decode/feature-extract run
  * as batch-shaped partition transforms (the Scala analog of `mapInPandas` —
  * one worker invocation per batch, vectorizable inside).
  *
  * PNG and JPEG decode is REAL — `javax.imageio` ships in the JDK
  * ([[ImageIoDecode]]). The remaining codec libraries (RIFF audio/video,
  * ffmpeg formats) are NOT in this container, so their decode kernel is a
  * clearly-marked deterministic fake ([[FakeDecode]]); the Spark-side
  * plumbing — schema, magic-byte sniffing, partitioning, batch shape,
  * feature schema — is real and tested for every format. Swapping
  * [[FakeDecode]] for a JNI/ffmpeg kernel changes nothing upstream.
  */
object Multimodal {

  /** Typed metadata carried beside every media payload. */
  val mediaMetadataType: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("sha256", StringType, nullable = false)))

  /** Container-format magic numbers (public file-format specs). */
  private val PngMagic: Array[Byte] = Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte)
  private val JpegMagic: Array[Byte] = Array(0xff.toByte, 0xd8.toByte, 0xff.toByte)
  private val RiffMagic: Array[Byte] = Array('R'.toByte, 'I'.toByte, 'F'.toByte, 'F'.toByte)

  /** Sniff the container format from leading magic bytes — pure Column ops,
    * pushed into codegen; no decode needed to route/filter by type.
    */
  def sniffFormat(media: Column): Column =
    when(substring(media, 1, 4) === lit(PngMagic), "png")
      .when(substring(media, 1, 3) === lit(JpegMagic), "jpeg")
      .when(substring(media, 1, 4) === lit(RiffMagic), "riff")
      .otherwise("unknown")

  /** Attach the typed metadata struct to a media column. */
  def withMetadata(df: DataFrame, mediaCol: String): DataFrame =
    df.withColumn("media_meta", struct(
      sniffFormat(col(mediaCol)).as("format"),
      octet_length(col(mediaCol)).cast("long").as("n_bytes"),
      sha2(col(mediaCol), 256).as("sha256")))

  /** "Frame sampling": n evenly-spaced single bytes from the payload —
    * the real operator would seek key frames; the slicing/columnar shape is
    * identical.
    */
  def sampleBytes(media: Column, n: Int): Column = {
    require(n >= 1, s"sample count must be >= 1, got $n")
    // divisor floor of 1: n == 1 would otherwise divide by zero and yield
    // an array of nulls instead of the single first byte
    transform(
      sequence(lit(0), lit(n - 1)),
      i => {
        val pos = floor(i * (octet_length(media) - 1) / lit(math.max(n - 1, 1))).cast("int") + 1
        conv(hex(substring(media, pos, lit(1))), 16, 10).cast("int")
      })
  }

  /** STUB decode kernel — deterministic fake standing in for the absent
    * codec libs: a 16-bin normalized byte histogram as the "embedding".
    * Replace with a real decoder (ImageIO / ffmpeg / JNI) in production;
    * signature and batch shape stay the same.
    */
  object FakeDecode {
    val FeatureDim = 16

    /** Genuinely batch-shaped kernel — the signature a vectorized decoder
      * (ffmpeg/ImageIO/JNI) would plug into: one call per batch of
      * payloads, one feature vector out per payload.
      */
    def featuresBatch(payloads: Array[Array[Byte]]): Array[Array[Float]] =
      payloads.map(features)

    def features(payload: Array[Byte]): Array[Float] = {
      val hist = new Array[Float](FeatureDim)
      if (payload != null && payload.nonEmpty) {
        payload.foreach(b => hist((b & 0xff) / FeatureDim) += 1f)
        var i = 0
        while (i < FeatureDim) { hist(i) /= payload.length; i += 1 }
      }
      hist
    }
  }

  private def byteHex(media: Column, pos: Int): Column =
    hex(substring(media, pos, 1))

  /** Little-endian 16/32-bit reads at a fixed 1-based byte offset — pure
    * Column arithmetic (substring + hex + conv), fully codegen'd: header
    * fields of little-endian containers need no decode kernel at all.
    */
  def le16(media: Column, pos: Int): Column =
    conv(concat(byteHex(media, pos + 1), byteHex(media, pos)), 16, 10).cast("int")
  def le32(media: Column, pos: Int): Column =
    conv(concat(byteHex(media, pos + 3), byteHex(media, pos + 2),
      byteHex(media, pos + 1), byteHex(media, pos)), 16, 10).cast("long")

  /** Canonical PCM WAV header (public RIFF/WAVE spec: "RIFF" size "WAVE"
    * "fmt " 16 fmt fields, then "data" size payload) as a typed struct —
    * the RIFF branch's REAL metadata extract (sample decode stays with
    * [[FakeDecode]]; header parsing is byte arithmetic, not a codec).
    * Null for anything that is not a canonical PCM WAV. All arithmetic is
    * integer-exact: n_frames = data_size div block_align and duration_ms =
    * n_frames·1000 div sample_rate replay identically in any engine.
    */
  def wavHeader(media: Column): Column = {
    val isWav = substring(media, 1, 4) === lit("RIFF".getBytes("US-ASCII")) &&
      substring(media, 9, 8) === lit("WAVEfmt ".getBytes("US-ASCII")) &&
      substring(media, 37, 4) === lit("data".getBytes("US-ASCII")) &&
      le16(media, 21) === lit(1) // PCM
    val blockAlign = le16(media, 33)
    val frames = floor(le32(media, 41).cast("double") / blockAlign).cast("long")
    val rate = le32(media, 25)
    when(isWav, struct(
      le16(media, 23).as("channels"),
      rate.as("sample_rate"),
      le16(media, 35).as("bits_per_sample"),
      frames.as("n_frames"),
      floor((frames * 1000).cast("double") / rate).cast("long").as("duration_ms")))
  }

  /** Deterministic canonical PCM WAV encoder (test/oracle harness, public
    * spec byte layout): real RIFF/WAVE container bytes with a silent
    * payload, so [[wavHeader]] is verified against known ground truth.
    */
  object WavCodec {
    def encode(channels: Int, sampleRate: Int, bitsPerSample: Int, nFrames: Int): Array[Byte] = {
      val blockAlign = channels * bitsPerSample / 8
      val dataSize = nFrames * blockAlign
      val bb = java.nio.ByteBuffer.allocate(44 + dataSize)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
        .put("WAVEfmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(channels.toShort).putInt(sampleRate)
        .putInt(sampleRate * blockAlign).putShort(blockAlign.toShort)
        .putShort(bitsPerSample.toShort)
        .put("data".getBytes("US-ASCII")).putInt(dataSize)
      bb.array()
    }
  }

  /** Real decode kernel for the two container formats the JDK ships codecs
    * for — PNG and JPEG via `javax.imageio` (public JDK API, headless-safe):
    * width / height / channel count come from an ACTUAL decode of the
    * payload bytes. RIFF and unknown payloads stay on the [[FakeDecode]]
    * stub path — their codecs are not in this container, and the magic-byte
    * router ([[sniffFormat]]) already separates them. A payload that sniffs
    * as png/jpeg but fails to decode yields None (poison tolerance), never
    * an exception.
    */
  object ImageIoDecode {
    /** (width, height, channels), or None when undecodable. */
    def dims(payload: Array[Byte]): Option[(Int, Int, Int)] =
      if (payload == null || payload.isEmpty) None
      else try {
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
        if (img == null) None
        else Some((img.getWidth, img.getHeight, img.getColorModel.getNumComponents))
      } catch { case scala.util.control.NonFatal(_) => None }

    /** Deterministic real-image encoder (test/oracle harness): a w×h
      * 3-channel image with a flat caller-chosen color, written through the
      * JDK's matching writer — REAL container bytes any third-party decoder
      * accepts. Lets an oracle know the true dimensions without being able
      * to decode: correctness of [[dims]] is then an exact compare.
      */
    def encode(format: String, width: Int, height: Int, rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(width, height,
        java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) { img.setRGB(x, y, rgb); x += 1 }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, format, bos)
      bos.toByteArray
    }

    /** [[encode]] with a vertical split: left half `rgbLeft`, right half
      * `rgbRight` — the smallest image whose perceptual hash is non-trivial
      * AND analytically predictable (see [[aHash64]]'s bit layout), which is
      * what lets q_mm_phash put a REAL decode→pixel-feature kernel under the
      * exact oracle gate.
      */
    def encodeHalves(format: String, width: Int, height: Int,
        rgbLeft: Int, rgbRight: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(width, height,
        java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          img.setRGB(x, y, if (x < width / 2) rgbLeft else rgbRight)
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, format, bos)
      bos.toByteArray
    }

    /** 64-bit average hash (aHash) — the image near-dup primitive: 8×8
      * grid of block means over the decoded pixels, bit j = cy·8+cx set iff
      * cell (cy,cx)'s mean gray STRICTLY exceeds the global mean. All
      * arithmetic is exact int64 — grays are the fixed-point ITU-R 601
      * weights 299r+587g+114b (never divided), and the mean comparison is
      * cross-multiplied (cellSum·totalN > totalSum·cellN) so no float ever
      * enters — which is what lets an oracle replay the hash analytically
      * for constructed inputs. Pixels map to cells by floor(x·8/w): ragged
      * blocks are fine; a dimension < 8 leaves its surplus cells empty
      * (bit 0). Exact up to ~16-megapixel images (cellSum·totalN < 2^63);
      * undecodable/empty payloads yield None, never an exception.
      */
    def aHash64(payload: Array[Byte]): Option[Long] =
      if (payload == null || payload.isEmpty) None
      else try {
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
        if (img == null) None
        else {
          val w = img.getWidth
          val h = img.getHeight
          val cellSum = new Array[Long](64)
          val cellN = new Array[Long](64)
          var totalSum = 0L
          var y = 0
          while (y < h) {
            val cy = y * 8 / h
            var x = 0
            while (x < w) {
              val cx = x * 8 / w
              val rgb = img.getRGB(x, y)
              val gray = 299L * ((rgb >> 16) & 0xff) +
                587L * ((rgb >> 8) & 0xff) + 114L * (rgb & 0xff)
              cellSum(cy * 8 + cx) += gray
              cellN(cy * 8 + cx) += 1
              totalSum += gray
              x += 1
            }
            y += 1
          }
          val totalN = w.toLong * h
          var hash = 0L
          var j = 0
          while (j < 64) {
            if (cellSum(j) * totalN > totalSum * cellN(j)) hash |= 1L << j
            j += 1
          }
          Some(hash)
        }
      } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Decoded image dimensions through the same batch-shaped partition
    * transform as [[extractFeatures]]: png/jpeg payloads go through the
    * REAL `javax.imageio` decode; riff/unknown (no JDK codec) and poison
    * payloads yield null dims. Output: (id, width, height, channels).
    */
  def decodeDims(df: DataFrame, idCol: String, mediaCol: String,
      batchSize: Int = 64): DataFrame = {
    val inSchema = df.select(col(idCol), col(mediaCol)).schema
    val outSchema = StructType(Seq(
      inSchema.head,
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("channels", IntegerType, nullable = true)))
    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(outSchema)
    df.select(col(idCol), col(mediaCol)).mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { r =>
          ImageIoDecode.dims(r.getAs[Array[Byte]](1)) match {
            case Some((w, h, c)) => Row(r.get(0), w, h, c)
            case None            => Row(r.get(0), null, null, null)
          }
        }
      }
    }
  }

  /** Perceptual hash through the same batch-shaped partition transform as
    * [[decodeDims]]: png/jpeg payloads run the REAL decode +
    * [[ImageIoDecode.aHash64]] pixel kernel; undecodable payloads yield a
    * null hash. Output: (id, phash long). Map-side only — near-dup pairing
    * over the hashes then rides the same banded/Hamming machinery as
    * SimHash banding (q_dedup_simhash_bands), which is the 100 TB image-dedup path.
    */
  def perceptualHash(df: DataFrame, idCol: String, mediaCol: String,
      batchSize: Int = 64): DataFrame = {
    val inSchema = df.select(col(idCol), col(mediaCol)).schema
    val outSchema = StructType(Seq(
      inSchema.head,
      StructField("phash", LongType, nullable = true)))
    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(outSchema)
    df.select(col(idCol), col(mediaCol)).mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { r =>
          ImageIoDecode.aHash64(r.getAs[Array[Byte]](1)) match {
            case Some(hv) => Row(r.get(0), hv)
            case None     => Row(r.get(0), null)
          }
        }
      }
    }
  }

  /** Batch-shaped feature extraction: one partition → batches of
    * `batchSize` rows → per-batch kernel invocation (mapInPandas shape).
    * Output: (id, features float[]).
    *
    * Implemented with Dataset.mapPartitions + Encoders.row (NOT `.rdd`,
    * which forces batch execution — illegal on streaming plans — and
    * severs Catalyst lineage): the same
    * operator serves parquet batch frames and `readStream` pipelines
    * (MultimodalStreamingSpec runs it over a MemoryStream).
    */
  def extractFeatures(df: DataFrame, idCol: String, mediaCol: String,
      batchSize: Int = 64): DataFrame = {
    val inSchema = df.select(col(idCol), col(mediaCol)).schema
    val outSchema = StructType(Seq(
      inSchema.head,
      StructField("features", ArrayType(FloatType, containsNull = false), nullable = false)))
    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(outSchema)
    df.select(col(idCol), col(mediaCol)).mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // ONE kernel invocation per batch — the vectorized-decoder seam
        val feats = FakeDecode.featuresBatch(
          batch.map(_.getAs[Array[Byte]](1)).toArray)
        batch.iterator.zip(feats.iterator).map { case (r, f) =>
          Row(r.get(0), f.toSeq)
        }
      }
    }
  }
}
