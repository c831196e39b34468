package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column handling: image/audio/video as opaque `binary`
  * columns with typed metadata, processed in partition-batched kernels.
  *
  * IMAGE decode is REAL: PNG/JPEG/GIF/BMP decode, resize, and re-encode
  * run through the JDK's `javax.imageio` (ships in java.desktop — zero
  * external deps). Audio/video decode remains a STUB (`decodeStub`, a
  * deterministic byte-fold — those codecs genuinely aren't in the JDK);
  * the Spark-side plumbing — schema, partitioning, batch kernel shape,
  * metadata propagation — is identical for both, so swapping the stub
  * for a JNI/native decoder changes nothing else. At 100 TB the binary
  * column rides in parquet alongside its metadata; kernels run one
  * partition at a time with bounded memory.
  */
object Multimodal {

  val MediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("media_type", StringType),   // image | audio | video
    StructField("content", BinaryType),
    StructField("meta", StructType(Seq(
      StructField("source", StringType),
      StructField("n_bytes", LongType))))))

  /** Wrap any (id, string payload) frame as a media table — used by tests
    * and as the pattern for real ingestion (payload bytes + metadata).
    */
  def fromText(df: DataFrame, idCol: String, textCol: String, mediaType: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      lit(mediaType).as("media_type"),
      col(textCol).cast("binary").as("content"),
      struct(lit("synthetic").as("source"),
        length(col(textCol)).cast("long").as("n_bytes")).as("meta"))

  // ---- real image codec (JDK ImageIO) --------------------------------------

  /** ImageIO's default stream cache writes temp FILES per decode — wrong
    * for executor kernels (fs churn, and java.io.tmpdir may not exist in
    * a forked JVM). Memory-cached streams, set once per JVM.
    */
  @transient private lazy val imageIoInit: Unit =
    javax.imageio.ImageIO.setUseCache(false)

  /** Decode an image byte payload (PNG/JPEG/GIF/BMP — whatever the JDK's
    * registered readers handle). None when the bytes aren't a decodable
    * image.
    */
  def decodeImage(bytes: Array[Byte]): Option[java.awt.image.BufferedImage] = {
    imageIoInit
    if (bytes == null || bytes.length == 0) None
    else
      // NonFatal, not just IOException: JDK plugin readers throw
      // RuntimeExceptions (CMMException, NegativeArraySize, …) on
      // payloads whose magic bytes match but whose body is corrupt —
      // one bad row must fall back, not kill the job
      try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
      catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Encode to PNG bytes (lossless — the round-trip inverse of
    * [[decodeImage]] for RGB content).
    */
  def encodePng(img: java.awt.image.BufferedImage): Array[Byte] = {
    imageIoInit
    val out = new java.io.ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(img, "png", out), "no PNG writer registered")
    out.toByteArray
  }

  /** Real bilinear resize kernel. */
  def resizeBilinear(img: java.awt.image.BufferedImage, w: Int, h: Int): java.awt.image.BufferedImage = {
    require(w >= 1 && h >= 1, s"bad target size ${w}x$h")
    val out = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val g = out.createGraphics()
    try {
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(img, 0, 0, w, h, null)
    } finally g.dispose()
    out
  }

  /** Decoded image metadata per media row: `(media_id, media_type,
    * n_bytes, width, height, channels)` — dims null when the payload
    * isn't a decodable image. Partition-batched like every kernel here.
    */
  def imageMeta(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("media_type", StringType),
      StructField("n_bytes", LongType),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("channels", IntegerType, nullable = true)))
    val rdd = media.select(col("media_id"), col("media_type"), col("content")).rdd
      .mapPartitions { rows =>
        rows.map { r =>
          val bytes = r.getAs[Array[Byte]]("content")
          val n = if (bytes == null) 0L else bytes.length.toLong
          decodeImage(bytes) match {
            case Some(img) =>
              Row(r.getLong(0), r.getString(1), n,
                img.getWidth, img.getHeight, img.getRaster.getNumBands)
            case None => Row(r.getLong(0), r.getString(1), n, null, null, null)
          }
        }
      }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Real image resize over a media frame: decodable payloads are
    * bilinear-resized to `w`×`h` and re-encoded as PNG (metadata rewritten
    * to the new byte size); undecodable payloads pass through unchanged.
    */
  def resizeImages(media: DataFrame, w: Int, h: Int): DataFrame = {
    val spark = media.sparkSession
    val rdd = media.select(col("media_id"), col("media_type"), col("content"),
        col("meta.source").as("source")).rdd
      .mapPartitions { rows =>
        rows.map { r =>
          val bytes = r.getAs[Array[Byte]]("content")
          val out = decodeImage(bytes) match {
            case Some(img) => encodePng(resizeBilinear(img, w, h))
            case None => bytes
          }
          Row(r.getLong(0), r.getString(1), out,
            Row(r.getString(3), if (out == null) 0L else out.length.toLong))
        }
      }
    spark.createDataFrame(rdd, MediaSchema)
  }

  // ---- real WAV/PCM codec (javax.sound.sampled) ----------------------------

  /** Decoded PCM audio: normalized interleaved samples in [-1, 1). A
    * 16-bit value v maps to v/32768f exactly (24-bit float mantissa), so
    * `round(sample * 32768f)` recovers the raw int16 losslessly.
    */
  final case class WavAudio(sampleRate: Float, channels: Int, frames: Long,
      samples: Array[Float]) {
    def durationSec: Double = frames.toDouble / sampleRate
  }

  /** Decode a WAV (RIFF/PCM) payload via `javax.sound.sampled` — in
    * java.desktop, zero external deps, the same argument that made image
    * decode real. 8-bit and 16-bit PCM, any channel count, either
    * endianness. None for compressed codecs (MP3/OGG — genuinely not in
    * the JDK; those fall back to the stub) or undecodable bytes.
    */
  def decodeWav(bytes: Array[Byte]): Option[WavAudio] = {
    import javax.sound.sampled.AudioFormat.Encoding.{PCM_SIGNED, PCM_UNSIGNED}
    if (bytes == null || bytes.length == 0) return None
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val f = in.getFormat
        val enc = f.getEncoding
        val bits = f.getSampleSizeInBits
        if ((enc != PCM_SIGNED && enc != PCM_UNSIGNED) || (bits != 8 && bits != 16))
          return None
        val data = in.readAllBytes()
        val n = data.length / (bits / 8)
        val out = new Array[Float](n)
        var i = 0
        if (bits == 8) {
          while (i < n) {
            val v = if (enc == PCM_UNSIGNED) (data(i) & 0xff) - 128 else data(i).toInt
            out(i) = v / 128f
            i += 1
          }
        } else {
          val be = f.isBigEndian
          while (i < n) {
            val b0 = data(2 * i) & 0xff
            val b1 = data(2 * i + 1) & 0xff
            val raw = if (be) (b0 << 8) | b1 else (b1 << 8) | b0
            val v = if (enc == PCM_UNSIGNED) raw - 32768 else raw.toShort.toInt
            out(i) = v / 32768f
            i += 1
          }
        }
        Some(WavAudio(f.getSampleRate, f.getChannels, in.getFrameLength, out))
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Encode raw int16 PCM as WAV bytes (the round-trip inverse of
    * [[decodeWav]]) through the JDK's actual RIFF writer.
    */
  def encodeWav(samples: Array[Short], sampleRate: Int, channels: Int): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(sampleRate.toFloat, 16, channels,
      true, false) // PCM_SIGNED little-endian
    val data = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      data(2 * i) = (samples(i) & 0xff).toByte
      data(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      i += 1
    }
    val stream = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, samples.length / channels)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(stream,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** Decoded audio metadata per media row: `(media_id, media_type,
    * n_bytes, sample_rate, channels, frames, duration_s)` — audio fields
    * null when the payload isn't decodable PCM. The audio twin of
    * [[imageMeta]], same partition-batched kernel shape.
    */
  def audioMeta(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("media_type", StringType),
      StructField("n_bytes", LongType),
      StructField("sample_rate", FloatType, nullable = true),
      StructField("channels", IntegerType, nullable = true),
      StructField("frames", LongType, nullable = true),
      StructField("duration_s", DoubleType, nullable = true)))
    val rdd = media.select(col("media_id"), col("media_type"), col("content")).rdd
      .mapPartitions { rows =>
        rows.map { r =>
          val bytes = r.getAs[Array[Byte]]("content")
          val n = if (bytes == null) 0L else bytes.length.toLong
          decodeWav(bytes) match {
            case Some(w) =>
              Row(r.getLong(0), r.getString(1), n,
                w.sampleRate, w.channels, w.frames, w.durationSec)
            case None => Row(r.getLong(0), r.getString(1), n, null, null, null, null)
          }
        }
      }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Real audio features: `[sampleRate, channels, frames, duration, rms,
    * meanAbs, zeroCrossRate]` zero-padded to [[FeatureDim]] — same
    * fixed-dim contract as the image features and the stub.
    */
  private[multimodal] def audioFeatures(w: WavAudio): Array[Float] = {
    val out = new Array[Float](FeatureDim)
    out(0) = w.sampleRate; out(1) = w.channels.toFloat; out(2) = w.frames.toFloat
    out(3) = w.durationSec.toFloat
    var sumSq = 0.0; var sumAbs = 0.0; var zc = 0
    var i = 0
    while (i < w.samples.length) {
      val v = w.samples(i)
      sumSq += v.toDouble * v; sumAbs += math.abs(v.toDouble)
      if (i > 0 && (w.samples(i - 1) >= 0) != (v >= 0)) zc += 1
      i += 1
    }
    val n = math.max(w.samples.length, 1)
    out(4) = math.sqrt(sumSq / n).toFloat
    out(5) = (sumAbs / n).toFloat
    out(6) = zc.toFloat / n
    out
  }

  val FeatureDim = 16

  /** STUB decoder for codecs the JDK genuinely lacks (compressed audio
    * and video): a deterministic byte-fold so tests can assert exact
    * plumbing behavior. Images take the real [[decodeImage]] path, WAV
    * audio the real [[decodeWav]] path.
    */
  private[multimodal] def decodeStub(bytes: Array[Byte]): Array[Float] = {
    val out = new Array[Float](FeatureDim)
    if (bytes == null) return out
    var i = 0
    while (i < bytes.length) {
      out(i % FeatureDim) += (bytes(i) & 0xff) / 255.0f
      i += 1
    }
    out
  }

  /** Real image features: `[width, height, channels, meanR, meanG,
    * meanB]` zero-padded to [[FeatureDim]] — the downstream contract
    * (fixed-dim Array[Float] per item) is the same as the stub's.
    */
  /** Perceptual AVERAGE-HASH of a decoded image: partition into an
    * 8×8 block grid, luminance-sum each block (lum = r+g+b — an
    * integer ×3 scale of the mean, so no division anywhere), and set
    * bit `by·8+bx` iff the block's mean EXCEEDS the global mean
    * (`bs·64 > ts` in exact integer cross-multiplied form). Returned as
    * two 32-bit halves packed in longs so no value ever touches the
    * sign bit. The classic pHash-family content fingerprint: identical
    * DECODED PIXELS hash identically regardless of how the bytes were
    * encoded (PNG writer variant, raster layout), which is exactly what
    * byte-level md5 dedup cannot see. Requires dimensions divisible by
    * 8 — compose with [[resizeBilinear]] first for arbitrary sizes (the
    * canonical aHash pipeline resizes to a small square anyway).
    */
  def averageHash(img: java.awt.image.BufferedImage): (Long, Long) = {
    val (w, h) = (img.getWidth, img.getHeight)
    require(w % 8 == 0 && h % 8 == 0,
      s"averageHash needs dims divisible by 8 (got ${w}x$h) - resize first")
    val (bw, bh) = (w / 8, h / 8)
    val bs = new Array[Long](64)
    var ts = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val lum = ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
        bs((y / bh) * 8 + x / bw) += lum
        ts += lum
        x += 1
      }
      y += 1
    }
    var lo = 0L; var hi = 0L
    var b = 0
    while (b < 64) {
      if (bs(b) * 64 > ts) {
        if (b < 32) lo |= 1L << b else hi |= 1L << (b - 32)
      }
      b += 1
    }
    (lo, hi)
  }

  /** Walsh–Hadamard perceptual hash (wHash) — the FREQUENCY-DOMAIN
    * member of the pHash family, exact in integers: 8×8 luminance block
    * sums → 2D Walsh–Hadamard transform (natural order, H[u,x] =
    * (−1)^popcount(u&x) — the ±1 integer analog of pHash's DCT) → the
    * 15 low-index coefficients (u < 4, v < 4, DC excluded) thresholded
    * at their exact median (the rank-8 value) → a 15-bit fingerprint.
    * Where [[averageHash]] thresholds each block against the global
    * mean (spatial), this thresholds frequency structure — the two
    * disagree exactly where pattern layout differs at equal brightness.
    * Every step is BIGINT arithmetic, so an engine-independent oracle
    * can replay it from a pixel formula bit for bit.
    */
  def hadamardHash(img: java.awt.image.BufferedImage): Long = {
    val (w, h) = (img.getWidth, img.getHeight)
    require(w % 8 == 0 && h % 8 == 0,
      s"hadamardHash needs dims divisible by 8 (got ${w}x$h) - resize first")
    val (bw, bh) = (w / 8, h / 8)
    val bs = Array.ofDim[Long](8, 8)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val lum = ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
        bs(y / bh)(x / bw) += lum
        x += 1
      }
      y += 1
    }
    val coeffs = new Array[Long](15)
    var idx = 0
    var v = 0
    while (v < 4) {
      var u = 0
      while (u < 4) {
        if (u != 0 || v != 0) {
          var c = 0L
          var by = 0
          while (by < 8) {
            var bx = 0
            while (bx < 8) {
              val s = Integer.bitCount(u & bx) + Integer.bitCount(v & by)
              c += (if ((s & 1) == 0) bs(by)(bx) else -bs(by)(bx))
              bx += 1
            }
            by += 1
          }
          coeffs(idx) = c
          idx += 1
        }
        u += 1
      }
      v += 1
    }
    val medV = coeffs.sorted.apply(7)
    var hash = 0L
    var i = 0
    while (i < 15) {
      if (coeffs(i) > medV) hash |= 1L << i
      i += 1
    }
    hash
  }

  private[multimodal] def imageFeatures(img: java.awt.image.BufferedImage): Array[Float] = {
    val out = new Array[Float](FeatureDim)
    val (w, h) = (img.getWidth, img.getHeight)
    out(0) = w.toFloat; out(1) = h.toFloat
    out(2) = img.getRaster.getNumBands.toFloat
    var sr = 0L; var sg = 0L; var sb = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
        x += 1
      }
      y += 1
    }
    val n = w.toLong * h
    out(3) = sr.toFloat / n; out(4) = sg.toFloat / n; out(5) = sb.toFloat / n
    out
  }

  /** Feature extraction as a partition-batched kernel: one pass per
    * partition, primitive loops inside (the Scala analog of a pandas-batch
    * UDF — same batch shape, no per-row closure dispatch in the hot loop).
    * Payloads that decode as images get REAL features ([[imageFeatures]]),
    * WAV payloads real audio features ([[audioFeatures]]); everything else
    * falls back to the deterministic stub fold. The `decoder` column
    * records which path produced each row ("image" / "wav" / "stub") so a
    * corrupt payload can never masquerade as decoded media downstream —
    * similarity search and audits filter on it.
    */
  def extractFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("media_type", StringType),
      StructField("n_bytes", LongType),
      StructField("decoder", StringType, nullable = false),
      StructField("features", ArrayType(FloatType))))
    val rdd = media.select(col("media_id"), col("media_type"), col("content")).rdd
      .mapPartitions { rows =>
        rows.map { r =>
          val bytes = r.getAs[Array[Byte]]("content")
          val (decoder, feats) = decodeImage(bytes) match {
            case Some(img) => ("image", imageFeatures(img))
            case None => decodeWav(bytes) match {
              case Some(w) => ("wav", audioFeatures(w))
              case None => ("stub", decodeStub(bytes))
            }
          }
          Row(r.getLong(0), r.getString(1),
            if (bytes == null) 0L else bytes.length.toLong,
            decoder, feats.toSeq)
        }
      }
    spark.createDataFrame(rdd, outSchema)
  }

  /** "Resize" kernel (the image-downscale analog over opaque bytes): keep
    * every `factor`-th byte in a partition-batched primitive loop and
    * rewrite the metadata to match. STUB for a real resampling codec —
    * the content transform + metadata contract is what production swaps.
    */
  def resize(media: DataFrame, factor: Int): DataFrame = {
    require(factor >= 1, "factor must be >= 1")
    val spark = media.sparkSession
    val rdd = media.select(col("media_id"), col("media_type"), col("content"),
        col("meta.source").as("source")).rdd
      .mapPartitions { rows =>
        rows.map { r =>
          val bytes = r.getAs[Array[Byte]]("content")
          val out =
            if (bytes == null) null
            else Array.tabulate(bytes.length / factor)(i => bytes(i * factor))
          Row(r.getLong(0), r.getString(1), out,
            Row(r.getString(3), if (out == null) 0L else out.length.toLong))
        }
      }
    spark.createDataFrame(rdd, MediaSchema)
  }

  /** Deterministic frame sampling for video-like media: n evenly-spaced
    * byte offsets per item (the plumbing for keyframe extraction —
    * explode(sequence), fully declarative).
    */
  def frameSample(media: DataFrame, n: Int): DataFrame =
    media
      .withColumn("n_bytes", col("meta.n_bytes"))
      .withColumn("frame_idx", explode(sequence(lit(0), lit(n - 1))))
      .withColumn("byte_offset",
        (col("frame_idx") * greatest(col("n_bytes"), lit(1L)) / n).cast("long"))
      .select(col("media_id"), col("frame_idx"), col("byte_offset"), col("media_type"))
}
