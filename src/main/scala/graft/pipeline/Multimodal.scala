package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) column plumbing: payloads are opaque
  * `binary` columns with a typed metadata struct; decode / feature-extract /
  * resize / frame-sample run as batched per-partition transforms
  * (`mapPartitions` — the Scala analogue of arrow-batched `mapInPandas`).
  *
  * IMAGES are handled by REAL JDK codecs (javax.imageio decode,
  * java.awt bilinear resampling): decode, resize, grid features, and
  * perceptual-hash near-dup all operate on actual pixels. AUDIO is
  * decoded for real through javax.sound.sampled (WAV/PCM: rate,
  * channels, duration, amplitude/RMS/zero-crossing features). VIDEO
  * frames are extracted for real from the two containers with
  * zero-dependency parsers — Y4M (uncompressed YUV4MPEG2 planes) and
  * MJPEG (concatenated JPEGs, decoded by the imageio kernels).
  * Compressed audio (mp3/ogg) and inter-frame codecs (h264…) have no
  * JDK codec: those payloads fall back to the deterministic stub
  * (`fakeDecode`) behind the same batch contract — swap in an ffmpeg
  * pipe without touching the plumbing. */
object Multimodal {

  /** Decoded-feature schema produced by the (stubbed) decoder. */
  val decodedSchema: StructType = StructType(Seq(
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("channels", IntegerType),
    StructField("mean_intensity", DoubleType)))

  /** Attach a metadata struct to a binary payload column — declarative,
    * codegen'd (no decode needed for metadata). */
  def withMetadata(df: DataFrame, payload: String, modality: String,
      format: String): DataFrame =
    df.withColumn("meta", struct(
      lit(modality).as("modality"),
      lit(format).as("format"),
      octet_length(col(payload)).cast("long").as("byte_len"),
      md5(col(payload)).as("content_md5")))

  /** REAL image decoder: javax.imageio (JDK-bundled — PNG/JPEG/BMP/GIF),
    * no external libraries. Returns null for undecodable payloads. */
  private[pipeline] def imageDecode(bytes: Array[Byte]): Row = {
    if (bytes == null) null
    else {
      try {
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(bytes))
        if (img == null) null
        else {
          val raster = img.getRaster
          val channels = raster.getNumBands
          var sum = 0.0
          var n = 0L
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) {
              var b = 0
              while (b < channels) {
                sum += raster.getSample(x, y, b); n += 1; b += 1
              }
              x += 1
            }
            y += 1
          }
          Row(img.getWidth, img.getHeight, channels,
            if (n > 0) sum / n else 0.0)
        }
      } catch { case _: java.io.IOException => null }
    }
  }

  /** STUB decoder: deterministic fake features from payload bytes — the
    * fallback for modalities with no JDK codec (audio/video), keeping
    * the batch contract testable on synthetic payloads. */
  private def fakeDecode(bytes: Array[Byte]): Row = {
    if (bytes == null) Row(null, null, null, null)
    else {
      val h = java.util.Arrays.hashCode(bytes)
      val w = 64 + math.floorMod(h, 960)          // fake width 64..1023
      val ht = 64 + math.floorMod(h >> 10, 960)   // fake height
      val mean = bytes.iterator.map(b => (b & 0xff).toDouble).sum /
        math.max(bytes.length, 1)
      Row(w, ht, 3, mean)
    }
  }

  /** Batched decode over partitions: one decoder instance per partition
    * (the expensive init — codec context, model weights — amortizes over
    * the whole batch, exactly like arrow-batched `mapInPandas`). Appends a
    * `decoded` struct column. `real = true` routes through the
    * javax.imageio image decoder (undecodable payloads fall back to the
    * deterministic stub so the pipeline stays total). */
  def decodeBatched(df: DataFrame, payload: String,
      real: Boolean = false): DataFrame = {
    val outSchema = StructType(df.schema.fields :+
      StructField("decoded", decodedSchema))
    val payloadIdx = df.schema.fieldIndex(payload)
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    df.mapPartitions { it =>
      // per-partition decoder init would go here
      it.map { r =>
        val bytes = if (r.isNullAt(payloadIdx)) null
          else r.getAs[Array[Byte]](payloadIdx)
        val decoded =
          if (real) Option(imageDecode(bytes)).getOrElse(fakeDecode(bytes))
          else fakeDecode(bytes)
        Row.fromSeq(r.toSeq :+ decoded)
      }
    }(enc)
  }

  /** Deterministic frame sampling for video-like payloads: pick every
    * `stride`-th chunk of `chunkSize` bytes as a "frame" — the partition/
    * schema shape of real frame extraction. */
  def sampleFrames(df: DataFrame, payload: String, chunkSize: Int,
      stride: Int): DataFrame =
    df.withColumn("frames",
      transform(
        sequence(lit(0),
          greatest(floor(octet_length(col(payload)) /
            (chunkSize * stride)).cast("int") - 1, lit(0))),
        i => col(payload).substr((i * chunkSize * stride + 1).cast("int"),
          lit(chunkSize))))

  // ---- real audio kernels (JDK-only: javax.sound.sampled) ---------------

  /** Feature struct produced by the real WAV/PCM decoder. */
  val audioSchema: StructType = StructType(Seq(
    StructField("sample_rate", IntegerType),
    StructField("channels", IntegerType),
    StructField("n_frames", LongType),
    StructField("duration_sec", DoubleType),
    StructField("mean_abs", DoubleType),
    StructField("rms", DoubleType),
    StructField("zero_crossings", LongType)))

  /** REAL audio decoder: javax.sound.sampled (JDK-bundled — WAV/AIFF/AU
    * containers, PCM payloads). Parses the container header for rate /
    * channels / frame count and folds the 16-bit PCM samples into
    * mean-|amplitude|, RMS, and zero-crossing count (sign flips over
    * the interleaved stream; exact for mono, a cross-channel mix for
    * stereo). Null for undecodable or non-16-bit-PCM payloads. */
  private[graft] def audioDecode(bytes: Array[Byte]): Row = {
    if (bytes == null) return null
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val fmt = in.getFormat
        if (fmt.getEncoding !=
            javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
            fmt.getSampleSizeInBits != 16) return null
        val data = in.readAllBytes()
        val le = !fmt.isBigEndian
        val ch = fmt.getChannels
        val n = data.length / 2
        var i = 0
        var sumAbs = 0.0
        var sumSq = 0.0
        var zc = 0L
        var prevSign = 0
        while (i < n) {
          val lo = data(2 * i) & 0xff
          val hi = data(2 * i + 1) & 0xff
          val s = (if (le) (hi << 8) | lo else (lo << 8) | hi)
            .toShort.toInt
          sumAbs += math.abs(s)
          sumSq += s.toDouble * s
          val sign = if (s > 0) 1 else if (s < 0) -1 else 0
          if (sign != 0) {
            if (prevSign != 0 && sign != prevSign) zc += 1
            prevSign = sign
          }
          i += 1
        }
        val frames = n / ch
        Row(fmt.getSampleRate.toInt, ch, frames.toLong,
          frames.toDouble / fmt.getSampleRate,
          if (n > 0) sumAbs / n else 0.0,
          if (n > 0) math.sqrt(sumSq / n) else 0.0, zc)
      } finally in.close()
    } catch { case _: Exception => null }
  }

  /** Batched real audio feature extraction: appends an `audio` struct
    * ([[audioSchema]]; null rows for undecodable payloads). Same
    * one-decoder-per-partition batch contract as [[decodeBatched]]. */
  def audioFeatures(df: DataFrame, payload: String): DataFrame = {
    val outSchema = StructType(df.schema.fields :+
      StructField("audio", audioSchema))
    val payloadIdx = df.schema.fieldIndex(payload)
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    df.mapPartitions { it =>
      it.map { r =>
        val bytes = if (r.isNullAt(payloadIdx)) null
          else r.getAs[Array[Byte]](payloadIdx)
        Row.fromSeq(r.toSeq :+ audioDecode(bytes))
      }
    }(enc)
  }

  /** Deterministic synthetic WAV: mono 16-bit PCM square wave —
    * alternating `periodSamples/2` runs of +amp / -amp — with a
    * hand-built 44-byte RIFF header. Real, decodable WAV bytes whose
    * features are closed-form (mean_abs = rms = amp; zero crossings =
    * nSamples/(periodSamples/2) - 1 when the run length divides
    * nSamples), the audio twin of [[syntheticPng]]. */
  def syntheticWav(amp: Int, periodSamples: Int, nSamples: Int,
      sampleRate: Int = 8000): Array[Byte] = {
    require(periodSamples > 0 && periodSamples % 2 == 0,
      "periodSamples must be positive and even")
    val dataLen = nSamples * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1)                  // PCM, mono
      .putInt(sampleRate).putInt(sampleRate * 2) // byte rate
      .putShort(2).putShort(16)                  // block align, bits
    bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < nSamples) {
      val v = if ((i / (periodSamples / 2)) % 2 == 0) amp else -amp
      bb.putShort(v.toShort)
      i += 1
    }
    bb.array()
  }

  // ---- real video-frame kernels (Y4M parse + MJPEG via imageio) ---------

  /** Per-frame record produced by the real frame extractors. For Y4M,
    * mean_luma is the exact Y-plane mean; for MJPEG it is the decoded
    * RGB mean intensity (JPEG is lossy — treat as approximate). */
  val frameSchema: StructType = StructType(Seq(
    StructField("frame_idx", IntegerType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("mean_luma", DoubleType)))

  private val Y4mMagic = "YUV4MPEG2".getBytes("US-ASCII")

  private def startsWith(bytes: Array[Byte], prefix: Array[Byte]): Boolean =
    bytes.length >= prefix.length && {
      var i = 0
      while (i < prefix.length && bytes(i) == prefix(i)) i += 1
      i == prefix.length
    }

  /** REAL Y4M (YUV4MPEG2) frame extraction: parse the stream header
    * for W/H (C420 planar assumed — the format default), then walk the
    * fixed-size FRAME sections, keeping every `stride`-th frame with
    * its exact Y-plane mean. A malformed stream yields the frames
    * parsed so far. */
  private[graft] def y4mFrames(bytes: Array[Byte], stride: Int)
      : Seq[Row] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Row]
    var p = 0
    while (p < bytes.length && bytes(p) != '\n') p += 1
    if (p >= bytes.length) return out.toSeq
    val header = new String(bytes, 0, p, "US-ASCII")
    var w = 0
    var h = 0
    header.split(' ').foreach { tok =>
      if (tok.startsWith("W")) w = tok.drop(1).toIntOption.getOrElse(0)
      else if (tok.startsWith("H")) h = tok.drop(1).toIntOption.getOrElse(0)
    }
    if (w <= 0 || h <= 0) return out.toSeq
    val frameBytes = w * h * 3 / 2 // C420: Y + quarter-res Cb + Cr
    p += 1
    var idx = 0
    while (p < bytes.length) {
      // FRAME line (may carry parameters) up to '\n'
      var q = p
      while (q < bytes.length && bytes(q) != '\n') q += 1
      if (q - p < 5 || new String(bytes, p, 5, "US-ASCII") != "FRAME")
        return out.toSeq
      val yStart = q + 1
      if (yStart + frameBytes > bytes.length) return out.toSeq
      if (idx % stride == 0) {
        var sum = 0L
        var i = yStart
        val yEnd = yStart + w * h
        while (i < yEnd) { sum += bytes(i) & 0xff; i += 1 }
        out += Row(idx, w, h, sum.toDouble / (w * h))
      }
      p = yStart + frameBytes
      idx += 1
    }
    out.toSeq
  }

  /** REAL MJPEG frame extraction: split the payload on JPEG SOI/EOI
    * marker pairs (0xFFD8…0xFFD9 — entropy-coded data escapes 0xFF, so
    * EOI only terminates a frame) and decode every `stride`-th frame
    * with the javax.imageio kernel. Undecodable frames are skipped. */
  private[graft] def mjpegFrames(bytes: Array[Byte], stride: Int)
      : Seq[Row] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Row]
    var p = 0
    var idx = 0
    while (p + 1 < bytes.length) {
      if (bytes(p) == 0xff.toByte && bytes(p + 1) == 0xd8.toByte) {
        var q = p + 2
        while (q + 1 < bytes.length &&
          !(bytes(q) == 0xff.toByte && bytes(q + 1) == 0xd9.toByte)) q += 1
        val end = math.min(q + 2, bytes.length)
        if (idx % stride == 0) {
          val dec = imageDecode(java.util.Arrays.copyOfRange(bytes, p, end))
          if (dec != null)
            out += Row(idx, dec.getInt(0), dec.getInt(1), dec.getDouble(3))
        }
        idx += 1
        p = end
      } else p += 1
    }
    out.toSeq
  }

  /** Batched real frame extraction: one output row per sampled frame
    * (input columns + [[frameSchema]] fields), container auto-detected
    * per payload — Y4M by magic, MJPEG by SOI marker; anything else
    * contributes no rows. One narrow pass, no shuffle: frame fan-out
    * happens inside the partition iterator. */
  def videoFrameFeatures(df: DataFrame, payload: String,
      stride: Int = 1): DataFrame = {
    require(stride > 0, "stride must be positive")
    val outSchema = StructType(df.schema.fields ++ frameSchema.fields)
    val payloadIdx = df.schema.fieldIndex(payload)
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    df.mapPartitions { it =>
      it.flatMap { r =>
        val bytes = if (r.isNullAt(payloadIdx)) null
          else r.getAs[Array[Byte]](payloadIdx)
        val frames =
          if (bytes == null) Nil
          else if (startsWith(bytes, Y4mMagic)) y4mFrames(bytes, stride)
          else if (bytes.length >= 2 && bytes(0) == 0xff.toByte &&
            bytes(1) == 0xd8.toByte) mjpegFrames(bytes, stride)
          else Nil
        frames.map(f => Row.fromSeq(r.toSeq ++ f.toSeq))
      }
    }(enc)
  }

  /** Deterministic synthetic Y4M: 4:2:0 stream of constant-luma frames
    * (`lumas(k)` fills frame k's Y plane; chroma neutral 128) — real,
    * parseable Y4M bytes whose per-frame mean luma is exactly
    * `lumas(k)`. The video twin of [[syntheticPng]]. */
  def syntheticY4m(w: Int, h: Int, lumas: Seq[Int]): Array[Byte] = {
    val header = s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 C420\n"
      .getBytes("US-ASCII")
    val frameHdr = "FRAME\n".getBytes("US-ASCII")
    val ySize = w * h
    val cSize = (w / 2) * (h / 2)
    val bb = java.nio.ByteBuffer.allocate(header.length +
      lumas.length * (frameHdr.length + ySize + 2 * cSize))
    bb.put(header)
    lumas.foreach { l =>
      bb.put(frameHdr)
      var i = 0
      while (i < ySize) { bb.put(l.toByte); i += 1 }
      i = 0
      while (i < 2 * cSize) { bb.put(128.toByte); i += 1 }
    }
    bb.array()
  }

  // ---- real image kernels (JDK-only: javax.imageio + java.awt) ----------

  /** Decode + scale to `w`×`h` grayscale, row-major double[0,255] pixels.
    * The shared kernel under resize / features / perceptual hash. Null for
    * undecodable payloads. Graphics2D bilinear scaling — real resampling,
    * not a stub. */
  private def grayscaleGrid(bytes: Array[Byte], w: Int, h: Int)
      : Array[Double] = {
    if (bytes == null) return null
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      catch { case _: java.io.IOException => null }
    if (img == null) return null
    val gray = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val g = gray.createGraphics()
    g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
      java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
    g.drawImage(img, 0, 0, w, h, null)
    g.dispose()
    val out = new Array[Double](w * h)
    val raster = gray.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { out(y * w + x) = raster.getSample(x, y, 0); x += 1 }
      y += 1
    }
    out
  }

  /** Re-encode an image payload at `w`×`h` (PNG bytes out). Real
    * java.awt bilinear resize in a batched partition map — the
    * train-data "resize to model input" step. Undecodable rows → null. */
  def resizeImages(df: DataFrame, payload: String, w: Int, h: Int,
      out: String = "resized"): DataFrame = {
    val resize = udf { bytes: Array[Byte] =>
      if (bytes == null) null
      else {
        val img =
          try javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(bytes))
          catch { case _: java.io.IOException => null }
        if (img == null) null
        else {
          val dst = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g = dst.createGraphics()
          g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g.drawImage(img, 0, 0, w, h, null)
          g.dispose()
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(dst, "png", bos)
          bos.toByteArray
        }
      }
    }
    df.withColumn(out, resize(col(payload)))
  }

  /** Feature-extract: `grid`×`grid` grayscale intensities normalized to
    * [0,1], as a dense Float vector — a real pixel-space embedding that
    * feeds the ANN / embedding-dedup operators (`Similarity.cosine`,
    * `Dedup.embeddingPairsExact`, `Dedup.semDedup`) directly. */
  def imageFeatures(df: DataFrame, payload: String, grid: Int = 8,
      out: String = "features"): DataFrame = {
    val feats = udf { bytes: Array[Byte] =>
      val px = grayscaleGrid(bytes, grid, grid)
      if (px == null) null else px.map(v => (v / 255.0).toFloat)
    }
    df.withColumn(out, feats(col(payload)))
  }

  /** Perceptual average-hash (aHash): 8×8 grayscale downsample, bit i set
    * iff pixel i is strictly above the image mean — 64-bit signature where
    * near-identical images differ in few bits. Bit order: row-major, pixel
    * 0 = LSB. */
  def aHash64(bytes: Array[Byte]): java.lang.Long = {
    val px = grayscaleGrid(bytes, 8, 8)
    if (px == null) null
    else {
      val mean = px.sum / 64.0
      var sig = 0L
      var i = 0
      while (i < 64) { if (px(i) > mean) sig |= (1L << i); i += 1 }
      sig
    }
  }

  /** Deterministic synthetic PNG: the leading `whiteCols` (of `w`/8)
    * column blocks white, the rest black. Real, decodable PNG bytes for
    * gates and specs that need image payloads without binary fixtures.
    * Block-aligned patterns make the 8×8 aHash/feature values exactly
    * predictable (each downsampled pixel lands inside one uniform
    * block). */
  def syntheticPng(whiteCols: Int, w: Int = 64, h: Int = 64)
      : Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val block = w / 8
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y, if (x / block < whiteCols) 0xffffff else 0x000000)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Image near-duplicate pairs: perceptual aHash signatures through the
    * same prefix-bucket LSH + hamming-verify machinery as text SimHash
    * (`Dedup.signaturePairs`) — (id_a, id_b, dist) with dist <= maxDist. */
  def imagePairs(df: DataFrame, id: String, payload: String,
      prefixBits: Int = 16, maxDist: Int = 6,
      maxBucketSize: Int = 10000): DataFrame = {
    val hash = udf { bytes: Array[Byte] => aHash64(bytes) }
    val sigs = df.select(col(id).as("doc"),
      hash(col(payload)).as("sig"))
      .filter(col("sig").isNotNull)
    Dedup.signaturePairs(sigs, prefixBits, maxDist, maxBucketSize)
  }
}
