package graft.pipeline

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column handling: image/audio/video as opaque `binary`
  * columns with typed metadata, plus batch-shaped decode/feature-extract
  * plumbing (the binary value payloads of the reference's node values —
  * graph-db library/GraphDb/Graph.hs:15-16, any serializable value).
  *
  * The Spark-side design is real and tested: schema, partition-size
  * control, and per-partition batch processing (one decoder init per
  * partition, not per row — the same shape a Pandas-UDF/`mapInPandas`
  * pipeline has in PySpark). Image decode is REAL: BMP/PNG payloads go
  * through JDK `javax.imageio` ([[decodeImages]], and [[decodeFeatures]]
  * dispatches to it on a strict header sniff). Audio decode is REAL too:
  * RIFF/WAVE PCM payloads go through JDK `javax.sound.sampled`
  * ([[decodeAudio]], also dispatched from [[decodeFeatures]]).
  * `fakeDecode` remains only as the fallback for formats the JDK ships no
  * codec for (JPEG2000, video, compressed audio).
  */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("media", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("format", StringType, nullable = true),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true))), nullable = true)))

  val decodedSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("format", StringType, nullable = true),
    StructField("feature", ArrayType(DoubleType), nullable = true)))

  // Codec stages cost orders of magnitude more per BYTE than the scan
  // that feeds them (WAV ~30 µs/row, PNG encode ~180 µs/row vs ~0.1 µs
  // to scan a 300-byte document), so a corpus that fits in fewer parquet
  // splits than the cluster has cores would run the decode nearly
  // serially — maxPartitionBytes splits by input bytes, which is the
  // wrong unit for compute-bound stages. The guaranteed-codec ops
  // (toImages / toWavs / decodeImages / decodeAudio) therefore widen
  // their input with graft.Tables.spread: to the session's default
  // parallelism when (and only when) the incoming partitioning is
  // narrower, and a no-op at real corpus scale, where the scan already
  // yields splits ≫ cores. NOT applied to [[decodeFeatures]] /
  // [[resize]]: their dominant path on non-codec payloads is the ~1 µs
  // byte-histogram / subsample, i.e. scan-cost work where the extra
  // stage is pure overhead — and when they do meet real codec payloads,
  // those arrived either from toImages/toWavs (already widened, and the
  // chain between is narrow) or from a stored corpus whose scan splits
  // exceed cores at any real size.

  /** Fallback decoder for formats the JDK has no codec for (video /
    * compressed audio / exotic images): a deterministic 8-bucket byte
    * histogram as the "feature". BMP/PNG/WAV payloads never reach this —
    * [[decodeFeatures]] dispatches them to the real ImageIO /
    * javax.sound paths.
    */
  private[pipeline] def fakeDecode(bytes: Array[Byte]): Array[Double] = {
    val hist = new Array[Double](8)
    var i = 0
    while (i < bytes.length) {
      hist((bytes(i) & 0xff) >> 5) += 1d
      i += 1
    }
    if (bytes.length > 0) { var j = 0; while (j < 8) { hist(j) /= bytes.length; j += 1 } }
    hist
  }

  /** Build a real, uncompressed 24-bit BMP (BITMAPINFOHEADER, bottom-up
    * rows, 4-byte row padding) whose grayscale pixel at image coordinate
    * (x, y-from-top) is `payload(y*width + x)` — pixels past the payload
    * are 0. Pure integer arithmetic, so an oracle can replay every pixel
    * from the payload bytes. Empty payload → one all-zero row of pixels
    * (BMP requires height ≥ 1).
    */
  def encodeBmp(payload: Array[Byte], width: Int): Array[Byte] = {
    require(width > 0, "width must be positive")
    val n = payload.length
    val h = math.max(1, (n + width - 1) / width)
    val rowSize = ((width * 3 + 3) / 4) * 4
    val imgSize = rowSize * h
    val out = java.nio.ByteBuffer.allocate(54 + imgSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put('B'.toByte).put('M'.toByte).putInt(54 + imgSize)
      .putInt(0).putInt(54)                               // file header
    out.putInt(40).putInt(width).putInt(h)                // info header
      .putShort(1).putShort(24).putInt(0).putInt(imgSize)
      .putInt(2835).putInt(2835).putInt(0).putInt(0)
    var y = h - 1                                         // bottom-up
    while (y >= 0) {
      var x = 0
      while (x < width) {
        val idx = y * width + x
        val v: Byte = if (idx < n) payload(idx) else 0
        out.put(v).put(v).put(v)                          // B, G, R
        x += 1
      }
      var p = width * 3
      while (p < rowSize) { out.put(0: Byte); p += 1 }
      y -= 1
    }
    out.array()
  }

  /** ImageIO decode through an explicitly MEMORY-cached stream. The
    * `ImageIO.read(InputStream)` convenience wraps its input in a
    * FILE-cached stream by default (`ImageIO.getUseCache` is true), i.e.
    * one temp-file create+write+delete per image — for corpus-scale
    * batches of small images that disk round-trip dominates the actual
    * codec work. Handing `read` a MemoryCacheImageInputStream keeps the
    * whole decode in memory without touching the process-global useCache
    * flag (which other JVM tenants may rely on).
    */
  private def readImage(bytes: Array[Byte]): java.awt.image.BufferedImage =
    javax.imageio.ImageIO.read(new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(bytes)))

  /** Transcode any ImageIO-readable payload to PNG — a real codec
    * round-trip (PNG deflate). Lossless, so pixel-level oracles replay
    * across it unchanged.
    */
  def transcodePng(bytes: Array[Byte]): Array[Byte] = {
    val img = readImage(bytes)
    require(img != null, "transcodePng: payload not ImageIO-decodable")
    val baos = new java.io.ByteArrayOutputStream()
    // same memory-cache rationale as [[readImage]]: ImageIO.write to an
    // OutputStream would spool the encoded PNG through a temp FILE first
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(baos)
    try javax.imageio.ImageIO.write(img, "png", ios) finally ios.close()
    baos.toByteArray
  }

  /** Build a real RIFF/WAVE file (canonical 44-byte header, PCM_SIGNED
    * 16-bit mono little-endian) whose i-th sample is
    * `((payload(i) & 0xff) - 128) * 256` — pure integer arithmetic, so an
    * oracle can replay every sample (and any histogram over them) from the
    * payload bytes. Empty payload → a valid zero-sample WAV.
    */
  def encodeWav(payload: Array[Byte], sampleRate: Int = 8000): Array[Byte] = {
    require(sampleRate > 0, "sampleRate must be positive")
    val n = payload.length
    val dataSize = n * 2
    val out = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put('R'.toByte).put('I'.toByte).put('F'.toByte).put('F'.toByte)
      .putInt(36 + dataSize)
      .put('W'.toByte).put('A'.toByte).put('V'.toByte).put('E'.toByte)
    out.put('f'.toByte).put('m'.toByte).put('t'.toByte).put(' '.toByte)
      .putInt(16)                                         // fmt chunk size
      .putShort(1)                                        // PCM
      .putShort(1)                                        // mono
      .putInt(sampleRate)
      .putInt(sampleRate * 2)                             // byte rate
      .putShort(2)                                        // block align
      .putShort(16)                                       // bits/sample
    out.put('d'.toByte).put('a'.toByte).put('t'.toByte).put('a'.toByte)
      .putInt(dataSize)
    var i = 0
    while (i < n) {
      out.putShort((((payload(i) & 0xff) - 128) * 256).toShort)
      i += 1
    }
    out.array()
  }

  /** Strict RIFF/WAVE sniff: magic, exact RIFF size (= file length − 8),
    * WAVE form type, and a leading fmt chunk — arbitrary binary that
    * merely starts with "RIFF" cannot false-positive.
    */
  private[pipeline] def sniffWav(bytes: Array[Byte]): Option[String] = {
    def le32(o: Int): Long =
      (bytes(o) & 0xffL) | (bytes(o + 1) & 0xffL) << 8 |
        (bytes(o + 2) & 0xffL) << 16 | (bytes(o + 3) & 0xffL) << 24
    if (bytes.length >= 44 &&
      bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == 'F' &&
      le32(4) == bytes.length - 8L &&
      bytes(8) == 'W' && bytes(9) == 'A' && bytes(10) == 'V' && bytes(11) == 'E' &&
      bytes(12) == 'f' && bytes(13) == 'm' && bytes(14) == 't' && bytes(15) == ' ')
      Some("wav")
    else None
  }

  /** The `javax.sound` SPI readers, loaded ONCE and then dispatched to
    * directly. `AudioSystem.getAudioInputStream` re-runs synchronized
    * ServiceLoader provider discovery on EVERY call (the JDK13Services
    * provider cache was removed in JDK 9) — measured ~50 µs per call
    * single-threaded, and the global lock serializes all executor
    * threads (16-thread aggregate throughput measured BELOW
    * single-thread). Loading the SPI list once per partition keeps the
    * decode on the real JDK codec while removing the per-row registry
    * walk; the actual WAV header-parse + sample read is ~5 µs and scales
    * linearly.
    */
  private[pipeline] def loadAudioReaders(): Array[javax.sound.sampled.spi.AudioFileReader] = {
    val it = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileReader]).iterator()
    val buf = scala.collection.mutable.ArrayBuffer[javax.sound.sampled.spi.AudioFileReader]()
    while (it.hasNext) buf += it.next()
    buf.toArray
  }

  /** Open an AudioInputStream over in-memory bytes via the cached SPI
    * readers (first reader that accepts the format wins — the same
    * dispatch AudioSystem performs, minus its per-call provider walk).
    *
    * The reader that succeeds is MOVED TO THE FRONT of the (partition-
    * local, single-threaded) array: provider order puts
    * SoftMidiAudioFileReader before WaveFileReader, and the MIDI
    * reader's format sniff itself re-runs the synchronized MidiSystem
    * provider walk on every call — jstack-sampled as ~95% of px33's
    * executor time at 100×. After the first row, a homogeneous batch
    * goes straight to its working codec.
    */
  private def openAudioStream(readers: Array[javax.sound.sampled.spi.AudioFileReader],
      bytes: Array[Byte]): javax.sound.sampled.AudioInputStream = {
    var i = 0
    while (i < readers.length) {
      try {
        val ais = readers(i).getAudioInputStream(new java.io.ByteArrayInputStream(bytes))
        if (i > 0) {                       // move-to-front for the next row
          val hit = readers(i)
          System.arraycopy(readers, 0, readers, 1, i)
          readers(0) = hit
        }
        return ais
      } catch { case _: javax.sound.sampled.UnsupportedAudioFileException => }
      i += 1
    }
    // no SPI provider accepted it (or none registered) — the slow but
    // complete path, also the source of the canonical error message
    javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(bytes))
  }

  /** REAL audio decode via JDK `javax.sound.sampled`: sample rate,
    * channel count, per-channel sample count, and an 8-bucket amplitude
    * histogram (bucket = `(sample + 32768) >>> 13`, i.e. the 16-bit range
    * split into 8 equal bands — for WAVs built by [[encodeWav]] this is
    * exactly `payloadByte >> 5`, so oracles replay it from the payload).
    * Only 16-bit signed PCM is accepted; throws on anything else — callers
    * that must not fail fall back to [[fakeDecode]]. Pass the partition's
    * cached [[loadAudioReaders]] result; the no-arg overload (tests,
    * one-off use) loads them per call.
    */
  private[pipeline] def decodeAudioSamples(bytes: Array[Byte]): (Int, Int, Long, Array[Long]) =
    decodeAudioSamples(bytes, loadAudioReaders())

  private[pipeline] def decodeAudioSamples(bytes: Array[Byte],
      readers: Array[javax.sound.sampled.spi.AudioFileReader]): (Int, Int, Long, Array[Long]) = {
    val ais = openAudioStream(readers, bytes)
    try {
      val fmt = ais.getFormat
      require(fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
        s"decodeAudioSamples: only PCM_SIGNED supported, got ${fmt.getEncoding}")
      require(fmt.getSampleSizeInBits == 16,
        s"decodeAudioSamples: only 16-bit samples supported, got ${fmt.getSampleSizeInBits}")
      val big = fmt.isBigEndian
      // whole-payload read mirrors the image path's memory profile: these
      // are corpus-scale small payloads, one allocation per row
      val data = ais.readAllBytes()
      val hist = new Array[Long](8)
      var nSamples = 0L
      var i = 0
      while (i + 1 < data.length) {
        val s =
          if (big) (data(i) << 8) | (data(i + 1) & 0xff)
          else (data(i + 1) << 8) | (data(i) & 0xff)
        hist((s + 32768) >>> 13) += 1
        nSamples += 1
        i += 2
      }
      (fmt.getSampleRate.toInt, fmt.getChannels, nSamples, hist)
    } finally ais.close()
  }

  /** Strict header sniff for the two formats the real decode path owns.
    * BMP must carry a consistent BITMAPINFOHEADER (magic + exact file size
    * + pixel offset 54 + header size 40), so arbitrary text/binary that
    * merely starts with "BM" cannot false-positive; PNG by its fixed
    * 8-byte signature.
    */
  private[pipeline] def sniffImage(bytes: Array[Byte]): Option[String] = {
    def le32(o: Int): Long =
      (bytes(o) & 0xffL) | (bytes(o + 1) & 0xffL) << 8 |
        (bytes(o + 2) & 0xffL) << 16 | (bytes(o + 3) & 0xffL) << 24
    if (bytes.length >= 54 && bytes(0) == 'B' && bytes(1) == 'M' &&
      le32(2) == bytes.length.toLong && le32(10) == 54L && le32(14) == 40L)
      Some("bmp")
    else if (bytes.length >= 8 &&
      bytes(0) == 0x89.toByte && bytes(1) == 'P' && bytes(2) == 'N' &&
      bytes(3) == 'G' && bytes(4) == 0x0d && bytes(5) == 0x0a &&
      bytes(6) == 0x1a && bytes(7) == 0x0a)
      Some("png")
    else None
  }

  /** REAL image decode via JDK ImageIO: width, height, and the 8-bucket
    * luminance histogram (bucket = blue channel >> 5 — for the grayscale
    * BMPs [[encodeBmp]] builds, blue == luminance). Throws on an
    * undecodable payload — callers that must not fail fall back to
    * [[fakeDecode]].
    */
  private[pipeline] def decodeImagePixels(bytes: Array[Byte]): (Int, Int, Array[Long]) = {
    val img = readImage(bytes)
    require(img != null, "decodeImagePixels: payload not ImageIO-decodable")
    val w = img.getWidth
    val h = img.getHeight
    val hist = new Array[Long](8)
    // bulk getRGB per ROW: per-pixel getRGB pays a color-model conversion
    // dispatch per call; the row variant converts w pixels per call into a
    // reused buffer, keeping extra memory O(w) even for tall images
    val row = new Array[Int](w)
    var y = 0
    while (y < h) {
      img.getRGB(0, y, w, 1, row, 0, w)
      var x = 0
      while (x < w) {
        hist((row(x) & 0xff) >>> 5) += 1
        x += 1
      }
      y += 1
    }
    (w, h, hist)
  }

  /** Batch decode: one decoder per partition, rows processed in a tight
    * loop — the mapInPandas batch shape. BMP/PNG payloads (strict sniff)
    * decode through REAL ImageIO and the feature is the normalized
    * luminance histogram; RIFF/WAVE payloads decode through REAL
    * javax.sound and the feature is the normalized amplitude histogram;
    * anything else falls back to the byte-histogram stand-in. Null media
    * → null feature, row preserved (pipelines must not drop rows on
    * decode failure).
    */
  def decodeFeatures(media: DataFrame): DataFrame = {
    media.select("media_id", "media", "meta").mapPartitions { it =>
      // decoder init ONCE per partition: the audio SPI readers (lazy —
      // partitions with no WAV payloads never load them)
      lazy val audioReaders = loadAudioReaders()
      it.map { r =>
        val id = r.getLong(0)
        val bytes = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
        val fmt = if (r.isNullAt(2)) null else r.getStruct(2).getString(0)
        if (bytes == null) Row(id, 0L, fmt, null)
        else {
          val feature = sniffImage(bytes) match {
            case Some(_) =>
              val (w, h, hist) = decodeImagePixels(bytes)
              val n = w.toLong * h
              hist.map(_.toDouble / n)
            case None if sniffWav(bytes).isDefined =>
              val (_, _, n, hist) = decodeAudioSamples(bytes, audioReaders)
              if (n == 0L) new Array[Double](8)
              else hist.map(_.toDouble / n)
            case None => fakeDecode(bytes)
          }
          Row(id, bytes.length.toLong, fmt, feature.toSeq)
        }
      }
    }(Encoders.row(decodedSchema))
  }

  val imageSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("media", BinaryType, nullable = true),
    StructField("format", StringType, nullable = true)))

  /** Synthesize real image payloads from raw bytes: every row becomes a
    * grayscale BMP ([[encodeBmp]]); odd ids additionally round-trip
    * through the PNG codec when `pngForOdd` — exercising a real
    * compressed format on the same deterministic pixels. Null media keeps
    * its row (null payload), the row-preservation invariant.
    */
  def toImages(media: DataFrame, width: Int, pngForOdd: Boolean = true): DataFrame =
    graft.Tables.spread(media.select("media_id", "media")).mapPartitions { it =>
      // encoder init once per partition (the batch shape)
      it.map { r =>
        val id = r.getLong(0)
        val bytes = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
        if (bytes == null) Row(id, null, null)
        else {
          val bmp = encodeBmp(bytes, width)
          if (pngForOdd && id % 2 == 1) Row(id, transcodePng(bmp), "png")
          else Row(id, bmp, "bmp")
        }
      }
    }(Encoders.row(imageSchema))

  val decodedImageSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("format", StringType, nullable = true),
    StructField("img_w", IntegerType, nullable = true),
    StructField("img_h", IntegerType, nullable = true),
    StructField("lum_hist", ArrayType(LongType), nullable = true)))

  /** REAL decode of image payloads via JDK ImageIO — no stub anywhere on
    * this path. Format is re-sniffed from the bytes (not trusted from
    * metadata); an unsniffable/undecodable payload is a typed error, a
    * null payload keeps its row with null outputs.
    */
  def decodeImages(media: DataFrame): DataFrame =
    graft.Tables.spread(media.select("media_id", "media")).mapPartitions { it =>
      // ImageIO reader init once per partition (the batch shape)
      it.map { r =>
        val id = r.getLong(0)
        val bytes = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
        if (bytes == null) Row(id, null, null, null, null)
        else {
          val fmt = sniffImage(bytes).getOrElse(
            throw new IllegalArgumentException(
              s"decodeImages: media_id=$id payload is not a BMP/PNG image"))
          val (w, h, hist) = decodeImagePixels(bytes)
          Row(id, fmt, w, h, hist.toSeq)
        }
      }
    }(Encoders.row(decodedImageSchema))

  /** Synthesize real RIFF/WAVE payloads from raw bytes ([[encodeWav]]):
    * every payload byte becomes one 16-bit PCM sample. Null media keeps
    * its row (null payload) — the row-preservation invariant.
    */
  def toWavs(media: DataFrame, sampleRate: Int = 8000): DataFrame =
    graft.Tables.spread(media.select("media_id", "media")).mapPartitions { it =>
      // encoder init once per partition (the batch shape)
      it.map { r =>
        val id = r.getLong(0)
        val bytes = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
        if (bytes == null) Row(id, null, null)
        else Row(id, encodeWav(bytes, sampleRate), "wav")
      }
    }(Encoders.row(imageSchema))

  val decodedAudioSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("format", StringType, nullable = true),
    StructField("sample_rate", IntegerType, nullable = true),
    StructField("channels", IntegerType, nullable = true),
    StructField("n_samples", LongType, nullable = true),
    StructField("amp_hist", ArrayType(LongType), nullable = true)))

  /** REAL decode of audio payloads via JDK `javax.sound.sampled` — no stub
    * anywhere on this path. Format is re-sniffed from the bytes (not
    * trusted from metadata); an unsniffable/undecodable payload is a typed
    * error, a null payload keeps its row with null outputs.
    */
  def decodeAudio(media: DataFrame): DataFrame =
    graft.Tables.spread(media.select("media_id", "media")).mapPartitions { it =>
      // javax.sound SPI reader init ONCE per partition (the batch shape —
      // see loadAudioReaders for why per-row AudioSystem dispatch is a
      // scale-killer: synchronized per-call provider discovery)
      val audioReaders = loadAudioReaders()
      it.map { r =>
        val id = r.getLong(0)
        val bytes = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
        if (bytes == null) Row(id, null, null, null, null, null)
        else {
          val fmt = sniffWav(bytes).getOrElse(
            throw new IllegalArgumentException(
              s"decodeAudio: media_id=$id payload is not a RIFF/WAVE file"))
          val (rate, chans, n, hist) = decodeAudioSamples(bytes, audioReaders)
          Row(id, fmt, rate, chans, n, hist.toSeq)
        }
      }
    }(Encoders.row(decodedAudioSchema))

  val resizedSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("media", BinaryType, nullable = true)))

  /** Resize stub — uniform index subsampling of the payload to `outLen`
    * bytes (`out[i] = in[(i·n) div outLen]`, integer arithmetic), the
    * nearest-neighbor downscale a real image resize performs per axis.
    * Same batch shape as [[decodeFeatures]] (one "scaler" init per
    * partition); null media keeps its row with null output, empty media
    * stays empty — the row-preservation invariant. Swap the sampling loop
    * for a codec-backed scaler and nothing else changes.
    */
  def resize(media: DataFrame, outLen: Int): DataFrame = {
    require(outLen > 0, "outLen must be positive")
    media.select("media_id", "media").mapPartitions { it =>
      // scaler init would happen HERE, once per partition
      it.map { r =>
        val id = r.getLong(0)
        val bytes = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
        if (bytes == null) Row(id, null)
        else if (bytes.isEmpty) Row(id, Array.empty[Byte])
        else {
          val out = new Array[Byte](outLen)
          var i = 0
          while (i < outLen) {
            out(i) = bytes((i.toLong * bytes.length / outLen).toInt)
            i += 1
          }
          Row(id, out)
        }
      }
    }(Encoders.row(resizedSchema))
  }

  /** Frame sampling for video-shaped payloads: every `stride`-th chunk of
    * `chunkBytes` becomes a "frame" row. Pure plumbing (posexplode over a
    * computed chunk index) — the chunk boundaries are where a real
    * demuxer's keyframe offsets would go.
    */
  def sampleFrames(media: DataFrame, chunkBytes: Int, stride: Int): DataFrame = {
    require(chunkBytes > 0, "chunkBytes must be positive")
    require(stride > 0, "stride must be positive")
    media
      .withColumn("n_chunks",
        expr(s"CAST((octet_length(media) + $chunkBytes - 1) DIV $chunkBytes AS INT)"))
      // explode_outer: NULL and EMPTY media both keep their row with a
      // NULL frame_idx/frame (the row-preservation invariant of
      // decodeFeatures — a pipeline must not drop rows); emptiness vs
      // nullness stays distinguishable via the media column itself
      .withColumn("frame_idx",
        explode_outer(when(col("n_chunks") > 0,
          sequence(lit(0), col("n_chunks") - 1, lit(stride)))))
      .select(col("media_id"), col("frame_idx"),
        when(col("frame_idx").isNotNull,
          col("media").substr(col("frame_idx") * chunkBytes + 1, lit(chunkBytes)))
          .as("frame"))
  }
}
