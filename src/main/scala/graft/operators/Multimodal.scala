package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * columns with a typed metadata struct, plus decode / feature-extract /
  * frame-sample operators.
  *
  * Two decode kernels share the per-row `mapPartitions` execution shape
  * (codec machinery set up once per partition, one decode per row):
  *
  *  - [[decodeImageFeatures]] is a REAL codec: `javax.imageio` image
  *    decode (format sniffed from the bytes) with three real in-JVM
  *    encoders — [[encodeGrayPng]] and [[encodeGrayBmp]] (lossless,
  *    oracle-gated end to end) and [[encodeGrayJpeg]] (lossy,
  *    boolean-invariant oracle per the sk1 pattern + spec-gated).
  *  - [[decodeFeatures]] is the GENERIC decode surface (r17 verdict #7):
  *    it dispatches on `meta.format` — png/bmp/jpeg/wav route to the
  *    REAL in-JVM codecs, everything else (the mp3/mp4 class whose
  *    codecs this container lacks) falls back to a documented
  *    deterministic byte-level stand-in where a production kernel would
  *    slot the format's decoder.
  */
object Multimodal {

  /** Per-partition cached WAV reader (one instance per partition, like
    * the writer caches): AudioSystem.getAudioInputStream re-scans the
    * AudioFileReader SPI registry per call — measured 23x the actual
    * parse+read work (626ms vs 27ms / 20k clips, tools/WavPerfProbe,
    * deleted after 17eacc8).
    * The first payload resolves the provider; a payload the cached
    * reader rejects falls back to the full AudioSystem path (and
    * re-caches from it), so mixed-container inputs stay correct. */
  private class CachedWavReader {
    import javax.sound.sampled._
    import scala.jdk.CollectionConverters._
    private lazy val readers =
      try java.util.ServiceLoader
        .load(classOf[javax.sound.sampled.spi.AudioFileReader])
        .iterator().asScala.toList
      catch { case _: Throwable => Nil }
    private var cached: javax.sound.sampled.spi.AudioFileReader = null
    def open(bytes: Array[Byte]): AudioInputStream = {
      if (cached != null)
        try return cached.getAudioInputStream(new java.io.ByteArrayInputStream(bytes))
        catch { case _: UnsupportedAudioFileException => }
      readers.iterator.flatMap { rd =>
        try {
          val s = rd.getAudioInputStream(new java.io.ByteArrayInputStream(bytes))
          cached = rd
          Iterator.single(s)
        } catch { case _: UnsupportedAudioFileException => Iterator.empty }
      }.nextOption().getOrElse(
        AudioSystem.getAudioInputStream(new java.io.ByteArrayInputStream(bytes)))
    }
  }

  /** Build a media table from the documents table: the UTF-8 bytes of
    * `text` stand in for an encoded media payload. */
  def fromDocuments(docs: DataFrame): DataFrame =
    // fan a narrow scan out before the codec kernels downstream (real
    // ImageIO/AudioSystem encode+decode per row — the most CPU-dense
    // per-row work in the engine) — no-op at scale (Fanout)
    graft.core.Fanout.spread(docs, col("doc_id")).select(
      col("doc_id").as("media_id"),
      encode(col("text"), "UTF-8").as("media"),
      struct(
        lit("txt").as("format"),
        octet_length(col("text")).as("n_bytes"),
        lit(1).as("channels")).as("meta"))

  /** Rolling byte checksum shared by the generic decode surface and its
    * specs/oracles: fold (acc * 31 + byte) mod 1e9+7 — expressible in
    * DuckDB as list_reduce over codepoints, so the gate is SQL-checkable. */
  private[graft] def byteChecksum(bytes: Array[Byte]): Long =
    bytes.foldLeft(0L)((acc, b) => (acc * 31 + (b & 0xFF)) % 1000000007L)

  /** THE generic decode surface (r17 verdict #7: the real m4–m7 kernels
    * now flow THROUGH this one path instead of beside it).
    * Dispatches on `meta.format` and emits features over the DECODED
    * byte domain:
    *
    *  - `png` / `bmp` / `jpeg` → REAL `javax.imageio` decode; the domain
    *    is the gray raster's sample bytes (for the lossless gray PNG/BMP
    *    encoders those ARE the source bytes, so a SQL oracle checks the
    *    full encode→decode round trip — gate m1's png leg);
    *  - `wav` → REAL `javax.sound.sampled` decode; the domain is the
    *    PCM sample bytes (lossless — again the source bytes), through
    *    the same cached-SPI reader as [[decodeWavFeatures]];
    *  - anything else (`txt`, and the mp3/mp4 class whose codecs this
    *    container lacks) → the documented byte-level STAND-IN: the
    *    domain is the raw container bytes. This fallback is the honest
    *    plumbing contract for absent codecs — a production kernel slots
    *    the format's decoder into this same per-row position.
    *
    * Executes as mapPartitions, one decode per row with the codec
    * machinery cached per partition. Output: (media_id, format, n_bytes,
    * first_byte, checksum) over the decoded domain, uniform across
    * formats. */
  def decodeFeatures(media: DataFrame): DataFrame = {
    val out = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("format", StringType, nullable = false),
      StructField("n_bytes", IntegerType, nullable = false),
      StructField("first_byte", IntegerType, nullable = false),
      StructField("checksum", LongType, nullable = false)))
    val idIdx = media.schema.fieldIndex("media_id")
    val mediaIdx = media.schema.fieldIndex("media")
    val metaIdx = media.schema.fieldIndex("meta")
    // format is resolved by NAME, not ordinal: decodeFeatures accepts any
    // DataFrame with (media_id, media, meta), and a caller whose meta
    // struct orders its fields differently would otherwise dispatch every
    // row to the byte stand-in (or ClassCastException on a non-string)
    val fmtIdx = media.schema(metaIdx).dataType
      .asInstanceOf[StructType].fieldIndex("format")
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(out)
    media.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      val wavReader = new CachedWavReader
      rows.map { r =>
        val id = r.getLong(idIdx)
        // media is declared nullable — treat a null payload as empty
        val bytes = Option(r.getAs[Array[Byte]](mediaIdx)).getOrElse(Array.emptyByteArray)
        val fmt = Option(r.getStruct(metaIdx)).flatMap(m =>
          Option(m.getString(fmtIdx))).getOrElse("bin")
        val decoded = fmt match {
          case "png" | "bmp" | "jpeg" if bytes.nonEmpty =>
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(bytes))
            require(img != null, s"decodeFeatures: undecodable $fmt payload")
            val raster = img.getRaster
            val (w, h) = (img.getWidth, img.getHeight)
            val px = new Array[Byte](w * h)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) { px(y * w + x) = raster.getSample(x, y, 0).toByte; x += 1 }
              y += 1
            }
            px
          case "wav" if bytes.nonEmpty =>
            wavReader.open(bytes).readAllBytes()
          case _ => bytes // STAND-IN: no codec for this format in-container
        }
        Row(id, fmt, decoded.length,
          if (decoded.isEmpty) -1 else decoded(0) & 0xFF, byteChecksum(decoded))
      }
    }(enc)
  }

  /** REAL image codec path — `javax.imageio`, in-JVM, zero new deps.
    * Builds a `w`×`h` TYPE_BYTE_GRAY PNG per row from the first `w*h`
    * payload bytes (rows shorter than the raster are dropped — an image
    * needs its full raster). Grayscale PNG is lossless, so
    * [[decodeImageFeatures]] recovers exactly the source bytes, which is
    * what lets a SQL oracle cross-check a real encode→decode round trip
    * against the original payload. Executes as a `mapPartitions` kernel
    * — same codec-boundary shape as [[decodeFeatures]], but the codec
    * call is real. */
  def encodeGrayPng(media: DataFrame, w: Int = 8, h: Int = 8): DataFrame =
    encodeGrayLossless(media, "png", w, h)

  /** FOURTH real codec — BMP via the same `javax.imageio` machinery.
    * 8-bit BMP is lossless like PNG (the raster bytes land verbatim in
    * the file, palette-indexed), so the full encode→decode round trip is
    * SQL-oracle-checkable (gate m7) — this retires the synthetic
    * stand-in kernel as the only non-PNG/JPEG/WAV image path. */
  def encodeGrayBmp(media: DataFrame, w: Int = 8, h: Int = 8): DataFrame =
    encodeGrayLossless(media, "bmp", w, h)

  /** Shared lossless gray encoder: a `w`×`h` TYPE_BYTE_GRAY raster from
    * the first `w*h` payload bytes, written through a per-partition
    * CACHED ImageWriter (`ImageIO.write` re-scans the writer registry
    * per call — same flat per-row SPI tax the WAV kernels measured, see
    * tools/WavPerfProbe, deleted after 17eacc8). Output column is named
    * after the format. */
  private def encodeGrayLossless(media: DataFrame, format: String,
                                 w: Int, h: Int): DataFrame = {
    require(w > 0 && h > 0, s"encodeGray($format): w=$w h=$h")
    val out = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField(format, BinaryType, nullable = false)))
    val idIdx = media.schema.fieldIndex("media_id")
    val mediaIdx = media.schema.fieldIndex("media")
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(out)
    media.filter(octet_length(col("media")) >= w * h)
      .mapPartitions { rows =>
        // no temp-file cache: executor threads share the static config,
        // and in-memory streams are both faster and hermetic
        javax.imageio.ImageIO.setUseCache(false)
        val writers = javax.imageio.ImageIO.getImageWritersByFormatName(format)
        require(writers.hasNext, s"encodeGray: no $format writer in this JVM")
        val writer = writers.next()
        val tc = org.apache.spark.TaskContext.get()
        if (tc != null) tc.addTaskCompletionListener[Unit](_ => writer.dispose())
        rows.map { r =>
          val bytes = r.getAs[Array[Byte]](mediaIdx)
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
          img.getRaster.setDataElements(0, 0, w, h, bytes.take(w * h))
          val bos = new java.io.ByteArrayOutputStream()
          val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
          writer.setOutput(ios)
          writer.write(img)
          ios.close()
          Row(r.getLong(idIdx), bos.toByteArray)
        }
      }(enc)
  }

  /** REAL JPEG encoder — the second in-JVM codec (`javax.imageio` ships
    * both PNG and JPEG writers; zero new deps). Same raster construction
    * as [[encodeGrayPng]], but the output is LOSSY: the decoded pixels
    * approximate the source bytes instead of recovering them, so the
    * round trip is gated rows-only + spec-side (decoded dims, pixel
    * bounds, determinism, DC-mean closeness) rather than by a SQL
    * oracle — the same weaker-gate class as other non-SQL-expressible
    * ops. `quality` is pinned explicitly (MODE_EXPLICIT) so the encoded
    * bytes are deterministic across runs and partitionings; one writer
    * instance serves the whole partition (writers are not thread-safe
    * but a partition is single-threaded). */
  def encodeGrayJpeg(media: DataFrame, w: Int = 8, h: Int = 8,
                     quality: Float = 0.95f): DataFrame = {
    require(w > 0 && h > 0, s"encodeGrayJpeg: w=$w h=$h")
    require(quality > 0f && quality <= 1f, s"encodeGrayJpeg: quality=$quality")
    val out = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("jpeg", BinaryType, nullable = false)))
    val idIdx = media.schema.fieldIndex("media_id")
    val mediaIdx = media.schema.fieldIndex("media")
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(out)
    media.filter(octet_length(col("media")) >= w * h)
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        val writer =
          javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
        // task-completion hook, not an iterator suffix: a limit/take or
        // task failure abandons the iterator un-drained, and the writer's
        // native resources must still be released
        val tc = org.apache.spark.TaskContext.get()
        if (tc != null) tc.addTaskCompletionListener[Unit](_ => writer.dispose())
        val params = writer.getDefaultWriteParam
        params.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
        params.setCompressionQuality(quality)
        rows.map { r =>
          val bytes = r.getAs[Array[Byte]](mediaIdx)
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
          img.getRaster.setDataElements(0, 0, w, h, bytes.take(w * h))
          val bos = new java.io.ByteArrayOutputStream()
          val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
          writer.setOutput(ios)
          writer.write(null, new javax.imageio.IIOImage(img, null, null), params)
          ios.close()
          Row(r.getLong(idIdx), bos.toByteArray)
        }
      }(enc)
  }

  /** Decode image payloads (PNG or JPEG — `ImageIO.read` sniffs the
    * container from the bytes) and emit per-image pixel statistics:
    * dimensions, mean luminance (fixed row-major summation), and the two
    * corner pixels. The REAL counterpart of the [[decodeFeatures]] stub.
    * Output: (media_id, width, height, mean_px, px_first, px_last);
    * with `markers=true` a trailing `soi_eoi_ok` boolean is computed in
    * the SAME kernel pass (JPEG payload starts FFD8 / ends FFD9) — the
    * m5 oracle's container-integrity bit without a second codec pass or
    * a join back to the payload. */
  def decodeImageFeatures(png: DataFrame, payloadCol: String = "png",
                          markers: Boolean = false): DataFrame = {
    val base = Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("mean_px", DoubleType, nullable = false),
      StructField("px_first", IntegerType, nullable = false),
      StructField("px_last", IntegerType, nullable = false))
    val out = StructType(
      if (markers) base :+ StructField("soi_eoi_ok", BooleanType, nullable = false)
      else base)
    val idIdx = png.schema.fieldIndex("media_id")
    val pngIdx = png.schema.fieldIndex(payloadCol)
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(out)
    png.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](pngIdx)
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(bytes))
        require(img != null, "decodeImageFeatures: undecodable payload")
        val (w, h) = (img.getWidth, img.getHeight)
        val raster = img.getRaster
        var sum = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { sum += raster.getSample(x, y, 0); x += 1 }
          y += 1
        }
        val stats = Seq[Any](r.getLong(idIdx), w, h,
          sum.toDouble / (w.toLong * h),
          raster.getSample(0, 0, 0), raster.getSample(w - 1, h - 1, 0))
        if (markers) {
          val n = bytes.length
          val ok = n >= 4 &&
            (bytes(0) & 0xFF) == 0xFF && (bytes(1) & 0xFF) == 0xD8 &&
            (bytes(n - 2) & 0xFF) == 0xFF && (bytes(n - 1) & 0xFF) == 0xD9
          Row.fromSeq(stats :+ ok)
        } else Row.fromSeq(stats)
      }
    }(enc)
  }

  /** THIRD real codec — WAV (RIFF/WAVE PCM) via `javax.sound.sampled`,
    * in-JVM, zero new deps. Interprets the first `2*nSamples` payload
    * bytes as little-endian signed 16-bit mono PCM samples and writes a
    * real WAV container per row (rows shorter than the sample budget are
    * dropped — a clip needs its full sample count). PCM WAV is LOSSLESS,
    * so [[decodeWavFeatures]] recovers exactly the source samples — like
    * PNG (m4) and unlike JPEG (m5), a SQL oracle can verify the full
    * encode→decode round trip against the original payload bytes.
    * Same `mapPartitions` codec-boundary shape as the image
    * kernels. Output: (media_id, wav BINARY). */
  def encodeWav(media: DataFrame, nSamples: Int = 64,
                sampleRate: Int = 16000): DataFrame = {
    require(nSamples > 0 && sampleRate > 0,
      s"encodeWav: nSamples=$nSamples sampleRate=$sampleRate")
    val out = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("wav", BinaryType, nullable = false)))
    val idIdx = media.schema.fieldIndex("media_id")
    val mediaIdx = media.schema.fieldIndex("media")
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(out)
    media.filter(octet_length(col("media")) >= 2 * nSamples)
      .mapPartitions { rows =>
        import javax.sound.sampled._
        val fmt = new AudioFormat(sampleRate.toFloat, 16, 1,
          /*signed=*/ true, /*bigEndian=*/ false)
        // Provider cached ONCE per partition: AudioSystem.write re-scans
        // the AudioFileWriter SPI registry on EVERY call — measured 12x
        // the actual container-write work (713ms vs 57ms / 20k clips,
        // tools/WavPerfProbe, deleted after 17eacc8), and the dominant
        // flat per-row term behind
        // m6's 8.1x sf1 ratio. Falls back to AudioSystem if no provider
        // is visible to this classloader.
        import scala.jdk.CollectionConverters._
        val writer: Option[javax.sound.sampled.spi.AudioFileWriter] =
          try java.util.ServiceLoader
            .load(classOf[javax.sound.sampled.spi.AudioFileWriter])
            .iterator().asScala
            .find(_.isFileTypeSupported(AudioFileFormat.Type.WAVE))
          catch { case _: Throwable => None }
        rows.map { r =>
          val raw = r.getAs[Array[Byte]](mediaIdx).take(2 * nSamples)
          val ais = new AudioInputStream(
            new java.io.ByteArrayInputStream(raw), fmt, nSamples.toLong)
          val bos = new java.io.ByteArrayOutputStream()
          writer match {
            case Some(w) => w.write(ais, AudioFileFormat.Type.WAVE, bos)
            case None    => AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
          }
          Row(r.getLong(idIdx), bos.toByteArray)
        }
      }(enc)
  }

  /** Decode WAV payloads (real `javax.sound.sampled` container + format
    * parse — sample rate, bit depth, and frame count come from the RIFF
    * header, not from trust) and emit per-clip sample statistics. The
    * audio counterpart of [[decodeImageFeatures]], run the same way.
    * Output: (media_id, n_samples, sample_rate, amp_first, amp_last,
    * mean_amp) — amplitudes are the decoded signed 16-bit samples; the
    * mean uses a fixed left-to-right integer summation. */
  def decodeWavFeatures(wav: DataFrame, payloadCol: String = "wav"): DataFrame = {
    val out = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("n_samples", IntegerType, nullable = false),
      StructField("sample_rate", IntegerType, nullable = false),
      StructField("amp_first", IntegerType, nullable = false),
      StructField("amp_last", IntegerType, nullable = false),
      StructField("mean_amp", DoubleType, nullable = false)))
    val idIdx = wav.schema.fieldIndex("media_id")
    val wavIdx = wav.schema.fieldIndex(payloadCol)
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(out)
    wav.mapPartitions { rows =>
      // reader provider cached per partition (see CachedWavReader)
      val reader = new CachedWavReader
      rows.map { r =>
        val ais = reader.open(r.getAs[Array[Byte]](wavIdx))
        val fmt = ais.getFormat
        require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1,
          s"decodeWavFeatures: expected 16-bit mono PCM, got $fmt")
        val bytes = ais.readAllBytes()
        val n = bytes.length / 2
        var sum = 0L
        var i = 0
        def sampleAt(j: Int): Int = {
          // little-endian signed 16-bit (AudioSystem.write's WAV byte order)
          ((bytes(2 * j + 1) << 8) | (bytes(2 * j) & 0xFF))
        }
        while (i < n) { sum += sampleAt(i); i += 1 }
        Row(r.getLong(idIdx), n, fmt.getSampleRate.toInt,
          if (n == 0) 0 else sampleAt(0),
          if (n == 0) 0 else sampleAt(n - 1),
          if (n == 0) 0.0 else sum.toDouble / n)
      }
    }(enc)
  }

  /** Audio frame windows: overlapping fixed-size windows with a hop —
    * the STFT framing an audio feature extractor consumes (e.g. 25 ms
    * windows / 10 ms hop at some sample rate, expressed in bytes).
    * FULL windows only: a payload shorter than `winSize` produces no
    * rows, and the last window starts at the largest multiple of `hop`
    * with `start + winSize <= n_bytes` (standard STFT convention).
    *
    * Pure expressions, no UDF and no kernel: window geometry is
    * arithmetic over octet_length, and the boundary content bytes are
    * extracted from the BINARY payload via substring→hex→conv (works on
    * arbitrary bytes, not just text payloads — spec covers 0x00/0xFF).
    * A real pipeline would hand `substring(media, start+1, winSize)`
    * slices to the decode kernel (see [[decodeFeatures]]); the boundary bytes here make the gate verify actual
    * payload content, not just geometry.
    * Output: (media_id, window_idx, start_byte, first_byte, last_byte). */
  def audioWindows(media: DataFrame, winSize: Int = 400, hop: Int = 160): DataFrame = {
    require(winSize > 0 && hop > 0, s"audioWindows: winSize=$winSize hop=$hop")
    val n = octet_length(col("media"))
    // guard BEFORE sequence(): Spark's sequence(0, -1) steps DOWNWARD
    def byteAt(pos: Column): Column =
      conv(hex(substring(col("media"), pos, lit(1))), 16, 10).cast("int")
    media
      .filter(n >= winSize)
      .withColumn("window_idx",
        explode(sequence(lit(0), floor((n - winSize) / hop).cast("int"))))
      .withColumn("start_byte", col("window_idx") * hop)
      .withColumn("first_byte", byteAt(col("start_byte") + 1))
      .withColumn("last_byte", byteAt(col("start_byte") + winSize))
      .select(col("media_id"), col("window_idx"), col("start_byte"),
        col("first_byte"), col("last_byte"))
  }

  /** Frame sampling: split the payload into fixed-size frames and keep
    * every `every`-th frame. Output one row per sampled frame with its
    * byte length — pure expressions (no UDF): frame count and sizes are
    * arithmetic over octet_length. */
  def sampleFrames(media: DataFrame, frameSize: Int = 256, every: Int = 2): DataFrame = {
    val nFrames = ceil(octet_length(col("media")).cast("double") / frameSize).cast("int")
    media
      .withColumn("frame_idx", explode(filter(
        sequence(lit(0), greatest(nFrames - 1, lit(0))),
        i => i % every === 0)))
      .withColumn("frame_bytes",
        least(lit(frameSize),
          octet_length(col("media")) - col("frame_idx") * frameSize))
      .filter(col("frame_bytes") > 0)
      .select(col("media_id"), col("frame_idx"), col("frame_bytes"))
  }
}
