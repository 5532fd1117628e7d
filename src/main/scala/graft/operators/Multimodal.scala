package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Multimodal-column plumbing for training-data pipelines: media
  * (image/audio/video) travels as an opaque `binary` column; decode /
  * feature-extraction / resize / frame-sample run per partition in
  * bounded batches.
  *
  * Version pin: the batch stages consume `df.queryExecution.toRdd` —
  * `InternalRow` without a deserialization pass, the JVM analogue of
  * what `mapInPandas` gets via Arrow. `queryExecution`/`toRdd` are
  * developer-API surface, not public-stable: written against Spark
  * 4.1.x (field layout also asserted by MultimodalSpec), re-check on
  * any Spark major upgrade.
  *
  * One real, dependency-free codec per medium:
  * - IMAGE: [[Multimodal.ImageIoCodec]] decodes PNG/JPEG/BMP/GIF
  *   through the JDK's `javax.imageio` (header-only dimension probe,
  *   full decode, resize, deterministic gray-PNG fixture encoder).
  * - AUDIO: [[Multimodal.WavCodec]] decodes RIFF/WAV PCM through the
  *   JDK's `javax.sound.sampled` (header-only format probe, exact
  *   16-bit sample decode, deterministic fixture encoder).
  * - VIDEO: [[RiffAvi]] walks the RIFF/AVI container (the MJPEG
  *   convention: one image payload per `00dc` chunk) and each frame
  *   decodes through the image codec — [[videoFeatures]] /
  *   [[videoFrameSample]].
  * Compressed codecs beyond these (MP3/AAC, H.264, …) need libraries
  * the JDK does not ship. The Spark-side contract — batch shape,
  * partition processing, null/empty handling — is one helper
  * ([[perPayload]]) shared by the feature and resize stages, so an
  * FFmpeg-backed codec drops in without touching the plumbing.
  */
object Multimodal {

  /** REAL image codec for the image half of the multimodal surface —
    * `javax.imageio` ships in the JDK, so PNG/JPEG/BMP/GIF decode needs
    * no external library; video frames decode through it too.
    *
    * Scale notes: `ImageIO.setUseCache(false)` keeps header probes and
    * decodes on heap instead of spilling a temp file per image per
    * executor thread; [[dimensions]] reads ONLY the header via an
    * `ImageReader` — at 100 TB of media you must not decode pixels to
    * answer width/height.
    */
  object ImageIoCodec {
    import java.awt.image.BufferedImage
    import java.io.ByteArrayInputStream
    import javax.imageio.ImageIO

    ImageIO.setUseCache(false)

    /** Header-only (width, height) — no pixel decode. None on bytes no
      * installed reader understands (the corrupt-input fallback).
      */
    def dimensions(bytes: Array[Byte]): Option[(Int, Int)] = {
      if (bytes == null || bytes.isEmpty) return None
      val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
      try {
        val readers = ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val r = readers.next()
          try { r.setInput(iis, true, true); Some((r.getWidth(0), r.getHeight(0))) }
          catch { case scala.util.control.NonFatal(_) => None }
          finally r.dispose()
        }
      } finally iis.close()
    }

    /** Full pixel decode; None on corrupt/unsupported bytes. */
    def decode(bytes: Array[Byte]): Option[BufferedImage] = {
      if (bytes == null || bytes.isEmpty) return None
      try Option(ImageIO.read(new ByteArrayInputStream(bytes)))
      catch { case scala.util.control.NonFatal(_) => None }
    }

    /** Deterministic 8-bit grayscale PNG — the fixture/oracle generator.
      * PNG is lossless and gray stays gray through the round trip, so
      * `pixel(k)` (row-major index) is recoverable bit-exactly by
      * [[decode]] + raster samples, which is what lets a SQL oracle
      * recompute the features arithmetically.
      */
    def encodeGrayPng(w: Int, h: Int, pixel: Int => Int): Array[Byte] = {
      require(w > 0 && h > 0, s"bad dimensions ${w}x$h")
      val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
      val raster = img.getRaster
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { raster.setSample(x, y, 0, pixel(y * w + x) & 0xff); x += 1 }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      ImageIO.write(img, "png", bos)
      bos.toByteArray
    }

    /** Integer luminance sum over every raster sample (all bands) —
      * exact arithmetic, so oracles compare sums, not float means.
      */
    def sumSamples(img: BufferedImage): (Long, Long) = {
      val raster = img.getRaster
      val (w, h, bands) = (img.getWidth, img.getHeight, raster.getNumBands)
      var sum = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          var b = 0
          while (b < bands) { sum += raster.getSample(x, y, b); b += 1 }
          x += 1
        }
        y += 1
      }
      (sum, w.toLong * h * bands)
    }

    /** Headless-safe resize (Graphics2D draw into the target raster),
      * re-encoded as PNG.
      */
    def resizePng(img: BufferedImage, w: Int, h: Int): Array[Byte] = {
      val target = new BufferedImage(w, h,
        if (img.getType == BufferedImage.TYPE_BYTE_GRAY) BufferedImage.TYPE_BYTE_GRAY
        else BufferedImage.TYPE_INT_RGB)
      val g = target.createGraphics()
      try g.drawImage(img, 0, 0, w, h, null) finally g.dispose()
      val bos = new java.io.ByteArrayOutputStream()
      ImageIO.write(target, "png", bos)
      bos.toByteArray
    }
  }

  /** REAL audio codec for the WAV half of the multimodal surface —
    * `javax.sound.sampled` ships in the JDK, so RIFF/WAVE PCM decode
    * needs no external library (compressed formats — MP3, AAC, Vorbis —
    * need libraries the JDK does not ship).
    *
    * Scale notes: [[info]] parses ONLY the header through
    * `AudioSystem.getAudioFileFormat` — at 100 TB of media you must not
    * decode samples to answer sample-rate/duration; [[sumSamples]]
    * accumulates exact integer amplitudes so oracles compare integer
    * sums, never float means.
    */
  object WavCodec {
    import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

    final case class WavInfo(sampleRate: Int, channels: Int, nFrames: Long)

    /** Header-only format probe — no sample decode. None on bytes the
      * JDK's WAV reader doesn't understand (the corrupt-input fallback).
      */
    def info(bytes: Array[Byte]): Option[WavInfo] = {
      if (bytes == null || bytes.isEmpty) return None
      try {
        val ff = AudioSystem.getAudioFileFormat(new ByteArrayInputStream(bytes))
        val fmt = ff.getFormat
        // a crafted RIFF header can declare rate 0 (or NOT_SPECIFIED =
        // -1) and still parse — treat it as corrupt, never let a zero
        // rate reach duration arithmetic
        if (fmt.getSampleRate <= 0 || fmt.getChannels <= 0) None
        else Some(WavInfo(fmt.getSampleRate.toInt, fmt.getChannels,
          math.max(ff.getFrameLength.toLong, 0L)))
      } catch { case scala.util.control.NonFatal(_) => None }
    }

    /** Full decode of a signed 16-bit PCM stream: (info, exact integer
      * sum of every sample across channels, sample count). None on
      * corrupt bytes or non-16-bit encodings.
      */
    def sumSamples(bytes: Array[Byte]): Option[(WavInfo, Long, Long)] = {
      if (bytes == null || bytes.isEmpty) return None
      try {
        val in = AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
        try {
          val fmt = in.getFormat
          if (fmt.getEncoding != AudioFormat.Encoding.PCM_SIGNED ||
              fmt.getSampleSizeInBits != 16 ||
              fmt.getSampleRate <= 0 || fmt.getChannels <= 0) return None
          val raw = in.readAllBytes()
          val be = fmt.isBigEndian
          var sum = 0L
          var i = 0
          while (i + 1 < raw.length) {
            val s =
              if (be) ((raw(i) << 8) | (raw(i + 1) & 0xff)).toShort
              else ((raw(i + 1) << 8) | (raw(i) & 0xff)).toShort
            sum += s
            i += 2
          }
          val n = raw.length / 2
          // frame length can be NOT_SPECIFIED (-1) on streamed input —
          // derive it from the decoded sample count instead
          val frames =
            if (in.getFrameLength >= 0) in.getFrameLength
            else n.toLong / fmt.getChannels
          Some((WavInfo(fmt.getSampleRate.toInt, fmt.getChannels, frames), sum, n.toLong))
        } finally in.close()
      } catch { case scala.util.control.NonFatal(_) => None }
    }

    /** Deterministic PCM-16 WAV — the fixture/oracle generator. WAV PCM
      * is lossless, so `sample(k)` (interleaved frame-major index over
      * `nFrames * channels` samples) is recoverable bit-exactly by
      * [[sumSamples]], which is what lets a SQL oracle recompute the
      * features arithmetically.
      */
    def encodePcm16(sampleRate: Int, channels: Int, nFrames: Int, sample: Int => Int): Array[Byte] = {
      require(sampleRate > 0 && channels > 0 && nFrames >= 0,
        s"bad WAV shape $sampleRate/$channels/$nFrames")
      val raw = new Array[Byte](nFrames * channels * 2)
      var k = 0
      while (k < nFrames * channels) {
        val s = sample(k).toShort
        raw(2 * k) = (s & 0xff).toByte
        raw(2 * k + 1) = ((s >> 8) & 0xff).toByte
        k += 1
      }
      val fmt = new AudioFormat(sampleRate.toFloat, 16, channels, true, false)
      val stream = new AudioInputStream(new ByteArrayInputStream(raw), fmt, nFrames.toLong)
      val bos = new ByteArrayOutputStream()
      try AudioSystem.write(stream, AudioFileFormat.Type.WAVE, bos) finally stream.close()
      bos.toByteArray
    }
  }

  /** Runs `f` on every (id, payload) of `df` over bounded per-partition
    * batches — the Scala shape of a pandas-UDF/mapInPandas media stage:
    * rows stream through in groups of `batchSize`, the boundary where a
    * codec would amortize decoder initialization.
    */
  private def perPayload(df: DataFrame, idCol: String, binCol: String, batchSize: Int, outSchema: StructType)(
      f: (Long, Array[Byte]) => Row): DataFrame = {
    val idIdx = df.schema.fieldIndex(idCol)
    val binIdx = df.schema.fieldIndex(binCol)
    val rows = df.queryExecution.toRdd.mapPartitions { it =>
      // extract fields BEFORE buffering: Spark reuses the InternalRow
      // instance, so grouping raw rows would replicate the last row
      it.map(r => (r.getLong(idIdx), r.getBinary(binIdx)))
        .grouped(batchSize).flatMap(_.iterator.map(f.tupled))
    }
    df.sparkSession.createDataFrame(rows, outSchema)
  }

  /** Real audio feature extraction: header format + exact integer
    * amplitude sums per clip, `duration_ms` by integer arithmetic.
    * Corrupt or non-WAV payloads degrade to a row with `ok = false` and
    * zeroed features instead of failing the job — at corpus scale some
    * fraction of scraped media is always broken.
    */
  def audioFeatures(
      df: DataFrame,
      idCol: String,
      binCol: String,
      batchSize: Int = 64,
  ): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("ok", BooleanType),
      StructField("sample_rate", IntegerType),
      StructField("channels", IntegerType),
      StructField("n_frames", LongType),
      StructField("n_samples", LongType),
      StructField("sum_amplitude", LongType),
      StructField("duration_ms", LongType)))
    perPayload(df, idCol, binCol, batchSize, outSchema) { (id, bytes) =>
      WavCodec.sumSamples(bytes) match {
        case Some((info, sum, n)) =>
          Row(id, true, info.sampleRate, info.channels, info.nFrames, n, sum,
            info.nFrames * 1000L / info.sampleRate)
        case None => Row(id, false, 0, 0, 0L, 0L, 0L, 0L)
      }
    }
  }

  /** Real image feature extraction: header dims + exact luminance sums
    * per image. Corrupt or non-image payloads degrade to a row with
    * `ok = false` and zeroed features instead of failing the job — at
    * corpus scale some fraction of scraped media is always broken.
    */
  def imageFeatures(
      df: DataFrame,
      idCol: String,
      binCol: String,
      batchSize: Int = 64,
  ): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("ok", BooleanType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("n_samples", LongType),
      StructField("sum_luma", LongType)))
    perPayload(df, idCol, binCol, batchSize, outSchema) { (id, bytes) =>
      ImageIoCodec.decode(bytes) match {
        case Some(img) =>
          val (sum, n) = ImageIoCodec.sumSamples(img)
          Row(id, true, img.getWidth, img.getHeight, n, sum)
        case None => Row(id, false, 0, 0, 0L, 0L)
      }
    }
  }

  /** Real image resize → PNG bytes (null for undecodable payloads). */
  def imageResize(df: DataFrame, idCol: String, binCol: String, w: Int, h: Int): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("resized_png", BinaryType)))
    perPayload(df, idCol, binCol, 64, outSchema) { (id, bytes) =>
      Row(id, ImageIoCodec.decode(bytes).map(ImageIoCodec.resizePng(_, w, h)).orNull)
    }
  }

  /** REAL video feature extraction, real codecs end to end: the
    * RIFF/AVI container walk ([[RiffAvi.frames]]) yields the frame
    * payloads, each decoded through the JDK image codec; features are
    * the frame count, first-frame dimensions, and the exact integer
    * luminance sum across every decodable frame. Corrupt containers
    * degrade to `ok = false` rows; corrupt individual frames are skipped
    * (counted in `n_frames` as container chunks, excluded from the
    * sums) — at corpus scale some fraction of scraped media is always
    * broken. This decodes EVERY frame (the fixtures are small); the
    * 100 TB shape samples frames first via [[videoFrameSample]], which
    * walks container structure only.
    */
  def videoFeatures(
      df: DataFrame,
      idCol: String,
      binCol: String,
      batchSize: Int = 16,
  ): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("ok", BooleanType),
      StructField("n_frames", IntegerType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("n_samples", LongType),
      StructField("sum_luma", LongType)))
    perPayload(df, idCol, binCol, batchSize, outSchema) { (id, bytes) =>
      RiffAvi.frames(bytes) match {
        case None => Row(id, false, 0, 0, 0, 0L, 0L)
        case Some(frameBytes) =>
          var sum = 0L
          var samples = 0L
          var w = 0
          var h = 0
          frameBytes.foreach { fb =>
            ImageIoCodec.decode(fb).foreach { img =>
              if (w == 0) { w = img.getWidth; h = img.getHeight }
              val (s, n) = ImageIoCodec.sumSamples(img)
              sum += s
              samples += n
            }
          }
          Row(id, true, frameBytes.length, w, h, samples, sum)
      }
    }
  }

  /** Deterministic frame sampling over a REAL container: every k-th
    * `00dc`/`00db` payload of the AVI, returned as opaque frame bytes —
    * container-structure walk only, zero pixel decode (THE scale
    * operation: select frames first, decode the selection).
    */
  def videoFrameSample(
      df: DataFrame,
      idCol: String,
      binCol: String,
      everyK: Int = 4,
  ): DataFrame = {
    require(everyK > 0, s"bad stride $everyK")
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("frame_idx", IntegerType),
      StructField("frame", BinaryType)))
    val idIdx = df.schema.fieldIndex(idCol)
    val binIdx = df.schema.fieldIndex(binCol)
    val rows = df.queryExecution.toRdd.mapPartitions { it =>
      it.flatMap { r =>
        val id = r.getLong(idIdx)
        RiffAvi.frames(r.getBinary(binIdx)).iterator.flatMap { fs =>
          fs.iterator.zipWithIndex.collect {
            case (fb, i) if i % everyK == 0 => Row(id, i, fb)
          }
        }
      }
    }
    spark.createDataFrame(rows, outSchema)
  }
}
