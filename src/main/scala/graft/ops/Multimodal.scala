package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Typed rows for multimodal payloads: media is an opaque `binary` column
  * plus a typed metadata struct. Matches how a 100 TB media lake actually
  * stores content — bytes in parquet/object storage, decode at use site.
  */
case class MediaMeta(
    mediaType: String, // "image" | "audio" | "video"
    codec: String,
    width: Int,        // images/video; 0 otherwise
    height: Int,
    sampleRateHz: Int, // audio; 0 otherwise
    durationMs: Long   // audio/video; 0 for images
)

case class MediaRow(media_id: Long, meta: MediaMeta, payload: Array[Byte])

case class ImageFeatures(
    media_id: Long,
    width: Int,
    height: Int,
    channels: Int,
    meanLuma: Double,
    histogram: Array[Long] // 16-bin luma histogram
)

case class AudioFeatures(
    media_id: Long,
    sampleRateHz: Int,
    nFrames: Long,
    rms: Double
)

case class VideoFrame(media_id: Long, frameIndex: Int, payload: Array[Byte])

/** The codec boundary: everything the operators in [[Multimodal]] need from
  * a real media stack. A deployment slots in an implementation backed by
  * libjpeg / libsndfile / ffmpeg WITHOUT touching the operators — the
  * Spark-side plumbing (typed schemas, per-partition batching, size-aware
  * repartitioning) is codec-agnostic.
  *
  * Contract: implementations are `Serializable` (constructed on the driver,
  * shipped once per task) and must treat heavyweight native contexts as
  * lazy/transient so they initialize per executor, not per row — the
  * operators call through `mapPartitions`, so per-partition amortization is
  * already in place.
  */
trait MediaDecoder extends Serializable {

  /** Decode an image payload → (width, height, channels, luma stream). */
  def decodeImage(payload: Array[Byte]): (Int, Int, Int, Iterator[Int])

  /** Decode an audio payload → PCM samples in [-1, 1]. */
  def decodeAudio(payload: Array[Byte]): Iterator[Double]

  /** Re-encode an image payload at a new size. */
  def resizeImage(
      payload: Array[Byte],
      width: Int, height: Int,
      newWidth: Int, newHeight: Int): Array[Byte]

  /** Split a video payload into encoded frames, in order. */
  def videoFrames(payload: Array[Byte]): Iterator[Array[Byte]]
}

/** STUB decoder — the deterministic fake used in this codec-less
  * environment (no libjpeg/ffmpeg in the sandbox). Every output is a pure
  * function of the payload bytes, so operator behavior is testable
  * end-to-end; a real deployment replaces this object, nothing else.
  */
case class StubDecoder(frameBytes: Int = 256) extends MediaDecoder {

  def decodeImage(payload: Array[Byte]): (Int, Int, Int, Iterator[Int]) = {
    // floorMod, not abs(_) % 64: abs(Int.MinValue) is still negative, which
    // would yield negative dimensions and a NaN meanLuma (0/0)
    val hash = java.util.Arrays.hashCode(payload)
    val w = 16 + Math.floorMod(hash, 64)
    val h = 16 + Math.floorMod(hash / 64, 64)
    // zero-byte payloads (truncated/corrupt files are routine in scraped
    // corpora) decode to all-black rather than killing the task
    val lumas =
      if (payload.isEmpty) Iterator.fill(w * h)(0)
      else Iterator.tabulate(w * h) { i =>
        java.lang.Byte.toUnsignedInt(payload(i % payload.length))
      }
    (w, h, 3, lumas)
  }

  def decodeAudio(payload: Array[Byte]): Iterator[Double] =
    payload.iterator.map(b => b.toDouble / 128.0)

  def resizeImage(
      payload: Array[Byte],
      width: Int, height: Int,
      newWidth: Int, newHeight: Int): Array[Byte] = {
    // STUB: truncates bytes proportionally to the pixel-count change so
    // downstream size accounting stays realistic.
    val scaleSq = (newWidth.toDouble * newHeight) / math.max(1, width * height)
    payload.take(math.max(1, (payload.length * scaleSq).toInt))
  }

  def videoFrames(payload: Array[Byte]): Iterator[Array[Byte]] =
    // STUB: fixed-size chunks standing in for codec frame parsing
    payload.grouped(frameBytes)
}

/** REAL decoder backed by the JDK's own codecs — no native libraries:
  * `javax.imageio` (JPEG / PNG / GIF / BMP) for images and
  * `javax.sound.sampled` (WAV / AIFF / AU) for audio. Video handles the
  * two containers the JDK can genuinely demux — animated GIF (multi-frame
  * `ImageReader`, frames re-encoded as PNG) and MJPEG (SOI/EOI marker
  * scan into the raw per-frame JPEGs) — and falls back to fixed-size
  * chunking for unknown containers (MP4/MKV need a real demuxer; a
  * production deployment overrides [[videoFrames]] with an ffmpeg-backed
  * decoder).
  *
  * Corrupt/undecodable payloads follow the same contract as
  * [[StubDecoder]]'s zero-byte rule: they must NOT kill the task.
  * Images decode to `(0, 0, 0, empty)` (zero pixels → zero histogram mass,
  * so the histogram-total = w×h invariant holds trivially); audio decodes
  * to no samples; resize passes the payload through unchanged (we cannot
  * re-encode what we cannot decode).
  *
  * Stateless beyond the `frameBytes` knob, so serialization is trivial;
  * `ImageIO`/`AudioSystem` are static JDK services available on every
  * executor.
  */
case class JdkMediaDecoder(frameBytes: Int = 256) extends MediaDecoder {

  private def readImage(payload: Array[Byte]): java.awt.image.BufferedImage = {
    JdkMediaDecoder.imageIoMemoryCache
    try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
    catch { case _: Exception => null } // ImageIO returns null OR throws on garbage
  }

  def decodeImage(payload: Array[Byte]): (Int, Int, Int, Iterator[Int]) = {
    val img = readImage(payload)
    if (img == null) (0, 0, 0, Iterator.empty)
    else {
      val w = img.getWidth
      val h = img.getHeight
      val c = img.getColorModel.getNumComponents
      // ITU-R BT.601 integer luma; getRGB converts any source color model
      // to sRGB so grayscale/indexed images need no special-casing
      val lumas = Iterator.tabulate(w * h) { i =>
        val rgb = img.getRGB(i % w, i / w)
        (299 * ((rgb >> 16) & 0xFF) + 587 * ((rgb >> 8) & 0xFF) + 114 * (rgb & 0xFF)) / 1000
      }
      (w, h, c, lumas)
    }
  }

  def decodeAudio(payload: Array[Byte]): Iterator[Double] = {
    import javax.sound.sampled.AudioFormat
    val pcmBytes =
      try {
        val in = JdkMediaDecoder.readAudioStream(payload)
        val base = in.getFormat
        // normalize every source encoding to signed 16-bit little-endian PCM
        val target = new AudioFormat(
          AudioFormat.Encoding.PCM_SIGNED,
          base.getSampleRate, 16, base.getChannels,
          base.getChannels * 2, base.getSampleRate, false)
        JdkMediaDecoder.convertAudioStream(target, in).readAllBytes()
      } catch { case _: Exception => Array.emptyByteArray }
    Iterator.range(0, pcmBytes.length / 2).map { i =>
      (((pcmBytes(2 * i + 1).toInt << 8) | (pcmBytes(2 * i) & 0xFF)) / 32768.0)
    }
  }

  def resizeImage(
      payload: Array[Byte],
      width: Int, height: Int,
      newWidth: Int, newHeight: Int): Array[Byte] = {
    val img = readImage(payload)
    if (img == null) payload
    else {
      import java.awt.RenderingHints
      import java.awt.image.BufferedImage
      val out = new BufferedImage(
        math.max(1, newWidth), math.max(1, newHeight), BufferedImage.TYPE_INT_RGB)
      val g2 = out.createGraphics() // raster-only; needs no display, headless-safe
      g2.setRenderingHint(
        RenderingHints.KEY_INTERPOLATION, RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g2.drawImage(img, 0, 0, math.max(1, newWidth), math.max(1, newHeight), null)
      g2.dispose()
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(out, sniffFormat(payload), baos)
      baos.toByteArray
    }
  }

  /** Container format from magic bytes — re-encode in kind, default PNG. */
  private def sniffFormat(payload: Array[Byte]): String =
    if (payload.length < 2) "png"
    else (payload(0) & 0xFF, payload(1) & 0xFF) match {
      case (0xFF, 0xD8)  => "jpg"
      case (0x42, 0x4D)  => "bmp"
      case (0x47, 0x49)  => "gif"
      case _             => "png"
    }

  def videoFrames(payload: Array[Byte]): Iterator[Array[Byte]] =
    if (payload.length >= 4 &&
        payload(0) == 'G' && payload(1) == 'I' && payload(2) == 'F')
      gifFrames(payload)
    else if (payload.length >= 3 &&
        (payload(0) & 0xFF) == 0xFF && (payload(1) & 0xFF) == 0xD8)
      mjpegFrames(payload)
    else
      // unknown container: stub chunking (no JDK demuxer for MP4/MKV)
      payload.grouped(frameBytes)

  /** Animated-GIF frames via ImageIO's multi-frame reader, each re-encoded
    * standalone as PNG (GIF delta frames can be partial rasters with
    * offsets; each is decoded as stored, without compositing prior frames —
    * the right raw input for per-frame feature extraction). Frames are
    * materialized before the reader is disposed: the iterator must not
    * capture a closed `ImageReader`. Undecodable payloads yield no frames,
    * per the corrupt-payload contract.
    */
  private def gifFrames(payload: Array[Byte]): Iterator[Array[Byte]] =
    try {
      JdkMediaDecoder.imageIoMemoryCache
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      // iis must be closed on EVERY exit: under ImageIO's default
      // useCache=true it would be a FileCacheImageInputStream backed by a
      // disk temp file (we switch to the memory cache JVM-wide, but close
      // unconditionally so a foreign useCache flip cannot leak fds).
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) Iterator.empty
        else {
          val reader = readers.next()
          try {
            reader.setInput(iis, false)
            val n = reader.getNumImages(true)
            (0 until n).iterator.map { i =>
              val baos = new java.io.ByteArrayOutputStream()
              javax.imageio.ImageIO.write(reader.read(i), "png", baos)
              baos.toByteArray
            }.toArray.iterator
          } finally reader.dispose()
        }
      } finally iis.close()
    } catch { case _: Exception => Iterator.empty }

  /** MJPEG (concatenated JPEGs) split on SOI (FFD8) / EOI (FFD9) markers.
    * Sound for entropy-coded data (0xFF bytes are 0x00-stuffed there), but
    * an embedded EXIF thumbnail's own EOI would cut a frame short — MJPEG
    * streams don't carry EXIF, so the simple scan is the right trade.
    */
  private[ops] def mjpegFrames(payload: Array[Byte]): Iterator[Array[Byte]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    var i = 0
    var start = -1
    while (i < payload.length - 1) {
      if ((payload(i) & 0xFF) == 0xFF) {
        val m = payload(i + 1) & 0xFF
        if (m == 0xD8 && start < 0) { start = i; i += 2 }
        else if (m == 0xD9 && start >= 0) {
          out += java.util.Arrays.copyOfRange(payload, start, i + 2)
          start = -1
          i += 2
        } else i += 1
      } else i += 1
    }
    out.iterator
  }
}

/** JVM-wide decode plumbing shared by every [[JdkMediaDecoder]] instance.
  *
  * Why this exists (measured on the q78 gate): `AudioSystem.getAudioInput
  * Stream` walks the sound SPI registry under a JVM-global lock on EVERY
  * call, so 32 concurrent decode tasks serialize — a 456 µs single-thread
  * decode read 13.6 ms of executor time per row under contention, turning
  * an embarrassingly parallel stage into a single-threaded one. The
  * providers are immutable JDK services; loading them ONCE through the
  * public `ServiceLoader` API and dispatching directly gives the same
  * codecs, the same bytes, and no global lock. Same story for ImageIO's
  * default disk-backed stream cache: a temp-file create/delete per decoded
  * payload (useCache = true is the JDK default), pure overhead for
  * byte-array inputs.
  */
object JdkMediaDecoder {
  import javax.sound.sampled.{AudioFormat, AudioInputStream, UnsupportedAudioFileException}
  import javax.sound.sampled.spi.{AudioFileReader, FormatConversionProvider}
  import scala.jdk.CollectionConverters._

  // MIDI readers sorted LAST and additionally gated on the SMF magic: the
  // JDK's SoftMidiAudioFileReader re-enters MidiSystem.getProviders (the
  // same JVM-global JSSecurityManager class lock) on EVERY payload offered
  // to it — thread dumps of the contended decode stage showed all 32 tasks
  // queued on that lock with WAV payloads that the MIDI reader would
  // reject anyway. Standard MIDI files must begin with "MThd" (the only
  // magic the JDK MIDI reader accepts), so the gate loses nothing.
  private lazy val audioFileReaders: List[AudioFileReader] = {
    val all = java.util.ServiceLoader.load(classOf[AudioFileReader]).asScala.toList
    val (midi, other) = all.partition(isMidiReader)
    other ::: midi
  }

  private def isMidiReader(r: AudioFileReader): Boolean =
    r.getClass.getName.toLowerCase(java.util.Locale.ROOT).contains("midi")

  private def looksLikeMidi(p: Array[Byte]): Boolean =
    p.length >= 4 && p(0) == 'M' && p(1) == 'T' && p(2) == 'h' && p(3) == 'd'

  private lazy val conversionProviders: List[FormatConversionProvider] =
    java.util.ServiceLoader.load(classOf[FormatConversionProvider]).asScala.toList

  /** ImageIO with the in-memory stream cache (one-time, idempotent, safe:
    * byte-array inputs never need the disk spill the file cache exists for).
    */
  private[ops] lazy val imageIoMemoryCache: Unit =
    javax.imageio.ImageIO.setUseCache(false)

  /** `AudioSystem.getAudioInputStream(stream)` without the per-call SPI
    * walk: first cached reader that accepts the payload wins — the same
    * first-match contract as the JDK dispatch.
    */
  private[ops] def readAudioStream(payload: Array[Byte]): AudioInputStream = {
    val it = audioFileReaders.iterator
    while (it.hasNext) {
      val r = it.next()
      if (!isMidiReader(r) || looksLikeMidi(payload)) {
        try return r.getAudioInputStream(new java.io.ByteArrayInputStream(payload))
        catch { case _: UnsupportedAudioFileException => /* next provider */ }
      }
    }
    throw new UnsupportedAudioFileException("no cached AudioFileReader accepts the payload")
  }

  /** `AudioSystem.getAudioInputStream(target, in)` without the per-call SPI
    * walk; identity conversions pass through, matching the JDK dispatch.
    */
  private[ops] def convertAudioStream(
      target: AudioFormat, in: AudioInputStream): AudioInputStream = {
    if (in.getFormat.matches(target)) return in
    val it = conversionProviders.iterator
    while (it.hasNext) {
      val p = it.next()
      if (p.isConversionSupported(target, in.getFormat))
        return p.getAudioInputStream(target, in)
    }
    throw new IllegalArgumentException(
      s"unsupported audio conversion: ${in.getFormat} -> $target")
  }
}

/** PRODUCTION-CODEC decoder shelling out to the ffmpeg CLI — the
  * deployment answer for the containers the JDK cannot decode (MP3, MP4,
  * WebP, MKV, Opus, …): ffmpeg TRANSCODES each payload to a format the
  * [[JdkMediaDecoder]] pixel/sample layer already handles (PNG for
  * images, 16-bit PCM WAV for audio, an MJPEG stream for video frames),
  * so the feature math stays in one place and this class is pure process
  * plumbing. The binary is found on `ffmpegPath` (default: `ffmpeg` on
  * PATH); probe with [[FfmpegMediaDecoder.available]] and fall back to
  * [[JdkMediaDecoder]] when absent.
  *
  * Process contract (the part a 1000-executor deployment cares about):
  *   - input goes through a per-call temp file, NOT stdin — containers
  *     with trailing metadata (MP4 `moov` at the end) cannot be probed
  *     from a pipe; output streams from stdout, stderr is discarded
  *     (`-v error` keeps it empty; failures surface as the exit code);
  *   - a daemon watchdog force-kills the child after `timeoutSec` so a
  *     codec hang on garbage bytes can never wedge a task slot;
  *   - nonzero exit / empty output follow the corrupt-payload contract
  *     exactly like [[JdkMediaDecoder]]: images decode to
  *     `(0, 0, 0, empty)`, audio to no samples, resize passes the payload
  *     through, video falls back to fixed-size chunking — a corrupt file
  *     must NOT kill the task;
  *   - stateless and trivially `Serializable`; one short-lived process
  *     per payload (ffmpeg startup is ~10 ms against decode work that is
  *     typically 10-100× that; the operators already batch per partition).
  *
  * VALIDATION SCOPE, stated explicitly: the development sandbox has no
  * ffmpeg binary (and no media codecs at all), so the committed test
  * surface drives the COMPLETE process path — temp-file handoff, argv
  * construction, stdout streaming, watchdog kill, corrupt-payload
  * degradation — through a deterministic shim binary
  * (FfmpegDecoderSpec), while `FfmpegDecoderSpec`'s real-binary branch
  * runs automatically wherever `ffmpeg` IS on PATH. The transcode flag
  * sets themselves (`-f image2 -vcodec png` / `-f wav -acodec
  * pcm_s16le` / `-f mjpeg` + fps filter) are standard published ffmpeg
  * usage but have NOT been executed against a real binary from this
  * sandbox — real-codec validation is out of sandbox scope by
  * construction, and first deployment next to a real ffmpeg should run
  * that spec (or any one MP3/MP4/WebP fixture) before trusting bulk
  * decode.
  */
case class FfmpegMediaDecoder(
    ffmpegPath: String = "ffmpeg",
    frameBytes: Int = 256,
    timeoutSec: Int = 60) extends MediaDecoder {

  private val jdk = JdkMediaDecoder(frameBytes)

  /** Run ffmpeg over `input`, returning stdout on success. */
  private def run(args: Seq[String], input: Array[Byte]): Option[Array[Byte]] = {
    var tmp: java.nio.file.Path = null
    try {
      tmp = java.nio.file.Files.createTempFile("graft_ffmpeg_", ".bin")
      java.nio.file.Files.write(tmp, input)
      val cmd = (Seq(ffmpegPath, "-v", "error", "-nostdin", "-i", tmp.toString)
        ++ args ++ Seq("pipe:1"))
      val pb = new ProcessBuilder(cmd: _*)
      pb.redirectError(ProcessBuilder.Redirect.DISCARD)
      val p = pb.start()
      p.getOutputStream.close()
      val watchdog = new Thread(() => {
        try {
          if (!p.waitFor(timeoutSec.toLong, java.util.concurrent.TimeUnit.SECONDS)) {
            // kill the whole tree: a wrapper script's codec child would
            // otherwise keep stdout open and the read blocked
            p.descendants().forEach(h => { h.destroyForcibly(); () })
            p.destroyForcibly()
          }
        } catch { case _: InterruptedException => () }
      })
      watchdog.setDaemon(true)
      watchdog.start()
      val out = p.getInputStream.readAllBytes()
      val code = p.waitFor()
      watchdog.interrupt()
      if (code == 0 && out.nonEmpty) Some(out) else None
    } catch { case _: Exception => None }
    finally {
      if (tmp != null) {
        try java.nio.file.Files.deleteIfExists(tmp)
        catch { case _: Exception => () }
      }
    }
  }

  def decodeImage(payload: Array[Byte]): (Int, Int, Int, Iterator[Int]) =
    run(Seq("-frames:v", "1", "-f", "image2", "-c:v", "png"), payload) match {
      case Some(png) => jdk.decodeImage(png)
      case None => (0, 0, 0, Iterator.empty)
    }

  def decodeAudio(payload: Array[Byte]): Iterator[Double] =
    run(Seq("-f", "wav", "-c:a", "pcm_s16le"), payload) match {
      case Some(wav) => jdk.decodeAudio(wav)
      case None => Iterator.empty
    }

  def resizeImage(
      payload: Array[Byte],
      width: Int, height: Int,
      newWidth: Int, newHeight: Int): Array[Byte] =
    run(Seq("-vf", s"scale=${math.max(1, newWidth)}:${math.max(1, newHeight)}",
      "-frames:v", "1", "-f", "image2", "-c:v", "png"), payload)
      .getOrElse(payload)

  def videoFrames(payload: Array[Byte]): Iterator[Array[Byte]] =
    run(Seq("-f", "image2pipe", "-c:v", "mjpeg", "-q:v", "2"), payload) match {
      case Some(mjpeg) => jdk.mjpegFrames(mjpeg)
      case None => payload.grouped(frameBytes)
    }
}

object FfmpegMediaDecoder {

  /** True when the binary at `path` runs and reports a version — the
    * deploy-time probe for choosing this decoder over [[JdkMediaDecoder]].
    */
  def available(path: String = "ffmpeg"): Boolean =
    try {
      val p = new ProcessBuilder(path, "-version")
        .redirectErrorStream(true).start()
      p.getOutputStream.close()
      p.getInputStream.readAllBytes()
      p.waitFor(10, java.util.concurrent.TimeUnit.SECONDS) && p.exitValue() == 0
    } catch { case _: Exception => false }
}

/** Multimodal column operators: decode, feature-extract, resize,
  * frame-sample — all parameterized by a [[MediaDecoder]] (default:
  * [[StubDecoder]]). The Spark side is real and load-bearing: typed schemas
  * via case-class Encoders, per-partition batch processing (`mapPartitions`
  * — the Scala analogue of `mapInPandas` batching), and size-aware
  * repartitioning so big payloads don't skew executors.
  */
object Multimodal {

  /** Read a directory of raw media files as (path, length, bytes) — Spark's
    * binaryFile source; the standard entry for image/audio lakes.
    */
  def readBinaryDir(spark: SparkSession, path: String, glob: String = "*"): DataFrame =
    spark.read.format("binaryFile").option("pathGlobFilter", glob).load(path)

  /** Spread rows so each partition carries ≈ `targetBytes` of payload —
    * binary media skews badly if partitioned by row count alone.
    */
  def repartitionBySize(df: DataFrame, payloadCol: String, targetBytes: Long): DataFrame = {
    val stats = df.select(sum(length(col(payloadCol)))).head()
    val total = if (stats.isNullAt(0)) 0L else stats.getLong(0)
    val parts = math.max(1, math.min(100000, (total / math.max(1L, targetBytes)).toInt))
    df.repartition(parts)
  }

  /** Decode + feature-extract images, one decoder context per partition.
    * Output: typed [[ImageFeatures]] rows.
    */
  def imageFeatures(
      media: Dataset[MediaRow],
      decoder: MediaDecoder = StubDecoder()
  ): Dataset[ImageFeatures] = {
    import media.sparkSession.implicits._
    media.filter(_.meta.mediaType == "image").mapPartitions { rows =>
      // the decoder deserializes once per task; heavyweight native state
      // belongs in its lazy/transient fields (see MediaDecoder contract)
      rows.map { r =>
        val (w, h, c, lumas) = decoder.decodeImage(r.payload)
        val hist = new Array[Long](16)
        var sumLuma = 0.0
        var n = 0L
        lumas.foreach { l =>
          hist(l / 16) += 1
          sumLuma += l
          n += 1
        }
        ImageFeatures(r.media_id, w, h, c, if (n == 0) 0.0 else sumLuma / n, hist)
      }
    }
  }

  /** Decode + feature-extract audio: sample count and RMS level. */
  def audioFeatures(
      media: Dataset[MediaRow],
      decoder: MediaDecoder = StubDecoder()
  ): Dataset[AudioFeatures] = {
    import media.sparkSession.implicits._
    media.filter(_.meta.mediaType == "audio").mapPartitions { rows =>
      rows.map { r =>
        var sumSq = 0.0
        var n = 0L
        decoder.decodeAudio(r.payload).foreach { s => sumSq += s * s; n += 1 }
        AudioFeatures(r.media_id, r.meta.sampleRateHz, n,
          if (n == 0) 0.0 else math.sqrt(sumSq / n))
      }
    }
  }

  /** Resize images over `maxDim` (aspect preserved); metadata rewritten,
    * payload re-encoded by the decoder. Non-images pass through untouched.
    */
  def resizeImages(
      media: Dataset[MediaRow],
      maxDim: Int,
      decoder: MediaDecoder = StubDecoder()
  ): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.map { r =>
      if (r.meta.mediaType != "image" || math.max(r.meta.width, r.meta.height) <= maxDim) r
      else {
        val scale = maxDim.toDouble / math.max(r.meta.width, r.meta.height)
        val nw = math.max(1, (r.meta.width * scale).toInt)
        val nh = math.max(1, (r.meta.height * scale).toInt)
        r.copy(
          meta = r.meta.copy(width = nw, height = nh),
          payload = decoder.resizeImage(r.payload, r.meta.width, r.meta.height, nw, nh))
      }
    }
  }

  /** Sample every `everyN`-th frame of each video payload; explode-shaped
    * output with per-video ordered frame indices.
    */
  def sampleFrames(
      media: Dataset[MediaRow],
      everyN: Int,
      decoder: MediaDecoder
  ): Dataset[VideoFrame] = {
    import media.sparkSession.implicits._
    media.filter(_.meta.mediaType == "video").flatMap { r =>
      decoder.videoFrames(r.payload).zipWithIndex.collect {
        case (chunk, idx) if idx % everyN == 0 => VideoFrame(r.media_id, idx, chunk)
      }
    }
  }

  /** [[sampleFrames]] with the stub's fixed-size chunking. */
  def sampleFrames(
      media: Dataset[MediaRow],
      everyN: Int,
      frameBytes: Int = 256
  ): Dataset[VideoFrame] =
    sampleFrames(media, everyN, StubDecoder(frameBytes))

  /** 64-bit perceptual hashes ([[PHash]]) of every image row:
    * `(media_id, phash)` with a NULL phash for undecodable payloads (they
    * must stay out of Hamming banding — an all-zero sentinel would bucket
    * every corrupt file together as "near-duplicates"). One decoder
    * context per partition, like every decode operator here.
    */
  def imagePHashes(
      media: Dataset[MediaRow],
      decoder: MediaDecoder = StubDecoder()
  ): DataFrame = {
    import media.sparkSession.implicits._
    media.filter(_.meta.mediaType == "image").mapPartitions { rows =>
      rows.map { r =>
        val (w, h, _, lumas) = decoder.decodeImage(r.payload)
        (r.media_id, PHash.phash64(w, h, lumas))
      }
    }.toDF("media_id", "phash")
  }

  /** 64-bit audio fingerprint: the energy-contour signature — decode to
    * PCM, split into 65 equal windows, bit k = energy(k) > energy(k+1).
    * Adjacent-energy COMPARISONS are invariant under global gain (volume
    * normalization, the most common re-encode transform) and stable under
    * codec noise; identical payloads fingerprint identically (the
    * planted-duplicate floor). Degenerate audio (no samples) → None,
    * excluded from banding like undecodable images.
    *
    * This is the time-domain member of the published
    * energy-difference-fingerprint family (Haitsma–Kalker's Philips
    * fingerprint uses band energies; Chromaprint chroma bins) — the
    * spectral variants slot into the same 64-bit + Hamming-banding shape
    * when a real FFT stack replaces the decoder.
    */
  def audioFingerprint64(samples: Iterator[Double]): Option[Long] = {
    // One pass, BOUNDED memory, unknown stream length: accumulate energy
    // per block into a capped buffer; when full, merge adjacent pairs and
    // double the block size (cap is a power of two, so a collapse never
    // leaves an odd half-size tail — every retained block spans exactly
    // `blockSize` samples, starts at idx*blockSize). Peak state is
    // cap doubles = 512 KB however long the clip; buffering raw samples
    // would cost 4x the payload bytes per row (a 50 MB WAV → 200 MB).
    // For clips ≤ cap samples blockSize stays 1 — bit-identical to exact
    // per-sample windowing. Gain invariance survives the collapse: block
    // sums scale uniformly with the samples' squared gain.
    val cap = 1 << 16
    val energies = new scala.collection.mutable.ArrayBuffer[Double](cap)
    var blockSize = 1L
    var cur = 0.0
    var inBlock = 0L
    var n = 0L
    samples.foreach { v =>
      cur += v * v
      inBlock += 1
      n += 1
      if (inBlock == blockSize) {
        if (energies.length == cap) {
          var i = 0
          var w = 0
          while (i < cap) { energies(w) = energies(i) + energies(i + 1); i += 2; w += 1 }
          energies.takeInPlace(w)
          blockSize *= 2
          // the in-flight block keeps accumulating to the NEW size
        } else {
          energies += cur
          cur = 0.0
          inBlock = 0L
        }
      }
    }
    if (inBlock > 0) energies += cur // final partial block
    if (n < 66) return None // fewer samples than windows: no contour
    val windows = 65
    val energy = new Array[Double](windows)
    var b = 0
    while (b < energies.length) {
      // assign each block to the window containing its START sample;
      // blocks are tiny relative to windows once collapse has happened
      // (≥ cap/2 blocks over 65 windows)
      val w = ((b * blockSize) * windows / n).toInt
      energy(math.min(w, windows - 1)) += energies(b)
      b += 1
    }
    var bits = 0L
    var k = 0
    while (k < 64) {
      if (energy(k) > energy(k + 1)) bits |= (1L << k)
      k += 1
    }
    Some(bits)
  }

  /** `(media_id, afp)` energy-contour fingerprints of every audio row. */
  def audioFingerprints(
      media: Dataset[MediaRow],
      decoder: MediaDecoder = StubDecoder()
  ): DataFrame = {
    import media.sparkSession.implicits._
    media.filter(_.meta.mediaType == "audio").mapPartitions { rows =>
      rows.map(r => (r.media_id, audioFingerprint64(decoder.decodeAudio(r.payload))))
    }.toDF("media_id", "afp")
  }

  /** Audio near-duplicate pairs over the energy-contour fingerprint via
    * the generic Hamming engine. Identical payloads → hamming 0 (the
    * guaranteed floor); gain-scaled copies → hamming 0 too (the contour
    * is gain-invariant); codec-noise robustness is measured, not
    * guaranteed.
    */
  def audioNearDuplicatePairs(
      media: Dataset[MediaRow],
      decoder: MediaDecoder = StubDecoder(),
      maxHamming: Int = 8,
      maxBucketSize: Int = 1000
  ): DataFrame =
    Dedup.hammingNearDuplicatePairs(
      cachedFingerprints(audioFingerprints(media, decoder)),
      "media_id", "afp", maxHamming, maxBucketSize)

  /** Fingerprint tables are PERSISTED before the pair engine: the
    * engine's plan references its input several times (member groups,
    * keeper star, ball probes — [[Dedup.multiIndexHammingPairs]]), and
    * each reference would otherwise re-run the upstream subtree,
    * RE-DECODING every payload (measured: ~7 input evaluations per pair
    * run). A fingerprint row is 16 bytes at any scale, so one cache pass
    * is negligible next to a single decode pass — and the accurate
    * (small) cache statistics let the engine's re-expansion joins
    * broadcast the member table instead of sort-merging against a
    * media-payload-sized estimate. As with `cacheShingles`
    * ([[Dedup.nearDuplicatePairs]]): Spark has no safe point to
    * unpersist a frame a lazy result still depends on, so the entry
    * lives until LRU eviction — sized to be irrelevant.
    */
  private def cachedFingerprints(fp: DataFrame): DataFrame =
    fp.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** 64-bit video signature: per-frame [[PHash]] over the decoded frames,
    * folded by per-bit MAJORITY vote — the SimHash construction applied
    * to frame hashes, so a video's signature is stable under frame-rate
    * resampling and boundary trims that keep most content (majority bits
    * move only when half the frames disagree). Identical payloads →
    * identical frames → identical signature (the floor). Videos with no
    * decodable frames → None.
    */
  def videoSignature64(
      frames: Iterator[Array[Byte]],
      decoder: MediaDecoder
  ): Option[Long] = {
    val votes = new Array[Int](64)
    var nFrames = 0
    frames.foreach { f =>
      val (w, h, _, lumas) = decoder.decodeImage(f)
      PHash.phash64(w, h, lumas).foreach { hash =>
        var b = 0
        while (b < 64) {
          if (((hash >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
        nFrames += 1
      }
    }
    if (nFrames == 0) None
    else {
      var bits = 0L
      var b = 0
      while (b < 64) { if (votes(b) > 0) bits |= (1L << b); b += 1 }
      Some(bits)
    }
  }

  /** `(media_id, vsig)` majority-pHash signatures of every video row. */
  def videoSignatures(
      media: Dataset[MediaRow],
      decoder: MediaDecoder = StubDecoder()
  ): DataFrame = {
    import media.sparkSession.implicits._
    media.filter(_.meta.mediaType == "video").mapPartitions { rows =>
      rows.map(r =>
        (r.media_id, videoSignature64(decoder.videoFrames(r.payload), decoder)))
    }.toDF("media_id", "vsig")
  }

  /** Video near-duplicate pairs: majority-pHash signature + Hamming
    * banding. Decode dominates and is embarrassingly parallel; the
    * exchange carries 16 bytes per video regardless of duration.
    */
  def videoNearDuplicatePairs(
      media: Dataset[MediaRow],
      decoder: MediaDecoder = StubDecoder(),
      maxHamming: Int = 10,
      maxBucketSize: Int = 1000
  ): DataFrame =
    Dedup.hammingNearDuplicatePairs(
      cachedFingerprints(videoSignatures(media, decoder)),
      "media_id", "vsig", maxHamming, maxBucketSize)

  /** Image near-duplicate pairs: perceptual hash + the generic 64-bit
    * Hamming engine ([[Dedup.hammingNearDuplicatePairs]] — the SimHash
    * pair infrastructure, reused verbatim). Output
    * `(id_a, id_b, hamming)` with id_a < id_b. Identical payloads hash
    * identically (hamming 0 — candidate generation cannot miss them, the
    * planted-duplicate gate's guarantee); re-encoded/resized copies land
    * within a few bits (measured, not guaranteed — RECALL.json's `phash`
    * section).
    *
    * Scale shape: decode is the dominant cost and is embarrassingly
    * parallel; after it, each image is 16 bytes on the one candidate
    * exchange. At this band (h=10) the engine dispatches to MULTI-INDEX
    * Hamming search ([[Dedup.multiIndexHammingPairs]]): 4 anchor rows +
    * 548 ball-probe rows per image, a fixed per-item budget whose
    * 4 × 2¹⁶ key space holds at any corpus size — the old 1-of-(h+1)
    * banding had 352 corpus-wide buckets at h=10 and silently dropped
    * everything past ~350k images (all buckets over the skew cap).
    */
  def imageNearDuplicatePairs(
      media: Dataset[MediaRow],
      decoder: MediaDecoder = StubDecoder(),
      maxHamming: Int = 10,
      maxBucketSize: Int = 1000
  ): DataFrame =
    Dedup.hammingNearDuplicatePairs(
      cachedFingerprints(imagePHashes(media, decoder)),
      "media_id", "phash", maxHamming, maxBucketSize)

  /** Near-dup REMOVAL for media, the text-side
    * [[Dedup.dropNearDuplicates]] policy verbatim: every row appearing as
    * the HIGHER id of a verified pair is dropped (keep first, drop later
    * copies — greedy, one pass). One broadcast anti-join against the
    * (small) pair table's id_b column; the media payloads never shuffle.
    * Not [[Dedup.dropPairedIds]]: media pair tables are small, so their id
    * set is forced to broadcast; a text corpus's drop set (~10% of ids) is
    * left to AQE.
    */
  private def dropByPairs(media: Dataset[MediaRow], pairs: DataFrame): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    val drops = org.apache.spark.sql.functions.broadcast(
      pairs.select(col("id_b").as("__drop_id")).distinct())
    media.toDF()
      .join(drops, col("media_id") === col("__drop_id"), "left_anti")
      .as[MediaRow]
  }

  /** Drop later copies of near-duplicate images ([[imageNearDuplicatePairs]]). */
  def dropNearDuplicateImages(
      media: Dataset[MediaRow],
      decoder: MediaDecoder = StubDecoder(),
      maxHamming: Int = 10,
      maxBucketSize: Int = 1000
  ): Dataset[MediaRow] =
    dropByPairs(media, imageNearDuplicatePairs(media, decoder, maxHamming, maxBucketSize))

  /** Drop later copies of near-duplicate audio ([[audioNearDuplicatePairs]]). */
  def dropNearDuplicateAudio(
      media: Dataset[MediaRow],
      decoder: MediaDecoder = StubDecoder(),
      maxHamming: Int = 8,
      maxBucketSize: Int = 1000
  ): Dataset[MediaRow] =
    dropByPairs(media, audioNearDuplicatePairs(media, decoder, maxHamming, maxBucketSize))

  /** Drop later copies of near-duplicate videos ([[videoNearDuplicatePairs]]). */
  def dropNearDuplicateVideos(
      media: Dataset[MediaRow],
      decoder: MediaDecoder = StubDecoder(),
      maxHamming: Int = 10,
      maxBucketSize: Int = 1000
  ): Dataset[MediaRow] =
    dropByPairs(media, videoNearDuplicatePairs(media, decoder, maxHamming, maxBucketSize))
}
