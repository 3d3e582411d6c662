package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: opaque `binary` content + typed metadata,
  * with decode / feature-extraction as batched per-partition transforms.
  *
  * Pattern (what a 100 TB media pipeline needs from the engine):
  *  - media payloads are opaque BinaryType columns scanned from parquet —
  *    never parsed by Catalyst, never part of a shuffle key; metadata
  *    travels in narrow typed columns next to them;
  *  - decoding runs via `mapPartitions` so a real codec/model is
  *    initialized ONCE per partition (per executor task), then streams
  *    through the partition's rows — the Scala analog of batched
  *    `mapInPandas`;
  *  - partitioning is controlled upstream (`repartition(n)`) so decode
  *    parallelism is independent of file layout.
  *
  * The image path is REAL: payloads are genuine PNG files (encoded with
  * the JDK's `javax.imageio` — no external dependency), decode is a real
  * `ImageIO.read` to pixels, and resize is a real nearest-neighbor pixel
  * resample of the decoded image. What keeps it oracle-checkable is the
  * fixture construction: pixel (x,y) of image `id` is a pure arithmetic
  * function of (id, x, y), and PNG is lossless, so the DuckDB oracle can
  * replay the expected pixel statistics from the formula alone while the
  * Spark side round-trips through the actual codec — a decode or resample
  * bug changes the sums and fails the hash compare.
  */
object Multimodal {

  // ImageIO defaults to a DISK-backed stream cache: every ImageIO.write /
  // ImageIO.read over a memory stream creates (and deletes) a temp file,
  // so a 30k-frame encode pass is 30k file creations serializing on the
  // filesystem — measured to cap q_multimodal_video at ~4.5 s regardless
  // of task parallelism. All payloads here are small in-memory byte
  // arrays; the memory cache is strictly better. JVM-global, set once
  // when this object first loads (driver == executor in local mode; on a
  // cluster each executor JVM touches the object before its first codec
  // call, same as any other static codec init).
  javax.imageio.ImageIO.setUseCache(false)

  /** Scale-adaptive codec parallelism: the testdata tables are single
    * row-group parquet files, so a bare scan yields ONE working partition
    * and the encode stage of every codec path ran single-threaded on a
    * 32-core host (r17 bench: q_multimodal_video 4.48 s, ~3 s of it one
    * core encoding PNGs while 31 idled). Spreading the 8-byte ids across
    * `defaultParallelism` BEFORE encoding shuffles only the narrow id
    * column — the heavy payload bytes are then born already distributed
    * and never cross an exchange at all (guide §8: move the proxy, not
    * the payload). Derived from the cluster, not a constant, so the
    * driver's lower-core bench legs and a real cluster both scale. */
  private def codecParallelism(spark: SparkSession): Int =
    spark.sparkContext.defaultParallelism

  /** Typed media row: opaque bytes + structured metadata. */
  case class MediaItem(media_id: Long, kind: String, content: Array[Byte],
                       mime: String, n_bytes: Long)

  /** Synthesize a media table from the documents corpus: text bytes stand in
    * for an opaque payload (the plumbing neither knows nor cares). */
  def mediaFromDocuments(spark: SparkSession, dir: String): Dataset[MediaItem] = {
    import spark.implicits._
    graft.sources.Tables.documents(spark, dir)
      .select(
        col("doc_id").as("media_id"),
        when(col("lang") === "zh", lit("audio")).otherwise(lit("image")).as("kind"),
        col("text").cast("binary").as("content"),
        concat(lit("application/x-fake-"), col("lang")).as("mime"),
        octet_length(col("text").cast("binary")).cast("long").as("n_bytes"))
      .as[MediaItem]
  }

  // ---------------------------------------------------------------------
  // Real image path: PNG payloads, ImageIO decode, nearest-neighbor resize
  // ---------------------------------------------------------------------

  /** An image payload: genuine PNG bytes. Dimensions are NOT carried —
    * decode discovers them from the file, like a real pipeline would. */
  case class ImageItem(media_id: Long, content: Array[Byte])

  /** Per-channel pixel sums of a decoded image — compact, exact
    * (sums of 8-bit values are integers), and formula-replayable. */
  case class ImageStats(media_id: Long, width: Int, height: Int,
                        sum_r: Long, sum_g: Long, sum_b: Long)

  /** Deterministic fixture geometry/pixels: pure arithmetic in (id, x, y)
    * so the DuckDB oracle can replay expected statistics without a codec.
    * Kept to +, *, % on BIGINTs — every term is SQL-expressible. */
  def imgWidth(id: Long): Int = (8 + id % 9).toInt
  def imgHeight(id: Long): Int = (8 + (id * 7) % 9).toInt
  def pixelR(id: Long, x: Int, y: Int): Int = ((id * 31 + x * 7 + y * 13) % 256).toInt
  def pixelG(id: Long, x: Int, y: Int): Int = ((id * 17 + x * 5 + y * 11) % 256).toInt
  def pixelB(id: Long, x: Int, y: Int): Int = ((id * 13 + x * 3 + y * 19) % 256).toInt

  /** Encode image `id` as a real PNG via the JDK's ImageIO. Lossless RGB:
    * decoding it returns exactly the formula pixels. */
  def encodePng(id: Long): Array[Byte] = {
    val w = imgWidth(id); val h = imgHeight(id)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y,
          (pixelR(id, x, y) << 16) | (pixelG(id, x, y) << 8) | pixelB(id, x, y))
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    val ok = javax.imageio.ImageIO.write(img, "png", out)
    require(ok, "no PNG writer available in this JVM")
    out.toByteArray
  }

  /** The image corpus: one PNG per document id. Encoding runs batched in
    * mapPartitions (the writer plugin lookup and any codec state amortize
    * per partition); only the opaque bytes travel in the frame. */
  def imageMedia(spark: SparkSession, dir: String): Dataset[ImageItem] = {
    import spark.implicits._
    graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id")).as[Long]
      .repartition(codecParallelism(spark))
      .mapPartitions { ids =>
        // (a heavier codec would initialize HERE, once per partition)
        ids.map(id => ImageItem(id, encodePng(id)))
      }
  }

  /** REAL decode stage: `ImageIO.read` each PNG payload to pixels, emit
    * per-channel sums. Batched per partition with controlled parallelism
    * (`repartition(n)`; `partitions <= 0` inherits the upstream layout —
    * the declared faces pre-spread the narrow ids before encoding, so
    * payload bytes then never cross an exchange at all). */
  def decodeImages(media: Dataset[ImageItem], partitions: Int): Dataset[ImageStats] = {
    import media.sparkSession.implicits._
    val in = if (partitions > 0) media.repartition(partitions) else media
    in.mapPartitions { items =>
      items.map { m =>
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(m.content))
        require(img != null, s"media ${m.media_id}: not a decodable image")
        channelSums(m.media_id, img)
      }
    }
  }

  /** REAL resize stage: decode, nearest-neighbor resample to
    * (w/factor, h/factor), then stats over the RESAMPLED image. The
    * source index map sx = floor(ox*w/ow) is integer arithmetic, so the
    * oracle replays it with `//`. */
  def resizeImages(media: Dataset[ImageItem], factor: Int): Dataset[ImageStats] = {
    import media.sparkSession.implicits._
    media.mapPartitions { items =>
      items.map { m =>
        val src = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(m.content))
        require(src != null, s"media ${m.media_id}: not a decodable image")
        val ow = math.max(1, src.getWidth / factor)
        val oh = math.max(1, src.getHeight / factor)
        val dst = new java.awt.image.BufferedImage(
          ow, oh, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var oy = 0
        while (oy < oh) {
          val sy = (oy.toLong * src.getHeight / oh).toInt
          var ox = 0
          while (ox < ow) {
            val sx = (ox.toLong * src.getWidth / ow).toInt
            dst.setRGB(ox, oy, src.getRGB(sx, sy))
            ox += 1
          }
          oy += 1
        }
        channelSums(m.media_id, dst)
      }
    }
  }

  private def channelSums(id: Long, img: java.awt.image.BufferedImage): ImageStats = {
    var sr = 0L; var sg = 0L; var sb = 0L
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val rgb = img.getRGB(x, y)
        sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
        x += 1
      }
      y += 1
    }
    ImageStats(id, img.getWidth, img.getHeight, sr, sg, sb)
  }

  /** A sampled "video" frame: byte slice + its position metadata. */
  case class MediaFrame(media_id: Long, frame_idx: Long, frame_bytes: Long)

  val FrameSize = 16

  /** Frame sampling for video-like payloads: treat the opaque payload as a
    * sequence of FrameSize-byte frames and keep every `stride`-th one —
    * the deterministic stand-in for "decode container, keep 1 fps". Runs
    * in the same batched mapPartitions shape as the decoder (a real
    * demuxer initializes once per partition); the payload is sliced
    * per-row, never shuffled — only the narrow (id, idx, len) rows leave
    * the stage. */
  def sampleFrames(media: Dataset[MediaItem], stride: Int): Dataset[MediaFrame] = {
    import media.sparkSession.implicits._
    media.mapPartitions { items =>
      // (real pipeline: val demuxer = Demuxer.init() — once per partition)
      items.flatMap { m =>
        val frames = m.content.grouped(FrameSize).zipWithIndex
        frames.collect {
          case (bytes, idx) if idx % stride == 0 =>
            MediaFrame(m.media_id, idx.toLong, bytes.length.toLong)
        }
      }
    }
  }

  /** Declared face of the decode stage: encode the PNG corpus, decode it
    * back through ImageIO, emit per-image channel sums. Encode is already
    * spread over `codecParallelism` partitions (ids-only shuffle), so the
    * decode inherits that layout — no payload exchange. */
  def decodeStats(spark: SparkSession, dir: String): DataFrame =
    decodeImages(imageMedia(spark, dir), partitions = 0).toDF()

  /** Declared face of the resize stage: real 2x nearest-neighbor
    * downsample of each decoded PNG, stats over the resampled pixels. */
  def resizeStats(spark: SparkSession, dir: String, factor: Int = 2): DataFrame =
    resizeImages(imageMedia(spark, dir), factor).toDF()

  /** Per-item stats of the sampled frames — the declared, oracle-checkable
    * face of sampleFrames (the oracle recomputes the same counts from
    * n_bytes arithmetic, so a slicing bug shows up as a value mismatch).
    * Items with an EMPTY payload have no frames and therefore no row —
    * the oracle filters `n_bytes > 0` to match. */
  def frameStats(spark: SparkSession, dir: String, stride: Int = 4): DataFrame =
    sampleFrames(mediaFromDocuments(spark, dir), stride)
      .groupBy("media_id")
      .agg(count(lit(1)).as("n_sampled"),
           sum(col("frame_bytes")).as("sampled_bytes"),
           max(col("frame_idx")).as("last_frame_idx"))

  /** Oracle-checkable byte-level metadata over the media table. */
  def byteStats(spark: SparkSession, dir: String): DataFrame =
    mediaFromDocuments(spark, dir)
      .groupBy("kind")
      .agg(count(lit(1)).as("n_items"),
           sum(col("n_bytes")).as("total_bytes"),
           max(col("n_bytes")).as("max_bytes"))

  // ---------------------------------------------------------------------
  // Real audio path: WAV payloads, javax.sound.sampled decode
  // ---------------------------------------------------------------------

  /** An audio payload: genuine WAV bytes (RIFF container, 16-bit PCM). */
  case class AudioItem(media_id: Long, content: Array[Byte])

  /** Integer-exact per-clip sample statistics — formula-replayable, like
    * [[ImageStats]] for the image path. */
  case class AudioStats(media_id: Long, n_samples: Long, sum_pcm: Long,
                        sum_abs: Long, peak: Long)

  /** Deterministic fixture audio: sample i of clip `id` is pure BIGINT
    * arithmetic, signed 16-bit range, so the DuckDB oracle replays every
    * statistic without a decoder. */
  def audioSamples(id: Long): Int = (400 + id % 201).toInt
  def pcmSample(id: Long, i: Int): Int = ((id * 31 + i * 7) % 65536L - 32768L).toInt

  /** The WAV container SPI providers, resolved ONCE per JVM. Every
    * `AudioSystem.write` / `getAudioInputStream` call goes through the
    * JDK's provider registry (`JDK13Services`), whose lookup is a
    * synchronized static — per-clip calls from 32 concurrent codec tasks
    * serialize on that lock (measured: parallelizing the encode stage
    * made q_multimodal_audio SLOWER, 0.85 s -> 1.6 s, pure contention).
    * Resolving the reader/writer through the public
    * `javax.sound.sampled.spi` ServiceLoader once and calling the
    * provider directly is the documented SPI path with identical decode
    * semantics — the container is still parsed, formats still discovered
    * from the stream. */
  private lazy val wavWriter: javax.sound.sampled.spi.AudioFileWriter = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileWriter]).asScala
      .find(_.isFileTypeSupported(javax.sound.sampled.AudioFileFormat.Type.WAVE))
      .getOrElse(throw new IllegalStateException("no WAVE writer SPI in this JVM"))
  }
  private lazy val audioReaders: Seq[javax.sound.sampled.spi.AudioFileReader] = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileReader]).asScala.toSeq
  }

  /** Index of the last provider that recognized a container — tried
    * FIRST on the next call (round 20): the JDK's provider order puts
    * the AIFF/AU readers before WAVE, so a WAV-only corpus paid 1-2
    * `UnsupportedAudioFileException` constructions (stack-trace capture
    * and all) PER CLIP in the recognition loop. The hint changes no
    * result only while every provider is one of the JDK's container
    * readers: they recognize disjoint magic bytes (RIFF vs FORM vs
    * .snd), so at most one accepts a given stream and "first to
    * recognize" is independent of trial order. A third-party provider
    * may overlap them, so with one present the hint is not used
    * ([[hintOrderSafe]]). */
  @volatile private var audioReaderHint = 0

  /** True when hint-first trial order cannot change which provider
    * decodes a stream: every provider is a JDK `com.sun.media.sound`
    * reader. */
  private[operators] def hintOrderSafe(
      readers: Seq[javax.sound.sampled.spi.AudioFileReader]): Boolean =
    readers.forall(_.getClass.getName.startsWith("com.sun.media.sound."))

  private lazy val useReaderHint = hintOrderSafe(audioReaders)

  /** `AudioSystem.getAudioInputStream` semantics — first provider that
    * recognizes the container wins — over the pre-resolved provider list
    * (no registry lock): hint-first (see [[audioReaderHint]]) when
    * [[hintOrderSafe]], registry order otherwise. */
  private def openAudio(bytes: Array[Byte]): javax.sound.sampled.AudioInputStream = {
    val rs = audioReaders
    val hint = if (useReaderHint) audioReaderHint else 0
    var i = -1 // -1 = the hinted attempt, then 0..n-1 skipping the hint
    while (i < rs.length) {
      val idx = if (i < 0) hint else i
      if (i < 0 || idx != hint) {
        val r = rs(idx)
        try {
          val ais = r.getAudioInputStream(new java.io.ByteArrayInputStream(bytes))
          if (useReaderHint) audioReaderHint = idx
          return ais
        } catch { case _: javax.sound.sampled.UnsupportedAudioFileException => () }
      }
      i += 1
    }
    throw new javax.sound.sampled.UnsupportedAudioFileException(
      "Stream of unsupported format")
  }

  /** The fixture clips' one PCM format, hoisted (immutable, thread-safe). */
  private val WavPcmFormat =
    new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)

  /** Per-TASK reusable encode buffers (guide §4.5 applied to the JVM
    * codec path): the PCM staging array (clips are ≤ 600 samples by
    * [[audioSamples]]) and the container output stream, allocated once
    * per partition and reset per clip — the WAV payload itself is the
    * only per-clip allocation left on the encode side. */
  private final class WavScratch {
    val pcm = new Array[Byte](2 * 601)
    val out = new java.io.ByteArrayOutputStream(64 + 2 * 601)
  }

  private def encodeWav(id: Long, scratch: WavScratch): Array[Byte] = {
    val n = audioSamples(id)
    val pcm = scratch.pcm
    var i = 0
    while (i < n) {
      val s = pcmSample(id, i)
      pcm(2 * i) = (s & 0xff).toByte // little-endian per the declared format
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm, 0, n * 2), WavPcmFormat, n.toLong)
    scratch.out.reset()
    wavWriter.write(ais, javax.sound.sampled.AudioFileFormat.Type.WAVE,
      scratch.out)
    scratch.out.toByteArray
  }

  /** Encode clip `id` as a real WAV via the JDK's javax.sound.sampled
    * (headless-safe: container I/O only, no audio device). PCM is
    * lossless: decoding returns exactly the formula samples. */
  def encodeWav(id: Long): Array[Byte] = encodeWav(id, new WavScratch)

  /** The audio corpus: one WAV per document id, encoded batched in
    * mapPartitions like [[imageMedia]] with per-partition scratch. */
  def audioMedia(spark: SparkSession, dir: String): Dataset[AudioItem] = {
    import spark.implicits._
    graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id")).as[Long]
      .repartition(codecParallelism(spark))
      .mapPartitions { ids =>
        val scratch = new WavScratch
        ids.map(id => AudioItem(id, encodeWav(id, scratch)))
      }
  }

  /** REAL decode stage: parse each WAV through AudioSystem (format —
    * width, channels, endianness — is DISCOVERED from the container, not
    * assumed), then integer sample stats. Batched per partition with
    * controlled parallelism, same shape as [[decodeImages]]. */
  def decodeAudio(media: Dataset[AudioItem], partitions: Int): Dataset[AudioStats] = {
    import media.sparkSession.implicits._
    val in = if (partitions > 0) media.repartition(partitions) else media
    in.mapPartitions { items =>
      // per-TASK reusable PCM read buffer (guide §4.5): grown on demand,
      // never reallocated per clip — readAllBytes() was one fresh array
      // plus internal copies per clip
      var buf = new Array[Byte](4096)
      items.map { m =>
        val ais = openAudio(m.content)
        val fmt = ais.getFormat
        require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 &&
          fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
          s"media ${m.media_id}: unsupported audio format $fmt")
        var len = 0
        var r = ais.read(buf, len, buf.length - len)
        while (r >= 0) {
          len += r
          if (len == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
          r = ais.read(buf, len, buf.length - len)
        }
        val be = fmt.isBigEndian
        var i = 0; var n = 0L; var sum = 0L; var sabs = 0L; var peak = 0L
        while (i + 1 < len) {
          val v =
            if (be) ((buf(i) << 8) | (buf(i + 1) & 0xff)).toShort.toInt
            else ((buf(i + 1) << 8) | (buf(i) & 0xff)).toShort.toInt
          n += 1; sum += v
          val a = math.abs(v.toLong); sabs += a; if (a > peak) peak = a
          i += 2
        }
        AudioStats(m.media_id, n, sum, sabs, peak)
      }
    }
  }

  /** Declared face of the audio stage: encode the WAV corpus, decode it
    * back through javax.sound.sampled, emit integer sample stats. */
  def audioStats(spark: SparkSession, dir: String): DataFrame =
    decodeAudio(audioMedia(spark, dir), partitions = 0).toDF()

  // ---------------------------------------------------------------------
  // Real video path: length-prefixed PNG-frame container, demux + decode
  // ---------------------------------------------------------------------

  /** A video payload: a real container of genuine PNG frames —
    * "GVID" magic, big-endian frame count, then each frame as a 4-byte
    * length prefix + the PNG bytes (the MJPEG idea with PNG frames, so
    * every stage stays JDK-only and lossless). */
  case class VideoItem(media_id: Long, content: Array[Byte])

  /** Stats over the SAMPLED frames of one video — exact integer channel
    * sums, formula-replayable like [[ImageStats]]. */
  case class VideoStats(media_id: Long, n_frames: Long, n_sampled: Long,
                        sum_r: Long, sum_g: Long, sum_b: Long)

  /** Frame count and per-frame pixel formulas: pure BIGINT arithmetic in
    * (id, frame, x, y), same device as the image/audio fixtures. All
    * frames of a video share the image path's (w, h) geometry. */
  def videoFrames(id: Long): Int = (4 + id % 5).toInt
  def framePixelR(id: Long, f: Int, x: Int, y: Int): Int =
    ((id * 31 + f * 23 + x * 7 + y * 13) % 256).toInt
  def framePixelG(id: Long, f: Int, x: Int, y: Int): Int =
    ((id * 17 + f * 29 + x * 5 + y * 11) % 256).toInt
  def framePixelB(id: Long, f: Int, x: Int, y: Int): Int =
    ((id * 13 + f * 37 + x * 3 + y * 19) % 256).toInt

  /** Encode video `id`: every frame a real PNG (ImageIO), wrapped in the
    * length-prefixed GVID container. */
  def encodeVideo(id: Long): Array[Byte] = {
    val w = imgWidth(id); val h = imgHeight(id)
    val out = new java.io.ByteArrayOutputStream()
    val dos = new java.io.DataOutputStream(out)
    dos.writeBytes("GVID")
    val n = videoFrames(id)
    dos.writeInt(n)
    var f = 0
    while (f < n) {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          img.setRGB(x, y, (framePixelR(id, f, x, y) << 16) |
            (framePixelG(id, f, x, y) << 8) | framePixelB(id, f, x, y))
          x += 1
        }
        y += 1
      }
      val frame = new java.io.ByteArrayOutputStream()
      require(javax.imageio.ImageIO.write(img, "png", frame),
        "no PNG writer available in this JVM")
      dos.writeInt(frame.size())
      frame.writeTo(dos)
      f += 1
    }
    dos.flush()
    out.toByteArray
  }

  /** The video corpus: one GVID container per document id, encoded
    * batched in mapPartitions like [[imageMedia]]. */
  def videoMedia(spark: SparkSession, dir: String): Dataset[VideoItem] = {
    import spark.implicits._
    graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id")).as[Long]
      .repartition(codecParallelism(spark))
      .mapPartitions(ids => ids.map(id => VideoItem(id, encodeVideo(id))))
  }

  /** REAL demux + decode stage: parse the container (magic checked, frame
    * count and lengths read from the stream — never assumed from the
    * formula), keep every `stride`-th frame, `ImageIO.read` ONLY the kept
    * frames (skipped frames cost one length read + a skip — the "decode
    * 1 fps of a 30 fps stream" economics), sum channels over the decoded
    * pixels. Batched per partition with controlled parallelism, same
    * shape as [[decodeImages]]. */
  def decodeVideos(media: Dataset[VideoItem], stride: Int,
                   partitions: Int): Dataset[VideoStats] = {
    import media.sparkSession.implicits._
    val in = if (partitions > 0) media.repartition(partitions) else media
    in.mapPartitions { items =>
      items.map { m =>
        val in = new java.io.DataInputStream(
          new java.io.ByteArrayInputStream(m.content))
        val magic = new Array[Byte](4)
        in.readFully(magic)
        require(new String(magic, "US-ASCII") == "GVID",
          s"media ${m.media_id}: not a GVID container")
        val n = in.readInt()
        var f = 0; var sampled = 0L; var sr = 0L; var sg = 0L; var sb = 0L
        while (f < n) {
          val len = in.readInt()
          // validate BEFORE allocating: a corrupt length prefix must fail
          // with the same clear diagnostic as the skip path, not a
          // NegativeArraySizeException or an OOM-sized allocation
          require(len >= 0 && len <= in.available(),
            s"media ${m.media_id}: bad frame length $len at frame $f " +
              s"(${in.available()} bytes remain)")
          if (f % stride == 0) {
            val buf = new Array[Byte](len)
            in.readFully(buf)
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(buf))
            require(img != null, s"media ${m.media_id}: frame $f not decodable")
            val st = channelSums(m.media_id, img)
            sr += st.sum_r; sg += st.sum_g; sb += st.sum_b
            sampled += 1
          } else {
            // skip() returns 0 (not -1) once a ByteArrayInputStream is
            // exhausted — a truncated container must FAIL, not spin
            var toSkip = len.toLong
            while (toSkip > 0) {
              val skipped = in.skip(toSkip)
              require(skipped > 0,
                s"media ${m.media_id}: truncated container at frame $f")
              toSkip -= skipped
            }
          }
          f += 1
        }
        VideoStats(m.media_id, n.toLong, sampled, sr, sg, sb)
      }
    }
  }

  /** Declared face of the video stage: encode the GVID corpus, demux it,
    * decode every `stride`-th frame through ImageIO, emit channel sums
    * over the sampled frames. */
  def videoStats(spark: SparkSession, dir: String, stride: Int = 2): DataFrame =
    decodeVideos(videoMedia(spark, dir), stride, partitions = 0).toDF()
}
