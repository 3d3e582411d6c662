package graft.operators

import graft.SparkSpec

/** The image pipeline is REAL (PNG bytes through the JDK codec), so the
  * spec checks three independent things: the PNG round-trip is lossless
  * pixel-for-pixel, decode behaves identically regardless of partitioning
  * (mapPartitions only batches a per-row pure transform), and the resample
  * grid matches a driver-side nearest-neighbor replay. */
class MultimodalSpec extends SparkSpec {

  test("PNG round-trip is lossless: decoded pixels equal the formula") {
    val id = 42L
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(Multimodal.encodePng(id)))
    assert(img.getWidth == Multimodal.imgWidth(id))
    assert(img.getHeight == Multimodal.imgHeight(id))
    for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) {
      val rgb = img.getRGB(x, y)
      assert(((rgb >> 16) & 0xff) == Multimodal.pixelR(id, x, y))
      assert(((rgb >> 8) & 0xff) == Multimodal.pixelG(id, x, y))
      assert((rgb & 0xff) == Multimodal.pixelB(id, x, y))
    }
  }

  test("image decode is partitioning-invariant and matches a driver-side replay") {
    val s = spark
    val media = Multimodal.imageMedia(s, sfDir)
    val f2 = Multimodal.decodeImages(media, partitions = 2)
      .collect().map(f => f.media_id -> f).toMap
    val f7 = Multimodal.decodeImages(media, partitions = 7)
      .collect().map(f => f.media_id -> f).toMap
    assert(f2 == f7 && f2.nonEmpty)

    f2.foreach { case (id, st) =>
      val w = Multimodal.imgWidth(id); val h = Multimodal.imgHeight(id)
      assert(st.width == w && st.height == h)
      val grid = for (y <- 0 until h; x <- 0 until w) yield (x, y)
      assert(st.sum_r == grid.map { case (x, y) => Multimodal.pixelR(id, x, y).toLong }.sum)
      assert(st.sum_g == grid.map { case (x, y) => Multimodal.pixelG(id, x, y).toLong }.sum)
      assert(st.sum_b == grid.map { case (x, y) => Multimodal.pixelB(id, x, y).toLong }.sum)
    }
  }

  test("nearest-neighbor resize matches the integer source-index replay") {
    val s = spark
    val resized = Multimodal.resizeImages(Multimodal.imageMedia(s, sfDir), factor = 2)
      .collect().map(f => f.media_id -> f).toMap
    assert(resized.nonEmpty)
    resized.foreach { case (id, st) =>
      val w = Multimodal.imgWidth(id); val h = Multimodal.imgHeight(id)
      val ow = w / 2; val oh = h / 2
      assert(st.width == ow && st.height == oh)
      val grid = for (oy <- 0 until oh; ox <- 0 until ow)
        yield (ox * w / ow, oy * h / oh)
      assert(st.sum_r == grid.map { case (x, y) => Multimodal.pixelR(id, x, y).toLong }.sum)
      assert(st.sum_g == grid.map { case (x, y) => Multimodal.pixelG(id, x, y).toLong }.sum)
      assert(st.sum_b == grid.map { case (x, y) => Multimodal.pixelB(id, x, y).toLong }.sum)
    }
  }

  test("WAV round-trip is lossless: decoded samples equal the formula") {
    val id = 42L
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(Multimodal.encodeWav(id)))
    val fmt = ais.getFormat
    assert(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1)
    val bytes = ais.readAllBytes()
    assert(bytes.length == Multimodal.audioSamples(id) * 2)
    for (i <- 0 until Multimodal.audioSamples(id)) {
      val v =
        if (fmt.isBigEndian) ((bytes(2 * i) << 8) | (bytes(2 * i + 1) & 0xff)).toShort.toInt
        else ((bytes(2 * i + 1) << 8) | (bytes(2 * i) & 0xff)).toShort.toInt
      assert(v == Multimodal.pcmSample(id, i), s"sample $i")
    }
  }

  test("audio decode is partitioning-invariant and matches a driver-side replay") {
    val s = spark
    val media = Multimodal.audioMedia(s, sfDir)
    val f2 = Multimodal.decodeAudio(media, partitions = 2)
      .collect().map(f => f.media_id -> f).toMap
    val f7 = Multimodal.decodeAudio(media, partitions = 7)
      .collect().map(f => f.media_id -> f).toMap
    assert(f2 == f7 && f2.nonEmpty)

    f2.foreach { case (id, st) =>
      val samples = (0 until Multimodal.audioSamples(id))
        .map(i => Multimodal.pcmSample(id, i).toLong)
      assert(st.n_samples == samples.length.toLong)
      assert(st.sum_pcm == samples.sum)
      assert(st.sum_abs == samples.map(math.abs).sum)
      assert(st.peak == samples.map(math.abs).max)
    }
  }

  test("GVID video round-trip: demuxed + decoded sampled frames equal the formula") {
    val s = spark
    val media = Multimodal.videoMedia(s, sfDir)
    val f3 = Multimodal.decodeVideos(media, stride = 2, partitions = 3)
      .collect().map(v => v.media_id -> v).toMap
    val f8 = Multimodal.decodeVideos(media, stride = 2, partitions = 8)
      .collect().map(v => v.media_id -> v).toMap
    assert(f3 == f8 && f3.nonEmpty)

    f3.foreach { case (id, st) =>
      val n = Multimodal.videoFrames(id)
      val sampledIdx = (0 until n).filter(_ % 2 == 0)
      assert(st.n_frames == n.toLong)
      assert(st.n_sampled == sampledIdx.length.toLong)
      val (w, h) = (Multimodal.imgWidth(id), Multimodal.imgHeight(id))
      def sum(px: (Long, Int, Int, Int) => Int): Long =
        sampledIdx.map { f =>
          (0 until h).map { y =>
            (0 until w).map(x => px(id, f, x, y).toLong).sum
          }.sum
        }.sum
      assert(st.sum_r == sum(Multimodal.framePixelR))
      assert(st.sum_g == sum(Multimodal.framePixelG))
      assert(st.sum_b == sum(Multimodal.framePixelB))
    }
  }

  test("GVID demux rejects a corrupt container") {
    val bad = "NOPE".getBytes("US-ASCII") ++ Array[Byte](0, 0, 0, 1)
    val ex = intercept[Exception] {
      Multimodal.decodeVideos(
        {
          val s = spark; import s.implicits._
          Seq(Multimodal.VideoItem(1L, bad)).toDS()
        }, stride = 2, partitions = 1).collect()
    }
    // pin that the GVID magic check specifically fired (Spark wraps the
    // task failure, so walk the cause chain for the operator's message)
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null).flatMap(t => Option(t.getMessage)).toSeq
    assert(msgs.exists(_.contains("not a GVID container")),
      s"expected the GVID magic-check failure, got: $msgs")
  }

  test("GVID demux rejects a corrupt frame length before allocating") {
    // valid magic + frame count, then a length prefix far beyond the
    // remaining bytes: must fail with the bad-frame-length diagnostic,
    // not NegativeArraySizeException / readFully EOF
    val bos = new java.io.ByteArrayOutputStream()
    val dos = new java.io.DataOutputStream(bos)
    dos.writeBytes("GVID"); dos.writeInt(1); dos.writeInt(Int.MaxValue)
    dos.flush()
    val ex = intercept[Exception] {
      Multimodal.decodeVideos(
        {
          val s = spark; import s.implicits._
          Seq(Multimodal.VideoItem(2L, bos.toByteArray)).toDS()
        }, stride = 2, partitions = 1).collect()
    }
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null).flatMap(t => Option(t.getMessage)).toSeq
    assert(msgs.exists(_.contains("bad frame length")),
      s"expected the frame-length guard failure, got: $msgs")
  }

  test("media schema: binary content with typed metadata columns") {
    val s = spark
    val schema = Multimodal.mediaFromDocuments(s, sfDir).schema
    assert(schema("content").dataType.typeName == "binary")
    assert(schema("n_bytes").dataType.typeName == "long")
    assert(schema("mime").dataType.typeName == "string")
  }

  test("hint-first audio reader order is used only over the JDK's own readers") {
    import scala.jdk.CollectionConverters._
    import javax.sound.sampled.{AudioFileFormat, AudioInputStream}
    val jdk = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileReader]).asScala.toSeq
    assert(jdk.nonEmpty && Multimodal.hintOrderSafe(jdk),
      s"this JVM's registered readers: ${jdk.map(_.getClass.getName)}")
    // a third-party provider may recognize the same bytes as a JDK reader
    val foreign = new javax.sound.sampled.spi.AudioFileReader {
      private def no = throw new javax.sound.sampled.UnsupportedAudioFileException()
      def getAudioFileFormat(s: java.io.InputStream): AudioFileFormat = no
      def getAudioFileFormat(u: java.net.URL): AudioFileFormat = no
      def getAudioFileFormat(f: java.io.File): AudioFileFormat = no
      def getAudioInputStream(s: java.io.InputStream): AudioInputStream = no
      def getAudioInputStream(u: java.net.URL): AudioInputStream = no
      def getAudioInputStream(f: java.io.File): AudioInputStream = no
    }
    assert(!Multimodal.hintOrderSafe(jdk :+ foreign))
    assert(!Multimodal.hintOrderSafe(Seq(foreign)))
  }
}
