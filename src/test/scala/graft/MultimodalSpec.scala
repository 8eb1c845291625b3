package graft

import org.apache.spark.sql.functions._

import graft.operators.Multimodal

/** Multimodal binary-column plumbing specs (codec itself is a deterministic
  * stub — see Multimodal.FakeCodec).
  */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val media = Multimodal.attachPayload(
    Seq((1L, "hello world"), (2L, ""), (3L, "hello world")).toDF("id", "text"),
    "id", "text")

  test("attachPayload produces binary payload + typed metadata") {
    val r = media.filter(col("media_id") === 1L).head()
    assert(r.getAs[Array[Byte]]("payload").sameElements("hello world".getBytes("UTF-8")))
    assert(r.getAs[org.apache.spark.sql.Row]("meta").getAs[Long]("n_bytes") == 11L)
  }

  test("decodeFeatures is deterministic and partition-independent") {
    val a = Multimodal.decodeFeatures(spark, media).collect().sortBy(_.media_id)
    val b = Multimodal.decodeFeatures(spark, media.repartition(7)).collect().sortBy(_.media_id)
    assert(a.map(_.width).sameElements(b.map(_.width)))
    assert(a(0).width == a(2).width && a(0).height == a(2).height) // same payload → same fake dims
    assert(a.forall(_.features.length == 8))
  }

  test("resizePayloads fits maxEdge, preserves aspect ratio, never upscales") {
    val decoded = Multimodal.decodeFeatures(spark, media).collect()
      .map(f => f.media_id -> f).toMap
    val resized = Multimodal.resizePayloads(spark, media, maxEdge = 256).collect()
      .map(r => r.getAs[Long]("media_id") ->
        ((r.getAs[Int]("width"), r.getAs[Int]("height"), r.getAs[Array[Byte]]("payload")))).toMap
    resized.foreach { case (id, (w, h, payload)) =>
      val orig = decoded(id)
      if (math.max(orig.width, orig.height) == 0) assert(w == 0 && h == 0)
      else {
        assert(math.max(w, h) <= 256, s"media $id resized to ${w}x$h")
        // aspect preserved within rounding
        val origRatio = orig.width.toDouble / orig.height
        val newRatio = w.toDouble / h
        assert(math.abs(origRatio - newRatio) / origRatio < 0.05,
          s"media $id ratio drift: $origRatio -> $newRatio")
        // no upscale: payload at most the original size
        assert(payload.length <= orig.n_bytes)
      }
    }
    assert(resized.nonEmpty)
  }

  test("a custom MediaCodec is a drop-in through the trait (decode + features + resample)") {
    // minimal "real codec" stand-in: fixed 100x40 dims, constant features,
    // resample halves the payload — distinct from FakeCodec on every method,
    // so the assertions prove the operators call the INJECTED codec
    object TinyCodec extends Multimodal.MediaCodec {
      override def decodeDims(p: Array[Byte]): (Int, Int, Int) =
        if (p == null || p.isEmpty) (0, 0, 0) else (100, 40, 3)
      override def features(p: Array[Byte], dim: Int): Array[Float] =
        Array.fill(dim)(if (p == null) 0f else 0.5f)
      override def resample(p: Array[Byte], scale: Double): Array[Byte] =
        if (p == null || p.isEmpty || scale >= 1.0) p else p.take(math.max(1, p.length / 2))
    }
    val decoded = Multimodal.decodeFeatures(spark, media, featureDim = 4, codec = TinyCodec)
      .collect().map(f => f.media_id -> f).toMap
    assert(decoded(1L).width == 100 && decoded(1L).height == 40 && decoded(1L).channels == 3)
    assert(decoded(2L).width == 0) // empty payload → undecodable
    assert(decoded(1L).features.toSeq == Seq(0.5f, 0.5f, 0.5f, 0.5f))
    val resized = Multimodal.resizePayloads(spark, media, maxEdge = 50, codec = TinyCodec)
      .collect().map(r => r.getAs[Long]("media_id") ->
        ((r.getAs[Int]("width"), r.getAs[Int]("height"), r.getAs[Array[Byte]]("payload")))).toMap
    // 100x40 bounded by maxEdge 50 → 50x20, payload halved by TinyCodec
    assert(resized(1L)._1 == 50 && resized(1L)._2 == 20)
    assert(resized(1L)._3.length == "hello world".getBytes("UTF-8").length / 2)
  }

  // --- real javax.imageio codec over genuinely-encoded PNG/BMP bytes ---

  /** Encode a real w×h image with a deterministic gradient fill. */
  private def encodeImage(w: Int, h: Int, format: String): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, ((x * 255 / w) << 16) | ((y * 255 / h) << 8) | 0x40)
    val out = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, format, out))
    out.toByteArray
  }

  private lazy val realMedia = {
    val rows = Seq(
      (10L, "image", encodeImage(64, 48, "png")),
      (11L, "image", encodeImage(120, 30, "bmp")),
      (12L, "image", "not an image at all".getBytes("UTF-8")))
    rows.toDF("media_id", "modality", "payload")
      .withColumn("meta", struct(
        lit("image/mixed").as("mime"), length(col("payload")).cast("long").as("n_bytes")))
  }

  test("ImageIoCodec decodes real PNG/BMP headers and rejects garbage") {
    assert(Multimodal.ImageIoCodec.decodeDims(encodeImage(64, 48, "png")) == ((64, 48, 3)))
    assert(Multimodal.ImageIoCodec.decodeDims(encodeImage(120, 30, "bmp")) == ((120, 30, 3)))
    assert(Multimodal.ImageIoCodec.decodeDims("garbage".getBytes) == ((0, 0, 0)))
    assert(Multimodal.ImageIoCodec.decodeDims(null) == ((0, 0, 0)))
  }

  test("decodeFeatures with ImageIoCodec extracts real dims and luminance bands") {
    val decoded = Multimodal.decodeFeatures(spark, realMedia, featureDim = 4,
        codec = Multimodal.ImageIoCodec)
      .collect().map(f => f.media_id -> f).toMap
    assert(decoded(10L).width == 64 && decoded(10L).height == 48 && decoded(10L).channels == 3)
    assert(decoded(11L).width == 120 && decoded(11L).height == 30)
    assert(decoded(12L).width == 0 && decoded(12L).height == 0) // garbage degrades, task survives
    // the gradient brightens top→bottom (green ramps with y), so the
    // per-band luminance means must be strictly increasing — a real decode,
    // not a hash of the bytes
    val bands = decoded(10L).features.toSeq
    assert(bands.length == 4 && bands.zip(bands.tail).forall { case (a, b) => a < b }, s"bands: $bands")
    assert(bands.forall(b => b >= 0f && b <= 1f))
  }

  test("resizePayloads with ImageIoCodec re-encodes a genuinely smaller image") {
    val resized = Multimodal.resizePayloads(spark, realMedia, maxEdge = 32,
        codec = Multimodal.ImageIoCodec)
      .collect().map(r => r.getAs[Long]("media_id") ->
        ((r.getAs[Int]("width"), r.getAs[Int]("height"), r.getAs[Array[Byte]]("payload")))).toMap
    // 64x48 → 32x24; 120x30 → 32x8; garbage passes through untouched
    assert(resized(10L)._1 == 32 && resized(10L)._2 == 24)
    assert(resized(11L)._1 == 32 && resized(11L)._2 == 8)
    assert(resized(12L)._3.sameElements("not an image at all".getBytes("UTF-8")))
    // the resized payload is ITSELF a decodable image at the planned dims
    assert(Multimodal.ImageIoCodec.decodeDims(resized(10L)._3) == ((32, 24, 3)))
    assert(Multimodal.ImageIoCodec.decodeDims(resized(11L)._3) == ((32, 8, 3)))
    // and it never upscales: asking for a bigger edge keeps the original
    val kept = Multimodal.resizePayloads(spark, realMedia, maxEdge = 4096,
        codec = Multimodal.ImageIoCodec)
      .collect().map(r => r.getAs[Long]("media_id") -> r.getAs[Array[Byte]]("payload")).toMap
    assert(Multimodal.ImageIoCodec.decodeDims(kept(10L)) == ((64, 48, 3)))
  }

  test("syntheticPngs round-trips through ImageIoCodec to the closed-form dims and luma") {
    // The fixture generator behind q_multimodal_real_decode: every decoded
    // property must equal its closed-form formula, including the truncated
    // corrupt payload (id % 50 == 0) degrading to zeros.
    val ids = Seq(0L, 1L, 37L, 50L, 255L, 256L, 499L).toDF("doc_id")
    val decoded = Multimodal.decodeFeatures(
        spark, Multimodal.syntheticPngs(spark, ids, "doc_id"),
        featureDim = 1, codec = Multimodal.ImageIoCodec)
      .collect().map(f => f.media_id -> f).toMap
    for (id <- Seq(1L, 37L, 255L, 256L, 499L)) {
      val f = decoded(id)
      assert(f.width == (id % 30 + 1).toInt && f.height == (id % 17 + 1).toInt,
        s"id $id dims (${f.width},${f.height})")
      assert(f.channels == 3)
      assert(f.features.head == ((id % 256) / 255.0).toFloat, s"id $id luma ${f.features.head}")
    }
    for (id <- Seq(0L, 50L)) { // truncated: PNG magic, no IHDR
      val f = decoded(id)
      assert(f.width == 0 && f.height == 0 && f.channels == 0 && f.features.head == 0f,
        s"corrupt id $id must degrade to zeros, got $f")
      assert(f.n_bytes == 10L)
    }
  }

  test("syntheticWavs round-trips through WavCodec to the closed-form frames/rate/rms") {
    val ids = Seq(0L, 1L, 50L, 137L, 512L, 1023L, 1024L).toDF("doc_id")
    val decoded = Multimodal.decodeFeatures(
        spark, Multimodal.syntheticWavs(spark, ids, "doc_id"),
        featureDim = 1, codec = Multimodal.WavCodec)
      .collect().map(f => f.media_id -> f).toMap
    for (id <- Seq(1L, 137L, 512L, 1023L, 1024L)) {
      val f = decoded(id)
      assert(f.width == (id % 400 + 50).toInt, s"id $id frames ${f.width}")
      assert(f.height == 8000 && f.channels == 1)
      val v = math.abs((id % 1024 - 512) * 32)
      assert(f.features.head == (v / 32768.0).toFloat, s"id $id rms ${f.features.head}")
    }
    for (id <- Seq(0L, 50L)) { // truncated RIFF: no fmt chunk
      val f = decoded(id)
      assert(f.width == 0 && f.height == 0 && f.channels == 0 && f.features.head == 0f,
        s"corrupt id $id must degrade to zeros, got $f")
    }
  }

  test("WavCodec resample decimates frames and re-emits a decodable WAV") {
    val wav = Multimodal.syntheticWavs(spark, Seq(137L).toDF("doc_id"), "doc_id")
      .select("payload").collect().head.getAs[Array[Byte]](0)
    val n = (137 % 400 + 50) // 187 frames
    assert(Multimodal.WavCodec.decodeDims(wav) == ((n, 8000, 1)))
    val half = Multimodal.WavCodec.resample(wav, 0.5)
    val (frames2, rate2, ch2) = Multimodal.WavCodec.decodeDims(half)
    assert(rate2 == 8000 && ch2 == 1)
    assert(frames2 == (n + 1) / 2, s"expected every 2nd frame kept, got $frames2 of $n")
    // constant signal: RMS survives decimation exactly
    assert(Multimodal.WavCodec.features(half, 1).head ==
      Multimodal.WavCodec.features(wav, 1).head)
    // garbage passes through untouched
    val junk = "not audio".getBytes("UTF-8")
    assert(Multimodal.WavCodec.resample(junk, 0.5).sameElements(junk))
  }

  test("sampleFrames emits stride-spaced frame numbers") {
    val frames = Multimodal.sampleFrames(media.filter(col("media_id") === 1L), stride = 1)
      .select("frame_no").as[Int].collect().sorted.toSeq
    assert(frames == frames.indices.toSeq)
  }

  test("aHash recovers the planted grid mask through the real PNG decode") {
    import graft.operators.Sampling
    val ids = (1L to 60L).toDF("doc_id")
    val hashes = Multimodal.imageAHash64(
      spark, Multimodal.syntheticGridPngs(spark, ids, "doc_id"))
      .as[(Long, Long)].collect().toMap
    // corrupt id (50) dropped, every other id's decoded hash == its mask
    assert(!hashes.contains(50L) && hashes.size == 59)
    (1L to 60L).filter(_ % 50 != 0).foreach { id =>
      val mask = Sampling.hash60Jvm((id / 4).toString, "ahash") ^ (id % 4)
      assert(hashes(id) == mask, s"id=$id decode lost the mask")
    }
  }

  test("audio RMS fingerprint recovers the planted band mask; pairs equal brute force") {
    import graft.operators.Sampling
    val n = 120L
    val media = Multimodal.syntheticBandWavs(spark, (1L to n).toDF("doc_id"), "doc_id")
    val hashes = Multimodal.audioFingerprint64(spark, media)
      .as[(Long, Long)].collect().toMap
    assert(!hashes.contains(50L) && !hashes.contains(100L) && hashes.size == 118)
    val masks = (1L to n).filter(_ % 50 != 0)
      .map(id => id -> (Sampling.hash60Jvm((id / 4).toString, "afp") ^ (id % 4))).toMap
    masks.foreach { case (id, mask) =>
      assert(hashes(id) == mask, s"id=$id PCM decode lost the band mask")
    }
    val got = Multimodal.audioNearDupPairs(spark, media, maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSet
    val want = (for {
      a <- masks.keys; b <- masks.keys if a < b
      h = java.lang.Long.bitCount(masks(a) ^ masks(b)) if h <= 3
    } yield (a, b, h)).toSet
    assert(got == want)
  }

  test("imageNearDupPairs equals brute force over the planted families") {
    import graft.operators.Sampling
    val n = 200L
    val got = Multimodal.imageNearDupPairs(
      spark, Multimodal.syntheticGridPngs(spark, (1L to n).toDF("doc_id"), "doc_id"),
      maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSet
    val masks = (1L to n).filter(_ % 50 != 0)
      .map(id => id -> (Sampling.hash60Jvm((id / 4).toString, "ahash") ^ (id % 4))).toMap
    val want = (for {
      a <- masks.keys; b <- masks.keys if a < b
      h = java.lang.Long.bitCount(masks(a) ^ masks(b)) if h <= 3
    } yield (a, b, h)).toSet
    assert(got == want, s"got ${got.size} pairs, want ${want.size}")
    // the planted families actually exercise the path
    assert(want.nonEmpty && want.exists(_._3 > 0))
  }

  test("MjpegVideoCodec decodes a REAL video stream: dims, frame count, band luma, strided resample") {
    import Multimodal.MjpegVideoCodec
    // build a real 6-frame MJPEG: constant-gray JPEG frames, two luma
    // halves (3 dark then 3 bright) so the time bands are distinguishable
    def jpegFrame(w: Int, h: Int, gray: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g2 = img.createGraphics()
      try { g2.setColor(new java.awt.Color(gray, gray, gray)); g2.fillRect(0, 0, w, h) }
      finally g2.dispose()
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", out)
      out.toByteArray
    }
    val frames = (Seq.fill(3)(40) ++ Seq.fill(3)(200)).map(jpegFrame(16, 12, _))
    val stream = frames.reduce(_ ++ _)
    // the segment walk must find exactly the 6 planted frames
    assert(MjpegVideoCodec.frameSpans(stream).size == 6)
    // REAL decode executed: dims from the first frame header, count from the walk
    assert(MjpegVideoCodec.decodeDims(stream) == ((16, 12, 6)))
    // band features through the real pixel decode: 2 bands = dark then
    // bright half (JPEG is lossy — constant blocks land within ~2/255)
    val f = MjpegVideoCodec.features(stream, 2)
    assert(math.abs(f(0) - 40.0 / 255) < 0.02 && math.abs(f(1) - 200.0 / 255) < 0.02,
      s"band luma off: ${f.toSeq}")
    // strided resample: scale 0.5 keeps every 2nd frame at half dims, and
    // the output is itself a decodable MJPEG stream
    val half = MjpegVideoCodec.resample(stream, 0.5)
    assert(MjpegVideoCodec.decodeDims(half) == ((8, 6, 3)), "resample dims/stride")
    // degenerate scales pass through on every codec: without the guard,
    // scale=0 would stride at max(1, round(1/0.0).toInt) = 1 and re-encode
    // every frame at 1×1 instead of rejecting the request
    assert(MjpegVideoCodec.resample(stream, 0.0) eq stream)
    assert(MjpegVideoCodec.resample(stream, -0.5) eq stream)
    val p = "not a real video".getBytes("UTF-8")
    assert(Multimodal.FakeCodec.resample(p, 0.0) eq p)
    assert(Multimodal.ImageIoCodec.resample(p, -1.0) eq p)
    assert(Multimodal.WavCodec.resample(p, 0.0) eq p)
    // corrupt-media contract: garbage and truncated streams degrade
    assert(MjpegVideoCodec.decodeDims("not a video".getBytes("UTF-8")) == ((0, 0, 0)))
    assert(MjpegVideoCodec.decodeDims(stream.take(10)) == ((0, 0, 0)),
      "SOI fragment has no complete frame")
    assert(MjpegVideoCodec.features(stream.take(10), 3).forall(_ == 0f))
    // a truncated TAIL frame is dropped, the complete prefix still decodes
    assert(MjpegVideoCodec.decodeDims(stream.dropRight(20)) == ((16, 12, 5)))
    // one corrupted mid-stream frame: the walk resyncs, survivors decode
    val corrupted = frames.take(2).reduce(_ ++ _) ++
      frames(2).take(frames(2).length / 2) ++ frames.drop(3).reduce(_ ++ _)
    val dims = MjpegVideoCodec.decodeDims(corrupted)
    assert(dims._1 == 16 && dims._2 == 12 && dims._3 >= 5,
      s"resync must keep the intact frames: $dims")
  }

  test("syntheticMjpegs round-trips through MjpegVideoCodec to the closed-form dims and count") {
    val docs = Seq(7L, 50L, 101L, 202L).toDF("doc_id")
    val got = Multimodal.decodeFeatures(
        spark, Multimodal.syntheticMjpegs(spark, docs, "doc_id"),
        featureDim = 1, codec = Multimodal.MjpegVideoCodec)
      .collect()
      .map(m => m.media_id -> ((m.width, m.height, m.channels))).toMap
    def expect(id: Long) =
      if (id % 50 == 0) (0, 0, 0)
      else ((id % 28 + 8).toInt, (id % 20 + 8).toInt, (id % 4 + 1).toInt)
    for (id <- Seq(7L, 50L, 101L, 202L))
      assert(got(id) == expect(id), s"id=$id: ${got(id)} != ${expect(id)}")
  }

  test("MjpegVideoCodec band/luma math matches the WavCodec banding semantics") {
    import Multimodal.MjpegVideoCodec.{bandOf, meanLuma}
    // frames 0..n-1 over k bands: monotone, first band starts at 0, last ends at k-1
    val n = 1000L
    val bands = (0L until n).map(bandOf(_, n, 8))
    assert(bands.head == 0 && bands.last == 7 && bands == bands.sorted)
    assert(bands.distinct.size == 8) // every band occupied on a divisible count
    // fewer frames than bands: one frame per band, no out-of-range index
    assert((0L until 3L).map(bandOf(_, 3L, 8)).forall(b => b >= 0 && b < 8))
    // unknown count degrades with n=1: everything lands in the LAST band
    assert(bandOf(5L, 1L, 8) == 7)
    // Int-wrap regression: 40M frames × 64 bands overflows Int arithmetic
    assert(bandOf(39999999L, 40000000L, 64) == 63)
    // constant-gray raster: mean luma == gray/255 exactly (BT.601 sums to 1)
    val img = new java.awt.image.BufferedImage(4, 3, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g2 = img.createGraphics()
    try { g2.setColor(new java.awt.Color(100, 100, 100)); g2.fillRect(0, 0, 4, 3) }
    finally g2.dispose()
    assert(math.abs(meanLuma(img) - 100.0 / 255.0) < 1e-9)
  }
}
