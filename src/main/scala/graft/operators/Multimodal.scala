package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video payloads ride through the
  * pipeline as opaque `binary` columns with a typed metadata struct, and
  * per-batch decode / feature-extraction runs as partition-local functions
  * over the binary batches.
  *
  * The Spark side — schema, partition-preserving batch iteration, output
  * shapes — is real and tested. The actual codec calls go through the
  * pluggable [[Multimodal.MediaCodec]] trait. [[ImageIoCodec]] is a REAL
  * image implementation on pure-JDK `javax.imageio` (PNG/JPEG/BMP/GIF/TIFF
  * header reads, pixel decode, bilinear resample, re-encode); [[WavCodec]]
  * is the REAL audio counterpart on `javax.sound.sampled`;
  * [[MjpegVideoCodec]] is the REAL video codec for Motion-JPEG streams on
  * the same JDK image reader; [[FakeCodec]] remains the
  * deterministic stub behind the externally-oracle-checked demo
  * queries. All are drop-in `codec = ...` arguments with no operator
  * changes. Decode cost
  * dominates at 100 TB, so the batch functions deliberately run
  * per-partition (amortized setup, no per-row interpreter crossings) and
  * keep the payload column pruned away as soon as features are extracted.
  */
object Multimodal {

  /** Typed multimodal record: payload + metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false),
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("mime", StringType, nullable = true),
      StructField("n_bytes", LongType, nullable = true))), nullable = true)))

  /** Wrap a text column as a fake binary payload (UTF-8 bytes) — used by
    * tests and the demo queries to exercise the binary plumbing on the
    * `documents` table without real media files.
    */
  def attachPayload(df: DataFrame, idCol: String, textCol: String, modality: String = "image"): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      lit(modality).as("modality"),
      encode(col(textCol), "UTF-8").as("payload"),
      struct(
        lit("application/octet-stream").as("mime"),
        length(encode(col(textCol), "UTF-8")).cast("long").as("n_bytes")).as("meta"))

  /** Pluggable codec interface: the three partition-local media operations
    * the pipeline needs. Implementations MUST be `Serializable` (instances
    * ride inside task closures) and SHOULD defer any native-library /
    * JNI initialization to first use inside the task (lazy vals), so the
    * driver never loads codec natives — the standard shape for a
    * javacv/ffmpeg-backed production implementation. [[FakeCodec]] is the
    * deterministic test/default implementation.
    */
  trait MediaCodec extends Serializable {
    /** Decode (width, height, channels) from an encoded payload; (0,0,0)
      * for null/empty/undecodable input.
      */
    def decodeDims(payload: Array[Byte]): (Int, Int, Int)

    /** Extract a fixed-dimension feature vector from the payload. */
    def features(payload: Array[Byte], dim: Int): Array[Float]

    /** Re-encode the payload scaled by `scale` (<= 1.0; never upscales). */
    def resample(payload: Array[Byte], scale: Double): Array[Byte]
  }

  /** STUB CODEC — deterministic fake standing in for a real decoder.
    * Every value is a pure function of the payload bytes, so tests are
    * stable; none of it is a real image decode.
    */
  object FakeCodec extends MediaCodec {
    /** Fake "decode": derive (width, height, channels) from the payload's
      * sha256. The hash → dims formula is closed-form SQL in any engine
      * with sha256 (h = first 8 hex chars as an unsigned int), so the
      * decode output is externally oracle-checkable:
      * `h % 1920 + 1, (h // 1920) % 1080 + 1, 3`.
      */
    override def decodeDims(payload: Array[Byte]): (Int, Int, Int) = {
      if (payload == null || payload.isEmpty) (0, 0, 0)
      else {
        val d = java.security.MessageDigest.getInstance("SHA-256").digest(payload)
        val h = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
          ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
        ((h % 1920 + 1).toInt, ((h / 1920) % 1080 + 1).toInt, 3)
      }
    }
    /** Fake per-frame feature vector (what a real extractor would emit). */
    override def features(payload: Array[Byte], dim: Int): Array[Float] = {
      if (payload == null) Array.fill(dim)(0f)
      else (0 until dim).map(i => ((payload.length * (i + 1)) % 251).toFloat / 251f).toArray
    }
    /** Fake resample: area-proportional byte truncation standing in for a
      * real scaler (deterministic; a real impl re-encodes at the new dims).
      */
    override def resample(payload: Array[Byte], scale: Double): Array[Byte] =
      if (payload == null || payload.isEmpty || scale >= 1.0 || scale <= 0.0) payload
      else payload.take(math.max(1, (payload.length * scale * scale).toInt))
  }

  /** REAL image codec on `javax.imageio` — pure JDK, no native libraries,
    * works headless and offline, so it runs in any executor container.
    * Handles the formats the JDK ships readers for (PNG, JPEG, BMP, GIF,
    * WBMP, TIFF on JDK 11+). Undecodable/unknown payloads degrade to the
    * trait's documented (0,0,0)/zeros/pass-through contract rather than
    * failing the task — at 100 TB some fraction of scraped media is always
    * corrupt, and one bad payload must not kill a partition.
    *
    * This is the production default for real media; [[FakeCodec]] remains
    * the deterministic stub behind the externally-oracle-checked demo
    * queries (its outputs are closed-form SQL; real pixel decoding is not).
    */
  object ImageIoCodec extends MediaCodec {
    import java.io.ByteArrayInputStream
    import javax.imageio.ImageIO
    import java.awt.image.BufferedImage

    // No ImageIO disk scratch files inside executor tasks.
    ImageIO.setUseCache(false)

    /** Header-only dims read: asks the format reader for width/height
      * WITHOUT decoding pixel data — the cheap path a metadata-profiling
      * scan over billions of images needs. Channels come from the reader's
      * declared image type (falls back to a full decode only if the header
      * leaves it ambiguous — never for the JDK's standard readers).
      */
    override def decodeDims(payload: Array[Byte]): (Int, Int, Int) = {
      if (payload == null || payload.isEmpty) return (0, 0, 0)
      val iis = try ImageIO.createImageInputStream(new ByteArrayInputStream(payload))
        catch { case _: Throwable => null }
      if (iis == null) return (0, 0, 0)
      try {
        val readers = ImageIO.getImageReaders(iis)
        if (!readers.hasNext) return (0, 0, 0)
        val reader = readers.next()
        try {
          reader.setInput(iis, true, true)
          val (w, h) = (reader.getWidth(0), reader.getHeight(0))
          val types = reader.getImageTypes(0)
          val channels =
            if (types != null && types.hasNext) types.next().getColorModel.getNumComponents
            else 3
          (w, h, channels)
        } finally reader.dispose()
      } catch { case _: Throwable => (0, 0, 0) }
      finally iis.close()
    }

    private def decode(payload: Array[Byte]): BufferedImage =
      if (payload == null || payload.isEmpty) null
      else try ImageIO.read(new ByteArrayInputStream(payload))
        catch { case _: Throwable => null }

    /** Detected format name (png/jpeg/bmp/...), for re-encoding in kind. */
    private def formatName(payload: Array[Byte]): String = {
      val iis = try ImageIO.createImageInputStream(new ByteArrayInputStream(payload))
        catch { case _: Throwable => null }
      if (iis == null) return "png"
      try {
        val readers = ImageIO.getImageReaders(iis)
        if (readers.hasNext) readers.next().getFormatName.toLowerCase else "png"
      } catch { case _: Throwable => "png" }
      finally iis.close()
    }

    /** Real features: per-strip mean luminance in [0,1] over `dim` equal
      * horizontal bands — a deterministic, decode-backed signal (the shape
      * a real embedding extractor plugs into; same output contract).
      */
    override def features(payload: Array[Byte], dim: Int): Array[Float] = {
      val img = decode(payload)
      if (img == null) return Array.fill(dim)(0f)
      val (w, h) = (img.getWidth, img.getHeight)
      val sums = new Array[Double](dim)
      val counts = new Array[Long](dim)
      var y = 0
      while (y < h) {
        val band = math.min(dim - 1, y * dim / h)
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          // ITU-R BT.601 luma from the sRGB bytes
          val lum = 0.299 * ((rgb >> 16) & 0xFF) + 0.587 * ((rgb >> 8) & 0xFF) +
            0.114 * (rgb & 0xFF)
          sums(band) += lum / 255.0
          counts(band) += 1
          x += 1
        }
        y += 1
      }
      (0 until dim).map(i => if (counts(i) == 0) 0f else (sums(i) / counts(i)).toFloat).toArray
    }

    /** Real resample: bilinear scale to (round(w·s), round(h·s)) and
      * re-encode in the source format (PNG fallback; JPEG re-encodes from
      * an alpha-free raster — the JDK JPEG writer rejects ARGB).
      */
    override def resample(payload: Array[Byte], scale: Double): Array[Byte] = {
      if (payload == null || payload.isEmpty || scale >= 1.0 || scale <= 0.0) return payload
      val img = decode(payload)
      if (img == null) return payload
      val w = math.max(1, math.round(img.getWidth * scale).toInt)
      val h = math.max(1, math.round(img.getHeight * scale).toInt)
      val fmt = formatName(payload)
      val hasAlpha = img.getColorModel.hasAlpha && fmt != "jpeg" && fmt != "jpg"
      val target = new BufferedImage(
        w, h, if (hasAlpha) BufferedImage.TYPE_INT_ARGB else BufferedImage.TYPE_INT_RGB)
      val g = target.createGraphics()
      try {
        g.setRenderingHint(
          java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, w, h, null)
      } finally g.dispose()
      // A writer-plugin failure mid-encode must pass the payload through,
      // not fail the task — same degradation contract as decode(): at scale
      // some fraction of scraped media is pathological, and one bad payload
      // must not kill the partition.
      try {
        val out = new java.io.ByteArrayOutputStream()
        if (ImageIO.write(target, fmt, out) && out.size() > 0) out.toByteArray
        else {
          out.reset()
          // the fallback can ALSO decline (returns false) — then the
          // original payload passes through, never an empty byte array
          if (ImageIO.write(target, "png", out) && out.size() > 0) out.toByteArray
          else payload
        }
      } catch { case scala.util.control.NonFatal(_) => payload }
    }

    /** 64-bit average-hash (aHash) over the REAL decode: BT.601 luma
      * downsampled to an 8×8 block-mean grid, each cell thresholded
      * against the mean of (non-empty) cell means; bit k = cell
      * (k div 8, k mod 8), LSB-first. `None` for undecodable payloads —
      * a sentinel hash (0) would weld every corrupt image into one giant
      * false duplicate cluster downstream.
      */
    def aHash64(payload: Array[Byte]): Option[Long] = {
      val img = decode(payload)
      if (img == null) return None
      val g = 8
      val (w, h) = (img.getWidth, img.getHeight)
      if (w == 0 || h == 0) return None
      val sums = new Array[Double](g * g)
      val counts = new Array[Long](g * g)
      var y = 0
      while (y < h) {
        val r = math.min(g - 1, y * g / h)
        var x = 0
        while (x < w) {
          val c = math.min(g - 1, x * g / w)
          val rgb = img.getRGB(x, y)
          sums(r * g + c) += 0.299 * ((rgb >> 16) & 0xFF) +
            0.587 * ((rgb >> 8) & 0xFF) + 0.114 * (rgb & 0xFF)
          counts(r * g + c) += 1
          x += 1
        }
        y += 1
      }
      val means = (0 until g * g).map(k => if (counts(k) == 0) 0.0 else sums(k) / counts(k))
      val occupied = (0 until g * g).filter(counts(_) > 0)
      val global = means.sum / math.max(1, occupied.size)
      var bits = 0L
      var k = 0
      while (k < g * g) {
        if (counts(k) > 0 && means(k) > global) bits |= 1L << k
        k += 1
      }
      Some(bits)
    }
  }

  /** REAL audio codec on `javax.sound.sampled` — pure JDK, headless,
    * offline. The [[MediaCodec]] dims triple is re-read for audio as
    * **(frames, sampleRate, channels)**: `decodeDims` parses the container
    * header via `AudioSystem` without decoding samples (the cheap
    * metadata-profiling path), `features` returns per-band RMS energy in
    * [0,1] over `dim` equal time bands (16-bit PCM; the shape a real
    * embedding extractor plugs into), and `resample` decimates frames by
    * `scale` and re-emits a valid WAV. Undecodable/truncated payloads
    * degrade to (0,0,0)/zeros/pass-through — the same corrupt-media
    * contract as [[ImageIoCodec]].
    */
  object WavCodec extends MediaCodec {
    import java.io.ByteArrayInputStream
    import javax.sound.sampled.{AudioFormat, AudioInputStream, AudioSystem}

    /** Fast-path RIFF/WAVE chunk parse for plain integer-PCM payloads:
      * `(audioFormat, channels, sampleRate, bitsPerSample, dataOff,
      * dataLen)`, or null when the container isn't a well-formed PCM WAV
      * (then the `AudioSystem` fallback takes over). Exists because
      * `AudioSystem.getAudioInputStream` goes through the synchronized
      * provider registry on EVERY call — measured as the dominant,
      * contention-superlinear cost when 32 executor threads decode tens of
      * thousands of small payloads (the exact per-row decode shape of a
      * media corpus scan).
      */
    private def wavHeader(p: Array[Byte]): Array[Int] = {
      def u16(o: Int) = (p(o) & 0xFF) | ((p(o + 1) & 0xFF) << 8)
      def u32(o: Int) = (p(o) & 0xFF) | ((p(o + 1) & 0xFF) << 8) |
        ((p(o + 2) & 0xFF) << 16) | ((p(o + 3) & 0xFF) << 24)
      def tag(o: Int, s: String) = p.length >= o + 4 &&
        p(o) == s(0).toByte && p(o + 1) == s(1).toByte &&
        p(o + 2) == s(2).toByte && p(o + 3) == s(3).toByte
      if (p.length < 44 || !tag(0, "RIFF") || !tag(8, "WAVE")) return null
      var off = 12
      var fmt: Array[Int] = null
      var data: Array[Int] = null
      while (off + 8 <= p.length && (fmt == null || data == null)) {
        val size = u32(off + 4)
        if (size < 0 || off + 8 + size > p.length) return null
        if (tag(off, "fmt ") && size >= 16)
          fmt = Array(u16(off + 8), u16(off + 10), u32(off + 12), u16(off + 22))
        else if (tag(off, "data")) data = Array(off + 8, size)
        off += 8 + size + (size & 1) // chunks are word-aligned
      }
      if (fmt == null || data == null || fmt(0) != 1 || fmt(1) < 1) null
      else Array(fmt(0), fmt(1), fmt(2), fmt(3), data(0), data(1))
    }

    override def decodeDims(payload: Array[Byte]): (Int, Int, Int) = {
      if (payload == null || payload.isEmpty) return (0, 0, 0)
      val h = wavHeader(payload)
      if (h != null) {
        val frameBytes = h(1) * (h(3) / 8)
        if (frameBytes <= 0) return (0, 0, 0)
        return (h(5) / frameBytes, h(2), h(1))
      }
      try {
        val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(payload))
        try {
          val f = ais.getFormat
          (ais.getFrameLength.toInt, f.getSampleRate.toInt, f.getChannels)
        } finally ais.close()
      } catch { case scala.util.control.NonFatal(_) => (0, 0, 0) }
    }

    /** 16-bit little-endian signed PCM samples, channel-averaged per frame;
      * null for anything not decodable to that encoding. Plain PCM WAVs
      * read directly from the payload (no stream, no registry); other
      * containers go through `AudioSystem`.
      */
    private def pcmFrames(payload: Array[Byte]): Array[Double] = {
      if (payload == null || payload.isEmpty) return null
      val h = wavHeader(payload)
      val (bytes, ch, off, len) =
        if (h != null) {
          if (h(3) != 16) return null
          (payload, h(1), h(4), h(5))
        } else {
          try {
            val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(payload))
            try {
              val f = ais.getFormat
              if (f.getSampleSizeInBits != 16 || f.isBigEndian ||
                f.getEncoding != AudioFormat.Encoding.PCM_SIGNED) return null
              val b = ais.readAllBytes()
              (b, f.getChannels, 0, b.length)
            } finally ais.close()
          } catch { case scala.util.control.NonFatal(_) => return null }
        }
      val n = len / (2 * ch)
      val out = new Array[Double](n)
      var i = 0
      while (i < n) {
        var sum = 0.0
        var c = 0
        while (c < ch) {
          val o = off + (i * ch + c) * 2
          sum += ((bytes(o) & 0xFF) | (bytes(o + 1).toInt << 8)).toShort.toDouble
          c += 1
        }
        out(i) = sum / ch
        i += 1
      }
      out
    }

    /** Per-band RMS amplitude in [0,1] over `dim` equal time bands. */
    override def features(payload: Array[Byte], dim: Int): Array[Float] = {
      val frames = pcmFrames(payload)
      if (frames == null || frames.isEmpty) return Array.fill(dim)(0f)
      val sums = new Array[Double](dim)
      val counts = new Array[Long](dim)
      var i = 0
      while (i < frames.length) {
        // long arithmetic: i*dim wraps Int beyond ~2^31/dim frames
        val band = math.min(dim - 1, (i.toLong * dim / frames.length).toInt)
        val v = frames(i) / 32768.0
        sums(band) += v * v
        counts(band) += 1
        i += 1
      }
      (0 until dim).map(b =>
        if (counts(b) == 0) 0f else math.sqrt(sums(b) / counts(b)).toFloat).toArray
    }

    /** 64-bit RMS-band fingerprint over the REAL PCM decode: per-band RMS
      * amplitude across 64 equal time bands, each thresholded against the
      * mean of (occupied) band RMS values; bit b = band b, LSB-first — the
      * audio counterpart of [[ImageIoCodec.aHash64]], robust to the edits a
      * re-encode survives (level-preserving transcode, small trims).
      * `None` for undecodable payloads, for the same no-welding reason.
      */
    def rmsFingerprint64(payload: Array[Byte]): Option[Long] = {
      val frames = pcmFrames(payload)
      if (frames == null || frames.isEmpty) return None
      val g = 64
      val sums = new Array[Double](g)
      val counts = new Array[Long](g)
      var i = 0
      while (i < frames.length) {
        // long arithmetic: i*g wraps Int beyond ~33M frames (a 70-minute
        // 8 kHz clip), which would index negative and kill the partition
        val b = math.min(g - 1, (i.toLong * g / frames.length).toInt)
        val v = frames(i) / 32768.0
        sums(b) += v * v
        counts(b) += 1
        i += 1
      }
      val rms = (0 until g).map(b =>
        if (counts(b) == 0) 0.0 else math.sqrt(sums(b) / counts(b)))
      val occupied = (0 until g).count(counts(_) > 0)
      val mean = rms.sum / math.max(1, occupied)
      var bits = 0L
      var b = 0
      while (b < g) {
        if (counts(b) > 0 && rms(b) > mean) bits |= 1L << b
        b += 1
      }
      Some(bits)
    }

    /** Frame decimation: keep every ⌈1/scale⌉-th frame at the same sample
      * rate (duration scales by ~`scale`), re-emitted as a valid WAV.
      * Non-PCM-16 or undecodable payloads pass through unchanged.
      */
    override def resample(payload: Array[Byte], scale: Double): Array[Byte] = {
      if (payload == null || payload.isEmpty || scale >= 1.0 || scale <= 0.0) return payload
      try {
        val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(payload))
        try {
          val f = ais.getFormat
          if (f.getSampleSizeInBits != 16 || f.isBigEndian ||
            f.getEncoding != AudioFormat.Encoding.PCM_SIGNED) return payload
          val bytes = ais.readAllBytes()
          val frameBytes = 2 * f.getChannels
          val n = bytes.length / frameBytes
          val stride = math.max(1, math.round(1.0 / scale).toInt)
          val kept = new java.io.ByteArrayOutputStream()
          var i = 0
          while (i < n) { kept.write(bytes, i * frameBytes, frameBytes); i += stride }
          val keptBytes = kept.toByteArray
          val out = new java.io.ByteArrayOutputStream()
          AudioSystem.write(
            new AudioInputStream(
              new ByteArrayInputStream(keptBytes), f, keptBytes.length / frameBytes),
            javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
          out.toByteArray
        } finally ais.close()
      } catch { case scala.util.control.NonFatal(_) => payload }
    }
  }

  /** Deterministic REAL-PNG payload generator for the [[ImageIoCodec]]
    * oracle query: each id paints a constant-gray w×h image (w = id%30+1,
    * h = id%17+1, gray level v = id%256) and encodes it as an actual PNG
    * via `javax.imageio` — so decoding it back exercises the real header
    * parse and pixel decode, and every decoded property is a CLOSED-FORM
    * function of the id that an external SQL oracle can compute. Ids
    * divisible by 50 are truncated to 10 bytes (valid PNG magic, no IHDR):
    * the documented corrupt-payload degradation to (0,0,0)/zeros.
    *
    * Encoding runs partition-local (same shape as the decode path); the
    * payloads are small by construction (≤ 30×17 px) — this is a
    * correctness fixture generator, not a data source.
    */
  def syntheticPngs(spark: SparkSession, df: DataFrame, idCol: String): DataFrame = {
    import spark.implicits._
    import java.awt.image.BufferedImage
    import javax.imageio.ImageIO
    df.select(col(idCol).cast("long")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val w = (id % 30 + 1).toInt
          val h = (id % 17 + 1).toInt
          val v = (id % 256).toInt
          val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
          val g2 = img.createGraphics()
          try { g2.setColor(new java.awt.Color(v, v, v)); g2.fillRect(0, 0, w, h) }
          finally g2.dispose()
          val out = new java.io.ByteArrayOutputStream()
          ImageIO.write(img, "png", out)
          val bytes = out.toByteArray
          (id, "image", if (id % 50 == 0) bytes.take(10) else bytes)
        }
      }
      .toDF("media_id", "modality", "payload")
      .withColumn("meta", struct(
        lit("image/png").as("mime"),
        length(col("payload")).cast("long").as("n_bytes")))
  }

  /** Deterministic REAL-WAV payload generator for the [[WavCodec]] oracle
    * query: each id emits a mono 16-bit PCM WAV at 8 kHz with
    * `n = id%400+50` frames of the constant sample `v = ((id%1024)−512)·32`
    * — so the decoded frame count, rate, channels, and RMS amplitude
    * (|v|/32768, exact in float: v and the power-of-two divisor round-trip
    * losslessly) are closed-form functions of the id. Ids divisible by 50
    * are truncated to 10 bytes (RIFF magic, no fmt chunk): the documented
    * corrupt-payload degradation to zeros.
    */
  def syntheticWavs(spark: SparkSession, df: DataFrame, idCol: String): DataFrame = {
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val n = (id % 400 + 50).toInt
          val v = (((id % 1024) - 512) * 32).toInt
          val data = n * 2
          val bb = java.nio.ByteBuffer.allocate(44 + data)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + data).put("WAVE".getBytes("US-ASCII"))
          bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
            .putShort(1).putShort(1) // PCM, mono
            .putInt(8000).putInt(16000) // rate, byte rate
            .putShort(2).putShort(16) // block align, bits
          bb.put("data".getBytes("US-ASCII")).putInt(data)
          var i = 0
          while (i < n) { bb.putShort(v.toShort); i += 1 }
          val bytes = bb.array()
          (id, "audio", if (id % 50 == 0) bytes.take(10) else bytes)
        }
      }
      .toDF("media_id", "modality", "payload")
      .withColumn("meta", struct(
        lit("audio/wav").as("mime"),
        length(col("payload")).cast("long").as("n_bytes")))
  }

  /** Decoded-metadata record emitted by [[decodeFeatures]]. */
  /** Deterministic GRID-PNG generator for the perceptual-hash dedup oracle:
    * each id renders a 32×32 PNG of 8×8 blocks (4×4 px each) whose on/off
    * pattern IS a 64-bit mask derived closed-form from the id —
    * `mask = hash60(id div 4) XOR (id mod 4)` — so each run of 4
    * consecutive ids is a planted near-dup family (pairwise Hamming ≤ 2 in
    * the two low bits) while cross-family distances are hash-random. The
    * aHash of the rendered image provably equals the mask (block means are
    * exactly 0/255 and the global mean lies strictly between whenever the
    * mask is mixed), so the DuckDB oracle can verify decode + hash +
    * blocking END TO END from id arithmetic alone, never touching pixels.
    * Ids ≡ 0 (mod 50) are truncated to 10 bytes — the undecodable-payload
    * path the hash op must DROP, not default.
    */
  def syntheticGridPngs(spark: SparkSession, df: DataFrame, idCol: String): DataFrame = {
    import spark.implicits._
    import java.awt.image.BufferedImage
    import javax.imageio.ImageIO
    df.select(col(idCol).cast("long")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val mask = Sampling.hash60Jvm((id / 4).toString, "ahash") ^ (id % 4)
          val img = new BufferedImage(32, 32, BufferedImage.TYPE_INT_RGB)
          var k = 0
          while (k < 64) {
            val v = if (((mask >> k) & 1L) == 1L) 0xFFFFFF else 0x000000
            val (r0, c0) = ((k / 8) * 4, (k % 8) * 4)
            var y = r0
            while (y < r0 + 4) {
              var x = c0
              while (x < c0 + 4) { img.setRGB(x, y, v); x += 1 }
              y += 1
            }
            k += 1
          }
          val out = new java.io.ByteArrayOutputStream()
          ImageIO.write(img, "png", out)
          val bytes = out.toByteArray
          (id, "image", if (id % 50 == 0) bytes.take(10) else bytes)
        }
      }
      .toDF("media_id", "modality", "payload")
      .withColumn("meta", struct(
        lit("image/png").as("mime"),
        length(col("payload")).cast("long").as("n_bytes")))
  }

  /** Deterministic BAND-WAV generator, the audio twin of
    * [[syntheticGridPngs]]: each id emits a mono 8 kHz PCM-16 WAV of 64
    * time bands (8 frames each) whose loud/quiet pattern IS
    * `mask = hash60(id div 4) XOR (id mod 4)` (salt "afp") — loud bands at
    * amplitude 16384 (RMS 0.5), quiet at 4096 (RMS 0.125), so the
    * [[WavCodec.rmsFingerprint64]] of the rendered audio provably equals
    * the mask whenever it is mixed. Ids ≡ 0 (mod 50) are truncated
    * (undecodable) and must be dropped by the fingerprint op.
    */
  def syntheticBandWavs(spark: SparkSession, df: DataFrame, idCol: String): DataFrame = {
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val mask = Sampling.hash60Jvm((id / 4).toString, "afp") ^ (id % 4)
          val framesPerBand = 8
          val n = 64 * framesPerBand
          val data = n * 2
          val bb = java.nio.ByteBuffer.allocate(44 + data)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + data).put("WAVE".getBytes("US-ASCII"))
          bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
            .putShort(1).putShort(1) // PCM, mono
            .putInt(8000).putInt(16000) // rate, byte rate
            .putShort(2).putShort(16) // block align, bits
          bb.put("data".getBytes("US-ASCII")).putInt(data)
          var i = 0
          while (i < n) {
            val band = i / framesPerBand
            val v = if (((mask >> band) & 1L) == 1L) 16384 else 4096
            bb.putShort(v.toShort)
            i += 1
          }
          val bytes = bb.array()
          (id, "audio", if (id % 50 == 0) bytes.take(10) else bytes)
        }
      }
      .toDF("media_id", "modality", "payload")
      .withColumn("meta", struct(
        lit("audio/wav").as("mime"),
        length(col("payload")).cast("long").as("n_bytes")))
  }

  /** Per-clip 64-bit audio fingerprint through the real PCM decode
    * ([[WavCodec.rmsFingerprint64]]); undecodable payloads dropped.
    * Output: `(media_id, afp)`.
    */
  def audioFingerprint64(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select("media_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, p) =>
        WavCodec.rmsFingerprint64(p).map(h => (id, h))
      })
      .toDF("media_id", "afp")
  }

  /** AUDIO near-duplicate pairs: [[audioFingerprint64]] through the same
    * exact-recall blocked Hamming probe as image and text.
    * Output: `(doc_a, doc_b, hamming)`.
    */
  def audioNearDupPairs(
      spark: SparkSession,
      media: DataFrame,
      maxHamming: Int = 3): DataFrame =
    Dedup.hammingNearDuplicates(
      audioFingerprint64(spark, media), "media_id", "afp", maxHamming)

  /** Per-image 64-bit perceptual hash through the real decoder
    * ([[ImageIoCodec.aHash64]]), partition-local like every codec pass.
    * Undecodable payloads are dropped (with the reason documented there).
    * Output: `(media_id, ahash)`.
    */
  def imageAHash64(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select("media_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, p) =>
        ImageIoCodec.aHash64(p).map(h => (id, h))
      })
      .toDF("media_id", "ahash")
  }

  /** IMAGE near-duplicate pairs at corpus scale: [[imageAHash64]] composed
    * with the exact-recall blocked-combination Hamming probe
    * ([[Dedup.hammingNearDuplicates]] — the same Manku-style tables the
    * text simhash uses, reused verbatim on the perceptual hash). Resized,
    * re-encoded, or lightly edited copies land within a few aHash bits and
    * surface as pairs; candidate generation stays linear in corpus size.
    * Output: `(doc_a, doc_b, hamming)`.
    */
  def imageNearDupPairs(
      spark: SparkSession,
      media: DataFrame,
      maxHamming: Int = 3): DataFrame =
    Dedup.hammingNearDuplicates(
      imageAHash64(spark, media), "media_id", "ahash", maxHamming)

  final case class MediaFeatures(
      media_id: Long,
      modality: String,
      width: Int,
      height: Int,
      channels: Int,
      n_bytes: Long,
      features: Array[Float])

  /** Partition-local batch decode + feature extraction. The Scala analogue
    * of a vectorized pandas-batch UDF: one function call per partition, the
    * codec is "initialized" once per partition (where a real codec would
    * load its native libs), rows stream through without materializing the
    * whole partition.
    */
  def decodeFeatures(
      spark: SparkSession,
      media: DataFrame,
      featureDim: Int = 8,
      codec: MediaCodec = FakeCodec): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.select("media_id", "modality", "payload").as[(Long, String, Array[Byte])]
      .mapPartitions { rows =>
        // codec native init (lazy in the impl) happens here, once per partition
        rows.map { case (id, modality, payload) =>
          val (w, h, c) = codec.decodeDims(payload)
          MediaFeatures(
            id, modality, w, h, c,
            if (payload == null) 0L else payload.length.toLong,
            codec.features(payload, featureDim))
        }
      }
  }

  /** Aspect-preserving resize: plans the (width, height) that fits `maxEdge`
    * (pure metadata math — real), then emits a resized payload via the
    * stub resampler (a production impl calls the codec's scaler in the
    * same partition-local spot). Never upscales. Output shape matches a
    * production resize stage: (media_id, width, height, payload).
    */
  def resizePayloads(
      spark: SparkSession,
      media: DataFrame,
      maxEdge: Int,
      codec: MediaCodec = FakeCodec): DataFrame = {
    import spark.implicits._
    require(maxEdge >= 1, s"maxEdge must be >= 1, got $maxEdge")
    media.select("media_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          val (w, h, _) = codec.decodeDims(payload)
          val edge = math.max(w, h)
          if (edge == 0) (id, 0, 0, payload) // undecodable/empty: pass through
          else {
            val scale = if (edge <= maxEdge) 1.0 else maxEdge.toDouble / edge
            (id,
              math.max(1, math.round(w * scale).toInt),
              math.max(1, math.round(h * scale).toInt),
              codec.resample(payload, scale))
          }
        }
      }.toDF("media_id", "width", "height", "payload")
  }

  /** Deterministic frame sampling: pick every `stride`-th frame index from
    * a fake frame count derived from payload size (a real video pipeline
    * would emit (media_id, frame_no, frame_payload) the same shape).
    */
  def sampleFrames(media: DataFrame, stride: Int): DataFrame =
    media
      .withColumn("n_frames", (col("meta.n_bytes") / 100 + 1).cast("int"))
      .select(
        col("media_id"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(stride))).as("frame_no"))

  /** REAL, EXECUTABLE video codec on pure JDK: Motion-JPEG as a raw
    * concatenated-JPEG frame stream (the `.mjpeg`/`mjpg` elementary stream
    * FFmpeg writes with `-f mjpeg`, and the payload most IP cameras emit) —
    * each frame is a complete JFIF image, frames are split by walking the
    * actual JPEG segment structure, and per-frame decode goes through
    * `javax.imageio`'s JPEG reader. It needs no native library, so it
    * runs — and is oracle-checked end-to-end — in any executor container:
    * the video codec for MJPEG streams and the proof that the video
    * decode PLUMBING (frame iteration, band features, strided resample)
    * works on real decoded pixels. General containers (H.264, VP9, …) need
    * a native decoder and would plug in as another [[MediaCodec]].
    *
    * Dims-triple reinterpretation for video, after [[WavCodec]]'s precedent
    * of re-reading the triple per modality: **(width, height, nFrames)** — width/height from the FIRST frame's
    * header (header-only read, no pixel decode), nFrames = complete frames
    * in the stream. `features` returns per-band mean BT.601 luma in [0,1]
    * over `dim` equal time bands of the frame sequence; `resample` keeps
    * every ⌈1/scale⌉-th frame, scales it through [[ImageIoCodec.resample]]
    * (bilinear, re-encoded as JPEG in kind), and re-concatenates — a valid
    * MJPEG stream at the reduced rate and size. Corrupt-media contract as
    * everywhere: null/empty/no-complete-frame payloads degrade to
    * (0,0,0)/zeros/pass-through; an individual undecodable frame is
    * skipped, never fails the task.
    */
  object MjpegVideoCodec extends MediaCodec {

    /** Band index for frame `i` of `n` over `k` equal time bands — long
      * arithmetic for the same Int-wrap reason as [[WavCodec]] (i·k
      * overflows beyond ~33M frames).
      */
    private[graft] def bandOf(i: Long, n: Long, k: Int): Int =
      math.min(k - 1, (i * k / math.max(1L, n)).toInt)

    /** Mean BT.601 luma of a raster in [0,1]. */
    private[graft] def meanLuma(img: java.awt.image.BufferedImage): Double = {
      val (w, h) = (img.getWidth, img.getHeight)
      if (w == 0 || h == 0) return 0.0
      var sum = 0.0
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          sum += (0.299 * ((rgb >> 16) & 0xFF) + 0.587 * ((rgb >> 8) & 0xFF) +
            0.114 * (rgb & 0xFF)) / 255.0
          x += 1
        }
        y += 1
      }
      sum / (w.toLong * h)
    }

    /** (start, end) byte spans of the COMPLETE JPEG frames in `payload`,
      * found by walking the real segment structure — not by scanning for
      * `FFD8`/`FFD9` byte pairs, which also occur inside entropy-coded
      * data: from each SOI, length-delimited segments are skipped
      * (standalone markers TEM/RST have none), each SOS's entropy data is
      * scanned for the next true marker with byte-stuffed `FF00` and
      * restart markers passed over (progressive multi-scan frames loop
      * back through the segment walk), and the frame closes at EOI. A
      * malformed frame resyncs to the next SOI; a truncated tail frame is
      * dropped (incomplete ≠ decodable).
      */
    private[graft] def frameSpans(payload: Array[Byte]): Seq[(Int, Int)] = {
      val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      val n = payload.length
      @inline def u(i: Int): Int = payload(i) & 0xFF
      var i = 0
      while (i + 1 < n) {
        if (u(i) == 0xFF && u(i + 1) == 0xD8) {
          val start = i
          var p = i + 2
          var end = -1
          var broken = false
          while (end < 0 && !broken && p + 1 < n) {
            if (u(p) != 0xFF) broken = true
            else u(p + 1) match {
              case 0xD9 => end = p + 2
              case 0xD8 => broken = true // nested SOI: malformed frame
              case m if m == 0x01 || (m >= 0xD0 && m <= 0xD7) => p += 2
              case 0xDA =>
                if (p + 3 >= n) broken = true
                else {
                  // skip the SOS header, then scan entropy-coded data for
                  // the next real marker (FF00 = stuffed byte, D0-D7 = RST)
                  var q = p + 2 + ((u(p + 2) << 8) | u(p + 3))
                  var found = -1
                  while (found < 0 && q + 1 < n) {
                    if (u(q) != 0xFF) q += 1
                    else {
                      val mm = u(q + 1)
                      if (mm == 0x00 || (mm >= 0xD0 && mm <= 0xD7)) q += 2
                      else found = q
                    }
                  }
                  if (found < 0) broken = true else p = found
                }
              case _ =>
                if (p + 3 >= n) broken = true
                else {
                  val len = (u(p + 2) << 8) | u(p + 3)
                  if (len < 2) broken = true else p = p + 2 + len
                }
            }
          }
          if (end > 0) { spans += ((start, end)); i = end }
          else if (broken) i = start + 2 // resync: scan for the next SOI
          else i = n // truncated tail frame: incomplete, dropped
        } else i += 1
      }
      spans.toSeq
    }

    private def frame(payload: Array[Byte], span: (Int, Int)): Array[Byte] =
      java.util.Arrays.copyOfRange(payload, span._1, span._2)

    override def decodeDims(payload: Array[Byte]): (Int, Int, Int) = {
      if (payload == null || payload.isEmpty) return (0, 0, 0)
      val spans = frameSpans(payload)
      if (spans.isEmpty) return (0, 0, 0)
      val (w, h, _) = ImageIoCodec.decodeDims(frame(payload, spans.head))
      if (w == 0 || h == 0) (0, 0, 0) else (w, h, spans.length)
    }

    override def features(payload: Array[Byte], dim: Int): Array[Float] = {
      if (payload == null || payload.isEmpty) return Array.fill(dim)(0f)
      val spans = frameSpans(payload)
      if (spans.isEmpty) return Array.fill(dim)(0f)
      val sums = new Array[Double](dim)
      val counts = new Array[Long](dim)
      var i = 0L
      spans.foreach { sp =>
        val img =
          try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(frame(payload, sp)))
          catch { case scala.util.control.NonFatal(_) => null }
        if (img != null) {
          val b = bandOf(i, spans.length.toLong, dim)
          sums(b) += meanLuma(img)
          counts(b) += 1
        }
        i += 1
      }
      (0 until dim).map(b =>
        if (counts(b) == 0) 0f else (sums(b) / counts(b)).toFloat).toArray
    }

    override def resample(payload: Array[Byte], scale: Double): Array[Byte] = {
      if (payload == null || payload.isEmpty || scale >= 1.0 || scale <= 0.0) return payload
      val spans = frameSpans(payload)
      if (spans.isEmpty) return payload
      val stride = math.max(1, math.round(1.0 / scale).toInt)
      val out = new java.io.ByteArrayOutputStream()
      spans.indices.by(stride).foreach { i =>
        out.write(ImageIoCodec.resample(frame(payload, spans(i)), scale))
      }
      val bytes = out.toByteArray
      if (bytes.nonEmpty) bytes else payload
    }
  }

  /** Deterministic REAL-MJPEG payload generator for the [[MjpegVideoCodec]]
    * oracle query: each id emits `n = id%4+1` constant-gray JPEG frames of
    * `(id%28+8)×(id%20+8)` (gray v = id%256), concatenated into an MJPEG
    * elementary stream — so the decoded width, height and frame count are
    * CLOSED-FORM functions of the id an external SQL oracle can compute
    * (dims/count come from the header walk + segment parse, which JPEG's
    * lossy pixel path cannot perturb). Ids divisible by 50 are truncated
    * to 10 bytes (SOI + APP0 fragment, no complete frame): the documented
    * corrupt-payload degradation to (0,0,0).
    */
  def syntheticMjpegs(spark: SparkSession, df: DataFrame, idCol: String): DataFrame = {
    import spark.implicits._
    import java.awt.image.BufferedImage
    import javax.imageio.ImageIO
    df.select(col(idCol).cast("long")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val w = (id % 28 + 8).toInt
          val h = (id % 20 + 8).toInt
          val v = (id % 256).toInt
          val nFrames = (id % 4 + 1).toInt
          val out = new java.io.ByteArrayOutputStream()
          var f = 0
          while (f < nFrames) {
            val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
            val g2 = img.createGraphics()
            try { g2.setColor(new java.awt.Color(v, v, v)); g2.fillRect(0, 0, w, h) }
            finally g2.dispose()
            ImageIO.write(img, "jpg", out)
            f += 1
          }
          val bytes = out.toByteArray
          (id, "video", if (id % 50 == 0) bytes.take(10) else bytes)
        }
      }
      .toDF("media_id", "modality", "payload")
      .withColumn("meta", struct(
        lit("video/x-motion-jpeg").as("mime"),
        length(col("payload")).cast("long").as("n_bytes")))
  }
}
