package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video payloads travel as
  * opaque `binary` columns with a typed metadata struct; decode /
  * feature-extract / resize / frame-sample run as partition-batched
  * transforms so a decoder library initializes once per partition, not
  * per row (the Scala analog of `mapInPandas` batching).
  *
  * Two codecs ship behind one [[MediaCodec]] seam:
  *  - [[ImageIoCodec]] (the default) does REAL image work with the
  *    JDK's built-in `javax.imageio` (PNG/JPEG/BMP/GIF decode, bilinear
  *    resize re-encoded as PNG, 8×8-grid grayscale embedding, and
  *    animated-GIF frame sampling with progressive compositing) — no
  *    external libraries needed;
  *  - [[FakeCodec]] derives md5-deterministic pseudo-decodes so the
  *    DuckDB oracle can replay the gate pipelines hash-for-hash (a real
  *    decode is not expressible in SQL). True video containers
  *    (mp4/webm) have no JDK codec: ImageIoCodec rejects them rather
  *    than guessing.
  */
object Multimodal {

  /** per-partition codec seam: decode/resize/embed/frame-sample/audio */
  trait MediaCodec extends Serializable {
    def decodeImage(payload: Array[Byte]): (Int, Int, Double)
    def resize(payload: Array[Byte], w: Int, h: Int): Array[Byte]
    def embed(payload: Array[Byte], dim: Int): Array[Float]
    def sampleFrames(payload: Array[Byte], n: Int): Seq[Array[Byte]]
    /** 64-bit perceptual hash for image near-dup (dHash for real
      * codecs; the md5-family surrogate for the replayable stub) */
    def imageHash(payload: Array[Byte]): Long
    /** 64-bit perceptual hash for audio near-dup (adjacent-bin
      * difference sketch of the filter-bank embedding for real
      * codecs; the md5-family surrogate for the replayable stub) */
    def audioHash(payload: Array[Byte]): Long
    /** (sampleRateHz, channels, durationMs, rms of normalized samples) */
    def decodeAudio(payload: Array[Byte]): (Double, Int, Long, Double)
    /** fixed-size audio feature vector (filter-bank amplitudes) */
    def embedAudio(payload: Array[Byte], dim: Int): Array[Float]
  }

  /** Real image codec over the JDK's javax.imageio — headless-safe
    * raster work, initialized lazily per executor. */
  object ImageIoCodec extends MediaCodec {
    private def readImage(payload: Array[Byte]): java.awt.image.BufferedImage = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      require(img != null, "payload is not a decodable image (png/jpeg/bmp/gif)")
      img
    }

    /** (width, height, mean Rec.601 luma in [0,1]); large images are
      * stride-sampled so decode stats stay O(64k) per image */
    override def decodeImage(payload: Array[Byte]): (Int, Int, Double) = {
      val img = readImage(payload)
      val (w, h) = (img.getWidth, img.getHeight)
      val stride = math.max(1, math.sqrt(w.toLong * h / 65536.0).toInt)
      var sum = 0.0
      var n = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val r = (rgb >> 16) & 0xFF; val g = (rgb >> 8) & 0xFF; val b = rgb & 0xFF
          sum += (0.299 * r + 0.587 * g + 0.114 * b) / 255.0
          n += 1
          x += stride
        }
        y += stride
      }
      (w, h, if (n == 0) 0.0 else sum / n)
    }

    override def resize(payload: Array[Byte], w: Int, h: Int): Array[Byte] = {
      val src = readImage(payload)
      val dst = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g2 = dst.createGraphics()
      try {
        g2.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g2.drawImage(src, 0, 0, w, h, null)
      } finally g2.dispose()
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(dst, "png", bos)
      bos.toByteArray
    }

    /** REAL 64-bit dHash (difference hash): bilinear-downscale to 9×8
      * grayscale, bit (r, c) = gray(r, c) < gray(r, c+1), packed
      * row-major MSB-first. Robust to re-encoding/resizing/small edits
      * (those flip few bits), discriminative across distinct images
      * (~32-bit Hamming expected) — the standard image near-dup
      * fingerprint.
      *
      * EXIF-orientation NORMALIZED (r14): a JPEG whose APP1 carries
      * orientation 2..8 hashes as its upright rendering — ImageIO
      * ignores the flag, so a camera-rotated copy would otherwise land
      * ~32 bits away from its upright twin and never near-dup. The
      * stored raster downscales in its stored shape (8×9 for the 90°
      * family) and the tiny grid remaps through the orientation's
      * inverse index map; non-JPEG / untagged payloads are
      * orientation 1. */
    override def imageHash(payload: Array[Byte]): Long = {
      val src = readImage(payload)
      val meta = graft.operators.Exif.parseKernel(payload)
      val ori0 = if (meta.isNullAt(3)) 1 else meta.getInt(3)
      val ori = if (ori0 >= 1 && ori0 <= 8) ori0 else 1
      val rot90 = ori >= 5
      val (dw, dh) = if (rot90) (8, 9) else (9, 8)
      val dst = new java.awt.image.BufferedImage(dw, dh,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val g2 = dst.createGraphics()
      try {
        g2.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g2.drawImage(src, 0, 0, dw, dh, null)
      } finally g2.dispose()
      val raster = dst.getRaster
      // upright (cu, ru) in 9×8 → stored (x, y) in dw×dh
      def gray(cu: Int, ru: Int): Int = {
        val (x, y) = ori match {
          case 2 => (dw - 1 - cu, ru)           // mirror horizontal
          case 3 => (dw - 1 - cu, dh - 1 - ru)  // rotate 180
          case 4 => (cu, dh - 1 - ru)           // mirror vertical
          case 5 => (ru, cu)                    // transpose
          case 6 => (ru, dh - 1 - cu)           // stored = rot90ccw(upright)
          case 7 => (dw - 1 - ru, dh - 1 - cu)  // transverse
          case 8 => (dw - 1 - ru, cu)           // stored = rot90cw(upright)
          case _ => (cu, ru)
        }
        raster.getSample(x, y, 0)
      }
      var h = 0L
      var r = 0
      while (r < 8) {
        var c = 0
        while (c < 8) {
          h = (h << 1) | (if (gray(c, r) < gray(c + 1, r)) 1L else 0L)
          c += 1
        }
        r += 1
      }
      h
    }

    /** REAL 64-bit audio sketch — the dHash idea transposed to the
      * frequency axis: 65-bin log-spaced Goertzel filter bank
      * ([[embedAudio]]), bit k = amp(k) < amp(k+1), packed MSB-first.
      * Adjacent-bin DIFFERENCES are amplitude-ratio invariant, so
      * volume changes and re-encodings flip few bits while a
      * different tone/spectrum flips many — the same robustness
      * contract as the image dHash. */
    override def audioHash(payload: Array[Byte]): Long = {
      val amps = embedAudio(payload, 65)
      var h = 0L
      var k = 0
      while (k < 64) {
        h = (h << 1) | (if (amps(k) < amps(k + 1)) 1L else 0L)
        k += 1
      }
      h
    }

    /** k×k grayscale cell means (k = ⌈√dim⌉), row-major, in [0,1] — a
      * real downsampled-intensity embedding (the perceptual-hash core) */
    override def embed(payload: Array[Byte], dim: Int): Array[Float] = {
      val k = math.ceil(math.sqrt(dim.toDouble)).toInt
      val small = readImage(resize(payload, k, k))
      val out = new Array[Float](dim)
      var i = 0
      while (i < dim) {
        val rgb = small.getRGB(i % k, math.min(i / k, k - 1))
        val r = (rgb >> 16) & 0xFF; val g = (rgb >> 8) & 0xFF; val b = rgb & 0xFF
        out(i) = ((0.299 * r + 0.587 * g + 0.114 * b) / 255.0).toFloat
        i += 1
      }
      out
    }

    /** REAL frame sampling. Two container families:
      *  - MP4/MOV (ISO BMFF, flat or fragmented), Matroska/WebM and
      *    AVI: DEMUXED, not decoded —
      *    [[Mp4Demux]]/[[MkvDemux]]/[[AviDemux]] walk the
      *    container sample tables and return `n` evenly spaced
      *    keyframes as their ENCODED access units (the JDK has no video
      *    codec; a training pipeline's GPU decode stage takes it from
      *    there).
      *  - animated GIF, the one multi-frame container the JDK can
      *    decode: frames composite progressively onto the logical
      *    screen (GIF frames are often partial patches at an
      *    (left, top) offset; disposal none/doNotDispose accumulate,
      *    restoreToBackgroundColor clears the patch rect) and `n`
      *    evenly spaced snapshots re-encode as PNG. Still images yield
      *    their one frame.
      * unrecognized containers are REJECTED, not guessed. */
    override def sampleFrames(payload: Array[Byte], n: Int): Seq[Array[Byte]] = {
      require(n > 0, "sampleFrames: n must be positive")
      if (Mp4Demux.isMp4(payload))
        return Mp4Demux.sampleKeyframes(payload, n).map(_._2)
      if (MkvDemux.isMkv(payload))
        return MkvDemux.sampleKeyframes(payload, n).map(_._2)
      if (AviDemux.isAvi(payload))
        return AviDemux.sampleKeyframes(payload, n).map(_._2)
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) {
        iis.close()
        throw new UnsupportedOperationException(
          "frame sampling needs a demuxable video container (MP4/WebM/AVI) " +
            "or a JDK-decodable one (animated GIF) — use FakeCodec for " +
            "pipeline-shape tests")
      }
      val reader = readers.next()
      reader.setInput(iis)
      try {
        val total = math.max(reader.getNumImages(true), 1)
        val wanted: Seq[Int] =
          if (n >= total) 0 until total
          else (0 until n).map(i => (i.toLong * total / n).toInt)
        val wantedSet = wanted.toSet
        val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Array[Byte])]
        var canvas: java.awt.image.BufferedImage = null
        var i = 0
        val last = wanted.max
        while (i <= last) {
          val frame = reader.read(i)
          val (ox, oy, disposal) = gifFrameGeometry(reader, i)
          if (canvas == null)
            canvas = new java.awt.image.BufferedImage(
              frame.getWidth + ox, frame.getHeight + oy,
              java.awt.image.BufferedImage.TYPE_INT_ARGB)
          else if (ox + frame.getWidth > canvas.getWidth ||
              oy + frame.getHeight > canvas.getHeight) {
            // a later frame exceeds the logical screen we inferred from
            // the first: grow the canvas instead of clipping silently
            val grown = new java.awt.image.BufferedImage(
              math.max(canvas.getWidth, ox + frame.getWidth),
              math.max(canvas.getHeight, oy + frame.getHeight),
              java.awt.image.BufferedImage.TYPE_INT_ARGB)
            val gg = grown.createGraphics()
            try gg.drawImage(canvas, 0, 0, null) finally gg.dispose()
            canvas = grown
          }
          val g2 = canvas.createGraphics()
          try g2.drawImage(frame, ox, oy, null) finally g2.dispose()
          if (wantedSet.contains(i)) {
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(canvas, "png", bos)
            out += ((i, bos.toByteArray))
          }
          if (disposal == "restoreToBackgroundColor") {
            val g3 = canvas.createGraphics()
            try {
              g3.setComposite(java.awt.AlphaComposite.Clear)
              g3.fillRect(ox, oy, frame.getWidth, frame.getHeight)
            } finally g3.dispose()
          }
          i += 1
        }
        // emit in sampled order (wanted is strictly increasing)
        wanted.map(idx => out.find(_._1 == idx).get._2)
      } finally { reader.dispose(); iis.close() }
    }

    /** REAL audio decode over the JDK's javax.sound.sampled codecs
      * (WAV/AU/AIFF): stream is converted to 16-bit signed PCM and RMS
      * computed over normalized samples in one bounded-buffer pass —
      * no full in-memory expansion of the decoded audio. mp3/ogg/flac
      * have no JDK codec and are rejected, not guessed. */
    override def decodeAudio(payload: Array[Byte]): (Double, Int, Long, Double) = {
      val raw =
        try javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(payload))
        catch {
          case e: javax.sound.sampled.UnsupportedAudioFileException =>
            throw new UnsupportedOperationException(
              "payload is not a JDK-decodable audio container (wav/au/aiff); " +
                "mp3/ogg need an external codec", e)
        }
      try {
        val srcFmt = raw.getFormat
        val sampleRate = srcFmt.getSampleRate.toDouble
        val channels = srcFmt.getChannels
        val frames = raw.getFrameLength
        val durationMs =
          if (frames >= 0 && srcFmt.getFrameRate > 0)
            (frames * 1000.0 / srcFmt.getFrameRate).toLong
          else -1L
        val pcmFmt = new javax.sound.sampled.AudioFormat(
          javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
          srcFmt.getSampleRate, 16, channels, 2 * channels, srcFmt.getSampleRate, false)
        val pcm =
          if (srcFmt.matches(pcmFmt)) raw
          else javax.sound.sampled.AudioSystem.getAudioInputStream(pcmFmt, raw)
        val buf = new Array[Byte](1 << 16)
        var sumSq = 0.0
        var n = 0L
        var read = pcm.read(buf)
        var carry = -1 // low byte of a sample split across reads
        while (read > 0) {
          var i = 0
          if (carry >= 0 && read >= 1) {
            val s = ((buf(0) << 8) | carry).toShort
            sumSq += (s / 32768.0) * (s / 32768.0); n += 1
            carry = -1; i = 1
          }
          while (i + 1 < read) {
            val s = ((buf(i + 1) << 8) | (buf(i) & 0xFF)).toShort
            sumSq += (s / 32768.0) * (s / 32768.0)
            n += 1
            i += 2
          }
          if (i < read) carry = buf(i) & 0xFF
          read = pcm.read(buf)
        }
        (sampleRate, channels, durationMs, if (n == 0) 0.0 else math.sqrt(sumSq / n))
      } finally raw.close()
    }

    /** REAL audio embedding: a `dim`-bin log-spaced Goertzel filter
      * bank (100 Hz → 0.9·Nyquist, capped at 8 kHz) over the mono mix —
      * O(dim) state per sample, so the clip streams without buffering.
      * Bin k holds the estimated sine AMPLITUDE at its frequency
      * (|Goertzel| normalized by n/2), the standard tone-detection
      * normalization. */
    override def embedAudio(payload: Array[Byte], dim: Int): Array[Float] = {
      require(dim > 0, "embedAudio: dim must be positive")
      val raw =
        try javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(payload))
        catch {
          case e: javax.sound.sampled.UnsupportedAudioFileException =>
            throw new UnsupportedOperationException(
              "payload is not a JDK-decodable audio container (wav/au/aiff)", e)
        }
      try {
        val srcFmt = raw.getFormat
        val rate = srcFmt.getSampleRate.toDouble
        val channels = srcFmt.getChannels
        val pcmFmt = new javax.sound.sampled.AudioFormat(
          javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
          srcFmt.getSampleRate, 16, channels, 2 * channels, srcFmt.getSampleRate, false)
        val pcm =
          if (srcFmt.matches(pcmFmt)) raw
          else javax.sound.sampled.AudioSystem.getAudioInputStream(pcmFmt, raw)
        val fLo = 100.0
        val fHi = math.max(fLo + 1, math.min(8000.0, rate / 2 * 0.9))
        val coef = Array.tabulate(dim) { i =>
          val f = fLo * math.pow(fHi / fLo, i / math.max(1.0, dim - 1.0))
          2.0 * math.cos(2.0 * math.Pi * f / rate)
        }
        val s1 = new Array[Double](dim)
        val s2 = new Array[Double](dim)
        var n = 0L
        val frameBytes = 2 * channels
        val buf = new Array[Byte]((1 << 16) - ((1 << 16) % frameBytes))
        var read = pcm.read(buf)
        var rem = 0 // bytes carried between reads (partial frame)
        val carry = new Array[Byte](frameBytes)
        while (read > 0) {
          var off = 0
          if (rem > 0) {
            val need = frameBytes - rem
            if (read >= need) {
              System.arraycopy(buf, 0, carry, rem, need)
              step(carry, 0, channels, coef, s1, s2); n += 1
              off = need; rem = 0
            } else { System.arraycopy(buf, 0, carry, rem, read); rem += read; off = read }
          }
          while (off + frameBytes <= read) {
            step(buf, off, channels, coef, s1, s2); n += 1
            off += frameBytes
          }
          if (off < read) { System.arraycopy(buf, off, carry, 0, read - off); rem = read - off }
          read = pcm.read(buf)
        }
        val norm = math.max(n / 2.0, 1.0)
        Array.tabulate(dim) { k =>
          val e = s1(k) * s1(k) + s2(k) * s2(k) - coef(k) * s1(k) * s2(k)
          (math.sqrt(math.max(e, 0.0)) / norm).toFloat
        }
      } finally raw.close()
    }

    /** one Goertzel update over the mono mix of a 16-bit LE frame */
    private def step(b: Array[Byte], off: Int, channels: Int,
        coef: Array[Double], s1: Array[Double], s2: Array[Double]): Unit = {
      var sum = 0.0
      var c = 0
      while (c < channels) {
        val i = off + 2 * c
        sum += ((b(i + 1) << 8) | (b(i) & 0xFF)).toShort / 32768.0
        c += 1
      }
      val x = sum / channels
      var k = 0
      while (k < coef.length) {
        val s0 = x + coef(k) * s1(k) - s2(k)
        s2(k) = s1(k); s1(k) = s0
        k += 1
      }
    }

    /** (leftOffset, topOffset, disposalMethod) of one GIF frame; any
      * non-GIF or unreadable metadata falls back to a full-frame paste */
    private def gifFrameGeometry(reader: javax.imageio.ImageReader, i: Int): (Int, Int, String) =
      try {
        val tree = reader.getImageMetadata(i)
          .getAsTree("javax_imageio_gif_image_1.0").asInstanceOf[org.w3c.dom.Element]
        def attr(tag: String, a: String): Option[String] = {
          val nodes = tree.getElementsByTagName(tag)
          if (nodes.getLength == 0) None
          else Option(nodes.item(0).asInstanceOf[org.w3c.dom.Element].getAttribute(a))
            .filter(_.nonEmpty)
        }
        (attr("ImageDescriptor", "imageLeftPosition").map(_.toInt).getOrElse(0),
          attr("ImageDescriptor", "imageTopPosition").map(_.toInt).getOrElse(0),
          attr("GraphicControlExtension", "disposalMethod").getOrElse("none"))
      } catch { case scala.util.control.NonFatal(_) => (0, 0, "none") }
  }

  /** Deterministic pseudo-codec: all outputs are md5-derived so the
    * DuckDB oracle can replay the gate pipelines (`md5_number_lower` =
    * little-endian u64 of digest bytes 8..16, matching [[md5Lower64]]),
    * turning the multimodal gate queries into full hash-matched checks
    * — a real decode is not SQL-expressible. Production image work uses
    * [[ImageIoCodec]]. */
  object FakeCodec extends MediaCodec {
    private def digest(parts: Array[Byte]*): Array[Byte] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      parts.foreach(md.update)
      md.digest()
    }

    /** little-endian long over md5 digest bytes 8..15 (DuckDB
      * md5_number_lower); treat as unsigned via remainderUnsigned. */
    def md5Lower64(parts: Array[Byte]*): Long = {
      val d = digest(parts: _*)
      var h = 0L
      var i = 15
      while (i >= 8) { h = (h << 8) | (d(i) & 0xFFL); i -= 1 }
      h
    }

    /** "decode" → (width, height, meanLuma): stable function of bytes */
    def decodeImage(payload: Array[Byte]): (Int, Int, Double) = {
      val h = md5Lower64(payload)
      val w = 16 + java.lang.Long.remainderUnsigned(h, 1024L).toInt
      val ht = 16 + java.lang.Long.remainderUnsigned(h >>> 10, 1024L).toInt
      val luma = java.lang.Long.remainderUnsigned(h >>> 20, 256L).toDouble / 255.0
      (w, ht, luma)
    }

    /** "resize": new payload is a stable digest of (payload, w, h) */
    def resize(payload: Array[Byte], w: Int, h: Int): Array[Byte] =
      digest(payload, s"r${w}x$h".getBytes("UTF-8"))

    /** "perceptual hash": the md5-family 64-bit surrogate — exactly
      * DuckDB's md5_number_lower(payload) cast to BIGINT, so the
      * banded near-dup machinery over it replays in oracle SQL */
    def imageHash(payload: Array[Byte]): Long = md5Lower64(payload)

    /** "audio perceptual hash": md5-family surrogate over (payload,
      * 'ah') — DuckDB's md5_number_lower(p || 'ah') cast to BIGINT */
    def audioHash(payload: Array[Byte]): Long =
      md5Lower64(payload, "ah".getBytes("UTF-8"))

    /** "frame sample": n digests standing in for n sampled frames */
    def sampleFrames(payload: Array[Byte], n: Int): Seq[Array[Byte]] =
      (0 until n).map(i => digest(payload, s"f$i".getBytes("UTF-8")))

    /** "audio embedding": md5-stable per-bin values (salt a$i) */
    def embedAudio(payload: Array[Byte], dim: Int): Array[Float] = {
      val out = new Array[Float](dim)
      var i = 0
      while (i < dim) {
        val h = md5Lower64(payload, s"a$i".getBytes("UTF-8"))
        out(i) = java.lang.Long.remainderUnsigned(h, 1000L).toFloat / 1000.0f
        i += 1
      }
      out
    }

    /** "audio decode": md5-stable (sample_rate, channels, duration, rms) */
    def decodeAudio(payload: Array[Byte]): (Double, Int, Long, Double) = {
      val h = md5Lower64(payload)
      val rate = 8000.0 + java.lang.Long.remainderUnsigned(h, 40000L).toDouble
      val ch = 1 + java.lang.Long.remainderUnsigned(h >>> 16, 2L).toInt
      val dur = java.lang.Long.remainderUnsigned(h >>> 18, 600000L)
      val rms = java.lang.Long.remainderUnsigned(h >>> 24, 1000L).toDouble / 1000.0
      (rate, ch, dur, rms)
    }

    /** "feature extraction": fixed-size float vector from the bytes */
    def embed(payload: Array[Byte], dim: Int): Array[Float] = {
      val out = new Array[Float](dim)
      var i = 0
      while (i < dim) {
        val h = md5Lower64(payload, s"e$i".getBytes("UTF-8"))
        out(i) = java.lang.Long.remainderUnsigned(h, 1000L).toFloat / 1000.0f
        i += 1
      }
      out
    }
  }

  /** Decode pass: adds (decoded_width, decoded_height, mean_luma).
    * Partition-batched: the codec (stub) is instantiated once per
    * partition; rows stream through without driver involvement. */
  def decodeImages(df: DataFrame, payloadCol: String,
      codec: MediaCodec = ImageIoCodec): DataFrame = {
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField("decoded_width", IntegerType),
      StructField("decoded_height", IntegerType),
      StructField("mean_luma", DoubleType)))
    val enc = RowEncoder.encoderFor(outSchema)
    val idx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      // per-partition decoder init goes here (stub has none)
      rows.map { r =>
        val payload = r.getAs[Array[Byte]](idx)
        val (w, h, luma) =
          if (payload == null) (0, 0, 0.0) else codec.decodeImage(payload)
        Row.fromSeq(r.toSeq ++ Seq[Any](w, h, luma))
      }
    }(enc)
  }

  /** Resize pass: replaces the payload with the (stub) resized bytes,
    * carrying the target dims in the metadata struct. */
  def resizeImages(df: DataFrame, payloadCol: String, w: Int, h: Int,
      codec: MediaCodec = ImageIoCodec): DataFrame = {
    val outSchema = StructType(df.schema.fields :+
      StructField("resized_payload", BinaryType))
    val enc = RowEncoder.encoderFor(outSchema)
    val idx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val payload = r.getAs[Array[Byte]](idx)
        val out = if (payload == null) null else codec.resize(payload, w, h)
        Row.fromSeq(r.toSeq :+ out)
      }
    }(enc)
  }

  /** Feature-extraction pass: embedding column from the payload. */
  def embedMedia(df: DataFrame, payloadCol: String, dim: Int = 64,
      codec: MediaCodec = ImageIoCodec): DataFrame = {
    val outSchema = StructType(df.schema.fields :+
      StructField("media_embedding", ArrayType(FloatType, containsNull = false)))
    val enc = RowEncoder.encoderFor(outSchema)
    val idx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val payload = r.getAs[Array[Byte]](idx)
        val emb = if (payload == null) Array.empty[Float] else codec.embed(payload, dim)
        Row.fromSeq(r.toSeq :+ emb.toSeq)
      }
    }(enc)
  }

  /** Audio decode pass: adds (sample_rate, channels, duration_ms,
    * rms). Partition-batched like the image passes. */
  def decodeAudio(df: DataFrame, payloadCol: String,
      codec: MediaCodec = ImageIoCodec): DataFrame = {
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField("sample_rate", DoubleType),
      StructField("channels", IntegerType),
      StructField("duration_ms", LongType),
      StructField("rms", DoubleType)))
    val enc = RowEncoder.encoderFor(outSchema)
    val idx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val payload = r.getAs[Array[Byte]](idx)
        val (rate, ch, dur, rms) =
          if (payload == null) (0.0, 0, 0L, 0.0) else codec.decodeAudio(payload)
        Row.fromSeq(r.toSeq ++ Seq[Any](rate, ch, dur, rms))
      }
    }(enc)
  }

  /** Audio embedding pass: filter-bank feature vector per payload. */
  def embedAudioMedia(df: DataFrame, payloadCol: String, dim: Int = 32,
      codec: MediaCodec = ImageIoCodec): DataFrame = {
    val outSchema = StructType(df.schema.fields :+
      StructField("audio_embedding", ArrayType(FloatType, containsNull = false)))
    val enc = RowEncoder.encoderFor(outSchema)
    val idx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val payload = r.getAs[Array[Byte]](idx)
        val emb = if (payload == null) Array.empty[Float] else codec.embedAudio(payload, dim)
        Row.fromSeq(r.toSeq :+ emb.toSeq)
      }
    }(enc)
  }

  /** Frame-sample pass (video): one output row per sampled frame. */
  def sampleFrames(df: DataFrame, payloadCol: String, idCol: String, n: Int,
      codec: MediaCodec = FakeCodec): DataFrame = {
    val outSchema = StructType(Seq(
      df.schema(idCol),
      StructField("frame_idx", IntegerType),
      StructField("frame_payload", BinaryType)))
    val enc = RowEncoder.encoderFor(outSchema)
    val pIdx = df.schema.fieldIndex(payloadCol)
    val iIdx = df.schema.fieldIndex(idCol)
    df.mapPartitions { rows =>
      rows.flatMap { r =>
        val payload = r.getAs[Array[Byte]](pIdx)
        if (payload == null) Iterator.empty
        else codec.sampleFrames(payload, n).iterator.zipWithIndex.map {
          case (frame, i) => Row(r.get(iIdx), i, frame)
        }
      }
    }(enc)
  }

  /** shared map-only 64-bit perceptual-hash pass: appends `outCol`
    * computed by `hash` over the payload bytes (null payload → 0L) */
  private def hashPass(df: DataFrame, payloadCol: String, outCol: String,
      hash: Array[Byte] => Long): DataFrame = {
    val outSchema = StructType(df.schema.fields :+
      StructField(outCol, LongType))
    val enc = RowEncoder.encoderFor(outSchema)
    val idx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val payload = r.getAs[Array[Byte]](idx)
        val h = if (payload == null) 0L else hash(payload)
        Row.fromSeq(r.toSeq :+ h)
      }
    }(enc)
  }

  /** Perceptual-hash pass: adds `image_hash` (the codec's 64-bit
    * dHash) — map-only like every decode pass; feed the result to
    * [[Dedup.hashCandidates]] for banded image near-dup. */
  def imageHashes(df: DataFrame, payloadCol: String,
      codec: MediaCodec = ImageIoCodec): DataFrame =
    hashPass(df, payloadCol, "image_hash", codec.imageHash)

  /** Audio-hash pass: adds `audio_hash` (the codec's 64-bit
    * adjacent-bin spectral sketch) — map-only like every decode
    * pass; feed the result to [[Dedup.hashCandidates]] for banded
    * audio near-dup. */
  def audioHashes(df: DataFrame, payloadCol: String,
      codec: MediaCodec = ImageIoCodec): DataFrame =
    hashPass(df, payloadCol, "audio_hash", codec.audioHash)

  /** Sampled-frame fingerprint pass for video near-dup: one row per
    * (video, sampled frame) with a 64-bit fingerprint of the ENCODED
    * frame bytes — demux-only, no decode, so it's EXACT matching at
    * the access-unit level (re-muxed/copied streams match; re-encoded
    * ones need the GPU perceptual stage downstream). The fingerprint
    * is the md5-family low-64 of the frame's lowercase-hex bytes, so
    * the stub codec's digest frames replay in oracle SQL as
    * `md5_number_lower(md5(payload || 'f<i>'))`. Feed the result to
    * [[graft.operators.Dedup.sharedFingerprintPairs]]. */
  def videoFingerprints(df: DataFrame, payloadCol: String, idCol: String,
      n: Int, codec: MediaCodec = ImageIoCodec): DataFrame = {
    require(n > 0, "sample at least one frame")
    val outSchema = StructType(Seq(
      df.schema(idCol),
      StructField("frame_idx", IntegerType),
      StructField("frame_fp", LongType)))
    val enc = RowEncoder.encoderFor(outSchema)
    val pIdx = df.schema.fieldIndex(payloadCol)
    val iIdx = df.schema.fieldIndex(idCol)
    df.mapPartitions { rows =>
      rows.flatMap { r =>
        val payload = r.getAs[Array[Byte]](pIdx)
        if (payload == null) Iterator.empty
        else codec.sampleFrames(payload, n).iterator.zipWithIndex.map {
          case (frame, i) =>
            val hex = frame.map("%02x".format(_)).mkString
            Row(r.get(iIdx), i,
              FakeCodec.md5Lower64(hex.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        }
      }
    }(enc)
  }

  /** Test fixture: derive a deterministic media table from any table's
    * string column (bytes = UTF-8 of the text). */
  def syntheticMediaTable(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).as("media_id"),
      col(textCol).cast(BinaryType).as("payload"),
      struct(
        lit("image").as("media_type"), lit("fake").as("format"),
        lit(null).cast(IntegerType).as("width"),
        lit(null).cast(IntegerType).as("height"),
        lit(null).cast(LongType).as("duration_ms")).as("meta"))
}
