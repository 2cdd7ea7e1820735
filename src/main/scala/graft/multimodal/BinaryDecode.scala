package graft.multimodal

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.imageio.{IIOImage, ImageIO}

import org.apache.spark.sql.{Dataset, SparkSession}

/** Typed metadata for one decoded media asset. `pix_sum` is the sum
  * of all R+G+B components over every pixel — a content checksum that
  * proves the decode read real pixels, not just the header. */
case class MediaMeta(doc_id: Long, n_bytes: Int, width: Int, height: Int,
                     channels: Int, header_hex: String, pix_sum: Long)

/** Typed metadata for one sampled frame of a multi-frame container. */
case class FrameMeta(doc_id: Long, frame_idx: Int, n_pixels: Int, pix_sum: Long)

/** Per-channel sums of one decoded frame — the shot-boundary detector
  * (#210) needs channel-separated statistics, because opposing channel
  * drifts cancel in the combined `pix_sum`. */
case class FrameChan(doc_id: Long, frame_idx: Int, n_pixels: Int,
                     r_sum: Long, g_sum: Long, b_sum: Long)

/** Multimodal binary-column handling: media content travels as an
  * opaque `binary` column; decode / feature-extraction runs
  * partition-wise over batches of payloads and emits a typed metadata
  * row per asset (or per frame).
  *
  * The codec is REAL: `javax.imageio` (bundled with the JDK) encodes
  * and decodes PNG (stills) and multi-frame GIF (the 1→N "video"
  * shape). Payloads stay off the driver, decoding is a narrow
  * per-partition map with no shuffle, and the output schema is a
  * typed Dataset — at 100 TB the decode parallelism is the partition
  * count and downstream joins touch only the few-dozen-byte metadata
  * rows.
  *
  * The synthetic generators (`syntheticPng` / `syntheticGif`) build
  * images whose dimensions and pixel fill are pure arithmetic in the
  * doc id, so an SQL oracle can recompute the decoded `pix_sum`
  * without a codec: a hash-match proves the encode→bytes→decode round
  * trip preserved every pixel (PNG and single-color GIF frames are
  * lossless).
  */
object BinaryDecode {

  // ImageIO's default read/write path spills through a temp-file
  // cache — pure overhead for in-memory byte-array codecs, and a
  // local-disk dependency executors shouldn't have.
  ImageIO.setUseCache(false)

  /** Dimensions of the synthetic image for doc `id`: 1..16 × 1..16,
    * both derived from the id so the oracle can recompute them. */
  def syntheticDims(id: Long): (Int, Int) =
    ((1 + id % 16).toInt, (1 + (id / 16) % 16).toInt)

  /** Pixel (x,y) of the synthetic image for doc `id` as (r,g,b).
    * Plain modular arithmetic — expressible in SQL for the oracle. */
  def syntheticPixel(id: Long, x: Int, y: Int): (Int, Int, Int) =
    (((id * 31 + x * 7 + y * 13) % 256).toInt,
     ((id * 17 + x * 5 + y * 11) % 256).toInt,
     ((id * 13 + x * 3 + y * 19) % 256).toInt)

  /** ViT-style patchify of one decoded image (#194): cut the raster
    * into `p`×`p` cells (edge cells keep their true, smaller pixel
    * count — no padding, so every output number is a statement about
    * real pixels) and accumulate per-cell pixel count and r+g+b sum
    * from the DECODED raster. Returns (patch_row, patch_col, n_pix,
    * rgb_sum) rows; fails loudly on an undecodable payload. */
  def patchesOne(id: Long, bytes: Array[Byte], p: Int): Seq[(Int, Int, Long, Long)] = {
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    require(img != null, s"doc $id: payload (${bytes.length} bytes) is not a decodable image")
    val (w, h) = (img.getWidth, img.getHeight)
    val rows = (h + p - 1) / p
    val cols = (w + p - 1) / p
    val nPix = Array.ofDim[Long](rows, cols)
    val sum = Array.ofDim[Long](rows, cols)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val s = ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
        nPix(y / p)(x / p) += 1
        sum(y / p)(x / p) += s
        x += 1
      }
      y += 1
    }
    for (r <- 0 until rows; c <- 0 until cols)
      yield (r, c, nPix(r)(c), sum(r)(c))
  }

  /** Per-channel 4-bucket luminance histogram of one DECODED image
    * (#243): bucket = value >> 6 (exact 64-wide bins, no float
    * boundary), counted from the real raster. Returns (channel,
    * bucket, n_px) rows; channel 0/1/2 = R/G/B (the getRGB bit
    * layout). Fails loudly on an undecodable payload. */
  def channelHistogramOne(id: Long, bytes: Array[Byte]): Seq[(Int, Int, Long)] = {
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    require(img != null, s"doc $id: payload (${bytes.length} bytes) is not a decodable image")
    val counts = Array.ofDim[Long](3, 4)
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val rgb = img.getRGB(x, y)
        counts(0)(((rgb >> 16) & 0xff) >> 6) += 1
        counts(1)(((rgb >> 8) & 0xff) >> 6) += 1
        counts(2)((rgb & 0xff) >> 6) += 1
        x += 1
      }
      y += 1
    }
    for (c <- 0 until 3; b <- 0 until 4 if counts(c)(b) > 0)
      yield (c, b, counts(c)(b))
  }

  /** Per-image 16-bucket GRAY histogram of one DECODED image (#283):
    * gray = (r+g+b)/3 (integer), bucket = gray >> 4 — exact 16-wide
    * bins, no float boundary — counted from the real raster. Returns
    * (bucket, n_px) rows for nonzero buckets; fails loudly on an
    * undecodable payload. */
  def grayHistogramOne(id: Long, bytes: Array[Byte]): Seq[(Int, Long)] = {
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    require(img != null, s"doc $id: payload (${bytes.length} bytes) is not a decodable image")
    val counts = Array.ofDim[Long](16)
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val rgb = img.getRGB(x, y)
        val g = (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3
        counts(g >> 4) += 1
        x += 1
      }
      y += 1
    }
    for (b <- 0 until 16 if counts(b) > 0) yield (b, counts(b))
  }

  /** A real PNG payload for doc `id`: deterministic dimensions and
    * pixel fill, encoded by the JDK's PNG writer. */
  def syntheticPng(id: Long): Array[Byte] = {
    val (w, h) = syntheticDims(id)
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val (r, g, b) = syntheticPixel(id, x, y)
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Real decode of one payload via `javax.imageio`: dimensions,
    * channel count and pixel checksum come from the decoded raster.
    * Fails loudly on an undecodable payload — silently fabricated
    * metadata would poison every downstream join. */
  def decodeOne(id: Long, bytes: Array[Byte]): MediaMeta = {
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    require(img != null, s"doc $id: payload (${bytes.length} bytes) is not a decodable image")
    val header = bytes.take(4).map(b => f"$b%02X").mkString
    MediaMeta(id, bytes.length, img.getWidth, img.getHeight,
      img.getColorModel.getNumComponents, header, pixSum(img))
  }

  private def pixSum(img: BufferedImage): Long = {
    var sum = 0L
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val rgb = img.getRGB(x, y)
        sum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
        x += 1
      }
      y += 1
    }
    sum
  }

  /** Partition-wise decode of (id, payload) batches. */
  def decodeBatch(rows: Iterator[(Long, Array[Byte])]): Iterator[MediaMeta] =
    rows.map { case (id, bytes) => decodeOne(id, bytes) }

  /** Decode a Dataset of (id, payload) rows into typed metadata. */
  def decode(spark: SparkSession, ds: Dataset[(Long, Array[Byte])]): Dataset[MediaMeta] = {
    import spark.implicits._
    ds.mapPartitions(decodeBatch)
  }

  /** A real multi-frame GIF payload: `nFrames` solid-color 8×4
    * frames, each frame's color a pure function of (id, frame).
    * Solid frames round-trip exactly through GIF's 256-color palette,
    * so the per-frame checksum stays oracle-derivable. */
  def syntheticGif(id: Long, nFrames: Int): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      var f = 0
      while (f < nFrames) {
        val (r, g, b) = syntheticPixel(id, f, 0)
        val img = new BufferedImage(8, 4, BufferedImage.TYPE_INT_RGB)
        val rgb = (r << 16) | (g << 8) | b
        var i = 0
        while (i < 32) { img.setRGB(i % 8, i / 8, rgb); i += 1 }
        writer.writeToSequence(new IIOImage(img, null, null), null)
        f += 1
      }
      writer.endWriteSequence()
    } finally {
      writer.dispose()
      ios.close()
    }
    bos.toByteArray
  }

  /** Real frame sampling: decode every `everyN`-th frame of a
    * multi-frame GIF container and emit bounded per-frame metadata —
    * the 1→N decode shape a video extractor produces. */
  def frameSample(id: Long, bytes: Array[Byte], everyN: Int): Seq[FrameMeta] = {
    // fail loudly at the API boundary (review r17): everyN = 0 used to
    // surface as Range's opaque executor-side "step cannot be 0", and
    // a negative stride silently returned no frames
    require(everyN >= 1, s"everyN must be >= 1, got $everyN")
    gifFrames(bytes, everyN) { (f, img) =>
      FrameMeta(id, f, img.getWidth * img.getHeight, pixSum(img))
    }
  }

  /** Every `everyN`-th frame of a GIF container through one ImageIO
    * reader, disposed on every path; an empty payload has no frames. */
  private def gifFrames[A](bytes: Array[Byte], everyN: Int)(
      frame: (Int, BufferedImage) => A): Seq[A] = {
    if (bytes.isEmpty) return Seq.empty
    val reader = ImageIO.getImageReadersByFormatName("gif").next()
    val ios = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
    try {
      reader.setInput(ios)
      val n = reader.getNumImages(true)
      (0 until n by everyN).map(f => frame(f, reader.read(f)))
    } finally { reader.dispose(); ios.close() }
  }

  /** Partition-wise frame sampling over (id, payload) batches. */
  def frameSampleBatch(everyN: Int)(
      rows: Iterator[(Long, Array[Byte])]): Iterator[FrameMeta] =
    rows.flatMap { case (id, bytes) => frameSample(id, bytes, everyN) }

  /** Decode EVERY frame of a GIF container with per-channel sums —
    * the shot-boundary detector's input (#210). Same reader lifecycle
    * as [[frameSample]]; stride 1 because consecutive-frame deltas
    * are the whole point. */
  def frameChannels(id: Long, bytes: Array[Byte]): Seq[FrameChan] =
    gifFrames(bytes, 1) { (f, img) =>
      var (rs, gs, bs) = (0L, 0L, 0L)
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) {
          val rgb = img.getRGB(x, y)
          rs += (rgb >> 16) & 0xff; gs += (rgb >> 8) & 0xff; bs += rgb & 0xff
          x += 1
        }
        y += 1
      }
      FrameChan(id, f, img.getWidth * img.getHeight, rs, gs, bs)
    }

  def frameChannelsBatch(
      rows: Iterator[(Long, Array[Byte])]): Iterator[FrameChan] =
    rows.flatMap { case (id, bytes) => frameChannels(id, bytes) }

  /** Real resize: decode, nearest-neighbor scale to w×h on a fresh
    * raster, re-encode as PNG. Output dimensions are fixed and
    * independent of input size — the property downstream batch sizing
    * relies on. */
  def resizePng(bytes: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val src = ImageIO.read(new ByteArrayInputStream(bytes))
    require(src != null, s"resizePng: payload (${bytes.length} bytes) is not a decodable image")
    val out = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        out.setRGB(x, y, src.getRGB(x * src.getWidth / w, y * src.getHeight / h))
        x += 1
      }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(out, "png", bos)
    bos.toByteArray
  }

  /** Metadata of one 2× block-average downsample: input/output
    * dimensions plus the checksum of the downsampled raster. */
  case class DownsampleMeta(doc_id: Long, in_w: Int, in_h: Int,
                            out_w: Int, out_h: Int, out_pix_sum: Long)

  /** Real 2× downsample with EXACT integer arithmetic: each output
    * pixel is the per-channel floor-average of its (up to 2×2) source
    * block. Unlike `resizePng`'s nearest-neighbor re-encode, every
    * output value is an integer function of the decoded pixels, so an
    * SQL oracle can recompute `out_pix_sum` from the synthetic-pixel
    * formula — the hash match proves decode AND downsample arithmetic
    * end-to-end. Odd dimensions keep their trailing 1-wide blocks
    * (output is ⌈w/2⌉ × ⌈h/2⌉, nothing cropped). */
  def downsampleOne(id: Long, bytes: Array[Byte]): DownsampleMeta = {
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    require(img != null, s"doc $id: payload (${bytes.length} bytes) is not a decodable image")
    val w = img.getWidth; val h = img.getHeight
    val ow = (w + 1) / 2; val oh = (h + 1) / 2
    var sum = 0L
    var yy = 0
    while (yy < oh) {
      var xx = 0
      while (xx < ow) {
        var rs = 0; var gs = 0; var bs = 0; var bn = 0
        var y = 2 * yy
        while (y < math.min(2 * yy + 2, h)) {
          var x = 2 * xx
          while (x < math.min(2 * xx + 2, w)) {
            val rgb = img.getRGB(x, y)
            rs += (rgb >> 16) & 0xff; gs += (rgb >> 8) & 0xff; bs += rgb & 0xff
            bn += 1
            x += 1
          }
          y += 1
        }
        sum += rs / bn + gs / bn + bs / bn
        xx += 1
      }
      yy += 1
    }
    DownsampleMeta(id, w, h, ow, oh, sum)
  }

  /** Partition-wise downsample of (id, payload) batches. */
  def downsample(spark: SparkSession,
                 ds: Dataset[(Long, Array[Byte])]): Dataset[DownsampleMeta] = {
    import spark.implicits._
    ds.mapPartitions(_.map { case (id, bytes) => downsampleOne(id, bytes) })
  }

  // ---------------------------------------------------------------
  // Perceptual hashing (dHash) — round 10
  // ---------------------------------------------------------------

  /** dHash grid: 9×8 grayscale samples → 64 horizontal-gradient bits.
    * The standard perceptual-hash configuration (Krawetz's dHash). */
  val PhashGridW = 9
  val PhashGridH = 8
  /** Synthetic phash images are a fixed 16×16 (unlike the 1..16²
    * #80 family) so the 9×8 sample grid always hits distinct pixels. */
  val PhashImgSize = 16

  /** Grayscale value of pixel (x,y) of phash GROUP `g`: the first
    * byte of md5("g:x:y") — the repo's md5-portable determinism
    * pattern, so a SQL oracle recomputes it engine-identically, and
    * pixel values are high-entropy (a smooth-gradient fill makes
    * dHash bands collapse onto few values — measured 9.1M candidate
    * pairs at the 10× stress scale vs 380k with md5 pixels). */
  def phashPixel(g: Long, x: Int, y: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
    val h = d.digest(s"$g:$x:$y".getBytes("UTF-8"))
    h(0) & 0xff
  }

  /** Position of the single perturbed sample: must be ON the 9×8
    * sample grid (x ∈ {⌊16·gx/9⌋}, y even) so variants differ in
    * exactly one sampled value → ≤ 2 dHash bits → pigeonhole-complete
    * recall under 4×16-bit bands at hamming ≤ 3. */
  val PhashPerturbX = 7
  val PhashPerturbY = 6

  /** A real 16×16 grayscale PNG for doc `id`. Docs form near-dup
    * GROUPS of 4: group g = id/4 fixes the md5-pixel fill; variant
    * v = id%4 brightens the single sampled pixel (7,6) by v·97
    * (mod 256, exact arithmetic — no clamp, so the oracle recomputes
    * it). r=g=b, so decoded gray comparisons equal pixel-value
    * comparisons. */
  def syntheticPhashPng(id: Long): Array[Byte] = {
    val g = id / 4
    val v = (id % 4).toInt
    val img = new BufferedImage(PhashImgSize, PhashImgSize, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < PhashImgSize) {
      var x = 0
      while (x < PhashImgSize) {
        val base = phashPixel(g, x, y)
        val p = if (x == PhashPerturbX && y == PhashPerturbY) (base + v * 97) % 256 else base
        img.setRGB(x, y, (p << 16) | (p << 8) | p)
        x += 1
      }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Real dHash of one payload: decode via `javax.imageio`, sample a
    * 9×8 grayscale grid nearest-neighbor (sx = ⌊x·w/9⌋, sy = ⌊y·h/8⌋),
    * bit (y·8+x) = gray(x+1,y) > gray(x,y). Gray is the R+G+B sum —
    * monotone in the per-channel values, so comparisons match the
    * oracle's single-channel arithmetic on r=g=b images. Bit 63 adds
    * Long.MinValue (= +2^63 two's complement), the simhash packing. */
  def dhashOne(id: Long, bytes: Array[Byte]): Long = {
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    require(img != null, s"doc $id: payload (${bytes.length} bytes) is not a decodable image")
    val w = img.getWidth; val h = img.getHeight
    def gray(gx: Int, gy: Int): Int = {
      val rgb = img.getRGB(gx * w / PhashGridW, gy * h / PhashGridH)
      ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
    }
    var hash = 0L
    var gy = 0
    while (gy < PhashGridH) {
      var gx = 0
      while (gx < PhashGridW - 1) {
        if (gray(gx + 1, gy) > gray(gx, gy)) {
          val i = gy * 8 + gx
          hash += (if (i == 63) Long.MinValue else 1L << i)
        }
        gx += 1
      }
      gy += 1
    }
    hash
  }

  // ---------------------------------------------------------------
  // Audio (PCM WAV) — round 11
  // ---------------------------------------------------------------

  /** Typed metadata for one decoded audio clip: format fields from
    * the codec's `AudioFormat`, plus content features (absolute-value
    * sum and peak over every sample) that prove the decode read real
    * PCM words, not just the RIFF header. */
  case class AudioMeta(doc_id: Long, sample_rate: Int, n_samples: Int,
                       sum_abs: Long, peak: Int)

  /** PCM sample `s` of the synthetic clip for doc `id`: a full-range
    * signed 16-bit value from pure modular arithmetic (the #80
    * pixel-formula pattern), so a SQL oracle recomputes the decoded
    * features engine-identically. */
  def audioSample(id: Long, s: Int): Int =
    (((id * 37 + s.toLong * 11) % 65536) - 32768).toInt

  /** Number of samples in doc `id`'s clip: 100..500. */
  def audioLen(id: Long): Int = ((id % 5) + 1).toInt * 100

  /** A real RIFF/WAVE payload for doc `id`: PCM16 little-endian mono
    * at 8 kHz, hand-assembled header + samples (WAV PCM is a plain
    * container — writing it needs no codec; READING it below goes
    * through `javax.sound.sampled`, the JDK's real audio stack, so a
    * malformed container fails loudly rather than round-tripping). */
  def syntheticWav(id: Long): Array[Byte] = {
    val n = audioLen(id)
    val dataLen = n * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1)              // PCM
      .putShort(1)              // mono
      .putInt(8000)             // sample rate
      .putInt(8000 * 2)         // byte rate
      .putShort(2)              // block align
      .putShort(16)             // bits per sample
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    var s = 0
    while (s < n) { buf.putShort(audioSample(id, s).toShort); s += 1 }
    buf.array()
  }

  /** Real decode of one WAV payload via `javax.sound.sampled`:
    * format fields come from the parsed `AudioFormat`, samples from
    * the decoded PCM stream. Fails loudly on an undecodable payload
    * (same policy as [[decodeOne]]). */
  def decodeWavOne(id: Long, bytes: Array[Byte]): AudioMeta =
    wavSamples(id, bytes) { (fmt, bb) =>
      var sumAbs = 0L
      var peak = 0
      var n = 0
      while (bb.remaining() >= 2) {
        val v = bb.getShort.toInt
        sumAbs += math.abs(v)
        peak = math.max(peak, math.abs(v))
        n += 1
      }
      AudioMeta(id, fmt.getSampleRate.toInt, n, sumAbs, peak)
    }

  /** Opens one WAV payload via `javax.sound.sampled`, requires 16-bit
    * mono PCM and hands its format and decoded samples (a buffer in
    * the stream's byte order) to `body`; the stream is closed on every
    * path. */
  private def wavSamples[A](id: Long, bytes: Array[Byte])(
      body: (javax.sound.sampled.AudioFormat, java.nio.ByteBuffer) => A): A = {
    val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new ByteArrayInputStream(bytes))
    try {
      val fmt = in.getFormat
      require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1,
        s"doc $id: unexpected WAV format $fmt")
      val data = in.readAllBytes()
      body(fmt, java.nio.ByteBuffer.wrap(data).order(
        if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
        else java.nio.ByteOrder.LITTLE_ENDIAN))
    } finally in.close()
  }

  /** Partition-wise WAV decode of (id, payload) batches. */
  def decodeWavBatch(rows: Iterator[(Long, Array[Byte])]): Iterator[AudioMeta] =
    rows.map { case (id, bytes) => decodeWavOne(id, bytes) }

  /** One fixed-width energy window of a decoded clip: sample count
    * and |sample| sum — the exact-integer per-window state #278's VAD
    * segmentation runs on. */
  case class AudioWindow(doc_id: Long, win_idx: Int, n_samples: Int,
                         sum_abs: Long)

  /** Real decode of one WAV payload folded into `win`-sample energy
    * windows (same `javax.sound.sampled` path and format checks as
    * [[decodeWavOne]] — a malformed container fails loudly). */
  def decodeWavWindowsOne(id: Long, bytes: Array[Byte],
                          win: Int): Seq[AudioWindow] =
    wavSamples(id, bytes) { (_, bb) =>
      val out = scala.collection.mutable.ArrayBuffer.empty[AudioWindow]
      var wIdx = 0
      var n = 0
      var sumAbs = 0L
      while (bb.remaining() >= 2) {
        sumAbs += math.abs(bb.getShort.toInt)
        n += 1
        if (n == win) {
          out += AudioWindow(id, wIdx, n, sumAbs)
          wIdx += 1; n = 0; sumAbs = 0L
        }
      }
      if (n > 0) out += AudioWindow(id, wIdx, n, sumAbs)
      out.toSeq
    }

  /** Partition-wise windowed WAV decode of (id, payload) batches. */
  def decodeWavWindowsBatch(rows: Iterator[(Long, Array[Byte])],
                            win: Int): Iterator[AudioWindow] =
    rows.flatMap { case (id, bytes) => decodeWavWindowsOne(id, bytes, win) }
}
