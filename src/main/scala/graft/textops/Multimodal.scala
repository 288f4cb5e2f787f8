package graft.textops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, processed in partition-sized batches.
  *
  * The Spark-side design is real and tested — schema, partitioning by
  * media size (so one partition never holds too many decoded frames),
  * batch-shaped per-partition processing via the typed Dataset API (the
  * Scala analog of `mapInPandas` batches). IMAGES decode for real through
  * the JDK's pure-Java ImageIO readers (PNG/BMP/GIF/WBMP — `decode`,
  * `resizeImage`): width/height from actual pixels, content feature from
  * the luminance raster. AUDIO decodes for real for RIFF/WAVE PCM
  * (`decodeWav` — a pure-JVM chunk walk: duration from the data chunk,
  * per-window RMS features). VIDEO decodes for real for animated GIF
  * (`decodeGif` — frame count + per-frame delays from the stream's own
  * metadata, luminance features from evenly-sampled frames). Only
  * COMPRESSED codecs (MP3/AAC, MP4/H.264…) remain stubbed: no such
  * codecs ship in a bare JVM, so `decodeStub` produces a deterministic
  * fake with the exact signature a real decoder would have — swapping in
  * a codec is a one-function change.
  */
object Multimodal {

  /** Canonical media row. */
  final case class MediaRow(
      media_id: Long,
      kind: String, // image | audio | video
      media: Array[Byte],
      source: String
  )

  final case class MediaFeatures(
      media_id: Long,
      kind: String,
      n_bytes: Long,
      sha: String,
      width: Int, // images/video; -1 otherwise
      height: Int,
      duration_ms: Long, // audio/video; -1 otherwise
      feature: Array[Float] // fixed 8-dim content feature
  )

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("media", BinaryType, nullable = false),
    StructField("source", StringType, nullable = true)
  ))

  /** Deterministic synthetic media table (for tests/bench): payload bytes
    * are a seeded function of the id; kinds round-robin.
    */
  def synthetic(spark: SparkSession, n: Long, seed: Long = 42L): DataFrame = {
    val kinds = array(lit("image"), lit("audio"), lit("video"))
    spark.range(0, n).select(
      col("id").as("media_id"),
      element_at(kinds, (pmod(col("id"), lit(3L)) + 1).cast("int")).as("kind"),
      // payload: sha256 hex of (id, seed) repeated ~(1 + id%7) times
      repeat(sha2(concat(col("id").cast("string"), lit(seed.toString)), 256),
        (pmod(col("id"), lit(7L)) + 1).cast("int")).cast("binary").as("media"),
      concat(lit("synth://"), col("id")).as("source")
    )
  }

  /** STUB decoder — deterministic fake with a real decoder's signature.
    * A production build replaces the body with an actual codec call; the
    * batch shape, schema and partitioning stay identical.
    */
  def decodeStub(row: MediaRow): MediaFeatures = {
    val bytes = row.media
    val h = java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
    val sha = h.map("%02x".format(_)).mkString
    val b0 = java.lang.Byte.toUnsignedInt(h(0))
    val b1 = java.lang.Byte.toUnsignedInt(h(1))
    val isVisual = row.kind == "image" || row.kind == "video"
    val isTimed = row.kind == "audio" || row.kind == "video"
    MediaFeatures(
      media_id = row.media_id,
      kind = row.kind,
      n_bytes = bytes.length.toLong,
      sha = sha,
      width = if (isVisual) 16 * (b0 % 64 + 1) else -1,
      height = if (isVisual) 16 * (b1 % 64 + 1) else -1,
      duration_ms = if (isTimed) 1000L * (bytes.length % 300 + 1) else -1L,
      feature = Array.tabulate(8)(i => java.lang.Byte.toUnsignedInt(h(i)).toFloat / 255f)
    )
  }

  // ImageIO's default disk cache would create a temp file per decode on
  // every executor — pure memory streams instead.
  private lazy val imageIoReady: Boolean = {
    javax.imageio.ImageIO.setUseCache(false)
    true
  }

  /** Deterministic test WAV: mono 16-bit PCM at 8 kHz with samples
    * s_i = ((id*31 + i*17) mod 2001) - 1000 over `frames` frames — pure
    * integer math, so the decoded duration and per-window RMS features
    * are an exact closed-form function of (id, frames) that a SQL oracle
    * recomputes without touching WAV bytes. Use `frames` divisible by 8
    * so RMS windows align exactly. Drives the driver-checked
    * q_audio_features.
    */
  def syntheticWav(id: Long, frames: Int, sampleRate: Int = 8000): Array[Byte] = {
    val dataLen = frames * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(1) // mono
      .putInt(sampleRate)
      .putInt(sampleRate * 2) // byte rate
      .putShort(2) // block align
      .putShort(16) // bits per sample
    buf.put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < frames) {
      buf.putShort((((id * 31 + i.toLong * 17) % 2001) - 1000).toShort)
      i += 1
    }
    buf.array()
  }

  /** REAL audio decode for RIFF/WAVE PCM — a pure-JVM chunk walk, no
    * codec library: integer PCM (8/16/24/32-bit, format 1) and float32
    * (format 3), any channel count. Duration comes from the data chunk's
    * frame count over the sample rate; the 8-dim content feature is the
    * RMS amplitude of each of 8 equal time windows, channels mixed to
    * mono, normalized to [0,1] (per-window stride caps work at ~1k frames
    * per window for huge files — deterministic regardless of
    * partitioning). Compressed audio (MP3/AAC/OGG…) falls back to
    * `decodeStub` — the remaining declared seam: the JVM ships no
    * compressed-audio codecs.
    */
  def decodeWav(row: MediaRow): MediaFeatures =
    // poison-safe like the other decoders: a malformed RIFF (lying chunk
    // sizes, truncated fmt/data) must fall back to the stub, never fail
    // the task
    try decodeWavUnsafe(row) catch { case _: Exception => decodeStub(row) }

  private def decodeWavUnsafe(row: MediaRow): MediaFeatures = {
    val b = row.media
    def ascii(off: Int, s: String): Boolean =
      off >= 0 && b.length >= off + 4 && (0 until 4).forall(i => b(off + i) == s.charAt(i).toByte)
    if (b.length < 44 || !ascii(0, "RIFF") || !ascii(8, "WAVE")) return decodeStub(row)
    val bb = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    // chunk walk: find "fmt " and "data"
    var off = 12
    var fmtOff = -1; var dataOff = -1; var dataLen = 0
    while (off + 8 <= b.length && (fmtOff < 0 || dataOff < 0)) {
      val size = bb.getInt(off + 4)
      if (size < 0 || size > b.length) return decodeStub(row) // lying size would overflow off
      if (ascii(off, "fmt ")) fmtOff = off + 8
      else if (ascii(off, "data")) { dataOff = off + 8; dataLen = math.min(size, b.length - dataOff) }
      off += 8 + size + (size & 1) // chunks are word-aligned
    }
    if (fmtOff < 0 || fmtOff + 16 > b.length || dataOff < 0) return decodeStub(row)
    val fmt = bb.getShort(fmtOff) & 0xffff
    val channels = math.max(1, bb.getShort(fmtOff + 2) & 0xffff)
    val sampleRate = bb.getInt(fmtOff + 4)
    val bits = bb.getShort(fmtOff + 14) & 0xffff
    val okPcm = fmt == 1 && (bits == 8 || bits == 16 || bits == 24 || bits == 32)
    val okFloat = fmt == 3 && bits == 32
    if (sampleRate <= 0 || (!okPcm && !okFloat)) return decodeStub(row)
    val bytesPerSample = bits / 8
    val blockAlign = channels * bytesPerSample
    val frames = dataLen / blockAlign
    if (frames <= 0) return decodeStub(row)

    // mono mix of frame f, normalized to [-1, 1]
    def sample(f: Int): Double = {
      var c = 0; var acc = 0.0
      while (c < channels) {
        val p = dataOff + f * blockAlign + c * bytesPerSample
        val v = (fmt, bits) match {
          case (1, 8)  => (java.lang.Byte.toUnsignedInt(b(p)) - 128) / 128.0
          case (1, 16) => bb.getShort(p) / 32768.0
          case (1, 24) =>
            val raw = (java.lang.Byte.toUnsignedInt(b(p))) |
              (java.lang.Byte.toUnsignedInt(b(p + 1)) << 8) | (b(p + 2).toInt << 16)
            raw / 8388608.0
          case (1, 32) => bb.getInt(p) / 2147483648.0
          case _       => bb.getFloat(p).toDouble
        }
        acc += v; c += 1
      }
      acc / channels
    }

    val feat = new Array[Float](8)
    var w = 0
    while (w < 8) {
      val f0 = w * frames / 8
      val f1 = math.max(f0 + 1, (w + 1) * frames / 8)
      val stride = math.max(1, (f1 - f0) / 1024)
      var sum = 0.0; var cnt = 0
      var f = f0
      while (f < f1) {
        val v = sample(f)
        sum += v * v; cnt += 1
        f += stride
      }
      feat(w) = math.sqrt(sum / cnt).toFloat
      w += 1
    }
    decodeStub(row).copy(
      duration_ms = frames.toLong * 1000L / sampleRate,
      feature = feat)
  }

  /** Deterministic test PNG: a w x h RGB image painted in the SAME 4x2
    * grid `decode` samples, each cell a constant color derived from
    * (id, cell) by pure integer math — so the decoded luminance features
    * are an exact closed-form function of (id, w, h) that a SQL oracle
    * can recompute without touching PNG bytes (PNG is lossless for RGB;
    * the byte stream itself is encoder-dependent and deliberately NOT
    * part of the contract). Drives the driver-checked q_media_features.
    * Use w divisible by 4 and h by 2 so painted cells align exactly with
    * decode's grid.
    */
  def syntheticCellPng(id: Long, w: Int, h: Int): Array[Byte] = {
    imageIoReady
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val cell = (y * 2 / h) * 4 + (x * 4 / w)
        val r = ((id * 31 + cell * 97) % 256).toInt
        val g = ((id * 57 + cell * 13) % 256).toInt
        val b = ((id * 89 + cell * 41) % 256).toInt
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Deterministic test video: an animated GIF of `frames` solid-color
    * frames, each `cs` centiseconds long, colors a pure integer function
    * of (id, frame). GIF's 256-entry palette holds every color of a
    * solid frame exactly, so the per-frame luminance features decoded by
    * `decodeGif` are an exact closed-form function of (id, frame) a SQL
    * oracle can recompute without touching GIF bytes. Drives the
    * driver-checked q_video_frames.
    */
  def syntheticGif(id: Long, frames: Int, w: Int = 8, h: Int = 8, cs: Int = 10): Array[Byte] = {
    imageIoReady
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    var f = 0
    while (f < frames) {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val r = ((id * 31 + f * 97) % 256).toInt
      val g = ((id * 57 + f * 13) % 256).toInt
      val b = ((id * 89 + f * 41) % 256).toInt
      val g2 = img.createGraphics()
      g2.setColor(new java.awt.Color(r, g, b))
      g2.fillRect(0, 0, w, h)
      g2.dispose()
      val typeSpec = javax.imageio.ImageTypeSpecifier.createFromBufferedImageType(
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val meta = writer.getDefaultImageMetadata(typeSpec, writer.getDefaultWriteParam)
      val fmtName = meta.getNativeMetadataFormatName
      val root = meta.getAsTree(fmtName).asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
      val gce = new javax.imageio.metadata.IIOMetadataNode("GraphicControlExtension")
      gce.setAttribute("disposalMethod", "none")
      gce.setAttribute("userInputFlag", "FALSE")
      gce.setAttribute("transparentColorFlag", "FALSE")
      gce.setAttribute("delayTime", cs.toString)
      gce.setAttribute("transparentColorIndex", "0")
      root.appendChild(gce)
      meta.setFromTree(fmtName, root)
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, meta), null)
      f += 1
    }
    writer.endWriteSequence()
    writer.dispose()
    ios.close()
    bos.toByteArray
  }

  /** REAL video decode for animated GIF via the JDK's pure-Java GIF
    * reader — the one motion format a bare JVM can actually demux and
    * decode: frame count and per-frame delay come from the stream's own
    * GraphicControlExtension metadata (duration = Σ delays), and the
    * 8-dim content feature is the mean luminance of up to 8 frames
    * sampled evenly across the animation (each frame's raster strided
    * like `decode`; unused slots when the clip has <8 frames stay -1 so
    * "no frame" is distinguishable from "black frame"). Frames are read
    * as RAW rasters with no disposal/transparency compositing, and
    * width/height come from the last sampled frame — faithful for
    * full-frame GIFs (every frame covers the logical screen); an
    * optimized GIF whose frames are partial sub-rectangles would need
    * per-disposal compositing onto the logical screen descriptor before
    * these features (and the clip dimensions) are meaningful (ADVICE
    * r6). Real codec video (MP4/H.264/VP9…) falls back to `decodeStub`
    * — the remaining declared seam: the JVM ships no video codecs.
    */
  def decodeGif(row: MediaRow): MediaFeatures = {
    val b = row.media
    val isGif = b.length > 6 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F'
    if (!isGif) return decodeStub(row)
    imageIoReady
    // close the stream and dispose the reader on EVERY exit path — a
    // partition of short/poison rows must not accumulate reader
    // instances and cache buffers
    var iis: javax.imageio.stream.ImageInputStream = null
    var reader: javax.imageio.ImageReader = null
    try {
      iis = javax.imageio.ImageIO.createImageInputStream(new java.io.ByteArrayInputStream(b))
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) return decodeStub(row)
      reader = readers.next()
      reader.setInput(iis, false, false) // need metadata for delays
      val n = reader.getNumImages(true)
      if (n <= 0) return decodeStub(row)
      var durationCs = 0L
      var i = 0
      while (i < n) {
        val meta = reader.getImageMetadata(i)
        val root = meta.getAsTree(meta.getNativeMetadataFormatName)
        val kids = root.getChildNodes
        var k = 0
        var delay = 0
        while (k < kids.getLength) {
          val node = kids.item(k)
          if (node.getNodeName == "GraphicControlExtension")
            delay = node.asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
              .getAttribute("delayTime").toInt
          k += 1
        }
        durationCs += delay
        i += 1
      }
      // sample up to 8 frames evenly: slot f -> frame f*n/8 (first frame
      // always included); fewer than 8 frames -> distinct frames only
      val slots = math.min(8, n)
      val feat = Array.fill(8)(-1.0f)
      var s = 0
      var w = 0; var h = 0
      while (s < slots) {
        val idx = s * n / slots
        val img = reader.read(idx)
        w = img.getWidth; h = img.getHeight
        val strideX = math.max(1, w / 64); val strideY = math.max(1, h / 64)
        var sum = 0.0; var cnt = 0
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            sum += 0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
            cnt += 1
            x += strideX
          }
          y += strideY
        }
        feat(s) = (sum / (cnt * 255.0)).toFloat
        s += 1
      }
      decodeStub(row).copy(
        width = w, height = h,
        duration_ms = durationCs * 10L,
        feature = feat)
    } catch { case _: Exception => decodeStub(row) }
    finally {
      if (reader != null) try reader.dispose() catch { case _: Exception => () }
      if (iis != null) try iis.close() catch { case _: Exception => () }
    }
  }

  /** REAL image decode via the JDK's pure-Java ImageIO readers (PNG, BMP,
    * GIF, WBMP — no native codecs needed, so this works in any JVM
    * container). Width/height come from the actual pixel raster, and the
    * 8-dim content feature is the mean luminance of a 4x2 grid over the
    * image (strided sampling caps per-image work for huge rasters —
    * deterministic regardless of partitioning). Audio/video and
    * non-decodable image bytes fall back to `decodeStub`: the container
    * ships no audio/video codecs (the declared seam), and a poison blob
    * must never fail the batch.
    */
  def decode(row: MediaRow): MediaFeatures = {
    if (row.kind == "audio") decodeWav(row)
    else if (row.kind == "video") decodeGif(row)
    else if (row.kind != "image") decodeStub(row)
    else {
      val img =
        try {
          imageIoReady
          Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(row.media)))
        } catch { case _: Throwable => None }
      img match {
        case None => decodeStub(row)
        case Some(bi) =>
          val w = bi.getWidth
          val h = bi.getHeight
          val feat = new Array[Float](8)
          val strideX = math.max(1, w / 64)
          val strideY = math.max(1, h / 64)
          var gy = 0
          while (gy < 2) {
            var gx = 0
            while (gx < 4) {
              val x0 = gx * w / 4; val x1 = math.max(x0 + 1, (gx + 1) * w / 4)
              val y0 = gy * h / 2; val y1 = math.max(y0 + 1, (gy + 1) * h / 2)
              var sum = 0.0; var cnt = 0
              var y = y0
              while (y < y1) {
                var x = x0
                while (x < x1) {
                  val rgb = bi.getRGB(x, y)
                  // ITU-R BT.601 luma from the sRGB channels
                  sum += 0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
                  cnt += 1
                  x += strideX
                }
                y += strideY
              }
              feat(gy * 4 + gx) = (sum / (cnt * 255.0)).toFloat
              gx += 1
            }
            gy += 1
          }
          decodeStub(row).copy(width = w, height = h, feature = feat)
      }
    }
  }

  /** Feature extraction over size-balanced partitions: repartition by a
    * range on byte size so decode batches are even (a 100 MB video and a
    * 10 KB thumbnail shouldn't share a task queue position), then decode
    * per partition with the typed API — the Scala analog of mapInPandas
    * batches. Images, WAV audio, and GIF video decode for real (see
    * `decode`); compressed codecs stay on the stub seam.
    */
  def extractFeatures(media: DataFrame, partitions: Int = 0): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    val P = if (partitions > 0) partitions
            else spark.conf.get("spark.sql.shuffle.partitions").toInt
    media
      .withColumn("__sz", length(col("media")))
      .repartitionByRange(P, col("__sz"), col("media_id"))
      .drop("__sz")
      .as[MediaRow]
      .mapPartitions(_.map(decode))
  }

  /** Image resize via the JDK raster pipeline (bilinear) — returns PNG
    * bytes; the Spark-side shape is the same one-row-in/one-row-out batch
    * map as `decode`. Non-decodable input returns the original bytes
    * unchanged (poison-safe).
    */
  def resizeImage(bytes: Array[Byte], maxDim: Int): Array[Byte] = {
    val img =
      try {
        imageIoReady
        Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
      } catch { case _: Throwable => None }
    img match {
      case None => bytes
      case Some(bi) =>
        val scale = maxDim.toDouble / math.max(bi.getWidth, bi.getHeight)
        if (scale >= 1.0) bytes
        else {
          val nw = math.max(1, math.round(bi.getWidth * scale).toInt)
          val nh = math.max(1, math.round(bi.getHeight * scale).toInt)
          // preserve the alpha channel when the source has one — drawing
          // onto an RGB canvas would composite transparency to black
          val outType =
            if (bi.getColorModel.hasAlpha) java.awt.image.BufferedImage.TYPE_INT_ARGB
            else java.awt.image.BufferedImage.TYPE_INT_RGB
          val out = new java.awt.image.BufferedImage(nw, nh, outType)
          val g = out.createGraphics()
          g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g.drawImage(bi, 0, 0, nw, nh, null)
          g.dispose()
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(out, "png", bos)
          bos.toByteArray
        }
    }
  }

}
