package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video as opaque `BINARY` payloads
  * with typed metadata, plus distributed decode / feature-extract / resize /
  * frame-sample operators.
  *
  * The Spark-side shape is real and tested — schema, partitioning, batch
  * iteration (`mapPartitions` over an iterator, the Scala analogue of
  * `mapInPandas`), and output schemas. [[MediaCodec.decode]] REALLY decodes
  * every format reachable without third-party libraries — 24-bit BMP,
  * 16-bit PCM WAV, PNG and binary PNM by pure byte arithmetic
  * (spec-gated against hand-built files), and JPEG through the JDK's
  * own bundled ImageIO reader — and falls back to a deterministic md5
  * stub for the rest (MP3/video need codec libraries this container
  * does not ship); swap in ffmpeg-backed branches in production,
  * nothing else changes.
  *
  * Scale notes: payloads stay opaque binary until the last possible moment
  * (no shuffle ever carries decoded frames); decode runs partition-local
  * after a `repartition` on media_id so one task touches one shard of
  * payloads; metadata-only queries never deserialize payloads at all thanks
  * to parquet column pruning.
  */
object Multimodal {

  /** Canonical media table schema: opaque payload + typed metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false), // image|audio|video
    StructField("payload", BinaryType, nullable = true),
    StructField("mime", StringType, nullable = true),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("duration_ms", LongType, nullable = true),
    StructField("caption", StringType, nullable = true)
  ))

  /** Media codec: REAL decoders for every format reachable without a
    * third-party library — BMP (24-bit uncompressed BI_RGB) and WAV
    * (16-bit PCM) by pure byte arithmetic, PNG (8-bit
    * gray/RGB/palette/RGBA, non-interlaced) via the JDK's own zlib
    * `Inflater` plus the spec's five scanline filters, binary PNM, and
    * JPEG (baseline + progressive JFIF/Exif) via the JDK's bundled
    * ImageIO reader (deterministic for a fixed JDK — the decoder is
    * pure Java, no platform codec) — and a deterministic md5 stub for
    * the rest (MP3/video need codec libraries this container does not
    * ship; swap in ffmpeg-backed branches in production, nothing else
    * changes). Features are n contiguous-slice means over the decoded
    * signal — pixel luminance in [0,1] for BMP/PNG, absolute amplitude
    * in [0,1] for WAV — computed in exact integer sums before one final
    * division, so they are bit-deterministic under any partitioning.
    * Malformed or truncated headers fall back to the stub rather than
    * throwing: a poison payload must not kill a 10⁹-row decode stage.
    *
    * Stub feature `j` is the first 60 bits of `md5(payload ++ ascii(j))`
    * scaled to [0, 1): same bytes → same features, and — because MD5 is
    * available in every engine — the stub feature table is reproducible
    * by the DuckDB correctness oracle (the gate corpus is text bytes,
    * which no real branch claims). */
  object MediaCodec {
    def decode(payload: Array[Byte], n: Int): Array[Double] =
      try {
        if (isBmp(payload)) bmpFeatures(payload, n)
        else if (isWav(payload)) wavFeatures(payload, n)
        else if (isPng(payload)) pngFeatures(payload, n)
        else if (isPnm(payload)) pnmFeatures(payload, n)
        else if (isJpeg(payload)) jpegFeatures(payload, n)
        else stubFeatures(payload, n)
      } catch { case _: IndexOutOfBoundsException |
                     _: ArithmeticException => stubFeatures(payload, n) }

    private def le16(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    private def le32(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
        ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)

    private def be32(b: Array[Byte], o: Int): Int =
      ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) |
        ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)

    private[graft] def isBmp(b: Array[Byte]): Boolean =
      b.length >= 54 && b(0) == 'B' && b(1) == 'M' &&
        le16(b, 28) == 24 && le32(b, 30) == 0 // 24-bit, BI_RGB only
    private[graft] def isWav(b: Array[Byte]): Boolean =
      b.length >= 44 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == 'F' && b(8) == 'W' && b(9) == 'A' && b(10) == 'V' &&
        b(11) == 'E'
    private[graft] def isPng(b: Array[Byte]): Boolean =
      b.length >= 8 && (b(0) & 0xff) == 0x89 && b(1) == 'P' &&
        b(2) == 'N' && b(3) == 'G' && b(4) == 0x0d && b(5) == 0x0a &&
        b(6) == 0x1a && b(7) == 0x0a

    /** SOI marker + the lead byte of the next segment marker — the
      * JFIF/Exif magic every JPEG stream starts with. */
    private[graft] def isJpeg(b: Array[Byte]): Boolean =
      b.length >= 3 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8 &&
        (b(2) & 0xff) == 0xff

    /** JPEG decode via the JDK's bundled ImageIO reader — pure Java
      * (no platform codec), so the decoded raster is deterministic for
      * a fixed JDK; the in-memory stream cache is disabled so executor
      * threads never touch a temp directory. Undecodable streams
      * (truncated entropy data, CMYK variants the reader rejects, …)
      * return None — the caller's stub arm, a poison payload must not
      * kill a 10⁹-row decode stage. */
    private def jpegImage(b: Array[Byte])
        : Option[java.awt.image.BufferedImage] =
      try {
        javax.imageio.ImageIO.setUseCache(false)
        Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b)))
          .filter(im => im.getWidth > 0 && im.getHeight > 0)
      } catch { case scala.util.control.NonFatal(_) => None }

    /** JPEG features: per-slice mean `(r+g+b)/(3·255)` over the decoded
      * raster in row-major order — the identical convention (and exact
      * integer sums) as [[bmpFeatures]]/[[pngFeatures]]. */
    private def jpegFeatures(b: Array[Byte], n: Int): Array[Double] = {
      val img = jpegImage(b)
      if (img.isEmpty) return stubFeatures(b, n)
      val im = img.get
      val w = im.getWidth; val h = im.getHeight
      val px = im.getRGB(0, 0, w, h, null, 0, w)
      val total = w * h
      val out = new Array[Double](n)
      var j = 0
      while (j < n) {
        val from = bound(j, total, n); val until = bound(j + 1, total, n)
        var sum = 0L
        var p = from
        while (p < until) {
          val v = px(p)
          sum += ((v >> 16) & 0xff) + ((v >> 8) & 0xff) + (v & 0xff)
          p += 1
        }
        out(j) = if (until == from) 0.0
                 else sum.toDouble / (3.0 * 255.0 * (until - from))
        j += 1
      }
      out
    }

    private def grayJpeg(b: Array[Byte]): Option[(Int, Int, Array[Int])] =
      jpegImage(b).map { im =>
        val w = im.getWidth; val h = im.getHeight
        val px = im.getRGB(0, 0, w, h, null, 0, w)
        val g = new Array[Int](w * h)
        var p = 0
        while (p < g.length) {
          val v = px(p)
          g(p) = (((v >> 16) & 0xff) + ((v >> 8) & 0xff) + (v & 0xff)) / 3
          p += 1
        }
        (w, h, g)
      }

    private[graft] def isPnm(b: Array[Byte]): Boolean =
      b.length >= 10 && b(0) == 'P' && (b(1) == '5' || b(1) == '6') &&
        (b(2) == ' ' || b(2) == '\t' || b(2) == '\n' || b(2) == '\r' ||
          b(2) == '#')

    /** Parse the PNM ASCII header after the magic: up to `count` decimal
    * tokens separated by whitespace, `#` comments running to newline.
    * Returns (tokens, offset-after-single-whitespace) or None if the
    * header is not strictly well-formed (random bytes must fall
    * through to the stub). */
    private def pnmHeader(b: Array[Byte],
        count: Int): Option[(Array[Int], Int)] = {
      val out = new Array[Int](count)
      var got = 0
      var o = 2
      while (got < count) {
        // skip whitespace and comments
        var progressed = true
        while (progressed && o < b.length) {
          progressed = false
          while (o < b.length && (b(o) == ' ' || b(o) == '\t' ||
              b(o) == '\n' || b(o) == '\r')) { o += 1; progressed = true }
          if (o < b.length && b(o) == '#') {
            while (o < b.length && b(o) != '\n') o += 1
            progressed = true
          }
        }
        var v = 0L
        val start = o
        while (o < b.length && b(o) >= '0' && b(o) <= '9' &&
            v <= (1 << 20)) {
          v = v * 10 + (b(o) - '0'); o += 1
        }
        if (o == start || v > (1 << 20)) return None
        out(got) = v.toInt
        got += 1
      }
      // exactly ONE whitespace byte separates header from raster
      if (o >= b.length || !(b(o) == ' ' || b(o) == '\t' || b(o) == '\n' ||
          b(o) == '\r')) return None
      Some((out, o + 1))
    }

    /** Binary PPM (P6, 24-bit RGB) / PGM (P5, 8-bit gray), maxval 255:
      * per-slice mean luminance in storage order — P6 uses the same
      * `(r+g+b)/(3·255)` convention as [[bmpFeatures]], P5 `gray/255`.
      * Anything not strictly conformant (wrong maxval, short raster,
      * malformed header) falls to the stub. */
    private def pnmFeatures(b: Array[Byte], n: Int): Array[Double] = {
      val gray = b(1) == '5'
      val parsed = pnmHeader(b, 3)
      if (parsed.isEmpty) return stubFeatures(b, n)
      val (hdr, off) = parsed.get
      val width = hdr(0); val height = hdr(1); val maxval = hdr(2)
      val bpp = if (gray) 1 else 3
      val total = width * height
      if (width <= 0 || height <= 0 || maxval != 255 ||
          off.toLong + total.toLong * bpp > b.length)
        return stubFeatures(b, n)
      val out = new Array[Double](n)
      var j = 0
      while (j < n) {
        val from = bound(j, total, n); val until = bound(j + 1, total, n)
        var sum = 0L
        var p = from
        while (p < until) {
          val base = off + p * bpp
          if (gray) sum += (b(base) & 0xff)
          else sum += (b(base) & 0xff) + (b(base + 1) & 0xff) +
            (b(base + 2) & 0xff)
          p += 1
        }
        out(j) = if (until == from) 0.0
                 else sum.toDouble / (bpp * 255.0 * (until - from))
        j += 1
      }
      out
    }

    /** Slice boundary i·total/n — the standard equal-partition rule. */
    @inline private def bound(i: Int, total: Int, n: Int): Int =
      ((i.toLong * total) / n).toInt

    /** REAL nearest-neighbor resize for the dependency-free raster
      * formats — binary PNM (P5/P6) re-encodes as the same PNM, 24-bit
      * BMP re-encodes as a minimal 54-byte-header bottom-up BMP (pixel
      * rows sampled in STORAGE order, the same convention the feature
      * extractor uses). Source pixel = `(x·srcW/dstW, y·srcH/dstH)`
      * floor — the standard NN rule. Returns None for payloads the
      * codec cannot decode (caller falls back to the stub), exactly
      * mirroring the feature extractor's decode gate. */
    private[graft] def resizeRaster(b: Array[Byte], w: Int,
        h: Int): Option[Array[Byte]] =
      if (w <= 0 || h <= 0) None
      else if (isPnm(b)) resizePnm(b, w, h)
      else if (isBmp(b)) resizeBmp(b, w, h)
      else if (isPng(b)) resizePng(b, w, h)
      else None

    /** Nearest-neighbor AUDIO resample for 16-bit PCM WAV — the audio
      * analog of [[resizeRaster]]: walk the RIFF chunks with the same
      * gate as the feature branch (PCM, 16-bit), pick source FRAMES at
      * `floor(i·srcFrames/dstFrames)` (all channels of a frame move
      * together), and re-encode a canonical 44-byte-header WAV at
      * `targetHz`. Duration is preserved by construction
      * (`dstFrames = floor(srcFrames·targetHz/srcRate)`, min 1 when any
      * source frame exists); returns None outside the decode gate. */
    private[graft] def resampleWav(b: Array[Byte],
        targetHz: Int): Option[Array[Byte]] = {
      if (targetHz <= 0 || !isWav(b)) return None
      var o = 12
      var dataOff = -1; var dataLen = 0
      var fmtOk = false; var channels = 0; var srcRate = 0
      while (o + 8 <= b.length && (dataOff < 0 || !fmtOk)) {
        val size = le32(b, o + 4)
        if (size < 0) return None
        if (b(o) == 'f' && b(o + 1) == 'm' && b(o + 2) == 't' &&
            b(o + 3) == ' ') {
          fmtOk = size >= 16 && le16(b, o + 8) == 1 && le16(b, o + 22) == 16
          if (size >= 16 && !fmtOk) return None
          if (fmtOk) {
            channels = le16(b, o + 10)
            srcRate = le32(b, o + 12)
          }
        } else if (b(o) == 'd' && b(o + 1) == 'a' && b(o + 2) == 't' &&
            b(o + 3) == 'a') {
          dataOff = o + 8
          dataLen = math.min(size, b.length - dataOff)
        }
        o += 8 + size + (size & 1)
      }
      if (!fmtOk || dataOff < 0 || channels < 1 || srcRate < 1) return None
      val frameBytes = 2 * channels
      val srcFrames = dataLen / frameBytes
      val dstFrames =
        if (srcFrames == 0) 0
        else math.max(1L, srcFrames.toLong * targetHz / srcRate).toInt
      val outData = dstFrames * frameBytes
      val out = new Array[Byte](44 + outData)
      def putLe32(p: Int, v: Int): Unit = {
        out(p) = (v & 0xff).toByte; out(p + 1) = ((v >> 8) & 0xff).toByte
        out(p + 2) = ((v >> 16) & 0xff).toByte
        out(p + 3) = ((v >> 24) & 0xff).toByte
      }
      def putLe16(p: Int, v: Int): Unit = {
        out(p) = (v & 0xff).toByte; out(p + 1) = ((v >> 8) & 0xff).toByte
      }
      System.arraycopy("RIFF".getBytes, 0, out, 0, 4)
      putLe32(4, 36 + outData)
      System.arraycopy("WAVE".getBytes, 0, out, 8, 4)
      System.arraycopy("fmt ".getBytes, 0, out, 12, 4)
      putLe32(16, 16); putLe16(20, 1); putLe16(22, channels)
      putLe32(24, targetHz)
      putLe32(28, targetHz * frameBytes)
      putLe16(32, frameBytes); putLe16(34, 16)
      System.arraycopy("data".getBytes, 0, out, 36, 4)
      putLe32(40, outData)
      var i = 0
      while (i < dstFrames) {
        val sf = (i.toLong * srcFrames / dstFrames).toInt
        System.arraycopy(b, dataOff + sf * frameBytes,
          out, 44 + i * frameBytes, frameBytes)
        i += 1
      }
      Some(out)
    }

    /** PNG nearest-neighbor resize: [[pngDecode]] (same gate as the
      * feature branch), sample in the SOURCE color type (palette images
      * resample indices and keep their PLTE), re-encode with filter-0
      * scanlines through the JDK `Deflater` — zlib is the JDK's native
      * format, so like the decoder this needs no codec library. */
    private def resizePng(b: Array[Byte], w: Int,
        h: Int): Option[Array[Byte]] =
      pngDecode(b).map { case (sw, sh, colorType, palette, px) =>
        val ch = colorType match {
          case 0 => 1; case 2 => 3; case 3 => 1; case _ => 4
        }
        val raw = new Array[Byte](h * (1 + w * ch))
        var y = 0
        while (y < h) {
          val sy = ((y.toLong * sh) / h).toInt
          val rowBase = y * (1 + w * ch) + 1 // filter byte 0 leads each row
          var x = 0
          while (x < w) {
            val sx = ((x.toLong * sw) / w).toInt
            var c = 0
            while (c < ch) {
              raw(rowBase + x * ch + c) = px((sy * sw + sx) * ch + c)
              c += 1
            }
            x += 1
          }
          y += 1
        }
        val defl = new java.util.zip.Deflater()
        defl.setInput(raw); defl.finish()
        val z = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](4096)
        while (!defl.finished()) z.write(buf, 0, defl.deflate(buf))
        defl.end()
        val out = new java.io.ByteArrayOutputStream()
        out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
          .map(_.toByte), 0, 8)
        def beBytes(v: Int): Array[Byte] = Array(
          (v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
        def chunk(kind: String, data: Array[Byte]): Unit = {
          out.write(beBytes(data.length), 0, 4)
          val tag = kind.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
          val crc = new java.util.zip.CRC32()
          crc.update(tag); crc.update(data)
          out.write(tag, 0, 4)
          out.write(data, 0, data.length)
          out.write(beBytes(crc.getValue.toInt), 0, 4)
        }
        chunk("IHDR", beBytes(w) ++ beBytes(h) ++
          Array(8.toByte, colorType.toByte, 0.toByte, 0.toByte, 0.toByte))
        if (colorType == 3) chunk("PLTE", palette)
        chunk("IDAT", z.toByteArray)
        chunk("IEND", Array.emptyByteArray)
        out.toByteArray
      }

    private def resizePnm(b: Array[Byte], w: Int,
        h: Int): Option[Array[Byte]] = {
      val gray = b(1) == '5'
      val parsed = pnmHeader(b, 3)
      if (parsed.isEmpty) return None
      val (hdr, off) = parsed.get
      val sw = hdr(0); val sh = hdr(1); val maxval = hdr(2)
      val bpp = if (gray) 1 else 3
      if (sw <= 0 || sh <= 0 || maxval != 255 ||
          off.toLong + sw.toLong * sh * bpp > b.length) return None
      val head = (s"P${if (gray) "5" else "6"}\n$w $h\n255\n")
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      val out = new Array[Byte](head.length + w * h * bpp)
      System.arraycopy(head, 0, out, 0, head.length)
      var y = 0
      while (y < h) {
        val sy = ((y.toLong * sh) / h).toInt
        var x = 0
        while (x < w) {
          val sx = ((x.toLong * sw) / w).toInt
          val src = off + (sy * sw + sx) * bpp
          val dst = head.length + (y * w + x) * bpp
          var c = 0
          while (c < bpp) { out(dst + c) = b(src + c); c += 1 }
          x += 1
        }
        y += 1
      }
      Some(out)
    }

    private def resizeBmp(b: Array[Byte], w: Int,
        h: Int): Option[Array[Byte]] = {
      val off = le32(b, 10)
      val sw = le32(b, 18)
      val sh = math.abs(le32(b, 22))
      val srcRow = ((24 * sw + 31) / 32) * 4
      if (sw <= 0 || sh <= 0 || off < 54 ||
          off.toLong + srcRow.toLong * sh > b.length) return None
      val dstRow = ((24 * w + 31) / 32) * 4
      val out = new Array[Byte](54 + dstRow * h)
      def putLe32(o: Int, v: Int): Unit = {
        out(o) = (v & 0xff).toByte; out(o + 1) = ((v >> 8) & 0xff).toByte
        out(o + 2) = ((v >> 16) & 0xff).toByte
        out(o + 3) = ((v >> 24) & 0xff).toByte
      }
      out(0) = 'B'; out(1) = 'M'
      putLe32(2, out.length); putLe32(10, 54)
      putLe32(14, 40); putLe32(18, w); putLe32(22, h)
      out(26) = 1; out(28) = 24
      putLe32(34, dstRow * h)
      var y = 0
      while (y < h) {
        val sy = ((y.toLong * sh) / h).toInt
        var x = 0
        while (x < w) {
          val sx = ((x.toLong * sw) / w).toInt
          val src = off + sy * srcRow + sx * 3
          val dst = 54 + y * dstRow + x * 3
          out(dst) = b(src); out(dst + 1) = b(src + 1)
          out(dst + 2) = b(src + 2)
          x += 1
        }
        y += 1
      }
      Some(out)
    }

    /** 24-bit BMP: pixels at the declared offset, rows padded to 4
      * bytes, height may be negative (top-down); features = per-slice
      * mean luminance (r+g+b)/(3·255) over storage order. */
    private def bmpFeatures(b: Array[Byte], n: Int): Array[Double] = {
      val off = le32(b, 10)
      val width = le32(b, 18)
      val height = math.abs(le32(b, 22))
      val rowSize = ((24 * width + 31) / 32) * 4
      val total = width * height
      if (width <= 0 || height <= 0 || off < 54 ||
          off.toLong + rowSize.toLong * height > b.length)
        return stubFeatures(b, n)
      val out = new Array[Double](n)
      var j = 0
      while (j < n) {
        val from = bound(j, total, n); val until = bound(j + 1, total, n)
        var sum = 0L
        var p = from
        while (p < until) {
          val base = off + (p / width) * rowSize + (p % width) * 3
          sum += (b(base) & 0xff) + (b(base + 1) & 0xff) + (b(base + 2) & 0xff)
          p += 1
        }
        out(j) = if (until == from) 0.0
                 else sum.toDouble / (3.0 * 255.0 * (until - from))
        j += 1
      }
      out
    }

    /** 16-bit PCM WAV: walk RIFF chunks to `data`, features = per-slice
      * mean |sample| / 32768. Non-PCM or non-16-bit falls to the stub. */
    private def wavFeatures(b: Array[Byte], n: Int): Array[Double] = {
      var o = 12
      var dataOff = -1; var dataLen = 0; var fmtOk = false
      while (o + 8 <= b.length && (dataOff < 0 || !fmtOk)) {
        val size = le32(b, o + 4)
        if (size < 0) return stubFeatures(b, n) // corrupt size: no progress
        if (b(o) == 'f' && b(o + 1) == 'm' && b(o + 2) == 't' &&
            b(o + 3) == ' ') {
          fmtOk = size >= 16 && le16(b, o + 8) == 1 && le16(b, o + 22) == 16
          if (size >= 16 && !fmtOk) return stubFeatures(b, n)
        } else if (b(o) == 'd' && b(o + 1) == 'a' && b(o + 2) == 't' &&
            b(o + 3) == 'a') {
          dataOff = o + 8
          dataLen = math.min(size, b.length - dataOff)
        }
        o += 8 + size + (size & 1) // chunks are word-aligned
      }
      if (!fmtOk || dataOff < 0) return stubFeatures(b, n)
      val total = dataLen / 2
      val out = new Array[Double](n)
      var j = 0
      while (j < n) {
        val from = bound(j, total, n); val until = bound(j + 1, total, n)
        var sum = 0L
        var s = from
        while (s < until) {
          val v = le16(b, dataOff + 2 * s).toShort.toInt
          sum += math.abs(v.toLong)
          s += 1
        }
        out(j) = if (until == from) 0.0
                 else sum.toDouble / (32768.0 * (until - from))
        j += 1
      }
      out
    }

    /** Full PNG decode: chunk walk → concatenated-IDAT zlib inflate
      * (the JDK `Inflater` — zlib IS the JDK's native format, no codec
      * library needed) → per-scanline unfilter (None/Sub/Up/Average/
      * Paeth, the spec's complete filter set). Decode gate: bit depth 8,
      * color type 0 (gray) / 2 (RGB) / 3 (palette, PLTE required) /
      * 6 (RGBA), compression 0, filter method 0, non-interlaced — the
      * overwhelmingly common shapes; 16-bit, sub-byte and Adam7 payloads
      * fall to the stub. Returns `(width, height, colorType, palette,
      * pixels)` with `pixels` the unfiltered bytes in scanline order
      * (`channels` bytes per pixel), or None for anything outside the
      * gate or malformed — truncated IDAT, bad zlib, over/undersized
      * inflate all return None rather than a partial image, so the
      * feature branch and the metadata sniff agree EXACTLY on what
      * decodes. */
    private[graft] def pngDecode(
        b: Array[Byte]): Option[(Int, Int, Int, Array[Byte], Array[Byte])] = {
      if (!isPng(b)) return None
      var o = 8
      var w = 0; var h = 0; var colorType = -1; var sawIhdr = false
      var palette: Array[Byte] = null
      val idat = new java.io.ByteArrayOutputStream()
      var done = false
      while (!done && o + 8 <= b.length) {
        val len = be32(b, o)
        if (len < 0 || o + 12L + len > b.length) return None
        val t0 = b(o + 4); val t1 = b(o + 5); val t2 = b(o + 6); val t3 = b(o + 7)
        if (t0 == 'I' && t1 == 'H' && t2 == 'D' && t3 == 'R') {
          if (len < 13) return None
          w = be32(b, o + 8); h = be32(b, o + 12)
          val bitDepth = b(o + 16) & 0xff; colorType = b(o + 17) & 0xff
          val compression = b(o + 18) & 0xff; val filterMethod = b(o + 19) & 0xff
          val interlace = b(o + 20) & 0xff
          sawIhdr = bitDepth == 8 && compression == 0 && filterMethod == 0 &&
            interlace == 0 && (colorType == 0 || colorType == 2 ||
              colorType == 3 || colorType == 6)
          if (!sawIhdr) return None
        } else if (t0 == 'P' && t1 == 'L' && t2 == 'T' && t3 == 'E') {
          if (len == 0 || len % 3 != 0) return None
          palette = java.util.Arrays.copyOfRange(b, o + 8, o + 8 + len)
        } else if (t0 == 'I' && t1 == 'D' && t2 == 'A' && t3 == 'T') {
          idat.write(b, o + 8, len)
        } else if (t0 == 'I' && t1 == 'E' && t2 == 'N' && t3 == 'D') {
          done = true
        }
        o += 12 + len
      }
      if (!sawIhdr || w <= 0 || h <= 0) return None
      if (colorType == 3 && palette == null) return None
      val channels = colorType match {
        case 0 => 1; case 2 => 3; case 3 => 1; case _ => 4
      }
      val strideL = w.toLong * channels
      val rawLenL = (strideL + 1L) * h
      if (rawLenL > Int.MaxValue - 16) return None // absurd header: stub
      val stride = strideL.toInt
      val raw = new Array[Byte](rawLenL.toInt)
      val inf = new java.util.zip.Inflater()
      try {
        inf.setInput(idat.toByteArray)
        var filled = 0
        while (filled < raw.length && !inf.finished()) {
          val got = inf.inflate(raw, filled, raw.length - filled)
          if (got == 0 && inf.needsInput()) return None // truncated stream
          filled += got
        }
        if (filled < raw.length) return None
      } catch {
        case _: java.util.zip.DataFormatException => return None
      } finally inf.end()
      val px = new Array[Byte](h * stride)
      var y = 0
      while (y < h) {
        val ft = raw(y * (stride + 1)) & 0xff
        if (ft > 4) return None
        val rowIn = y * (stride + 1) + 1
        val rowOut = y * stride
        var x = 0
        while (x < stride) {
          val rv = raw(rowIn + x) & 0xff
          val a = if (x >= channels) px(rowOut + x - channels) & 0xff else 0
          val u = if (y > 0) px(rowOut - stride + x) & 0xff else 0
          val v = ft match {
            case 0 => rv
            case 1 => rv + a
            case 2 => rv + u
            case 3 => rv + ((a + u) >> 1)
            case _ => // Paeth
              val c = if (x >= channels && y > 0)
                px(rowOut - stride + x - channels) & 0xff else 0
              val p = a + u - c
              val pa = math.abs(p - a); val pb = math.abs(p - u)
              val pc = math.abs(p - c)
              rv + (if (pa <= pb && pa <= pc) a else if (pb <= pc) u else c)
          }
          px(rowOut + x) = (v & 0xff).toByte
          x += 1
        }
        y += 1
      }
      Some((w, h, colorType, palette, px))
    }

    /** 8-bit PNG: full decode via [[pngDecode]]; features = per-slice
      * mean luminance over row-major pixel order — gray `v/255`, color
      * `(r+g+b)/(3·255)` (alpha ignored), palette rows resolved through
      * PLTE — the same convention as [[bmpFeatures]], in the same exact
      * integer sums. */
    private def pngFeatures(b: Array[Byte], n: Int): Array[Double] = {
      val decoded = pngDecode(b)
      if (decoded.isEmpty) return stubFeatures(b, n)
      val (w, h, colorType, palette, px) = decoded.get
      val channels = colorType match {
        case 0 => 1; case 2 => 3; case 3 => 1; case _ => 4
      }
      val total = w * h
      val out = new Array[Double](n)
      var j = 0
      while (j < n) {
        val from = bound(j, total, n); val until = bound(j + 1, total, n)
        var sum = 0L
        var p = from
        while (p < until) {
          val base = p * channels
          sum += (colorType match {
            case 0 => 3 * (px(base) & 0xff)
            case 3 =>
              val pi = (px(base) & 0xff) * 3
              if (pi + 2 >= palette.length) return stubFeatures(b, n)
              (palette(pi) & 0xff) + (palette(pi + 1) & 0xff) +
                (palette(pi + 2) & 0xff)
            case _ =>
              (px(base) & 0xff) + (px(base + 1) & 0xff) + (px(base + 2) & 0xff)
          })
          p += 1
        }
        out(j) = if (until == from) 0.0
                 else sum.toDouble / (3.0 * 255.0 * (until - from))
        j += 1
      }
      out
    }

    /** Parsed header facts for a decodable payload. */
    case class Sniffed(mime: String, width: Option[Int],
      height: Option[Int], durationMs: Option[Long])

    /** Header-only parse: BMP dimensions / WAV duration (data bytes over
      * byte rate). None for any format the codec cannot really decode. */
    def sniff(b: Array[Byte]): Option[Sniffed] =
      try {
        if (isBmp(b)) {
          val w = le32(b, 18); val h = math.abs(le32(b, 22))
          if (w > 0 && h > 0)
            Some(Sniffed("image/bmp", Some(w), Some(h), None))
          else None
        } else if (isWav(b)) {
          var o = 12
          var byteRate = 0; var dataLen = -1
          while (o + 8 <= b.length && (byteRate == 0 || dataLen < 0)) {
            val size = le32(b, o + 4)
            if (size < 0) return None
            if (b(o) == 'f' && b(o + 1) == 'm' && b(o + 2) == 't' &&
                b(o + 3) == ' ' && size >= 16) {
              // mirror wavFeatures' decode gate (PCM, 16-bit): sniff must
              // not claim metadata for containers the codec refuses
              if (le16(b, o + 8) != 1 || le16(b, o + 22) != 16) return None
              byteRate = le32(b, o + 16)
            } else if (b(o) == 'd' && b(o + 1) == 'a' && b(o + 2) == 't' &&
                b(o + 3) == 'a')
              dataLen = math.min(size, b.length - (o + 8))
            o += 8 + size + (size & 1)
          }
          if (byteRate > 0 && dataLen >= 0)
            Some(Sniffed("audio/wav", None, None,
              Some(dataLen.toLong * 1000L / byteRate)))
          else None
        } else if (isPng(b)) {
          // exact decode-gate parity: metadata is claimed only for
          // payloads pngFeatures would really decode (incl. zlib
          // integrity), never from a bare IHDR over a corrupt stream
          pngDecode(b).map { case (w, h, _, _, _) =>
            Sniffed("image/png", Some(w), Some(h), None)
          }
        } else if (isJpeg(b)) {
          // gate parity with jpegFeatures: dimensions are claimed only
          // for streams ImageIO fully decodes
          jpegImage(b).map(im =>
            Sniffed("image/jpeg", Some(im.getWidth), Some(im.getHeight),
              None))
        } else if (isPnm(b)) {
          // gate parity with pnmFeatures: strict header, maxval 255,
          // full raster present
          val gray = b(1) == '5'
          pnmHeader(b, 3) match {
            case Some((hdr, off))
                if hdr(0) > 0 && hdr(1) > 0 && hdr(2) == 255 &&
                  off.toLong + hdr(0).toLong * hdr(1) *
                    (if (gray) 1 else 3) <= b.length =>
              Some(Sniffed(
                if (gray) "image/x-portable-graymap"
                else "image/x-portable-pixmap",
                Some(hdr(0)), Some(hdr(1)), None))
            case _ => None
          }
        } else None
      } catch { case _: IndexOutOfBoundsException => None }

    /** Decode any in-gate raster to 8-bit luma, row-major top-down:
      * P5 `v`, P6/BMP-24/PNG-RGB/JPEG `(r+g+b)/3` (integer division —
      * deterministic), PNG palette via PLTE lookup, PNG RGBA ignores
      * alpha. BMP's bottom-up row order is flipped so (0,0) is the
      * top-left in every format. Out-of-gate bytes → None. */
    private[graft] def grayRaster(
        b: Array[Byte]): Option[(Int, Int, Array[Int])] =
      try {
        if (isBmp(b)) grayBmp(b)
        else if (isPng(b)) pngDecode(b).map(grayPng)
        else if (isPnm(b)) grayPnm(b)
        else if (isJpeg(b)) grayJpeg(b)
        else None
      } catch { case _: IndexOutOfBoundsException |
                     _: ArithmeticException => None }

    private def grayBmp(b: Array[Byte]): Option[(Int, Int, Array[Int])] = {
      val off = le32(b, 10)
      val width = le32(b, 18)
      val rawH = le32(b, 22)
      val height = math.abs(rawH)
      val rowSize = ((24 * width + 31) / 32) * 4
      if (width <= 0 || height <= 0 || off < 54 ||
          off.toLong + rowSize.toLong * height > b.length) return None
      val g = new Array[Int](width * height)
      var y = 0
      while (y < height) {
        // positive height = bottom-up storage; negative = top-down
        val srcRow = if (rawH > 0) height - 1 - y else y
        var x = 0
        while (x < width) {
          val base = off + srcRow * rowSize + x * 3
          g(y * width + x) =
            ((b(base) & 0xff) + (b(base + 1) & 0xff) + (b(base + 2) & 0xff)) / 3
          x += 1
        }
        y += 1
      }
      Some((width, height, g))
    }

    private def grayPnm(b: Array[Byte]): Option[(Int, Int, Array[Int])] = {
      val gray = b(1) == '5'
      val parsed = pnmHeader(b, 3)
      if (parsed.isEmpty) return None
      val (hdr, off) = parsed.get
      val sw = hdr(0); val sh = hdr(1); val maxval = hdr(2)
      val bpp = if (gray) 1 else 3
      if (sw <= 0 || sh <= 0 || maxval != 255 ||
          off.toLong + sw.toLong * sh * bpp > b.length) return None
      val g = new Array[Int](sw * sh)
      var p = 0
      while (p < g.length) {
        val base = off + p * bpp
        g(p) =
          if (gray) b(base) & 0xff
          else ((b(base) & 0xff) + (b(base + 1) & 0xff) +
            (b(base + 2) & 0xff)) / 3
        p += 1
      }
      Some((sw, sh, g))
    }

    private def grayPng(
        d: (Int, Int, Int, Array[Byte], Array[Byte])): (Int, Int, Array[Int]) = {
      val (w, h, colorType, palette, px) = d
      val ch = colorType match {
        case 0 => 1; case 2 => 3; case 3 => 1; case _ => 4
      }
      val g = new Array[Int](w * h)
      var p = 0
      while (p < g.length) {
        val base = p * ch
        g(p) = colorType match {
          case 0 => px(base) & 0xff
          case 3 =>
            val pi = (px(base) & 0xff) * 3
            if (pi + 2 < palette.length)
              ((palette(pi) & 0xff) + (palette(pi + 1) & 0xff) +
                (palette(pi + 2) & 0xff)) / 3
            else 0
          case _ => ((px(base) & 0xff) + (px(base + 1) & 0xff) +
            (px(base + 2) & 0xff)) / 3
        }
        p += 1
      }
      (w, h, g)
    }

    /** 60-bit difference hash (dHash): sample a 9-wide × 8-tall
      * nearest-neighbor luma grid, bit `y·8+x` = (g(y,x) < g(y,x+1)),
      * keeping bits 0–59 so the hash lives in the same non-negative
      * 60-bit space as `md5_60` (4 comparisons of the last row are
      * dropped). Gradient direction survives uniform brightness/contrast
      * shifts and rescaling — the property that makes dHash the standard
      * cheap image near-dup fingerprint. Out-of-gate payloads take the
      * md5-derived stub (same bytes → same hash, reproducible by the
      * DuckDB oracle since the gate corpus is text bytes). */
    private[graft] def dhash60(b: Array[Byte]): Long =
      grayRaster(b) match {
        case Some((w, h, g)) if w >= 9 && h >= 8 =>
          var bits = 0L
          var y = 0
          while (y < 8) {
            val gy = (y.toLong * h / 8).toInt
            var x = 0
            while (x < 8) {
              val k = y * 8 + x
              if (k < 60) {
                val gx0 = (x.toLong * w / 9).toInt
                val gx1 = ((x + 1).toLong * w / 9).toInt
                if (g(gy * w + gx0) < g(gy * w + gx1)) bits |= 1L << k
              }
              x += 1
            }
            y += 1
          }
          bits
        case _ => stubPhash(b)
      }

    /** First 60 bits of md5(payload) — numerically identical to the
      * oracle's `('0x' || substring(md5(text), 1, 15))::BIGINT`. */
    private[graft] def stubPhash(payload: Array[Byte]): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.update(payload)
      val d = md.digest()
      var hh = 0L
      var i = 0
      while (i < 8) { hh = (hh << 8) | (d(i) & 0xffL); i += 1 }
      hh >>> 4
    }

    private def stubFeatures(payload: Array[Byte], n: Int): Array[Double] = {
      val out = new Array[Double](n)
      var j = 0
      while (j < n) {
        val md = java.security.MessageDigest.getInstance("MD5")
        md.update(payload)
        md.update(j.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val d = md.digest()
        // first 15 hex digits = high 60 bits, exact in a long and a double
        var h = 0L
        var i = 0
        while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
        h = h >>> 4 // keep 60 bits
        out(j) = h.toDouble / (1L << 60).toDouble
        j += 1
      }
      out
    }
  }

  /** Build a media table from any (id, text) corpus — payload = UTF-8 bytes.
    * Used by tests and the verify gate as a stand-in for real blobs. */
  def mediaFromText(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).cast(LongType).as("media_id"),
      lit("image").as("kind"),
      col(textCol).cast(BinaryType).as("payload"),
      lit("application/octet-stream").as("mime"),
      (pmod(col(idCol), lit(640)) + 32).cast(IntegerType).as("width"),
      (pmod(col(idCol), lit(480)) + 32).cast(IntegerType).as("height"),
      lit(null).cast(LongType).as("duration_ms"),
      lit(null).cast(StringType).as("caption"))

  /** Parse REAL metadata out of decodable payloads — width/height from a
    * BMP header, duration from a WAV header (data bytes / byte rate) —
    * and overwrite the declared columns where a parse succeeds; rows
    * whose payload is not a parseable format keep their declared
    * metadata unchanged. Same `mapPartitions` batch shape as
    * [[extractFeatures]]; payloads never shuffle. */
  def sniffMetadata(media: DataFrame): DataFrame = {
    val enc = ExpressionEncoder(mediaSchema)
    media.select("media_id", "kind", "payload", "mime", "width", "height",
        "duration_ms", "caption")
      .mapPartitions { rows =>
        rows.map { r =>
          val payload = Option(r.getAs[Array[Byte]]("payload"))
            .getOrElse(Array.emptyByteArray)
          val sniffed = MediaCodec.sniff(payload)
          Row(r.getAs[Long]("media_id"), r.getAs[String]("kind"), payload,
            sniffed.map(_.mime).getOrElse(r.getAs[String]("mime")),
            sniffed.flatMap(_.width)
              .map(Integer.valueOf).getOrElse(r.getAs[Integer]("width")),
            sniffed.flatMap(_.height)
              .map(Integer.valueOf).getOrElse(r.getAs[Integer]("height")),
            sniffed.flatMap(_.durationMs).map(java.lang.Long.valueOf)
              .getOrElse(r.getAs[java.lang.Long]("duration_ms")),
            r.getAs[String]("caption"))
        }
      }(enc)
  }

  private val featureSchema = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("features", ArrayType(DoubleType, containsNull = false))))

  /** Distributed feature extraction: batch-iterate partitions, decode each
    * payload with the (stubbed) codec, emit fixed-width feature vectors.
    * This is the `mapInPandas`-shaped operator: iterator in, iterator out,
    * no per-row task overhead, payloads never shuffled. */
  def extractFeatures(media: DataFrame, featureDim: Int): DataFrame = {
    val spark = media.sparkSession
    val enc = ExpressionEncoder(featureSchema)
    media.select("media_id", "kind", "payload")
      .mapPartitions { rows =>
        rows.map { r =>
          val payload = Option(r.getAs[Array[Byte]]("payload"))
            .getOrElse(Array.emptyByteArray)
          Row(r.getAs[Long]("media_id"), r.getAs[String]("kind"),
            payload.length.toLong, MediaCodec.decode(payload, featureDim))
        }
      }(enc)
  }

  /** Distributed resize: batch-iterate partitions, decode each payload
    * and re-encode at (w, h), emitting a new media row with updated
    * metadata. Same iterator-in/iterator-out `mapPartitions` shape as
    * [[extractFeatures]] — payloads never shuffle. Raster formats the
    * codec really decodes (binary PNM P5/P6, 24-bit BMP, and PNG in the
    * decoder's gate — gray/RGB/palette/RGBA, all five filters in, the
    * JDK Deflater out) get a REAL nearest-neighbor resample re-encoded
    * in their own format — [[MediaCodec.sniff]] and the feature
    * extractor read the output like any other image. Non-raster or
    * out-of-gate payloads (WAV, video, 16-bit/interlaced PNG) keep the
    * documented deterministic stub: payload truncated to the w·h byte
    * budget — a real deployment swaps libvips/ffmpeg into that one
    * branch and nothing else changes. */
  def resize(media: DataFrame, w: Int, h: Int): DataFrame = {
    val enc = ExpressionEncoder(mediaSchema)
    media.select("media_id", "kind", "payload", "mime", "width", "height",
        "duration_ms", "caption")
      .mapPartitions { rows =>
        rows.map { r =>
          val payload = Option(r.getAs[Array[Byte]]("payload"))
            .getOrElse(Array.emptyByteArray)
          val resized = MediaCodec.resizeRaster(payload, w, h).getOrElse {
            val budget = math.min(w * h, math.max(payload.length, 1))
            val stub = new Array[Byte](math.min(budget, payload.length))
            var i = 0
            while (i < stub.length) { stub(i) = payload(i); i += 1 }
            stub
          }
          Row(r.getAs[Long]("media_id"), r.getAs[String]("kind"), resized,
            r.getAs[String]("mime"), w, h, r.getAs[java.lang.Long]("duration_ms"),
            r.getAs[String]("caption"))
        }
      }(enc)
  }

  /** Distributed audio resample: every 16-bit PCM WAV payload re-encoded
    * at `targetHz` ([[MediaCodec.resampleWav]] — real nearest-neighbor
    * frame sampling, channels preserved); rows outside the decode gate
    * pass through UNCHANGED (an audio resampler must not mangle images
    * or undecodable blobs). Same iterator `mapPartitions` shape as
    * [[resize]]; payloads never shuffle. */
  def resampleAudio(media: DataFrame, targetHz: Int): DataFrame = {
    require(targetHz >= 1, s"targetHz must be >= 1, got $targetHz")
    val enc = ExpressionEncoder(mediaSchema)
    media.select("media_id", "kind", "payload", "mime", "width", "height",
        "duration_ms", "caption")
      .mapPartitions { rows =>
        rows.map { r =>
          val payload = Option(r.getAs[Array[Byte]]("payload"))
            .getOrElse(Array.emptyByteArray)
          val res = MediaCodec.resampleWav(payload, targetHz)
            .getOrElse(payload)
          Row(r.getAs[Long]("media_id"), r.getAs[String]("kind"), res,
            r.getAs[String]("mime"), r.getAs[java.lang.Integer]("width"),
            r.getAs[java.lang.Integer]("height"),
            r.getAs[java.lang.Long]("duration_ms"),
            r.getAs[String]("caption"))
        }
      }(enc)
  }

  /** Frame sampling plan for video rows: which frame indices a decoder
    * should materialize (every `everyMs`). Pure column math — demonstrates
    * metadata-only planning without touching payloads. */
  def frameSamplePlan(media: DataFrame, everyMs: Long): DataFrame =
    media.filter(col("kind") === "video" && col("duration_ms").isNotNull)
      .select(col("media_id"),
        explode(sequence(lit(0L), col("duration_ms"), lit(everyMs)))
          .as("frame_ms"))

  /** Metadata-only profile: never reads `payload` (check `ReadSchema` in
    * `.explain` — column pruning keeps blobs out of IO entirely). */
  def metadataProfile(media: DataFrame): DataFrame =
    media.groupBy(col("kind"))
      .agg(count(lit(1)).as("n"),
        max(col("width")).as("max_width"),
        max(col("height")).as("max_height"))

  /** Per-media 60-bit perceptual hash ([[MediaCodec.dhash60]]): real
    * dHash for in-gate rasters, md5-stub otherwise. Same iterator
    * `mapPartitions` shape as [[extractFeatures]] — payloads never
    * shuffle; an 8-byte hash is all that leaves the scan. */
  def perceptualHash(media: DataFrame): DataFrame = {
    val enc = ExpressionEncoder(StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("phash", LongType, nullable = false))))
    media.select("media_id", "payload")
      .mapPartitions { rows =>
        rows.map { r =>
          val p = Option(r.getAs[Array[Byte]]("payload"))
            .getOrElse(Array.emptyByteArray)
          Row(r.getAs[Long]("media_id"), MediaCodec.dhash60(p))
        }
      }(enc)
  }

  /** Perceptual near-duplicate pairs: [[perceptualHash]] then the SAME
    * banded-Hamming candidate scheme as
    * [[Dedup.simhashNearDuplicates]] — 4 × 15-bit chunks (pigeonhole:
    * any pair within hamming < 4 shares ≥ 1 exact chunk), hot buckets
    * structurally dropped at `maxBucket`, verification =
    * `bit_count(xor)` on the 8-byte hash riding the bucket shuffle.
    * This is the image-dedup recipe curation pipelines run before
    * training multimodal models: one decode pass, then pure integer
    * candidate generation that never touches payloads again. */
  def phashNearDuplicates(media: DataFrame,
      maxHamming: Int = 3, maxBucket: Int = 2000): DataFrame = {
    val ph = perceptualHash(media)
    val chunked = ph
      .select(col("media_id"), col("phash"),
        explode(sequence(lit(0), lit(3))).as("chunk"))
      .withColumn("chunk_val",
        expr("shiftright(phash, CAST(chunk * 15 AS INT)) & 32767"))
    val (pairs, rows) = Dedup.pairsFromBuckets(chunked, "media_id",
      Seq("chunk", "chunk_val"), maxBucket, payloadCol = Some("phash"))
    try Lifetime.seal(
      pairs.select(col("id_a"), col("id_b"),
          bit_count(col("phash_a").bitwiseXOR(col("phash_b")))
            .cast(LongType).as("hamming"))
        .filter(col("hamming") <= maxHamming))
    finally rows.unpersist()
  }
}
