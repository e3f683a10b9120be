package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Dataset}

/** Multimodal column plumbing: media payloads travel as opaque `binary`
  * columns next to typed metadata, the standard shape for image/audio at
  * 100 TB (parquet binary + pushdown-able metadata columns; the payload
  * bytes never pass through a shuffle unless explicitly selected).
  *
  * The decode kernels are REAL pure-JVM codecs for two uncompressed
  * container formats — BMP (BITMAPINFOHEADER, 24/32-bit BI_RGB) and WAV
  * (RIFF PCM) — parsed per their public specifications: little-endian
  * header fields, 4-byte-aligned bottom-up pixel rows for BMP, chunked
  * RIFF layout for WAV. Compressed formats (JPEG/PNG/MP3) need codec
  * libraries the container does not ship; [[Codec.decode]] reports them
  * as format="unsupported" rather than faking values. The decode runs
  * partition-wise over the binary column ([[decodeMedia]]) — the same
  * batched shape a JNI/FFI codec binding plugs into.
  */
object Multimodal {

  /** Decoded-media feature row. For images: width/height/channels +
    * mean_value over decoded pixel bytes. For audio: sample_rate/channels
    * + duration_s + mean_value as RMS amplitude (normalized to [0,1]).
    */
  case class MediaFeatures(
      doc_id: Long,
      format: String,
      n_bytes: Int,
      width: Int,
      height: Int,
      channels: Int,
      sample_rate: Int,
      duration_s: Double,
      mean_value: Double)

  /** Pure-JVM codecs for the uncompressed formats. All multi-byte fields
    * little-endian per both formats' specs.
    */
  object Codec {

    private def u16(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    private def i32(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
        ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)

    /** Encode pixel bytes as a 24-bit BI_RGB BMP (BITMAPINFOHEADER).
      * `pixels` are row-major top-down BGR triples, `width` pixels per
      * row; incomplete trailing data is dropped. Rows are written
      * bottom-up with 4-byte alignment padding, as the format requires.
      */
    def encodeBmp(pixels: Array[Byte], width: Int): Array[Byte] = {
      require(width > 0, "width must be positive")
      val rowBytes = width * 3
      val height = math.max(1, pixels.length / rowBytes)
      val padded = (rowBytes + 3) / 4 * 4
      val dataSize = padded * height
      val out = new Array[Byte](54 + dataSize)
      def w16(o: Int, v: Int): Unit = { out(o) = v.toByte; out(o + 1) = (v >> 8).toByte }
      def w32(o: Int, v: Int): Unit = {
        out(o) = v.toByte; out(o + 1) = (v >> 8).toByte
        out(o + 2) = (v >> 16).toByte; out(o + 3) = (v >> 24).toByte
      }
      out(0) = 'B'; out(1) = 'M'
      w32(2, out.length); w32(10, 54)          // file size, pixel data offset
      w32(14, 40)                              // BITMAPINFOHEADER size
      w32(18, width); w32(22, height)
      w16(26, 1); w16(28, 24)                  // planes, bits per pixel
      w32(30, 0); w32(34, dataSize)            // BI_RGB, image size
      var row = 0
      while (row < height) {
        val srcOff = row * rowBytes
        val dstOff = 54 + (height - 1 - row) * padded  // bottom-up
        val n = math.min(rowBytes, math.max(0, pixels.length - srcOff))
        if (n > 0) System.arraycopy(pixels, srcOff, out, dstOff, n)
        row += 1
      }
      out
    }

    /** Encode 16-bit mono/stereo PCM samples as a RIFF WAV file. */
    def encodeWav(samples: Array[Short], sampleRate: Int, channels: Int = 1): Array[Byte] = {
      val dataSize = samples.length * 2
      val out = new Array[Byte](44 + dataSize)
      def w16(o: Int, v: Int): Unit = { out(o) = v.toByte; out(o + 1) = (v >> 8).toByte }
      def w32(o: Int, v: Int): Unit = {
        out(o) = v.toByte; out(o + 1) = (v >> 8).toByte
        out(o + 2) = (v >> 16).toByte; out(o + 3) = (v >> 24).toByte
      }
      def tag(o: Int, s: String): Unit = s.zipWithIndex.foreach { case (c, i) => out(o + i) = c.toByte }
      tag(0, "RIFF"); w32(4, 36 + dataSize); tag(8, "WAVE")
      tag(12, "fmt "); w32(16, 16); w16(20, 1)         // PCM
      w16(22, channels); w32(24, sampleRate)
      w32(28, sampleRate * channels * 2)               // byte rate
      w16(32, channels * 2); w16(34, 16)               // block align, bits
      tag(36, "data"); w32(40, dataSize)
      var i = 0
      while (i < samples.length) { w16(44 + i * 2, samples(i)); i += 1 }
      out
    }

    /** Decode a BMP payload: dimensions from the header, mean pixel byte
      * from the pixel array honoring bottom-up rows + alignment padding.
      * Returns None if the payload is not a parseable uncompressed BMP.
      */
    def decodeBmp(b: Array[Byte]): Option[(Int, Int, Int, Double)] = {
      if (b == null || b.length < 54 || b(0) != 'B' || b(1) != 'M') return None
      val offset = i32(b, 10)
      val width = i32(b, 18)
      val height = i32(b, 22)
      val bpp = u16(b, 28)
      val compression = i32(b, 30)
      if (width <= 0 || height == 0 || compression != 0 ||
        (bpp != 24 && bpp != 32)) return None
      val channels = bpp / 8
      val absH = math.abs(height)
      val rowBytes = width * channels
      val padded = (rowBytes + 3) / 4 * 4
      if (offset.toLong + padded.toLong * absH > b.length) return None
      var sum = 0L
      var row = 0
      while (row < absH) {
        val off = offset + row * padded
        var ii = 0
        while (ii < rowBytes) { sum += b(off + ii) & 0xff; ii += 1 }
        row += 1
      }
      val nPix = rowBytes.toLong * absH
      Some((width, absH, channels, if (nPix == 0) 0.0 else sum.toDouble / nPix))
    }

    /** Decode a RIFF/WAVE PCM payload: (sampleRate, channels, durationS,
      * rms in [0,1]) walking the chunk list for fmt/data.
      */
    def decodeWav(b: Array[Byte]): Option[(Int, Int, Double, Double)] = {
      if (b == null || b.length < 44) return None
      if (!(b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
        b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E')) return None
      var pos = 12
      var rate = 0; var channels = 0; var bits = 0
      var dataOff = -1; var dataLen = 0
      while (pos + 8 <= b.length) {
        val id = new String(b, pos, 4, "US-ASCII")
        val size = i32(b, pos + 4)
        if (size < 0 || pos + 8 + size > b.length) return None
        id match {
          case "fmt " if size >= 16 =>
            if (u16(b, pos + 8) != 1) return None   // PCM only
            channels = u16(b, pos + 10)
            rate = i32(b, pos + 12)
            bits = u16(b, pos + 22)
          case "data" => dataOff = pos + 8; dataLen = size
          case _ => ()
        }
        pos += 8 + size + (size & 1)               // chunks are word-aligned
      }
      if (rate <= 0 || channels <= 0 || bits != 16 || dataOff < 0) return None
      val nSamples = dataLen / 2
      var sumSq = 0.0
      var i = 0
      while (i < nSamples) {
        val s = (u16(b, dataOff + i * 2).toShort).toDouble / 32768.0
        sumSq += s * s
        i += 1
      }
      val frames = nSamples / channels
      Some((rate, channels, frames.toDouble / rate,
        if (nSamples == 0) 0.0 else math.sqrt(sumSq / nSamples)))
    }

    /** Decoded 24-bit BMP pixels as a top-down row-major BGR array
      * (padding stripped, bottom-up order undone) + dimensions.
      */
    def bmpPixels(b: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
      if (b == null || b.length < 54 || b(0) != 'B' || b(1) != 'M') return None
      val offset = i32(b, 10)
      val width = i32(b, 18)
      val height = i32(b, 22)
      if (width <= 0 || height <= 0 || u16(b, 28) != 24 || i32(b, 30) != 0) return None
      val rowBytes = width * 3
      val padded = (rowBytes + 3) / 4 * 4
      if (offset.toLong + padded.toLong * height > b.length) return None
      val px = new Array[Byte](rowBytes * height)
      var row = 0
      while (row < height) {
        System.arraycopy(b, offset + (height - 1 - row) * padded, px, row * rowBytes, rowBytes)
        row += 1
      }
      Some((width, height, px))
    }

    /** Nearest-neighbor resample of row-major 3-channel pixels — shared
      * by the BMP and PNG resize paths.
      */
    private def resamplePixels(px: Array[Byte], w: Int, h: Int,
                               newW: Int, newH: Int): Array[Byte] = {
      val out = new Array[Byte](newW * newH * 3)
      var y = 0
      while (y < newH) {
        val sy = y.toLong * h / newH
        var x = 0
        while (x < newW) {
          val sx = x.toLong * w / newW
          val src = (sy * w + sx).toInt * 3
          val dst = (y * newW + x) * 3
          out(dst) = px(src); out(dst + 1) = px(src + 1); out(dst + 2) = px(src + 2)
          x += 1
        }
        y += 1
      }
      out
    }

    /** Nearest-neighbor resize of a 24-bit BMP; returns a re-encoded BMP. */
    def resizeBmp(b: Array[Byte], newW: Int, newH: Int): Option[Array[Byte]] = {
      require(newW > 0 && newH > 0, "resize dims must be positive")
      bmpPixels(b).map { case (w, h, px) =>
        encodeBmp(resamplePixels(px, w, h, newW, newH), newW)
      }
    }

    /** Nearest-neighbor resize of a PNG; returns a re-encoded PNG. */
    def resizePng(b: Array[Byte], newW: Int, newH: Int): Option[Array[Byte]] = {
      require(newW > 0 && newH > 0, "resize dims must be positive")
      pngPixels(b).map { case (w, h, px) =>
        encodePng(resamplePixels(px, w, h, newW, newH), newW)
      }
    }

    /** Per-channel (B, G, R) pixel means of a 24-bit BMP. */
    def bmpChannelMeans(b: Array[Byte]): Option[(Double, Double, Double)] =
      bmpPixels(b).map { case (_, _, px) =>
        val sums = new Array[Long](3)
        var i = 0
        while (i < px.length) { sums(i % 3) += px(i) & 0xff; i += 1 }
        val n = px.length / 3
        (sums(0).toDouble / n, sums(1).toDouble / n, sums(2).toDouble / n)
      }

    /** Raw PCM frames of a WAV payload: (sampleRate, channels, samples). */
    def wavSamples(b: Array[Byte]): Option[(Int, Int, Array[Short])] = {
      decodeWav(b).flatMap { case (rate, channels, _, _) =>
        // re-walk for the data chunk (decodeWav validated the layout)
        var pos = 12
        while (pos + 8 <= b.length) {
          val id = new String(b, pos, 4, "US-ASCII")
          val size = i32(b, pos + 4)
          if (id == "data") {
            val n = size / 2
            val out = new Array[Short](n)
            var i = 0
            while (i < n) { out(i) = u16(b, pos + 8 + i * 2).toShort; i += 1 }
            return Some((rate, channels, out))
          }
          pos += 8 + size + (size & 1)
        }
        None
      }
    }

    /** Keep every `everyN`-th PCM frame (all channels of it) — plain
      * decimation without an anti-alias filter, the cheap frame-sampling
      * step of a media pipeline; the re-encoded WAV carries rate/everyN.
      */
    def frameSampleWav(b: Array[Byte], everyN: Int): Option[Array[Byte]] = {
      require(everyN > 0, "everyN must be positive")
      wavSamples(b).map { case (rate, channels, samples) =>
        val frames = samples.length / channels
        val kept = (0 until frames by everyN).toArray
        val out = new Array[Short](kept.length * channels)
        var i = 0
        while (i < kept.length) {
          var c = 0
          while (c < channels) {
            out(i * channels + c) = samples(kept(i) * channels + c)
            c += 1
          }
          i += 1
        }
        encodeWav(out, math.max(1, rate / everyN), channels)
      }
    }


    // ---- PNG (RGB8, color type 2, non-interlaced) on java.util.zip ----
    //
    // A real container + compression + per-row predictive filtering
    // codec, pure JVM: Deflater/Inflater for the IDAT stream, CRC32 for
    // chunk checksums, and the five standard scanline filters (None,
    // Sub, Up, Average, Paeth) in both directions. Public spec: the PNG
    // (Portable Network Graphics) specification, W3C.

    private val PngSig: Array[Byte] =
      Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

    private def be32(b: Array[Byte], o: Int): Int =
      ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) |
        ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)

    private def paeth(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }

    /** Encode row-major RGB triples as a PNG (8-bit, color type 2).
      * Same sizing convention as [[encodeBmp]]: `height = max(1,
      * len/rowBytes)` — incomplete trailing data is dropped, short
      * payloads zero-pad one row. `filterOfRow` picks each scanline's
      * filter (default cycles through all five, so round-trips exercise
      * the whole unfilter matrix).
      */
    def encodePng(pixels: Array[Byte], width: Int,
                  filterOfRow: Int => Int = _ % 5): Array[Byte] = {
      require(width > 0, "width must be positive")
      val rowBytes = width * 3
      val height = math.max(1, pixels.length / rowBytes)
      val px = java.util.Arrays.copyOf(pixels, rowBytes * height)
      val raw = new Array[Byte]((rowBytes + 1) * height)
      var y = 0
      while (y < height) {
        val f = ((filterOfRow(y) % 5) + 5) % 5
        raw(y * (rowBytes + 1)) = f.toByte
        var x = 0
        while (x < rowBytes) {
          val cur = px(y * rowBytes + x) & 0xff
          val left = if (x >= 3) px(y * rowBytes + x - 3) & 0xff else 0
          val up = if (y > 0) px((y - 1) * rowBytes + x) & 0xff else 0
          val ul = if (y > 0 && x >= 3) px((y - 1) * rowBytes + x - 3) & 0xff else 0
          val v = f match {
            case 0 => cur
            case 1 => cur - left
            case 2 => cur - up
            case 3 => cur - (left + up) / 2
            case _ => cur - paeth(left, up, ul)
          }
          raw(y * (rowBytes + 1) + 1 + x) = (v & 0xff).toByte
          x += 1
        }
        y += 1
      }
      val deflater = new java.util.zip.Deflater()
      deflater.setInput(raw); deflater.finish()
      val zbuf = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](8192)
      while (!deflater.finished()) {
        val n = deflater.deflate(tmp); zbuf.write(tmp, 0, n)
      }
      deflater.end()
      val out = new java.io.ByteArrayOutputStream()
      out.write(PngSig, 0, PngSig.length)
      def wbe32(v: Int): Unit = {
        out.write((v >>> 24) & 0xff); out.write((v >>> 16) & 0xff)
        out.write((v >>> 8) & 0xff); out.write(v & 0xff)
      }
      def chunk(typ: String, data: Array[Byte]): Unit = {
        wbe32(data.length)
        val tb = typ.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
        out.write(tb, 0, 4); out.write(data, 0, data.length)
        val crc = new java.util.zip.CRC32()
        crc.update(tb); crc.update(data)
        wbe32(crc.getValue.toInt)
      }
      val ihdr = new Array[Byte](13)
      ihdr(0) = (width >>> 24).toByte; ihdr(1) = (width >>> 16).toByte
      ihdr(2) = (width >>> 8).toByte; ihdr(3) = width.toByte
      ihdr(4) = (height >>> 24).toByte; ihdr(5) = (height >>> 16).toByte
      ihdr(6) = (height >>> 8).toByte; ihdr(7) = height.toByte
      ihdr(8) = 8; ihdr(9) = 2 // bit depth 8, color type 2 (truecolor)
      chunk("IHDR", ihdr)
      chunk("IDAT", zbuf.toByteArray)
      chunk("IEND", Array.emptyByteArray)
      out.toByteArray
    }

    /** Decode a PNG payload to (width, height, row-major RGB bytes):
      * chunk walk with length bounds and per-chunk CRC32 VALIDATION,
      * IDAT inflate, and full five-filter unfiltering. None for
      * anything that is not an 8-bit truecolor non-interlaced PNG —
      * including payloads whose declared dimensions would not fit an
      * Int-addressed pixel array (all size arithmetic runs in Long
      * before any allocation, so a crafted IHDR cannot overflow into a
      * negative or half-gigabyte allocation).
      */
    def pngPixels(b: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
      if (b == null || b.length < PngSig.length + 12) return None
      var i = 0
      while (i < PngSig.length) {
        if (b(i) != PngSig(i)) return None
        i += 1
      }
      var pos = PngSig.length
      var w = 0; var h = 0
      var sawIhdr = false
      val idat = new java.io.ByteArrayOutputStream()
      var ended = false
      while (pos + 8 <= b.length && !ended) {
        val len = be32(b, pos)
        if (len < 0 || pos.toLong + 12L + len > b.length) return None
        val typ = new String(b, pos + 4, 4,
          java.nio.charset.StandardCharsets.US_ASCII)
        // CRC32 over type + data must match the stored checksum — a
        // corrupted-at-rest payload is rejected, never decoded to
        // silently wrong pixels
        val crc = new java.util.zip.CRC32()
        crc.update(b, pos + 4, 4 + len)
        if (crc.getValue.toInt != be32(b, pos + 8 + len)) return None
        typ match {
          case "IHDR" =>
            if (len != 13) return None
            w = be32(b, pos + 8); h = be32(b, pos + 12)
            val bitDepth = b(pos + 16) & 0xff
            val colorType = b(pos + 17) & 0xff
            val interlace = b(pos + 20) & 0xff
            if (bitDepth != 8 || colorType != 2 || interlace != 0 ||
              w <= 0 || h <= 0) return None
            sawIhdr = true
          case "IDAT" => idat.write(b, pos + 8, len)
          case "IEND" => ended = true
          case _      => () // ancillary chunks skipped
        }
        pos += 12 + len
      }
      if (!sawIhdr || idat.size == 0) return None
      // Long arithmetic BEFORE any allocation: a crafted IHDR width of
      // ~2^29 would overflow w * 3 to a negative Int and either crash
      // the allocation or allocate ~0.5 GB from a 45-byte payload
      val rowBytesL = w.toLong * 3L
      if ((rowBytesL + 1L) * h > 256L * 1024 * 1024) return None
      val rowBytes = rowBytesL.toInt
      val raw = new Array[Byte]((rowBytes + 1) * h)
      val inf = new java.util.zip.Inflater()
      inf.setInput(idat.toByteArray)
      var off = 0
      try {
        while (off < raw.length && !inf.finished()) {
          val n = inf.inflate(raw, off, raw.length - off)
          if (n == 0 && (inf.needsInput() || inf.needsDictionary())) return None
          off += n
        }
      } catch {
        case _: java.util.zip.DataFormatException => return None
      } finally inf.end()
      if (off != raw.length) return None
      val px = new Array[Byte](rowBytes * h)
      var y = 0
      while (y < h) {
        val f = raw(y * (rowBytes + 1)) & 0xff
        if (f > 4) return None
        var x = 0
        while (x < rowBytes) {
          val v = raw(y * (rowBytes + 1) + 1 + x) & 0xff
          val left = if (x >= 3) px(y * rowBytes + x - 3) & 0xff else 0
          val up = if (y > 0) px((y - 1) * rowBytes + x) & 0xff else 0
          val ul = if (y > 0 && x >= 3) px((y - 1) * rowBytes + x - 3) & 0xff else 0
          val rec = f match {
            case 0 => v
            case 1 => v + left
            case 2 => v + up
            case 3 => v + (left + up) / 2
            case _ => v + paeth(left, up, ul)
          }
          px(y * rowBytes + x) = (rec & 0xff).toByte
          x += 1
        }
        y += 1
      }
      Some((w, h, px))
    }

    /** Per-channel (R, G, B) pixel means of a PNG payload. */
    def pngChannelMeans(b: Array[Byte]): Option[(Double, Double, Double)] =
      pngPixels(b).map { case (_, _, px) =>
        val sums = new Array[Long](3)
        var i = 0
        while (i < px.length) { sums(i % 3) += px(i) & 0xff; i += 1 }
        val n = px.length / 3
        (sums(0).toDouble / n, sums(1).toDouble / n, sums(2).toDouble / n)
      }

    /** Dispatch on magic bytes; unsupported formats are reported, not faked. */
    def decode(id: Long, b: Array[Byte]): MediaFeatures = {
      val n = if (b == null) 0 else b.length
      if (n >= 2 && b(0) == 'B' && b(1) == 'M') decodeBmp(b) match {
        case Some((w, h, c, mean)) =>
          return MediaFeatures(id, "bmp", n, w, h, c, 0, 0.0, mean)
        case None => ()
      }
      if (n >= 8 && (b(0) & 0xff) == 0x89 && b(1) == 'P') pngPixels(b) match {
        case Some((w, h, px)) =>
          var sum = 0L
          var i = 0
          while (i < px.length) { sum += px(i) & 0xff; i += 1 }
          return MediaFeatures(id, "png", n, w, h, 3, 0, 0.0,
            sum.toDouble / px.length)
        case None => ()
      }
      if (n >= 12 && b(0) == 'R' && b(1) == 'I') decodeWav(b) match {
        case Some((rate, c, dur, rms)) =>
          return MediaFeatures(id, "wav", n, 0, 0, c, rate, dur, rms)
        case None => ()
      }
      MediaFeatures(id, "unsupported", n, 0, 0, 0, 0, 0.0, 0.0)
    }
  }

  /** Attach a binary payload column (here: utf-8 bytes of a text column,
    * standing in for stored media bytes).
    */
  def withBinaryPayload(df: DataFrame, srcCol: String, binCol: String = "payload"): DataFrame =
    df.withColumn(binCol, col(srcCol).cast("binary"))

  /** Expression-only metadata "decode": cheap header-ish facts derivable
    * without a codec (payload size + synthetic dimensions). Map-only and
    * oracle-checkable.
    */
  def metaDecode(df: DataFrame, idCol: String, binCol: String): DataFrame =
    df.select(
      col(idCol),
      octet_length(col(binCol)).as("n_bytes"),
      (octet_length(col(binCol)) % 512 + 1).as("width"),
      (octet_length(col(binCol)) * 7 % 384 + 1).as("height"),
      lit(3).as("channels"))

  /** Batched partition-wise media decode over a binary column. One codec
    * dispatch per row, no driver involvement, no shuffle: the payload
    * bytes stay within their input partition.
    */
  def decodeMedia(df: DataFrame, idCol: String, binCol: String): Dataset[MediaFeatures] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // a JNI/FFI codec instance would be created once per partition here
        it.map { case (id, bytes) => Codec.decode(id, bytes) }
      }
  }

  /** Partition-wise nearest-neighbor image resize over a BMP or PNG
    * binary column (dispatch on container magic, re-encoded in kind):
    * decode -> resample -> re-encode, payloads never leave their
    * partition. Other formats pass through unchanged (tagged false).
    */
  def resizeImages(df: DataFrame, idCol: String, binCol: String,
                   newW: Int, newH: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(it => it.map { case (id, bytes) =>
        // dispatch on container magic: BMP or PNG, re-encoded in kind
        val resized =
          if (bytes != null && bytes.length >= 2 && bytes(0) == 'B' && bytes(1) == 'M')
            Codec.resizeBmp(bytes, newW, newH)
          else Codec.resizePng(bytes, newW, newH)
        resized match {
          case Some(r) => (id, r, true)
          case None    => (id, bytes, false)
        }
      })
      .toDF(idCol, binCol, "resized")
  }

  /** Image feature extraction: dimensions + per-channel means, the
    * "feature-extract" step of a media pipeline. Map-only.
    */
  def imageFeatures(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(it => it.map { case (id, bytes) =>
        (Codec.bmpPixels(bytes), Codec.bmpChannelMeans(bytes)) match {
          case (Some((w, h, _)), Some((mb, mg, mr))) => (id, w, h, 3, mb, mg, mr)
          case _ => (id, 0, 0, 0, 0.0, 0.0, 0.0)
        }
      })
      .toDF(idCol, "width", "height", "channels", "mean_b", "mean_g", "mean_r")
  }

  /** Audio feature extraction over a WAV binary column: sample count,
    * mean amplitude, RMS energy and peak ratio (fraction of samples at or
    * above half scale) — the audio analog of [[imageFeatures]]. Map-only:
    * payloads decode inside their partition; nothing reaches the driver.
    * Sums accumulate in Long (exact for 8-bit-range samples), so the
    * final double divisions are bit-reproducible by a SQL oracle.
    */
  def audioFeatures(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(it => it.map { case (id, bytes) =>
        Codec.wavSamples(bytes) match {
          case Some((rate, _, samples)) if samples.nonEmpty =>
            var s = 0L; var sq = 0L; var peaks = 0L
            var i = 0
            while (i < samples.length) {
              val v = samples(i).toLong
              s += v; sq += v * v
              if (v >= 128L) peaks += 1L
              i += 1
            }
            val n = samples.length.toLong
            (id, rate, n, s.toDouble / n, math.sqrt(sq.toDouble / n),
              peaks.toDouble / n)
          case Some((rate, _, _)) => (id, rate, 0L, 0.0, 0.0, 0.0)
          case None               => (id, 0, 0L, 0.0, 0.0, 0.0)
        }
      })
      .toDF(idCol, "sample_rate", "n_samples", "mean_amp", "rms", "peak_ratio")
  }

  /** Energy-based activity segmentation over a WAV binary column — the
    * VAD-shaped pass that turns raw audio into utterance spans before
    * transcription. Full frames of `frame` samples score integer energy
    * Σv² (exact — no float in the decision), a frame is active iff
    * energy ≥ `energyThreshold`, and consecutive active frames merge
    * into segments. Output per id: n_frames, n_active, n_segments,
    * longest_run (frames). Map-only like every codec pass: payloads
    * never leave their partition, segmentation state is a few longs.
    */
  def audioSegments(df: DataFrame, idCol: String, binCol: String,
                    frame: Int, energyThreshold: Long): DataFrame = {
    require(frame > 0, "frame must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(it => it.map { case (id, bytes) =>
        Codec.wavSamples(bytes) match {
          case Some((_, _, samples)) =>
            val nf = samples.length / frame
            var f = 0
            var nActive = 0L; var nSeg = 0L; var longest = 0L; var run = 0L
            while (f < nf) {
              var e = 0L
              var i = f * frame
              val end = i + frame
              while (i < end) { val v = samples(i).toLong; e += v * v; i += 1 }
              if (e >= energyThreshold) {
                nActive += 1L; run += 1L
                if (run == 1L) nSeg += 1L
                if (run > longest) longest = run
              } else run = 0L
              f += 1
            }
            (id, nf.toLong, nActive, nSeg, longest)
          case None => (id, 0L, 0L, 0L, 0L)
        }
      })
      .toDF(idCol, "n_frames", "n_active", "n_segments", "longest_run")
  }

  /** Partition-wise audio frame sampling (keep every Nth frame). */
  def frameSampleAudio(df: DataFrame, idCol: String, binCol: String,
                       everyN: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(it => it.map { case (id, bytes) =>
        Codec.frameSampleWav(bytes, everyN) match {
          case Some(r) => (id, r, true)
          case None    => (id, bytes, false)
        }
      })
      .toDF(idCol, binCol, "sampled")
  }

  /** Linear-interpolation upsampling of a mono WAV binary column to an
    * integer multiple of its source rate — the sample-rate normalization
    * pass an audio training pipeline runs before feature extraction
    * (e.g. everything to 16 kHz). Between neighbors,
    * `out[F·i+j] = s[i] + (s[i+1] − s[i])·j / F` with INTEGER division
    * truncating toward zero — the same rounding SQL integer division
    * uses in both engines, so the resampled PCM is engine-neutral and
    * the whole interpolate→re-encode→re-decode path can be proven
    * bit-faithful by an external oracle. `n_out = F·(n−1)+1` for n > 0
    * (endpoints preserved), the container re-encodes at `rate·F`, so
    * duration is preserved. Non-WAV / multi-channel payloads pass
    * through unchanged (flagged false). Map-only: payloads never leave
    * their partition.
    */
  def resampleAudio(df: DataFrame, idCol: String, binCol: String,
                    factor: Int): DataFrame = {
    require(factor >= 1, "factor must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(it => it.map { case (id, bytes) =>
        Codec.wavSamples(bytes) match {
          case Some((rate, channels, s)) if channels == 1 =>
            val out =
              if (s.length <= 1 || factor == 1) s
              else {
                val res = new Array[Short](factor * (s.length - 1) + 1)
                var i = 0
                while (i < s.length - 1) {
                  val a = s(i).toInt
                  val d = s(i + 1) - a
                  var j = 0
                  while (j < factor) {
                    res(factor * i + j) = (a + d * j / factor).toShort
                    j += 1
                  }
                  i += 1
                }
                res(res.length - 1) = s(s.length - 1)
                res
              }
            (id, Codec.encodeWav(out, rate * factor, channels = 1), true)
          case _ => (id, bytes, false)
        }
      })
      .toDF(idCol, binCol, "resampled")
  }

  /** Exact content stats for a mono WAV column: sample rate, sample
    * count, and the plain integer sum of sample values — the
    * engine-neutral audio checksum that proves a codec pass
    * bit-faithful (every quantity re-derives from raw bytes in an
    * external engine, no float anywhere). Undecodable payloads report
    * (0, 0, 0).
    */
  def audioChecksum(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(it => it.map { case (id, bytes) =>
        Codec.wavSamples(bytes) match {
          case Some((rate, _, samples)) =>
            var s = 0L
            var i = 0
            while (i < samples.length) { s += samples(i); i += 1 }
            (id, rate, samples.length.toLong, s)
          case None => (id, 0, 0L, 0L)
        }
      })
      .toDF(idCol, "sample_rate", "n_samples", "sum_samples")
  }

  /** Build mono 16-bit PCM WAV payloads from a source column (one sample
    * per utf-8 byte, values 0-255) — partition-wise, the audio analog of
    * [[withBmpPayload]]: exercises the WAV codec path on corpus data
    * without shipping audio fixtures.
    */
  def withWavPayload(df: DataFrame, idCol: String, srcCol: String,
                     sampleRate: Int = 8000, binCol: String = "payload"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(srcCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions(it => it.map { case (id, bytes) =>
        val samples = (if (bytes == null) Array.emptyByteArray else bytes)
          .map(b => (b & 0xff).toShort)
        (id, Codec.encodeWav(samples, sampleRate, channels = 1))
      })
      .toDF(idCol, binCol)
  }

  /** Build BMP payloads from a binary column (pixels = the column's
    * bytes, BGR row-major at the given width) — partition-wise, used to
    * exercise the decode path on corpus data without shipping image
    * fixtures.
    */
  /** 64-bit average perceptual hash (aHash) over a BMP binary column:
    * nearest-neighbor sample an 8×8 grid, integer grayscale (b+g+r)/3,
    * threshold at the integer mean of the 64 samples — bit y*8+x set iff
    * gray > mean. All-integer arithmetic, so every bit re-derives in an
    * external engine; map-only (payloads never leave their partition).
    * Output: (id, sh) — named to feed [[Dedup.fingerprintPairs]]
    * directly, which turns this into image near-duplicate detection with
    * its pigeonhole recall guarantee on Hamming distance.
    * Undecodable payloads hash to 0 (they pair only with each other).
    */
  def imagePHash(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(it => it.map { case (id, bytes) =>
        val hash = Codec.bmpPixels(bytes) match {
          case Some((w, h, px)) =>
            val gray = new Array[Int](64)
            var sum = 0L
            var y = 0
            while (y < 8) {
              val sy = y.toLong * h / 8
              var x = 0
              while (x < 8) {
                val sx = x.toLong * w / 8
                val base = ((sy * w + sx) * 3).toInt
                val g = ((px(base) & 0xff) + (px(base + 1) & 0xff) +
                  (px(base + 2) & 0xff)) / 3
                gray(y * 8 + x) = g; sum += g
                x += 1
              }
              y += 1
            }
            val mean = (sum / 64).toInt
            var bits = 0L
            var i = 0
            while (i < 64) { if (gray(i) > mean) bits |= (1L << i); i += 1 }
            bits
          case None => 0L
        }
        (id, hash)
      })
      .toDF("id", "sh")
  }

  def withBmpPayload(df: DataFrame, idCol: String, srcCol: String,
                     width: Int = 16, binCol: String = "payload"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(srcCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions(it => it.map { case (id, bytes) =>
        (id, Codec.encodeBmp(if (bytes == null) Array.emptyByteArray else bytes, width))
      })
      .toDF(idCol, binCol)
  }

  /** [[withBmpPayload]]'s PNG counterpart: utf-8 bytes as RGB pixels in
    * a compressed PNG container, scanline filters cycling through all
    * five types so every decode exercises the full unfilter matrix.
    */
  def withPngPayload(df: DataFrame, idCol: String, srcCol: String,
                     width: Int = 16, binCol: String = "payload"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(srcCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions(it => it.map { case (id, bytes) =>
        (id, Codec.encodePng(
          if (bytes == null) Array.emptyByteArray else bytes, width))
      })
      .toDF(idCol, binCol)
  }

  /** [[imageFeatures]] over PNG payloads: dimensions + per-channel
    * (R, G, B) means through the full decompress + unfilter path.
    * Map-only like every codec pass.
    */
  def pngFeatures(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(it => it.map { case (id, bytes) =>
        // ONE decode per payload — PNG decode is real decompression
        // work, not the BMP memcpy; means come from the same px array
        Codec.pngPixels(bytes) match {
          case Some((w, h, px)) =>
            val sums = new Array[Long](3)
            var i = 0
            while (i < px.length) { sums(i % 3) += px(i) & 0xff; i += 1 }
            val n = px.length / 3
            (id, w, h, 3, sums(0).toDouble / n, sums(1).toDouble / n,
              sums(2).toDouble / n)
          case None => (id, 0, 0, 0, 0.0, 0.0, 0.0)
        }
      })
      .toDF(idCol, "width", "height", "channels", "mean_r", "mean_g", "mean_b")
  }
}
