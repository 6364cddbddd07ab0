package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Multimodal column plumbing: image/audio/video as opaque BINARY columns
 * with typed metadata, processed per-partition in batches (the Scala
 * equivalent of mapInPandas for this JVM-only engine).
 *
 * Decoders, sniffed by magic bytes — ALL REAL from-scratch parsers of
 * public formats (no codec libraries, no fakes):
 *  - BMP ("BM", BITMAPINFOHEADER, uncompressed BI_RGB):
 *    width/height/bit-depth/stride from the DIB header, pixel-array
 *    size computed from the 4-byte-aligned row stride;
 *  - WAV ("RIFF"+"WAVE", PCM fmt chunk): channels/sample-rate/bits from
 *    fmt, duration from the data chunk;
 *  - AVI ("RIFF"+"AVI ", uncompressed DIB video stream): geometry and
 *    frame timing from the avih/strh/strf headers, payload from a real
 *    walk of the movi frame chunks, frame sampling returns the actual
 *    byte offsets of the sampled frames' pixel data;
 *  - PNG (\x89PNG, non-interlaced): IHDR geometry + a REAL inflate of
 *    the concatenated IDAT zlib stream, validated against the filtered
 *    scanline size — the one compressed format in the set;
 *  - anything else decodes as invalid/unknown (never throws).
 */
object Multimodal {

  final case class MediaMeta(media_type: String, width: Int, height: Int,
                             channels: Int, duration_ms: Long, payload_bytes: Long,
                             valid: Boolean)
  final case class MediaFeatures(media_id: Long, meta: MediaMeta,
                                 mean_byte: Double, byte_entropy: Double,
                                 frame_samples: Seq[Long])

  // --------------------------------------------------------------- BMP (real)
  private def u16le(b: Array[Byte], o: Int): Int =
    (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8)
  private def u32le(b: Array[Byte], o: Int): Long =
    (b(o) & 0xFFL) | ((b(o + 1) & 0xFFL) << 8) | ((b(o + 2) & 0xFFL) << 16) |
      ((b(o + 3) & 0xFFL) << 24)
  private def i32le(b: Array[Byte], o: Int): Int = u32le(b, o).toInt

  private val invalid = MediaMeta("unknown", 0, 0, 0, 0L, 0L, valid = false)

  /** Windows BMP, BITMAPINFOHEADER (or later, size >= 40), uncompressed
    * BI_RGB. payload_bytes = pixel-array size from the 4-byte-aligned row
    * stride (the format's real geometry, not the blob length). */
  def decodeBmp(bytes: Array[Byte]): MediaMeta = {
    if (bytes == null || bytes.length < 54 || bytes(0) != 'B' || bytes(1) != 'M')
      return invalid.copy(payload_bytes = if (bytes == null) 0 else bytes.length)
    val dibSize = u32le(bytes, 14)
    if (dibSize < 40) return invalid.copy(payload_bytes = bytes.length)
    val width = i32le(bytes, 18)
    val heightRaw = i32le(bytes, 22)
    val height = math.abs(heightRaw) // negative = top-down row order
    val planes = u16le(bytes, 26)
    val bpp = u16le(bytes, 28)
    val compression = u32le(bytes, 30)
    if (width <= 0 || height == 0 || planes != 1 || compression != 0L ||
      !Set(8, 24, 32).contains(bpp))
      return invalid.copy(payload_bytes = bytes.length)
    val stride = ((width.toLong * bpp + 31) / 32) * 4
    val pixelBytes = stride * height
    val pixelOffset = u32le(bytes, 10)
    if (pixelOffset + pixelBytes > bytes.length) // truncated pixel array
      return invalid.copy(payload_bytes = bytes.length)
    MediaMeta("image", width, height, bpp / 8, 0L, pixelBytes, valid = true)
  }

  /** Minimal BMP writer (fixture side): 24-bit BI_RGB, bottom-up, pixel
    * bytes cycled from `content` (zero-padded rows). */
  def encodeBmp(width: Int, height: Int, content: Array[Byte]): Array[Byte] = {
    val stride = ((width * 24 + 31) / 32) * 4
    val pixelBytes = stride * height
    val size = 54 + pixelBytes
    val bb = java.nio.ByteBuffer.allocate(size).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(size).putShort(0).putShort(0).putInt(54)
    bb.putInt(40).putInt(width).putInt(height).putShort(1).putShort(24)
      .putInt(0).putInt(pixelBytes).putInt(2835).putInt(2835).putInt(0).putInt(0)
    var y = 0
    var k = 0
    while (y < height) {
      var x = 0
      while (x < stride) {
        val inRow = x < width * 3
        bb.put(if (inRow && content.nonEmpty) content(k % content.length) else 0.toByte)
        if (inRow && content.nonEmpty) k += 1
        x += 1
      }
      y += 1
    }
    bb.array()
  }

  // --------------------------------------------------------------- WAV (real)
  /** RIFF/WAVE with a PCM fmt chunk: channels and sample geometry from fmt,
    * duration from the data chunk (samples * 1000 / sampleRate). */
  def decodeWav(bytes: Array[Byte]): MediaMeta = {
    def tag(o: Int, s: String): Boolean =
      o + 4 <= bytes.length && (0 until 4).forall(i => bytes(o + i) == s.charAt(i).toByte)
    if (bytes == null || bytes.length < 44 || !tag(0, "RIFF") || !tag(8, "WAVE"))
      return invalid.copy(payload_bytes = if (bytes == null) 0 else bytes.length)
    var off = 12
    var channels = 0
    var sampleRate = 0L
    var blockAlign = 0
    var bits = 0
    var dataLen = -1L
    var fmtSeen = false
    while (off + 8 <= bytes.length && (dataLen < 0 || !fmtSeen)) {
      val len = u32le(bytes, off + 4)
      if (tag(off, "fmt ") && off + 8 + 16 <= bytes.length) {
        val audioFormat = u16le(bytes, off + 8)
        if (audioFormat != 1) return invalid.copy(payload_bytes = bytes.length) // PCM only
        channels = u16le(bytes, off + 10)
        sampleRate = u32le(bytes, off + 12)
        blockAlign = u16le(bytes, off + 20)
        bits = u16le(bytes, off + 22)
        fmtSeen = true
      } else if (tag(off, "data")) {
        dataLen = math.min(len, (bytes.length - off - 8).toLong)
      }
      val step = 8L + len + (len & 1L) // chunks are word-aligned
      off = if (off + step > bytes.length.toLong) bytes.length else (off + step).toInt
    }
    if (!fmtSeen || dataLen < 0 || channels <= 0 || sampleRate <= 0 ||
      blockAlign <= 0 || bits <= 0 || blockAlign != channels * (bits / 8))
      return invalid.copy(payload_bytes = bytes.length)
    val samples = dataLen / blockAlign
    MediaMeta("audio", 0, 0, channels, samples * 1000L / sampleRate, dataLen, valid = true)
  }

  /** Minimal PCM WAV writer (fixture side): 16-bit samples cycled from
    * `content`. */
  def encodeWav(channels: Int, sampleRate: Int, nSamples: Int,
                content: Array[Byte]): Array[Byte] = {
    val blockAlign = channels * 2
    val dataLen = nSamples * blockAlign
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes).putInt(36 + dataLen).put("WAVE".getBytes)
    bb.put("fmt ".getBytes).putInt(16).putShort(1).putShort(channels.toShort)
      .putInt(sampleRate).putInt(sampleRate * blockAlign)
      .putShort(blockAlign.toShort).putShort(16)
    bb.put("data".getBytes).putInt(dataLen)
    var i = 0
    while (i < dataLen) {
      bb.put(if (content.nonEmpty) content(i % content.length) else 0.toByte)
      i += 1
    }
    bb.array()
  }

  // --------------------------------------------------------------- AVI (real)
  /** RIFF/'AVI ' with an uncompressed DIB 'vids' stream. Geometry comes
    * from the avih main header, frame timing from dwMicroSecPerFrame *
    * dwTotalFrames, bit depth from the stream-format BITMAPINFOHEADER
    * (BI_RGB only), and payload_bytes from a REAL walk of the 'movi' frame
    * chunks ('##db'/'##dc'), clamped at blob truncation like WAV. */
  def decodeAvi(bytes: Array[Byte]): MediaMeta = {
    def tag(o: Int, s: String): Boolean =
      o + 4 <= bytes.length && (0 until 4).forall(i => bytes(o + i) == s.charAt(i).toByte)
    if (bytes == null || bytes.length < 12 || !tag(0, "RIFF") || !tag(8, "AVI "))
      return invalid.copy(payload_bytes = if (bytes == null) 0 else bytes.length)
    var usPerFrame = 0L
    var totalFrames = 0L
    var width = 0
    var height = 0
    var bpp = 0
    var compressionOk = false
    var vidsSeen = false
    var moviPayload = -1L

    // one chunk walker used at every nesting level; returns false on a
    // malformed length so fuzzed blobs terminate instead of looping
    def walk(from: Int, to: Int)(visit: (String, Int, Int) => Unit): Unit = {
      var off = from
      while (off + 8 <= to) {
        val id = new String(bytes.slice(off, off + 4), java.nio.charset.StandardCharsets.ISO_8859_1)
        val len = u32le(bytes, off + 4)
        val dataStart = off + 8
        val dataEnd = math.min(to.toLong, dataStart.toLong + len).toInt
        if (dataEnd < dataStart) return
        visit(id, dataStart, dataEnd)
        val step = 8L + len + (len & 1L)
        if (step <= 0 || off + step > to.toLong) return
        off = (off + step).toInt
      }
    }

    walk(12, bytes.length) { (id, s, e) =>
      if (id == "LIST" && e - s >= 4) {
        val form = new String(bytes.slice(s, s + 4), java.nio.charset.StandardCharsets.ISO_8859_1)
        if (form == "hdrl") {
          walk(s + 4, e) { (hid, hs, he) =>
            if (hid == "avih" && he - hs >= 40) {
              usPerFrame = u32le(bytes, hs)
              totalFrames = u32le(bytes, hs + 16)
              width = i32le(bytes, hs + 32)
              height = i32le(bytes, hs + 36)
            }
            if (hid == "LIST" && he - hs >= 4) {
              val lform = new String(bytes.slice(hs, hs + 4), java.nio.charset.StandardCharsets.ISO_8859_1)
              if (lform == "strl") {
                var isVids = false
                walk(hs + 4, he) { (sid, ss, se) =>
                  if (sid == "strh" && se - ss >= 8) {
                    val fccType = new String(bytes.slice(ss, ss + 4), java.nio.charset.StandardCharsets.ISO_8859_1)
                    isVids = fccType == "vids"
                    if (isVids) vidsSeen = true
                  } else if (sid == "strf" && isVids && se - ss >= 40) {
                    bpp = u16le(bytes, ss + 14)
                    compressionOk = u32le(bytes, ss + 16) == 0L // BI_RGB
                  }
                }
              }
            }
          }
        } else if (form == "movi") {
          var sum = 0L
          walk(s + 4, e) { (cid, cs, ce) =>
            // stream-data chunks: '##db' (uncompressed DIB) / '##dc'
            if (cid.length == 4 && cid(0).isDigit && cid(1).isDigit &&
              (cid.substring(2) == "db" || cid.substring(2) == "dc"))
              sum += (ce - cs).toLong
          }
          moviPayload = sum
        }
      }
    }
    if (!vidsSeen || !compressionOk || width <= 0 || height <= 0 ||
      usPerFrame <= 0 || totalFrames <= 0 || moviPayload < 0 ||
      !Set(8, 24, 32).contains(bpp))
      return invalid.copy(payload_bytes = bytes.length)
    MediaMeta("video", width, height, bpp / 8,
      totalFrames * usPerFrame / 1000L, moviPayload, valid = true)
  }

  /** Byte offsets (into the blob) of the pixel data of frames sampled every
    * `frameStepMs` of timeline — a REAL walk to each sampled frame chunk. */
  def aviFrameOffsets(bytes: Array[Byte], frameStepMs: Long, cap: Int = 64): Seq[Long] = {
    val meta = decodeAvi(bytes)
    if (!meta.valid || meta.duration_ms <= 0) return Seq.empty
    def tag(o: Int, s: String): Boolean =
      o + 4 <= bytes.length && (0 until 4).forall(i => bytes(o + i) == s.charAt(i).toByte)
    // collect all frame-chunk data offsets from the movi list
    val offsets = scala.collection.mutable.ArrayBuffer.empty[Long]
    var off = 12
    while (off + 8 <= bytes.length) {
      val len = u32le(bytes, off + 4)
      if (tag(off, "LIST") && off + 12 <= bytes.length && tag(off + 8, "movi")) {
        var c = off + 12
        val end = math.min(bytes.length.toLong, off + 8L + len).toInt
        while (c + 8 <= end) {
          val clen = u32le(bytes, c + 4)
          if (bytes(c).toChar.isDigit && bytes(c + 1).toChar.isDigit &&
            ((bytes(c + 2) == 'd' && bytes(c + 3) == 'b') ||
             (bytes(c + 2) == 'd' && bytes(c + 3) == 'c')))
            offsets += (c + 8).toLong
          val step = 8L + clen + (clen & 1L)
          if (step <= 0 || c + step > end.toLong) { c = end } else c = (c + step).toInt
        }
      }
      val step = 8L + len + (len & 1L)
      if (step <= 0 || off + step > bytes.length.toLong) return sample(offsets.toSeq, meta, frameStepMs, cap)
      off = (off + step).toInt
    }
    sample(offsets.toSeq, meta, frameStepMs, cap)
  }

  private def sample(frames: Seq[Long], meta: MediaMeta, stepMs: Long, cap: Int): Seq[Long] = {
    if (frames.isEmpty) return Seq.empty
    val usPerFrame = meta.duration_ms * 1000L / math.max(1L, frames.length.toLong)
    (0L until meta.duration_ms by stepMs).take(cap).flatMap { t =>
      val idx = if (usPerFrame <= 0) 0L else t * 1000L / usPerFrame
      frames.lift(math.min(idx, frames.length - 1L).toInt)
    }
  }

  /** Minimal uncompressed-DIB AVI writer (fixture side): 24-bit '00db'
    * frames, pixel bytes cycled from `content` (continuing across frames). */
  def encodeAvi(width: Int, height: Int, nFrames: Int, usPerFrame: Int,
                content: Array[Byte]): Array[Byte] = {
    val stride = ((width * 24 + 31) / 32) * 4
    val frameBytes = stride * height
    val strf = 40
    val strh = 56
    val strlLen = 4 + (8 + strh) + (8 + strf)
    val avih = 56
    val hdrlLen = 4 + (8 + avih) + (8 + strlLen)
    val moviLen = 4 + nFrames * (8 + frameBytes) // frameBytes is 4-aligned, no pad
    val riffLen = 4 + (8 + hdrlLen) + (8 + moviLen)
    val bb = java.nio.ByteBuffer.allocate(8 + riffLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes).putInt(riffLen).put("AVI ".getBytes)
    bb.put("LIST".getBytes).putInt(hdrlLen).put("hdrl".getBytes)
    // avih: usPerFrame, maxBytesPerSec, padding, flags, totalFrames,
    // initialFrames, streams, suggestedBufferSize, width, height, reserved x4
    bb.put("avih".getBytes).putInt(avih)
      .putInt(usPerFrame).putInt(0).putInt(0).putInt(0).putInt(nFrames)
      .putInt(0).putInt(1).putInt(frameBytes).putInt(width).putInt(height)
      .putInt(0).putInt(0).putInt(0).putInt(0)
    bb.put("LIST".getBytes).putInt(strlLen).put("strl".getBytes)
    // strh: fccType, fccHandler, flags, prio+lang, initialFrames, scale,
    // rate, start, length, suggestedBufferSize, quality, sampleSize, rcFrame
    bb.put("strh".getBytes).putInt(strh)
      .put("vids".getBytes).put("DIB ".getBytes).putInt(0).putInt(0).putInt(0)
      .putInt(usPerFrame).putInt(1000000).putInt(0).putInt(nFrames)
      .putInt(frameBytes).putInt(-1).putInt(0)
      .putShort(0).putShort(0).putShort(width.toShort).putShort(height.toShort)
    // strf: BITMAPINFOHEADER
    bb.put("strf".getBytes).putInt(strf)
      .putInt(40).putInt(width).putInt(height).putShort(1).putShort(24)
      .putInt(0).putInt(frameBytes).putInt(2835).putInt(2835).putInt(0).putInt(0)
    bb.put("LIST".getBytes).putInt(moviLen).put("movi".getBytes)
    var f = 0
    var k = 0
    while (f < nFrames) {
      bb.put("00db".getBytes).putInt(frameBytes)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < stride) {
          val inRow = x < width * 3
          bb.put(if (inRow && content.nonEmpty) content(k % content.length) else 0.toByte)
          if (inRow && content.nonEmpty) k += 1
          x += 1
        }
        y += 1
      }
      f += 1
    }
    bb.array()
  }

  // --------------------------------------------------------------- PNG (real)
  private def u32be(b: Array[Byte], o: Int): Long =
    ((b(o) & 0xFFL) << 24) | ((b(o + 1) & 0xFFL) << 16) |
      ((b(o + 2) & 0xFFL) << 8) | (b(o + 3) & 0xFFL)

  private val PngSig: Array[Int] = Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)

  private def pngChannels(colorType: Int): Int = colorType match {
    case 0 => 1 // greyscale
    case 2 => 3 // truecolor
    case 3 => 1 // palette index
    case 4 => 2 // grey + alpha
    case 6 => 4 // truecolor + alpha
    case _ => -1
  }

  /** RFC 2083 §6.6 Paeth predictor. */
  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Reverse the per-scanline filters (RFC 2083 §6: None/Sub/Up/Average/
    * Paeth) over the inflated stream `raw` (each row: 1 filter byte +
    * rowBytes data). Returns the reconstructed pixel bytes, or null on a
    * filter byte outside 0..4 (corrupt stream). Pure byte arithmetic,
    * from the public spec. */
  private def defilterPng(raw: Array[Byte], height: Int, rowBytes: Int,
                          bpp: Int): Array[Byte] = {
    val out = new Array[Byte](height * rowBytes)
    var y = 0
    while (y < height) {
      val ft = raw(y * (1 + rowBytes)) & 0xFF
      if (ft > 4) return null
      val ro = y * (1 + rowBytes) + 1
      val oo = y * rowBytes
      var x = 0
      while (x < rowBytes) {
        val f = raw(ro + x) & 0xFF
        val a = if (x >= bpp) out(oo + x - bpp) & 0xFF else 0
        val b = if (y > 0) out(oo - rowBytes + x) & 0xFF else 0
        val v = ft match {
          case 0 => f
          case 1 => f + a
          case 2 => f + b
          case 3 => f + ((a + b) >> 1)
          case _ =>
            val c = if (x >= bpp && y > 0) out(oo - rowBytes + x - bpp) & 0xFF else 0
            f + paeth(a, b, c)
        }
        out(oo + x) = (v & 0xFF).toByte
        x += 1
      }
      y += 1
    }
    out
  }

  /** PNG (RFC 2083 / ISO 15948), non-interlaced: geometry and channel
    * count from IHDR; the concatenated IDAT zlib stream is ACTUALLY
    * inflated (PdfParser.inflate — direct-buffer, GCLocker-safe) and the
    * decompressed size must equal height * (1 + rowBytes) filtered
    * scanlines, so a blob with a lying IHDR or corrupt deflate data reads
    * invalid. payload_bytes = that decompressed scanline size (the
    * format's real geometry, like BMP's stride math). Chunk CRCs are not
    * verified (zlib's own adler32 covers the pixel data; the byte[] CRC32
    * API would pin arrays). Adam7-interlaced images report invalid
    * (pass-size math out of scope; rare in the wild). */
  def decodePng(bytes: Array[Byte]): MediaMeta = decodePngPixels(bytes)._1

  /** decodePng plus the fully DEFILTERED pixel bytes (scanlines
    * concatenated, filter bytes removed); pixels are null — and the meta
    * invalid — when the stream is corrupt, lying, or uses a filter byte
    * outside 0..4. */
  def decodePngPixels(bytes: Array[Byte]): (MediaMeta, Array[Byte]) = {
    if (bytes == null || bytes.length < 8 + 25 ||
        !(0 until 8).forall(i => (bytes(i) & 0xFF) == PngSig(i)))
      return (invalid.copy(payload_bytes = if (bytes == null) 0 else bytes.length), null)
    // first chunk must be IHDR, length 13
    if (u32be(bytes, 8) != 13L || !(0 until 4).forall(i => bytes(12 + i) == "IHDR".charAt(i).toByte))
      return (invalid.copy(payload_bytes = bytes.length), null)
    val width = u32be(bytes, 16)
    val height = u32be(bytes, 20)
    val bitDepth = bytes(24) & 0xFF
    val colorType = bytes(25) & 0xFF
    val compression = bytes(26) & 0xFF
    val filter = bytes(27) & 0xFF
    val interlace = bytes(28) & 0xFF
    val channels = pngChannels(colorType)
    if (width <= 0 || height <= 0 || width > Int.MaxValue || height > Int.MaxValue ||
        channels < 0 || compression != 0 || filter != 0 || interlace != 0 ||
        !Set(1, 2, 4, 8, 16).contains(bitDepth))
      return (invalid.copy(payload_bytes = bytes.length), null)
    // walk chunks, concatenating IDAT data until IEND
    val idat = new java.io.ByteArrayOutputStream(1 << 12)
    var off = 8 + 12 + 13 // past IHDR
    var sawEnd = false
    while (!sawEnd && off + 8 <= bytes.length) {
      val len = u32be(bytes, off)
      if (len < 0 || len > Int.MaxValue || off + 12 + len > bytes.length)
        return (invalid.copy(payload_bytes = bytes.length), null) // truncated chunk
      val isIdat = (0 until 4).forall(i => bytes(off + 4 + i) == "IDAT".charAt(i).toByte)
      val isIend = (0 until 4).forall(i => bytes(off + 4 + i) == "IEND".charAt(i).toByte)
      if (isIdat) idat.write(bytes, off + 8, len.toInt)
      if (isIend) sawEnd = true
      off += 12 + len.toInt
    }
    if (!sawEnd || idat.size() == 0)
      return (invalid.copy(payload_bytes = bytes.length), null)
    val rowBytes = (width * channels * bitDepth + 7) / 8
    val expected = height * (1 + rowBytes)
    graft.kernel.pdf.PdfParser.inflate(idat.toByteArray) match {
      case Some(raw) if raw.length.toLong == expected =>
        val bpp = math.max(1, (bitDepth * channels) / 8)
        val px = defilterPng(raw, height.toInt, rowBytes.toInt, bpp)
        if (px == null) (invalid.copy(payload_bytes = bytes.length), null)
        else (MediaMeta("image", width.toInt, height.toInt, channels, 0L, expected,
          valid = true), px)
      case _ => (invalid.copy(payload_bytes = bytes.length), null)
    }
  }

  // CRC-32 (ISO 3309) table-driven, pure JVM — the java.util.zip byte[]
  // API pins arrays via JNI and this runs inside 32-thread tasks
  private lazy val crcTable: Array[Int] = Array.tabulate(256) { n =>
    var c = n
    var k = 0
    while (k < 8) { c = if ((c & 1) != 0) 0xEDB88320 ^ (c >>> 1) else c >>> 1; k += 1 }
    c
  }
  private def crc32(b: Array[Byte], off: Int, len: Int): Int = {
    var c = 0xFFFFFFFF
    var i = off
    val end = off + len
    while (i < end) { c = crcTable((c ^ b(i)) & 0xFF) ^ (c >>> 8); i += 1 }
    c ^ 0xFFFFFFFF
  }

  /** Minimal PNG writer (fixture side): bitDepth 8, colorType 0 (grey) or
    * 2 (RGB), non-interlaced, pixel bytes cycled from `content`, every
    * scanline filtered with `filterType` (0..4 — None/Sub/Up/Average/
    * Paeth per RFC 2083 §6, applied forward so the decoder must genuinely
    * defilter). The IDAT zlib stream uses STORED deflate blocks with
    * a hand-computed adler32 — fully from-scratch, nothing pinned, and
    * the JDK Inflater (so any PNG reader) inflates it fine. */
  def encodePng(width: Int, height: Int, colorType: Int, content: Array[Byte],
                filterType: Int = 0): Array[Byte] = {
    require(colorType == 0 || colorType == 2, "writer supports grey/RGB only")
    require(filterType >= 0 && filterType <= 4, "filter 0..4")
    val channels = pngChannels(colorType)
    val bpp = channels // bitDepth 8
    val rowBytes = width * channels
    // original pixels first (what the oracle recomputes from `content`)...
    val px = new Array[Byte](rowBytes * height)
    if (content.nonEmpty) {
      var k = 0
      while (k < px.length) { px(k) = content(k % content.length); k += 1 }
    }
    // ...then the forward-filtered scanlines the decoder must invert
    val raw = new Array[Byte]((1 + rowBytes) * height)
    var y = 0
    while (y < height) {
      val base = y * (1 + rowBytes)
      raw(base) = filterType.toByte
      val oo = y * rowBytes
      var x = 0
      while (x < rowBytes) {
        val o = px(oo + x) & 0xFF
        val a = if (x >= bpp) px(oo + x - bpp) & 0xFF else 0
        val b = if (y > 0) px(oo - rowBytes + x) & 0xFF else 0
        val pred = filterType match {
          case 0 => 0
          case 1 => a
          case 2 => b
          case 3 => (a + b) >> 1
          case _ =>
            val c = if (x >= bpp && y > 0) px(oo - rowBytes + x - bpp) & 0xFF else 0
            paeth(a, b, c)
        }
        raw(base + 1 + x) = ((o - pred) & 0xFF).toByte
        x += 1
      }
      y += 1
    }
    // zlib wrap: 0x78 0x01 header, stored blocks (<= 65535 each), adler32
    val nBlocks = math.max(1, (raw.length + 65534) / 65535)
    val z = new Array[Byte](2 + nBlocks * 5 + raw.length + 4)
    z(0) = 0x78; z(1) = 0x01
    var zo = 2
    var ro = 0
    while (ro < raw.length || (raw.length == 0 && ro == 0)) {
      val len = math.min(65535, raw.length - ro)
      val isFinal = ro + len >= raw.length
      z(zo) = if (isFinal) 1 else 0
      z(zo + 1) = (len & 0xFF).toByte; z(zo + 2) = ((len >> 8) & 0xFF).toByte
      z(zo + 3) = (~len & 0xFF).toByte; z(zo + 4) = ((~len >> 8) & 0xFF).toByte
      System.arraycopy(raw, ro, z, zo + 5, len)
      zo += 5 + len
      ro += len
      if (raw.length == 0) ro = 1 // emitted the single empty final block
    }
    var a = 1L; var b = 0L
    var i = 0
    while (i < raw.length) { a = (a + (raw(i) & 0xFF)) % 65521; b = (b + a) % 65521; i += 1 }
    val adler = (b << 16) | a
    z(zo) = ((adler >> 24) & 0xFF).toByte; z(zo + 1) = ((adler >> 16) & 0xFF).toByte
    z(zo + 2) = ((adler >> 8) & 0xFF).toByte; z(zo + 3) = (adler & 0xFF).toByte

    val outSize = 8 + 25 + (12 + z.length) + 12
    val png = java.nio.ByteBuffer.allocate(outSize)
    PngSig.foreach(s => png.put(s.toByte))
    def chunk(tag: String, data: Array[Byte]): Unit = {
      png.putInt(data.length)
      val typeAndData = new Array[Byte](4 + data.length)
      (0 until 4).foreach(i => typeAndData(i) = tag.charAt(i).toByte)
      System.arraycopy(data, 0, typeAndData, 4, data.length)
      png.put(typeAndData)
      png.putInt(crc32(typeAndData, 0, typeAndData.length))
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
    ihdr.putInt(width).putInt(height).put(8.toByte).put(colorType.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte)
    chunk("IHDR", ihdr.array())
    chunk("IDAT", z)
    chunk("IEND", Array.emptyByteArray)
    png.array()
  }

  /** Doc-derived PNG blob for the SQL-oracled PNG query: geometry is pure
    * doc_id arithmetic (width 4+(id*13)%48, height 4+(id*17)%48, RGB for
    * even ids / grey for odd), pixels cycled from the doc text, scanlines
    * forward-filtered with Paeth for ids divisible by 3 and filter
    * (id % 5) in 0..3 otherwise — all five RFC 2083 filters occur across
    * the corpus, so oracle parity on the pixel-derived stat proves the
    * defilter. Every 5th doc is a corrupt blob (raw text bytes, no
    * signature) so the invalid path is oracled too. */
  def pngFromDoc(docId: Long, text: String): (Long, Array[Byte]) = {
    val payload = (if (text == null) "" else text)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val blob =
      if (docId % 5 == 4) payload
      else encodePng((4 + (docId * 13) % 48).toInt, (4 + (docId * 17) % 48).toInt,
        if (docId % 2 == 0) 2 else 0, payload,
        filterType = if (docId % 3 == 0) 4 else (docId % 5).toInt)
    (docId, blob)
  }

  /** Magic-sniffing decoder over all supported containers. RIFF dispatches
    * on the form type: WAVE -> audio, 'AVI ' -> video. */
  def decodeMedia(bytes: Array[Byte]): MediaMeta = {
    if (bytes == null || bytes.length < 4)
      return invalid.copy(payload_bytes = if (bytes == null) 0 else bytes.length)
    if (bytes(0) == 'B' && bytes(1) == 'M') decodeBmp(bytes)
    else if ((bytes(0) & 0xFF) == 0x89 && bytes(1) == 'P') decodePng(bytes)
    else if (bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == 'F') {
      if (bytes.length >= 12 && bytes(8) == 'A' && bytes(9) == 'V' &&
        bytes(10) == 'I' && bytes(11) == ' ') decodeAvi(bytes)
      else decodeWav(bytes)
    } else invalid.copy(payload_bytes = bytes.length)
  }

  /** Feature extraction over (media_id, bytes): batched per partition,
    * one pass per blob; video frame sampling walks the AVI movi list and
    * returns the BYTE OFFSET of each sampled frame's pixel data (one frame
    * per `frameStepMs` of timeline, capped at 64). */
  def extractFeatures(df: DataFrame, idCol: String = "media_id",
                      bytesCol: String = "bytes", frameStepMs: Long = 1000L)
                     (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(bytesCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val meta = decodeMedia(bytes)
          val (mean, entropy) = byteStats(bytes)
          val frames =
            if (meta.media_type == "video") aviFrameOffsets(bytes, frameStepMs)
            else Seq.empty[Long]
          MediaFeatures(id, meta, mean, entropy, frames)
        }
      }.toDF()
  }

  private def byteStats(bytes: Array[Byte]): (Double, Double) = {
    if (bytes == null || bytes.isEmpty) return (0.0, 0.0)
    val hist = new Array[Long](256)
    var sum = 0L
    var i = 0
    while (i < bytes.length) { val b = bytes(i) & 0xFF; hist(b) += 1; sum += b; i += 1 }
    var ent = 0.0
    var k = 0
    while (k < 256) {
      if (hist(k) > 0) {
        val p = hist(k).toDouble / bytes.length
        ent -= p * (math.log(p) / math.log(2))
      }
      k += 1
    }
    (sum.toDouble / bytes.length, ent)
  }

  /** Doc-derived media blob: every header parameter is pure doc_id
    * arithmetic and the content bytes come from the doc text, so a SQL
    * oracle can independently recompute what the decode+feature pipeline
    * must emit. Routing by doc_id % 4:
    *  0 -> REAL 24-bit BMP, width 4+(id*7)%32, height 4+(id*11)%32
    *       (payload_bytes = aligned stride * height);
    *  1 -> REAL PCM WAV, channels 1+id%2, 8 kHz, 8*(1+id%50) samples
    *       (duration_ms = 1+id%50 exactly);
    *  2 -> REAL uncompressed-DIB AVI, width 8+(id*37)%24, height
    *       8+(id*53)%24, 5+id%20 frames at 5 fps (duration_ms =
    *       200*(5+id%20); payload_bytes = stride*height*frames);
    *  3 -> corrupt blob (text bytes, no magic). */
  def mediaFromDoc(docId: Long, text: String): (Long, Array[Byte]) = {
    val t = (docId % 4).toInt
    val payload = (if (text == null) "" else text)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val blob = t match {
      case 0 => encodeBmp((4 + (docId * 7) % 32).toInt, (4 + (docId * 11) % 32).toInt, payload)
      case 1 => encodeWav((1 + docId % 2).toInt, 8000, (8 * (1 + docId % 50)).toInt, payload)
      case 2 => encodeAvi((8 + (docId * 37) % 24).toInt, (8 + (docId * 53) % 24).toInt,
        (5 + docId % 20).toInt, 200000, payload)
      case _ => payload
    }
    (docId, blob)
  }

  /** Deterministic fixture media table generator (all real formats). */
  def mediaRow(i: Long, seed: Long = 42L): (Long, Array[Byte]) = {
    val r = new graft.SplitMix64(seed * 0x9E3779B97F4A7C15L + i * 0xC2B2AE3D27D4EB4FL)
    import r.nextInt
    val t = nextInt(4) // 3 => corrupt blob
    val payload = Array.fill(64 + nextInt(512))(r.nextLong().toByte)
    val blob = t match {
      case 0 => encodeBmp(4 + nextInt(60), 4 + nextInt(60), payload)
      case 1 => encodeWav(1 + nextInt(2), 8000, 8 * (1 + nextInt(500)), payload)
      case 2 => encodeAvi(4 + nextInt(28), 4 + nextInt(28), 1 + nextInt(24), 200000, payload)
      case _ => payload // corrupt: no magic
    }
    (i, blob)
  }
}
