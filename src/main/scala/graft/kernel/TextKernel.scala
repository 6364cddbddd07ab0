package graft.kernel

import java.nio.ByteBuffer
import java.nio.charset.{CharacterCodingException, CodingErrorAction, StandardCharsets}

/**
 * Reference-exact text kernel: the byte-level text operators of the reference
 * worker (see /root/reference), re-expressed as pure JVM functions that run
 * inside `mapPartitions` on executors.
 *
 * Python→JVM byte-identity traps handled here (SURVEY.md §2.10):
 *   - all counting/slicing is by Unicode CODE POINT, not UTF-16 unit;
 *   - `str.isprintable()` / `str.isspace()` are reimplemented from the Unicode
 *     category definitions (Java has no built-in equivalent);
 *   - strict UTF-8 detection uses a REPORT-mode decoder (Java's default
 *     String(bytes, UTF_8) silently replaces malformed input);
 *   - latin-1 decoding is total and never fails.
 *
 * Reference evidence (files under /root/reference):
 *   - decode w/ fallback: src/processor.py:648-665 (extract_text_from_file)
 *   - fallback gate:      src/processor.py:676-713 (extract_text_fallback)
 *   - truncation:         src/text_limits.py:5-16
 *   - sanitize:           src/uploader.py:159-172
 *   - NUL strip:          src/processor.py:490,508,621,706
 *   - page join:          src/processor.py:479-496
 *
 * The fallback gate reads each document in one pass over its bytes
 * (`extractTextFallback`): the ASCII prefix is counted byte by byte, the
 * rest is validated as UTF-8 code point by code point (the strict decoder's
 * Table 3-7) and counted, and only an ill-formed sequence sends the tail to
 * a latin-1 count. Every code point below U+0100 is classified by one
 * literal table (`flags`); the rest by one `Character.getType` call. The
 * gate decodes the `String` once, after it has passed.
 */
object TextKernel {

  /** Config mirroring the reference defaults (src/settings.py:45-49,
    * env.example MAX_TEXT_LENGTH=0 => unlimited). */
  final case class Config(
      maxTextLength: Option[Int] = None, // None = unlimited (reference default)
      fallbackMaxSize: Int = 204800,     // TEXT_FALLBACK_MAX_SIZE
      fallbackMinPrintable: Double = 0.99 // TEXT_FALLBACK_MIN_PRINTABLE
  )
  val defaultConfig: Config = Config()

  // ---------------------------------------------------------------------
  // Unicode predicates (Python parity)
  // ---------------------------------------------------------------------

  /** Flag bits of `flags(cp)`. */
  private[kernel] final val Counted = 1 // Python `isprintable()` or \t \n \r: the T4 ratio's numerator
  private[kernel] final val Space = 2   // Python `isspace()`
  private[kernel] final val Letter = 4  // Python `isalpha()` (`Character.isLetter`)
  private[kernel] final val Strip = 8   // the O4 score's strip set .,;:!?()[]{}"'-

  private val SpaceTypes = (1 << Character.SPACE_SEPARATOR) |
    (1 << Character.LINE_SEPARATOR) | (1 << Character.PARAGRAPH_SEPARATOR)
  private val UnprintableTypes = SpaceTypes | (1 << Character.CONTROL) |
    (1 << Character.FORMAT) | (1 << Character.SURROGATE) |
    (1 << Character.PRIVATE_USE) | (1 << Character.UNASSIGNED)
  private val LetterTypes = (1 << Character.UPPERCASE_LETTER) |
    (1 << Character.LOWERCASE_LETTER) | (1 << Character.TITLECASE_LETTER) |
    (1 << Character.MODIFIER_LETTER) | (1 << Character.OTHER_LETTER)

  /** The flags that a code point's Unicode category gives. Python
    * `isprintable()` is false iff the category is in {Cc, Cf, Cs, Co, Cn,
    * Zl, Zp} or (Zs and cp != U+0020); `isspace()` holds for categories
    * Zs/Zl/Zp and for the bidi classes WS/B/S, which add only code points
    * below U+0100. */
  private def typeFlags(cp: Int): Int = {
    val t = 1 << Character.getType(cp)
    (if ((t & UnprintableTypes) == 0) Counted else 0) |
      (if ((t & SpaceTypes) != 0) Space else 0) | (if ((t & LetterTypes) != 0) Letter else 0)
  }

  /** `flags` of U+0000..U+00FF: `typeFlags` and the exceptions below U+0100,
    * that is U+0020 and \t \n \r counted, the bidi whitespace 0x09-0x0D,
    * 0x1C-0x1F and 0x85, and the strip set. */
  private val Latin1: Array[Byte] = {
    // a plain loop: `Array.tabulate` would initialize the ClassTag machinery
    // inside the first kernel call of a cold JVM
    val table = new Array[Byte](256)
    var cp = 0
    while (cp < 256) {
      val counted = cp == 0x20 || cp == 0x09 || cp == 0x0A || cp == 0x0D
      val space = (cp >= 0x09 && cp <= 0x0D) || (cp >= 0x1C && cp <= 0x1F) || cp == 0x85
      table(cp) = (typeFlags(cp) | (if (counted) Counted else 0) | (if (space) Space else 0) |
        (if (".,;:!?()[]{}\"'-".indexOf(cp) >= 0) Strip else 0)).toByte
      cp += 1
    }
    table
  }

  /** The Python predicates of one code point as flag bits. */
  private[kernel] def flags(cp: Int): Int = if (cp < 0x100) Latin1(cp) else typeFlags(cp)

  /** Python `str.isspace()` for one code point. */
  def pyIsSpace(cp: Int): Boolean = (flags(cp) & Space) != 0

  /** Python `str.strip()` (no args): strip leading/trailing pyIsSpace code
    * points. Java's `trim` (<=U+0020 only) and `strip` (isWhitespace, which
    * excludes NBSP) both differ — NBSP *is* stripped by Python. */
  def pyStrip(s: String): String = {
    var i = 0
    val n = s.length
    while (i < n && pyIsSpace(s.codePointAt(i))) i += Character.charCount(s.codePointAt(i))
    var j = n
    while (j > i) {
      val cp = s.codePointBefore(j)
      if (!pyIsSpace(cp)) return s.substring(i, j)
      j -= Character.charCount(cp)
    }
    s.substring(i, j)
  }

  /** Python truthiness of `s.strip()` — "has any non-whitespace code point". */
  def hasContent(s: String): Boolean = {
    if (s == null) return false
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (!pyIsSpace(cp)) return true
      i += Character.charCount(cp)
    }
    false
  }

  /** Python `len(s)` — code point count. */
  def cpLength(s: String): Int = s.codePointCount(0, s.length)

  // ---------------------------------------------------------------------
  // T5: truncate_text (src/text_limits.py:13-16) — s[:cap] by code points
  // ---------------------------------------------------------------------
  def truncate(s: String, cap: Option[Int]): String = cap match {
    case None => s
    case Some(c) =>
      if (c <= 0) s // cap<=0 never reaches here in reference (mapped to None), defensive
      else {
        val end = prefixEnd(s, cpLength(s), c)
        if (end == s.length) s else s.substring(0, end)
      }
  }

  /** Char index just past the first `cap` code points of `s`, which holds
    * `n` code points (`cpLength`, constant time on a Latin-1 string). */
  private[kernel] def prefixEnd(s: String, n: Int, cap: Int): Int =
    if (n <= cap) s.length
    else if (n == s.length) cap // no surrogate pair
    else s.offsetByCodePoints(0, cap)

  // ---------------------------------------------------------------------
  // T7: NUL strip (src/processor.py:490 etc.) — replace('\x00','')
  // ---------------------------------------------------------------------
  def stripNul(s: String): String =
    if (s.indexOf('\u0000') < 0) s else s.replace("\u0000", "")

  // ---------------------------------------------------------------------
  // T6: sanitize_text (src/uploader.py:159-172)
  //   truncate -> NUL strip -> keep only cp in 0x20..0x7E | {09,0A,0D} |
  //   0xA0..0xFFFF. Python char-class ranges over code points, so astral
  //   chars (>= U+10000, incl. emoji) are REMOVED — iterate codePoints,
  //   never a UTF-16 regex.
  // ---------------------------------------------------------------------
  def sanitizeKeep(cp: Int): Boolean =
    (cp >= 0x20 && cp <= 0x7E) || cp == 0x0A || cp == 0x0D || cp == 0x09 ||
      (cp >= 0xA0 && cp <= 0xFFFF)

  def sanitize(text: String, cfg: Config = defaultConfig): String = {
    if (text == null || text.isEmpty) return text
    val t = truncate(text, cfg.maxTextLength)
    // NUL is outside the keep-set anyway; single code-point pass does both.
    val sb = new java.lang.StringBuilder(t.length)
    var i = 0
    while (i < t.length) {
      val cp = t.codePointAt(i)
      if (sanitizeKeep(cp)) sb.appendCodePoint(cp)
      i += Character.charCount(cp)
    }
    if (sb.length == t.length) t else sb.toString
  }

  // ---------------------------------------------------------------------
  // Strict UTF-8 decode (trap 4): detect malformed input like Python's
  // strict codec; returns Right(decoded) or Left(byte offset of error).
  // ---------------------------------------------------------------------
  def decodeUtf8Strict(bytes: Array[Byte]): Either[Int, String] = {
    val dec = StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(CodingErrorAction.REPORT)
      .onUnmappableCharacter(CodingErrorAction.REPORT)
    try Right(dec.decode(ByteBuffer.wrap(bytes)).toString)
    catch {
      case _: CharacterCodingException =>
        // Find the error offset with a second, position-tracking pass.
        val d2 = StandardCharsets.UTF_8.newDecoder()
          .onMalformedInput(CodingErrorAction.REPORT)
          .onUnmappableCharacter(CodingErrorAction.REPORT)
        val in = ByteBuffer.wrap(bytes)
        val out = java.nio.CharBuffer.allocate(bytes.length + 1)
        val res = d2.decode(in, out, true)
        if (res.isError) Left(in.position()) else Left(bytes.length)
    }
  }

  /** latin-1 is total: every byte maps to U+0000..U+00FF. */
  def decodeLatin1(bytes: Array[Byte]): String =
    new String(bytes, StandardCharsets.ISO_8859_1)

  // ---------------------------------------------------------------------
  // Universal-newline translation (Python text mode, PEP 278): the reference
  // opens files with text-mode open(..., "r", encoding=...) at
  // src/processor.py:656,659, so \r\n and lone \r become \n BEFORE any
  // cap/strip — byte-identity requires reproducing it.
  // ---------------------------------------------------------------------
  def translateNewlines(s: String): String = {
    if (s.indexOf('\r') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\r') {
        sb.append('\n')
        if (i + 1 < s.length && s.charAt(i + 1) == '\n') i += 1
      } else sb.append(c)
      i += 1
    }
    sb.toString
  }

  // ---------------------------------------------------------------------
  // T3: extract_text_from_file (src/processor.py:648-665)
  //   text-mode open utf-8; on UnicodeDecodeError reread latin-1; read at
  //   most `cap` characters (code points, counted AFTER universal-newline
  //   translation); None if blank.
  //
  //   Capped-read decode-error semantics match CPython's io.TextIOWrapper:
  //   the wrapper consumes 8 KiB byte chunks and decodes each chunk eagerly,
  //   so read(cap) raises iff a malformed byte lies within a consumed chunk
  //   (verified empirically: error at byte 8190 raises for cap=5, error at
  //   byte 8193 does not).
  // ---------------------------------------------------------------------
  private val TextIoChunk = 8192 // CPython io.TextIOWrapper chunk size

  /** io.TextIOWrapper(..., encoding=utf-8).read(cap): Right(text of exactly
    * min(cap, available) translated code points) or Left(()) on a
    * UnicodeDecodeError within the consumed chunks. */
  private def readTextModeUtf8(bytes: Array[Byte], cap: Int): Either[Unit, String] = {
    val dec = StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(CodingErrorAction.REPORT)
      .onUnmappableCharacter(CodingErrorAction.REPORT)
    val in = ByteBuffer.wrap(bytes)
    val out = java.nio.CharBuffer.allocate(TextIoChunk + 8)
    val sb = new java.lang.StringBuilder(math.min(bytes.length, cap * 2))
    var cpCount = 0          // translated code points accumulated
    var pendingCr = false    // stateful \r at chunk boundary (IncrementalNewlineDecoder)
    var consumed = 0
    while (cpCount < cap && consumed < bytes.length) {
      val chunkEnd = math.min(bytes.length, consumed + TextIoChunk)
      in.limit(chunkEnd)
      out.clear()
      // cpCount is computed in exactly one place (a held \r counts as the
      // one code point it will eventually materialize as) so the overflow
      // and normal paths can never disagree on the cap test
      def recount(): Unit =
        cpCount = sb.codePointCount(0, sb.length) + (if (pendingCr) 1 else 0)
      var res = dec.decode(in, out, false)
      while (res.isOverflow) { // chunk produced more chars than buffer — grow via flush-to-sb
        out.flip()
        pendingCr = appendTranslated(sb, out, pendingCr); recount()
        out.clear()
        res = dec.decode(in, out, false)
      }
      if (res.isError) return Left(())
      out.flip()
      pendingCr = appendTranslated(sb, out, pendingCr)
      recount()
      consumed = chunkEnd
    }
    if (consumed >= bytes.length) {
      in.limit(bytes.length)
      out.clear()
      val res = dec.decode(in, out, true)
      if (res.isError) return Left(())
      dec.flush(out)
      out.flip()
      pendingCr = appendTranslated(sb, out, pendingCr)
    }
    if (pendingCr) sb.append('\n') // EOF flushes a held \r as \n
    val s = sb.toString
    Right(truncate(s, Some(cap)))
  }

  /** Append `buf` to `sb` with \r\n / \r -> \n translation; `heldCr` is a
    * \r seen at the end of the previous buffer. Returns whether a \r is now
    * held (last char of this buffer). */
  private def appendTranslated(sb: java.lang.StringBuilder, buf: java.nio.CharBuffer,
                               heldCr: Boolean): Boolean = {
    var held = heldCr
    var i = 0
    val n = buf.length
    while (i < n) {
      val c = buf.charAt(i)
      if (held) {
        sb.append('\n')
        held = false
        if (c == '\n') { i += 1 } // swallow the \n of a split \r\n
        else ()
      } else if (c == '\r') {
        if (i + 1 < n) {
          sb.append('\n')
          if (buf.charAt(i + 1) == '\n') i += 1
          i += 1
        } else { held = true; i += 1 }
      } else { sb.append(c); i += 1 }
    }
    held
  }

  def extractTextFromFile(bytes: Array[Byte], cfg: Config = defaultConfig): Option[String] = {
    val cap = cfg.maxTextLength
    val text = cap match {
      case None =>
        decodeUtf8Strict(bytes) match {
          case Right(full) => translateNewlines(full)
          case Left(_)     => translateNewlines(decodeLatin1(bytes))
        }
      case Some(c) =>
        readTextModeUtf8(bytes, c) match {
          case Right(s) => s
          case Left(_)  => // latin-1 is total: read(cap) can't fail on reread
            truncate(translateNewlines(decodeLatin1(bytes)), Some(c))
        }
    }
    if (hasContent(text)) Some(text) else None
  }

  // ---------------------------------------------------------------------
  // T4: extract_text_fallback (src/processor.py:676-713)
  //   reject size > fallbackMaxSize; read min(size, cap) BYTES; reject raw
  //   NUL byte; decode utf-8 -> latin-1; reject blank; printable ratio
  //   (isprintable or \n\r\t) >= 0.99 over code points; strip NUL chars
  //   (a no-op after the NUL reject).
  // ---------------------------------------------------------------------
  def printableRatio(text: String): Double = {
    if (text.isEmpty) return 0.0
    var printable = 0L
    var total = 0L
    var i = 0
    while (i < text.length) {
      val cp = text.codePointAt(i)
      if ((flags(cp) & Counted) != 0) printable += 1
      total += 1
      i += Character.charCount(cp)
    }
    printable.toDouble / total.toDouble
  }

  /** T4 in one pass over the first min(size, cap) bytes: the NUL reject, the
    * UTF-8 check and the code point, printable and whitespace counts. An
    * all-ASCII payload becomes its `String` directly; an ill-formed UTF-8
    * sequence recounts the bytes after the ASCII prefix as latin-1. */
  def extractTextFallback(bytes: Array[Byte], cfg: Config = defaultConfig): Option[String] = {
    if (bytes.length > cfg.fallbackMaxSize) return None
    val n = cfg.maxTextLength match {
      case Some(c) => math.min(bytes.length, c)
      case None    => bytes.length
    }
    var counted = 0 // code points that are printable or \t \n \r
    var spaces = 0  // code points that are whitespace
    var i = 0
    while (i < n && bytes(i) > 0) { // the ASCII prefix reads alike in UTF-8 and latin-1
      val f = Latin1(bytes(i))
      if ((f & Counted) != 0) counted += 1
      if ((f & Space) != 0) spaces += 1
      i += 1
    }
    val asciiEnd = i
    val asciiCounted = counted
    val asciiSpaces = spaces
    var cps = i
    var utf8 = true
    while (i < n && utf8) {
      val cp = utf8At(bytes, i, n)
      if (cp == 0) return None
      if (cp < 0) utf8 = false
      else {
        val f = flags(cp)
        if ((f & Counted) != 0) counted += 1
        if ((f & Space) != 0) spaces += 1
        cps += 1
        i += (if (cp < 0x80) 1 else if (cp < 0x800) 2 else if (cp < 0x10000) 3 else 4)
      }
    }
    if (!utf8) { // latin-1 is total: one code point per byte
      counted = asciiCounted
      spaces = asciiSpaces
      cps = n
      i = asciiEnd
      while (i < n) {
        val b = bytes(i)
        if (b == 0) return None
        val f = Latin1(b & 0xFF)
        if ((f & Counted) != 0) counted += 1
        if ((f & Space) != 0) spaces += 1
        i += 1
      }
    }
    if (spaces == cps || counted.toDouble / cps < cfg.fallbackMinPrintable) None
    else Some(new String(bytes, 0, n,
      if (utf8 && asciiEnd < n) StandardCharsets.UTF_8 else StandardCharsets.ISO_8859_1))
  }

  /** The code point of the well-formed UTF-8 sequence at `i` of `b(0 until n)`
    * (Unicode Table 3-7: no overlong form, surrogate or code point above
    * U+10FFFF, as the strict decoder reads it), or -1. */
  private def utf8At(b: Array[Byte], i: Int, n: Int): Int = {
    val b0 = b(i) & 0xFF
    if (b0 < 0x80) return b0
    val len = if (b0 < 0xC2) 0 else if (b0 < 0xE0) 2 else if (b0 < 0xF0) 3 else if (b0 < 0xF5) 4 else 0
    if (len == 0 || i + len > n) return -1
    val b1 = b(i + 1) & 0xFF
    val lo = if (b0 == 0xE0) 0xA0 else if (b0 == 0xF0) 0x90 else 0x80
    val hi = if (b0 == 0xED) 0x9F else if (b0 == 0xF4) 0x8F else 0xBF
    if (b1 < lo || b1 > hi) return -1
    var cp = (b0 & (0x7F >> len)) << 6 | (b1 & 0x3F)
    var k = 2
    while (k < len) {
      val bk = b(i + k) & 0xFF
      if ((bk & 0xC0) != 0x80) return -1
      cp = cp << 6 | (bk & 0x3F)
      k += 1
    }
    cp
  }

  // ---------------------------------------------------------------------
  // T1: page assembly (src/processor.py:479-496)
  //   keep pages whose text has content; join "\n\n"; strip NUL; truncate;
  //   None if blank.
  // ---------------------------------------------------------------------
  def assemblePdfText(pageTexts: Seq[String], cfg: Config = defaultConfig): Option[String] = {
    val parts = pageTexts.filter(hasContent)
    val full = truncate(stripNul(parts.mkString("\n\n")), cfg.maxTextLength)
    if (hasContent(full)) Some(full) else None
  }
}
