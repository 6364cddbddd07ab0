package graft.kernel

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.util.Locale

import org.scalatest.funsuite.AnyFunSuite

import graft.SplitMix64
import graft.fixtures.PageGen

/** The one-pass fallback gate and the allocation-free quality score against
  * the compositions they replaced, restated here as references: seeded fuzz
  * and document sizes the CPython goldens do not reach (190 KB payloads,
  * 20k-code-point samples that end inside a surrogate pair, caps that cut a
  * multibyte sequence, whole PageGen rows). */
class TextKernelDiffSpec extends AnyFunSuite {

  // ---- the replaced compositions --------------------------------------

  private def refIsSpace(cp: Int): Boolean =
    if ((cp >= 0x09 && cp <= 0x0D) || cp == 0x20 || (cp >= 0x1C && cp <= 0x1F) || cp == 0x85) true
    else if (cp < 0x80) false
    else Character.getType(cp) match {
      case Character.SPACE_SEPARATOR | Character.LINE_SEPARATOR | Character.PARAGRAPH_SEPARATOR => true
      case _ => false
    }

  private def refIsPrintable(cp: Int): Boolean = Character.getType(cp) match {
    case Character.CONTROL | Character.FORMAT | Character.SURROGATE |
        Character.PRIVATE_USE | Character.UNASSIGNED |
        Character.LINE_SEPARATOR | Character.PARAGRAPH_SEPARATOR => false
    case Character.SPACE_SEPARATOR => cp == 0x20
    case _ => true
  }

  private def refHasContent(s: String): Boolean = s.codePoints().anyMatch(cp => !refIsSpace(cp))

  private def refPrintableRatio(text: String): Double = {
    if (text.isEmpty) return 0.0
    var printable = 0L
    var total = 0L
    text.codePoints().forEach { cp =>
      if (refIsPrintable(cp) || cp == 0x0A || cp == 0x0D || cp == 0x09) printable += 1
      total += 1
    }
    printable.toDouble / total.toDouble
  }

  private def refFallback(bytes: Array[Byte], cfg: TextKernel.Config): Option[String] = {
    if (bytes.length > cfg.fallbackMaxSize) return None
    val readN = cfg.maxTextLength match {
      case Some(c) => math.min(bytes.length, c)
      case None    => bytes.length
    }
    val raw = if (readN == bytes.length) bytes else java.util.Arrays.copyOfRange(bytes, 0, readN)
    if (raw.exists(_ == 0x00.toByte)) return None
    val text = TextKernel.decodeUtf8Strict(raw).getOrElse(TextKernel.decodeLatin1(raw))
    if (!refHasContent(text)) return None
    if (refPrintableRatio(text) < cfg.fallbackMinPrintable) return None
    Some(text.replace("\u0000", ""))
  }

  private val StripChars: Set[Char] = ".,;:!?()[]{}\"'-".toSet

  private def refQuality(text: String, wordlist: Set[String] = QualityScore.defaultWordlist): Double = {
    if (wordlist.isEmpty || text == null || text.isEmpty) return 0.5
    var checkable = 0
    var recognized = 0
    val lowered = text.toLowerCase(Locale.ROOT)
    val n = lowered.length
    var i = 0
    while (i < n) {
      while (i < n && refIsSpace(lowered.codePointAt(i))) i += Character.charCount(lowered.codePointAt(i))
      var j = i
      var cps = 0
      while (j < n && !refIsSpace(lowered.codePointAt(j))) {
        cps += 1
        j += Character.charCount(lowered.codePointAt(j))
      }
      if (cps >= 3) {
        var s = i
        var e = j
        while (s < e && StripChars.contains(lowered.charAt(s))) s += 1
        while (e > s && StripChars.contains(lowered.charAt(e - 1))) e -= 1
        if (e > s) {
          var alpha = true
          var k = s
          while (alpha && k < e) {
            val cp = lowered.codePointAt(k)
            if (!Character.isLetter(cp)) alpha = false
            k += Character.charCount(cp)
          }
          if (alpha) {
            checkable += 1
            if (wordlist.contains(lowered.substring(s, e))) recognized += 1
          }
        }
      }
      i = j
    }
    if (checkable < 3) 0.5 else recognized.toDouble / checkable
  }

  private def refTruncate(s: String, c: Int): String =
    if (s.codePointCount(0, s.length) <= c) s else s.substring(0, s.offsetByCodePoints(0, c))

  /** `quality` and `n_chars` of a row whose text is `text`, as `done` made them. */
  private def refScored(text: String): (Double, Long) =
    if (text == null) (0.5, 0L)
    else (refQuality(refTruncate(text, 20000)), text.codePointCount(0, text.length).toLong)

  // ---- inputs ----------------------------------------------------------

  private val words = QualityScore.defaultWordlist.toVector.sorted
  private val specials = Seq(0x130, 0x3A3, 0x212A, 0x1E9E, 0xA0, 0x85, 0xAD, 0x200B, 0x2028,
    0x3000, 0xFEFF, 0xE000, 0x378, 0xD800, 0xDFFF, 0x1F600, 0x1D400, 0x10400, 0xE0001, 0x10FFFF)

  private def randomCp(r: SplitMix64): Int = r.nextInt(8) match {
    case 0 => r.nextInt(0x80)
    case 1 => 0x80 + r.nextInt(0x180)
    case 2 => r.nextInt(0x3100)
    case 3 => r.nextInt(0x10000)
    case 4 => 0x10000 + r.nextInt(0x100000)
    case 5 => specials(r.nextInt(specials.length))
    case _ => 0x20 + r.nextInt(0x5F)
  }

  /** UTF-8 as a lenient encoder writes it: a surrogate becomes ED A0..BF xx. */
  private def utf8(cps: Seq[Int]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream
    cps.foreach { cp =>
      if (cp < 0x80) out.write(cp)
      else if (cp < 0x800) { out.write(0xC0 | cp >> 6); out.write(0x80 | cp & 0x3F) }
      else if (cp < 0x10000) {
        out.write(0xE0 | cp >> 12); out.write(0x80 | (cp >> 6) & 0x3F); out.write(0x80 | cp & 0x3F)
      } else {
        out.write(0xF0 | cp >> 18); out.write(0x80 | (cp >> 12) & 0x3F)
        out.write(0x80 | (cp >> 6) & 0x3F); out.write(0x80 | cp & 0x3F)
      }
    }
    out.toByteArray
  }

  private def randomBytes(r: SplitMix64): Array[Byte] = {
    val n = r.nextInt(4) match { case 0 => r.nextInt(8); case 1 => r.nextInt(64); case _ => r.nextInt(600) }
    r.nextInt(6) match {
      case 0 => Array.fill(n)(r.nextLong().toByte)
      case 1 => utf8(Seq.fill(n)(randomCp(r)))
      case 2 => // valid UTF-8, then a few bytes changed, inserted or cut
        val b = utf8(Seq.fill(n)(randomCp(r))).toBuffer
        (0 to r.nextInt(3)).foreach { _ =>
          val at = r.nextInt(b.length + 1)
          r.nextInt(3) match {
            case 0 if b.nonEmpty => b(math.min(at, b.length - 1)) = r.nextLong().toByte
            case 1 => b.insert(at, Seq(0x80, 0xBF, 0xC0, 0xC2, 0xE0, 0xED, 0xF0, 0xF4, 0xF5, 0xFF, 0)(r.nextInt(11)).toByte)
            case _ => b.remove(at, b.length - at)
          }
        }
        b.toArray
      case 3 => Array.fill(n)((0x20 + r.nextInt(0xE0)).toByte) // latin-1 text
      case 4 => // ASCII at the printable gate
        Array.fill(n)((if (r.nextInt(100) == 0) Seq(0x01, 0x1B, 0x7F)(r.nextInt(3)) else 0x20 + r.nextInt(0x5F)).toByte)
      case _ => utf8(Seq.fill(n)(if (r.nextInt(5) < 4) Seq(0x20, 0x0A, 0x09, 0xA0, 0x85, 0x1C, 0x3000)(r.nextInt(7)) else randomCp(r)))
    }
  }

  private def randomText(r: SplitMix64): String = {
    val sb = new java.lang.StringBuilder
    (0 until 1 + r.nextInt(20)).foreach { _ =>
      sb.appendCodePoint(Seq(0x20, 0x20, 0x20, 0x0A, 0x09, 0xA0, 0x85, 0x2028, 0x3000, 0x1C)(r.nextInt(10)))
      if (r.nextInt(4) == 0) sb.append(StripChars.toSeq(r.nextInt(StripChars.size)))
      r.nextInt(6) match {
        case 0 | 1 =>
          val w = words(r.nextInt(words.length))
          sb.append(r.nextInt(3) match { case 0 => w; case 1 => w.toUpperCase(Locale.ROOT); case _ => w.capitalize })
        case 2 => (0 until r.nextInt(12)).foreach(_ => sb.append(('a' + r.nextInt(26)).toChar))
        case 3 => (0 until 1 + r.nextInt(6)).foreach(_ => sb.appendCodePoint(randomCp(r)))
        case 4 => (0 until 1 + r.nextInt(4)).foreach(_ => sb.append(StripChars.toSeq(r.nextInt(StripChars.size))))
        case _ =>
          val w = words(r.nextInt(words.length))
          sb.append(w.take(w.length / 2)).appendCodePoint(randomCp(r)).append(w.drop(w.length / 2))
      }
      if (r.nextInt(4) == 0) sb.append(StripChars.toSeq(r.nextInt(StripChars.size)))
    }
    sb.toString
  }

  private def hex(b: Array[Byte]): String = b.take(48).map(x => f"${x & 0xff}%02x").mkString

  /** Whether the gate passed `bytes`, after checking it agrees with the reference. */
  private def assertFallback(bytes: Array[Byte], cfg: TextKernel.Config): Boolean = {
    val want = refFallback(bytes, cfg)
    val got = TextKernel.extractTextFallback(bytes, cfg)
    assert(got == want, s"cap=${cfg.maxTextLength} size=${bytes.length} input=${hex(bytes)}")
    got.isDefined
  }

  // ---- the tests -------------------------------------------------------

  test("flags equal the Unicode predicates on every code point") {
    var cp = 0
    while (cp <= Character.MAX_CODE_POINT) {
      assert(TextKernel.pyIsSpace(cp) == refIsSpace(cp), f"isspace U+$cp%04X")
      val f = TextKernel.flags(cp)
      assert(((f & TextKernel.Letter) != 0) == Character.isLetter(cp), f"isalpha U+$cp%04X")
      assert(((f & TextKernel.Counted) != 0) ==
        (refIsPrintable(cp) || cp == 0x09 || cp == 0x0A || cp == 0x0D), f"counted U+$cp%04X")
      assert(((f & TextKernel.Strip) != 0) == (cp < 0x80 && StripChars.contains(cp.toChar)), f"strip U+$cp%04X")
      cp += 1
    }
  }

  test("fallback gate equals the five-pass composition on seeded fuzz") {
    val r = new SplitMix64(20261019L)
    val caps = Seq(None, Some(1), Some(3), Some(8), Some(100))
    val passed = (0 until 40000).count { _ =>
      val bytes = randomBytes(r)
      val cap = if (r.nextInt(4) == 0) Some(r.nextInt(bytes.length + 2)) else caps(r.nextInt(caps.length))
      assertFallback(bytes, TextKernel.Config(maxTextLength = cap))
    }
    assert(passed > 8000 && passed < 32000, s"$passed of 40000 passed the gate")
  }

  test("fallback gate and quality on 190 KB payloads and at the size gate") {
    val sentence = "The quick brown fox jumps over the lazy dog near the river bank. "
    val ascii = (sentence * 3000).take(190000)
    def at(s: String, bad: Int, ch: Char) = s.take(s.length - bad) + ch.toString * bad
    val payloads = Seq(
      ascii.getBytes(UTF_8),
      (ascii + "für über").getBytes(UTF_8),
      (ascii + "für über").getBytes(ISO_8859_1), // invalid UTF-8 at the very end
      ("für " + ascii).getBytes(ISO_8859_1),     // invalid UTF-8 at the start
      (ascii.take(100000) + "😀" + ascii.drop(100000)).getBytes(UTF_8),
      at(ascii, 1900, '\u0001').getBytes(UTF_8), // exactly 0.99
      at(ascii, 1901, '\u0001').getBytes(UTF_8),
      at(ascii, 1900, '\u200B').getBytes(UTF_8),
      at(ascii, 1901, '\u0085').getBytes(ISO_8859_1),
      ascii.getBytes(UTF_8) :+ 0.toByte,
      (sentence * 4000).take(204800).getBytes(UTF_8),
      (sentence * 4000).take(204801).getBytes(UTF_8),
      (" \u00A0\u3000" * 60000).getBytes(UTF_8))
    payloads.foreach { b =>
      Seq(None, Some(8), Some(100), Some(150000)).foreach(c => assertFallback(b, TextKernel.Config(maxTextLength = c)))
      val t = refFallback(b, TextKernel.defaultConfig)
      val doc = ExtractKernel.extractOne("u", b, 0, 0)
      assert(Option(doc.extracted_text) == t)
      assert((doc.quality, doc.n_chars) == refScored(t.orNull), s"size ${b.length}")
    }
  }

  test("caps that cut a multibyte sequence fall back to latin-1 as before") {
    Seq("ä", "€", "😀", "\u0085", "\u00A0").foreach { ch =>
      val e = ch.getBytes(UTF_8)
      Seq(0, 5, 99).foreach { pre =>
        val b = ("x" * pre + ch + " tail").getBytes(UTF_8)
        (pre to pre + e.length).foreach { c =>
          val cfg = TextKernel.Config(maxTextLength = Some(c))
          assertFallback(b, cfg)
          if (c > pre && c < pre + e.length) // a cut sequence reads as latin-1, if it passes
            assert(TextKernel.extractTextFallback(b, cfg).forall(_ == new String(b, 0, c, ISO_8859_1)),
              s"$ch cut at $c")
        }
      }
    }
  }

  test("a cap inside a multibyte sequence reads the prefix as latin-1") {
    val b = ("x" * 99 + "\u00e4 tail").getBytes(UTF_8)
    assert(TextKernel.extractTextFallback(b, TextKernel.Config(maxTextLength = Some(100))) ===
      Some("x" * 99 + "\u00c3"))
  }

  test("quality equals the lowered-copy composition on seeded fuzz") {
    val r = new SplitMix64(7L)
    (0 until 30000).foreach { _ =>
      val t = randomText(r)
      assert(QualityScore.computeQuality(t) == refQuality(t),
        t.map(c => f"${c.toInt}%04x").mkString(" "))
    }
    Seq(null, "", " ", "İİİ the and for", "ΣΟΦΟΣ and the dog",
      "the and for \u212Aing", "the and for oΣ").foreach { t =>
      assert(QualityScore.computeQuality(t) == refQuality(t), String.valueOf(t))
    }
  }

  test("the 20k-code-point sample ends where truncate ends it, also inside a surrogate pair") {
    val emoji = "😀"
    val filler = "word the and "
    // the 20,000th code point is the first or the second half of a pair, or
    // the pair ends exactly there; an astral letter sits in the last token
    Seq(19990, 19995, 19996, 19997, 19998, 19999, 20000, 20001).foreach { pre =>
      Seq(emoji, "𝐀bc", "ab" + emoji, "a" + emoji + "bc").foreach { tail =>
        val body = (filler * 2000).take(pre - 12) + " the and for "
        val t = body + tail + " more words" + emoji * 3 + " the end"
        val b = t.getBytes(UTF_8)
        val doc = ExtractKernel.extractOne("u", b, 0, 0)
        assert(doc.extracted_text == t)
        assert((doc.quality, doc.n_chars) == refScored(t), s"pre=$pre tail=$tail")
        assert(TextKernel.truncate(t, Some(20000)) == refTruncate(t, 20000))
      }
    }
  }

  test("extractOne rows over PageGen pages: fallback text, quality and n_chars as before") {
    (0 until 3000).foreach { i =>
      val p = PageGen.page(i.toLong, 5L)
      val doc = ExtractKernel.extractOne(p.url, p.html, 0, 0)
      assert(doc.error == null)
      if (doc.doc_type == "other")
        assert(Option(doc.extracted_text) == refFallback(p.html, TextKernel.defaultConfig), s"row $i")
      assert((doc.quality, doc.n_chars) == refScored(doc.extracted_text), s"row $i ${doc.doc_type}")
      assert(TextKernel.printableRatio(Option(doc.extracted_text).getOrElse("")) ==
        refPrintableRatio(Option(doc.extracted_text).getOrElse("")), s"row $i")
    }
  }
}
