package graft.kernel

/**
 * Wordlist quality score (src/ocr_watcher.py:75-89): ratio of recognized
 * words among alpha words of length >= 3 (length filter BEFORE punctuation
 * strip, as in the reference); 0.5 when fewer than 3 checkable words or no
 * wordlist. Doubles as this engine's extraction-quality metric.
 *
 * One walk over the lowered text that allocates nothing per token or
 * character: each code point is classified by `TextKernel.flags`, a
 * token's kept chars are hashed as they pass, and the kept range is probed
 * in an open-addressing table of the wordlist with `regionMatches`.
 */
object QualityScore {
  import TextKernel.{flags, Letter, Space, Strip}

  /** Bundled common-word list (en+de), loaded once per JVM (the reference's
    * "load model once per process" idiom, src/ocr_watcher.py:60-65). */
  lazy val defaultWordlist: Set[String] = {
    val in = getClass.getResourceAsStream("/graft/wordlist.txt")
    if (in == null) Set.empty
    else try scala.io.Source.fromInputStream(in, "UTF-8").getLines().map(_.trim).filter(_.nonEmpty).toSet
    finally in.close()
  }

  private lazy val Words = new WordTable(defaultWordlist)

  def computeQuality(text: String): Double =
    if (text == null) 0.5 else score(text, text.length)

  /** `computeQuality(text.substring(0, end))`. */
  private[kernel] def score(text: String, end: Int): Double = {
    val words = Words
    if (words.isEmpty) return 0.5
    // one lowering per text, as the reference lowers before it splits
    val lowered = text.substring(0, end).toLowerCase(java.util.Locale.ROOT)
    val n = lowered.length
    var checkable = 0
    var recognized = 0
    // the current token: its code points, the char range [first, last) that
    // the strip keeps, and the hash of that range
    var cps = 0
    var first = -1
    var last = -1
    var alpha = true // the kept range is all letters
    var gap = false  // a strip char followed the first kept code point
    var hash = 0
    var i = 0
    while (i <= n) {
      val cp = if (i < n) lowered.codePointAt(i) else 0x20 // past the end: a space ends the last token
      val w = Character.charCount(cp)
      val f = flags(cp)
      if ((f & Space) != 0) {
        if (cps >= 3 && first >= 0 && alpha) {
          checkable += 1
          if (words.contains(lowered, first, last, hash)) recognized += 1
        }
        cps = 0; first = -1; alpha = true; gap = false; hash = 0
      } else {
        cps += 1
        if ((f & Strip) != 0) gap = first >= 0
        else {
          if (first < 0) first = i
          if (gap || (f & Letter) == 0) alpha = false
          last = i + w
          hash = 31 * hash + lowered.charAt(i)
          if (w == 2) hash = 31 * hash + lowered.charAt(i + 1)
        }
      }
      i += w
    }
    if (checkable < 3) 0.5 else recognized.toDouble / checkable
  }

  /** A set of words, probed with a char range of a text. */
  private final class WordTable(words: Set[String]) {
    val isEmpty: Boolean = words.isEmpty
    private val slots = new Array[String](Integer.highestOneBit(math.max(1, words.size) * 4))
    private val mask = slots.length - 1
    private var maxLength = 0
    locally { // no closure: this runs inside a cold JVM's first score
      val it = words.iterator
      while (it.hasNext) {
        val w = it.next()
        var at = spread(w.hashCode) & mask
        while (slots(at) != null) at = (at + 1) & mask
        slots(at) = w
        maxLength = math.max(maxLength, w.length)
      }
    }

    private def spread(h: Int): Int = h ^ (h >>> 16)

    /** Whether `text(from until until)`, of `String.hashCode` `hash`, is a
      * word. */
    def contains(text: String, from: Int, until: Int, hash: Int): Boolean = {
      val len = until - from
      if (len > maxLength) return false
      var at = spread(hash) & mask
      while (slots(at) != null) {
        val w = slots(at)
        if (w.length == len && w.hashCode == hash && w.regionMatches(0, text, from, len)) return true
        at = (at + 1) & mask
      }
      false
    }
  }
}
