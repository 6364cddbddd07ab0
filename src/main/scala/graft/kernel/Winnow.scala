package graft.kernel

/**
 * Rolling-hash document fingerprinting by winnowing (Schleimer, Wilkerson,
 * Aiken: "Winnowing: Local Algorithms for Document Fingerprinting",
 * SIGMOD'03): a Rabin-Karp rolling hash over k-grams, then the minimum hash
 * of every window of w consecutive k-gram hashes (rightmost minimum),
 * deduplicated. Guarantees: any shared substring of length >= w + k - 1
 * between two documents yields at least one shared fingerprint — the
 * "local" dedup primitive that md5-style whole-document fingerprints and
 * MinHash sketches both lack.
 */
object Winnow {
  // each k-gram hash goes through the SplitMix64 finalizer: the raw
  // polynomial hash is too structured for min-selection to be uniform
  import graft.SplitMix64.mix

  private val Base = 0x100000001B3L // FNV prime as the rolling base

  /** Rabin-Karp rolling hashes of all k-grams of `s` (UTF-16 units). */
  private[kernel] def kgramHashes(s: String, k: Int): Array[Long] = {
    val n = s.length - k + 1
    if (n <= 0) return Array.empty
    var pow = 1L // Base^(k-1)
    var i = 0
    while (i < k - 1) { pow *= Base; i += 1 }
    val out = new Array[Long](n)
    var h = 0L
    i = 0
    while (i < k) { h = h * Base + s.charAt(i); i += 1 }
    out(0) = mix(h)
    i = 1
    while (i < n) {
      h = (h - s.charAt(i - 1) * pow) * Base + s.charAt(i + k - 1)
      out(i) = mix(h)
      i += 1
    }
    out
  }

  /**
   * Winnowed fingerprints of `text`: normalized (lowercase, whitespace
   * collapsed), k-gram rolling hashes, rightmost-minimum per w-window,
   * deduplicated, sorted (set semantics — callers compare overlap).
   */
  def fingerprints(text: String, k: Int = 8, w: Int = 16): Array[Long] = {
    if (text == null) return Array.empty
    val norm = graft.operators.Dedup.normalize(text)
    val hs = kgramHashes(norm, k)
    if (hs.isEmpty) {
      return if (norm.isEmpty) Array.empty else Array(mix(norm.hashCode.toLong))
    }
    if (hs.length <= w) return Array(hs.min)
    val picked = new java.util.TreeSet[java.lang.Long]()
    // rightmost minimum of each window, recorded only when it changes
    var minIdx = -1
    var start = 0
    val last = hs.length - w
    while (start <= last) {
      if (minIdx < start) {
        minIdx = start
        var j = start + 1
        while (j < start + w) { if (hs(j) <= hs(minIdx)) minIdx = j; j += 1 }
        picked.add(hs(minIdx))
      } else {
        val newest = start + w - 1
        if (hs(newest) <= hs(minIdx)) { minIdx = newest; picked.add(hs(minIdx)) }
      }
      start += 1
    }
    val out = new Array[Long](picked.size)
    val it = picked.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    out
  }

  /** Fingerprint-set overlap ratio (|a ∩ b| / min(|a|, |b|)) — the standard
    * containment score for winnowed fingerprints. */
  def overlap(a: Array[Long], b: Array[Long]): Double = {
    if (a.isEmpty || b.isEmpty) return 0.0
    val small = if (a.length <= b.length) a else b
    val big = if (a.length <= b.length) b else a
    val set = new java.util.HashSet[java.lang.Long](big.length * 2)
    big.foreach(set.add(_))
    var hit = 0
    small.foreach(x => if (set.contains(x)) hit += 1)
    hit.toDouble / small.length
  }
}
