package graft

/** SplitMix64 (Steele, Lea and Flood, OOPSLA '14): the one seeded 64-bit
  * stream behind the deterministic generators (fixture pages and media
  * rows, LSH hyperplanes, minhash permutations); its static `mix` is the
  * Winnow hash finalizer. */
final class SplitMix64(private var state: Long) {
  def nextLong(): Long = { val z = SplitMix64.mix(state); state += SplitMix64.Gamma; z }
  /** The floor modulus of the next value by `bound`, in [0, bound). */
  def nextInt(bound: Int): Int = Math.floorMod(nextLong(), bound.toLong).toInt
  /** Uniform in [0, 1) from the top 53 bits of the next value. */
  def nextDouble(): Double = (nextLong() >>> 11) * 1.1102230246251565e-16
}

object SplitMix64 {
  val Gamma = 0x9E3779B97F4A7C15L

  /** The value a stream in state `x` yields next. */
  @inline def mix(x: Long): Long = {
    var z = x + Gamma
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
