package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SplitMix64` replaced five hand-written copies of the generator. Each
  * copy is restated here (they shared one finalizer, `copyStep`), and
  * each must yield the same stream or output as its replacement over
  * seeded inputs. */
class SplitMix64Spec extends AnyFunSuite {

  // the finalizer every copy applied after advancing by the golden gamma
  private def copyStep(x: Long): Long = {
    var z = x
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private val seeds = Seq(0L, 1L, 42L, -1L, Long.MinValue, Long.MaxValue,
    0x9E3779B97F4A7C15L) ++ (0 until 50).map(i => i * 0x2545F4914F6CDD1DL + 7L)

  test("PageGen's Rng: nextLong, nextInt and nextDouble streams") {
    final class Rng(seed0: Long) {
      private var x = seed0
      def nextLong(): Long = { x += 0x9E3779B97F4A7C15L; copyStep(x) }
      def nextInt(bound: Int): Int = (Math.floorMod(nextLong(), bound.toLong)).toInt
      def nextDouble(): Double = (nextLong() >>> 11) * 1.1102230246251565e-16
    }
    for (seed <- seeds) {
      val (old, now) = (new Rng(seed), new SplitMix64(seed))
      for (k <- 0 until 300) k % 3 match {
        case 0 => assert(old.nextLong() === now.nextLong())
        case 1 => val b = 1 + k * 37; assert(old.nextInt(b) === now.nextInt(b))
        case _ => assert(old.nextDouble() === now.nextDouble())
      }
    }
  }

  test("Similarity.hyperplanes: CLT gaussians from the old stream") {
    def oldHyperplanes(bits: Int, dim: Int, seed: Long): Array[Array[Float]] = {
      var x = seed
      def next(): Long = { x += 0x9E3779B97F4A7C15L; copyStep(x) }
      def unit(): Double = ((next() >>> 11) * 1.1102230246251565e-16) - 0.5
      Array.fill(bits)(Array.fill(dim)((unit() + unit() + unit() + unit()).toFloat))
    }
    for (seed <- seeds)
      assert(graft.operators.Similarity.hyperplanes(16, 24, seed).map(_.toSeq).toSeq ===
        oldHyperplanes(16, 24, seed).map(_.toSeq).toSeq)
  }

  test("Dedup's permutation constants: odd multipliers, then offsets") {
    def oldConstants(numPerms: Int, seed: Long): (Array[Long], Array[Long]) = {
      var x = seed
      def next(): Long = { x += 0x9E3779B97F4A7C15L; copyStep(x) }
      val a = Array.fill(numPerms)(next() | 1L) // odd multipliers
      val b = Array.fill(numPerms)(next())
      (a, b)
    }
    for (seed <- seeds; n <- Seq(1, 64)) {
      val ((a, b), (a0, b0)) = (graft.operators.Dedup.permConstants(n, seed), oldConstants(n, seed))
      assert(a.toSeq === a0.toSeq && b.toSeq === b0.toSeq)
    }
  }

  test("Multimodal.mediaRow: the same rows, byte for byte") {
    import graft.operators.Multimodal.{encodeAvi, encodeBmp, encodeWav}
    def oldMediaRow(i: Long, seed: Long): (Long, Array[Byte]) = {
      var x = seed * 0x9E3779B97F4A7C15L + i * 0xC2B2AE3D27D4EB4FL
      def next(): Long = { x += 0x9E3779B97F4A7C15L; copyStep(x) }
      def nextInt(b: Int): Int = Math.floorMod(next(), b.toLong).toInt
      val t = nextInt(4) // 3 => corrupt blob
      val payload = Array.fill(64 + nextInt(512))(next().toByte)
      val blob = t match {
        case 0 => encodeBmp(4 + nextInt(60), 4 + nextInt(60), payload)
        case 1 => encodeWav(1 + nextInt(2), 8000, 8 * (1 + nextInt(500)), payload)
        case 2 => encodeAvi(4 + nextInt(28), 4 + nextInt(28), 1 + nextInt(24), 200000, payload)
        case _ => payload // corrupt: no magic
      }
      (i, blob)
    }
    for (seed <- Seq(42L, 7L); i <- 0L until 40L) {
      val ((id, blob), (id0, blob0)) = (graft.operators.Multimodal.mediaRow(i, seed), oldMediaRow(i, seed))
      assert(id === id0 && blob.toSeq === blob0.toSeq, s"row $i seed $seed")
    }
  }

  test("Winnow's finalizer is SplitMix64.mix") {
    def oldMix(x0: Long): Long = copyStep(x0 + 0x9E3779B97F4A7C15L)
    val r = new scala.util.Random(11)
    for (x <- seeds ++ Seq.fill(2000)(r.nextLong()))
      assert(SplitMix64.mix(x) === oldMix(x))
  }
}
