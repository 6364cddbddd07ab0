package graft.kernel

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.Base64

/** The text kernel against seeded CPython fuzz goldens
  * (`tools/gen_text_goldens.py --fuzz`): T4 `extract_text_fallback` on byte
  * cases at caps None, 8 and 100 (invalid UTF-8, encoded surrogates, NUL,
  * blank inputs, the size gate, the 0.99 printable edge) and O4
  * `compute_quality` on texts with punctuation-only tokens, `İ`, final
  * sigma, astral letters and lone surrogates. */
class TextKernelFuzzSpec extends AnyFunSuite {
  private lazy val golden: JsonNode = {
    val in = getClass.getResourceAsStream("/golden/text_kernel_fuzz.json")
    require(in != null, "golden/text_kernel_fuzz.json missing")
    try new ObjectMapper().readTree(in) finally in.close()
  }

  private def input(c: JsonNode): Array[Byte] = {
    val dec = Base64.getDecoder
    if (c.has("input_b64")) dec.decode(c.get("input_b64").asText)
    else {
      val unit = dec.decode(c.get("fill_b64").asText)
      Array.tabulate(c.get("size").asInt)(i => unit(i % unit.length))
    }
  }

  /** A golden output is null, the text, or the SHA-256 and length of a
    * long text. */
  private def matches(got: Option[String], want: JsonNode): Boolean =
    if (want.isNull) got.isEmpty
    else if (want.isTextual) got.contains(want.asText)
    else got.exists { s =>
      val sha = MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
        .map(b => f"${b & 0xff}%02x").mkString
      sha == want.get("sha256").asText && TextKernel.cpLength(s) == want.get("len").asInt
    }

  test("T4 extract_text_fallback matches CPython on every fuzz byte case and cap") {
    val caps = Seq(None, Some(8), Some(100))
    val it = golden.get("byte_cases").elements()
    var n = 0
    while (it.hasNext) {
      val c = it.next()
      val bytes = input(c)
      caps.zipWithIndex.foreach { case (cap, k) =>
        val got = TextKernel.extractTextFallback(bytes, TextKernel.Config(maxTextLength = cap))
        assert(matches(got, c.get("fallback").get(k)),
          s"fallback case $n cap=$cap input=${bytes.take(40).map(b => f"${b & 0xff}%02x").mkString} " +
            s"got=${got.map(_.take(40))} want=${c.get("fallback").get(k)}")
        n += 1
      }
    }
    assert(n > 5000, s"only $n byte cases")
  }

  test("O4 compute_quality matches CPython on every fuzz text") {
    val it = golden.get("quality_cases").elements()
    var n = 0
    while (it.hasNext) {
      val c = it.next()
      val text = c.get("text").asText
      assert(QualityScore.computeQuality(text) === c.get("quality").asDouble,
        s"quality case $n: ${text.map(ch => f"${ch.toInt}%04x").mkString(" ")}")
      n += 1
    }
    assert(n >= 5000, s"only $n quality cases")
  }

  // A known divergence, not a goldens case: the kernel answers from the JVM's
  // Unicode data (13.0 in JDK 17), CPython 3.11 from Unicode 14.0, so the
  // Arabic Extended-B letters U+0870..U+0887 are Cn here and Lo there (see
  // the FOUND line on Unicode versions in CHANGES.md). The fuzz goldens draw
  // no code point from a block that changed between the two. This test
  // records what the kernel answers today; it fails once the JVM's data
  // reaches Unicode 14, and then the CPython answers in the comments hold.
  test("Unicode 14 letters: the kernel's known divergence from CPython 3.11") {
    val letters = "\u0870\u0871\u0872 \u0873\u0874\u0875"
    assert(Character.getType(0x870) == Character.UNASSIGNED)
    // CPython: Some(letters), every code point is printable
    assert(TextKernel.extractTextFallback(letters.getBytes(UTF_8)) === None)
    // CPython: 0.5, three of six checkable words recognized
    assert(QualityScore.computeQuality(letters + " \u0876\u0877\u0878 the and for") === 1.0)
  }
}
