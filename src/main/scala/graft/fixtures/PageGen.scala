package graft.fixtures

import java.nio.charset.StandardCharsets

import graft.SplitMix64

/**
 * Deterministic Common-Crawl-style page corpus (FIXTURES.md §A): pure
 * function of (rowIndex, seed) — no wall-clock, no shared RNG — so any
 * subset can be generated on any executor independently (spark.range ->
 * map), and the corpus is byte-reproducible at every scale.
 *
 * Payload mix per mille (seeded): 400 html-utf8-boilerplate, 100
 * html-latin1/broken-utf8, 100 html-edge (entities/NUL/astral/rawtext),
 * 150 minimal PDF (1-8 pages incl. blanks), 100 plain text, 100 near-text
 * junk at the T4 gate boundaries, 50 binary junk.
 *
 * Hosts are Zipfian (s≈1.2 over 64 hosts) so url-hash salting is genuinely
 * exercised (SURVEY.md §7.4 "skew realism").
 */
object PageGen {

  final case class Page(url: String, warc_ts: java.sql.Timestamp,
                        html: Array[Byte], text: String, lang: String)

  private val Hosts: IndexedSeq[String] = (0 until 64).map(i => s"host$i.example.org")
  // Zipf s=1.2 cumulative weights, precomputed once
  private val zipfCum: Array[Double] = {
    val w = (1 to 64).map(r => 1.0 / math.pow(r, 1.2)).toArray
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
  private def zipfHost(r: SplitMix64): String = {
    val u = r.nextDouble()
    var i = 0
    while (i < 63 && zipfCum(i) < u) i += 1
    Hosts(i)
  }

  private val Vocab: IndexedSeq[String] =
    ("the quick brown fox jumps over lazy dog while data pipeline extracts " +
      "content from web pages with many words and some structure that looks " +
      "realistic enough for density classification to work information " +
      "article paragraph heading system engine spark partition shuffle " +
      "kernel stream snapshot commit resume golden byte exact").split(' ').toIndexedSeq

  private def sentence(r: SplitMix64, words: Int): String =
    (0 until words).map(_ => Vocab(r.nextInt(Vocab.length))).mkString(" ")

  private def paragraph(r: SplitMix64): String = {
    val sents = 2 + r.nextInt(4)
    (0 until sents).map { _ =>
      val s = sentence(r, 8 + r.nextInt(12))
      s.substring(0, 1).toUpperCase + s.substring(1) + "."
    }.mkString(" ")
  }

  private val Langs = IndexedSeq("en", "de", "es", "zh", "")

  // ---------------------------------------------------------------- payloads
  private def htmlPage(r: SplitMix64, edge: Boolean): String = {
    val title = sentence(r, 3 + r.nextInt(3))
    val nParas = 2 + r.nextInt(5)
    val paras = (0 until nParas).map(_ => paragraph(r))
    val navLinks = (0 until 4 + r.nextInt(4))
      .map(i => s"""<li><a href="/p/$i">${sentence(r, 2)}</a></li>""").mkString
    val edgeBits =
      if (!edge) ""
      else {
        val pieces = Seq(
          "<p>entity &amp; test &eacute; &#8212; &#x1F600; &unknown; done</p>",
          "<script>var x = '<p>never text</p>';</script>",
          "<!-- comment <p>also never</p> -->",
          "<p>unclosed paragraph with plenty of words to keep in the output body",
          "<table><tr><td>cell one content words here</td><td>cell two more words</td></tr></table>",
          s"<pre>  raw${'\t'}spacing${'\n'}preserved</pre>",
          "<p>carriage\r\nreturn\rline endings inside markup</p>")
        pieces.take(1 + r.nextInt(pieces.length)).mkString("\n")
      }
    s"""<!DOCTYPE html>
       |<html><head><title>$title</title>
       |<style>body{margin:0} .x{color:#333}</style>
       |<script>window.track&&window.track("pv");</script>
       |</head><body>
       |<header><h1>Site ${r.nextInt(100)}</h1><a href="/">home</a></header>
       |<nav><ul>$navLinks</ul></nav>
       |<main>
       |<h2>$title</h2>
       |${paras.map(p => s"<p>$p</p>").mkString("\n")}
       |$edgeBits
       |</main>
       |<aside><p>${sentence(r, 12)}</p></aside>
       |<footer><p>copyright ${1990 + r.nextInt(40)} example corp all rights reserved</p></footer>
       |</body></html>""".stripMargin
  }

  private def pdfPayload(r: SplitMix64): Array[Byte] = {
    val nPages = 1 + r.nextInt(8)
    val pages = (0 until nPages).map { p =>
      if (r.nextInt(5) == 0) Seq.empty[String] // blank page
      else (0 until 2 + r.nextInt(6)).map(_ => sentence(r, 4 + r.nextInt(8)))
    }
    MiniPdf.build(pages, compress = r.nextInt(4) != 0, useTJ = r.nextInt(3) == 0)
  }

  private def junkPayload(r: SplitMix64): Array[Byte] = {
    r.nextInt(5) match {
      case 0 => // printable ratio right at the 0.99 gate
        val base = ("x " * 300).getBytes(StandardCharsets.UTF_8) // 600 chars
        val bad = r.nextInt(3) match { case 0 => 3; case 1 => 6; case _ => 9 } // 0.995 / 0.99 / 0.985
        base ++ Array.fill(bad)(0x01.toByte)
      case 1 => // NUL byte -> reject
        (sentence(r, 50) + "\u0000" + sentence(r, 10)).getBytes(StandardCharsets.UTF_8)
      case 2 => // oversized (over 200KB gate)
        val s = sentence(r, 10)
        val sb = new StringBuilder
        while (sb.length < 205000) sb.append(s).append(' ')
        sb.toString.getBytes(StandardCharsets.UTF_8)
      case 3 => // just under the size gate
        val s = sentence(r, 10)
        val sb = new StringBuilder
        while (sb.length < 190000) sb.append(s).append(' ')
        sb.setLength(190000)
        sb.toString.getBytes(StandardCharsets.UTF_8)
      case _ => // latin-1 text that is invalid utf-8
        ("text with umlauts " + new String(Array(0xE4, 0xF6, 0xFC).map(_.toChar)) + " " +
          sentence(r, 30)).getBytes(StandardCharsets.ISO_8859_1)
    }
  }

  private def binaryJunk(r: SplitMix64): Array[Byte] =
    Array.fill(64 + r.nextInt(4096))(r.nextLong().toByte)

  // ---------------------------------------------------------------- rows
  private val BaseEpochMs = 1577836800000L // 2020-01-01T00:00:00Z

  def page(i: Long, seed: Long = 42L): Page = {
    val r = new SplitMix64(seed * 0x9E3779B97F4A7C15L + i * 0xC2B2AE3D27D4EB4FL + 0x165667B19E3779F9L)
    val host = zipfHost(r)
    val url = s"https://$host/doc/${seed}/${i}"
    val ts = new java.sql.Timestamp(BaseEpochMs + i * 1000L)
    val lang = Langs(r.nextInt(Langs.length))
    val kind = r.nextInt(1000)
    val (payload, provenance): (Array[Byte], String) =
      if (kind < 400) {
        val h = htmlPage(r, edge = false)
        (h.getBytes(StandardCharsets.UTF_8), "html_utf8")
      } else if (kind < 500) {
        val h = htmlPage(r, edge = false).replace("title>", "title>ä")
        val enc = if (r.nextInt(2) == 0) StandardCharsets.ISO_8859_1 else StandardCharsets.UTF_8
        val bytes = (h + " umlauts äöü straße").getBytes(enc)
        (bytes, if (enc == StandardCharsets.ISO_8859_1) "html_latin1" else "html_utf8_uml")
      } else if (kind < 600) {
        val h = htmlPage(r, edge = true) +
          (if (r.nextInt(4) == 0) "\u0000" else "") +
          (if (r.nextInt(4) == 0) new String(Character.toChars(0x1F600)) else "")
        (h.getBytes(StandardCharsets.UTF_8), "html_edge")
      } else if (kind < 750) {
        (pdfPayload(r), "pdf")
      } else if (kind < 850) {
        val paras = (0 until 3 + r.nextInt(8)).map(_ => paragraph(r))
        // a third of plain-text payloads use CRLF line endings (text-mode
        // universal-newline translation must be exercised, not just present)
        val sep = if (r.nextInt(3) == 0) "\r\n\r\n" else "\n\n"
        (paras.mkString(sep).getBytes(StandardCharsets.UTF_8), "text")
      } else if (kind < 950) {
        (junkPayload(r), "junk_text")
      } else {
        (binaryJunk(r), "binary")
      }
    Page(url, ts, payload, provenance, lang)
  }
}
