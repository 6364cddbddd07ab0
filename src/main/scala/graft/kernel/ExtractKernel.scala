package graft.kernel

import graft.kernel.html.MainContent
import graft.kernel.pdf.{PdfDocument, PdfExtract}

/**
 * Per-row extraction kernel: payload sniffing + routed extraction. This is
 * the Spark-task equivalent of the reference's isolated processor container
 * (one partition = one batch of jobs, SURVEY.md §1.3).
 *
 * Routing (SURVEY.md §2.3 R4, adapted per §7.4: our table has no filename,
 * so the extension dispatch of /root/reference/src/processor.py:716-821
 * becomes content sniffing; priority order preserved for the payload types
 * that exist on the web path):
 *   1. "%PDF-" magic            -> PDF embedded-text path (T1/F5)
 *   2. HTML tag sniff           -> raw-decode T3 (reference-exact: .html is
 *      in TEXT_EXTRACT_EXTENSIONS, src/settings.py:58) + NEW main-content
 *      extraction (north_star F6b) with spans
 *   3. everything else          -> fallback gate T4 (size/NUL/printable)
 *
 * extracted_text reproduces the reference byte-for-byte; text_main/spans/
 * title are the new north_star outputs; quality is O4.
 */
object ExtractKernel {

  /** Pluggable OCR backend (the reference's EasyOCR sidecar slot). The
    * sandbox ships none — extraction then takes the embedded-text path
    * exactly like the reference on sidecar ImportError
    * (src/processor.py:555-557) — but the O2/O3/O5 arbitration + merge
    * composition is live code, exercised e2e with a deterministic fake. */
  trait OcrEngine extends Serializable {
    /** OCR one page of the document, or None when the page yields nothing. */
    def ocrPage(pdfBytes: Array[Byte], pageIndex: Int): Option[OcrArbiter.OcrResult]
  }

  final case class Span(kind: String, start: Long, end: Long)
  final case class Lineage(partition_id: Int, attempt: Int, extractor: String)
  /** Output row. Absent text/title/error are `null` (not Option): the
    * Catalyst schema is identical (nullable string) but the encoder skips
    * the Option wrap/unwrap on the hottest columns, and spans encode as a
    * plain object array. */
  final case class ExtractedDoc(
      url: String,
      doc_type: String,
      extracted_text: String, // reference-exact invariant column; null = none
      text_main: String,      // boilerplate-stripped (html only); null = none
      title: String,
      spans: Array[Span],
      quality: Double,
      n_chars: Long,
      error: String,
      lineage: Lineage)

  /** Content sniffing replaces extension routing (deviation §7.4). */
  def sniff(bytes: Array[Byte]): String = {
    if (PdfDocument.isPdf(bytes)) return "pdf"
    // look for an HTML opener in the first 1024 bytes, case-insensitive
    val limit = math.min(bytes.length, 1024)
    var i = 0
    while (i < limit) {
      if (bytes(i) == '<' && i + 1 < limit) {
        val rest = limit - i
        if (matchesAt(bytes, i, "<!doctype") || matchesAt(bytes, i, "<html") ||
          matchesAt(bytes, i, "<head") || matchesAt(bytes, i, "<body") ||
          matchesAt(bytes, i, "<?xml")) return "html"
        // first tag-like opener that is a letter => treat as markup only if
        // it appears at the very start (ignoring whitespace)
        if (isLeadingWhitespaceOnly(bytes, i) &&
          (isLetter(bytes(i + 1)) || bytes(i + 1) == '!' || bytes(i + 1) == '/')) return "html"
      }
      i += 1
    }
    "other"
  }

  /** Declared charset from `<meta charset=..>`, `<meta http-equiv=..
    * content="..;charset=..">` or `<?xml encoding=..?>` in the first 1024
    * bytes (the prefix is ASCII-compatible in every charset we honor).
    * Used ONLY by the text_main path: extracted_text stays reference-exact
    * (the reference never sniffed charsets — utf-8 then latin-1,
    * src/processor.py:656-660). */
  private val CharsetAttr = "charset\\s*=\\s*[\"']?([a-zA-Z0-9_\\-]+)".r
  private val XmlEncAttr = "encoding\\s*=\\s*[\"']([a-zA-Z0-9_\\-]+)[\"']".r

  def sniffCharset(bytes: Array[Byte]): Option[java.nio.charset.Charset] = {
    val n = math.min(bytes.length, 1024)
    if (n == 0) return None
    val head = new String(bytes, 0, n, java.nio.charset.StandardCharsets.ISO_8859_1)
      .toLowerCase(java.util.Locale.ROOT)
    CharsetAttr.findFirstMatchIn(head).orElse(XmlEncAttr.findFirstMatchIn(head))
      .flatMap { m =>
        try Some(java.nio.charset.Charset.forName(m.group(1)))
        catch { case _: Exception => None }
      }
  }

  @inline private def isLetter(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')

  private def isLeadingWhitespaceOnly(bytes: Array[Byte], until: Int): Boolean = {
    var i = 0
    while (i < until) {
      val c = bytes(i)
      if (c != ' ' && c != '\t' && c != '\r' && c != '\n' && c != '\f') return false
      i += 1
    }
    true
  }

  private def matchesAt(bytes: Array[Byte], at: Int, pat: String): Boolean = {
    if (at + pat.length > bytes.length) return false
    var j = 0
    while (j < pat.length) {
      val c = Character.toLowerCase((bytes(at + j) & 0xFF).toChar)
      if (c != pat.charAt(j)) return false
      j += 1
    }
    true
  }

  /** Extract one page. Never throws: failures land in `error` (quarantine
    * semantics of src/queue.py:59-78 / task-retry + quarantine per SURVEY
    * §2.2 K2). */
  def extractOne(url: String, html: Array[Byte], partitionId: Int, attempt: Int,
                 cfg: TextKernel.Config = TextKernel.defaultConfig,
                 ocr: Option[OcrEngine] = None): ExtractedDoc = {
    val bytes = if (html == null) Array.emptyByteArray else html
    val docType = try sniff(bytes) catch { case _: Throwable => "other" }
    try {
      docType match {
        case "pdf" =>
          val text = (ocr match {
            case None => PdfExtract.extractText(bytes, cfg)
            case Some(engine) => // O5: full OCR arbitration (reference
              // src/processor.py:544-635) over this document's pages
              PdfExtract.pageTexts(bytes).flatMap { pts =>
                val pageOcr = pts.indices.map(i =>
                  try engine.ocrPage(bytes, i) catch { case _: Exception => None })
                OcrArbiter.processPdfWithOcr(pts, pageOcr, originalExtension = "", cfg = cfg)
              }
          }).orNull
          done(url, "pdf", text, text, null, EmptySpans, partitionId, attempt,
            if (ocr.isDefined) "pdf-ocr" else "pdf-lite")
        case "html" =>
          // one decode + newline translation shared by the reference-exact
          // raw path (T3, text-mode open semantics) and the main-content path
          val utf8 = TextKernel.decodeUtf8Strict(bytes)
          val translated = TextKernel.translateNewlines(
            utf8.getOrElse(TextKernel.decodeLatin1(bytes)))
          val raw = cfg.maxTextLength match {
            case None => if (TextKernel.hasContent(translated)) translated else null
            case Some(_) => TextKernel.extractTextFromFile(bytes, cfg).orNull // capped: full T3 semantics
          }
          // text_main honors a declared charset when the page is not valid
          // UTF-8 (windows-1251/shift_jis pages would otherwise garble);
          // extracted_text above is untouched — reference-exact by contract
          val mainInput = utf8 match {
            case Right(_) => translated
            case Left(_) =>
              sniffCharset(bytes) match {
                case Some(cs) if cs != java.nio.charset.StandardCharsets.UTF_8 &&
                  cs != java.nio.charset.StandardCharsets.ISO_8859_1 =>
                  try TextKernel.translateNewlines(new String(bytes, cs))
                  catch { case _: Throwable => translated }
                case _ => translated
              }
          }
          val mc = MainContent.extract(mainInput)
          val main = if (TextKernel.hasContent(mc.text)) mc.text else null
          val spans = mc.spans.iterator.map(s => Span(s.kind, s.start, s.end)).toArray
          val title = if (mc.title.nonEmpty) mc.title else null
          done(url, "html", raw, main, title, spans, partitionId, attempt, "html-tokenizer")
        case _ =>
          val text = TextKernel.extractTextFallback(bytes, cfg).orNull
          done(url, "other", text, text, null, EmptySpans, partitionId, attempt, "fallback")
      }
    } catch {
      case e: Throwable =>
        ExtractedDoc(url, docType, null, null, null, EmptySpans, 0.5, 0L,
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}",
          Lineage(partitionId, attempt, "error"))
    }
  }

  private val EmptySpans: Array[Span] = Array.empty

  /** Quality is a sampled heuristic: scored on the first 20k code points
    * (wordlist hit-ratio converges long before that; keeps huge docs cheap).
    * One count of the text gives both `n_chars` and the sample's end. */
  private val QualitySampleCp = 20000

  private def done(url: String, docType: String, text: String,
                   main: String, title: String, spans: Array[Span],
                   pid: Int, attempt: Int, extractor: String): ExtractedDoc = {
    val n = if (text == null) 0 else TextKernel.cpLength(text)
    val q =
      if (text == null) 0.5
      else QualityScore.score(text, TextKernel.prefixEnd(text, n, QualitySampleCp))
    ExtractedDoc(url, docType, text, main, title, spans, q, n.toLong, null,
      Lineage(pid, attempt, extractor))
  }
}
