package graft.kernel

/**
 * OCR arbitration — the pure decision logic the reference wraps around its
 * (GPU) OCR sidecar. The model itself is out of scope (no weights, zero
 * egress); when no OCR result exists the pipeline takes the embedded-text
 * path exactly like the reference does on sidecar ImportError
 * (src/processor.py:555-557). The decision tree is ported EXACTLY so an OCR
 * backend can be plugged in without touching semantics.
 *
 * Reference evidence:
 *   - should_use_ocr: src/ocr_client.py:107-142
 *   - get_final_text: src/ocr_client.py:145-168
 *   - needs_ocr_check / GENERATED_PDF_SOURCES: src/ocr_client.py:28-39
 *   - compute_quality: src/ocr_watcher.py:75-89
 */
object OcrArbiter {
  import TextKernel.{pyStrip, cpLength}

  final case class OcrResult(text: String, quality: Double)

  /** src/ocr_client.py:31-37 — extensions whose generated PDFs always carry
    * perfect text, so OCR is skipped. */
  val GeneratedPdfSources: Set[String] = Set(
    ".dwg", ".dxf",
    ".xlsx", ".xls", ".xlsm", ".ods",
    ".docx", ".doc", ".docm", ".odt",
    ".pptx", ".ppt", ".pptm", ".odp",
    ".pages", ".numbers", ".key")

  def needsOcrCheck(originalExtension: String): Boolean =
    !GeneratedPdfSources.contains(originalExtension.toLowerCase(java.util.Locale.ROOT))

  /** src/ocr_client.py:107-142, byte-exact decision order. Lengths are code
    * points of the Python-stripped strings. */
  def shouldUseOcr(embeddedText: Option[String], ocr: OcrResult): (Boolean, String) = {
    val embLen = embeddedText.map(t => cpLength(pyStrip(t))).getOrElse(0)
    val ocrLen = cpLength(pyStrip(ocr.text))
    if (embLen < 10) {
      if (ocrLen > 50) (true, "no_embedded_ocr_found_text") else (false, "both_empty")
    } else if (ocrLen > embLen * 2 && ocrLen > 200) {
      (true, "ocr_found_more")
    } else if (ocrLen > 100 && ocr.quality > 0.4 && embLen < 500 && ocr.quality > 0.5) {
      (true, "ocr_better_for_short_embedded")
    } else (false, "embedded_ok")
  }

  /** src/ocr_client.py:145-168. */
  def getFinalText(embeddedText: Option[String], ocr: Option[OcrResult], reason: String): String = {
    val embedded = embeddedText.map(pyStrip).getOrElse("")
    val ocrText = ocr.map(r => pyStrip(r.text)).getOrElse("")
    reason match {
      case "both_empty"  => ""
      case "embedded_ok" => embedded
      case "ocr_found_more" | "ocr_better_for_short_embedded" | "no_embedded_ocr_found_text" =>
        if (embedded.nonEmpty && cpLength(embedded) > 50 && reason != "no_embedded_ocr_found_text")
          s"$ocrText\n\n--- embedded text ---\n\n$embedded"
        else ocrText
      case _ => if (embedded.nonEmpty) embedded else ocrText
    }
  }

  /**
   * O5: process_pdf_with_ocr control flow (src/processor.py:544-635), as a
   * pure function over already-extracted page texts and whatever OCR
   * results a backend produced (None everywhere in this sandbox — the
   * ImportError fallback path, src/processor.py:555-557):
   *
   *  1. generated PDFs (DWG/Office source) skip OCR entirely;
   *  2. no page-1 OCR result -> embedded text only;
   *  3. should_use_ocr on page 1 decides; if OCR wins, OCR texts for the
   *     first `ocrMaxPages` pages + embedded text for the tail, all joined
   *     "\n\n" with blank parts dropped, NUL-stripped tail, truncated.
   *
   * `pageTexts` are raw per-page texts (pre NUL-strip, as PyMuPDF returns
   * them); assembly semantics match T1 exactly.
   */
  def processPdfWithOcr(pageTexts: Seq[String],
                        pageOcr: Seq[Option[OcrResult]],
                        originalExtension: String,
                        ocrMaxPages: Int = 20,
                        cfg: TextKernel.Config = TextKernel.defaultConfig): Option[String] = {
    def embeddedOnly: Option[String] = TextKernel.assemblePdfText(pageTexts, cfg)

    if (!needsOcrCheck(originalExtension)) return embeddedOnly
    val page1Ocr = pageOcr.headOption.flatten
    if (page1Ocr.isEmpty) return embeddedOnly

    // T2 single-page variant for the comparison (src/processor.py:499-511)
    val page1Embedded = pageTexts.headOption.flatMap { t =>
      if (TextKernel.hasContent(t)) Some(TextKernel.stripNul(t)) else None
    }
    val (useOcr, _) = shouldUseOcr(page1Embedded, page1Ocr.get)
    if (!useOcr) return embeddedOnly

    val pageCount = pageTexts.length
    val ocrPageCount = math.min(pageCount, ocrMaxPages)
    val ocrTexts = (0 until ocrPageCount).flatMap { i =>
      if (i == 0) Some(page1Ocr.get.text)
      else pageOcr.lift(i).flatten.map(_.text).filter(_.nonEmpty)
    }
    val embeddedTail =
      if (pageCount > ocrMaxPages)
        pageTexts.drop(ocrMaxPages).filter(TextKernel.hasContent)
          .map(TextKernel.stripNul).mkString("\n\n")
      else ""
    val parts = ocrTexts.filter(TextKernel.hasContent) ++
      (if (TextKernel.hasContent(embeddedTail)) Seq(embeddedTail) else Seq.empty)
    val finalText = TextKernel.truncate(parts.mkString("\n\n"), cfg.maxTextLength)
    if (TextKernel.hasContent(finalText)) Some(finalText) else None
  }
}
