package graft.kernel

import java.nio.charset.StandardCharsets

/** E1 + E6 — payload sniffer and total per-document extraction dispatch.
  *
  * Generalizes the reference's digital-vs-scanned PDF classifier
  * (`/root/reference/app/services/extractor.py:25-37`) to the 3-way dispatch the
  * north_rule asks for: HTML boilerplate strip / digital-PDF layout parse /
  * scanned-bitmap OCR. Fidelity anchors kept verbatim:
  *   - MIN_TEXT_LENGTH = 50: a PDF is digital iff its total embedded text length
  *     is strictly greater than 50 chars (extractor.py:22,30-34);
  *   - any parse failure yields empty pages, never an exception — the kernel is
  *     total (extractor.py:80-82 returns [] on failure; corrupt-PDF tolerance per
  *     extraction_errors.log:3-11);
  *   - per-page OCR failure yields "" for that page (extractor.py:62-64);
  *   - a document's search text is its pages joined with "\n" (search.py:129).
  */
object Extract {

  /** MIN_TEXT_LENGTH (extractor.py:22). */
  final val MinTextLength = 50

  final val KindHtml = "html"
  final val KindPdfDigital = "pdf_digital"
  final val KindPdfScanned = "pdf_scanned"
  final val KindText = "text"     // pre-extracted passthrough (pages.text column)
  final val KindEmpty = "empty"   // null/corrupt/unrecognized payload

  final case class Result(kind: String, pages: Vector[String], ok: Boolean) {
    /** pages joined with "\n" — the search-side concatenation (search.py:129);
      * a single page is returned as is.
      */
    def text: String = if (pages.length == 1) pages.head else pages.mkString("\n")
  }

  /** Payload-kind sniff on magic bytes (never throws; parse errors surface later
    * as empty extraction, not here).
    */
  def sniff(html: Array[Byte]): String = {
    if (html == null || html.isEmpty) KindEmpty
    else if (PdfLite.hasMagic(html)) {
      try {
        val doc = PdfLite.parse(html)
        if (PdfLite.embeddedTextLen(doc, MinTextLength) > MinTextLength) KindPdfDigital
        else KindPdfScanned
      } catch {
        // is_digital_pdf returns False on any error (extractor.py:35-37):
        // an unparseable PDF routes to the scanned branch, which then fails
        // per-page to "" — we compress that to the scanned kind with no pages.
        case scala.util.control.NonFatal(_) => KindPdfScanned
      }
    } else if (Raster.hasMagic(html)) KindPdfScanned
    else if (looksHtml(html)) KindHtml
    else KindEmpty
  }

  /** HTML detection: first non-whitespace byte is '<', or a case-insensitive
    * "<html" / "<!doctype" appears in the first 512 bytes.
    */
  def looksHtml(bytes: Array[Byte]): Boolean = {
    var i = 0
    val n = math.min(bytes.length, 512)
    while (i < n && (bytes(i) == ' ' || (bytes(i) >= 9 && bytes(i) <= 13))) i += 1
    if (i < n && bytes(i) == '<') return true
    val head = Py.lower(new String(bytes, 0, n, StandardCharsets.ISO_8859_1))
    head.contains("<html") || head.contains("<!doctype")
  }

  /** Total per-document extraction (E6): never throws.
    *
    * `ok=false` marks a document whose extraction died unexpectedly (the analog
    * of `process_single_pdf` returning None, extractor.py:92-94) and feeds the
    * processed/total >= 0.9 success gate (extractor.py:131-136). Handled corrupt
    * payloads are `ok=true` with empty pages, exactly like the reference counts
    * corrupt-but-caught PDFs as processed.
    */
  def extract(html: Array[Byte], preExtracted: String): Result = {
    try {
      // Same dispatch as sniff(), but PDFs parse and lay out ONCE: the probe
      // (embeddedTextLen early-exits past the limit, so `partial > 50` equals
      // `fullSum > 50`) and the digital extraction share the laid-out pages.
      // sniff() itself remains the column-level kind classifier.
      if (html == null || html.isEmpty) {
        if (preExtracted != null && preExtracted.nonEmpty)
          Result(KindText, Vector(preExtracted), ok = true)
        else Result(KindEmpty, Vector.empty, ok = true)
      } else if (PdfLite.hasMagic(html)) {
        val parsed =
          try Some(PdfLite.parse(html))
          catch { case scala.util.control.NonFatal(_) => None }
        parsed match {
          case None =>
            // unparseable PDF routes to the scanned kind with no pages
            // (extractor.py:35-37 + per-page failure to "")
            Result(KindPdfScanned, Vector.empty, ok = true)
          case Some(doc) =>
            val texts = doc.pages.map(PdfLite.pageText)
            var total = 0
            texts.foreach(t => total += t.length)
            if (total > MinTextLength) Result(KindPdfDigital, texts, ok = true)
            else Result(KindPdfScanned,
              doc.pages.map(p => p.raster.map(Ocr.decode).getOrElse("")), ok = true)
        }
      } else if (Raster.hasMagic(html)) {
        Result(KindPdfScanned, Vector(Ocr.decode(html)), ok = true)
      } else if (looksHtml(html)) {
        Result(KindHtml, Vector(HtmlExtract.mainText(html)), ok = true)
      } else Result(KindEmpty, Vector.empty, ok = true)
    } catch {
      case scala.util.control.NonFatal(_) => Result(KindEmpty, Vector.empty, ok = false)
    }
  }
}
