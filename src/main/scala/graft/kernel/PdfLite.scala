package graft.kernel

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

/** E2 — digital-PDF-lite: a from-scratch, deterministic mini document format plus
  * its layout parser, standing in for the reference's PyMuPDF text extraction
  * (`/root/reference/app/services/extractor.py:72-73`, `page.get_text()` per page).
  *
  * No PDF library exists in this sandbox, so the fixture corpus carries payloads in
  * this format; the *engine-relevant* behavior matches the reference:
  *   - page objects hold positioned text runs in arbitrary file order; layout
  *     extraction must reorder them geometrically (y, then x) like a pdfminer-style
  *     layout pass;
  *   - each page yields one string; page order is preserved (extractor.py:73,78);
  *   - a page may instead carry a raster image (the scanned-PDF case routed to OCR
  *     when embedded text is too short, extractor.py:25-37).
  *
  * Binary layout (big-endian):
  * {{{
  *   magic "%GPDF1" | int32 nPages
  *   per page: int32 nRuns
  *             per run: int32 x | int32 y | int32 byteLen | utf8 bytes
  *             int32 rasterLen | raster bytes ("GRAS" format, 0 if none)
  * }}}
  */
object PdfLite {

  val Magic: Array[Byte] = "%GPDF1".getBytes(StandardCharsets.US_ASCII)

  final case class Run(x: Int, y: Int, text: String)
  final case class Page(runs: Vector[Run], raster: Option[Array[Byte]])
  final case class Doc(pages: Vector[Page])

  def hasMagic(bytes: Array[Byte]): Boolean =
    bytes != null && bytes.length >= Magic.length &&
      java.util.Arrays.equals(java.util.Arrays.copyOf(bytes, Magic.length), Magic)

  /** Parse; throws on malformed input (callers treat that as a corrupt payload,
    * mirroring the tolerated "No /Root object!" failures in
    * `/root/reference/extraction_errors.log:3-11`).
    */
  def parse(bytes: Array[Byte]): Doc = {
    require(hasMagic(bytes), "bad magic")
    val bb = ByteBuffer.wrap(bytes, Magic.length, bytes.length - Magic.length)
    val nPages = bb.getInt
    require(nPages >= 0 && nPages <= 100000, s"bad page count $nPages")
    val pages = Vector.newBuilder[Page]
    var p = 0
    while (p < nPages) {
      val nRuns = bb.getInt
      require(nRuns >= 0 && nRuns <= 10000000, s"bad run count $nRuns")
      val runs = Vector.newBuilder[Run]
      var r = 0
      while (r < nRuns) {
        val x = bb.getInt
        val y = bb.getInt
        val len = bb.getInt
        require(len >= 0 && len <= bb.remaining(), s"bad run length $len")
        // decode straight from the backing array — no per-run byte[] copy
        val off = bb.position()
        runs += Run(x, y, new String(bytes, off, len, StandardCharsets.UTF_8))
        bb.position(off + len)
        r += 1
      }
      val rasterLen = bb.getInt
      require(rasterLen >= 0 && rasterLen <= bb.remaining(), s"bad raster length $rasterLen")
      val raster =
        if (rasterLen == 0) None
        else {
          val buf = new Array[Byte](rasterLen)
          bb.get(buf)
          Some(buf)
        }
      pages += Page(runs.result(), raster)
      p += 1
    }
    Doc(pages.result())
  }

  /** Layout text for one page: stable sort runs by (y, x), join same-y runs with
    * a single space, lines joined by "\n", plus a trailing "\n" when nonempty —
    * the shape `page.get_text()` produces for simple text pages.
    *
    * When every coordinate and the run count fit in 21 unsigned bits (every
    * page `Synth` lays out does), the sort is a primitive
    * `Arrays.sort(long[])` over keys `y << 42 | x << 21 | index`; the index
    * makes every key distinct, so the order is the stable one. Other pages
    * sort the runs with a stable comparator sort.
    */
  def pageText(page: Page): String = {
    val n = page.runs.length
    if (n == 0) return ""
    val runs = sortedRuns(page.runs.toArray)
    var total = 1
    var i = 0
    while (i < n) { total += runs(i).text.length + 1; i += 1 }
    val sb = new java.lang.StringBuilder(total)
    var curY = runs(0).y
    sb.append(runs(0).text)
    i = 1
    while (i < n) {
      val r = runs(i)
      if (r.y != curY) { sb.append('\n'); curY = r.y }
      else sb.append(' ')
      sb.append(r.text)
      i += 1
    }
    sb.append('\n')
    sb.toString
  }

  private final val KeyBits = 21
  private final val KeyMask = (1L << KeyBits) - 1

  private val runOrder: java.util.Comparator[Run] = new java.util.Comparator[Run] {
    def compare(a: Run, b: Run): Int = {
      val c = Integer.compare(a.y, b.y)
      if (c != 0) c else Integer.compare(a.x, b.x)
    }
  }

  /** `runs` stably sorted by (y, x) — in place, or as a new array. */
  private def sortedRuns(runs: Array[Run]): Array[Run] = {
    val n = runs.length
    val keys = new Array[Long](n)
    var fits = n <= KeyMask
    var i = 0
    while (fits && i < n) {
      val r = runs(i)
      // a negative or >= 2^21 coordinate sets a bit at or above 21
      if (((r.x | r.y) >>> KeyBits) != 0) fits = false
      else keys(i) = r.y.toLong << (2 * KeyBits) | r.x.toLong << KeyBits | i
      i += 1
    }
    if (!fits) {
      java.util.Arrays.sort(runs, runOrder)
      runs
    } else {
      java.util.Arrays.sort(keys)
      val sorted = new Array[Run](n)
      i = 0
      while (i < n) { sorted(i) = runs((keys(i) & KeyMask).toInt); i += 1 }
      sorted
    }
  }

  /** Total embedded text length, early-exiting past `limit` — the digital-vs-
    * scanned probe (`extractor.py:25-37`: accumulate page.get_text() and classify
    * digital as soon as total length exceeds MIN_TEXT_LENGTH=50).
    */
  def embeddedTextLen(doc: Doc, limit: Int): Int = {
    var total = 0
    val it = doc.pages.iterator
    while (it.hasNext && total <= limit) total += pageText(it.next()).length
    total
  }

  // ---- writer (fixture/synth side) ----

  def write(doc: Doc): Array[Byte] = {
    var size = Magic.length + 4
    for (p <- doc.pages) {
      size += 4
      for (r <- p.runs) size += 12 + r.text.getBytes(StandardCharsets.UTF_8).length
      size += 4 + p.raster.map(_.length).getOrElse(0)
    }
    val bb = ByteBuffer.allocate(size)
    bb.put(Magic)
    bb.putInt(doc.pages.length)
    for (p <- doc.pages) {
      bb.putInt(p.runs.length)
      for (r <- p.runs) {
        val tb = r.text.getBytes(StandardCharsets.UTF_8)
        bb.putInt(r.x); bb.putInt(r.y); bb.putInt(tb.length); bb.put(tb)
      }
      p.raster match {
        case Some(img) => bb.putInt(img.length); bb.put(img)
        case None      => bb.putInt(0)
      }
    }
    bb.array()
  }
}
