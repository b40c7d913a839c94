package graft.kernel

/** Char-at-a-time reference forms of the extract kernels' text paths, as
  * they were before their bulk-copy and primitive-sort fast paths: a
  * per-block buffer collapsed whole, a per-char entity decoder, and a
  * comparator sort of a page's runs. The differential tests hold the
  * kernels to these outputs, char for char.
  */
object KernelReference {

  def collapseWs(s: String): String = {
    val sb = new StringBuilder(s.length)
    var inWs = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      val ws = c == ' ' || (c >= '\u0009' && c <= '\u000d')
      if (ws) inWs = true
      else {
        if (inWs && sb.nonEmpty) sb.append(' ')
        inWs = false
        sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  def decodeEntities(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        if (semi > i && semi - i <= 12) {
          val name = s.substring(i + 1, semi)
          val decoded: Option[String] = name match {
            case "amp"  => Some("&")
            case "lt"   => Some("<")
            case "gt"   => Some(">")
            case "quot" => Some("\"")
            case "apos" => Some("'")
            case "nbsp" => Some("\u00a0")
            case _ if name.length > 1 && name.charAt(0) == '#' =>
              try {
                val cp =
                  if (name.charAt(1) == 'x' || name.charAt(1) == 'X')
                    Integer.parseInt(name.substring(2), 16)
                  else Integer.parseInt(name.substring(1))
                if (Character.isValidCodePoint(cp) && cp > 0)
                  Some(new String(Character.toChars(cp)))
                else None
              } catch { case _: NumberFormatException => None }
            case _ => None
          }
          decoded match {
            case Some(d) => sb.append(d); i = semi + 1
            case None    => sb.append(c); i += 1
          }
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private val IgnoreZones = Set(
    "script", "style", "noscript", "template", "head", "nav", "header",
    "footer", "aside", "form", "button", "select", "option", "iframe",
    "svg", "object", "figcaption")
  private val RawText = Set("script", "style", "textarea", "title")
  private val Void = Set(
    "area", "base", "br", "col", "embed", "hr", "img", "input", "link",
    "meta", "param", "source", "track", "wbr")
  private val BlockTags = Set(
    "address", "article", "aside", "blockquote", "body", "br", "caption",
    "dd", "div", "dl", "dt", "fieldset", "figure", "figcaption", "footer",
    "form", "h1", "h2", "h3", "h4", "h5", "h6", "header", "hr", "html",
    "li", "main", "nav", "ol", "p", "pre", "section", "table", "tbody",
    "td", "th", "thead", "tr", "ul")

  private def isNameChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')

  /** The block-buffer form of `HtmlExtract.mainText`: text accumulates in a
    * block, and a flushed block is collapsed whole, judged, and copied.
    */
  def mainText(html: String): String = {
    val n = html.length
    val out = new StringBuilder
    val block = new StringBuilder
    var blockLinkChars = 0
    var ignoreDepth = 0
    var linkDepth = 0

    def flushBlock(): Unit = {
      if (block.nonEmpty) {
        val collapsed = collapseWs(block.toString)
        if (collapsed.length >= HtmlExtract.MinBlockChars &&
          blockLinkChars.toDouble <= HtmlExtract.MaxLinkDensity * block.length) {
          if (out.nonEmpty) out.append('\n')
          out.append(collapsed)
        }
        block.clear()
      }
      blockLinkChars = 0
    }

    def appendRun(start: Int, end: Int): Unit =
      if (ignoreDepth == 0 && end > start) {
        val s = decodeEntities(html.substring(start, end))
        block.append(s)
        if (linkDepth > 0) blockLinkChars += s.length
      }

    var i = 0
    var textStart = 0
    var done = false
    while (!done) {
      val lt = html.indexOf('<', i)
      if (lt < 0 || lt + 1 >= n) done = true
      else {
        val c1 = html.charAt(lt + 1)
        if (c1 == '!') {
          appendRun(textStart, lt)
          if (html.startsWith("<!--", lt)) {
            val end = html.indexOf("-->", lt + 4)
            i = if (end < 0) n else end + 3
          } else {
            val end = html.indexOf('>', lt + 2)
            i = if (end < 0) n else end + 1
          }
          textStart = i
        } else if (c1 == '?') {
          appendRun(textStart, lt)
          val end = html.indexOf('>', lt + 2)
          i = if (end < 0) n else end + 1
          textStart = i
        } else if (c1 == '/' || (c1 >= 'a' && c1 <= 'z') || (c1 >= 'A' && c1 <= 'Z')) {
          appendRun(textStart, lt)
          val closing = c1 == '/'
          var p = if (closing) lt + 2 else lt + 1
          val nameStart = p
          while (p < n && isNameChar(html.charAt(p))) p += 1
          val name = Py.lower(html.substring(nameStart, p))
          var quote: Char = 0
          var end = -1
          while (p < n && end < 0) {
            val ch = html.charAt(p)
            if (quote != 0) { if (ch == quote) quote = 0 }
            else if (ch == '"' || ch == '\'') quote = ch
            else if (ch == '>') end = p
            p += 1
          }
          i = if (end < 0) n else end + 1
          textStart = i
          val selfClosing = end > 0 && html.charAt(end - 1) == '/'
          if (name.nonEmpty) {
            if (BlockTags(name)) flushBlock()
            if (!closing && !selfClosing && !Void(name)) {
              if (name == "a") linkDepth += 1
              if (IgnoreZones(name)) ignoreDepth += 1
              if (RawText(name)) {
                var close = -1
                var from = i
                while (close < 0 && from >= 0) {
                  val c = html.indexOf("</", from)
                  if (c < 0 || c + 2 + name.length > n) from = -1
                  else if (html.regionMatches(true, c + 2, name, 0, name.length)) close = c
                  else from = c + 2
                }
                i = if (close < 0) n
                    else {
                      val gt = html.indexOf('>', close)
                      if (gt < 0) n else gt + 1
                    }
                textStart = i
                if (IgnoreZones(name)) ignoreDepth -= 1
              }
            } else if (closing) {
              if (name == "a" && linkDepth > 0) linkDepth -= 1
              if (IgnoreZones(name) && ignoreDepth > 0) ignoreDepth -= 1
            }
          }
        } else i = lt + 1
      }
    }
    appendRun(textStart, n)
    flushBlock()
    out.toString
  }

  /** `PdfLite.pageText` with a stable comparator sort of the runs. */
  def pageText(page: PdfLite.Page): String = {
    if (page.runs.isEmpty) return ""
    val arr = page.runs.toArray
    java.util.Arrays.sort(arr, new java.util.Comparator[PdfLite.Run] {
      def compare(a: PdfLite.Run, b: PdfLite.Run): Int = {
        val c = Integer.compare(a.y, b.y)
        if (c != 0) c else Integer.compare(a.x, b.x)
      }
    })
    val sb = new StringBuilder
    var curY = arr(0).y
    sb.append(arr(0).text)
    for (r <- arr.iterator.drop(1)) {
      if (r.y != curY) { sb.append('\n'); curY = r.y }
      else sb.append(' ')
      sb.append(r.text)
    }
    sb.append('\n')
    sb.toString
  }
}
