package graft.kernel

import java.nio.charset.StandardCharsets

/** E8 — HTML main-content extraction: streaming byte-level tokenizer feeding a
  * block model with Readability/trafilatura-style text-to-link-density scoring.
  *
  * This operator is grafted per BASELINE.json `north_rule` ("HTML boilerplate
  * strip ... DOM-density heuristics"); the reference itself only extracts PDFs
  * (`/root/reference/app/services/extractor.py:67-82`), so the dispatch slot this
  * fills is its digital-branch analog. All heuristics are frozen constants below —
  * the single-threaded oracle calls this same function, making extracted text
  * byte-identical per url by construction.
  *
  * Pipeline: tokenize (tags / text / comments / raw-text elements) → collapse
  * each text run's whitespace straight into the output as it arrives → at each
  * block-level tag, judge the block just written (collapsed length >=
  * MinBlockChars and link-char density <= MaxLinkDensity, outside boilerplate
  * zones like nav/header/footer/aside/form) and cut it back off the output
  * when it fails. Kept blocks are joined with "\n". No block is buffered or
  * copied: a kept block's text is written once.
  */
object HtmlExtract {

  /** Minimum collapsed block length to keep (chars). */
  final val MinBlockChars = 25
  /** Maximum fraction of a block's chars that may come from inside <a>. */
  final val MaxLinkDensity = 1.0 / 3.0

  /** Elements whose entire subtree is boilerplate / non-content. */
  private val IgnoreZones: Set[String] = Set(
    "script", "style", "noscript", "template", "head", "nav", "header",
    "footer", "aside", "form", "button", "select", "option", "iframe",
    "svg", "object", "figcaption")

  /** Raw-text elements: content runs to the matching close tag, never parsed. */
  private val RawText: Set[String] = Set("script", "style", "textarea", "title")

  /** Void elements — never pushed on the open stack. */
  private val Void: Set[String] = Set(
    "area", "base", "br", "col", "embed", "hr", "img", "input", "link",
    "meta", "param", "source", "track", "wbr")

  /** Tags that delimit text blocks (open or close flushes the current block). */
  private val BlockTags: Set[String] = Set(
    "address", "article", "aside", "blockquote", "body", "br", "caption",
    "dd", "div", "dl", "dt", "fieldset", "figure", "figcaption", "footer",
    "form", "h1", "h2", "h3", "h4", "h5", "h6", "header", "hr", "html",
    "li", "main", "nav", "ol", "p", "pre", "section", "table", "tbody",
    "td", "th", "thead", "tr", "ul")

  // one hash lookup per tag instead of one per category (hot path)
  private final val FBlock = 1
  private final val FVoid = 2
  private final val FIgnore = 4
  private final val FRaw = 8
  private val TagFlags: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]
    def add(names: Iterable[String], flag: Int): Unit = names.foreach { t =>
      val cur = m.get(t)
      m.put(t, Integer.valueOf(if (cur == null) flag else cur.intValue | flag))
    }
    add(BlockTags, FBlock); add(Void, FVoid); add(IgnoreZones, FIgnore); add(RawText, FRaw)
    m
  }

  def mainText(html: Array[Byte]): String =
    mainText(new String(html, StandardCharsets.UTF_8))

  def mainText(html: String): String = {
    val n = html.length
    val out = new java.lang.StringBuilder(n)
    val ws = new Collapser(out)
    var mark = 0           // out's length where the current block starts
    var blockChars = 0     // the current block's text length before collapsing
    var blockLinkChars = 0
    var ignoreDepth = 0 // nested IgnoreZones elements currently open
    var linkDepth = 0   // nested <a> elements currently open

    // the block is already collapsed into out[mark, length): keep it or cut it
    def flushBlock(): Unit = {
      if (blockChars > 0) {
        val collapsed = if (ws.started) out.length - mark - (if (mark > 0) 1 else 0) else 0
        if (!(collapsed >= MinBlockChars &&
            blockLinkChars.toDouble <= MaxLinkDensity * blockChars))
          out.setLength(mark)
      }
      blockChars = 0
      blockLinkChars = 0
      mark = out.length
      ws.start(if (mark > 0) '\n' else 0)
    }

    val htmlWs = new OddWsIndex(html)
    def appendText(ix: OddWsIndex, start: Int, end: Int): Unit = {
      ws.append(ix, start, end)
      blockChars += end - start
      if (linkDepth > 0) blockLinkChars += end - start
    }

    // decode only when an entity is actually present in [start, end); the
    // next '&' is searched once per '&', not once per run
    var nextAmp = -1
    def appendRun(start: Int, end: Int): Unit =
      if (ignoreDepth == 0 && end > start) {
        if (nextAmp < start) {
          nextAmp = html.indexOf('&', start)
          if (nextAmp < 0) nextAmp = Int.MaxValue
        }
        if (nextAmp < end) {
          val decoded = decodeEntities(html.substring(start, end))
          appendText(new OddWsIndex(decoded), 0, decoded.length)
        } else appendText(htmlWs, start, end)
      }

    // jump between tags with String.indexOf (JVM SIMD intrinsic) instead of a
    // scalar per-char scan — text runs between tags are the bulk of a page
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
        } else if (c1 == '/' || isAsciiLetter(c1)) {
          appendRun(textStart, lt)
          val closing = c1 == '/'
          var p = if (closing) lt + 2 else lt + 1
          val nameStart = p
          while (p < n && (isAsciiLetter(html.charAt(p)) || isAsciiDigit(html.charAt(p)))) p += 1
          // names are [a-zA-Z0-9] by the scan above, so ASCII lowering is
          // exactly Py.lower here — skip the extra pass/alloc when already lower
          val name = lowerAsciiName(html, nameStart, p)
          // scan to tag end, honoring quoted attribute values
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
            val f = TagFlags.get(name)
            val flags = if (f == null) 0 else f.intValue
            if ((flags & FBlock) != 0) flushBlock()
            if (!closing && !selfClosing && (flags & FVoid) == 0) {
              if (name == "a") linkDepth += 1
              if ((flags & FIgnore) != 0) ignoreDepth += 1
              if ((flags & FRaw) != 0) {
                // consume raw content up to the matching close tag
                val closeIdx = indexOfCloseTag(html, name, i)
                i = if (closeIdx < 0) n
                    else {
                      val gt = html.indexOf('>', closeIdx)
                      if (gt < 0) n else gt + 1
                    }
                textStart = i
                if ((flags & FIgnore) != 0) ignoreDepth -= 1
              }
            } else if (closing) {
              if (name == "a" && linkDepth > 0) linkDepth -= 1
              if ((flags & FIgnore) != 0 && ignoreDepth > 0) ignoreDepth -= 1
            }
          }
        } else {
          i = lt + 1 // literal '<' stays in the text run
        }
      }
    }
    appendRun(textStart, n)
    flushBlock()
    out.toString
  }

  private def lowerAsciiName(s: String, a: Int, b: Int): String = {
    var i = a
    var anyUpper = false
    while (i < b && !anyUpper) {
      val c = s.charAt(i); if (c >= 'A' && c <= 'Z') anyUpper = true; i += 1
    }
    if (!anyUpper) s.substring(a, b)
    else {
      val arr = new Array[Char](b - a)
      var j = 0
      while (j < b - a) {
        val c = s.charAt(a + j)
        arr(j) = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
        j += 1
      }
      new String(arr)
    }
  }

  private def isAsciiLetter(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  private def isAsciiDigit(c: Char): Boolean = c >= '0' && c <= '9'

  /** First `</name` (case-insensitive name) at or after `from`: jump between
    * "</" occurrences with the intrinsified indexOf, compare the name only
    * there — raw-text bodies (scripts, styles) are scanned at memcpy speed.
    */
  private def indexOfCloseTag(hay: String, name: String, from: Int): Int = {
    val nl = name.length
    var i = math.max(from, 0)
    while (true) {
      val lt = hay.indexOf("</", i)
      if (lt < 0 || lt + 2 + nl > hay.length) return -1
      if (hay.regionMatches(true, lt + 2, name, 0, nl)) return lt
      i = lt + 2
    }
    -1 // unreachable
  }

  /** Collapse ASCII whitespace runs to single spaces and trim. The collapse set
    * is exactly the six chars of Java's regex class `\s`, [ \t\n\u000b\f\r],
    * so the result equals `s.replaceAll("\\s+", " ").trim` for any `s` whose
    * only chars at or below U+0020 are those six — the DuckDB oracle for the
    * SQL-checked extraction query relies on this equivalence.
    */
  def collapseWs(s: String): String = {
    val out = new java.lang.StringBuilder(s.length)
    new Collapser(out).append(new OddWsIndex(s), 0, s.length)
    out.toString
  }

  private def isWs(c: Char): Boolean = c == ' ' || (c >= '\u0009' && c <= '\u000d')

  /** The whitespace that is not a single space between two other chars:
    * a double space (pattern 0) or one of [\t\n\u000b\f\r] (patterns 1-5).
    */
  private final val OddWs = "\t\n\u000b\f\r"

  /** Where the irregular whitespace of `src` is: [[from]] answers with the
    * intrinsified `String.indexOf` and remembers each pattern's next index,
    * so over nondecreasing queries each pattern scans `src` once.
    */
  private final class OddWsIndex(val src: String) {
    // per pattern: -1 not searched yet, Int.MaxValue none left
    private val next = Array.fill(1 + OddWs.length)(-1)

    /** The first index >= `i` where irregular whitespace starts. */
    def from(i: Int): Int = {
      var min = Int.MaxValue
      var k = 0
      while (k < next.length) {
        var p = next(k)
        if (p < i) {
          p = if (k == 0) src.indexOf("  ", i) else src.indexOf(OddWs.charAt(k - 1), i)
          if (p < 0) p = Int.MaxValue
          next(k) = p
        }
        if (p < min) min = p
        k += 1
      }
      min
    }
  }

  /** Appends whitespace-collapsed text to `out`, one block at a time: a block
    * is every run [[append]]ed since the last [[start]], collapsed as if it
    * were one string. A stretch of text whose only whitespace is single
    * spaces is bulk-copied; only irregular whitespace ([[OddWs]]), or a space
    * at either edge of a stretch, is handled char by char.
    */
  private final class Collapser(out: java.lang.StringBuilder) {
    /** A non-whitespace char of the current block has been appended. */
    var started = false
    /** Char owed before the block's next non-whitespace char (0: none). */
    private var owed: Char = 0

    /** Begin a block; `lead` (0 for none) precedes its first char, if any. */
    def start(lead: Char): Unit = { started = false; owed = lead }

    /** Append `ix.src`'s chars [from, to). */
    def append(ix: OddWsIndex, from: Int, to: Int): Unit = {
      val s = ix.src
      var i = from
      while (i < to) {
        if (isWs(s.charAt(i))) {
          if (started) owed = ' '
          i += 1
        } else {
          // [i, e) holds only single spaces between non-whitespace chars,
          // and maybe one trailing space
          val e = math.min(ix.from(i), to)
          val end = if (s.charAt(e - 1) == ' ') e - 1 else e
          if (owed != 0) out.append(owed)
          out.append(s, i, end)
          started = true
          owed = if (end < e) ' ' else 0
          i = e
        }
      }
    }
  }

  /** Decode &amp; &lt; &gt; &quot; &apos; &nbsp; (to U+00A0) and numeric
    * &#NN; / &#xHH;. Unknown/unterminated entities pass through literally.
    * The text between entities is bulk-copied.
    */
  def decodeEntities(s: String): String = {
    var amp = s.indexOf('&')
    if (amp < 0) return s
    val n = s.length
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (amp >= 0) {
      sb.append(s, i, amp)
      val semi = s.indexOf(';', amp + 1)
      val decoded = if (semi > amp && semi - amp <= 12) entity(s.substring(amp + 1, semi)) else null
      if (decoded != null) { sb.append(decoded); i = semi + 1 }
      else { sb.append('&'); i = amp + 1 }
      amp = s.indexOf('&', i)
    }
    sb.append(s, i, n)
    sb.toString
  }

  /** The text of entity `name` (between '&' and ';'), or null if unknown. */
  private def entity(name: String): String = name match {
    case "amp"  => "&"
    case "lt"   => "<"
    case "gt"   => ">"
    case "quot" => "\""
    case "apos" => "'"
    case "nbsp" => "\u00a0"
    case _ if name.length > 1 && name.charAt(0) == '#' =>
      try {
        val cp =
          if (name.charAt(1) == 'x' || name.charAt(1) == 'X')
            Integer.parseInt(name.substring(2), 16)
          else Integer.parseInt(name.substring(1))
        if (Character.isValidCodePoint(cp) && cp > 0) new String(Character.toChars(cp))
        else null
      } catch { case _: NumberFormatException => null }
    case _ => null
  }
}
