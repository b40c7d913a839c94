package graft.kernel

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8

/** Deterministic pseudo-random byte/long streams for property-style tests
  * (scalacheck's scalatest bridge is not in the offline cache; seeded loops
  * give the same coverage reproducibly).
  */
object Gen2 {
  def bytes(seed: Long, maxLen: Int): Array[Byte] = {
    var h = Hash64.mix(seed)
    val n = ((h >>> 33) % (maxLen + 1)).toInt
    val out = new Array[Byte](n)
    for (i <- 0 until n) { h = Hash64.mix(h); out(i) = h.toByte }
    out
  }
  def longs(seed: Long, maxLen: Int): Array[Long] = {
    var h = Hash64.mix(seed + 77)
    val n = ((h >>> 33) % (maxLen + 1)).toInt
    val out = new Array[Long](n)
    for (i <- 0 until n) { h = Hash64.mix(h); out(i) = h % 16 } // collisions likely
    out
  }
}

class HtmlExtractSpec extends AnyFunSuite {
  import HtmlExtract._

  test("keeps main content, drops nav/header/footer/aside/script/style/comments") {
    val html =
      """<!DOCTYPE html><html><head><title>T</title><style>.x{}</style>
        |<script>var boilerplate = "this is long enough to be a block";</script></head>
        |<body><header>Site header banner content here</header>
        |<nav><a href="/a">Navigation link one here</a><a href="/b">Navigation link two here</a></nav>
        |<p>The actual main content paragraph, long enough to keep.</p>
        |<aside>Sidebar advertisement content, also long enough.</aside>
        |<footer>Footer copyright notice, long enough to be a block.</footer>
        |</body></html>""".stripMargin
    assert(mainText(html) == "The actual main content paragraph, long enough to keep.")
  }

  test("link-dense blocks are dropped (text-to-link-ratio scoring)") {
    val linkFarm =
      "<div><a href=\"/1\">related article teaser one</a> " +
        "<a href=\"/2\">related article teaser two</a></div>" +
        "<p>Real content sentence that is longer than the minimum.</p>"
    assert(mainText(linkFarm) == "Real content sentence that is longer than the minimum.")
    // a block mostly made of plain text with one small link survives
    val inlineLink = "<p>Mostly plain prose here with a tiny <a href=\"/x\">link</a> inside it.</p>"
    assert(mainText(inlineLink) == "Mostly plain prose here with a tiny link inside it.")
  }

  test("blocks shorter than MinBlockChars are dropped") {
    assert(mainText("<p>too short</p>") == "")
    assert(mainText("<p>" + "x" * MinBlockChars + "</p>") == "x" * MinBlockChars)
  }

  test("entities decode; whitespace collapses; multiple blocks join with newline") {
    val html = "<p>alpha &amp; beta &lt;tag&gt; &#65;&#x42; end of first block</p>" +
      "<p>second\t block   with \n messy    whitespace making it long</p>"
    assert(mainText(html) ==
      "alpha & beta <tag> AB end of first block\nsecond block with messy whitespace making it long")
  }

  test("malformed html: unclosed tags, stray <, attributes with > in quotes") {
    val html = "<div><p>first paragraph content long enough to keep " +
      "<img src=\"x>y.png\"> and 1 < 2 still text</div>"
    assert(mainText(html) ==
      "first paragraph content long enough to keep and 1 < 2 still text")
    // unterminated comment swallows the rest without crashing
    assert(mainText("<p>kept paragraph long enough to stay</p><!-- unterminated") ==
      "kept paragraph long enough to stay")
  }

  test("collapseWs agrees with the \\s+ regex form (oracle equivalence)") {
    val samples = Seq("a  b\tc\nd", "  x  ", "", "one two", "a\r\nb\fc")
    for (s <- samples)
      assert(collapseWs(s) == s.replaceAll("\\s+", " ").trim)
  }

  test("byte and string entry points agree (utf-8)") {
    val s = "<p>unicode content: café naïve 中文 long enough to keep</p>"
    assert(mainText(s.getBytes(UTF_8)) == mainText(s))
  }

  /** A string of `pieces` drawn from `alphabet`, up to `maxLen` of them. */
  private def soup(r: java.util.SplittableRandom, alphabet: IndexedSeq[String],
      maxLen: Int): String = {
    val sb = new StringBuilder
    for (_ <- 0 until r.nextInt(maxLen + 1)) sb.append(alphabet(r.nextInt(alphabet.length)))
    sb.toString
  }

  test("&nbsp; decodes to U+00A0, which no whitespace collapse touches") {
    assert(decodeEntities("a&nbsp;b") == "a\u00a0b")
    assert(decodeEntities("&nbsp;").charAt(0).toInt == 0xA0)
    assert(collapseWs(" \u00a0 x\u00a0\u00a0y ") == "\u00a0 x\u00a0\u00a0y")
    val body = "kept paragraph long enough to stay"
    assert(mainText(s"<p>$body&nbsp;&nbsp;end</p>") == s"$body\u00a0\u00a0end")
  }

  test("differential: collapseWs equals the \\s+ regex form on random whitespace mixes") {
    // all six chars of \s, plus non-Latin-1 chars and U+00A0 (not in \s)
    val alphabet = Vector(" ", " ", "  ", "\t", "\n", "\u000b", "\f", "\r", "a", "bc",
      "é", "中文", "\u00a0", "\ud83d\ude00", "word ", " word")
    val ws = java.util.regex.Pattern.compile("\\s+")
    val r = new java.util.SplittableRandom(1807L)
    for (k <- 0 until 30000) {
      val s = soup(r, alphabet, if (k % 10 == 0) 400 else 40)
      val expected = ws.matcher(s).replaceAll(" ").trim
      assert(collapseWs(s) == expected, s"input ${s.map(_.toInt)}")
      assert(collapseWs(s) == KernelReference.collapseWs(s))
    }
  }

  test("differential: decodeEntities equals the char-loop reference") {
    val alphabet = Vector("&", "&", ";", "amp", "lt", "gt", "quot", "apos", "nbsp",
      "#", "x", "X", "6", "5", "4", "1", "0", "f", "D8", "-", "+", "a", " ", "中",
      "&amp;", "&#x1F600;", "&#0;", "&#55296;", "&#x110000;", "99999999999", "&&",
      "&nbsp;", "&#32;", "&#x9;")
    val r = new java.util.SplittableRandom(1808L)
    for (_ <- 0 until 30000) {
      val s = soup(r, alphabet, 30)
      assert(decodeEntities(s) == KernelReference.decodeEntities(s), s"input '$s'")
    }
  }

  test("differential: mainText equals the block-buffer reference on tag and entity soups") {
    val alphabet = Vector("<p>", "</p>", "<div class=\"a>b\">", "</div>", "<a href=\"x\">",
      "</a>", "<A>", "<nav>", "</nav>", "<script>var s = '</p>';", "</script>",
      "<Style>", "</STYLE>", "<title>", "</title>", "<br/>", "<br>", "<hr >", "<img/>",
      "<!-- c -->", "<!--", "<!x>", "<?pi?>", "<", ">", "</", "'", "\"", "<span>",
      "</span>", "<h1>", "<li>", "&amp;", "&nbsp;", "&#32;", "&#9;", "&#x3c;p&#x3e;",
      "&lt;", "&bogus;", "&", " ", "  ", "\n", "\t", "\r\n", "\u000b", "\f",
      "word", "é", "中文", "a considerably longer run of plain prose text ",
      "another sentence that is long enough to keep a block alive. ")
    val r = new java.util.SplittableRandom(1809L)
    var nonEmpty = 0
    for (_ <- 0 until 20000) {
      val s = soup(r, alphabet, 60)
      val got = mainText(s)
      assert(got == KernelReference.mainText(s), s"input '$s'")
      if (got.nonEmpty) nonEmpty += 1
    }
    // the soups keep blocks often enough for the comparison to mean something
    assert(nonEmpty > 4000, s"$nonEmpty soups kept a block")
  }
}

class PdfLiteSpec extends AnyFunSuite {
  import PdfLite._

  private def doc(pages: Vector[Page]) = Doc(pages)

  test("write/parse roundtrip with rasters") {
    val raster = Raster.writeGray(4, 4, new Array[Byte](16))
    val d = doc(Vector(
      Page(Vector(Run(0, 0, "hello"), Run(10, 0, "world")), None),
      Page(Vector(Run(0, 5, "page two")), Some(raster))))
    val parsed = parse(write(d))
    assert(parsed.pages.map(_.runs) == d.pages.map(_.runs))
    assert(parsed.pages(1).raster.get.sameElements(raster))
  }

  test("layout: runs sorted by (y, x), same-y joined by space, lines by newline") {
    val p = Page(Vector(Run(10, 0, "world"), Run(0, 12, "second"), Run(0, 0, "hello"),
      Run(8, 12, "line")), None)
    assert(pageText(p) == "hello world\nsecond line\n")
    assert(pageText(Page(Vector.empty, None)) == "")
  }

  test("embedded text probe counts exactly n_chars + 1 for Synth pdf layouts") {
    // the x03/x05 oracle depends on: digital <=> n_chars + 1 > 50 <=> n_chars >= 50
    for (n <- Seq(3, 7, 8, 9, 20, 48, 49, 50, 51, 100)) {
      val words = (0 until n).map(i => s"w$i")
      val text = words.mkString(" ")
      val bytes = graft.spark.Synth.buildPdfDigital(42L, text)
      val d = parse(bytes)
      val total = d.pages.map(pageText(_).length).sum
      assert(total == text.length + 1, s"n=$n")
      assert(Extract.sniff(bytes) ==
        (if (text.length >= 50) Extract.KindPdfDigital else Extract.KindPdfScanned), s"n=$n")
    }
  }

  test("differential: pageText equals the comparator sort, in and out of 21-bit keys") {
    // small coordinates collide on (y, x) often: order among equal keys is
    // the runs' order (a stable sort)
    val small = (r: java.util.SplittableRandom) => r.nextInt(6) * 12
    val edge = Vector(-1, -12, Int.MinValue, Int.MaxValue, (1 << 21) - 1, 1 << 21,
      (1 << 21) + 1, 1 << 30)
    val r = new java.util.SplittableRandom(1810L)
    var packed = 0
    for (k <- 0 until 20000) {
      val outside = k % 3 == 0 // some coordinate outside [0, 2^21) on this page
      val n = r.nextInt(60)
      val runs = Vector.tabulate(n) { i =>
        def coord() =
          if (outside && r.nextInt(8) == 0) edge(r.nextInt(edge.length))
          else if (r.nextBoolean()) small(r) else r.nextInt(1 << 21)
        Run(coord(), coord(), s"r$i")
      }
      val page = Page(runs, None)
      if (runs.forall(run => run.x >= 0 && run.y >= 0 && run.x < (1 << 21) && run.y < (1 << 21)))
        packed += 1
      assert(pageText(page) == KernelReference.pageText(page), s"runs $runs")
    }
    assert(packed > 10000 && packed < 20000, s"$packed packed-key pages")
  }

  test("truncated payloads throw (and are treated as corrupt upstream)") {
    val good = write(doc(Vector(Page(Vector(Run(0, 0, "x")), None))))
    intercept[Exception](parse(good.take(good.length - 2)))
    intercept[Exception](parse("%GPDF1garbage".getBytes(UTF_8)))
  }
}

class OcrSpec extends AnyFunSuite {

  test("font glyphs are pairwise distinct enough for 1-flip noise (Hamming >= 3)") {
    val ms = GlyphFont.masks
    for (i <- ms.indices; j <- (i + 1) until ms.length) {
      val d = java.lang.Long.bitCount(ms(i)._2 ^ ms(j)._2)
      assert(d >= 3, s"${ms(i)._1} vs ${ms(j)._1}: $d")
    }
  }

  test("otsu separates bimodal histograms") {
    val px = new Array[Byte](100)
    for (i <- 0 until 50) px(i) = 30.toByte
    for (i <- 50 until 100) px(i) = 240.toByte
    val t = Raster.otsuThreshold(Raster.Gray(10, 10, px))
    assert(t >= 30 && t < 240)
  }

  test("render -> decode roundtrip, clean and noisy, incl. multi-space and punct") {
    val lines = Seq(
      "HELLO WORLD",
      "VIN: 1HGCM82633A004352",
      "CONTRACT # 700123",
      "DEALER: QUALITY MOTORS 42",
      "A  DOUBLE  SPACED  LINE",
      "MIX 0O1I 5S 8B Z2 .,;:-/")
    for (noise <- Seq(false, true)) {
      val img = GlyphFont.render(lines, seed = 7L, noise = noise)
      val decoded = Ocr.decode(img)
      assert(decoded == lines.mkString("", "\n", "\n"), s"noise=$noise")
    }
  }

  test("decode is exact when the leading glyph lacks column-0/row-0 ink (grid snap)") {
    // '.' inks only col >= 1 and row >= 5: anchoring at first-ink instead of
    // the fixed grid shifted every later cell and decoded the line to garbage
    val lines = Seq(
      ". THE QUICK BROWN FOX",  // leading '.' -> column shift without snap
      "...",                    // whole line low -> row shift without snap
      ", : ; NORMAL TAIL 123",
      "-- DASHES ONLY --")
    for (noise <- Seq(false, true); seed <- Seq(1L, 11L)) {
      val img = GlyphFont.render(lines, seed = seed, noise = noise)
      assert(Ocr.decode(img) == lines.mkString("", "\n", "\n"),
        s"noise=$noise seed=$seed")
    }
  }

  test("decode is exact over many seeds (noise robustness)") {
    for (seed <- 0L until 50L) {
      val line = s"SEED $seed CHECK 0123456789 ABCXYZ"
      val img = GlyphFont.render(Seq(line), seed = seed, noise = true)
      assert(Ocr.decode(img) == line + "\n", s"seed=$seed")
    }
  }

  test("rgb rasters decode via luma like gray ones") {
    val line = "RGB TEST 123"
    val grayImg = GlyphFont.render(Seq(line), seed = 3L, noise = false)
    val g = Raster.decodeGray(grayImg)
    val rgb = new Array[Byte](g.w * g.h * 3)
    for (i <- 0 until g.w * g.h; c <- 0 until 3) rgb(i * 3 + c) = g.px(i)
    assert(Ocr.decode(Raster.writeRgb(g.w, g.h, rgb)) == line + "\n")
  }

  test("multimodal ops: downsample/crop/meanPixel are deterministic and sane") {
    val img = GlyphFont.render(Seq("THUMB TEST 42"), seed = 9L, noise = false)
    val g = Raster.decodeGray(img)
    val d2 = Raster.downsample(g, 2)
    assert(d2.w == g.w / 2 && d2.h == g.h / 2)
    // downsampling a textured-bg glyph image darkens where ink is
    assert(Raster.meanPixel(d2) < 255.0 && Raster.meanPixel(d2) > 0.0)
    assert(math.abs(Raster.meanPixel(Raster.downsample(g, 1)) - Raster.meanPixel(g)) == 0.0)
    val c = Raster.crop(g, 2, 2, 10, 5)
    assert(c.w == 10 && c.h == 5)
    assert((0 until 5).forall(y => (0 until 10).forall(x => c(x, y) == g(x + 2, y + 2))))
    // out-of-range crop clamps, never throws
    assert(Raster.crop(g, g.w - 3, g.h - 3, 100, 100).w == 3)
    assert(Raster.crop(g, -5, -5, 4, 4).w == 4)
  }

  test("blank or corrupt rasters decode to empty, never throw") {
    assert(Ocr.decode(Raster.writeGray(5, 5, Array.fill(25)(255.toByte))) == "")
    assert(Ocr.decode(Array[Byte](1, 2, 3)) == "")
    assert(Ocr.decode(Array.emptyByteArray) == "")
  }
}

class ExtractSpec extends AnyFunSuite {
  import Extract._

  test("extract totality fuzz: arbitrary and corrupted payloads never throw, always deterministic") {
    // C4's claim is TOTALITY — any payload yields a row, never an executor-
    // killing throw. Seeded fuzz over (a) random bytes, (b) valid payloads
    // of every kind with truncation, (c) valid payloads with bit flips —
    // the corruption shapes object-store reads actually produce. Each input
    // runs twice: same Result both times (determinism is what makes retry /
    // resume / force-re-extract byte-stable).
    val rnd = new scala.util.Random(1234)
    val valid: Seq[Array[Byte]] = Seq(
      graft.spark.Synth.buildHtml(7L, "alpha beta gamma delta epsilon pages"),
      graft.spark.Synth.buildPdfDigital(7L, "alpha beta gamma delta epsilon pages"),
      graft.spark.Synth.buildPdfScanned(7L, "alpha beta gamma", noise = true),
      graft.spark.Synth.buildRaster(7L, "alpha beta", noise = false))
    var checked = 0
    def probe(payload: Array[Byte]): Unit = {
      val a = Extract.extract(payload, null)
      val b = Extract.extract(payload, null)
      assert(a == b, s"non-deterministic result on ${payload.take(16).toSeq}")
      assert(a.pages != null && a.kind.nonEmpty)
      checked += 1
    }
    for (_ <- 1 to 120) { // random garbage, 0..4KB
      val len = rnd.nextInt(4096)
      val garbage = new Array[Byte](len)
      rnd.nextBytes(garbage)
      probe(garbage)
    }
    for (v <- valid; _ <- 1 to 30) { // truncations of real payloads
      probe(v.take(rnd.nextInt(v.length + 1)))
    }
    for (v <- valid; _ <- 1 to 30) { // bit flips in real payloads
      val mutated = v.clone()
      for (_ <- 0 to rnd.nextInt(8)) {
        val i = rnd.nextInt(mutated.length)
        mutated(i) = (mutated(i) ^ (1 << rnd.nextInt(8))).toByte
      }
      probe(mutated)
    }
    assert(checked == 120 + 2 * 4 * 30)
  }

  test("sniffer dispatch: html / pdf digital / pdf scanned / raster / empty") {
    assert(sniff("<html><body>x</body></html>".getBytes(UTF_8)) == KindHtml)
    assert(sniff("  \n <!DOCTYPE html><p>y</p>".getBytes(UTF_8)) == KindHtml)
    assert(sniff(graft.spark.Synth.buildPdfDigital(1L, ("word " * 20).trim)) == KindPdfDigital)
    assert(sniff(graft.spark.Synth.buildPdfScanned(1L, "short text here", noise = false)) == KindPdfScanned)
    assert(sniff(GlyphFont.render(Seq("ABC"), 1L, noise = false)) == KindPdfScanned)
    assert(sniff(Array.emptyByteArray) == KindEmpty)
    assert(sniff(null) == KindEmpty)
    assert(sniff(Array[Byte](0x7f, 0x7f, 0x7f)) == KindEmpty)
  }

  test("extract is total on arbitrary bytes (never throws, always ok or empty)") {
    for (seed <- 0L until 500L) {
      val bytes = Gen2.bytes(seed, 200)
      val r = extract(bytes, null)
      assert(r.kind.nonEmpty)
      assert(r.text == r.pages.mkString("\n"))
    }
    // adversarial prefixes: valid magics with garbage bodies
    for (magic <- Seq("%GPDF1", "GRAS", "<html", "<")) {
      for (seed <- 0L until 50L) {
        val bytes = magic.getBytes(UTF_8) ++ Gen2.bytes(seed, 100)
        val r = extract(bytes, null)
        assert(r.text == r.pages.mkString("\n"))
      }
    }
  }

  test("corrupt payloads yield empty pages with ok=true (error isolation C4)") {
    for (id <- 0L until 9L) {
      val r = extract(graft.spark.Synth.buildCorrupt(id), null)
      assert(r.kind == KindEmpty && r.pages.isEmpty && r.ok)
    }
    // truncated pdf: magic ok, body bad -> scanned branch, no pages
    val r2 = extract("%GPDF1bad".getBytes(UTF_8), null)
    assert(r2.kind == KindPdfScanned && r2.text == "" && r2.ok)
  }

  test("pre-extracted passthrough when payload is absent") {
    val r = extract(null, "already extracted text")
    assert(r.kind == KindText && r.text == "already extracted text")
    assert(extract(Array.emptyByteArray, "t").kind == KindText)
    assert(extract("<p>payload wins over text col, long enough</p>".getBytes(UTF_8), "t").kind == KindHtml)
  }

  test("scanned pdf extraction OCRs raster pages in order") {
    val text = "alpha beta gamma delta epsilon zeta eta theta"
    val bytes = graft.spark.Synth.buildPdfScanned(5L, text, noise = true)
    val r = extract(bytes, null)
    assert(r.kind == KindPdfScanned)
    assert(r.text == graft.spark.Synth.scanLine(text) + "\n")
  }
}

class TextStatsSpec extends AnyFunSuite {
  import TextStats._

  test("token counts") {
    assert(tokenCountWs("") == 0)
    assert(tokenCountWs("  a  b\tc ") == 3)
    assert(tokenCountBpeIsh("hello world42!") == 4) // hello, world, 42, !
  }

  test("quality counts are deterministic and sane") {
    val q = quality("The quick fox. It runs, fast!")
    assert(q.nTokens == 6 && q.nPunct == 3 && q.nStopwords == 2)
    assert(q.score >= 0.0 && q.score <= 1.0)
  }

  test("langId picks profile languages and cjk") {
    assert(langId("the cat and the dog is in that house with it") == "en")
    assert(langId("der hund und die katze ist nicht mit ein zu den") == "de")
    assert(langId("中文文本处理") == "zh")
    assert(langId("") == "und")
  }

  test("fingerprint/simhash/minhash are deterministic and dedup-friendly") {
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val b = "the quick brown fox jumps over the lazy dog again and once"
    assert(fingerprint(a) == fingerprint(a))
    assert(fingerprint(a) != fingerprint(b))
    assert(hammingDist(simHash(a), simHash(b)) <= 16) // near texts, near hashes
    val ja = minHashJaccard(minHash(shingles(a)), minHash(shingles(b)))
    assert(ja > 0.3 && ja < 1.0)
    assert(minHashJaccard(minHash(shingles(a)), minHash(shingles(a))) == 1.0)
    // lsh: identical docs share every band; near docs share at least one
    val ba = lshBands(minHash(shingles(a)))
    assert(ba.sameElements(lshBands(minHash(shingles(a)))))
  }

  test("exact jaccard properties over seeded inputs") {
    for (seed <- 0L until 200L) {
      val xs = Gen2.longs(seed, 30)
      val ys = Gen2.longs(seed + 1000, 30)
      val j = jaccard(xs, ys)
      assert(j >= 0.0 && j <= 1.0)
      assert(jaccard(xs, xs) == 1.0)
      assert(math.abs(jaccard(xs, ys) - jaccard(ys, xs)) == 0.0)
    }
  }

  test("cosine: unit self-similarity, zero on zero vector") {
    val v = Array(1.0f, 2.0f, 3.0f)
    assert(math.abs(cosine(v, v) - 1.0) < 1e-9)
    assert(cosine(v, Array(0.0f, 0.0f, 0.0f)) == 0.0)
  }
}
