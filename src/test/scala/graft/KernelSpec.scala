package graft

import graft.kernel._
import graft.model.DomNode
import org.scalatest.funsuite.AnyFunSuite

/** Per-operator unit tests mirroring SURVEY.md §2.5 semantics (the
  * reference's postprocess behaviors recast as extraction assertions).
  */
class KernelSpec extends AnyFunSuite {

  // --- tokenizer (DecodeImage analogue) ---------------------------------

  test("tokenizer: simple nested html with spans back into source") {
    val html = "<div><p>Hello world</p><p>Bye</p></div>"
    val nodes = HtmlTokenizer.tokenize(html)
    assert(nodes != null)
    assert(nodes.map(_.text).toSeq == Seq("Hello world", "Bye"))
    // spans map to the RAW source
    assert(html.substring(nodes(0).srcStart, nodes(0).srcEnd) == "Hello world")
    assert(html.substring(nodes(1).srcStart, nodes(1).srcEnd) == "Bye")
    assert(nodes(0).tag == "p" && nodes(0).depth == 2)
  }

  test("tokenizer: entity decode in node text, raw span untouched") {
    val html = "<p>Fish &amp; Chips &#64; caf&#xe9;</p>"
    val nodes = HtmlTokenizer.tokenize(html)
    assert(nodes.length == 1)
    assert(nodes(0).text == "Fish & Chips @ café")
    assert(html.substring(nodes(0).srcStart, nodes(0).srcEnd)
      == "Fish &amp; Chips &#64; caf&#xe9;")
  }

  test("tokenizer: link chars and boilerplate flags") {
    val html = "<nav><a href=\"/x\">home link</a></nav><p>real <a href=\"/y\">anchor</a></p>"
    val nodes = HtmlTokenizer.tokenize(html)
    val nav = nodes(0)
    assert(nav.boiler && nav.linkChars == "home link".length)
    val real = nodes.find(_.text == "real ").get
    assert(!real.boiler && real.linkChars == 0)
    val anchor = nodes.find(_.text == "anchor").get
    assert(anchor.linkChars == "anchor".length)
  }

  test("tokenizer: lenient on malformed html (unclosed + stray close)") {
    val nodes = HtmlTokenizer.tokenize(
      "<div><p>one<p>two</i></div><span>tail")
    assert(nodes != null)
    assert(nodes.map(_.text).toSeq == Seq("one", "two", "tail"))
  }

  test("tokenizer: undecodable (no tags) -> null, the None row-drop path") {
    assert(HtmlTokenizer.tokenize("just plain text, no tags") == null)
    assert(HtmlTokenizer.tokenize("a < b and c > d") == null)
  }

  test("tokenizer: script/style content flagged boiler; comments skipped") {
    val nodes = HtmlTokenizer.tokenize(
      "<head><script>var x=1;</script><!-- note --><style>p{}</style></head><p>body</p>")
    assert(nodes.filter(_.boiler).map(_.tag).toSeq == Seq("script", "style"))
    assert(nodes.exists(n => n.text == "body" && !n.boiler))
  }

  test("tokenizer: void elements do not push depth") {
    val nodes = HtmlTokenizer.tokenize("<p>a<br>b</p>")
    assert(nodes.forall(_.depth == 1))
  }

  // --- decoder (CTCLabelDecode analogue) --------------------------------

  test("decoder: control-drop before whitespace-collapse (pinned order)") {
    assert(TextDecoder.normalize("a   b") == "a b")
    assert(TextDecoder.normalize("  x\t\ty  ") == "x y")
    assert(TextDecoder.normalize("l1 \n l2\n\n\nl3") == "l1\nl2\nl3")
  }

  test("decoder: idempotent") {
    val s = TextDecoder.normalize("  a  b\nc  ")
    assert(TextDecoder.normalize(s) == s)
  }

  // --- segmenter (DBPostProcess analogue) -------------------------------

  private def textNode(t: String, link: Int = 0, boiler: Boolean = false,
      heading: Boolean = false, code: Boolean = false, at: Int = 0) =
    DomNode("p", 1, link, boiler, heading, code, t, at, at + t.length)

  test("segmenter: boilerplate scores zero, long text scores high") {
    assert(BlockSegmenter.score(textNode("x" * 100, boiler = true)) == 0.0)
    assert(BlockSegmenter.score(textNode("x" * 100)) == 1.0)
    val allLink = textNode("y" * 50, link = 50)
    assert(BlockSegmenter.score(allLink) == 0.0)
  }

  test("segmenter: threshold -> runs -> filters -> unclip growth") {
    val longA = textNode("a" * 80, at = 0)           // score 1.0
    val weak = textNode("tiny", at = 100)            // score ~0.066 (> grow, < node)
    val longB = textNode("b" * 80, at = 200)         // score 1.0
    val nav = textNode("nav " * 10, boiler = true, at = 300) // 0.0
    val longC = textNode("c" * 80, at = 400)         // 1.0
    val blocks = BlockSegmenter.segment(Array(longA, weak, longB, nav, longC))
    // weak node is unclipped INTO the first run; nav (score 0) splits blocks
    assert(blocks.length == 2)
    assert(blocks(0).text.contains("tiny"))
    assert(blocks(0).span.start == 0 && blocks(0).span.end == 280)
    assert(blocks(1).span.start == 400)
  }

  test("segmenter: mean-score gate drops weak-only runs") {
    // single borderline node: above NodeThresh but below BlockThresh
    val mid = textNode("q" * 20) // score 0.333
    assert(BlockSegmenter.segment(Array(mid)).isEmpty)
  }

  test("segmenter: max_candidates cap (db_postprocess.py:92)") {
    val nodes = (0 until 3000).flatMap { i =>
      Seq(textNode("z" * 80, at = i * 200),
        textNode("w" * 100, boiler = true, at = i * 200 + 100))
    }.toArray
    assert(BlockSegmenter.segment(nodes).length == BlockSegmenter.MaxCandidates)
  }

  test("segmenter: PAN link-density gate blocks growth into link-dense nodes") {
    // strong run with zero link density; two adjacent weak nodes with the
    // SAME score profile but different link ratios: the low-link one is
    // absorbed (unclip), the link-dense one is rejected (pa.pyx:86-87
    // similarity gate analogue)
    val strong = textNode("a" * 80, at = 0)                   // score 1.0
    val weakPlain = textNode("tiny", at = 100)                // link 0
    // 10 of 12 chars inside <a>: score = (12/60)*(1-10/12) = 0.033.. hmm
    // keep score above GrowThresh: 24 chars, 16 link -> (24/60)*(1/3)=0.133
    val weakLinky = textNode("x" * 24, link = 16, at = 100)
    val grown = BlockSegmenter.segment(Array(strong, weakPlain))
    assert(grown.length == 1 && grown(0).text.contains("tiny"))
    val gated = BlockSegmenter.segment(Array(strong, weakLinky))
    assert(gated.length == 1 && !gated(0).text.contains("x" * 24),
      "link-dense weak node must not be absorbed")
  }

  test("selectMain fallback: all-subthreshold page yields longest block, not empty") {
    // every run fails BlockThresh -> segment() returns nothing, but the
    // extractor falls back to the longest rejected candidate (the doc'd
    // never-emit-an-empty-page rule; round-1 selectMain was an identity)
    val shortA = textNode("q" * 20, at = 0)    // score 0.333 < BlockThresh
    val shortB = textNode("r" * 25, at = 100)  // score 0.417 < BlockThresh
    assert(BlockSegmenter.segment(Array(shortA, shortB)).isEmpty)
    // nav between the two paragraphs splits them into two candidate runs
    val html = s"<div><p>${"q" * 20}</p><nav><a href='/'>menu</a></nav>" +
      s"<p>${"r" * 25}</p></div>"
    val r = Extractor.extract(html)
    assert(r.kind == "html")
    assert(r.text == "r" * 25, s"expected longest-candidate fallback, got '${r.text}'")
    // a page with NO candidates at all (all boiler) stays empty
    val navOnly = "<nav><a href='/'>home</a> | <a href='/x'>about page</a></nav>"
    assert(Extractor.extract(navOnly).text == "")
  }

  test("segmenter: A/B variants diverge where intended (growth + gate)") {
    val strong = textNode("a" * 80, at = 0)
    val weak = textNode("tiny", at = 100) // score ~0.066: grows in A, not in B
    val a = BlockSegmenter.segmentCore(Array(strong, weak), ExtractParams.Default)
    val b = BlockSegmenter.segmentCore(Array(strong, weak), ExtractParams.VariantB)
    assert(a.blocks.head.text.contains("tiny"))
    assert(!b.blocks.head.text.contains("tiny"))
  }

  test("segmenter: title/code classification (ClsPostProcess analogue)") {
    val h = textNode("Heading Text Here", heading = true)
    val c = textNode("val x = 1 // some code listing", code = true)
    val blocks = BlockSegmenter.segment(Array(h))
    assert(blocks.length == 1 && blocks(0).btype == "title")
    val cb = BlockSegmenter.segment(Array(c))
    assert(cb.length == 1 && cb(0).btype == "code")
  }

  // --- pdf layout (sort_boxes analogue) ---------------------------------

  test("pdf layout: scrambled runs -> reading order, same-line |dy|<10 rule") {
    val payload = Seq(
      "72.0,86.0,50,12,second line",       // dy=14: new line, same block
      "180.0,74.0,50,12,right of first",   // same line as y=72 (dy=2 < 10)
      "72.0,72.0,50,12,first",
      "72.0,130.0,50,12,third after gap"   // dy=44 > BlockGap -> new block
    ).mkString("\n")
    val blocks = PdfLayout.extract(payload)
    assert(blocks.length == 2)
    assert(blocks(0).text == "first right of first\nsecond line")
    assert(blocks(1).text == "third after gap")
  }

  test("pdf layout: two columns read column-major") {
    val payload = Seq(
      "330.0,72.0,50,12,RIGHT top",
      "72.0,86.0,50,12,left two",
      "72.0,72.0,50,12,left one",
      "330.0,86.0,50,12,RIGHT bottom"
    ).mkString("\n")
    val blocks = PdfLayout.extract(payload)
    assert(blocks.map(_.text).toSeq ==
      Seq("left one\nleft two", "RIGHT top\nRIGHT bottom"))
  }

  test("pdf layout: malformed lines skipped; all-bad -> null") {
    assert(PdfLayout.extract("%PDF-like\n72,72,10,12,ok").head.text == "ok")
    assert(PdfLayout.extract("no runs here at all") == null)
  }

  // --- json (DetLabelEncode json.loads analogue) ------------------------

  test("json: collects text-keyed strings in document order") {
    val p = """{"tool":"t","result":{"text":"hello","items":[{"content":"inner"}]},"message":"done"}"""
    val blocks = JsonText.extract(p)
    assert(blocks.map(_.text).toSeq == Seq("hello", "inner", "done"))
    // span maps to the raw escaped literal
    val b0 = blocks(0)
    assert(p.substring(b0.span.start, b0.span.end) == "hello")
  }

  test("json: escapes decoded; invalid json -> null") {
    val p = """{"text":"a\nbA"}"""
    assert(JsonText.extract(p).head.text == "a\nbA")
    assert(JsonText.extract("{not json") == null)
    assert(JsonText.extract("""{"a":1} trailing""") == null)
  }

  // --- sniff + end-to-end extractor -------------------------------------

  test("sniff: pinned dispatch rules") {
    assert(Extractor.sniff("""{"a":1}""") == "json")
    assert(Extractor.sniff("%PDF-1.4\n72,72,1,1,x") == "pdf")
    assert(Extractor.sniff("72.0,80.5,50,12,run text") == "pdf")
    assert(Extractor.sniff("<html><p>x</p></html>") == "html")
    assert(Extractor.sniff("hello world") == "plain")
    assert(Extractor.sniff("   ") == "empty")
    assert(Extractor.sniff(null) == "empty")
  }

  test("extract: never null; undecodable html -> empty extraction") {
    val r = Extractor.extract("< not a tag, but sniffs html? no")
    assert(r != null)
    val r2 = Extractor.extract("")
    assert(r2.kind == "empty" && r2.text == "" && r2.blocks.isEmpty)
  }

  test("extract: html boilerplate stripped, main kept, spans valid") {
    val html = graft.data.TranscriptGen.htmlPayload(123L)
    val r = Extractor.extract(html)
    assert(r.kind == "html")
    assert(r.text.nonEmpty)
    assert(!r.text.contains("tracking"))      // script stripped
    assert(!r.text.contains("terms"))         // footer stripped
    r.spans.foreach { s =>
      assert(s.start >= 0 && s.start <= s.end && s.end <= html.length)
    }
  }

  // --- output pin: one digest over every field of every extraction ------

  /** Seeded fuzz corpus for the output pin: fragments chosen to hit every
    * edge the kernels special-case (tag case, raw-text elements,
    * comments, entity forms, unicode whitespace, control chars, lone
    * surrogates, json escapes, pdf number spellings).
    */
  private object PinCorpus {
    import graft.data.TranscriptGen.{mix, u01}

    private val HtmlFrags: Array[String] = Array(
      "<p>", "</p>", "<P>", "</P>", "<DIV class='x'>", "</div>", "<Div>",
      "<a href='/u'>", "</A>", "</a>", "<br>", "<BR/>", "<img src=x/>",
      "<script>", "</script>", "<SCRIPT type=t>", "</Script >", "<style>",
      "</STYLE>", "</style", "<noscript>", "</noscript>", "<nav>", "</NAV>",
      "<h1>", "</H1>", "<h3 id=q>", "</h3>", "<h7>", "<pre>", "</pre>",
      "<code>", "</CODE>", "<footer>", "</footer>", "<aside>", "</aside>",
      "<table><tr><td>", "</td></tr></table>", "<li>", "<span>", "</span>",
      "<section>", "<article>", "</article>", "<x-tag>", "</x-tag>",
      "<\u0130nput>", "<l\u0130>", "<\u212Aey>", "<o2>", "<!-- c -->",
      "<!DOCTYPE html>", "<?xml v?>", "<!--", "<", ">", "< p>", "</>",
      "<1>", "a < b", "&amp;", "&lt;", "&gt;", "&quot;", "&apos;",
      "&nbsp;", "&#64;", "&#x41;", "&#X1F600;", "&#128512;", "&#0;",
      "&#31;", "&#32;", "&#xD800;", "&#1114112;", "&#x110000;", "&#;",
      "&#x;", "&#-65;", "&#+66;", "&#x+43;", "&#\u0666\u0665;", "&bogus;",
      "&amp", "&", "&&;", "&#12345678;", "&#x1234567;", "&copy;",
      "&AMP;", "&#X;", "&#xg;", " ", "  ", "\t", "\n", "\r\n", "\u000B",
      "\u000C", "\u001C", "\u0001", "\u0000", "\u007F", "\u00A0",
      "\u2028", "\u3000", "\u2003", "\u0085", "word", "Fish and chips",
      "caf\u00E9", "na\u00EFve", "\u65E5\u672C\u8A9E", "\uD83D\uDE00",
      "\uD800", "\uDC00x", "x" * 70, "the quick brown fox jumps " * 3,
      "var x = 1;", "p{color:red}")

    private val JsonStrFrags: Array[String] = Array(
      "hello", " world ", "\\n", "\\t", "\\\\", "\\\"", "\\/", "\\b",
      "\\f", "\\r", "\\u0041", "\\u00e9", "\\uD83D\\uDE00", "\\u3000",
      "\\u0000", "\\uZZZZ", "\\u12", "\\q", "\t", "\u0001", "\u00A0",
      "\u3000", "caf\u00E9", "  ", "a  b", "<p>x</p>", "&amp;", "x" * 40)
    private val JsonKeys: Array[String] = Array(
      "text", "content", "stdout", "message", "tool", "te\\u0078t",
      "TEXT", "", "text ", "items")
    private val PdfNums: Array[String] = Array(
      "72.0", "72", "-0.0", "-0", "0", "0.0", "1e2", "0x1p3", "+5", ".5",
      "1.", "NaN", "-NaN", "Infinity", "-Infinity", " 72 ", "\t3.5",
      "5d", "5f", "1_0", "", " ", "abc", "3.14159265358979323846",
      "12345678901234567890", "0.000000000000000000000001", "330.0",
      "306", "305.99999999999999999", "306.0000000000000001", "1e400",
      "-1.25", "00072.500", "\u0663", "7.", "-.5", "--1", "1.2.3",
      "9007199254740993", "0.1", "123456.789012345")

    private def pick(a: Array[String], x: Long): String =
      a((u01(x) * a.length).toInt)

    private def fragments(seed: Long, a: Array[String], n: Int): String = {
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i < n) { sb.append(pick(a, mix(seed + i))); i += 1 }
      sb.toString
    }

    def html(c: Long): String = {
      val body = fragments(mix(c ^ 11L), HtmlFrags, 4 + (u01(mix(c)) * 40).toInt)
      if (u01(mix(c ^ 12L)) < 0.5) body else "<html>" + body
    }

    private def jsonStr(c: Long): String =
      "\"" + fragments(mix(c ^ 21L), JsonStrFrags, (u01(mix(c ^ 22L)) * 6).toInt) + "\""

    def json(c: Long): String = {
      val n = 1 + (u01(mix(c ^ 23L)) * 5).toInt
      val fields = (0 until n).map { i =>
        val k = pick(JsonKeys, mix(c ^ (30L + i)))
        val v = (u01(mix(c ^ (40L + i))) * 6).toInt match {
          case 0 => jsonStr(mix(c ^ (50L + i)))
          case 1 => s"[${jsonStr(mix(c ^ (60L + i)))}, 1, true, null]"
          case 2 => s"""{"text": ${jsonStr(mix(c ^ (70L + i)))}}"""
          case 3 => "-1.5e3"
          case 4 => "false"
          case _ => jsonStr(mix(c ^ (80L + i)))
        }
        s""""$k"${if (i % 2 == 0) ": " else ":"}$v"""
      }
      val doc = fields.mkString("{", ", ", "}")
      (u01(mix(c ^ 24L)) * 8).toInt match {
        case 0 => doc.dropRight(1 + (u01(mix(c ^ 25L)) * 6).toInt)
        case 1 => " \n" + doc + " \t"
        case 2 => doc + " x"
        case _ => doc
      }
    }

    def pdf(c: Long): String = {
      val n = 1 + (u01(mix(c ^ 31L)) * 8).toInt
      val lines = (0 until n).map { i =>
        val f = (0 until 4).map(k => pick(PdfNums, mix(c ^ (100L + 4 * i + k))))
        val t = fragments(mix(c ^ (200L + i)), HtmlFrags, (u01(mix(c ^ (300L + i))) * 4).toInt)
        f.mkString(",") + "," + t + (if (i % 3 == 0) ",x,y" else "")
      }
      val head = if (u01(mix(c ^ 32L)) < 0.7) "%PDF-1.4\n" else ""
      head + lines.mkString(if (u01(mix(c ^ 33L)) < 0.2) "\r\n" else "\n")
    }

    def plain(c: Long): String =
      fragments(mix(c ^ 41L), HtmlFrags.filterNot(_.contains('<')), 1 + (u01(mix(c)) * 20).toInt)

    lazy val payloads: IndexedSeq[String] = {
      import graft.data.TranscriptGen
      val fixed = IndexedSeq(null, "", " ", "  \n\t ", "\u3000\u00A0",
        "\u3000", "\t\t", "&#0;", "&#x1F600;", "&bogus;", "<P>UPPER</P>",
        "<p>\ttab\u3000ideo\u3000</p>",
        "%PDF-1.4\n-0.0,1e2,0x1p3,+5,t1\n.5,1.,NaN,-0,t2\n72,72,1,1,\u3000")
      val gen = (0L until 1500L).flatMap { c =>
        Seq(TranscriptGen.payloadFor(c), TranscriptGen.htmlPayload(c),
          TranscriptGen.malformedHtmlPayload(c), TranscriptGen.pdfPayload(c),
          TranscriptGen.jsonPayload(c), TranscriptGen.truncatedJsonPayload(c),
          TranscriptGen.plainPayload(c))
      }
      val fuzz = (0L until 2500L).flatMap(c =>
        Seq(html(c), json(c), pdf(c), plain(c)))
      fixed ++ gen ++ fuzz
    }
  }

  /** Field-by-field sha256 writer: strings as length-prefixed UTF-8,
    * doubles as raw bits, so every byte of every field is pinned.
    */
  private final class Pin {
    private val md = java.security.MessageDigest.getInstance("SHA-256")
    def int(i: Int): Unit = md.update(java.nio.ByteBuffer.allocate(4).putInt(i).array())
    def dbl(d: Double): Unit = md.update(java.nio.ByteBuffer.allocate(8)
      .putLong(java.lang.Double.doubleToRawLongBits(d)).array())
    def bytes(b: Array[Byte]): Unit = { int(b.length); md.update(b) }
    def str(s: String): Unit = bytes(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private def pinResult(p: Pin, r: Extractor.Result): Unit = {
    p.str(r.kind); p.str(r.text)
    p.int(r.spans.length)
    r.spans.foreach { s => p.int(s.start); p.int(s.end); p.str(s.kind) }
    p.int(r.blocks.length)
    r.blocks.foreach { b =>
      p.int(b.span.start); p.int(b.span.end); p.str(b.span.kind)
      p.str(b.btype); p.dbl(b.score); p.str(b.text)
    }
    p.int(if (r.ok) 1 else 0)
  }

  private def pinRow(p: Pin, r: org.apache.spark.sql.catalyst.InternalRow): Unit = {
    p.bytes(r.getUTF8String(0).getBytes); p.bytes(r.getUTF8String(1).getBytes)
    val spans = r.getArray(2)
    p.int(spans.numElements())
    (0 until spans.numElements()).foreach { i =>
      val s = spans.getStruct(i, 3)
      p.int(s.getInt(0)); p.int(s.getInt(1)); p.bytes(s.getUTF8String(2).getBytes)
    }
    val blocks = r.getArray(3)
    p.int(blocks.numElements())
    (0 until blocks.numElements()).foreach { i =>
      val b = blocks.getStruct(i, 4)
      val s = b.getStruct(0, 3)
      p.int(s.getInt(0)); p.int(s.getInt(1)); p.bytes(s.getUTF8String(2).getBytes)
      p.bytes(b.getUTF8String(1).getBytes); p.dbl(b.getDouble(2))
      p.bytes(b.getUTF8String(3).getBytes)
    }
    p.int(if (r.getBoolean(4)) 1 else 0)
  }

  // sha256 over (kind, text, spans, blocks incl. score, ok) of every
  // payload under every variant. An intended output change re-pins it
  // (and says so); an optimization must leave it alone.
  private val KernelDigest =
    "2bc5c5c67f1ad596bc26b3766848f62c36214a30a93c8bf40a96eb0b9a98bff1"

  test("output pin: kernel, bridge row and its copy() hash to the pinned digest") {
    import graft.expr.ExtractTurnKernel
    import org.apache.spark.unsafe.types.UTF8String
    val kernel, bridge, copied = new Pin
    for (v <- ExtractParams.Variants.indices; raw <- PinCorpus.payloads) {
      // a Spark string is UTF-8: a lone surrogate reaches the bridge as
      // '?', so the kernel is fed the same round-tripped payload
      val u = if (raw == null) null else UTF8String.fromString(raw)
      val t = if (u == null) null else u.toString
      pinResult(kernel, Extractor.extract(t, ExtractParams.forVariant(v)))
      pinRow(bridge, ExtractTurnKernel.eval(u, v))
      pinRow(copied, ExtractTurnKernel.eval(u, v).copy())
    }
    val (k, b, c) = (kernel.hex, bridge.hex, copied.hex)
    assert(k == KernelDigest, s"kernel digest moved: $k")
    assert(b == KernelDigest, s"bridge row digest moved: $b")
    assert(c == KernelDigest, s"bridge row copy() digest moved: $c")
  }
}
