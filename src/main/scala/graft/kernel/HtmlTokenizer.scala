package graft.kernel

import graft.model.DomNode
import scala.collection.mutable.ArrayBuffer

/** HTML tag-stream tokenizer: raw payload -> flattened DOM node array.
  *
  * This is the engine's analogue of the reference's DecodeImage
  * (pytocr/data/imaug/operators.py:9-38): raw bytes -> structured dense
  * array, returning null on undecodable input so the row can be filtered
  * (operators.py:26-27 returns None).
  *
  * The tokenizer is a single forward scan (no DOM tree is materialized —
  * the node array IS the flattened DOM, like Im2Seq's layout->sequence
  * flatten, pytocr/modeling/necks/rnn.py:4-15). It is deliberately lenient
  * (browsers are): unclosed tags are tolerated, stray "</x>" pops to the
  * nearest matching open tag. It is also the normalization SPEC — the
  * golden oracle and the Spark path both call exactly this code, so the
  * per-turn equality contract is pinned here.
  *
  * Pinned rules:
  *  - void elements (br, hr, img, input, meta, link, area, base, col,
  *    embed, source, track, wbr) never push depth.
  *  - script/style/noscript content is consumed but emitted as a node with
  *    boiler=true (so scoring zeroes it; spans still map to source).
  *  - comments <!-- --> and doctype/processing instructions are skipped.
  *  - entities are decoded in node text (amp lt gt quot apos nbsp #NNN
  *    #xHH); unknown entities are kept verbatim.
  *  - a text node's (srcStart, srcEnd) are offsets of the RAW text in the
  *    source payload (entities still encoded there).
  *  - returns null when the payload contains no complete element tag at
  *    all (undecodable -> row drop, the DecodeImage None path).
  */
object HtmlTokenizer {

  // per-tag flag bits, looked up once when a tag is read
  private final val Void    = 1
  private final val Boiler  = 2
  private final val Heading = 4
  private final val Code    = 8
  private final val Link    = 16
  private final val RawText = 32  // script/style: content runs to the close tag

  /** Every tag with a flag, plus the common plain ones (canonical
    * instances: reading one of these allocates nothing). A tag not listed
    * has no flags.
    */
  private val Tags: Seq[(String, Int)] =
    Seq("br", "hr", "img", "input", "meta", "link", "area", "base", "col",
      "embed", "source", "track", "wbr").map(_ -> Void) ++
    Seq("nav", "footer", "header", "aside", "form", "noscript", "button",
      "select", "option", "iframe").map(_ -> Boiler) ++
    Seq("script", "style").map(_ -> (Boiler | RawText)) ++
    Seq("h1", "h2", "h3", "h4", "h5", "h6").map(_ -> Heading) ++
    Seq("pre", "code").map(_ -> Code) ++
    Seq("a" -> Link) ++
    Seq("p", "b", "i", "u", "em", "li", "ul", "ol", "td", "tr", "th", "div",
      "span", "body", "head", "html", "table", "title", "strong", "section",
      "article").map(_ -> 0)

  // open-addressed by String.hashCode of the lowercased name
  private final val Mask = 127
  private val TagName = new Array[String](Mask + 1)
  private val TagFlags = new Array[Int](Mask + 1)
  Tags.foreach { case (t, f) =>
    var i = t.hashCode & Mask
    while (TagName(i) != null) i = (i + 1) & Mask
    TagName(i) = t
    TagFlags(i) = f
  }

  @inline private def lower(c: Char): Char =
    if (c < 0x80) (if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)
    else Character.toLowerCase(c)

  @inline private def isNameChar(c: Char): Boolean =
    if (c < 0x80) (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')
    else Character.isLetterOrDigit(c)

  /** Table slot of html[s, e)'s lowercased name, whose String.hashCode is
    * `h`, or -1 when unlisted.
    */
  private def tagSlot(html: String, s: Int, e: Int, h: Int): Int = {
    if (e == s) return -1
    var k = 0
    var i = h & Mask
    while (TagName(i) != null) {
      val cand = TagName(i)
      if (cand.length == e - s) {
        k = 0
        while (k < cand.length && lower(html.charAt(s + k)) == cand.charAt(k)) k += 1
        if (k == cand.length) return i
      }
      i = (i + 1) & Mask
    }
    -1
  }

  private def lowerName(html: String, s: Int, e: Int): String = {
    val sb = new java.lang.StringBuilder(e - s)
    var k = s
    while (k < e) { sb.append(lower(html.charAt(k))); k += 1 }
    sb.toString
  }

  /** First case-insensitive `needle` ('<'-led) at or after `from`, or -1.
    * Jumps '<' to '<' instead of testing every position.
    */
  private def indexOfTag(hay: String, needle: String, from: Int): Int = {
    var i = hay.indexOf('<', from)
    while (i >= 0 && i + needle.length <= hay.length) {
      if (hay.regionMatches(true, i, needle, 0, needle.length)) return i
      i = hay.indexOf('<', i + 1)
    }
    -1
  }

  /** True when s[from, until) has a non-whitespace char. */
  private def hasText(s: String, from: Int, until: Int): Boolean = {
    var k = from
    while (k < until) {
      val c = s.charAt(k)
      if (c > ' ' && c < 0x80 || !Character.isWhitespace(c)) return true
      k += 1
    }
    false
  }

  /** Decode HTML character entities. Unknown entities pass through. */
  def decodeEntities(s: String): String =
    decodeEntities(s, 0, s.length, s.indexOf('&'))

  /** decodeEntities(s.substring(from, until)), given `amp`, the first '&'
    * at or after `from` (-1 when none): no copy beyond the substring when
    * the region has none.
    */
  private def decodeEntities(s: String, from: Int, until: Int, amp: Int): String = {
    if (amp < 0 || amp >= until)
      return if (from == 0 && until == s.length) s else s.substring(from, until)
    var i = amp
    val sb = new java.lang.StringBuilder(until - from)
    sb.append(s, from, i)
    while (i < until) {
      val c = s.charAt(i)
      val next = if (c == '&') appendEntity(sb, s, i, until) else -1
      if (next < 0) { sb.append(c); i += 1 } else i = next
    }
    sb.toString
  }

  /** Decode the entity at s(amp) == '&' into `sb`: the body runs to the
    * first ';' inside the region, at most 10 chars on; named amp lt gt
    * quot apos nbsp, or #NNN / #xHH read as `Integer.parseInt` reads them
    * (a code point below 0x20 or out of range decodes to nothing).
    * Returns the index after the ';', or -1 (appending nothing) when
    * there is no entity here.
    */
  private def appendEntity(sb: java.lang.StringBuilder, s: String,
      amp: Int, until: Int): Int = {
    val last = math.min(until - 1, amp + 10)
    var semi = amp + 1
    while (semi <= last && s.charAt(semi) != ';') semi += 1
    if (semi > last) return -1
    val b = amp + 1
    val len = semi - b
    def is(name: String) = len == name.length && s.startsWith(name, b)
    if (len > 1 && s.charAt(b) == '#') {
      val hex = s.charAt(b + 1) == 'x' || s.charAt(b + 1) == 'X'
      val cp = NumParse.parseInt(s, if (hex) b + 2 else b + 1, semi,
        if (hex) 16 else 10)
      if (cp == NumParse.NoInt) return -1
      if (Character.isValidCodePoint(cp.toInt) && cp >= 0x20)
        sb.appendCodePoint(cp.toInt)
    } else if (is("amp")) sb.append('&')
    else if (is("lt")) sb.append('<')
    else if (is("gt")) sb.append('>')
    else if (is("quot")) sb.append('"')
    else if (is("apos")) sb.append('\'')
    else if (is("nbsp")) sb.append(' ')
    else return -1
    semi + 1
  }

  /** Tokenize an HTML payload into a flat DOM node array, or null when the
    * payload has no complete element tag (undecodable).
    */
  def tokenize(html: String): Array[DomNode] = {
    if (html == null) return null
    val n = html.length
    val out = new ArrayBuffer[DomNode](32)
    // open-element stack: tag name + its flags
    var stackTag = new Array[String](16)
    var stackFlags = new Array[Int](16)
    var depth = 0
    var linkDepth = 0    // nesting count of <a>
    var boilerDepth = 0  // nesting count of boilerplate containers
    var headDepth = 0    // nesting count of h1..h6
    var codeDepth = 0    // nesting count of pre/code
    var sawTag = false
    var nextAmp = html.indexOf('&') // first '&' not before the current text

    def count(flags: Int, d: Int): Unit = {
      if ((flags & Link) != 0) linkDepth += d
      if ((flags & Boiler) != 0) boilerDepth += d
      if ((flags & Heading) != 0) headDepth += d
      if ((flags & Code) != 0) codeDepth += d
    }

    def push(tag: String, flags: Int): Unit = {
      if (depth == stackTag.length) {
        stackTag = java.util.Arrays.copyOf(stackTag, depth * 2)
        stackFlags = java.util.Arrays.copyOf(stackFlags, depth * 2)
      }
      stackTag(depth) = tag
      stackFlags(depth) = flags
      depth += 1
      count(flags, 1)
    }

    def popTag(tag: String): Unit = {
      // pop to nearest matching open tag; ignore unmatched close
      var j = depth - 1
      while (j >= 0 && stackTag(j) != tag) j -= 1
      if (j < 0) return
      while (depth > j) {
        depth -= 1
        count(stackFlags(depth), -1)
        stackTag(depth) = null
      }
    }

    def emitText(start: Int, end: Int): Unit = {
      // skip pure-whitespace nodes before any copy — they carry no
      // content signal and are the majority of inter-tag gaps
      if (!hasText(html, start, end)) return
      if (nextAmp >= 0 && nextAmp < start) nextAmp = html.indexOf('&', start)
      val decoded = decodeEntities(html, start, end, nextAmp)
      out += DomNode(
        tag = if (depth == 0) "" else stackTag(depth - 1),
        depth = depth,
        linkChars = if (linkDepth > 0) decoded.length else 0,
        boiler = boilerDepth > 0,
        heading = headDepth > 0,
        code = codeDepth > 0,
        text = decoded,
        srcStart = start,
        srcEnd = end)
    }

    var textStart = 0
    var i = html.indexOf('<')
    // a '<' as the last char is literal text
    while (i >= 0 && i + 1 < n) {
      val c1 = html.charAt(i + 1)
      var next = i + 1 // where the scan for the next '<' resumes
      if (c1 == '!' || c1 == '?') {
        // comment / doctype / PI
        emitText(textStart, i)
        val e =
          if (html.startsWith("<!--", i)) {
            val c = html.indexOf("-->", i + 4)
            if (c < 0) -1 else c + 2
          } else html.indexOf('>', i + 1)
        next = if (e < 0) n else e + 1
        textStart = next
      } else if (c1 == '/' || Character.isLetter(c1)) {
        val close = html.indexOf('>', i + 1)
        if (close < 0) {
          // dangling '<' with no close — treat rest as text
          next = n
        } else {
          emitText(textStart, i)
          sawTag = true
          // tag name parsed in place — no substring over the attribute text
          val nameStart = i + (if (c1 == '/') 2 else 1)
          var te = nameStart
          var h = 0
          while (te < close && isNameChar(html.charAt(te))) {
            h = 31 * h + lower(html.charAt(te))
            te += 1
          }
          val slot = tagSlot(html, nameStart, te, h)
          val tag = if (slot >= 0) TagName(slot) else lowerName(html, nameStart, te)
          val flags = if (slot >= 0) TagFlags(slot) else 0
          val selfClosing = close > nameStart && html.charAt(close - 1) == '/'
          next = close + 1
          if (c1 == '/') popTag(tag)
          else if (tag.nonEmpty && !selfClosing && (flags & Void) == 0) {
            push(tag, flags)
            if ((flags & RawText) != 0) {
              // raw-text element: consume to the matching close tag and
              // emit the content as a boiler node (span preserved); the
              // whitespace test runs in place, the copy only on emit
              val e = indexOfTag(html, if (tag == "script") "</script" else "</style", close + 1)
              val contentEnd = if (e < 0) n else e
              if (hasText(html, next, contentEnd))
                out += DomNode(tag, depth, 0, boiler = true,
                  heading = headDepth > 0, code = codeDepth > 0,
                  text = html.substring(next, contentEnd),
                  srcStart = next, srcEnd = contentEnd)
              popTag(tag)
              next = if (e < 0) n else {
                val gt = html.indexOf('>', e)
                if (gt < 0) n else gt + 1
              }
            }
          }
          textStart = next
        }
      }
      // else: '<' followed by a non-tag char is literal text
      i = if (next >= n) -1 else html.indexOf('<', next)
    }
    emitText(textStart, n)
    if (!sawTag) null else out.toArray
  }
}
