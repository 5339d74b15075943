package graft.kernel

import graft.model.{Block, Span}

/** The complete per-turn extractor: payload sniff -> branch kernel ->
  * blocks -> main-content selection -> normalized text + spans.
  *
  * This object is BOTH the golden oracle (driven row-by-row in plain Scala
  * by the test suite) and the engine kernel (called by the Catalyst
  * expression graft.expr.ExtractTurn). One implementation = the per-turn
  * equality contract is definitionally pinned (SURVEY.md §5.2/§7 step 1).
  *
  * Mirrors the reference's end-to-end inference query
  * (deploy/pytorch/run_ocr.py:168-231): decode -> detect blocks -> sort
  * into reading order -> classify -> decode text -> reassemble.
  */
object Extractor {

  /** @param ok false when the payload FAILED its sniffed decoder (html
    *        with no parseable tag, invalid json, pdf with no parseable
    *        run) — the per-row try/except side output of the reference
    *        (simple_dataset.py:94-120): the row survives with an empty
    *        extraction but is flagged for the bad-rows side channel.
    */
  final case class Result(kind: String, text: String,
      spans: Array[Span], blocks: Array[Block], ok: Boolean)

  val KindHtml  = "html"
  val KindPdf   = "pdf"
  val KindJson  = "json"
  val KindPlain = "plain"
  val KindEmpty = "empty"

  /** Payload class sniffing (pinned spec): decided from the text itself,
    * first match wins:
    *  - empty/null            -> empty
    *  - first non-ws char '{' -> json
    *  - starts with "%PDF" or first line matches `x,y,w,h,text` -> pdf
    *  - contains '<' followed by a letter before any other signal -> html
    *  - otherwise             -> plain
    */
  def sniff(text: String): String = {
    if (text == null) return KindEmpty
    var i = 0
    val n = text.length
    while (i < n && Character.isWhitespace(text.charAt(i))) i += 1
    if (i >= n) return KindEmpty
    val c = text.charAt(i)
    if (c == '{') return KindJson
    if (text.startsWith("%PDF", i)) return KindPdf
    if (looksLikeRunLine(text, i)) return KindPdf
    if (hasTag(text, i)) return KindHtml
    KindPlain
  }

  /** A run line is `num,num,num,num,<nonempty>`. */
  private def looksLikeRunLine(s: String, from: Int): Boolean = {
    var i = from
    val n = s.length
    var commas = 0
    var digitsInField = false
    while (i < n && s.charAt(i) != '\n' && commas < 4) {
      val c = s.charAt(i)
      if (c == ',') {
        if (!digitsInField) return false
        commas += 1; digitsInField = false
      } else if ((c >= '0' && c <= '9') || c == '.' || c == '-') digitsInField = true
      else if (c != ' ') return false
      i += 1
    }
    commas == 4 && i < n && s.charAt(i) != '\n'
  }

  private def hasTag(s: String, from: Int): Boolean = {
    var i = s.indexOf('<', from)
    while (i >= 0 && i + 1 < s.length) {
      val c = s.charAt(i + 1)
      if (Character.isLetter(c) || c == '/' || c == '!') return true
      i = s.indexOf('<', i + 1)
    }
    false
  }

  /** Extract main content of one HTML payload (default params). */
  def extractHtml(payload: String): Array[Block] =
    extractHtml(payload, ExtractParams.Default)

  def extractHtml(payload: String, p: ExtractParams): Array[Block] = {
    val nodes = HtmlTokenizer.tokenize(payload)
    if (nodes == null) null
    else {
      val seg = BlockSegmenter.segmentCore(nodes, p)
      selectMain(seg.blocks, seg.bestRejected)
    }
  }

  /** Trafilatura-like main-content selection over classified blocks
    * (pinned): keep title/code blocks and main blocks; when NO block
    * survives segmentation but candidates existed, fall back to the
    * single longest-text rejected candidate (never emit an empty page for
    * a page that had real above-threshold text) — the reference similarly
    * keeps top-score regions. A page with no candidates at all (every
    * node boilerplate/link-only) stays empty: that IS the boilerplate
    * strip working.
    */
  def selectMain(blocks: Array[Block], bestRejected: Block): Array[Block] =
    if (blocks.nonEmpty) blocks
    else if (bestRejected != null) Array(bestRejected)
    else blocks

  /** Full per-turn extraction with the golden-spec default params. */
  def extract(text: String): Result = extract(text, ExtractParams.Default)

  /** Full per-turn extraction. NEVER returns null: undecodable payloads
    * yield Result(kind, "", [], []) — the row-drop (None) path surfaces
    * as an empty extraction so per-turn equality stays total.
    *
    * `p` selects the segmentation variant (A/B audits); only the html
    * branch is parameterized — pdf/json/plain have no tunable gates.
    */
  def extract(text: String, p: ExtractParams): Result = {
    val kind = sniff(text)
    val blocks: Array[Block] = kind match {
      case KindEmpty => Array.empty
      case KindJson  => JsonText.extract(text)
      case KindPdf   =>
        // a leading "%PDF-..." marker line has no 4 commas -> parseRuns
        // skips it; no special-casing needed
        PdfLayout.extract(text)
      case KindHtml  => extractHtml(text, p)
      case KindPlain =>
        val norm = TextDecoder.normalize(HtmlTokenizer.decodeEntities(text))
        if (norm.isEmpty) Array.empty[Block]
        else Array(Block(Span(0, text.length, "main"), "main", 1.0, norm))
    }
    val bs = if (blocks == null) Array.empty[Block] else blocks
    val spans = new Array[Span](bs.length)
    var i = 0
    while (i < bs.length) { spans(i) = bs(i).span; i += 1 }
    Result(kind, joinText(bs), spans, bs, ok = blocks != null)
  }

  /** Block texts in reading order joined by single newlines, empties
    * dropped — the concat_ws("\n", ...) reassembly step. A lone block's
    * text is returned as is; more are joined in one presized builder.
    */
  def joinText(bs: Array[Block]): String = {
    var parts = 0
    var chars = 0
    var only: String = ""
    var i = 0
    while (i < bs.length) {
      val t = bs(i).text
      if (t.nonEmpty) { parts += 1; chars += t.length; only = t }
      i += 1
    }
    if (parts <= 1) return only
    val sb = new java.lang.StringBuilder(chars + parts - 1)
    i = 0
    while (i < bs.length) {
      val t = bs(i).text
      if (t.nonEmpty) {
        if (sb.length > 0) sb.append('\n')
        sb.append(t)
      }
      i += 1
    }
    sb.toString
  }
}
