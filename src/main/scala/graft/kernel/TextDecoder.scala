package graft.kernel

/** Text decoder / normalizer — the engine's analogue of CTCLabelDecode
  * (pytocr/postprocess/rec_postprocess.py:5-93): collapse repeats, drop the
  * blank token, map via dict, join, mean confidence.
  *
  * Our recast: collapse whitespace runs, drop control characters, decode
  * entities (done in the tokenizer), join blocks with '\n'.
  *
  * ORDER IS PINNED (the CTC trap — dedupe BEFORE blank-drop,
  * rec_postprocess.py:43-50): here, control-char mapping happens BEFORE
  * whitespace collapse, so "a<NUL> <NUL>b" (<NUL> spelled out for the raw
  * 0x00 byte, keeping this file plain text for diff/blame) -> "a b":
  * control chars first become removable, then the surrounding spaces
  * collapse to one.
  */
object TextDecoder {

  /** Normalize a decoded text fragment:
    * 1. map control chars (except \n and \t) to nothing
    * 2. map \t to a single space
    * 3. collapse whitespace runs (any run containing \n -> single '\n';
    *    otherwise -> single ' ')
    * 4. trim leading/trailing whitespace
    */
  def normalize(s: String): String = {
    if (s == null) return null
    normalize(s, 0, s.length)
  }

  /** normalize(s.substring(from, until)); copies only what it must. */
  def normalize(s: String, from: Int, until: Int): String =
    if (isNormalized(s, from, until)) {
      if (from == 0 && until == s.length) s else s.substring(from, until)
    } else {
      val sb = new java.lang.StringBuilder(until - from)
      appendSlow(sb, s, from, until, 0)
      sb.toString
    }

  /** Append normalize(s) to `sb`, preceded by `sep` (when `sep` is not
    * 0) if the normalized text is non-empty — the normalize-then-join
    * step of the block builders without the intermediate string.
    * Returns whether anything was appended.
    */
  def appendNormalized(sb: java.lang.StringBuilder, s: String, sep: Char): Boolean =
    if (isNormalized(s, 0, s.length)) {
      if (s.isEmpty) false
      else {
        if (sep != 0) sb.append(sep)
        sb.append(s)
        true
      }
    } else appendSlow(sb, s, 0, s.length, sep)

  /** True when s[from, until) is already normal — single scan, no
    * allocation: no leading/trailing whitespace, no two adjacent
    * whitespace chars, every whitespace char is ' ' or '\n', and no
    * control chars. Printable ASCII, the bulk of every payload, takes
    * one range test per char.
    */
  private def isNormalized(s: String, from: Int, until: Int): Boolean = {
    if (until == from) return true
    if (Character.isWhitespace(s.charAt(from)) ||
      Character.isWhitespace(s.charAt(until - 1))) return false
    var i = from
    var prevWs = false
    while (i < until) {
      val c = s.charAt(i)
      if (c > ' ' && c < 0x80) prevWs = false
      else {
        if (c < 0x20 && c != '\n') return false
        val ws = c == ' ' || c == '\n'
        if (ws && prevWs) return false
        if (!ws && Character.isWhitespace(c)) return false
        prevWs = ws
      }
      i += 1
    }
    true
  }

  private def appendSlow(sb: java.lang.StringBuilder, s: String,
      from: Int, until: Int, sep: Char): Boolean = {
    var emitted = false
    var i = from
    var pendingWs = false  // a whitespace run is open
    var pendingNl = false  // the open run contains a newline
    while (i < until) {
      val c = s.charAt(i)
      if (isContent(c)) {
        if (emitted) {
          if (pendingWs) sb.append(if (pendingNl) '\n' else ' ')
        } else {
          if (sep != 0) sb.append(sep)
          emitted = true
        }
        pendingWs = false
        pendingNl = false
        // copy the whole run of content chars at once
        var j = i + 1
        while (j < until && isContent(s.charAt(j))) j += 1
        sb.append(s, i, j)
        i = j
      } else {
        if (c < 0x20 && c != '\n' && c != '\t') {
          // step 1: control char — removed, does not open a ws run
        } else {
          pendingWs = true
          if (c == '\n' || c == '\r') pendingNl = true
        }
        i += 1
      }
    }
    emitted
  }

  /** Neither whitespace nor a control char: kept as is. */
  @inline private def isContent(c: Char): Boolean =
    if (c < 0x80) c > ' ' else !Character.isWhitespace(c)
}
