package graft.kernel

import graft.model.{Block, Span}
import scala.collection.mutable.ArrayBuffer

/** Tool-output JSON text extraction — the engine's analogue of
  * DetLabelEncode's json.loads parse (pytocr/data/imaug/label_ops.py:25):
  * pull the human-readable text out of a nested tool-result payload.
  *
  * Spec (pinned): walk the JSON document in source order and collect every
  * STRING value whose key is "text", "content", "stdout" or "message", at
  * any nesting depth. Each hit becomes one block (kind "main") whose span
  * covers the raw (still-escaped) string literal in the source payload.
  * Returns null when the payload is not parseable JSON (undecodable ->
  * row drop, the DecodeImage None path, operators.py:26-27).
  *
  * Implemented as a single-pass recursive-descent scanner (payloads are
  * per-turn small; no external JSON library — zero deps, codegen-friendly).
  */
object JsonText {

  private val TextKeys = Array("text", "content", "stdout", "message")

  def extract(payload: String): Array[Block] =
    if (payload == null) null else new Scanner(payload).run()

  /** One document's scan. A string literal is scanned in place: its raw
    * content offsets land in (litStart, litEnd) and it is decoded only
    * when its text is kept (or, for a key, when it has escapes).
    */
  private final class Scanner(s: String) {
    private val n = s.length
    private val out = new ArrayBuffer[Block](4)
    private var pos = 0
    private var ok = true
    private var litStart = 0
    private var litEnd = 0
    private var litEscaped = false

    def run(): Array[Block] = {
      skipWs()
      parseValue(false)
      skipWs()
      if (!ok || pos != n) null else out.toArray
    }

    private def err(): Unit = { ok = false; pos = n }

    private def skipWs(): Unit =
      while (pos < n && Character.isWhitespace(s.charAt(pos))) pos += 1

    /** Scan the string literal at pos (must be '"'), validating escapes:
      * \" \\ \/ \n \t \r \b \f and \uXXXX as `Integer.parseInt(_, 16)`
      * reads four chars.
      */
    private def scanString(): Unit = {
      if (pos >= n || s.charAt(pos) != '"') { err(); return }
      pos += 1
      litStart = pos
      litEscaped = false
      while (pos < n && s.charAt(pos) != '"') {
        if (s.charAt(pos) == '\\' && pos + 1 < n) {
          litEscaped = true
          s.charAt(pos + 1) match {
            case '"' | '\\' | '/' | 'n' | 't' | 'r' | 'b' | 'f' => pos += 2
            case 'u' if pos + 5 < n =>
              if (NumParse.parseInt(s, pos + 2, pos + 6, 16) == NumParse.NoInt) err()
              else pos += 6
            case _ => err()
          }
        } else pos += 1
      }
      litEnd = pos
      if (pos >= n) err() else pos += 1
    }

    /** Decoded value of the last scanned literal (escapes validated). */
    private def literal(): String = {
      if (!litEscaped) return s.substring(litStart, litEnd)
      val sb = new java.lang.StringBuilder(litEnd - litStart)
      var i = litStart
      while (i < litEnd) {
        val c = s.charAt(i)
        if (c == '\\' && i + 1 < litEnd) {
          s.charAt(i + 1) match {
            case 'n' => sb.append('\n')
            case 't' => sb.append('\t')
            case 'r' => sb.append('\r')
            case 'b' => sb.append('\b')
            case 'f' => sb.append('\f')
            case 'u' =>
              sb.append(NumParse.parseInt(s, i + 2, i + 6, 16).toChar)
              i += 4
            case e => sb.append(e)
          }
          i += 2
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }

    private def isTextKey: Boolean =
      if (litEscaped) TextKeys.contains(literal())
      else {
        val len = litEnd - litStart
        var i = 0
        while (i < TextKeys.length &&
            !(TextKeys(i).length == len && s.startsWith(TextKeys(i), litStart))) i += 1
        i < TextKeys.length
      }

    /** Parse one value; `textKey` when its field key is a text key. */
    private def parseValue(textKey: Boolean): Unit = {
      skipWs()
      if (pos >= n) { err(); return }
      s.charAt(pos) match {
        case '{' =>
          pos += 1; skipWs()
          if (pos < n && s.charAt(pos) == '}') { pos += 1; return }
          var more = true
          while (more && ok) {
            skipWs()
            scanString()
            val k = ok && isTextKey
            skipWs()
            if (pos < n && s.charAt(pos) == ':') pos += 1 else err()
            parseValue(k)
            skipWs()
            if (pos < n && s.charAt(pos) == ',') pos += 1
            else { more = false
              if (pos < n && s.charAt(pos) == '}') pos += 1 else err() }
          }
        case '[' =>
          pos += 1; skipWs()
          if (pos < n && s.charAt(pos) == ']') { pos += 1; return }
          var more = true
          while (more && ok) {
            parseValue(textKey)  // array items inherit the field key
            skipWs()
            if (pos < n && s.charAt(pos) == ',') pos += 1
            else { more = false
              if (pos < n && s.charAt(pos) == ']') pos += 1 else err() }
          }
        case '"' =>
          scanString()
          if (ok && textKey) {
            val norm =
              if (litEscaped) TextDecoder.normalize(literal())
              else TextDecoder.normalize(s, litStart, litEnd)
            if (norm.nonEmpty)
              out += Block(Span(litStart, litEnd, "main"), "main", 1.0, norm)
          }
        case 't' => if (s.startsWith("true", pos)) pos += 4 else err()
        case 'f' => if (s.startsWith("false", pos)) pos += 5 else err()
        case 'n' => if (s.startsWith("null", pos)) pos += 4 else err()
        case _ =>
          // number
          val st = pos
          while (pos < n && isNumChar(s.charAt(pos))) pos += 1
          if (pos == st) err()
      }
    }

    private def isNumChar(c: Char): Boolean =
      c >= '0' && c <= '9' || c == '.' || c == '-' || c == '+' || c == 'e' || c == 'E'
  }
}
