package graft.kernel

import graft.model.{Block, Span}
import scala.collection.mutable.ArrayBuffer

/** PDF-like layout parser: text runs -> lines -> blocks -> reading order.
  *
  * The payload format is one run per line: `x,y,w,h,text` (runs arrive in
  * SCRAMBLED order — the whole point is recovering reading order). This is
  * the engine's analogue of the reference's reading-order sort
  * `sort_boxes` (pytocr/utils/utility.py:32-50): sort by (y, x), then
  * treat boxes whose |dy| < 10 as the same line and order them
  * left-to-right — exactly the same-line bubble-swap rule, implemented as
  * a y-band sweep + (band, x) sort.
  *
  * Pinned layout constants:
  *  - SameLineTol = 10.0 (the reference's |dy| < 10 rule, utility.py:41)
  *  - BlockGap    = 20.0 vertical gap that splits blocks
  *  - two-column reading order: a run is column 1 when x >= PageMidline
  *    (612/2, US-Letter points); blocks are ordered by (column, y, x).
  */
object PdfLayout {

  val SameLineTol = 10.0
  val BlockGap    = 20.0
  val PageWidth   = 612.0

  /** One parsed text run. srcStart/srcEnd are offsets of the run's TEXT
    * field in the raw payload (spans map back to source, like the affine
    * un-projection pytocr/postprocess/utils.py:4-43).
    */
  final case class Run(x: Double, y: Double, w: Double, h: Double,
      text: String, srcStart: Int, srcEnd: Int)

  /** Parse the run payload; malformed lines are skipped; returns null when
    * no line parses (undecodable payload -> row drop).
    */
  def parseRuns(payload: String): Array[Run] = {
    if (payload == null) return null
    val out = new ArrayBuffer[Run](16)
    val commas = new Array[Int](4)
    var lineStart = 0
    val n = payload.length
    while (lineStart < n) {
      var lineEnd = payload.indexOf('\n', lineStart)
      if (lineEnd < 0) lineEnd = n
      // split first 4 commas only; text may contain commas
      var c = payload.indexOf(',', lineStart)
      var found = 0
      while (c >= 0 && c < lineEnd && found < 4) {
        commas(found) = c
        found += 1
        if (found < 4) c = payload.indexOf(',', c + 1)
      }
      if (found == 4) {
        try {
          val x = NumParse.parseDouble(payload, lineStart, commas(0))
          val y = NumParse.parseDouble(payload, commas(0) + 1, commas(1))
          val w = NumParse.parseDouble(payload, commas(1) + 1, commas(2))
          val h = NumParse.parseDouble(payload, commas(2) + 1, commas(3))
          val ts = commas(3) + 1
          val text = payload.substring(ts, lineEnd)
          if (text.nonEmpty) out += Run(x, y, w, h, text, ts, lineEnd)
        } catch { case _: NumberFormatException => () }
      }
      lineStart = lineEnd + 1
    }
    if (out.isEmpty) null else out.toArray
  }

  /** Cluster runs into lines (y-band sweep), lines into blocks (vertical
    * gap + same column), ordered for reading. Returns blocks with text =
    * lines joined by '\n', runs within a line joined by ' '.
    */
  def layout(runs: Array[Run]): Array[Block] = {
    if (runs == null || runs.isEmpty) return Array.empty
    // column assignment first: reading order is column-major
    val (left, right) = runs.partition(_.x < PageWidth / 2)

    // Tie-breaks use (y, x, text) — NEVER srcStart — so the layout is
    // invariant under input-line permutation (property-tested): two runs
    // at the same coordinates order by content, not by arrival order.
    // Comparators instead of sortBy-tuples: tuple+Double boxing per
    // comparison made pdf the slowest kernel per byte.
    val byYXT: java.util.Comparator[Run] = new java.util.Comparator[Run] {
      def compare(a: Run, b: Run): Int = {
        val c1 = java.lang.Double.compare(a.y, b.y); if (c1 != 0) return c1
        val c2 = java.lang.Double.compare(a.x, b.x); if (c2 != 0) return c2
        a.text.compareTo(b.text)
      }
    }
    val byXYT: java.util.Comparator[Run] = new java.util.Comparator[Run] {
      def compare(a: Run, b: Run): Int = {
        val c1 = java.lang.Double.compare(a.x, b.x); if (c1 != 0) return c1
        val c2 = java.lang.Double.compare(a.y, b.y); if (c2 != 0) return c2
        a.text.compareTo(b.text)
      }
    }
    def linesOf(rs: Array[Run]): ArrayBuffer[ArrayBuffer[Run]] = {
      val sorted = rs.clone()
      java.util.Arrays.sort(sorted, byYXT)
      val lines = new ArrayBuffer[ArrayBuffer[Run]]
      for (r <- sorted) {
        if (lines.nonEmpty && math.abs(r.y - lines.last.head.y) < SameLineTol)
          lines.last += r
        else
          lines += ArrayBuffer(r)
      }
      // same-line left-to-right order (the bubble-swap rule)
      lines.foreach { l =>
        val arr = l.toArray
        java.util.Arrays.sort(arr, byXYT)
        l.clear(); l ++= arr
      }
      lines
    }

    def blocksOf(lines: ArrayBuffer[ArrayBuffer[Run]]): ArrayBuffer[Block] = {
      val out = new ArrayBuffer[Block]
      var cur = new ArrayBuffer[ArrayBuffer[Run]]
      def flush(): Unit = if (cur.nonEmpty) {
        // runs joined by ' ' within a line, non-empty lines by '\n',
        // each run normalized straight into the block's builder
        val sb = new java.lang.StringBuilder
        var lo = Int.MaxValue
        var hi = Int.MinValue
        var li = 0
        while (li < cur.length) {
          val line = cur(li)
          var lineHasText = false
          var ri = 0
          while (ri < line.length) {
            val r = line(ri)
            lo = math.min(lo, r.srcStart)
            hi = math.max(hi, r.srcEnd)
            val sep = if (lineHasText) ' ' else if (sb.length > 0) '\n' else 0.toChar
            if (TextDecoder.appendNormalized(sb, r.text, sep))
              lineHasText = true
            ri += 1
          }
          li += 1
        }
        if (sb.length > 0) out += Block(Span(lo, hi, "main"), "main", 1.0, sb.toString)
        cur = new ArrayBuffer[ArrayBuffer[Run]]
      }
      for (line <- lines) {
        if (cur.nonEmpty &&
            line.head.y - cur.last.head.y > BlockGap) flush()
        cur += line
      }
      flush()
      out
    }

    (blocksOf(linesOf(left)) ++ blocksOf(linesOf(right))).toArray
  }

  def extract(payload: String): Array[Block] = {
    val runs = parseRuns(payload)
    if (runs == null) null else layout(runs)
  }
}
