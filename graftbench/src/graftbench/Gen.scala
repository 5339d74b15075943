package graftbench

import java.sql.Timestamp
import scala.collection.mutable.ArrayBuffer

/** Seeded input generators. Every value is a pure function of
  * (seed, position), so the same seed yields the same rows on the driver
  * (oracles) and inside executors (materialization), run after run.
  */
object Gen extends Serializable {

  final case class TurnRow(conv_id: String, turn_idx: Int, role: String,
      text: String, tool: String, ts: Timestamp)

  final case class DocRow(doc_id: Long, conv_id: String, n_turns: Int,
      text: String)

  val Cap = 512
  val BaseEpochMs = 1700000000000L

  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def h(seed: Long, parts: Long*): Long =
    parts.foldLeft(mix(seed ^ 0x6a09e667f3bcc909L))((a, b) => mix(a ^ b))
  def u01(x: Long): Double = (x >>> 11).toDouble / (1L << 53).toDouble

  // --- transcripts ---------------------------------------------------------

  private val Words: Array[String] =
    ("ledger river quartz amber signal harbor meadow copper lantern orbit " +
      "pepper saddle timber velvet whistle anchor basket candle dagger " +
      "ember falcon garnet hollow island jigsaw kettle lilac marble nectar " +
      "oyster pillow quiver ribbon spruce tundra umbra violet walnut yarrow " +
      "zephyr bramble cinder dune fjord glacier heron ivory juniper kestrel " +
      "the of and to in is that for with").split(" ")

  private def words(cell: Long, n: Int): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      if (i > 0) sb += ' '
      sb ++= Words((u01(mix(cell + i)) * Words.length).toInt)
      i += 1
    }
    sb.toString
  }

  private def sentence(cell: Long, minW: Int, maxW: Int): String =
    words(mix(cell), minW + (u01(cell) * (maxW - minW + 1)).toInt) + "."

  /** Power-law conversation size in [2, Cap]; conversation 0 is always
    * Cap turns, so the largest shape is present under every seed.
    */
  def convSize(seed: Long, conv: Long): Int =
    if (conv == 0) Cap
    else {
      val u = math.max(u01(h(seed, conv, 1L)), 1e-9)
      math.max(2, math.min(Cap, (2.0 * math.pow(u, -1.0 / 1.1)).toInt))
    }

  /** Payload classes; the kernel sample and the oracle sample cover each. */
  val Kinds: Seq[String] = Seq("html", "pdf", "json", "plain", "malformed")

  // payload generators by cumulative share: html 35%, broken html 5%, pdf
  // 20%, json 18%, truncated json 2%, plain 20%
  private val Shares = Array(0.35, 0.40, 0.60, 0.78, 0.80, 1.0)
  private val ClassOf = Array("html", "malformed", "pdf", "json", "malformed", "plain")
  private def generator(cell: Long): Int = Shares.indexWhere(u01(mix(cell ^ 0x400L)) < _)

  /** The class a payload cell is drawn from. */
  def kindOf(cell: Long): String = ClassOf(generator(cell))

  def payload(cell: Long): String = generator(cell) match {
    case 0 => html(cell)
    case 1 => brokenHtml(cell)
    case 2 => pdf(cell)
    case 3 => json(cell)
    case 4 => json(cell).dropRight(4 + (u01(mix(cell ^ 0x401L)) * 20).toInt)
    case _ => plain(cell)
  }

  private def html(c: Long): String = {
    val title = sentence(mix(c ^ 1), 3, 6)
    val nav = (0 until 4).map(i =>
      s"""<a href="/n$i">${words(mix(c ^ (16 + i)), 2)}</a>""").mkString(" | ")
    val paras = (0 until 2 + (u01(mix(c ^ 2)) * 4).toInt).map(i =>
      s"<p>${sentence(mix(c ^ (32 + i)), 8, 22)} ${sentence(mix(c ^ (64 + i)), 5, 12)}</p>")
      .mkString("\n")
    s"""<html><head><title>$title</title><script>var t = ${u01(c)};</script></head>
<body><nav>$nav</nav><h1>$title</h1>
$paras
<p>Salt &amp; pepper &lt;raw&gt; caf&#xe9;</p>
<aside><a href="/x">${words(mix(c ^ 3), 3)}</a></aside>
<footer>&copy; ${words(mix(c ^ 4), 2)} | <a href="/t">terms</a></footer></body></html>"""
  }

  private def brokenHtml(c: Long): String =
    s"<div><p>${sentence(mix(c ^ 5), 6, 12)}<p>${sentence(mix(c ^ 6), 6, 12)}</i></div><span>${words(mix(c ^ 7), 4)}"

  private def pdf(c: Long): String = {
    val lines = ArrayBuffer.empty[(Double, Double, String)]
    val nLeft = 3 + (u01(mix(c ^ 8)) * 4).toInt
    for (i <- 0 until nLeft) {
      val y = 72.0 + i * 14 + (if (u01(mix(c ^ (96 + i))) < 0.3) 3.0 else 0.0)
      lines += ((72.0, y, words(mix(c ^ (128 + i)), 4)))
      if (u01(mix(c ^ (160 + i))) < 0.5)
        lines += ((180.0, y + 2.0, words(mix(c ^ (192 + i)), 3)))
    }
    for (i <- 0 until 2 + (u01(mix(c ^ 9)) * 3).toInt)
      lines += ((330.0, 72.0 + i * 14, words(mix(c ^ (224 + i)), 4)))
    val scrambled = lines.zipWithIndex.sortBy { case (_, i) => mix(c ^ (256 + i)) }
    "%PDF-like\n" + scrambled.map { case ((x, y, t), _) =>
      f"$x%.1f,$y%.1f,${40 + t.length}%d,12,$t"
    }.mkString("\n")
  }

  private def json(c: Long): String =
    s"""{"tool": "search", "status": 200, "result": {"text": "${sentence(mix(c ^ 10), 8, 16)}", "items": [{"rank": 1, "content": "${sentence(mix(c ^ 11), 5, 10)}"}], "score": ${u01(mix(c ^ 12))}}}"""

  private def plain(c: Long): String =
    sentence(mix(c ^ 13), 10, 25) + "  " + sentence(mix(c ^ 14), 8, 20) +
      "\n\n" + sentence(mix(c ^ 15), 6, 15)

  private val Roles = Array("user", "assistant", "tool", "system")

  def convId(conv: Long): String = f"conv-$conv%07d"

  def cellOf(seed: Long, conv: Long, t: Int): Long = h(seed, conv, t.toLong, 7L)

  /** All turns of one conversation; about 5% of turns get a retry row
    * (same turn_idx, strictly later ts).
    */
  def turnsOf(seed: Long, conv: Long): Seq[TurnRow] = {
    val size = convSize(seed, conv)
    val out = new ArrayBuffer[TurnRow](size + size / 16)
    var tsMs = BaseEpochMs + conv * 3600L * 1000L
    var t = 0
    while (t < size) {
      val cell = cellOf(seed, conv, t)
      val role = Roles((u01(mix(cell ^ 0x500L)) * Roles.length).toInt)
      val tool = if (role == "tool") "search" else null
      tsMs += 1000L + (u01(mix(cell ^ 0x501L)) * 30000L).toLong
      out += TurnRow(convId(conv), t, role, payload(cell), tool, new Timestamp(tsMs))
      if (u01(mix(cell ^ 0x502L)) < 0.05) {
        tsMs += 500L
        out += TurnRow(convId(conv), t, role, payload(mix(cell)), tool,
          new Timestamp(tsMs))
      }
      t += 1
    }
    out.toSeq
  }

  /** Conversations needed for about `targetTurns` base turns: the sizes
    * are drawn per seed, so the count adapts and the table size does not.
    */
  def convsFor(seed: Long, targetTurns: Long): Long = {
    var n = 0L
    var turns = 0L
    while (turns < targetTurns) { turns += convSize(seed, n); n += 1 }
    n
  }

  // --- corpus documents ----------------------------------------------------

  /** Zipf-ranked vocabulary of pseudo-words. The ten most frequent ranks
    * are English stop words, so the language gate reads the docs as
    * English; every other rank spells its own base-20 digits in
    * syllables, which makes the words distinct by construction.
    */
  final class Vocab(size: Int) {
    private val stop = Array("the", "of", "and", "to", "in", "is", "that",
      "for", "it", "with")
    private val syl = Array("ka", "lo", "mi", "ru", "te", "sa", "no", "vi",
      "pe", "da", "zu", "go", "fi", "ha", "bo", "yo", "wu", "xe", "qi", "jo")
    val words: Array[String] = Array.tabulate(size) { r =>
      if (r < stop.length) stop(r)
      else {
        val sb = new StringBuilder
        var x = r
        while (x > 0) { sb.insert(0, syl(x % 20)); x /= 20 }
        sb.toString
      }
    }
    private val cdf: Array[Double] = {
      val c = Array.tabulate(size)(r => 1.0 / (r + 1.0)).scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def draw(x: Long): String = {
      val i = java.util.Arrays.binarySearch(cdf, u01(x))
      words(math.min(size - 1, if (i >= 0) i else -i - 1))
    }
  }

  private val vocabs = new java.util.concurrent.ConcurrentHashMap[Int, Vocab]()
  def vocab(size: Int): Vocab = vocabs.computeIfAbsent(size, s => new Vocab(s))

  /** One corpus draw. Doc ids 1..nDocs are laid out as revision chains
    * (16 down to 2 docs, cycling; ids ascending along each chain, each
    * hop re-drawing `editFrac` of the previous hop's tokens), then
    * exact-copy groups (4 down to 2 byte-identical docs, cycling), then
    * unrelated docs; about `noiseFrac`
    * of the unrelated docs are digit strings that no quality gate keeps.
    */
  final case class Corpus(seed: Long, nDocs: Int, nChains: Int,
      nCopyGroups: Int, vocabSize: Int, editFrac: Double, noiseFrac: Double) {

    /** Families (chains first, then copy groups) and unrelated doc ids. */
    lazy val families: IndexedSeq[IndexedSeq[Long]] = {
      var next = 0L
      def take(n: Int) = (0 until n).map { _ => next += 1; next }
      // sizes cycle instead of being drawn, so every seed has the same
      // family sizes (chain 0 always has the cap of 16 docs) and about the
      // same amount of dedup work; only the content differs
      val chains = (0 until nChains).map(c => take(16 - c % 15))
      val groups = (0 until nCopyGroups).map(g => take(4 - g % 3))
      require(next < nDocs, s"families need $next docs, corpus has $nDocs")
      chains ++ groups
    }
    lazy val firstSingle: Long = families.map(_.last).max + 1
    def singles: Iterator[Long] = (firstSingle to nDocs.toLong).iterator
    def isNoise(id: Long): Boolean =
      id >= firstSingle && u01(h(seed, 0x93L, id)) < noiseFrac
    def isChain(fam: Int): Boolean = fam < nChains

    /** Generation units: one per family, then one per unrelated doc. */
    def nUnits: Long = families.size + (nDocs - firstSingle + 1)

    def docsOf(unit: Long): Seq[DocRow] =
      if (unit < families.size) {
        val fam = unit.toInt
        val ids = families(fam)
        val v = vocab(vocabSize)
        var toks = tokens(v, 0x90L, ids.head)
        ids.zipWithIndex.map { case (id, hop) =>
          if (hop > 0 && isChain(fam))
            toks = toks.zipWithIndex.map { case (t, i) =>
              val x = h(seed, 0x94L, id, i.toLong)
              if (u01(x) < editFrac) v.draw(mix(x)) else t
            }
          row(id, toks.mkString(" ") + ".")
        }
      } else {
        val id = firstSingle + (unit - families.size)
        if (isNoise(id))
          Seq(row(id, (0 until 40).map(i =>
            (h(seed, 0x92L, id, i.toLong) >>> 40).toString).mkString(" ")))
        else Seq(row(id, tokens(vocab(vocabSize), 0x91L, id).mkString(" ") + "."))
      }

    private def tokens(v: Vocab, salt: Long, id: Long): Array[String] = {
      val n = 60 + (u01(h(seed, salt, id)) * 140).toInt
      Array.tabulate(n)(i => v.draw(h(seed, salt, id, i.toLong)))
    }

    private def row(id: Long, text: String) =
      DocRow(id, f"doc-$id%07d", 2 + (u01(h(seed, 0x95L, id)) * 39).toInt, text)
  }
}
