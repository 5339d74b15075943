package graft.kernel


/** Hashing/fingerprinting kernels for the training-data pipeline ops
  * (dedup, similarity, language-ID, quality). Pure Scala, one pass where
  * possible, primitive arrays — same codegen-friendly shape as the
  * extraction kernels. All constants pinned (they are the spec).
  */
object TextHash {

  val ShingleK = 5       // char-shingle width for minhash/jaccard
  val NumHashes = 64     // minhash signature length
  val LshBands = 16      // 16 bands x 4 rows = 64
  val LshRows = 4

  // the \s+ token separator of topBigramFrac and langId, compiled once
  // (String.split recompiles a multi-char regex on every call)
  private val Whitespace = java.util.regex.Pattern.compile("\\s+")

  // xxhash-like 64-bit avalanche (splitmix64 finalizer) over a seed+value
  @inline def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Rolling polynomial hashes of all k-char shingles, one per position
    * in text order, repeats included: the shingle multiset. Empty for
    * null text and text shorter than k.
    */
  private def rawShingles(text: String, k: Int): Array[Long] = {
    if (text == null || text.length < k) return Array.emptyLongArray
    val all = new Array[Long](text.length - k + 1)
    var h = 0L
    val p = 1099511628211L // FNV prime as poly base
    var pk = 1L            // p^k for the rolling subtract
    var i = 0
    while (i < k) { pk *= p; i += 1 }
    i = 0
    while (i < text.length) {
      h = h * p + text.charAt(i)
      if (i >= k) h -= pk * text.charAt(i - k)
      if (i >= k - 1) all(i - k + 1) = mix64(h)
      i += 1
    }
    all
  }

  /** Rolling polynomial hashes of all k-char shingles — DISTINCT, SORTED
    * primitive array (no boxing: a boxed HashSet here dominated the
    * whole dedup verify stage in profiling).
    */
  def shingleHashes(text: String, k: Int = ShingleK): Array[Long] = {
    val all = rawShingles(text, k)
    val n = all.length
    java.util.Arrays.sort(all)
    // in-place dedup of the sorted array
    var w = 0
    var i = 0
    while (i < n) {
      if (w == 0 || all(i) != all(w - 1)) { all(w) = all(i); w += 1 }
      i += 1
    }
    if (w == n) all else java.util.Arrays.copyOf(all, w)
  }

  // the per-permutation salts of minhashSig
  private val Salts = Array.tabulate(NumHashes)(_.toLong * 0xc2b2ae3d27d4eb4fL)

  /** MinHash signature: NumHashes permutations simulated as
    * min(mix64(shingleHash ^ seed_i)) — the standard one-pass scheme.
    * The minima run over the shingle multiset, unsorted: a minimum over
    * a multiset is the minimum over its set, so repeats cost 64 mixes
    * each but the signature is that of the distinct shingles.
    */
  def minhashSig(text: String): Array[Long] = {
    val hs = rawShingles(text, ShingleK)
    val sig = Array.fill(NumHashes)(Long.MaxValue)
    var i = 0
    while (i < hs.length) {
      val h = hs(i)
      var j = 0
      while (j < NumHashes) {
        val v = mix64(h ^ Salts(j))
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    sig
  }

  /** LSH band keys from a minhash signature: hash of each (band rows)
    * slice, salted by band index so bands never collide across indices.
    */
  def lshBandKeys(sig: Array[Long]): Array[Long] = {
    val out = new Array[Long](LshBands)
    var b = 0
    while (b < LshBands) {
      var acc = b.toLong
      var r = 0
      while (r < LshRows) { acc = mix64(acc ^ sig(b * LshRows + r)); r += 1 }
      out(b) = acc
      b += 1
    }
    out
  }

  /** Exact n-gram Jaccard similarity of two strings' shingle sets,
    * equal to jaccardSorted(shingleHashes(a), shingleHashes(b)) bit for
    * bit (the same distinct counts and intersection) without sorting:
    * a's shingles go into one open-addressing set, b's into a second,
    * and each shingle new to b's set is looked up in a's.
    */
  def ngramJaccard(a: String, b: String): Double =
    jaccardUnsorted(rawShingles(a, ShingleK), rawShingles(b, ShingleK))

  /** Jaccard of the SETS of two unsorted hash arrays, repeats allowed:
    * jaccardSorted of their sorted distinct forms, bit for bit.
    */
  private[graft] def jaccardUnsorted(ha: Array[Long], hb: Array[Long]): Double = {
    if (ha.isEmpty && hb.isEmpty) return 1.0
    if (ha.isEmpty || hb.isEmpty) return 0.0
    val sa = new LongSet(ha.length)
    var i = 0
    while (i < ha.length) { sa.add(ha(i)); i += 1 }
    val sb = new LongSet(hb.length)
    var inter = 0
    i = 0
    while (i < hb.length) {
      if (sb.add(hb(i)) && sa.contains(hb(i))) inter += 1
      i += 1
    }
    inter.toDouble / (sa.size + sb.size - inter)
  }

  /** A fixed-capacity open-addressing set of longs (linear probing) for
    * at most `n` adds. 0 marks an empty slot, so 0 itself is tracked by
    * a flag. The keys are mix64 outputs, so their low bits index well.
    */
  private final class LongSet(n: Int) {
    private val slots = new Array[Long](
      Integer.highestOneBit(math.max(n, 2) * 2 - 1) << 1)
    private val mask = slots.length - 1
    private var hasZero = false
    var size = 0

    /** Adds `x`; true when it was not in the set. */
    def add(x: Long): Boolean = {
      if (x == 0L) {
        if (hasZero) return false
        hasZero = true; size += 1; return true
      }
      var i = (x ^ (x >>> 32)).toInt & mask
      while (slots(i) != 0L) {
        if (slots(i) == x) return false
        i = (i + 1) & mask
      }
      slots(i) = x; size += 1
      true
    }

    def contains(x: Long): Boolean = {
      if (x == 0L) return hasZero
      var i = (x ^ (x >>> 32)).toInt & mask
      while (slots(i) != 0L) {
        if (slots(i) == x) return true
        i = (i + 1) & mask
      }
      false
    }
  }

  /** 64-bit SimHash over whitespace tokens: per-bit vote of token
    * hashes, weighted by token frequency.
    */
  def simhash64(text: String): Long = {
    if (text == null) return 0L
    val votes = new Array[Int](64)
    var start = -1
    var i = 0
    val n = text.length
    def addToken(s: Int, e: Int): Unit = {
      if (e <= s) return
      var h = 0xcbf29ce484222325L
      var k = s
      while (k < e) { h = (h ^ text.charAt(k)) * 1099511628211L; k += 1 }
      h = mix64(h)
      var bit = 0
      while (bit < 64) {
        if (((h >>> bit) & 1L) == 1L) votes(bit) += 1 else votes(bit) -= 1
        bit += 1
      }
    }
    while (i <= n) {
      val ws = i == n || Character.isWhitespace(text.charAt(i))
      if (!ws && start < 0) start = i
      if (ws && start >= 0) { addToken(start, i); start = -1 }
      i += 1
    }
    var out = 0L
    var bit = 0
    while (bit < 64) { if (votes(bit) > 0) out |= (1L << bit); bit += 1 }
    out
  }

  /** Share of the most frequent word BIGRAM among all bigrams of the
    * lowercased whitespace-token stream, rounded at 1e-6 (rint) — the
    * repetition signal computed PER ROW instead of via an explode +
    * (doc_id, bigram) shuffle: a document is one row, so its bigram mode
    * never needed cross-row grouping (round-6 optimization; the oracle
    * SQL is unchanged — this must equal max(c)/sum(c) over the grouped
    * bigrams exactly).
    *
    * `lowered` must already be the engine's lower() output (the caller
    * lowercases via UTF8String.toLowerCase so Spark and kernel agree
    * byte-for-byte). Tokens: split on \s+ (Java regex, same as
    * split(text, "\\s+")), empties dropped; bigram = tokens(i) + " " +
    * tokens(i+1). < 2 tokens -> 0.0 (the old left-join null -> coalesce).
    * Sort + run-length scan: exact counts, no hash-collision risk.
    */
  def topBigramFrac(lowered: String): Double = {
    if (lowered == null) return 0.0
    val raw = Whitespace.split(lowered, -1)
    var n = 0
    var i = 0
    while (i < raw.length) { if (raw(i).nonEmpty) n += 1; i += 1 }
    if (n < 2) return 0.0
    val words = new Array[String](n)
    var w = 0
    i = 0
    while (i < raw.length) {
      if (raw(i).nonEmpty) { words(w) = raw(i); w += 1 }
      i += 1
    }
    val total = n - 1
    val bigrams = new Array[String](total)
    i = 0
    while (i < total) { bigrams(i) = words(i) + " " + words(i + 1); i += 1 }
    java.util.Arrays.sort(bigrams.asInstanceOf[Array[AnyRef]])
    var maxC = 0
    var run = 1
    i = 1
    while (i < total) {
      if (bigrams(i) == bigrams(i - 1)) run += 1
      else { if (run > maxC) maxC = run; run = 1 }
      i += 1
    }
    if (run > maxC) maxC = run
    math.rint(maxC.toDouble / total * 1e6) / 1e6
  }

  /** Jaccard of two SORTED DISTINCT shingle-hash arrays (the
    * shingleHashes output contract) — the merge half of ngramJaccard
    * factored out so a pair-heavy consumer (the quadratic exact baseline)
    * shingles each document ONCE and intersects per pair, instead of
    * re-shingling both texts for every pair. Same empty-set semantics as
    * ngramJaccard: both empty -> 1.0, one empty -> 0.0.
    */
  def jaccardSorted(ha: Array[Long], hb: Array[Long]): Double = {
    if (ha.isEmpty && hb.isEmpty) return 1.0
    if (ha.isEmpty || hb.isEmpty) return 0.0
    var inter = 0
    var i = 0
    var j = 0
    while (i < ha.length && j < hb.length) {
      val x = ha(i); val y = hb(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter.toDouble / (ha.length + hb.length - inter)
  }

  // --- language ID (n-gram/stopword heuristic) --------------------------

  private val StopWords: Map[String, Set[String]] = Map(
    "en" -> Set("the", "and", "of", "to", "in", "is", "that", "for", "it", "with"),
    "fr" -> Set("le", "la", "les", "de", "des", "et", "est", "que", "une", "dans"),
    "es" -> Set("el", "la", "los", "de", "que", "y", "es", "en", "una", "por"),
    "de" -> Set("der", "die", "das", "und", "ist", "von", "mit", "den", "ein", "nicht"),
    "zh" -> Set("的", "是", "在", "了", "和", "有", "我", "不", "这", "他"))

  // langId's argmax order: languages sorted by name (first wins a tie),
  // zh excluded (it is decided by the CJK ratio instead)
  private val StopWordsByLang: Seq[(String, Set[String])] =
    StopWords.toSeq.sortBy(_._1).filter(_._1 != "zh")

  /** Heuristic language ID: CJK char ratio short-circuits to zh; else the
    * language whose stopword set covers the most tokens; ties and
    * no-signal -> "und" (undetermined).
    */
  def langId(text: String): String = {
    if (text == null || text.isEmpty) return "und"
    var cjk = 0
    var total = 0
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (!Character.isWhitespace(c)) {
        total += 1
        if (c >= 0x4e00 && c <= 0x9fff) cjk += 1
      }
      i += 1
    }
    if (total > 0 && cjk.toDouble / total > 0.2) return "zh"
    val tokens = Whitespace.split(text.toLowerCase)
    var best = "und"
    var bestN = 0
    for ((lang, sw) <- StopWordsByLang) {
      val n = tokens.count(sw.contains)
      if (n > bestN) { best = lang; bestN = n }
    }
    best
  }

  /** Quality score in [0,1]: blend of length factor, alpha ratio, space
    * ratio sanity, and mean-word-length sanity (pinned formula; the
    * Gopher/C4-style filter heuristics family).
    */
  def qualityScore(text: String): Double = {
    if (text == null || text.isEmpty) return 0.0
    val n = text.length
    var alpha = 0
    var spaces = 0
    var i = 0
    while (i < n) {
      val c = text.charAt(i)
      if (Character.isLetter(c)) alpha += 1
      else if (c == ' ') spaces += 1
      i += 1
    }
    val words = spaces + 1
    val meanWordLen = (n - spaces).toDouble / words
    val lenFactor = math.min(1.0, n / 200.0)
    val alphaRatio = alpha.toDouble / n
    val wordLenSanity =
      if (meanWordLen >= 3 && meanWordLen <= 10) 1.0
      else if (meanWordLen < 3) meanWordLen / 3.0
      else 10.0 / meanWordLen
    val s = 0.3 * lenFactor + 0.4 * alphaRatio + 0.3 * wordLenSanity
    math.rint(s * 1e6) / 1e6
  }
}
