package graft.kernel

import graft.model.{Block, DomNode, Span}
import scala.collection.mutable.ArrayBuffer

/** Pinned segmentation parameters — the DBPostProcess config block
  * (thresh/box_thresh/min_size/max_candidates, db_postprocess.py:12-25)
  * made an explicit value so extractor VARIANTS can run side-by-side
  * (the DistillationModel A/B pattern, distillation_model.py:13-45).
  * `Default` IS the golden spec; `VariantB` is a deliberately different
  * tuning used by the A/B audit query.
  */
final case class ExtractParams(
    nodeThresh: Double,
    blockThresh: Double,
    minChars: Int,
    growThresh: Double,
    panLinkDelta: Double)

object ExtractParams {
  val Default: ExtractParams =
    ExtractParams(nodeThresh = 0.20, blockThresh = 0.45, minChars = 2,
      growThresh = 0.05, panLinkDelta = 0.5)
  /** A/B audit variant: stricter block gate, less unclip growth. */
  val VariantB: ExtractParams =
    Default.copy(blockThresh = 0.55, growThresh = 0.30)
  /** Third tuning: strictest block gate + tight PAN merge delta. */
  val VariantC: ExtractParams =
    Default.copy(blockThresh = 0.65, panLinkDelta = 0.2, minChars = 8)

  /** The N-variant submodel map (distillation_model.py:41-45 runs a DICT
    * of submodels, db_postprocess.py:197-226 post-processes per key):
    * variant index -> params. Extend this seq to add a variant; the A/B/C
    * audit query and the golden suite iterate over it.
    */
  val Variants: IndexedSeq[ExtractParams] =
    IndexedSeq(Default, VariantB, VariantC)

  def forVariant(v: Int): ExtractParams = {
    // fail loud on an out-of-range index (combineRank's style): a silent
    // Default fallback makes a typo'd variant audit report perfect
    // Default-vs-Default accuracy
    require(v >= 0 && v < Variants.size,
      s"variant $v out of range 0..${Variants.size - 1}")
    Variants(v)
  }
}

/** Node scoring + block segmentation + classification — the engine's
  * analogue of the DB postprocess chain
  * (pytocr/postprocess/db_postprocess.py:10-153):
  *
  *   prob map -> threshold mask -> connected components -> size filter
  *   -> mean-score filter -> unclip outward growth -> boxes
  *
  * becomes
  *
  *   node scores -> threshold mask -> contiguous runs -> min-chars filter
  *   -> mean-score filter -> unclip growth into adjacent low-score nodes
  *   -> blocks
  *
  * plus the PAN-style similarity gate (pan_postprocess_fast/pa.pyx:86-87:
  * a pixel joins a region only if its embedding is within distance 3 of
  * the region mean): here a weak node joins a block during unclip growth
  * only if its LINK DENSITY is within `panLinkDelta` of the seed run's
  * link density — a link-dense fragment does not get absorbed into a
  * low-link content block even when adjacent.
  *
  * All thresholds are pinned constants (ExtractParams.Default) — they are
  * the spec the golden equality tests assert (mirroring DBPostProcess's
  * thresh/box_thresh/min_size/max_candidates defaults,
  * db_postprocess.py:12-25,92,105-114).
  */
object BlockSegmenter {

  // aliases kept for tests/docs that reference the pinned defaults
  val NodeThresh: Double = ExtractParams.Default.nodeThresh
  val BlockThresh: Double = ExtractParams.Default.blockThresh
  val MinChars: Int = ExtractParams.Default.minChars
  // DBPostProcess.max_candidates analogue (db_postprocess.py:92) — not a
  // tuning knob, a safety valve; shared by all variants
  val MaxCandidates = 1000
  val GrowThresh: Double = ExtractParams.Default.growThresh
  val PanLinkDelta: Double = ExtractParams.Default.panLinkDelta

  /** Score one node — Boilerpipe/Readability-style text-density +
    * link-density heuristic (the "prob map" of the extraction):
    *  - boilerplate-ancestor nodes score 0 (nav/footer/script/... strip)
    *  - otherwise score = lengthFactor * (1 - linkRatio)
    *    where lengthFactor = min(1, decodedLen / 60.0)
    *  - headings get a floor of 0.5 (they are short but main-content)
    *  - code blocks get a floor of 0.6
    */
  def score(node: DomNode): Double = {
    if (node.boiler) return 0.0
    val len = node.text.length
    if (len == 0) return 0.0
    val linkRatio = node.linkChars.toDouble / len
    val base = math.min(1.0, len / 60.0) * (1.0 - linkRatio)
    if (node.heading) math.max(base, 0.5)
    else if (node.code) math.max(base, 0.6)
    else base
  }

  def scores(nodes: Array[DomNode]): Array[Double] = {
    val sc = new Array[Double](nodes.length)
    var i = 0
    while (i < nodes.length) { sc(i) = score(nodes(i)); i += 1 }
    sc
  }

  /** Classify a block from its member nodes — the ClsPostProcess argmax
    * analogue (pytocr/postprocess/cls_postprocess.py:4-20). Priority is
    * pinned: title beats code beats main.
    */
  def classify(nodes: Seq[DomNode]): String = {
    if (nodes.nonEmpty && nodes.forall(_.heading)) "title"
    else if (nodes.nonEmpty && nodes.forall(_.code)) "code"
    else "main"
  }

  /** Segmentation result: surviving blocks plus the best REJECTED
    * candidate (longest normalized text among runs that passed the node
    * threshold but failed the block gate; null when none) — the input to
    * Extractor.selectMain's never-emit-an-empty-page fallback.
    */
  final case class SegResult(blocks: Array[Block], bestRejected: Block)

  /** Default-params surviving blocks (golden-spec entry point). */
  def segment(nodes: Array[DomNode]): Array[Block] =
    segmentCore(nodes, ExtractParams.Default).blocks

  /** Segment a scored node array into content blocks. Pure, deterministic,
    * per-row (no shuffle — rows are independent, like the per-image C++
    * kernel db_postprocess.cpp:231-358).
    */
  def segmentCore(nodes: Array[DomNode], p: ExtractParams): SegResult = {
    if (nodes == null || nodes.isEmpty)
      return SegResult(Array.empty, null)
    val sc = scores(nodes)
    val n = nodes.length
    val out = new ArrayBuffer[Block](8)
    var bestRejected: Block = null
    var i = 0
    var frontier = 0 // first node not yet owned by an emitted block
    while (i < n && out.length < MaxCandidates) {
      if (sc(i) > p.nodeThresh) {
        // contiguous run of above-threshold nodes (connected component)
        var j = i
        while (j + 1 < n && sc(j + 1) > p.nodeThresh) j += 1
        // seed link density over the strict run [i, j] — the "region
        // mean embedding" of the PAN merge gate
        var seedChars = 0L
        var seedLink = 0L
        var k = i
        while (k <= j) {
          seedChars += nodes(k).text.length
          seedLink += nodes(k).linkChars
          k += 1
        }
        val seedLinkDensity =
          if (seedChars == 0) 0.0 else seedLink.toDouble / seedChars
        // unclip: grow into adjacent weak (but non-zero) nodes — the
        // outward polygon offset (db_postprocess.py:146-153) / PSE BFS
        // widening (pse.pyx:13-69) analogue; never past the previous
        // block's territory (blocks stay disjoint). A weak node joins
        // only if its link density agrees with the seed's (PAN gate).
        def mayGrow(idx: Int): Boolean = {
          if (sc(idx) <= p.growThresh) return false
          val len = nodes(idx).text.length
          val linkRatio =
            if (len == 0) 0.0 else nodes(idx).linkChars.toDouble / len
          math.abs(linkRatio - seedLinkDensity) <= p.panLinkDelta
        }
        var lo = i
        var hi = j
        while (lo - 1 >= frontier && mayGrow(lo - 1)) lo -= 1
        while (hi + 1 < n && mayGrow(hi + 1)) hi += 1
        // slice-free stats over [lo, hi], then one presized builder that
        // each node's text is normalized straight into
        var sum = 0.0
        var allHeading = true
        var allCode = true
        var chars = hi - lo
        k = lo
        while (k <= hi) {
          sum += sc(k)
          if (!nodes(k).heading) allHeading = false
          if (!nodes(k).code) allCode = false
          chars += nodes(k).text.length
          k += 1
        }
        val sb = new java.lang.StringBuilder(chars)
        k = lo
        while (k <= hi) {
          TextDecoder.appendNormalized(sb, nodes(k).text,
            if (sb.length > 0) '\n' else 0)
          k += 1
        }
        val mean = sum / (hi - lo + 1)  // box_score analogue
        val text = sb.toString
        val kind = if (allHeading) "title" else if (allCode) "code" else "main"
        if (text.length >= p.minChars && mean >= p.blockThresh) {
          val span = Span(nodes(lo).srcStart, nodes(hi).srcEnd, kind)
          out += Block(span, kind, roundScore(mean), text)
          frontier = hi + 1
        } else if (text.nonEmpty &&
            (bestRejected == null || text.length > bestRejected.text.length)) {
          // candidate existed but failed the gate — remember the longest
          // (ties keep the earlier run; document order is content-driven)
          bestRejected = Block(
            Span(nodes(lo).srcStart, nodes(hi).srcEnd, kind),
            kind, roundScore(mean), text)
        }
        i = hi + 1
      } else i += 1
    }
    SegResult(out.toArray, bestRejected)
  }

  /** Pin score precision so golden equality is safe across JIT/codegen. */
  def roundScore(d: Double): Double = math.rint(d * 1e6) / 1e6
}
