package graft

import graft.kernel._
import graft.model.DomNode
import org.scalacheck.{Arbitrary, Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property-based invariants (SURVEY.md §5.2): span validity,
  * normalization idempotence, extractor totality/determinism on
  * arbitrary inputs, layout reading-order stability under input
  * permutation, and the sort-free dedup kernels against their
  * sorted-distinct specs.
  */
class PropertySpec extends AnyFunSuite {

  /** Run a scalacheck property with a fixed seed (deterministic CI). */
  private def check(prop: Prop): Unit = {
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(300)
      .withInitialSeed(org.scalacheck.rng.Seed(42L))
    val res = SCTest.check(params, prop)
    assert(res.passed, res.status.toString)
  }

  private val anyText: Gen[String] = Gen.frequency(
    3 -> Gen.asciiPrintableStr,
    2 -> Gen.listOf(Gen.oneOf(
      "<p>", "</p>", "<div>", "</div>", "<a href=\"/x\">", "</a>",
      "&amp;", "&#64;", "word", " ", "\n", "{", "}", "\"text\":", "\"v\"",
      "1,2,3,4,run", "<script>", "</script>", "<!--", "-->"))
      .map(_.mkString),
    1 -> Gen.alphaNumStr)

  test("extractor is total and deterministic on arbitrary input") {
    check(Prop.forAll(anyText) { s =>
      val r1 = Extractor.extract(s)
      val r2 = Extractor.extract(s)
      r1 != null && r1.text != null &&
        r1.kind == r2.kind && r1.text == r2.text &&
        r1.spans.toSeq == r2.spans.toSeq
    })
  }

  test("spans always inside the source payload") {
    check(Prop.forAll(anyText) { s =>
      val r = Extractor.extract(s)
      r.spans.forall(sp =>
        sp.start >= 0 && sp.start <= sp.end && sp.end <= s.length)
    })
  }

  test("normalization is idempotent") {
    check(Prop.forAll(anyText) { s =>
      val once = TextDecoder.normalize(s)
      TextDecoder.normalize(once) == once
    })
  }

  test("extracted text is normalized (no runs of spaces, trimmed)") {
    check(Prop.forAll(anyText) { s =>
      val t = Extractor.extract(s).text
      !t.contains("  ") && t == t.trim
    })
  }

  test("tokenizer spans are ordered and non-overlapping") {
    check(Prop.forAll(anyText) { s =>
      val nodes = HtmlTokenizer.tokenize(s)
      nodes == null || nodes.sliding(2).forall {
        case Array(a: DomNode, b: DomNode) => a.srcEnd <= b.srcStart
        case _ => true
      }
    })
  }

  test("pdf layout is invariant under run-line permutation") {
    val runGen = for {
      x <- Gen.oneOf(72.0, 180.0, 330.0, 400.0)
      y <- Gen.choose(0, 40).map(72.0 + _ * 7.0)
      t <- Gen.nonEmptyListOf(Gen.alphaChar).map(_.mkString)
    } yield f"$x%.1f,$y%.1f,50,12,$t"
    check(Prop.forAll(Gen.nonEmptyListOf(runGen), Gen.long) { (runs, seed) =>
      val a = runs.mkString("\n")
      val rnd = new scala.util.Random(seed)
      val b = rnd.shuffle(runs).mkString("\n")
      val ta = Option(PdfLayout.extract(a)).map(_.map(_.text).toSeq)
      val tb = Option(PdfLayout.extract(b)).map(_.map(_.text).toSeq)
      ta == tb
    })
  }

  test("segmenter: block spans are disjoint and ordered, scores bounded") {
    val nodeGen = for {
      len <- Gen.choose(0, 120)
      link <- Gen.choose(0, len)
      boiler <- Gen.oneOf(true, false, false)
      head <- Gen.oneOf(true, false, false, false)
    } yield (len, link, boiler, head)
    check(Prop.forAll(Gen.listOf(nodeGen)) { specs =>
      var at = 0
      val nodes = specs.map { case (len, link, boiler, head) =>
        val n = DomNode("p", 1, link, boiler, head, code = false,
          "x" * len, at, at + len)
        at += len + 1
        n
      }.toArray
      val blocks = BlockSegmenter.segment(nodes)
      val ordered = blocks.sliding(2).forall {
        case Array(a, b) => a.span.end <= b.span.start
        case _ => true
      }
      ordered && blocks.forall(b => b.score >= 0 && b.score <= 1.0)
    })
  }

  // --- the sort-free dedup kernels against their sorted-distinct specs

  /** minhashSig's spec: the minima over the SORTED DISTINCT shingles. */
  private def sortedMinhash(t: String): Seq[Long] = {
    val hs = TextHash.shingleHashes(t)
    (0 until TextHash.NumHashes).map { j =>
      hs.foldLeft(Long.MaxValue)((m, h) =>
        math.min(m, TextHash.mix64(h ^ (j.toLong * 0xc2b2ae3d27d4eb4fL))))
    }
  }

  private def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)

  private def sortedJaccard(a: String, b: String) =
    TextHash.jaccardSorted(TextHash.shingleHashes(a), TextHash.shingleHashes(b))

  private val dedupText: Gen[String] = Gen.frequency(
    3 -> Gen.asciiPrintableStr,
    // heavy repetition: a few shingles, each repeated many times
    2 -> Gen.listOf(Gen.oneOf("ab", "abab", " ", "aaaaa", "x")).map(_.mkString),
    // non-ASCII, including surrogate pairs
    2 -> Gen.listOf(Gen.oneOf("\u00e9", "\u4e2d\u6587", "\ud83d\ude00", "\u00df", "a", " "))
      .map(_.mkString),
    // arbitrary UTF-16, lone surrogates included
    1 -> Arbitrary.arbitrary[String],
    // shorter than one shingle
    1 -> Gen.choose(0, TextHash.ShingleK - 1).map("x" * _))

  // a text and an edit of it, so the two share shingles
  private val textPair: Gen[(String, String)] = for {
    a <- dedupText
    i <- Gen.choose(0, a.length)
    j <- Gen.choose(i, a.length)
    ins <- dedupText
    other <- dedupText
    b <- Gen.frequency(4 -> Gen.const(a.take(i) + ins + a.drop(j)), 1 -> Gen.const(other))
  } yield (a, b)

  test("minhashSig == the minima over the sorted distinct shingles") {
    for (t <- Seq(null, "", "abcd", "abcde", "aaaaaaaaaaaa", "\ud83d\ude00" * 9))
      assert(TextHash.minhashSig(t).toSeq == sortedMinhash(t), String.valueOf(t))
    check(Prop.forAll(dedupText)(t => TextHash.minhashSig(t).toSeq == sortedMinhash(t)))
  }

  test("ngramJaccard is bit-equal to jaccardSorted over shingleHashes") {
    val fixed = Seq(null, "", "abcd", "abcde", "abcdef", "aaaaaaaaaa",
      "\ud83d\ude00" * 9)
    for (a <- fixed; b <- fixed)
      assert(bits(TextHash.ngramJaccard(a, b)) == bits(sortedJaccard(a, b)), (a, b))
    check(Prop.forAll(textPair) { case (a, b) =>
      bits(TextHash.ngramJaccard(a, b)) == bits(sortedJaccard(a, b))
    })
  }

  test("jaccardUnsorted == jaccardSorted of the sorted distinct sets, 0 and colliding hashes included") {
    // 0 is the open-addressing set's empty slot; (k << 32) | k all fold
    // to slot 0 and collide with each other
    val hash = Gen.frequency(3 -> Gen.choose(-3L, 3L),
      1 -> Gen.oneOf(Long.MinValue, Long.MaxValue),
      1 -> Gen.choose(0L, 40L).map(k => (k << 32) | k), 2 -> Arbitrary.arbitrary[Long])
    def sortedSet(xs: List[Long]) = xs.distinct.sorted.toArray
    check(Prop.forAll(Gen.listOf(hash), Gen.listOf(hash)) { (a, b) =>
      bits(TextHash.jaccardUnsorted(a.toArray, b.toArray)) ==
        bits(TextHash.jaccardSorted(sortedSet(a), sortedSet(b)))
    })
    assert(TextHash.jaccardUnsorted(Array(0L, 0L, 5L), Array(0L)) == 0.5)
    assert(TextHash.jaccardUnsorted(Array(0L), Array(7L)) == 0.0)
  }
}
