package graft.expr

import graft.kernel.TextHash
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Static kernel bridges shared by interpreted eval and generated code —
  * all custom functions stay inside whole-stage codegen via a single
  * static call (the reference's cpp_speedup toggle made structural:
  * there is only the fast path).
  */
object TextExprKernels {
  private val K = "graft.expr.TextExprKernels$.MODULE$"
  val Ref: String = K

  /** Evaluation counters for the two expensive text-hash kernels
    * (LongAdder: striped, ~no contention, <1ns next to a full-text hash
    * pass). They exist so "the hashing runs ONCE per row" is a counted
    * FACT, not a plan-string inference — BandingSpec resets them, runs a
    * candidate op, and asserts the count equals the row count (local
    * mode only: in a real cluster each executor JVM counts its own rows).
    * `jaccardEvals` counts the per-pair verify the same way: CorpusSpec
    * asserts one runCorpus evaluates it once per screened candidate,
    * and the gate kernels (`qualityEvals`, `langEvals`) once per doc
    * that reaches the gate.
    */
  val sigEvals = new java.util.concurrent.atomic.LongAdder
  val simhashEvals = new java.util.concurrent.atomic.LongAdder
  val jaccardEvals = new java.util.concurrent.atomic.LongAdder
  val qualityEvals = new java.util.concurrent.atomic.LongAdder
  val langEvals = new java.util.concurrent.atomic.LongAdder

  def minhashSig(s: UTF8String): ArrayData = {
    sigEvals.increment()
    new GenericArrayData(TextHash.minhashSig(s.toString))
  }
  def minhashBands(s: UTF8String): ArrayData = {
    sigEvals.increment() // bands-from-text runs the full sig pass too
    new GenericArrayData(TextHash.lshBandKeys(TextHash.minhashSig(s.toString)))
  }
  def minhashBandsOfSig(sig: ArrayData): ArrayData =
    new GenericArrayData(TextHash.lshBandKeys(sig.toLongArray()))
  def simhash(s: UTF8String): Long = {
    simhashEvals.increment()
    TextHash.simhash64(s.toString)
  }
  def ngramJaccard(a: UTF8String, b: UTF8String): Double = {
    jaccardEvals.increment()
    TextHash.ngramJaccard(a.toString, b.toString)
  }
  /** Positional-match count of two signatures / NumHashes, or -1 where
    * the recipe it replaces, aggregate(zip_with(a, b, x == y)), is null:
    * unequal lengths (zip_with pads with nulls) or a null element.
    */
  def sigMatchFrac(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    if (b.numElements() != n) return -1.0
    var m = 0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return -1.0
      if (a.getLong(i) == b.getLong(i)) m += 1
      i += 1
    }
    m / TextHash.NumHashes.toDouble
  }
  def shingleHashes(s: UTF8String): ArrayData =
    new GenericArrayData(TextHash.shingleHashes(s.toString))
  def jaccardSorted(a: ArrayData, b: ArrayData): Double =
    TextHash.jaccardSorted(a.toLongArray(), b.toLongArray())
  /** Lowercasing goes through UTF8String.toLowerCase — the SAME routine
    * Spark's lower() uses — so the per-row kernel is byte-identical to
    * the lower(text) the old explode route fed the bigram shuffle.
    */
  def bigramTopFrac(s: UTF8String): Double =
    TextHash.topBigramFrac(s.toLowerCase.toString)
  def langId(s: UTF8String): UTF8String = {
    langEvals.increment()
    UTF8String.fromString(TextHash.langId(s.toString))
  }
  def quality(s: UTF8String): Double = {
    qualityEvals.increment()
    TextHash.qualityScore(s.toString)
  }

  def cosine(a: ArrayData, b: ArrayData): Double = {
    val x = a.toFloatArray()
    val y = b.toFloatArray()
    val n = math.min(x.length, y.length)
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      dot += x(i).toDouble * y(i); nx += x(i).toDouble * x(i)
      ny += y(i).toDouble * y(i); i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0 else dot / math.sqrt(nx * ny)
  }
}

private[expr] trait StaticUnary extends UnaryExpression {
  /** static call target, e.g. "...$.MODULE$.simhash" */
  def staticFn: String
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"${TextExprKernels.Ref}.$staticFn($c)")
}

private[expr] trait StaticBinary extends BinaryExpression {
  def staticFn: String
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (l, r) => s"${TextExprKernels.Ref}.$staticFn($l, $r)")
}

/** minhash_sig(text) -> array<bigint>[64] (MinHash signature). */
case class MinHashSig(child: Expression) extends StaticUnary {
  def staticFn = "minhashSig"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName = "minhash_sig"
  override def nullSafeEval(v: Any): Any =
    TextExprKernels.minhashSig(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** minhash_bands(text) -> array<bigint>[16] of LSH band keys. */
case class MinHashBands(child: Expression) extends StaticUnary {
  def staticFn = "minhashBands"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName = "minhash_bands"
  override def nullSafeEval(v: Any): Any =
    TextExprKernels.minhashBands(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** minhash_bands_of_sig(sig) -> array<bigint>[16]: the band fold ALONE,
  * over an already-computed signature column — so a pipeline that needs
  * both the bands (bucketing) and the signature (screening) computes the
  * expensive shingle+64-min pass ONCE and derives the bands from it
  * (DedupOps.minhashCandidates), instead of hashing the text twice via
  * minhash_bands(text) + minhash_sig(text).
  */
case class MinHashBandsOfSig(child: Expression) extends StaticUnary {
  def staticFn = "minhashBandsOfSig"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName = "minhash_bands_of_sig"
  override def nullSafeEval(v: Any): Any =
    TextExprKernels.minhashBandsOfSig(v.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** simhash64(text) -> bigint. */
case class SimHash64(child: Expression) extends StaticUnary {
  def staticFn = "simhash"
  override def dataType: DataType = LongType
  override def prettyName = "simhash64"
  override def nullSafeEval(v: Any): Any =
    TextExprKernels.simhash(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** ngram_jaccard(a, b) -> double (exact 5-gram Jaccard). */
case class NgramJaccard(left: Expression, right: Expression)
    extends StaticBinary {
  def staticFn = "ngramJaccard"
  override def dataType: DataType = DoubleType
  override def prettyName = "ngram_jaccard"
  override def nullSafeEval(a: Any, b: Any): Any =
    TextExprKernels.ngramJaccard(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** sig_match_frac(sig_a, sig_b) -> double: the signature screen's
  * jaccard estimate, positional matches / NumHashes, bit-equal to
  * aggregate(zip_with(sig_a, sig_b, (x, y) -> int(x = y)), 0, +) /
  * NumHashes and null wherever that is. The higher-order recipe is
  * interpreted and took its join out of whole-stage codegen; this stays
  * in it.
  */
case class SigMatchFrac(left: Expression, right: Expression)
    extends StaticBinary {
  def staticFn = "sigMatchFrac"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName = "sig_match_frac"
  override def nullSafeEval(a: Any, b: Any): Any = {
    val f = TextExprKernels.sigMatchFrac(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (f < 0) null else f
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) =>
      s"""${ev.value} = ${TextExprKernels.Ref}.$staticFn($l, $r);
         |${ev.isNull} = ${ev.value} < 0;""".stripMargin)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** shingle_hashes(text) -> array<bigint>: the SORTED DISTINCT 5-gram
  * shingle hash set — the per-document half of ngram_jaccard, factored
  * out so pair-quadratic consumers shingle each document once
  * (ngramJaccardPairsExact) instead of once per pair.
  */
case class ShingleHashes(child: Expression) extends StaticUnary {
  def staticFn = "shingleHashes"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName = "shingle_hashes"
  override def nullSafeEval(v: Any): Any =
    TextExprKernels.shingleHashes(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** jaccard_sorted(a, b) -> double over two shingle_hashes outputs;
  * jaccard_sorted(shingle_hashes(a), shingle_hashes(b)) ==
  * ngram_jaccard(a, b) by construction (same kernel halves).
  */
case class JaccardSorted(left: Expression, right: Expression)
    extends StaticBinary {
  def staticFn = "jaccardSorted"
  override def dataType: DataType = DoubleType
  override def prettyName = "jaccard_sorted"
  override def nullSafeEval(a: Any, b: Any): Any =
    TextExprKernels.jaccardSorted(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** bigram_top_frac(text) -> double: the top word-bigram share of
  * lower(text), computed per row (a document is one row — its bigram
  * mode never needed the explode + (doc_id, bigram) shuffle).
  */
case class BigramTopFrac(child: Expression) extends StaticUnary {
  def staticFn = "bigramTopFrac"
  override def dataType: DataType = DoubleType
  override def prettyName = "bigram_top_frac"
  override def nullSafeEval(v: Any): Any =
    TextExprKernels.bigramTopFrac(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** lang_id(text) -> string (n-gram/stopword heuristic). */
case class LangId(child: Expression) extends StaticUnary {
  def staticFn = "langId"
  override def dataType: DataType = StringType
  override def prettyName = "lang_id"
  override def nullSafeEval(v: Any): Any =
    TextExprKernels.langId(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** quality_score(text) -> double in [0,1]. */
case class QualityScore(child: Expression) extends StaticUnary {
  def staticFn = "quality"
  override def dataType: DataType = DoubleType
  override def prettyName = "quality_score"
  override def nullSafeEval(v: Any): Any =
    TextExprKernels.quality(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** cosine_sim(array<float>, array<float>) -> double. */
case class CosineSim(left: Expression, right: Expression)
    extends StaticBinary {
  def staticFn = "cosine"
  override def dataType: DataType = DoubleType
  override def prettyName = "cosine_sim"
  override def nullSafeEval(a: Any, b: Any): Any =
    TextExprKernels.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}
