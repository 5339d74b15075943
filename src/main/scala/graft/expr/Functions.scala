package graft.expr

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.graftshim.ColumnBridge

/** Column-API + SQL surface of the engine's custom Catalyst expressions —
  * the build_post_process/name-dispatch factory of the reference
  * (pytocr/postprocess/__init__.py:13-30) recast as FunctionRegistry
  * registration.
  */
object Functions {

  /** extract_turn(text): the full per-turn extractor. */
  def extract_turn(c: Column): Column =
    ColumnBridge.column(ExtractTurn(ColumnBridge.expression(c)))

  /** extract_turn with an explicit params variant (A/B audits;
    * 0 = golden default, 1 = ExtractParams.VariantB).
    */
  def extract_turn_variant(c: Column, variant: Int): Column =
    ColumnBridge.column(ExtractTurn(ColumnBridge.expression(c), variant))

  /** conv_rank(conv_id): ExtractPipeline's local rank (exchange-free and
    * distributed paths); correct only directly above a local sort on
    * conv_id (see ConvRank).
    */
  private[graft] def conv_rank(c: Column): Column =
    ColumnBridge.column(ConvRank(ColumnBridge.expression(c)))

  def minhash_sig(c: Column): Column =
    ColumnBridge.column(MinHashSig(ColumnBridge.expression(c)))
  def minhash_bands(c: Column): Column =
    ColumnBridge.column(MinHashBands(ColumnBridge.expression(c)))
  def minhash_bands_of_sig(c: Column): Column =
    ColumnBridge.column(MinHashBandsOfSig(ColumnBridge.expression(c)))
  def simhash64(c: Column): Column =
    ColumnBridge.column(SimHash64(ColumnBridge.expression(c)))
  def ngram_jaccard(a: Column, b: Column): Column =
    ColumnBridge.column(
      NgramJaccard(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def sig_match_frac(a: Column, b: Column): Column =
    ColumnBridge.column(
      SigMatchFrac(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def shingle_hashes(c: Column): Column =
    ColumnBridge.column(ShingleHashes(ColumnBridge.expression(c)))
  def jaccard_sorted(a: Column, b: Column): Column =
    ColumnBridge.column(
      JaccardSorted(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def bigram_top_frac(c: Column): Column =
    ColumnBridge.column(BigramTopFrac(ColumnBridge.expression(c)))
  def lang_id(c: Column): Column =
    ColumnBridge.column(LangId(ColumnBridge.expression(c)))
  def quality_score(c: Column): Column =
    ColumnBridge.column(QualityScore(ColumnBridge.expression(c)))
  def cosine_sim(a: Column, b: Column): Column =
    ColumnBridge.column(
      CosineSim(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Register SQL names on a session (idempotent). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction(
      "extract_turn", exprs => ExtractTurn(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction(
      "minhash_sig", exprs => MinHashSig(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction(
      "minhash_bands", exprs => MinHashBands(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction(
      "minhash_bands_of_sig",
      exprs => MinHashBandsOfSig(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction(
      "simhash64", exprs => SimHash64(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction(
      "ngram_jaccard", exprs => NgramJaccard(exprs.head, exprs(1)), "scala_udf")
    reg.createOrReplaceTempFunction(
      "shingle_hashes", exprs => ShingleHashes(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction(
      "jaccard_sorted", exprs => JaccardSorted(exprs.head, exprs(1)), "scala_udf")
    reg.createOrReplaceTempFunction(
      "bigram_top_frac", exprs => BigramTopFrac(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction(
      "lang_id", exprs => LangId(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction(
      "quality_score", exprs => QualityScore(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction(
      "cosine_sim", exprs => CosineSim(exprs.head, exprs(1)), "scala_udf")
  }
}
