package graft.pipeline

import graft.io.CacheScope
import graft.ops.{DedupOps, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The END-TO-END training-data pipeline, COMPOSED — the reference's own
  * one-run shape (deploy/pytorch/run_ocr.py:168-231: detect -> crop ->
  * recognize -> assemble as ONE program, not per-stage evals) applied to
  * the corpus tail:
  *
  *   transcripts -> extract -> convDocs      (the docs table)
  *     -> exact dedup (min-id per md5)       (drop byte-identical docs)
  *     -> minhash LSH candidates -> verify   (near-dup pairs)
  *     -> connected components               (cluster resolution)
  *     -> survivors (min-id per cluster)
  *     -> quality/language gate              (kept corpus + reasons)
  *
  * Composition discipline at 100 TB:
  *  - the docs table is the multi-consumer hub (exact-dedup agg, the
  *    sig pass, the verify text joins, the survivor anti-join, the
  *    gate). It is MATERIALIZED exactly once — the driver query dumps
  *    it to parquet (the production job writes the real table via
  *    TableIO.runCheckpointed) — so no stage re-extracts what a prior
  *    stage already computed (CorpusSpec asserts extract_turn is absent
  *    from the tail plan).
  *  - every post-docs stage keys by doc_id or band key and moves
  *    ids-only rows except the two verify text joins, which are
  *    proportional to the candidate set, not the corpus.
  *  - clusterLabels resolves the verified PAIR list (orders of
  *    magnitude smaller than the corpus) eagerly: one checkpoint of the
  *    pairs, then a union-find on the driver when they fit its bound
  *    (two jobs), else O(log n) star-contraction rounds first. So this
  *    composed call is a multi-job driver program (as is
  *    extractDistributedRank, whose boundary aggregate runs before its
  *    result is returned), not a single lazy plan.
  */
object CorpusPipeline {

  /** The documents view of a transcript corpus: extract -> salted
    * convDocs -> (doc_id, conv_id, n_turns, text). doc_id is the numeric
    * conv suffix — deterministic and SQL-replicable (the dedup family
    * keys on a long id).
    */
  def corpusDocs(turns: DataFrame): DataFrame =
    ExtractPipeline.convDocs(ExtractPipeline.extract(turns))
      .select(
        regexp_extract(col("conv_id"), "(\\d+)$", 1).cast("long")
          .as("doc_id"),
        col("conv_id"), col("n_turns"), col("doc").as("text"))

  /** Exact-dedup survivors: one doc per distinct text, min doc_id wins.
    * Left-semi against the 16-byte-keyed keeper set — the doc text
    * shuffles once for the md5 agg (map-side hashed), never joins back.
    */
  def exactSurvivors(docs: DataFrame): DataFrame =
    docs.join(
      DedupOps.exactDedup(docs).select(col("keep_id").as("doc_id")),
      Seq("doc_id"), "left_semi")

  /** The shared post-pairs tail: clusters -> survivors -> gate (one
    * definition, so corpus(), runCorpus() and SparkEntry's x_corpus
    * queries cannot drift).
    */
  private[graft] def gateTail(exact: DataFrame, pairs: DataFrame,
      minQuality: Double, langs: Seq[String]): DataFrame =
    TextOps.qualityFilter(
      DedupOps.dedupSurvivors(exact, DedupOps.clusterLabels(pairs)),
      minQuality, langs)

  /** The composed tail over a MATERIALIZED docs table (persisted or
    * read back from storage — passing a raw lazy extraction plan here
    * would re-run it once per consumer). Returns the kept corpus with
    * gate annotations: docs columns + (quality, lang_pred). Consume it
    * inside a CacheScope (runCorpus does) to release what it cached.
    */
  def corpus(docs: DataFrame, minJaccard: Double = 0.5,
      minQuality: Double = 0.8,
      langs: Seq[String] = Seq("en")): DataFrame = {
    // exact survivors feed four consumers (sig pass, 2x verify join,
    // anti-join, gate): persisted for the same hub reason as docs, and
    // released with the minhash sig pass by the caller's CacheScope
    val exact = CacheScope.cache(exactSurvivors(docs))
    val pairs = DedupOps.verifyJaccard(
        DedupOps.minhashCandidates(exact, minJaccard), exact, minJaccard)
      .select(col("id_a"), col("id_b"))
    gateTail(exact, pairs, minQuality, langs)
  }

  /** corpus() materialized through `action`, then every cache and
    * checkpoint it took released — the shape for long-lived sessions.
    */
  def runCorpus[A](docs: DataFrame, minJaccard: Double = 0.5,
      minQuality: Double = 0.8, langs: Seq[String] = Seq("en"))(
      action: DataFrame => A): A =
    CacheScope(action(corpus(docs, minJaccard, minQuality, langs)))
}
