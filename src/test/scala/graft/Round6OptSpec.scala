package graft

import graft.expr.Functions._
import graft.kernel.TextHash
import graft.ops.{DedupOps, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-6 optimization equivalence + plan-shape pins: every operator
  * restructured for performance must produce BIT-IDENTICAL rows to the
  * round-5 shape (re-implemented inline here as the reference), and the
  * claimed plan properties (no operator-embedded global sort, one
  * tokenize pass, one JSON roundtrip) are asserted on the plan.
  */
class Round6OptSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")

  // --- repetitionReport: per-row bigram mode == old explode route -------

  /** The round-5 shuffle-based repetition report, kept as the test
    * reference for the per-row kernel rewrite.
    */
  private def repetitionReportOld(d: DataFrame): DataFrame = {
    val lines = filter(split(col("text"), "\n"), l => length(trim(l)) > 0)
    val words = filter(split(lower(col("text")), "\\s+"), w => length(w) > 0)
    val base = d.select(col("doc_id"), lines.as("lines"), words.as("words"))
    val lineAgg = base.select(
      col("doc_id"),
      size(col("lines")).cast("long").as("n_lines"),
      size(array_distinct(col("lines"))).cast("long").as("n_distinct_lines"),
      when(size(col("lines")) === 0, lit(0.0)).otherwise(
        rint((lit(1.0) - size(array_distinct(col("lines"))).cast("double") /
          size(col("lines"))) * 1e6) / 1e6).as("dup_line_ratio"))
    val bigrams = base.select(col("doc_id"),
      explode(when(size(col("words")) >= 2,
        transform(sequence(lit(1), size(col("words")) - 1),
          i => concat_ws(" ", element_at(col("words"), i),
            element_at(col("words"), i + 1))))
        .otherwise(array().cast("array<string>"))).as("bigram"))
    val top = bigrams.groupBy(col("doc_id"), col("bigram"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg((rint(max(col("c")).cast("double") / sum(col("c")) * 1e6) / 1e6)
        .as("top_bigram_frac"))
    lineAgg.join(top, Seq("doc_id"), "left")
      .withColumn("top_bigram_frac", coalesce(col("top_bigram_frac"), lit(0.0)))
  }

  test("repetitionReport: per-row kernel == round-5 shuffle route, bit-exact") {
    import spark.implicits._
    val edge = Seq(
      (9001L, null.asInstanceOf[String]),
      (9002L, ""), (9003L, "word"),
      (9004L, "go go go go"),
      (9005L, "a b a b a b"),
      (9006L, "Tabs\tand\nnewlines mixed  double  spaces trailing "),
      (9007L, "Ünïcode wörds Ünïcode wörds ÜNÏCODE WÖRDS"),
      (9008L, " leading space bigram leading space bigram"))
      .toDF("doc_id", "text")
    for (d <- Seq(docs, edge)) {
      val newRows = TextOps.repetitionReport(d).orderBy(col("doc_id"))
        .collect().map(_.toSeq)
      val oldRows = repetitionReportOld(d).orderBy(col("doc_id"))
        .collect().map(_.toSeq)
      assert(newRows.toSeq == oldRows.toSeq)
    }
  }

  test("repetitionReport: zero exchanges in the operator (narrow per-row)") {
    val plan = TextOps.repetitionReport(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"repetitionReport must compile with no shuffle:\n$plan")
    assert(!plan.contains("Generate"),
      s"no bigram explode expected after the per-row rewrite:\n$plan")
  }

  // --- shingle-once jaccard == per-pair ngram_jaccard -------------------

  test("jaccard_sorted(shingle_hashes) == ngram_jaccard, kernel and expr") {
    val texts = docs.limit(30).collect().map(_.getAs[String]("text")) ++
      Seq("", "abc", "abcd", "abcde", "abcdef",
        "the quick brown fox", "the quick brown cat")
    for (a <- texts; b <- texts) {
      assert(TextHash.jaccardSorted(
        TextHash.shingleHashes(a), TextHash.shingleHashes(b)) ==
        TextHash.ngramJaccard(a, b))
    }
  }

  test("ngramJaccardPairsExact: shingle-once shape == per-pair recompute") {
    import spark.implicits._
    val d = docs.limit(60)
    val newP = DedupOps.ngramJaccardPairsExact(d, 0.25)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // round-5 reference: join texts, ngram_jaccard per pair
    val t = d.select(col("doc_id"), col("text"))
    val oldP = t.as("a").join(t.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        ngram_jaccard(col("a.text"), col("b.text")).as("jaccard"))
      .filter(col("jaccard") >= 0.25)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(newP == oldP && newP.nonEmpty)
    // null text rows drop on both routes
    val withNull = d.select(col("doc_id"), col("text")).unionByName(
      Seq((99999L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val np = DedupOps.ngramJaccardPairsExact(withNull, 0.25).collect()
    assert(!np.exists(r => r.getLong(0) == 99999L || r.getLong(1) == 99999L))
  }

  // --- keywords: one tokenize pass --------------------------------------

  test("keywords: rows identical to the round-5 two-pass shape") {
    import org.apache.spark.sql.expressions.Window
    val d = docs
    // round-5 reference: tf -> dfreq re-aggregation + join
    val nn = d.agg(count(lit(1)).as("corpus_n"))
    val toks = d.select(col("doc_id"),
      explode(filter(split(lower(col("text")), "\\s+"),
        t => length(t) > 0)).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf.join(dfreq, "term")
      .crossJoin(broadcast(nn))
      .withColumn("idf",
        rint(log((col("corpus_n") + 1.0) / (col("df") + 1.0)) * 1e6) / 1e6)
      .withColumn("tfidf", rint(col("tf") * col("idf") * 1e6) / 1e6)
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    val oldK = scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("term"),
        col("tf"), col("df"), col("tfidf"))
      .collect().map(_.toSeq).toSet
    val newK = TextOps.keywords(d, k = 3).collect().map(_.toSeq).toSet
    assert(newK == oldK && newK.nonEmpty)
  }

  // --- operator-embedded sorts are gone (driver queries order instead) --

  test("TextOps operators compile with no Sort and no Exchange") {
    val narrow = Seq(
      "tokenCounts" -> TextOps.tokenCounts(docs),
      "qualityReport" -> TextOps.qualityReport(docs),
      "redactPii" -> TextOps.redactPii(docs),
      "chunk" -> TextOps.chunk(docs, 300, 50),
      "fingerprints" -> TextOps.fingerprints(docs),
      "repetitionReport" -> TextOps.repetitionReport(docs))
    for ((name, df) <- narrow) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Sort") && !plan.contains("Exchange"),
        s"$name must stay narrow (no Sort/Exchange):\n$plan")
    }
    // keywords aggregates by design, but must not carry a global Sort
    // (rangepartitioning) — ordering is the driver query's business
    val kwPlan = TextOps.keywords(docs, k = 3)
      .queryExecution.executedPlan.toString
    assert(!kwPlan.contains("rangepartitioning"),
      s"keywords must not embed a global sort:\n$kwPlan")
  }

  // --- q_from_json: one JSON roundtrip ----------------------------------

  test("q_from_json: single from_json evaluation; rows unchanged") {
    // sf0.01: the has_big filter keeps rows there (sf0.001 keeps none)
    val sfDir = "/root/testdata/sf0.01"
    val q = SparkEntry.queries("q_from_json")(spark, sfDir)
    val plan = q.queryExecution.executedPlan.toString
    val nParse = "from_json".r.findAllIn(plan).length
    assert(nParse == 1,
      s"expected exactly one from_json in the plan, found $nParse:\n$plan")
    // equivalence vs the round-5 shape (filter over the parsed column)
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
    val jsonSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, prio STRING, items ARRAY<BIGINT>")
    val oldQ = o.select(to_json(struct(
        col("o_orderkey").cast("long").as("id"),
        col("o_orderpriority").as("prio"),
        array(col("o_custkey").cast("long"),
          pmod(col("o_orderkey"), lit(1000)).cast("long"),
          length(col("o_orderstatus")).cast("long")).as("items"))).as("j"))
      .select(from_json(col("j"), jsonSchema).as("p"))
      .select(col("p.id").as("id"), col("p.prio").as("prio"),
        size(col("p.items")).cast("long").as("n_items"),
        aggregate(col("p.items"), lit(0L), (a, x) => a + x).as("items_sum"),
        exists(col("p.items"), x => x > 1000).as("has_big"))
      .filter(col("has_big"))
      .orderBy(col("id"))
    assert(q.collect().map(_.toSeq).toSeq ==
      oldQ.collect().map(_.toSeq).toSeq)
    assert(q.count() > 0)
  }

  // --- IVF append: replayed batch detected and skipped ------------------

  test("ivfAppendIndexed: replaying the same batch is an idempotent no-op") {
    import graft.ops.SimilarityOps
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val base = java.nio.file.Files
      .createTempDirectory("graft_r6_ivf_replay").toString + "/index"
    val existing = embs.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val batch = embs.filter(pmod(col("vec_id"), lit(5)) === 0)
    SimilarityOps.buildIvfIndexed(spark, existing, base, nCentroids = 4)
    SimilarityOps.ivfAppendIndexed(spark, base, batch)
    val meta1 = graft.io.FsUtil.readString(s"$base/_graft_ivf_idx_meta").get
    val rows1 = spark.read.parquet(s"$base/data").count()
    assert(SimilarityOps.ivfIndexedMatches(base, embs))
    // a retried append of the SAME batch must not duplicate its rows
    SimilarityOps.ivfAppendIndexed(spark, base, batch)
    assert(graft.io.FsUtil.readString(s"$base/_graft_ivf_idx_meta").get
      == meta1, "meta must be unchanged on replay")
    assert(spark.read.parquet(s"$base/data").count() == rows1,
      "data must be unchanged on replay")
    assert(SimilarityOps.ivfIndexedMatches(base, embs))
  }

  // --- incremental dedup cache wrapper ----------------------------------

  test("CacheScope { incrementalMinhashCandidates }: same pairs, sig cache released") {
    import SparkTestSession.{poll, rddsWithBlocks}
    spark.sharedState.cacheManager.clearCache()
    val d = docs
    val existing = d.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val batch = d.filter(pmod(col("doc_id"), lit(5)) === 0)
    val idxPath = java.nio.file.Files
      .createTempDirectory("graft_r6_incr").toString + "/index"
    val (idxBands, idxSigs) =
      DedupOps.ensureMinhashIndex(spark, existing, idxPath)
    val before = rddsWithBlocks()
    val (viaScope, taken) = graft.io.CacheScope {
      (DedupOps.incrementalMinhashCandidates(batch, idxBands, idxSigs, 0.6)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
        poll(rddsWithBlocks() -- before)(_.nonEmpty))
    }
    assert(taken.nonEmpty, "the sig cache holds blocks inside the scope")
    val left = poll(rddsWithBlocks() -- before)(_.isEmpty)
    assert(left.isEmpty && spark.sharedState.cacheManager.isEmpty,
      s"the scope must release the new-batch sig cache; RDDs holding blocks: $left")
    val viaLazy = DedupOps.incrementalMinhashCandidates(
        batch, idxBands, idxSigs, 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.sharedState.cacheManager.clearCache()
    assert(viaScope == viaLazy)
  }
}
