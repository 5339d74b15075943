package graft

import graft.data.TranscriptGen
import graft.io.CacheScope
import graft.ops.{DedupOps, SimilarityOps, TextOps}
import graft.pipeline.{CorpusPipeline, ExtractPipeline}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.util.control.NonFatal

/** Query contract (SURVEY.md §7): `entry`, `transcripts`, and the named
  * queries that Verify, Bench and BenchExtra run through `run`, each
  * with its DuckDB oracle.
  *
  * Each query is ONE `Query` declaration: its name, the dumps it needs,
  * its Spark builder and the DuckDB SQL its Verify output is
  * cross-checked against at sf0.01. `queries` and `oracleSql` are
  * derived from that one list, so a builder and its oracle cannot drift
  * apart by name.
  * Non-SQL-expressible kernels (extraction, LSH banding) are covered two
  * ways: golden-equality tests (sbt -batch test) AND dump-based oracles —
  * the engine materializes its intermediate tables under /tmp
  * (graft.Dumps) and the oracle SQL recomputes the downstream logic over
  * those parquet files in DuckDB. Dump-based oracle rows verify
  * determinism + the SQL-expressible tail of each pipeline; the kernel
  * semantics themselves are pinned by the golden suite.
  */
object SparkEntry {

  /** Deterministic synthetic transcript table (FIXTURES.md §1), generated
    * DISTRIBUTED — one task per conversation seed, pure function of
    * (seed, conv, turn) — so generation itself scales with the cluster.
    */
  def transcripts(spark: SparkSession, nConvs: Int, cap: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, nConvs.toLong, 1,
        numPartitions = spark.sparkContext.defaultParallelism)
      .flatMap(c => TranscriptGen.turnsOf(c, cap))
      .toDF()
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0: the full
    * main-content extraction pipeline over the synthetic transcript table.
    */
  def entry(spark: SparkSession): DataFrame = {
    graft.expr.Functions.register(spark)
    ExtractPipeline.extract(transcripts(spark, nConvs = 64, cap = 64))
  }

  private def docs(s: SparkSession, dir: String) =
    s.read.parquet(s"$dir/documents.parquet")
  private def embs(s: SparkSession, dir: String) =
    s.read.parquet(s"$dir/embeddings.parquet")

  // --- extraction fixtures + driver-hashable projections -----------------

  private def extractedA(s: SparkSession) =
    ExtractPipeline.extract(transcripts(s, 256, 64))
  private def extractedV(s: SparkSession, v: Int) =
    ExtractPipeline.extractVariant(transcripts(s, 256, 64), v)

  /** Driver-hashable per-turn projection: nested `spans` ride as a JSON
    * string + a count (the driver's pandas hasher cannot sort/hash
    * array<struct> columns — round-1 flagship failure).
    */
  private def driverSafeTurns(df: DataFrame): DataFrame =
    df.select(col("conv_id"), col("turn_idx"), col("rn"), col("kind"),
      col("text"),
      to_json(col("spans")).as("spans_json"),
      size(col("spans")).cast("long").as("n_spans"),
      col("ok"))
      .orderBy(col("conv_id"), col("turn_idx"), col("rn"))

  private def driverSafeBlocks(s: SparkSession): DataFrame =
    ExtractPipeline.blocks(
      ExtractPipeline.extractWithBlocks(transcripts(s, 256, 64)))
      .orderBy(col("conv_id"), col("turn_idx"), col("rn"), col("block_idx"))

  private def fingerprintRows(s: SparkSession, dir: String): DataFrame =
    TextOps.fingerprints(docs(s, dir)).orderBy(col("doc_id"))

  /** The exact-survivor hub of x_corpus/x_corpus_incr: it feeds the verify
    * text joins (twice) and the final anti-join+gate, so it is
    * materialized ONCE per run (the CorpusPipeline.corpus() persist
    * applied at the query layer; round-6: the unmaterialized subtree
    * re-ran ~3x per evaluation) and released by the per-query
    * CacheScope.
    */
  private def corpusHub(s: SparkSession, dir: String): DataFrame =
    CacheScope.checkpoint(
      CorpusPipeline.exactSurvivors(s.read.parquet(Dumps.corpusDocs(dir))))

  /** x_corpus/x_corpus_incr past their candidate dumps: jaccard verify,
    * then CorpusPipeline's cluster -> survivors -> gate tail.
    */
  private def corpusRows(exact: DataFrame, cands: DataFrame): DataFrame =
    CorpusPipeline.gateTail(exact,
        DedupOps.verifyJaccard(cands, exact, minJaccard = 0.5)
          .select(col("id_a"), col("id_b")),
        minQuality = 0.8, langs = Seq("en"))
      .select(col("doc_id"), col("conv_id"), col("n_turns"), col("text"),
        col("quality"), col("lang_pred"))
      .orderBy(col("doc_id"))

  // --- oracle SQL fragments ------------------------------------------------

  /** Oracle SQL is generated against the sf the oracle check runs at. */
  private val oracleSf = Dumps.OracleSf

  // exact-double cosine fragments shared by the ann/dd oracle SQL: DuckDB
  // list_cosine_similarity computes in float32; the kernel accumulates in
  // double — list_reduce over a doubles fold replicates the kernel
  // bit-exactly (left-to-right sum, dot/sqrt(nx*ny))
  private val sqNormSql =
    "list_reduce(list_transform(embedding, v -> CAST(v AS DOUBLE)*CAST(v AS DOUBLE)), (x,y) -> x+y)"
  private def dotSql(a: String, b: String) =
    s"list_reduce(list_transform(list_zip($a, $b), z -> CAST(z[1] AS DOUBLE)*CAST(z[2] AS DOUBLE)), (x,y) -> x+y)"

  // 5-char shingle set (distinct), the DuckDB replica of
  // TextHash.shingleHashes' set semantics (hashes vs raw substrings —
  // identical counts modulo 64-bit collisions)
  private val shinglesSql =
    "list_distinct(list_transform(range(1, length(text)-3), x -> substring(text, CAST(x AS INT), 5)))"

  // shingle jaccard over (i, la, lb) with TextHash's empty-set semantics
  private val jaccardCaseSql =
    """CASE WHEN la = 0 AND lb = 0 THEN 1.0
      |             WHEN la = 0 OR lb = 0 THEN 0.0
      |             ELSE CAST(i AS DOUBLE) / (la + lb - i) END""".stripMargin

  /** Shared DuckDB CTE block replicating TextHash.qualityScore
    * (rint = round_even) and TextHash.langId (cjk short-circuit,
    * stopword argmax with first-in-sorted-order tie-break) over `src`,
    * which must expose (doc_id, text). Defines `qual(doc_id, quality)`
    * and `lang(doc_id, lang_pred)` — consumed by ta_scores, ta_langid,
    * ta_quality_gate, and the x_corpus gate stage, so the replica cannot
    * drift between them. The alpha count uses RE2's Unicode letter class
    * \p{L} (= Character.isLetter for BMP text), NOT [A-Za-z]: the
    * composed-pipeline conv docs contain non-ASCII letters, which the
    * ASCII class silently undercounted (x_corpus round-5 finding; the
    * documents table is ASCII so ta_* were equal either way).
    */
  private def scoreCtesSql(src: String): String =
    s"""f AS (SELECT doc_id, text,
       |  CAST(length(text) - (length(text) - length(replace(text, ' ', ''))) AS DOUBLE)
       |    / ((length(text) - length(replace(text, ' ', ''))) + 1) AS mwl
       | FROM $src),
       |qual AS (SELECT doc_id,
       |  CASE WHEN length(text) = 0 THEN 0.0 ELSE
       |  round_even((
       |    0.3 * least(1.0, length(text) / 200.0)
       |  + 0.4 * (CAST(length(regexp_replace(text, '[^\\p{L}]', '', 'g')) AS DOUBLE) / length(text))
       |  + 0.3 * (CASE WHEN mwl >= 3 AND mwl <= 10 THEN 1.0
       |                WHEN mwl < 3 THEN mwl / 3.0 ELSE 10.0 / mwl END)
       |  ) * 1e6, 0) / 1e6 END AS quality
       | FROM f),
       |lc AS (SELECT doc_id,
       |  CASE WHEN length(regexp_replace(text, '\\s', '', 'g')) > 0
       |        AND CAST(length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) AS DOUBLE)
       |            / length(regexp_replace(text, '\\s', '', 'g')) > 0.2
       |       THEN TRUE ELSE FALSE END AS is_zh,
       |  len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x IN ('der','die','das','und','ist','von','mit','den','ein','nicht'))) AS n_de,
       |  len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x IN ('the','and','of','to','in','is','that','for','it','with'))) AS n_en,
       |  len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x IN ('el','la','los','de','que','y','es','en','una','por'))) AS n_es,
       |  len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x IN ('le','la','les','de','des','et','est','que','une','dans'))) AS n_fr
       | FROM $src),
       |lang AS (SELECT doc_id,
       |  CASE WHEN is_zh THEN 'zh'
       |       WHEN greatest(n_de, n_en, n_es, n_fr) = 0 THEN 'und'
       |       WHEN n_de = greatest(n_de, n_en, n_es, n_fr) THEN 'de'
       |       WHEN n_en = greatest(n_de, n_en, n_es, n_fr) THEN 'en'
       |       WHEN n_es = greatest(n_de, n_en, n_es, n_fr) THEN 'es'
       |       ELSE 'fr' END AS lang_pred
       | FROM lc)""".stripMargin

  /** The mm_* oracles' documents, asserted ASCII (see mm_features). */
  private val asciiDocsSql =
    """WITH ascii_ok AS (SELECT doc_id,
      |    CASE WHEN text IS NULL THEN NULL
      |         WHEN strlen(text) = length(text) THEN text
      |         ELSE error('mm oracle requires an ASCII corpus: doc '
      |                    || doc_id || ' has multi-byte chars') END AS text
      |  FROM documents)""".stripMargin

  /** The window-path extraction dump, row for row: the oracle of
    * x_extract_turns and of the two other physical plans pinned to it
    * (x_dist_rank, x_equalized).
    */
  private val turnsSql =
    s"""SELECT conv_id, turn_idx, rn, kind, text, spans_json, n_spans, ok
       |FROM read_parquet('${Dumps.turnsA(oracleSf)}/*.parquet')
       |ORDER BY conv_id, turn_idx, rn""".stripMargin

  /** Exact shingle jaccard over a dumped candidate set (dd_minhash, and
    * dd_incremental over its incremental candidates).
    */
  private def verifiedPairsSql(candsPath: String): String =
    s"""WITH c AS (SELECT id_a, id_b
       |           FROM read_parquet('$candsPath/*.parquet')),
       |d AS (SELECT doc_id, $shinglesSql AS sh FROM documents),
       |p AS (SELECT id_a, id_b,
       |        len(list_intersect(a.sh, b.sh)) AS i,
       |        len(a.sh) AS la, len(b.sh) AS lb
       |      FROM c JOIN d a ON a.doc_id = c.id_a
       |             JOIN d b ON b.doc_id = c.id_b),
       |v AS (SELECT id_a, id_b,
       |        $jaccardCaseSql AS jaccard
       |      FROM p)
       |SELECT id_a, id_b, jaccard FROM v
       |WHERE jaccard >= 0.6 ORDER BY id_a, id_b""".stripMargin

  /** The full composed-pipeline TAIL recomputed independently over the
    * docs dump + a candidate dump: exact dedup (min-id per md5), exact
    * shingle-jaccard verify, recursive-CTE transitive closure ->
    * non-survivors, anti-join, then the shared quality/langid gate —
    * parameterized by the candidate dump so the batch route (x_corpus)
    * and the incremental route (x_corpus_incr) share ONE recomputation.
    */
  private def corpusTailSql(candsPath: String): String =
    s"""WITH RECURSIVE
       |d AS (SELECT * FROM read_parquet('${Dumps.corpusDocs(oracleSf)}/*.parquet')),
       |keepers AS (SELECT min(doc_id) AS doc_id FROM d GROUP BY md5(text)),
       |e AS (SELECT d.* FROM d JOIN keepers USING (doc_id)),
       |c AS (SELECT id_a, id_b
       |      FROM read_parquet('$candsPath/*.parquet')),
       |shing AS (SELECT doc_id, $shinglesSql AS sh FROM e),
       |p AS (SELECT id_a, id_b,
       |        len(list_intersect(a.sh, b.sh)) AS i,
       |        len(a.sh) AS la, len(b.sh) AS lb
       |      FROM c JOIN shing a ON a.doc_id = c.id_a
       |             JOIN shing b ON b.doc_id = c.id_b),
       |v AS (SELECT id_a, id_b FROM p
       |      WHERE ($jaccardCaseSql) >= 0.5),
       |sym AS (SELECT id_a AS a, id_b AS b FROM v
       |        UNION SELECT id_b, id_a FROM v),
       |reach(a, b) AS (
       |  SELECT a, b FROM sym
       |  UNION
       |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
       |  WHERE s.b <> r.a),
       |nonsurv AS (
       |  SELECT r.a AS doc_id FROM reach r
       |  GROUP BY r.a HAVING min(r.b) < r.a),
       |surv AS (SELECT e.* FROM e
       |         WHERE doc_id NOT IN (SELECT doc_id FROM nonsurv)),
       |${scoreCtesSql("surv")}
       |SELECT surv.doc_id, conv_id, n_turns, text, quality, lang_pred
       |FROM surv JOIN qual ON surv.doc_id = qual.doc_id
       |          JOIN lang ON surv.doc_id = lang.doc_id
       |WHERE quality >= 0.8 AND lang_pred IN ('en')
       |ORDER BY surv.doc_id""".stripMargin

  /** The IVF replica (exact-double cosine): centroids are the first 32
    * rows by md5(vec_id) of `e` filtered by `centroidFilter`, assignment
    * and probing run over all of `e`.
    */
  private def ivfSql(centroidFilter: String): String =
    s"""WITH e AS (SELECT vec_id, embedding, $sqNormSql AS nrm
       |           FROM embeddings),
       |cents AS (SELECT vec_id AS cid, embedding AS cemb, nrm AS cn
       |          FROM e$centroidFilter
       |          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 32),
       |asg AS (SELECT e.vec_id, e.embedding, e.nrm, cid,
       |          row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |            (CASE WHEN e.nrm = 0 OR cn = 0 THEN 0.0
       |                  ELSE ${dotSql("e.embedding", "cemb")} / sqrt(e.nrm * cn)
       |             END) DESC, cid) AS r
       |        FROM e CROSS JOIN cents),
       |a2 AS (SELECT vec_id, embedding, nrm, cid AS centroid_id
       |       FROM asg WHERE r = 1),
       |q AS (SELECT vec_id AS query_id, embedding AS q_emb, nrm AS qn
       |      FROM e WHERE vec_id % 101 = 0),
       |probes AS (SELECT query_id, q_emb, qn, cid,
       |             row_number() OVER (PARTITION BY query_id ORDER BY
       |               (CASE WHEN qn = 0 OR cn = 0 THEN 0.0
       |                     ELSE ${dotSql("q_emb", "cemb")} / sqrt(qn * cn)
       |                END) DESC, cid) AS pr
       |           FROM q CROSS JOIN cents),
       |p2 AS (SELECT query_id, q_emb, qn, cid FROM probes WHERE pr <= 8),
       |scored AS (SELECT query_id, a.vec_id,
       |             CASE WHEN a.nrm = 0 OR qn = 0 THEN 0.0
       |                  ELSE ${dotSql("a.embedding", "q_emb")} / sqrt(a.nrm * qn)
       |             END AS cos
       |           FROM p2 JOIN a2 a ON a.centroid_id = p2.cid
       |           WHERE a.vec_id <> query_id),
       |r AS (SELECT query_id, vec_id, cos,
       |        row_number() OVER (PARTITION BY query_id
       |                           ORDER BY cos DESC, vec_id) AS "rank"
       |      FROM scored)
       |SELECT query_id, "rank", vec_id, cos FROM r
       |WHERE "rank" <= 5 ORDER BY query_id, "rank"""".stripMargin

  // --- the registry ---------------------------------------------------------

  /** A side table the oracle SQL reads back, declared once: its path
    * under the dump root and `ensure`, which writes it if absent and
    * returns the path.
    */
  private final case class Dump(path: String => String,
      ensure: (SparkSession, String) => String)

  private object Dump {
    /** A parquet dump of `df` (Dumps.ensure: single file, write-if-absent). */
    def parquet(path: String => String)(
        df: (SparkSession, String) => DataFrame): Dump =
      Dump(path, (s, dir) => Dumps.ensure(path(dir))(df(s, dir)))

    /** Extracted turns per ExtractParams variant; variant 0 is extract(). */
    val turns: IndexedSeq[Dump] =
      graft.kernel.ExtractParams.Variants.indices.map(v =>
        parquet(Dumps.turnsV(_, v))((s, _) => driverSafeTurns(extractedV(s, v))))
    val turnsA: Dump = turns(0)
    val blocks: Dump = parquet(Dumps.blocks)((s, _) => driverSafeBlocks(s))
    val mhCands: Dump = parquet(Dumps.mhCands)((s, dir) =>
      DedupOps.minhashCandidates(docs(s, dir), minJaccard = 0.6))
    val mhPairs: Dump = parquet(Dumps.mhPairs)((s, dir) =>
      DedupOps.verifyJaccard(s.read.parquet(mhCands.ensure(s, dir)),
        docs(s, dir), minJaccard = 0.6).select(col("id_a"), col("id_b")))
    val shCands: Dump = parquet(Dumps.shCands)((s, dir) =>
      DedupOps.simhashCandidates(docs(s, dir), maxHamming = 4))
    val shCandsExt: Dump = parquet(Dumps.shCandsExt)((s, dir) =>
      DedupOps.simhashCandidates(docs(s, dir), maxHamming = 6,
        pairBands = true))
    // nPlanes/nTables follow the threshold: at cos >= 0.35 (what this
    // synthetic corpus supports) p = 1 - theta/pi ~ 0.61, so 4 planes x
    // 8 tables gives ~0.7 candidate recall where 8x4 (tuned for >= 0.95
    // near-dups) recalls ~0.08. At a real near-dup threshold flip back.
    val emCands: Dump = parquet(Dumps.emCands)((s, dir) =>
      DedupOps.embeddingCandidates(embs(s, dir), nPlanes = 4, nTables = 8))
    val fingerprints: Dump = parquet(Dumps.fp)(fingerprintRows)
    val corpusDocs: Dump = parquet(Dumps.corpusDocs)((s, _) =>
      CorpusPipeline.corpusDocs(transcripts(s, 256, 64)))
    val docsJsonl: Dump = Dump(Dumps.jsonl, (s, dir) =>
      Dumps.ensureWith(Dumps.jsonl(dir)) { p =>
        docs(s, dir)
          .select(to_json(struct(col("doc_id"), col("lang"),
            col("n_chars"))).as("value"))
          .coalesce(1).write.mode("overwrite").text(p)
      })
    val docsTsv: Dump = Dump(Dumps.tsv, (s, dir) =>
      Dumps.ensureWith(Dumps.tsv(dir)) { p =>
        docs(s, dir)
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
          .coalesce(1).write.mode("overwrite")
          .option("sep", "\t").csv(p)
      })
  }

  /** One query: its builder over (session, sf dir) and its DuckDB
    * oracle. `run` ensures `needs` in order before building, so the first
    * query that needs a dump pays for writing it.
    */
  private final case class Query(name: String, needs: Seq[Dump],
      build: (SparkSession, String) => DataFrame, oracle: String) {
    def run(s: SparkSession, dir: String): DataFrame = {
      needs.foreach(_.ensure(s, dir))
      build(s, dir)
    }
  }

  /** Hamming verify over a dumped simhash candidate set (dd_simhash,
    * dd_simhash_ext); the oracle re-checks the radius on the same dump.
    */
  private def hammingQuery(name: String, cands: Dump, radius: Int): Query =
    Query(name, Seq(cands), (s, dir) =>
      DedupOps.verifyHamming(s.read.parquet(cands.path(dir)),
          maxHamming = radius)
        .orderBy(col("id_a"), col("id_b")),
      s"""SELECT id_a, id_b,
         |  CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
         |FROM read_parquet('${cands.path(oracleSf)}/*.parquet')
         |WHERE bit_count(xor(sh_a, sh_b)) <= $radius
         |ORDER BY id_a, id_b""".stripMargin)

  /** One per implemented operator from SURVEY.md §2. */
  private val registry: Seq[Query] = Seq(

    // ---- extraction pipeline (golden-tested; dump-based oracles) --------
    Query("x_extract_turns", Seq(Dump.turnsA), (s, _) =>
      driverSafeTurns(extractedA(s)), turnsSql),
    Query("x_extract_blocks", Seq(Dump.blocks), (s, _) =>
      driverSafeBlocks(s),
      s"""SELECT conv_id, turn_idx, rn, block_idx, btype, score,
         |  span_start, span_end, text
         |FROM read_parquet('${Dumps.blocks(oracleSf)}/*.parquet')
         |ORDER BY conv_id, turn_idx, rn, block_idx""".stripMargin),
    Query("x_conv_docs", Seq(Dump.turnsA), (s, _) =>
      ExtractPipeline.convDocs(extractedA(s)).orderBy(col("conv_id")),
      s"""SELECT conv_id, count(*) AS n_turns,
         |  coalesce(string_agg(text, chr(10) || chr(10) ORDER BY rn)
         |    FILTER (WHERE length(text) > 0), '') AS doc
         |FROM read_parquet('${Dumps.turnsA(oracleSf)}/*.parquet')
         |GROUP BY conv_id ORDER BY conv_id""".stripMargin),
    // error-side output: rows whose payload failed its sniffed decoder
    // (the reference's per-row try/except path, simple_dataset.py:94-120)
    Query("x_bad_rows", Seq(Dump.turnsA), (s, _) =>
      extractedA(s)
        .filter(!col("ok"))
        .select(col("conv_id"), col("turn_idx"), col("rn"), col("kind"))
        .orderBy(col("conv_id"), col("turn_idx"), col("rn")),
      s"""SELECT conv_id, turn_idx, rn, kind
         |FROM read_parquet('${Dumps.turnsA(oracleSf)}/*.parquet')
         |WHERE NOT ok ORDER BY conv_id, turn_idx, rn""".stripMargin),
    // N-variant audit (DistillationModel/DistillationMetric analogue,
    // distillation_metric.py:8-57): the reference runs a DICT of
    // submodels (distillation_model.py:41-45); here every entry of
    // ExtractParams.Variants extracts side-by-side, per-variant grouped
    // metrics against the default output as reference, best-of selection
    Query("x_ab_audit", Dump.turns, (s, dir) => {
      val nVar = graft.kernel.ExtractParams.Variants.size
      // each variant extracts exactly ONCE (into its dump); the join and
      // the N union branches then read the dumps back — re-deriving
      // `keyed` from extractedV would re-run the extraction pipeline
      // O(N^2) times across the union branches
      val keyed = (0 until nVar).map { v =>
        s.read.parquet(Dump.turns(v).path(dir)).select(col("conv_id"),
          col("turn_idx"), col("rn"), col("text").as(s"text_$v"))
      }
      val j = keyed.reduce(_.join(_, Seq("conv_id", "turn_idx", "rn")))
      // NOTE: normalized edit distance (RecMetric's second statistic) is
      // golden-tested in MetricsSpec but kept OUT of this driver row:
      // DuckDB's levenshtein is byte-based while Spark's is char-based,
      // so they disagree on any non-ASCII text. The char-length delta is
      // the oracle-safe distance proxy here.
      val u = (0 until nVar).map { v =>
        j.select(lit(('A' + v).toChar.toString).as("variant"),
          col(s"text_$v").as("pred"), col("text_0").as("ref"))
      }.reduce(_.unionByName(_))
      // g is <= nVariants rows at ANY corpus scale; materialize it so
      // the best-of side reads these rows instead of re-running the
      // whole N-way join+union subtree (round-6 plan audit: the two
      // copies canonicalize differently — a nullability asymmetry — so
      // neither ReuseExchange nor AQE stage reuse deduped them and every
      // dump scan + join ran TWICE)
      val g = CacheScope.checkpoint(u.groupBy(col("variant")).agg(
        count(lit(1)).as("n"),
        sum((col("pred") === col("ref")).cast("long")).as("n_exact"),
        sum(abs(length(col("pred")) - length(col("ref"))).cast("long"))
          .as("len_delta"))
        .withColumn("acc", col("n_exact").cast("double") / col("n")))
      // best-of via a 1-row aggregate + broadcast cross-join, NOT an
      // unpartitioned window (the single-partition WindowExec warning
      // was the one warning the round-2 driver log showed)
      val best = g.agg(max(col("acc")).as("best_acc"))
      g.crossJoin(broadcast(best))
        .withColumn("is_best", col("acc") === col("best_acc"))
        .select(col("variant"), col("n"), col("n_exact"), col("acc"),
          col("len_delta"), col("is_best"))
        .orderBy(col("variant"))
    }, {
      // generated from ExtractParams.Variants so the oracle tracks the
      // Spark side when the variant map is extended (both iterate the
      // same seq — the N-extensibility holds on BOTH sides of the gate)
      val nVar = graft.kernel.ExtractParams.Variants.size
      val joins = (0 until nVar).map { v =>
        val alias = s"t$v"
        if (v == 0)
          s"  FROM read_parquet('${Dumps.turnsV(oracleSf, v)}/*.parquet') $alias"
        else
          s"""  JOIN read_parquet('${Dumps.turnsV(oracleSf, v)}/*.parquet') $alias
             |    USING (conv_id, turn_idx, rn)""".stripMargin
      }.mkString("\n")
      val sel = (0 until nVar).map(v => s"t$v.text AS text_$v")
        .mkString(", ")
      val unions = (0 until nVar).map { v =>
        s"  SELECT '${('A' + v).toChar}' AS variant, text_$v AS pred, text_0 AS ref FROM j"
      }.mkString("\n  UNION ALL\n")
      s"""WITH j AS (
         |  SELECT $sel
         |$joins),
         |u AS (
         |$unions),
         |g AS (
         |  SELECT variant, count(*) AS n,
         |    CAST(sum(CASE WHEN pred = ref THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
         |    CAST(sum(abs(length(pred) - length(ref))) AS BIGINT) AS len_delta
         |  FROM u GROUP BY variant),
         |b AS (SELECT max(CAST(n_exact AS DOUBLE) / n) AS best_acc FROM g)
         |SELECT variant, n, n_exact,
         |  CAST(n_exact AS DOUBLE) / n AS acc, len_delta,
         |  CAST(n_exact AS DOUBLE) / n = best_acc AS is_best
         |FROM g CROSS JOIN b ORDER BY variant""".stripMargin
    }),
    // the fully distributed rank path (no per-conversation window task)
    // must be BYTE-EQUAL to the window rank: the oracle reads the
    // window-path dump, so the DuckDB hash check pins the two physical
    // plans to each other (ScaleSpec asserts it in-JVM; this makes it a
    // driver-gate row). The path's persisted range layout is released
    // by the per-query CacheScope Verify and Bench run each query in.
    Query("x_dist_rank", Seq(Dump.turnsA), (s, _) =>
      driverSafeTurns(ExtractPipeline.extractDistributedRank(
        transcripts(s, 256, 64), nPart = 7)), turnsSql),
    // the LONG-rank output mode (rn: bigint — the mega-conversation
    // schema): same two-plans-one-oracle shape as x_dist_rank, with the
    // oracle casting the window-path dump's rn to BIGINT (DuckDB's own
    // row_number type — CLAUDE.md int-width rule)
    Query("x_dist_rank_long", Seq(Dump.turnsA), (s, _) =>
      driverSafeTurns(ExtractPipeline.extractDistributedRankLong(
        transcripts(s, 256, 64), nPart = 7)),
      s"""SELECT conv_id, turn_idx, CAST(rn AS BIGINT) AS rn, kind, text,
         |  spans_json, n_spans, ok
         |FROM read_parquet('${Dumps.turnsA(oracleSf)}/*.parquet')
         |ORDER BY conv_id, turn_idx, rn""".stripMargin),
    // the equalized pipeline (Rebalance.equalizeByLength in front of
    // extraction, conv_id keys, ONE exchange) must be row-identical to
    // extract(): hash-pinned to the same window-path dump — the third
    // physical plan sharing the one oracle family
    Query("x_equalized", Seq(Dump.turnsA), (s, _) =>
      driverSafeTurns(ExtractPipeline.extractEqualized(
        transcripts(s, 256, 64), nPart = 7)), turnsSql),
    // rollup over extraction metrics by payload kind (SURVEY §2.8's
    // "rollup over metrics" extra; NULL kind row = corpus totals)
    Query("x_kind_rollup", Seq(Dump.turnsA), (s, _) =>
      extractedA(s)
        .rollup(col("kind"))
        .agg(count(lit(1)).as("turns"),
          sum(length(col("text"))).as("chars"),
          sum(size(col("spans"))).as("blocks"),
          sum(when(col("ok"), 0L).otherwise(1L)).as("bad"))
        .orderBy(col("kind").asc_nulls_first),
      s"""SELECT kind, count(*) AS turns,
         |  CAST(sum(length(text)) AS BIGINT) AS chars,
         |  CAST(sum(n_spans) AS BIGINT) AS blocks,
         |  CAST(sum(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT) AS bad
         |FROM read_parquet('${Dumps.turnsA(oracleSf)}/*.parquet')
         |GROUP BY ROLLUP(kind) ORDER BY kind ASC NULLS FIRST""".stripMargin),
    // checkpointed run + per-partition lineage stats (FIXTURES.md §5);
    // the oracle recounts rows/convs per bucket from the checkpoint's
    // own partitioned parquet — manifests must match what landed
    Query("x_partition_stats", Nil, (s, dir) => {
      val out = Dumps.ckpt(dir)
      if (graft.io.TableIO.completedBuckets(out, 8).size < 8)
        graft.io.TableIO.runCheckpointed(s, transcripts(s, 128, 32),
          ExtractPipeline.extract, out, nBuckets = 8, waveSize = 4)
      graft.io.TableIO.partitionStats(s, out, 8)
        .select(col("bucket"), col("rows"), col("convs"))
        .orderBy(col("bucket"))
    },
      s"""SELECT CAST(bucket AS INT) AS bucket, count(*) AS "rows",
         |  count(DISTINCT conv_id) AS convs
         |FROM read_parquet('${Dumps.ckpt(oracleSf)}/bucket=*/*.parquet',
         |                  hive_partitioning=1)
         |GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- the END-TO-END composed pipeline (extract -> convDocs -> exact
    //      dedup -> minhash candidates -> verify -> clusters -> survivors
    //      -> quality/lang gate) as ONE driver query. Two dumps anchor
    //      the oracle: the docs table (the pipeline's own hub
    //      materialization) and the candidate pairs; DuckDB then
    //      recomputes the ENTIRE tail independently — exact dedup,
    //      jaccard verify, recursive-CTE closure, survivor anti-join,
    //      and the quality/lang gate (the dd_clusters pattern extended
    //      to the full production composition) ------------------------
    Query("x_corpus", Seq(Dump.corpusDocs), (s, dir) => {
      val exact = corpusHub(s, dir)
      corpusRows(exact, s.read.parquet(Dumps.ensure(Dumps.corpusCands(dir))(
        DedupOps.minhashCandidates(exact, minJaccard = 0.5))))
    }, corpusTailSql(Dumps.corpusCands(oracleSf))),

    // ---- the INCREMENTAL composed route (the operational daily job,
    //      capstone of round 5): the SAME final corpus as x_corpus,
    //      reached the way production reaches it — day 0 (3/4 of the
    //      conv docs) is indexed once (ensureMinhashIndex), day 1's
    //      batch goes through incrementalMinhashCandidates against the
    //      index (no day-0 re-hash), and day-0-internal pairs UNION
    //      incremental pairs feed one cluster state. Because the
    //      incremental candidates TILE exactly with the index-internal
    //      ones, the dumped union equals x_corpus's candidate set and
    //      the oracle is the same full-tail recomputation over the
    //      incremental route's own dumps — two routes, one corpus,
    //      both hash-gated -----------------------------------------
    Query("x_corpus_incr", Seq(Dump.corpusDocs), (s, dir) => {
      val exact = corpusHub(s, dir)
      val day0 = exact.filter(pmod(col("doc_id"), lit(4)) =!= 0)
      val day1 = exact.filter(pmod(col("doc_id"), lit(4)) === 0)
      val (idxBands, idxSigs) = DedupOps.ensureMinhashIndex(
        s, day0, Dumps.corpusMhIndex(dir))
      corpusRows(exact, s.read.parquet(
        Dumps.ensure(Dumps.corpusCandsIncr(dir))(
          DedupOps.minhashCandidates(day0, minJaccard = 0.5)
            .unionByName(DedupOps.incrementalMinhashCandidates(
              day1, idxBands, idxSigs, minJaccard = 0.5))
            .distinct())))
    }, corpusTailSql(Dumps.corpusCandsIncr(oracleSf))),

    // ---- dedup (training-data pipeline) ---------------------------------
    Query("dd_exact", Nil, (s, dir) =>
      DedupOps.exactDedup(docs(s, dir)).orderBy(col("text_md5")),
      """SELECT md5(text) AS text_md5, min(doc_id) AS keep_id,
        |  count(*) AS group_size
        |FROM documents GROUP BY md5(text) ORDER BY text_md5""".stripMargin),
    // candidates dumped, then verified from the dump — the oracle
    // recomputes exact shingle jaccard over the SAME candidate set
    Query("dd_minhash", Seq(Dump.mhCands), (s, dir) =>
      DedupOps.verifyJaccard(s.read.parquet(Dump.mhCands.path(dir)),
          docs(s, dir), minJaccard = 0.6)
        .orderBy(col("id_a"), col("id_b")),
      verifiedPairsSql(Dumps.mhCands(oracleSf))),
    hammingQuery("dd_simhash", Dump.shCands, radius = 4),
    // the crowded-keyspace pair-band extension as a first-class driver
    // query: radius 6, chunk-PAIR banding (full recall by 2-of-(h+2)
    // pigeonhole), same dump-based oracle shape as dd_simhash
    hammingQuery("dd_simhash_ext", Dump.shCandsExt, radius = 6),
    // the dedup TAIL: verified near-dup pairs -> connected components ->
    // canonical survivor per cluster (min doc_id). The VERIFIED pair set
    // is dumped and the oracle recomputes the components independently
    // via a recursive-CTE transitive closure (bounded: the oracle-scale
    // pair set is tiny), then min reachable id per node
    Query("dd_clusters", Seq(Dump.mhCands, Dump.mhPairs), (s, dir) =>
      DedupOps.clusterLabels(s.read.parquet(Dump.mhPairs.path(dir)))
        .withColumn("is_survivor", col("doc_id") === col("cluster_id"))
        .orderBy(col("doc_id")),
      s"""WITH RECURSIVE
         |e AS (SELECT id_a, id_b
         |      FROM read_parquet('${Dumps.mhPairs(oracleSf)}/*.parquet')),
         |sym AS (SELECT id_a AS a, id_b AS b FROM e
         |        UNION SELECT id_b, id_a FROM e),
         |reach(a, b) AS (
         |  SELECT a, b FROM sym
         |  UNION
         |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
         |  WHERE s.b <> r.a),
         |nodes AS (SELECT DISTINCT a AS doc_id FROM sym)
         |SELECT n.doc_id,
         |  least(n.doc_id, min(r.b)) AS cluster_id,
         |  least(n.doc_id, min(r.b)) = n.doc_id AS is_survivor
         |FROM nodes n LEFT JOIN reach r ON r.a = n.doc_id
         |GROUP BY n.doc_id ORDER BY n.doc_id""".stripMargin),
    // INCREMENTAL dedup — the operational daily job: the corpus-so-far
    // is indexed ONCE (persisted band/sig tables, fingerprint-gated
    // reuse like IVF), then a new batch joins its bands against the
    // index — the existing corpus is never re-hashed. Pairs carry at
    // least one new-batch doc; the oracle recomputes exact jaccard over
    // the dumped incremental candidate set (dd_minhash shape)
    Query("dd_incremental", Nil, (s, dir) => {
      val d = docs(s, dir)
      val existing = d.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      val batch = d.filter(pmod(col("doc_id"), lit(5)) === 0)
      val (idxBands, idxSigs) = DedupOps.ensureMinhashIndex(
        s, existing, Dumps.mhIndex(dir))
      val cands = s.read.parquet(Dumps.ensure(Dumps.mhIncCands(dir))(
        DedupOps.incrementalMinhashCandidates(batch,
          idxBands, idxSigs, minJaccard = 0.6)))
      DedupOps.verifyJaccard(cands, d, minJaccard = 0.6)
        .orderBy(col("id_a"), col("id_b"))
    }, verifiedPairsSql(Dumps.mhIncCands(oracleSf))),

    // quadratic baseline: subset capped so cost stays bounded at any sf
    // (the exact all-pairs path is a validation tool, not a scale path)
    Query("dd_jaccard_exact", Nil, (s, dir) =>
      DedupOps.ngramJaccardPairsExact(
        docs(s, dir).filter(
          pmod(col("doc_id"), lit(10)) === 0 && col("doc_id") < 2000), 0.25)
        .orderBy(col("id_a"), col("id_b")),
      s"""WITH d AS (SELECT doc_id, $shinglesSql AS sh FROM documents
         |           WHERE doc_id % 10 = 0 AND doc_id < 2000),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |        len(list_intersect(a.sh, b.sh)) AS i,
         |        len(a.sh) AS la, len(b.sh) AS lb
         |      FROM d a JOIN d b ON a.doc_id < b.doc_id),
         |v AS (SELECT id_a, id_b,
         |        $jaccardCaseSql AS jaccard
         |      FROM p)
         |SELECT id_a, id_b, jaccard FROM v
         |WHERE jaccard >= 0.25 ORDER BY id_a, id_b""".stripMargin),
    Query("dd_embed_cos", Seq(Dump.emCands), (s, dir) =>
      DedupOps.verifyCosine(s.read.parquet(Dump.emCands.path(dir)),
          embs(s, dir), minCos = 0.35)
        .orderBy(col("id_a"), col("id_b")),
      s"""WITH e AS (SELECT vec_id, embedding, $sqNormSql AS nrm
         |           FROM embeddings),
         |c AS (SELECT id_a, id_b
         |      FROM read_parquet('${Dumps.emCands(oracleSf)}/*.parquet')),
         |p AS (SELECT id_a, id_b,
         |        ${dotSql("a.embedding", "b.embedding")} AS dot,
         |        a.nrm AS nx, b.nrm AS ny
         |      FROM c JOIN e a ON a.vec_id = c.id_a
         |             JOIN e b ON b.vec_id = c.id_b),
         |v AS (SELECT id_a, id_b,
         |        CASE WHEN nx = 0 OR ny = 0 THEN 0.0
         |             ELSE dot / sqrt(nx * ny) END AS cos FROM p)
         |SELECT id_a, id_b, cos FROM v
         |WHERE cos >= 0.35 ORDER BY id_a, id_b""".stripMargin),

    // ---- similarity search (full SQL replicas, exact-double cosine) -----
    Query("ann_brute", Nil, (s, dir) => {
      val e = embs(s, dir)
      SimilarityOps.bruteForceTopK(
        e, e.filter(pmod(col("vec_id"), lit(101)) === 0), k = 5)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("vec_id"))
        .orderBy(col("query_id"), col("rank"))
    },
      s"""WITH e AS (SELECT vec_id, embedding, $sqNormSql AS nrm
         |           FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding AS q_emb, nrm AS qn
         |      FROM e WHERE vec_id % 101 = 0),
         |s AS (SELECT query_id, e.vec_id,
         |        CASE WHEN e.nrm = 0 OR qn = 0 THEN 0.0
         |             ELSE ${dotSql("e.embedding", "q_emb")} / sqrt(e.nrm * qn)
         |        END AS cos
         |      FROM e CROSS JOIN q WHERE e.vec_id <> query_id),
         |r AS (SELECT query_id, vec_id,
         |        row_number() OVER (PARTITION BY query_id
         |                           ORDER BY cos DESC, vec_id) AS "rank"
         |      FROM s)
         |SELECT query_id, "rank", vec_id FROM r
         |WHERE "rank" <= 5 ORDER BY query_id, "rank"""".stripMargin),
    Query("ann_ivf", Nil, (s, dir) => {
      val e = embs(s, dir)
      SimilarityOps.ivfTopK(
        s, e, e.filter(pmod(col("vec_id"), lit(101)) === 0),
        Dumps.ivfIndex(dir), k = 5, nProbe = 8, nCentroids = 32)
        .select(col("query_id"), col("rank"), col("vec_id"), col("cos"))
        .orderBy(col("query_id"), col("rank"))
    }, ivfSql("")),

    // the APPEND path of the similarity family (dd_incremental's mirror):
    // the index is built on 80% of the corpus with PINNED centroids
    // stored in the artifact, the remaining 20% batch is APPENDED
    // (assigned map-side against the pinned centroids, digest merged —
    // the existing corpus never rescanned), then probed with no corpus
    // argument at all. The oracle replays the IVF with the centroid
    // sample drawn from the EXISTING (vec_id % 5 <> 0) subset only;
    // assignment and probing run over the full union
    Query("ann_ivf_append", Nil, (s, dir) => {
      val e = embs(s, dir)
      val path = Dumps.ivfIndexApp(dir)
      if (!SimilarityOps.ivfIndexedMatches(path, e)) {
        SimilarityOps.buildIvfIndexed(s,
          e.filter(pmod(col("vec_id"), lit(5)) =!= 0), path, nCentroids = 32)
        SimilarityOps.ivfAppendIndexed(s, path,
          e.filter(pmod(col("vec_id"), lit(5)) === 0))
      }
      SimilarityOps.ivfProbeIndexed(s, path,
          e.filter(pmod(col("vec_id"), lit(101)) === 0), k = 5, nProbe = 8)
        .select(col("query_id"), col("rank"), col("vec_id"), col("cos"))
        .orderBy(col("query_id"), col("rank"))
    }, ivfSql(" WHERE vec_id % 5 <> 0")),

    // ---- text analysis ---------------------------------------------------
    // (driver-hash ordering lives HERE, not in the operators — round-6
    // lift: a production consumer of the TextOps frames never pays the
    // global sort; oracle SQL unchanged)
    Query("ta_tokens", Nil, (s, dir) =>
      TextOps.tokenCounts(docs(s, dir)).orderBy(col("doc_id")),
      """SELECT doc_id,
        |  length(regexp_split_to_array(trim(text), '\s+')) AS ws_tokens,
        |  length(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]', 0)) AS re_tokens,
        |  length(text) AS chars
        |FROM documents ORDER BY doc_id""".stripMargin),
    Query("ta_quality", Nil, (s, dir) =>
      TextOps.qualityReport(docs(s, dir)).drop("quality")
        .orderBy(col("doc_id")),
      """SELECT doc_id, length(text) AS chars,
        |  length(regexp_split_to_array(trim(text), '\s+')) AS words,
        |  CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text) AS alpha_ratio,
        |  CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio
        |FROM documents ORDER BY doc_id""".stripMargin),
    // full replica of TextHash.qualityScore + TextHash.langId — the
    // shared scoreCtesSql block (also consumed by ta_quality_gate and
    // x_corpus, so the replica cannot drift between queries)
    Query("ta_scores", Nil, (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        graft.expr.Functions.quality_score(col("text")).as("quality"),
        graft.expr.Functions.lang_id(col("text")).as("lang_pred"))
        .orderBy(col("doc_id")),
      s"""WITH ${scoreCtesSql("documents")}
         |SELECT qual.doc_id, quality, lang_pred
         |FROM qual JOIN lang ON qual.doc_id = lang.doc_id
         |ORDER BY qual.doc_id""".stripMargin),
    Query("ta_langid", Nil, (s, dir) => TextOps.langIdReport(docs(s, dir)),
      s"""WITH ${scoreCtesSql("documents")}
         |SELECT lang_pred, count(*) AS n FROM lang
         |GROUP BY lang_pred ORDER BY lang_pred""".stripMargin),
    // quality/language gate (Gopher/C4 filter family): every row
    // annotated, reject_reason NULL = kept — thresholds chosen so all
    // four classes (kept, low_quality, bad_lang, both) are non-empty at
    // the oracle sf; the oracle's kept/rejected split is pure CASE over
    // the same replica
    Query("ta_quality_gate", Nil, (s, dir) =>
      TextOps.qualityGate(docs(s, dir), minQuality = 0.8,
          langs = Seq("en"))
        .select(col("doc_id"), col("quality"), col("lang_pred"),
          col("reject_reason"))
        .orderBy(col("doc_id")),
      s"""WITH ${scoreCtesSql("documents")}
         |SELECT qual.doc_id, quality, lang_pred,
         |  CASE WHEN quality < 0.8 AND lang_pred NOT IN ('en')
         |         THEN 'low_quality+bad_lang'
         |       WHEN quality < 0.8 THEN 'low_quality'
         |       WHEN lang_pred NOT IN ('en') THEN 'bad_lang'
         |  END AS reject_reason
         |FROM qual JOIN lang ON qual.doc_id = lang.doc_id
         |ORDER BY qual.doc_id""".stripMargin),
    // fp_md5 is recomputed from scratch by DuckDB; fp_simhash rides the
    // dump-based oracle (like the dd family): the dumped fingerprints are
    // an independent second evaluation of the kernel that the oracle
    // joins back — every column of the driver row is oracle-checked
    Query("ta_fingerprint", Seq(Dump.fingerprints), fingerprintRows,
      s"""SELECT d.doc_id,
         |  md5(lower(regexp_replace(trim(d.text), '\\s+', ' ', 'g'))) AS fp_md5,
         |  s.fp_simhash
         |FROM documents d
         |JOIN read_parquet('${Dumps.fp(oracleSf)}/*.parquet') s
         |  ON s.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin),
    // repetition signals (the other Gopher filter half): duplicate-line
    // fraction + top word-bigram share, full SQL replica
    Query("ta_repetition", Nil, (s, dir) =>
      TextOps.repetitionReport(docs(s, dir))
        .orderBy(col("doc_id")),
      """WITH base AS (SELECT doc_id,
        |    list_filter(string_split(text, chr(10)), l -> length(trim(l)) > 0) AS lines,
        |    list_filter(string_split_regex(lower(text), '\s+'), w -> length(w) > 0) AS words
        |  FROM documents),
        |la AS (SELECT doc_id,
        |    CAST(len(lines) AS BIGINT) AS n_lines,
        |    CAST(len(list_distinct(lines)) AS BIGINT) AS n_distinct_lines,
        |    CASE WHEN len(lines) = 0 THEN 0.0
        |         ELSE round_even((1.0 - CAST(len(list_distinct(lines)) AS DOUBLE) / len(lines)) * 1e6, 0) / 1e6
        |    END AS dup_line_ratio
        |  FROM base),
        |bg AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(words)),
        |      i -> words[CAST(i AS INT)] || ' ' || words[CAST(i + 1 AS INT)])) AS bigram
        |  FROM base WHERE len(words) >= 2),
        |cnt AS (SELECT doc_id, bigram, count(*) AS c FROM bg
        |        GROUP BY doc_id, bigram),
        |top AS (SELECT doc_id,
        |    round_even(CAST(max(c) AS DOUBLE) / sum(c) * 1e6, 0) / 1e6 AS top_bigram_frac
        |  FROM cnt GROUP BY doc_id)
        |SELECT la.doc_id, n_lines, n_distinct_lines, dup_line_ratio,
        |  coalesce(top_bigram_frac, 0.0) AS top_bigram_frac
        |FROM la LEFT JOIN top ON la.doc_id = top.doc_id
        |ORDER BY la.doc_id""".stripMargin),
    // fixed-window chunking with overlap (the pre-tokenization packing
    // step), offsets carried for provenance; full SQL replica
    Query("ta_chunks", Nil, (s, dir) =>
      TextOps.chunk(docs(s, dir), maxChars = 300, overlap = 50)
        .orderBy(col("doc_id"), col("chunk_idx")),
      """WITH starts AS (SELECT doc_id, text,
        |    unnest(list_transform(range(0,
        |      (CASE WHEN length(text) <= 300 THEN 0
        |            ELSE (length(text) - 300 + 250 - 1) // 250 END) + 1),
        |      i -> CAST(i * 250 AS BIGINT))) AS char_start
        |  FROM documents WHERE length(text) > 0)
        |SELECT doc_id,
        |  CAST(char_start // 250 AS BIGINT) AS chunk_idx,
        |  char_start,
        |  least(char_start + 300, length(text)) AS char_end,
        |  substring(text, CAST(char_start + 1 AS INT), 300) AS chunk
        |FROM starts ORDER BY doc_id, chunk_idx""".stripMargin),
    // PII redaction (emails + bare URLs -> pinned placeholders, counted):
    // the corpus is PII-free by construction, so the query SEEDS
    // deterministic doc_id-derived emails/URLs into 2/7 of the rows —
    // the oracle seeds identically and replays the same two-stage
    // redaction (URL first, then email; RE2-safe patterns only)
    Query("ta_redact", Nil, (s, dir) => {
      val seeded = docs(s, dir).withColumn("text",
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(col("text"), lit(" contact user"),
            col("doc_id").cast("string"), lit("@example.com now")))
          .when(pmod(col("doc_id"), lit(7)) === 3,
            concat(col("text"), lit(" see https://example.org/doc/"),
              col("doc_id").cast("string"), lit("?ref=a b")))
          .otherwise(col("text")))
      TextOps.redactPii(seeded).orderBy(col("doc_id"))
    },
      """WITH seeded AS (SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0
        |           THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
        |         WHEN doc_id % 7 = 3
        |           THEN text || ' see https://example.org/doc/' || CAST(doc_id AS VARCHAR) || '?ref=a b'
        |         ELSE text END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', 0)) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, 'https?://[A-Za-z0-9./_%~#?&=+-]+', 0)) AS BIGINT) AS n_urls,
        |  regexp_replace(
        |    regexp_replace(text, 'https?://[A-Za-z0-9./_%~#?&=+-]+', '<URL>', 'g'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS redacted
        |FROM seeded ORDER BY doc_id""".stripMargin),
    // per-document top-3 TF-IDF keywords: corpus-statistic scoring with
    // no cross-term float summation anywhere (per-pair rows; rint 1e-6
    // parity recipe), so the whole operator is a full SQL replica
    Query("ta_keywords", Nil, (s, dir) =>
      TextOps.keywords(docs(s, dir))
        .orderBy(col("doc_id"), col("rank")),
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      t -> length(t) > 0)) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |       FROM toks GROUP BY doc_id, term),
        |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
        |          FROM tf GROUP BY term),
        |nn AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT doc_id, term, tf, df,
        |    round_even(ln((nn.n + 1.0) / (df + 1.0)) * 1e6, 0) / 1e6 AS idf
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN nn),
        |s2 AS (SELECT doc_id, term, tf, df,
        |         round_even(tf * idf * 1e6, 0) / 1e6 AS tfidf
        |       FROM scored),
        |r AS (SELECT doc_id, term, tf, df, tfidf,
        |        row_number() OVER (PARTITION BY doc_id
        |                           ORDER BY tfidf DESC, term) AS "rank"
        |      FROM s2)
        |SELECT doc_id, "rank", term, tf, df, tfidf
        |FROM r WHERE "rank" <= 3 ORDER BY doc_id, "rank"""".stripMargin),

    // ---- width-bucketed work equalization observable (the reference's
    //      RecResizeImgForTest sort-by-width batching, rec_img_aug.py:
    //      55-106; the equalizer itself is plan-tested in ScaleSpec) ----
    Query("q_width_bucket", Nil, (s, dir) =>
      graft.ops.Rebalance.bucketHistogram(docs(s, dir)),
      """SELECT CAST(least(floor(length(text) / 200.0), 12) AS INT) AS len_bucket,
        |  count(*) AS n, CAST(sum(length(text)) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- multimodal plumbing (stubbed decode, real schema/batching). The
    //      oracle's header fields + mean byte are closed-form SQL of
    //      doc_id/text for the synthesized payloads. The closed forms
    //      index CHARACTERS while the engine stub walks UTF-8 BYTES, so
    //      they agree only on ASCII — the `ascii_ok` CTE ASSERTS that
    //      assumption (strlen = byte length): a future non-ASCII sf
    //      corpus fails this oracle loudly via error() instead of
    //      silently hash-mismatching (the byte-vs-char trap of DuckDB's
    //      byte-based levenshtein) ----------------------------------
    Query("mm_features", Nil, (s, dir) =>
      graft.ops.MultimodalOps.mediaFeatures(s, docs(s, dir)),
      asciiDocsSql + """
        |SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS media_type,
        |  CAST(16 + least(length(text), 256) AS INT) AS byte_len,
        |  CAST(doc_id % 64 + 1 AS INT) AS width,
        |  CAST(doc_id % 48 + 1 AS INT) AS height,
        |  CAST(3 AS INT) AS channels,
        |  round_even(list_aggregate(list_transform(
        |    range(1, least(length(text), 256) + 1),
        |    x -> ascii(substring(text, CAST(x AS INT), 1))), 'avg') * 1e6, 0) / 1e6 AS mean_byte,
        |  TRUE AS header_ok
        |FROM ascii_ok ORDER BY doc_id""".stripMargin),
    // frame-sample + nearest-neighbor resize over the payload body,
    // batched per partition (the remaining multimodal verbs). Oracle:
    // body = first min(len,256) chars as bytes, 16-byte frames (tail
    // dropped), every 2nd frame; resize: nearest-neighbor to 64 bytes,
    // src = (i*len)//64. Integer-exact until the final double mean (sum
    // of ints), rint = round_even
    Query("mm_transform", Nil, (s, dir) =>
      graft.ops.MultimodalOps.mediaTransforms(s, docs(s, dir)),
      asciiDocsSql + """,
        |b AS (SELECT doc_id, text,
        |    least(length(text), 256) AS blen,
        |    CAST(least(length(text), 256) // 16 AS INT) AS n_frames
        |  FROM ascii_ok),
        |samp AS (SELECT doc_id,
        |    CASE WHEN n_frames = 0 THEN 0.0 ELSE
        |      round_even(list_aggregate(list_transform(
        |        list_filter(range(0, blen),
        |          p -> (p // 16) < n_frames AND (p // 16) % 2 = 0),
        |        p -> ascii(substring(text, CAST(p + 1 AS INT), 1))), 'avg') * 1e6, 0) / 1e6
        |    END AS sampled_mean
        |  FROM b),
        |rez AS (SELECT doc_id,
        |    CASE WHEN blen = 0 THEN 0.0 ELSE
        |      round_even(list_aggregate(list_transform(range(0, 64),
        |        i -> ascii(substring(text, CAST((i * blen) // 64 + 1 AS INT), 1))), 'avg') * 1e6, 0) / 1e6
        |    END AS resized_mean
        |  FROM b)
        |SELECT b.doc_id, n_frames, sampled_mean,
        |  CAST(64 AS INT) AS resized_len, resized_mean
        |FROM b JOIN samp ON b.doc_id = samp.doc_id
        |       JOIN rez ON b.doc_id = rez.doc_id
        |ORDER BY b.doc_id""".stripMargin),

    // ---- schema'd JSON parse + array predicates (DetLabelEncode
    //      json.loads -> polys/tags, label_ops.py:19-71); the oracle
    //      computes closed-form from the base columns, the Spark side does
    //      the real JSON roundtrip -----------------------------------------
    Query("q_from_json", Nil, (s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      val jsonSchema = StructType.fromDDL(
        "id BIGINT, prio STRING, items ARRAY<BIGINT>")
      val items = array(col("o_custkey").cast("long"),
        pmod(col("o_orderkey"), lit(1000)).cast("long"),
        length(col("o_orderstatus")).cast("long"))
      // ROW FILTER ON THE RAW COLUMNS, BEFORE THE JSON ROUNDTRIP
      // (round-6 fix): the old `.filter(col("has_big"))` over the parsed
      // struct was pushed below the projection by Catalyst, so every row
      // paid to_json+from_json TWICE (once in the pushed Filter, once in
      // the Project — guide §4.4's duplicated-evaluation trap, JVM-side).
      // `items` is an array of BIGINTs whose JSON write+parse roundtrip
      // is lossless, so exists(items, >1000) pre-parse selects EXACTLY
      // the rows whose parsed has_big is true — the emitted has_big
      // column (always true on survivors, same as before) is still
      // computed from the parsed struct.
      o.filter(exists(items, x => x > 1000))
        .select(to_json(struct(
          col("o_orderkey").cast("long").as("id"),
          col("o_orderpriority").as("prio"),
          items.as("items"))).as("j"))
        .select(from_json(col("j"), jsonSchema).as("p"))
        .select(col("p.id").as("id"), col("p.prio").as("prio"),
          size(col("p.items")).cast("long").as("n_items"),
          aggregate(col("p.items"), lit(0L), (a, x) => a + x).as("items_sum"),
          exists(col("p.items"), x => x > 1000).as("has_big"))
        .orderBy(col("id"))
    },
      """SELECT o_orderkey AS id, o_orderpriority AS prio,
        |  CAST(3 AS BIGINT) AS n_items,
        |  CAST(o_custkey + (o_orderkey % 1000) + length(o_orderstatus) AS BIGINT) AS items_sum,
        |  TRUE AS has_big
        |FROM orders
        |WHERE o_custkey > 1000 OR (o_orderkey % 1000) > 1000
        |   OR length(o_orderstatus) > 1000
        |ORDER BY id""".stripMargin),

    // ---- eos-slice decode (AttnLabelDecode, rec_postprocess.py:128-198):
    //      sos prefix + body + eos + post-eos padding; decode stops at
    //      the first eos, maps indices via a broadcast dict -------------
    Query("q_attn_decode", Nil, (s, dir) => {
      val letters = array(('a' to 'j').map(c => lit(c.toString)): _*)
      val idxs = transform(slice(split(col("text"), " "), 1, 12),
        t => (length(t) % 10 + 2).cast("int"))
      val arr = concat(array(lit(0)), idxs, array(lit(1)),
        array(lit(9), lit(9), lit(9)))
      s.read.parquet(s"$dir/documents.parquet")
        .withColumn("arr", arr)
        .withColumn("sliced",
          slice(col("arr"), lit(2),
            (array_position(col("arr"), 1) - 2).cast("int")))
        .select(col("doc_id"),
          size(col("sliced")).cast("long").as("n_body"),
          concat_ws("", transform(col("sliced"),
            i => element_at(letters, (i - 1).cast("int")))).as("decoded"))
        .orderBy(col("doc_id"))
    },
      """WITH b AS (SELECT doc_id,
        |  list_transform(list_slice(string_split(text, ' '), 1, 12),
        |    t -> CAST(length(t) % 10 + 2 AS INT)) AS idxs FROM documents),
        |a AS (SELECT doc_id,
        |  list_concat(list_concat(list_concat([0], idxs), [1]), [9, 9, 9]) AS arr
        | FROM b),
        |s AS (SELECT doc_id,
        |  list_slice(arr, 2, list_position(arr, 1) - 1) AS sliced FROM a)
        |SELECT doc_id, CAST(len(sliced) AS BIGINT) AS n_body,
        |  coalesce(list_aggregate(list_transform(sliced,
        |    i -> ['a','b','c','d','e','f','g','h','i','j'][i - 1]),
        |    'string_agg', ''), '') AS decoded
        |FROM s ORDER BY doc_id""".stripMargin),

    // ---- pad-to-len + char histogram (CTCLabelEncode,
    //      label_ops.py:147-177): encode first 20 tokens, zero-pad to 25,
    //      index histogram via higher-order aggregate -------------------
    Query("q_ctc_encode", Nil, (s, dir) => {
      val idxs = transform(slice(split(col("text"), " "), 1, 20),
        t => (length(t) % 9 + 1).cast("int"))
      s.read.parquet(s"$dir/documents.parquet")
        .withColumn("idxs", idxs)
        .withColumn("padded",
          concat(col("idxs"), array_repeat(lit(0), lit(25) - size(col("idxs")))))
        .select(col("doc_id"),
          size(col("idxs")).cast("long").as("label_len"),
          array_join(transform(col("padded"), x => x.cast("string")), ",")
            .as("padded_str"),
          array_join(transform(sequence(lit(0), lit(9)),
            d => size(filter(col("padded"), x => x === d)).cast("string")), ",")
            .as("hist_str"))
        .orderBy(col("doc_id"))
    },
      """WITH i AS (SELECT doc_id,
        |  list_transform(list_slice(string_split(text, ' '), 1, 20),
        |    t -> CAST(length(t) % 9 + 1 AS INT)) AS idxs FROM documents),
        |p AS (SELECT doc_id, CAST(len(idxs) AS BIGINT) AS label_len,
        |  list_concat(idxs, list_transform(range(1, 26 - len(idxs)), x -> 0)) AS padded
        | FROM i)
        |SELECT doc_id, label_len,
        |  array_to_string(padded, ',') AS padded_str,
        |  array_to_string(list_transform(range(0, 10),
        |    d -> len(list_filter(padded, x -> x = d))), ',') AS hist_str
        |FROM p ORDER BY doc_id""".stripMargin),

    // ---- cross-row sampled side-lookup (get_ext_data,
    //      simple_dataset.py:64-92): each row joins the deterministic
    //      1/97 sample row at floor(id/97)*97 — a broadcast self-join ----
    Query("q_ext_data", Nil, (s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), col("value"))
      val sample = ev
        .filter(pmod(col("event_id"), lit(97)) === 0)
        .select(col("event_id").as("ext_id"), col("value").as("ext_value"))
      ev.withColumn("ext_id",
          col("event_id") - pmod(col("event_id"), lit(97)))
        .join(broadcast(sample), Seq("ext_id"))
        .select(col("event_id"), col("value"), col("ext_id"),
          col("ext_value"))
        .orderBy(col("event_id"))
    },
      """SELECT e.event_id, e.value,
        |  (e.event_id - e.event_id % 97) AS ext_id, s.value AS ext_value
        |FROM events e JOIN events s
        |  ON s.event_id = e.event_id - e.event_id % 97
        |ORDER BY e.event_id""".stripMargin),

    // ---- JSON-lines source scan (PubTabDataSet, pubtab_dataset.py:12-113:
    //      json.loads per line with a fixed schema): the engine WRITES a
    //      jsonl sink then scans it back with a schema'd json source;
    //      DuckDB scans the same engine-written files ----------------------
    Query("q_jsonl_scan", Seq(Dump.docsJsonl), (s, dir) =>
      s.read.schema("doc_id BIGINT, lang STRING, n_chars BIGINT")
        .json(Dump.docsJsonl.path(dir))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("lang")),
      s"""SELECT lang, count(*) AS n,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM read_json('${Dumps.jsonl(oracleSf)}/part-*',
         |  format='newline_delimited',
         |  columns={'doc_id':'BIGINT','lang':'VARCHAR','n_chars':'BIGINT'})
         |GROUP BY lang ORDER BY lang""".stripMargin),

    // ---- TSV source scan (SimpleDataSet label files,
    //      simple_dataset.py:99-101: split on delimiter) ----------------
    Query("q_tsv_scan", Seq(Dump.docsTsv), (s, dir) =>
      s.read.option("sep", "\t")
        .schema("doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT")
        .csv(Dump.docsTsv.path(dir))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("source")),
      s"""SELECT source, count(*) AS n,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM read_csv('${Dumps.tsv(oracleSf)}/part-*', delim='\t', header=false,
         |  columns={'doc_id':'BIGINT','lang':'VARCHAR','source':'VARCHAR','n_chars':'BIGINT'})
         |GROUP BY source ORDER BY source""".stripMargin),

    // ---- union + deterministic sample (simple_dataset.py:45-57) ---------
    Query("q_union_sample", Nil, (s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .filter(substring(md5(concat(col("l_orderkey").cast("string"),
          lit("-"), col("l_linenumber").cast("string"))), 1, 1) < "8")
        .select(col("l_orderkey").as("key"), lit("li").as("src"))
      val ord = s.read.parquet(s"$dir/orders.parquet")
        .filter(substring(md5(col("o_orderkey").cast("string")), 1, 1) < "4")
        .select(col("o_orderkey").as("key"), lit("ord").as("src"))
      li.unionByName(ord).groupBy(col("src"))
        .agg(count(lit(1)).as("n"),
          sum(col("key").cast("decimal(18,0)")).cast("double").as("key_sum"))
        .orderBy(col("src"))
    },
      """SELECT src, count(*) AS n,
        |  CAST(SUM(CAST(key AS DECIMAL(18,0))) AS DOUBLE) AS key_sum
        |FROM (
        |  SELECT l_orderkey AS key, 'li' AS src FROM lineitem
        |  WHERE substring(md5(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)), 1, 1) < '8'
        |  UNION ALL
        |  SELECT o_orderkey AS key, 'ord' AS src FROM orders
        |  WHERE substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) < '4'
        |) GROUP BY src ORDER BY src""".stripMargin),

    // ---- top-k (BalanceLoss topk analogue) ------------------------------
    Query("q_topk", Nil, (s, dir) =>
      s.read.parquet(s"$dir/orders.parquet")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select(col("o_orderkey"), col("o_totalprice"))
        .limit(10),
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),

    // ---- per-group limit (max_candidates cap analogue) ------------------
    Query("q_group_limit", Nil, (s, dir) => {
      val w = Window
        .partitionBy(col("event_type"))
        .orderBy(col("value").desc, col("event_id"))
      s.read.parquet(s"$dir/events.parquet")
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 2)
        .select(col("event_type"), col("rk"), col("event_id"), col("value"))
        .orderBy(col("event_type"), col("rk"))
    },
      """SELECT event_type, rk, event_id, value FROM (
        |  SELECT event_type, event_id, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rk
        |  FROM events) WHERE rk <= 2 ORDER BY event_type, rk""".stripMargin),

    // ---- semi/anti joins -------------------------------------------------
    Query("q_semi_join", Nil, (s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
        .orderBy(col("c_mktsegment"))
    },
      """SELECT c_mktsegment, count(*) AS n FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    Query("q_anti_join", Nil, (s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
      c.join(o.filter(col("o_orderpriority") === "1-URGENT"),
          c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey")).orderBy(col("c_custkey"))
    },
      """SELECT c_custkey FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin),

    // ---- broadcast join + agg -------------------------------------------
    Query("q_join_agg", Nil, (s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      val c = s.read.parquet(s"$dir/customer.parquet")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,4)")).cast("double")
            .as("total"))
        .orderBy(col("c_mktsegment"))
    },
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // ---- label encode (ClsLabelEncode: label -> index via broadcast
    //      list, unknown -> row drop; label_ops.py:6-16) ------------------
    Query("q_label_encode", Nil, (s, dir) => {
      val labels = array(lit("click"), lit("view"), lit("purchase"))
      s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"),
          (array_position(labels, col("event_type")) - 1)
            .cast("int").as("label_idx"))
        .filter(col("label_idx") >= 0)
        .orderBy(col("event_id"))
    },
      """SELECT event_id,
        |  CASE event_type WHEN 'click' THEN 0 WHEN 'view' THEN 1
        |    WHEN 'purchase' THEN 2 END AS label_idx
        |FROM events
        |WHERE event_type IN ('click', 'view', 'purchase')
        |ORDER BY event_id""".stripMargin),

    // ---- distinct counting -----------------------------------------------
    Query("q_distinct", Nil, (s, dir) =>
      s.read.parquet(s"$dir/orders.parquet")
        .agg(countDistinct(col("o_custkey")).as("n_cust"),
          countDistinct(col("o_orderpriority")).as("n_prio")),
      """SELECT count(DISTINCT o_custkey) AS n_cust,
        |  count(DISTINCT o_orderpriority) AS n_prio FROM orders""".stripMargin),

    // ---- exact percentiles (OHEM rank-select / TrainingStats median) ----
    Query("q_percentile", Nil, (s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .groupBy(col("event_type"))
        .agg(
          expr("percentile(value, 0.5)").as("p50"),
          expr("percentile(value, 0.9)").as("p90"))
        .orderBy(col("event_type")),
      """SELECT event_type,
        |  quantile_cont(value, 0.5) AS p50,
        |  quantile_cont(value, 0.9) AS p90
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ---- rollup (metrics two-level rollup, eval_det_iou combine) --------
    Query("q_rollup", Nil, (s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .rollup(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("v"))
        .orderBy(col("event_type").asc_nulls_first),
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
        |FROM events GROUP BY ROLLUP(event_type)
        |ORDER BY event_type ASC NULLS FIRST""".stripMargin),

    // ---- cube / grouping sets (two-dim metric rollup beyond the
    //      reference's two-level combine, eval_det_iou.py:178-202) -------
    Query("q_cube", Nil, (s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .withColumn("user_bucket", pmod(col("user_id"), lit(4)))
        .cube(col("event_type"), col("user_bucket"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("v"))
        .orderBy(col("event_type").asc_nulls_first,
          col("user_bucket").asc_nulls_first),
      """SELECT event_type, user_id % 4 AS user_bucket, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
        |FROM events GROUP BY CUBE(event_type, user_id % 4)
        |ORDER BY event_type ASC NULLS FIRST, user_bucket ASC NULLS FIRST""".stripMargin),

    // ---- lag window (turn-context features) ------------------------------
    Query("q_lag", Nil, (s, dir) => {
      val w = Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      s.read.parquet(s"$dir/events.parquet")
        .withColumn("prev_value", lag(col("value"), 1).over(w))
        .select(col("user_id"), col("event_id"), col("value"),
          col("prev_value"))
        .orderBy(col("user_id"), col("event_id"))
    },
      """SELECT user_id, event_id, value,
        |  lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
        |FROM events ORDER BY user_id, event_id""".stripMargin),

    // ---- range self-join (IoU theta-join analogue over time) ------------
    Query("q_range_join", Nil, (s, dir) => {
      val e = s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), col("user_id"), col("ts"))
      e.as("a").join(e.as("b"),
          col("a.user_id") === col("b.user_id") &&
            col("b.ts") > col("a.ts") &&
            col("b.ts") <= col("a.ts") + expr("INTERVAL 60 SECONDS"))
        .groupBy(col("a.user_id").as("user_id"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("user_id"))
    },
      """SELECT a.user_id AS user_id, count(*) AS n_pairs
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        |  AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 60 SECOND
        |GROUP BY a.user_id ORDER BY user_id""".stripMargin),

    // ---- ordering window (sort_boxes / stable turn order analogue) ------
    Query("q_order_window", Nil, (s, dir) => {
      val w = Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      s.read.parquet(s"$dir/events.parquet")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id"), col("event_type"))
        .orderBy(col("user_id"))
    },
      """SELECT user_id, event_id, event_type FROM (
        |  SELECT user_id, event_id, event_type,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin),

    // ---- grouped aggregation, decimal-exact (RecMetric partials shape) --
    Query("q_agg", Nil, (s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("sum_qty"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,6)")).cast("double").as("revenue"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"), col("l_linestatus")),
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)
  )

  /** The one way to run a driver query: `build` (its dumps, then its
    * frame) and `use` of the frame, every job they start tagged `name`
    * (the caller's job description restored after), inside one
    * CacheScope. Right is the seconds of needs + build + use, the clock
    * stopped before the scope releases. A NonFatal failure is Left
    * ("Class: message", first 300 chars); an Error such as
    * OutOfMemoryError or StackOverflowError aborts the caller's run, whose
    * timings on a compromised JVM would be no artifact.
    */
  def run(spark: SparkSession, dir: String, name: String,
      build: (SparkSession, String) => DataFrame)(
      use: DataFrame => Unit): Either[String, Double] =
    DedupOps.described(spark.sparkContext, name) {
      try CacheScope {
        val t0 = System.nanoTime()
        use(build(spark, dir))
        Right((System.nanoTime() - t0) / 1e9)
      } catch { case NonFatal(e) =>
        Left(s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
          .take(300))
      }
    }

  /** Every query's builder, keyed by name. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> (q.run _)).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables (plus the engine's own /tmp dumps — see
    * graft.Dumps), generated against Dumps.OracleSf.
    */
  def oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracle).toMap
}
