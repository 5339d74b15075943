package graft

import graft.ops.{DedupOps, TextOps}
import graft.pipeline.CorpusPipeline
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end composed pipeline (round-5 ask 1): extract -> convDocs ->
  * exact dedup -> near-dup candidates -> verify -> clusters -> survivors
  * -> quality/lang gate, as ONE composition — cross-family invariants
  * and the no-re-extraction plan audit.
  */
class CorpusSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private val minJ = 0.45
  private val minQ = 0.8
  private lazy val turns = SparkEntry.transcripts(spark, 128, 32)
  private lazy val docs = CorpusPipeline.corpusDocs(turns)
    .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  private lazy val out = CorpusPipeline.corpus(docs, minJ, minQ, Seq("en"))

  test("composed corpus == step-by-step composition, and the tail is non-vacuous") {
    val exact = CorpusPipeline.exactSurvivors(docs)
    val pairs = DedupOps.minhashNearDups(exact, minJ)
      .select(col("id_a"), col("id_b"))
    assert(pairs.count() > 0, "fixture has no near-dup pairs — tail vacuous")
    val manual = TextOps.qualityFilter(
      DedupOps.dedupSurvivors(exact, DedupOps.clusterLabels(pairs)),
      minQ, Seq("en"))
    val key = (df: org.apache.spark.sql.DataFrame) =>
      df.select("doc_id", "text", "quality", "lang_pred").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
          r.getString(3))).toSet
    assert(key(out) == key(manual))
    assert(out.count() > 0)
  }

  test("cross-family invariants hold on the composed output") {
    val rows = out.collect()
    val ids = rows.map(_.getAs[Long]("doc_id")).toSet
    // 1. exact dedup held: no two output docs share a text
    val texts = rows.map(_.getAs[String]("text"))
    assert(texts.length == texts.distinct.length)
    // 2. near-dup resolution held: no VERIFIED pair survives whole
    val survivedPairs = DedupOps.minhashNearDups(
        CorpusPipeline.exactSurvivors(docs), minJ)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => ids.contains(a) && ids.contains(b) }
    assert(survivedPairs.isEmpty,
      s"near-dup pairs fully present in output: ${survivedPairs.take(5).toSeq}")
    // 3. gate held: every kept row passes both thresholds
    rows.foreach { r =>
      assert(r.getAs[Double]("quality") >= minQ)
      assert(r.getAs[String]("lang_pred") == "en")
    }
    // 4. accounting: kept + gate-rejected + dedup losses == corpus size
    val exact = CorpusPipeline.exactSurvivors(docs)
    val nExact = exact.count()
    val nDocs = docs.count()
    val clusters = DedupOps.clusterLabels(
      DedupOps.minhashNearDups(exact, minJ).select(col("id_a"), col("id_b")))
    val nNearLoss = clusters.filter(col("doc_id") =!= col("cluster_id")).count()
    val nRejected = TextOps.qualityRejected(
      DedupOps.dedupSurvivors(exact, clusters), minQ, Seq("en")).count()
    assert(nDocs == nExact + (nDocs - nExact)) // exact losses
    assert(rows.length + nRejected + nNearLoss == nExact,
      s"${rows.length} kept + $nRejected rejected + $nNearLoss near-dup " +
        s"losses != $nExact exact survivors")
  }

  test("plan audit: the tail never re-extracts — extraction ran once into the hub") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    out.collect()
    // walk the EXECUTED tail, stopping at cache boundaries: everything
    // below an InMemoryTableScan ran exactly once into the hub (plan
    // STRINGS re-render the cached build under every consumer, which is
    // why this walks the tree instead of grepping the string)
    var cacheScans = 0
    def tailExprs(p: SparkPlan): Seq[String] = p match {
      case _: InMemoryTableScanExec => cacheScans += 1; Nil
      case a: AdaptiveSparkPlanExec => tailExprs(a.executedPlan)
      case q: QueryStageExec => tailExprs(q.plan)
      case other => other.expressions.map(_.toString) ++
        other.children.flatMap(tailExprs)
    }
    val exprs = tailExprs(out.queryExecution.executedPlan)
    val reExtract = exprs.filter(_.contains("extract_turn"))
    assert(reExtract.isEmpty,
      s"a tail stage re-runs extraction: ${reExtract.take(3)}")
    assert(cacheScans > 0, "tail must read the materialized docs hub")
  }

  test("composed corpus swallows INJECTED exact and near duplicates across corpus shapes") {
    import org.apache.spark.sql.functions.{concat, lit => flit}
    // three corpus shapes, each salted with deterministic duplicate
    // injections: an exact copy (+100000 id) and a near copy with a
    // short appended tail (+200000 id, jaccard ~0.95 on these doc
    // lengths) of every `stride`-th doc. The copies carry HIGHER ids
    // than their sources, so the min-id survivor contract demands that
    // NO injected id ever survives the composed pipeline.
    for ((nConvs, cap, stride) <- Seq((48, 12, 3), (64, 16, 5))) {
      val baseDocs = CorpusPipeline.corpusDocs(
        SparkEntry.transcripts(spark, nConvs, cap))
      val seedRows = baseDocs.filter(pmod(col("doc_id"), lit(stride)) === 0)
      val exactCopies = seedRows
        .withColumn("doc_id", col("doc_id") + 100000)
        .withColumn("conv_id", concat(flit("dupx-"), col("conv_id")))
      val nearCopies = seedRows
        .withColumn("doc_id", col("doc_id") + 200000)
        .withColumn("conv_id", concat(flit("dupn-"), col("conv_id")))
        .withColumn("text", concat(col("text"), flit(" tail marker")))
      val salted = baseDocs.unionByName(exactCopies).unionByName(nearCopies)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val kept = CorpusPipeline.corpus(salted, minJaccard = 0.5,
          minQuality = 0.0, langs = Seq("en", "und", "fr", "de", "es"))
        .collect()
      val keptIds = kept.map(_.getAs[Long]("doc_id")).toSet
      val injected = keptIds.filter(_ >= 100000)
      assert(injected.isEmpty,
        s"($nConvs,$cap,$stride): injected duplicates survived: " +
          s"${injected.take(5)}")
      assert(kept.nonEmpty)
      // and the output is still exact-dup-free
      val texts = kept.map(_.getAs[String]("text"))
      assert(texts.length == texts.distinct.length)
      salted.unpersist(blocking = false)
    }
  }

  test("incremental composed route == batch composed route (the daily job)") {
    // day 0 is indexed; day 1 rides incrementalMinhashCandidates; the
    // unioned pair set must resolve to the SAME final corpus the pure
    // batch composition produces — the x_corpus_incr contract, proven
    // in-JVM (the driver gate hashes both against the same oracle)
    val exact = CorpusPipeline.exactSurvivors(docs)
    val day0 = exact.filter(pmod(col("doc_id"), lit(4)) =!= 0)
    val day1 = exact.filter(pmod(col("doc_id"), lit(4)) === 0)
    val idxPath = java.nio.file.Files
      .createTempDirectory("graft_corpus_incr").toString + "/index"
    val (idxBands, idxSigs) = graft.ops.DedupOps.ensureMinhashIndex(
      spark, day0, idxPath)
    val cands = graft.ops.DedupOps.minhashCandidates(day0, minJ)
      .unionByName(graft.ops.DedupOps.incrementalMinhashCandidates(
        day1, idxBands, idxSigs, minJ))
      .distinct()
    val pairs = graft.ops.DedupOps.verifyJaccard(cands, exact, minJ)
      .select(col("id_a"), col("id_b"))
    val viaIncr = TextOps.qualityFilter(
        graft.ops.DedupOps.dedupSurvivors(exact,
          graft.ops.DedupOps.clusterLabels(pairs)), minQ, Seq("en"))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val viaBatch = out.collect().map(_.getAs[Long]("doc_id")).toSet
    assert(viaIncr == viaBatch && viaIncr.nonEmpty)
  }

  test("runCorpus: same result as corpus(), all internal caches released after") {
    import SparkTestSession.{poll, rddsWithBlocks}
    spark.sharedState.cacheManager.clearCache()
    val freshDocs = CorpusPipeline.corpusDocs(
        SparkEntry.transcripts(spark, 48, 12))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    freshDocs.count()
    val before = poll(rddsWithBlocks())(_.nonEmpty)
    var taken = Set.empty[Int]
    val viaRun = CorpusPipeline.runCorpus(freshDocs, minJ, minQ, Seq("en")) {
      df =>
        val kept = df.collect().map(_.getAs[Long]("doc_id")).toSet
        taken = poll(rddsWithBlocks() -- before)(_.nonEmpty)
        kept
    }
    assert(taken.nonEmpty, "runCorpus holds blocks while its action runs")
    // only the CALLER's docs cache may remain — the exact hub, the sig
    // pass and every clusterLabels checkpoint must be gone
    val left = poll(rddsWithBlocks() -- before)(_.isEmpty)
    assert(left.isEmpty, s"runCorpus left RDD blocks behind: $left")
    val cached = spark.sharedState.cacheManager
    freshDocs.unpersist(blocking = true)
    assert(cached.isEmpty,
      "runCorpus must release its internal caches")
    val viaLazy = CorpusPipeline.corpus(
        freshDocs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
        minJ, minQ, Seq("en"))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(viaRun == viaLazy && viaRun.nonEmpty)
  }

  test("CacheScope { minhashNearDups }: pairs == lazy op, sig cache released after") {
    import SparkTestSession.{poll, rddsWithBlocks}
    spark.sharedState.cacheManager.clearCache()
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val before = rddsWithBlocks()
    val (viaScope, taken) = graft.io.CacheScope {
      (graft.ops.DedupOps.minhashNearDups(d, minJaccard = 0.6)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
        poll(rddsWithBlocks() -- before)(_.nonEmpty))
    }
    assert(taken.nonEmpty, "the sig cache holds blocks inside the scope")
    val left = poll(rddsWithBlocks() -- before)(_.isEmpty)
    assert(left.isEmpty && spark.sharedState.cacheManager.isEmpty,
      s"the scope must release the sig cache; RDDs holding blocks: $left")
    val viaLazy = graft.ops.DedupOps.minhashNearDups(d, minJaccard = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaScope == viaLazy && viaScope.nonEmpty)
    spark.sharedState.cacheManager.clearCache()
  }

  test("runCorpus evaluates ngram_jaccard exactly once per screened candidate") {
    // counted, like BandingSpec's sig pass: clusterLabels' edge list
    // once came from a self-union of the lazy pair plan, and AQE ran the
    // band join -> screen -> verify once per union branch (2x)
    val nCands = graft.io.CacheScope(DedupOps.minhashCandidates(
      CorpusPipeline.exactSurvivors(docs), minJ).count())
    assert(nCands > 0, "fixture has no screened candidates — count vacuous")
    graft.expr.TextExprKernels.jaccardEvals.reset()
    CorpusPipeline.runCorpus(docs, minJ, minQ, Seq("en"))(_.collect())
    val evals = graft.expr.TextExprKernels.jaccardEvals.sum()
    assert(evals == nCands,
      s"verify ran $evals times for $nCands screened candidates")
  }

  test("runCorpus evaluates quality_score and lang_id exactly once per doc reaching the gate") {
    // the gate's reject_reason filter was pushed below the projection
    // that computes both scores, so each kept doc ran each kernel twice
    val exact = CorpusPipeline.exactSurvivors(docs)
    val nGated = graft.io.CacheScope(DedupOps.dedupSurvivors(exact,
      DedupOps.clusterLabels(DedupOps.minhashNearDups(exact, minJ)
        .select(col("id_a"), col("id_b")))).count())
    val kernels = graft.expr.TextExprKernels
    kernels.qualityEvals.reset()
    kernels.langEvals.reset()
    val kept = CorpusPipeline.runCorpus(docs, minJ, minQ, Seq("en"))(_.count())
    assert(kept > 0 && kept < nGated, s"$kept of $nGated kept: gate vacuous")
    assert(kernels.qualityEvals.sum() == nGated && kernels.langEvals.sum() == nGated,
      s"quality_score ran ${kernels.qualityEvals.sum()} and lang_id " +
        s"${kernels.langEvals.sum()} times for $nGated docs at the gate")
  }

  test("the signature pass is one eager job, tagged, the caller's description restored") {
    val exact = CorpusPipeline.exactSurvivors(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    exact.count()
    val sc = spark.sparkContext
    sc.setJobDescription("caller")
    try {
      val (n, jobs) = SparkTestSession.jobsDuring(graft.io.CacheScope {
        val cands = DedupOps.minhashCandidates(exact, minJ)
        assert(sc.getLocalProperty("spark.job.description") == "caller")
        cands.count()
      })
      assert(n > 0)
      assert(jobs.head == "minhashCandidates:sigs" &&
        jobs.tail.forall(_ == "caller"), s"jobs: $jobs")
    } finally sc.setJobDescription(null)
    exact.unpersist(blocking = false)
  }

  test("verifyJaccard keeping the jaccard column evaluates ngram_jaccard once per candidate") {
    // a kept column was computed twice per verified pair: once in the
    // text join's pushed-down condition, once in the projection
    val exact = CorpusPipeline.exactSurvivors(docs)
    graft.io.CacheScope {
      val cands = graft.io.CacheScope.cache(DedupOps.minhashCandidates(exact, minJ))
      val nCands = cands.count()
      graft.expr.TextExprKernels.jaccardEvals.reset()
      val verified = DedupOps.verifyJaccard(cands, exact, minJ).collect()
      val evals = graft.expr.TextExprKernels.jaccardEvals.sum()
      assert(verified.nonEmpty && verified.length < nCands,
        s"${verified.length} of $nCands candidates verified: one side vacuous")
      assert(verified.forall(_.getAs[Double]("jaccard") >= minJ))
      assert(evals == nCands,
        s"verify ran $evals times for $nCands candidates")
    }
  }

  test("cluster labels: driver finish == forced star rounds on the minhash pairs") {
    val exact = CorpusPipeline.exactSurvivors(docs)
    graft.io.CacheScope {
      val pairs = graft.io.CacheScope.cache(
        DedupOps.minhashNearDups(exact, minJ).select(col("id_a"), col("id_b")))
      def labels(driverEdges: Long) =
        DedupOps.clusterLabels(pairs, driverEdges = driverEdges)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val viaDriver = labels(Long.MaxValue)
      assert(viaDriver.values.toSet.size < viaDriver.size,
        "fixture has no near-dup cluster")
      assert(viaDriver == labels(0L))
    }
  }

  test("runCorpus resolves a 40-hop revision chain instead of refusing") {
    import spark.implicits._
    // doc i is blocks i..i+6 of random words: each revision drops one
    // block and appends one, so consecutive docs are near-dups and docs
    // two hops apart are not. The verified graph is one 41-node path
    // with ascending ids, past the 25 rounds one-hop label propagation
    // had to resolve it.
    val rnd = new scala.util.Random(11)
    def word = Seq.fill(3 + rnd.nextInt(6))(('a' + rnd.nextInt(26)).toChar).mkString
    val blocks = Vector.fill(47)(Seq.fill(30)(word).mkString(" "))
    val texts = (0 until 41).map(i => blocks.slice(i, i + 7).mkString(" "))
    val minJaccard = 0.6
    for (i <- 0 until 40)
      assert(graft.kernel.TextHash.ngramJaccard(texts(i), texts(i + 1)) >= minJaccard)
    for (i <- 0 until 39)
      assert(graft.kernel.TextHash.ngramJaccard(texts(i), texts(i + 2)) < minJaccard)
    val chain = texts.zipWithIndex
      .map { case (t, i) => (i + 1L, s"rev-${i + 1}", 1L, t) }
      .toDF("doc_id", "conv_id", "n_turns", "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nPairs = graft.io.CacheScope(
      DedupOps.minhashNearDups(chain, minJaccard).count())
    assert(nPairs == 40, s"the chain verified $nPairs pairs, not its 40 hops")
    val kept = CorpusPipeline.runCorpus(chain, minJaccard, minQuality = 0.0,
        langs = texts.map(graft.kernel.TextHash.langId).distinct) {
      _.collect().map(_.getAs[Long]("doc_id")).toSet
    }
    assert(kept == Set(1L), s"kept $kept")
    chain.unpersist(blocking = false)
  }

  test("verify reads defaultParallelism partitions, not one coalesced task") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, BroadcastQueryStageExec, QueryStageExec, ShuffleQueryStageExec}
    // AQE coalesces a small id-pair shuffle into one partition; the
    // candidates' repartition to a fixed count must reach the verify
    val exact = CorpusPipeline.exactSurvivors(docs)
    graft.io.CacheScope {
      val verified = DedupOps.verifyJaccard(
        DedupOps.minhashCandidates(exact, minJ), exact, minJ)
      verified.collect()
      def result(p: SparkPlan): SparkPlan = p match {
        case a: AdaptiveSparkPlanExec => result(a.executedPlan)
        case q: QueryStageExec => result(q.plan)
        case other => other
      }
      val top = result(verified.queryExecution.executedPlan)
      // the operator evaluating ngram_jaccard, then the shuffle reads of
      // its stage (broadcast sides are other stages' outputs)
      val verify = top.collectFirst {
        case n if n.expressions.exists(_.exists(
          _.isInstanceOf[graft.expr.NgramJaccard])) => n
      }
      assert(verify.nonEmpty, s"no ngram_jaccard in the final plan:\n$top")
      def reads(p: SparkPlan): Seq[Int] = p match {
        case r: AQEShuffleReadExec => Seq(r.partitionSpecs.length)
        case s: ShuffleQueryStageExec => Seq(s.shuffle.numPartitions)
        case _: BroadcastQueryStageExec => Nil
        case other => other.children.flatMap(reads)
      }
      val parts = reads(verify.get)
      assert(parts == Seq(spark.sparkContext.defaultParallelism),
        s"verify input partitions $parts:\n$top")
    }
  }

  test("doc_id derivation matches the conv id suffix and is unique") {
    val m = docs.select(col("doc_id"), col("conv_id")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(m.map(_._1).distinct.length == m.length)
    m.foreach { case (id, conv) =>
      assert(conv == f"conv-$id%06d")
    }
  }
}
