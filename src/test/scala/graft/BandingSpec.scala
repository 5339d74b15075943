package graft

import graft.expr.Functions._
import graft.ops.DedupOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-5 item: the LSH candidate generators must evaluate their per-row
  * hashing ONCE per row. The old shape fed the banded frame to the
  * bucket-size aggregate AND both self-join sides — at corpus scale the
  * expensive hashing (minhash sig / simhash / hyperplane dots) ran 2-4x.
  * The current shape shuffles the banded rows once and pairs each
  * bucket's members on its own task (count valve + collected
  * predecessors over one window sort), so the banded frame has one
  * consumer.
  *
  * Evidence here: (a) the candidate SETS are bit-identical to the old
  * recipe (inlined below), (b) the final plan reads the corpus ONCE and
  * shuffles the band rows once, into defaultParallelism partitions.
  */
class BandingSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private def docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
  private def embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  // --- the OLD recipes, inlined verbatim (groupBy-count + join-back
  //     valve; bands straight off the text) — the equality oracles ------

  private def oldValve(banded: DataFrame, keys: Seq[String],
      maxBucket: Int): DataFrame = {
    val sizes = banded.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("bsize"))
      .filter(col("bsize") > 1 && col("bsize") <= maxBucket)
    banded.join(sizes, keys)
  }

  private def oldMinhashCandidates(d: DataFrame, maxBucket: Int): DataFrame = {
    val eligible = d.filter(length(col("text")) >= graft.kernel.TextHash.ShingleK)
    val banded = eligible.select(col("doc_id"),
      posexplode(minhash_bands(col("text"))).as(Seq("band_idx", "band_key")))
    val pruned = oldValve(banded, Seq("band_idx", "band_key"), maxBucket)
    pruned.as("a").join(pruned.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
  }

  // the signature screen's estimate before the sig_match_frac kernel
  private def hofEst(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => (x === y).cast("int")),
      lit(0), (acc, v) => acc + v) /
      lit(graft.kernel.TextHash.NumHashes.toDouble)

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select(col("id_a"), col("id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  // the OLD full op: text-derived bands + separate sig pass + the same
  // signature screen
  private def oldScreened(d: DataFrame, minJaccard: Double): DataFrame = {
    val sigs = d.filter(length(col("text")) >= 5)
      .select(col("doc_id"), minhash_sig(col("text")).as("sig"))
    oldMinhashCandidates(d, maxBucket = 10000)
      .join(sigs.withColumnRenamed("doc_id", "id_a")
        .withColumnRenamed("sig", "sig_a"), Seq("id_a"))
      .join(sigs.withColumnRenamed("doc_id", "id_b")
        .withColumnRenamed("sig", "sig_b"), Seq("id_b"))
      .filter(hofEst(col("sig_a"), col("sig_b")) >= minJaccard - 0.15)
  }

  test("minhash: new candidate set == old recipe (incl. sig-derived bands)") {
    val minJaccard = 0.6
    val newPairs = pairs(DedupOps.minhashCandidates(docs, minJaccard))
    assert(newPairs == pairs(oldScreened(docs, minJaccard)))
    assert(newPairs.nonEmpty)
    // and bands-from-sig == bands-from-text, row by row
    val drift = docs.filter(length(col("text")) >= 5)
      .select(minhash_bands(col("text")).as("bt"),
        minhash_bands_of_sig(minhash_sig(col("text"))).as("bs"))
      .filter(col("bt") =!= col("bs")).count()
    assert(drift == 0, s"$drift rows band differently via the sig route")
  }

  test("simhash: new candidate set == old recipe at radius 4 and pair-bands 6") {
    def oldSimhash(maxHamming: Int, pairBands: Boolean): DataFrame = {
      val chunked = DedupOps.simhashBands(docs, maxHamming, pairBands)
      val pruned = oldValve(chunked, Seq("chunk_idx", "chunk_key"), 10000)
      pruned.as("a").join(pruned.as("b"),
          col("a.chunk_idx") === col("b.chunk_idx") &&
            col("a.chunk_key") === col("b.chunk_key") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .distinct()
    }
    assert(pairs(DedupOps.simhashCandidates(docs, maxHamming = 4)) ==
      pairs(oldSimhash(4, pairBands = false)))
    assert(pairs(DedupOps.simhashCandidates(docs, maxHamming = 6,
        pairBands = true)) ==
      pairs(oldSimhash(6, pairBands = true)))
  }

  test("embedding: new candidate set == old recipe") {
    val signs = DedupOps.hyperplaneSigns(8, 4,
      embs.select(size(col("embedding"))).head().getInt(0))
    def key(t: Int) = DedupOps.hyperplaneTableKey(signs, t, 4, col("embedding"))
    val bucketed = embs.filter(col("embedding").isNotNull)
      .select(col("vec_id"),
        posexplode(array((0 until 8).map(key): _*)).as(Seq("table_idx", "bucket")))
    val pruned = oldValve(bucketed, Seq("table_idx", "bucket"), 10000)
    val old = pruned.as("a").join(pruned.as("b"),
        col("a.table_idx") === col("b.table_idx") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
    assert(pairs(DedupOps.embeddingCandidates(embs, nPlanes = 4, nTables = 8))
      == pairs(old))
  }

  // --- plan shape: hashing once per row ---------------------------------

  private def finalTree(df: DataFrame): String = {
    df.collect() // resolve the AQE plan
    df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      .split("== Initial Plan ==").head
  }

  // plain Exchange nodes only (not ReusedExchange/BroadcastExchange)
  private def exchanges(tree: String): Int =
    "(?<![A-Za-z])Exchange \\(\\d+\\)".r.findAllIn(tree).length

  // the bucket join has one consumer of the banded rows, so there is no
  // second exchange for AQE to reuse or re-run
  test("simhash candidates: corpus scanned ONCE, one banding exchange") {
    val tree = finalTree(DedupOps.simhashCandidates(docs, maxHamming = 4))
    assert("Scan parquet".r.findAllIn(tree).length == 1,
      s"corpus must be read once (hashing once per row):\n$tree")
    assert(!tree.contains("ReusedExchange"),
      s"the banded rows have one consumer, nothing to reuse:\n$tree")
    assert(exchanges(tree) == 2, // banding + the pairs' repartition
      s"expected exactly 2 plain exchanges (banding, pairs):\n$tree")
  }

  test("embedding candidates: corpus scanned ONCE, one banding exchange") {
    val tree = finalTree(DedupOps.embeddingCandidates(embs,
      nPlanes = 4, nTables = 8))
    assert("Scan parquet".r.findAllIn(tree).length == 1,
      s"hyperplane dots must fold once per row:\n$tree")
    assert(!tree.contains("ReusedExchange"),
      s"the banded rows have one consumer, nothing to reuse:\n$tree")
    assert(exchanges(tree) == 2, s"expected banding + pairs only:\n$tree")
  }

  test("minhash over a cached input: ONE band exchange, read on every core, same candidates") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec, ShuffleQueryStageExec}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange, ReusedExchangeExec}
    // corpus() hands the candidate stage a cached frame; over one, AQE
    // once broadcast a self-join side and wrote the band rows twice,
    // each copy read as one coalesced partition
    val cached = docs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cached.count()
    graft.io.CacheScope {
      val cands = DedupOps.minhashCandidates(cached, minJaccard = 0.6)
      val tree = finalTree(cands)
      assert(pairs(cands) == pairs(oldScreened(cached, 0.6)))
      def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
        case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
        case q: QueryStageExec => nodes(q.plan)
        case r: ReusedExchangeExec => nodes(r.child)
        case other => other.children.flatMap(nodes)
      })
      def banded(e: SparkPlan) = e.output.exists(_.name == "band_key")
      val all = nodes(cands.queryExecution.executedPlan)
      val bandExchanges = all.collect { case e: Exchange if banded(e) => e }
      assert(bandExchanges.length == 1 &&
        bandExchanges.forall(_.outputPartitioning.isInstanceOf[HashPartitioning]),
        s"band rows must shuffle once, hash-partitioned:\n$tree")
      assert(!all.exists {
        case r: ReusedExchangeExec => banded(r)
        case b: BroadcastExchangeExec => banded(b)
        case _ => false
      }, s"band rows reused or broadcast:\n$tree")
      val reads = all.collect {
        case r: AQEShuffleReadExec if banded(r.child) => r.partitionSpecs.length
        case s: ShuffleQueryStageExec if banded(s) => s.shuffle.numPartitions
      }
      assert(reads.nonEmpty && reads.forall(_ == spark.sparkContext.defaultParallelism),
        s"band reads of $reads partitions:\n$tree")
    }
    cached.unpersist(blocking = false)
  }

  test("minhash candidates: the sig pass runs EXACTLY once per eligible row (counted)") {
    // counted fact, not plan-string inference: the kernel bridge counts
    // every signature evaluation (text-shingle pass). Banding and both
    // screen joins must all be fed by the ONE checkpointed pass. Cache
    // cleared first — a prior test's cache would hide recomputes by
    // showing zero instead.
    spark.sharedState.cacheManager.clearCache()
    val eligible = docs.filter(length(col("text")) >= 5).count()
    graft.expr.TextExprKernels.sigEvals.reset()
    DedupOps.minhashCandidates(docs, minJaccard = 0.6).collect()
    val evals = graft.expr.TextExprKernels.sigEvals.sum()
    assert(evals == eligible,
      s"sig pass ran $evals times for $eligible eligible rows " +
        "(old shape: 3-4x)")
    // and the plan reads the signatures from the checkpoint
    val cands = DedupOps.minhashCandidates(docs, minJaccard = 0.6)
    val tree = finalTree(cands)
    assert(tree.contains("Scan ExistingRDD") && !tree.contains("minhash_sig("),
      s"sig checkpoint missing from the plan:\n$tree")
  }

  // --- the signature screen: sig_match_frac == the HOF recipe ----------

  test("sig_match_frac: bit-equal to the aggregate(zip_with) recipe, nulls included") {
    import spark.implicits._
    val n = graft.kernel.TextHash.NumHashes
    val sig = (0 until n).map(i => 1000L * i + 7L).toArray
    // the first k positions match, the rest differ
    def matching(k: Int) = sig.indices.map(i => if (i < k) sig(i) else -sig(i) - 1).toArray
    // minJaccard 0.5 screens at est >= 0.35: 22/64 falls below, 23/64 passes
    val forged = Seq(("identical", sig, sig), ("disjoint", sig, matching(0)),
      ("22of64", sig, matching(22)), ("23of64", sig, matching(23)),
      ("shorter", sig, sig.take(n - 1)), ("null", sig, null))
    // real signatures too: every pair of the first 40 eligible docs
    val real = docs.filter(length(col("text")) >= 5).orderBy("doc_id").limit(40)
      .select(col("doc_id"), minhash_sig(col("text")).as("sig"))
    val realPairs = real.as("x").crossJoin(real.as("y"))
      .select(concat(col("x.doc_id").cast("string"), lit("-"),
          col("y.doc_id").cast("string")).as("name"),
        col("x.sig").as("a"), col("y.sig").as("b"))
    // the repartition keeps the forged rows off the optimizer's
    // local-relation folding, so both columns run as generated code
    val both = forged.toDF("name", "a", "b").unionByName(realPairs)
      .repartition(3)
      .select(col("name"), sig_match_frac(col("a"), col("b")).as("k"),
        hofEst(col("a"), col("b")).as("h"))
      .collect()
    assert(both.length == forged.length + 40 * 40)
    def bits(r: org.apache.spark.sql.Row, i: Int): Option[Long] =
      if (r.isNullAt(i)) None
      else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(i)))
    both.foreach(r => assert(bits(r, 1) == bits(r, 2),
      s"${r.getString(0)}: kernel ${r.get(1)} vs recipe ${r.get(2)}"))
    val byName = both.map(r => r.getString(0) -> r).toMap
    assert(byName("identical").getDouble(1) == 1.0)
    assert(byName("disjoint").getDouble(1) == 0.0)
    assert(byName("22of64").getDouble(1) < 0.5 - 0.15)
    assert(byName("23of64").getDouble(1) >= 0.5 - 0.15)
    assert(byName("shorter").isNullAt(1) && byName("null").isNullAt(1))
    // the interpreted path agrees with the generated one
    forged.foreach { case (name, a, b) =>
      val e = graft.expr.SigMatchFrac(
        org.apache.spark.sql.catalyst.expressions.Literal.create(a),
        org.apache.spark.sql.catalyst.expressions.Literal.create(b))
      assert(Option(e.eval()) == Option(byName(name).get(1)), name)
    }
  }

  test("minhash candidates: the screen is codegen'd, no lambdafunction in the executed plan") {
    import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.catalyst.expressions.{Expression, LambdaFunction}
    val cands = DedupOps.minhashCandidates(docs, minJaccard = 0.6)
    val tree = finalTree(cands)
    // every executed operator's expressions, each tagged with whether a
    // whole-stage codegen stage holds the operator
    def exprs(p: SparkPlan, inCodegen: Boolean): Seq[(Expression, Boolean)] =
      p match {
        case a: AdaptiveSparkPlanExec => exprs(a.executedPlan, inCodegen)
        case q: QueryStageExec => exprs(q.plan, inCodegen)
        case w: WholeStageCodegenExec => exprs(w.child, inCodegen = true)
        case other => other.expressions.map(_ -> inCodegen) ++
          other.children.flatMap(exprs(_, inCodegen))
      }
    val all = exprs(cands.queryExecution.executedPlan, inCodegen = false)
    assert(!all.exists(_._1.exists(_.isInstanceOf[LambdaFunction])),
      s"a lambdafunction is back in the plan:\n$tree")
    val screens = all.filter(_._1.exists(_.isInstanceOf[graft.expr.SigMatchFrac]))
    assert(screens.nonEmpty && screens.forall(_._2),
      s"screen outside whole-stage codegen (${screens.map(_._2)}):\n$tree")
  }

  test("simhash candidates: simhash64 runs EXACTLY once per non-blank row (counted)") {
    spark.sharedState.cacheManager.clearCache()
    val nonBlank = docs.filter(length(trim(col("text"))) > 0).count()
    graft.expr.TextExprKernels.simhashEvals.reset()
    DedupOps.simhashCandidates(docs, maxHamming = 4).collect()
    val evals = graft.expr.TextExprKernels.simhashEvals.sum()
    assert(evals == nonBlank,
      s"simhash ran $evals times for $nonBlank rows (old shape: 2-3x)")
  }
}
