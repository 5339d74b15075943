package graft

import graft.kernel.TextHash
import graft.ops._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Training-data pipeline operators: dedup family, similarity search,
  * text analysis, multimodal plumbing.
  */
class OpsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")
  private def embs = spark.read.parquet(s"$sfDir/embeddings.parquet")

  // --- kernel properties -------------------------------------------------

  test("minhash signature approximates jaccard") {
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val b = "the quick brown fox jumps over the lazy cat again and again"
    val c = "completely different text with nothing shared whatsoever here"
    val sigA = TextHash.minhashSig(a)
    val sigB = TextHash.minhashSig(b)
    val sigC = TextHash.minhashSig(c)
    def est(x: Array[Long], y: Array[Long]) =
      x.zip(y).count { case (u, v) => u == v }.toDouble / x.length
    val jAB = TextHash.ngramJaccard(a, b)
    assert(math.abs(est(sigA, sigB) - jAB) < 0.25)
    assert(est(sigA, sigC) < 0.2)
    // identical text -> identical signature -> identical band keys
    assert(TextHash.minhashSig(a).sameElements(TextHash.minhashSig(a)))
    assert(TextHash.lshBandKeys(sigA).sameElements(TextHash.lshBandKeys(sigA)))
  }

  test("simhash: near-identical texts within small hamming distance") {
    val a = "spark catalyst shuffle partition conversation transcript engine"
    val b = "spark catalyst shuffle partition conversation transcript engines"
    val c = "walrus penguin umbrella xylophone quartz jigsaw voodoo marble"
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(TextHash.simhash64(a), TextHash.simhash64(b)) <= 16)
    assert(ham(TextHash.simhash64(a), TextHash.simhash64(c)) > 16)
  }

  test("jaccard kernel: bounds and identity") {
    assert(TextHash.ngramJaccard("abcdefgh", "abcdefgh") == 1.0)
    assert(TextHash.ngramJaccard("abcdefgh", "zyxwvuts") == 0.0)
    val j = TextHash.ngramJaccard("hello world out there", "hello world in there")
    assert(j > 0.0 && j < 1.0)
  }

  test("langid kernel: clear-cut cases") {
    assert(TextHash.langId("the cat is in the house and it is warm") == "en")
    assert(TextHash.langId("le chat est dans la maison et il est dans le salon") == "fr")
    assert(TextHash.langId("el gato es grande y la casa es una casa por el sol") == "es")
    assert(TextHash.langId("der hund ist mit den kindern und das haus ist nicht klein") == "de")
    assert(TextHash.langId("这 是 一个 测试 的 句子 我 不 知道") == "zh")
    assert(TextHash.langId("zzz qqq www") == "und")
  }

  test("quality kernel: ordering of obvious cases") {
    val good = "This is a reasonably long, well formed sentence with normal words in it. " * 3
    val bad = "@@@@ #### !!!! %%%% ^^^^ &&&& **** (((( )))) $$$$"
    assert(TextHash.qualityScore(good) > TextHash.qualityScore(bad))
    assert(TextHash.qualityScore("") == 0.0)
  }

  // --- distributed ops ---------------------------------------------------

  test("exact dedup: injected duplicates collapse to min doc_id") {
    import spark.implicits._
    val d = Seq((1L, "same text"), (2L, "same text"), (3L, "other text"))
      .toDF("doc_id", "text")
    val out = DedupOps.exactDedup(d).collect()
    assert(out.length == 2)
    val dup = out.find(_.getAs[Long]("group_size") == 2L).get
    assert(dup.getAs[Long]("keep_id") == 1L)
  }

  test("minhash LSH finds injected near-duplicates") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far away into the deep dark forest tonight"
    val d = Seq(
      (1L, base),
      (2L, base.replace("dog", "cat")),       // near-dup of 1
      (3L, "completely unrelated content about spark shuffle partitions and catalyst expression codegen"),
      (4L, base)                               // exact dup of 1
    ).toDF("doc_id", "text")
    val pairs = DedupOps.minhashNearDups(d, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)))
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("LSH candidates == exact pairs at the verify threshold (recall on real docs)") {
    // every pair the exact quadratic baseline finds at >= 0.6 must be
    // found by LSH too on the sf0.001 documents (banding at 16x4 has
    // ~1.0 recall at j=0.6 for 64 hashes)
    val exact = DedupOps.ngramJaccardPairsExact(docs, 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = DedupOps.minhashNearDups(docs, 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "LSH produced a pair the exact baseline rejects")
    val recall = if (exact.isEmpty) 1.0 else lsh.size.toDouble / exact.size
    assert(recall >= 0.9, s"LSH recall $recall over ${exact.size} true pairs")
  }

  test("simhash near-dups symmetric-free and hamming-bounded") {
    val out = DedupOps.simhashNearDups(docs, maxHamming = 6).collect()
    out.foreach { r =>
      assert(r.getAs[Long]("id_a") < r.getAs[Long]("id_b"))
      assert(r.getAs[Int]("hamming") <= 6)
    }
  }

  test("simhash banding: FULL recall vs brute force at the radius (pigeonhole)") {
    // generalized (maxHamming+1)-chunk banding must find EVERY pair at
    // hamming <= maxHamming (the round-1 4-chunk version lost pairs at
    // distance 4-6 when maxHamming was 6 — ADVICE.md item 1)
    for (radius <- Seq(3, 4, 6)) {
      val sh = docs.select(col("doc_id"), graft.expr.Functions.simhash64(col("text")).as("sh"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val brute = (for {
        (ia, sa) <- sh; (ib, sb) <- sh
        if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= radius
      } yield (ia, ib)).toSet
      val lsh = DedupOps.simhashNearDups(docs, maxHamming = radius)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(lsh == brute,
        s"radius $radius: lsh ${lsh.size} pairs vs brute ${brute.size}")
    }
  }

  test("simhash pair-band extension: STILL full recall at radius 6 (2-of-(h+2) pigeonhole)") {
    // the crowded-keyspace extension must not trade recall away: with
    // h+2 chunks and <= h errors, at least two chunks are error-free,
    // so banding on chunk PAIRS keeps the full-recall guarantee
    for (radius <- Seq(3, 6)) {
      val sh = docs.select(col("doc_id"),
          graft.expr.Functions.simhash64(col("text")).as("sh"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val brute = (for {
        (ia, sa) <- sh; (ib, sb) <- sh
        if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= radius
      } yield (ia, ib)).toSet
      val ext = DedupOps.simhashNearDups(docs, maxHamming = radius,
          pairBands = true)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(ext == brute,
        s"radius $radius pairBands: ${ext.size} pairs vs brute ${brute.size}")
    }
  }

  test("simhash pair-band extension: buckets measurably smaller than plain chunks") {
    // radius 6 on the sf0.01 corpus: plain banding keys are ~9 bits wide
    // (64/7) so 5k docs crowd them; pair bands are ~18 bits — the whole
    // point of the extension is a smaller collision mass per band
    val d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    def collisionMass(pairBands: Boolean): (Long, Long) = {
      val sizes = DedupOps.simhashBands(d, maxHamming = 6, pairBands)
        .groupBy(col("chunk_idx"), col("chunk_key"))
        .agg(count(lit(1)).as("bsize"))
        .agg(max(col("bsize")).as("mx"),
          sum((col("bsize") * (col("bsize") - 1) / 2).cast("long")).as("pairs"))
        .head()
      (sizes.getLong(0), sizes.getLong(1))
    }
    val (plainMax, plainPairs) = collisionMass(pairBands = false)
    val (extMax, extPairs) = collisionMass(pairBands = true)
    assert(extMax <= plainMax,
      s"max bucket grew: $plainMax -> $extMax")
    assert(extPairs < plainPairs,
      s"candidate-pair mass must shrink: $plainPairs -> $extPairs")
  }

  test("simhash/minhash bucket valve: mega-bucket dropped, not exploded") {
    import spark.implicits._
    // 6 identical docs -> every chunk bucket has size 6 > maxBucket=3 ->
    // the valve drops them (exact dedup's job, not LSH's)
    val mega = (1L to 6L).map(i => (i, "identical text payload for the valve"))
      .toDF("doc_id", "text")
    assert(DedupOps.simhashNearDups(mega, maxHamming = 3, maxBucket = 3)
      .collect().isEmpty)
    assert(DedupOps.minhashNearDups(mega, minJaccard = 0.5, maxBucket = 3)
      .collect().isEmpty)
    // and with the valve open they are all found
    assert(DedupOps.simhashNearDups(mega, maxHamming = 3, maxBucket = 100)
      .collect().length == 15)
  }

  test("incremental dedup: append(batch) against the index == full recompute") {
    // the round-5 operational-append contract: index batch1 once, then
    // the new batch's candidates joined against it must tile EXACTLY
    // with the index-internal pairs to reproduce a full recompute
    val all = docs
    val batch1 = all.filter(pmod(col("doc_id"), lit(3)) =!= 0)
    val batch2 = all.filter(pmod(col("doc_id"), lit(3)) === 0)
    val idxPath = java.nio.file.Files
      .createTempDirectory("graft_mh_idx_test").toString + "/index"
    val (bands, sigs) = DedupOps.ensureMinhashIndex(spark, batch1, idxPath)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id_a"), col("id_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = pairSet(DedupOps.minhashCandidates(all, minJaccard = 0.6))
    val old = pairSet(DedupOps.minhashCandidates(batch1, minJaccard = 0.6))
    val inc = pairSet(DedupOps.incrementalMinhashCandidates(batch2,
      bands, sigs, minJaccard = 0.6))
    assert(inc.nonEmpty, "fixture has no cross-batch candidates")
    assert(inc.forall { case (a, b) => a % 3 == 0 || b % 3 == 0 },
      "incremental pairs must involve a new-batch doc")
    assert((old ++ inc) == full,
      s"full ${full.size} != old ${old.size} + inc ${inc.size} " +
        s"(missing: ${(full -- old -- inc).take(5)}, " +
        s"extra: ${((old ++ inc) -- full).take(5)})")
  }

  test("incremental dedup: stale index is rebuilt when the corpus changes") {
    val idxPath = java.nio.file.Files
      .createTempDirectory("graft_mh_meta_test").toString + "/index"
    val half = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    DedupOps.ensureMinhashIndex(spark, half, idxPath)
    val metaBefore = graft.io.FsUtil.readString(s"$idxPath/_graft_mh_meta")
    // same path, different corpus -> fingerprint mismatch -> rebuild
    val (bands, _) = DedupOps.ensureMinhashIndex(spark, docs, idxPath)
    val metaAfter = graft.io.FsUtil.readString(s"$idxPath/_graft_mh_meta")
    assert(metaBefore.isDefined && metaAfter.isDefined &&
      metaBefore.get != metaAfter.get,
      "fingerprint must change when the indexed corpus changes")
    // the rebuilt band table covers the full corpus
    val eligible = docs.filter(length(col("text")) >= 5).count()
    assert(bands.select(col("doc_id")).distinct().count() == eligible)
    // and an unchanged corpus REUSES (meta byte-identical)
    DedupOps.ensureMinhashIndex(spark, docs, idxPath)
    assert(graft.io.FsUtil.readString(s"$idxPath/_graft_mh_meta")
      == metaAfter)
  }

  test("cluster labels: known graph resolves to min-id components") {
    import spark.implicits._
    // components: {1,2,3} (chain), {5,6}, {8,9,10} (star at 9); both
    // orientations of (1,2), (1,2) twice, and a self-pair (7,7) that
    // must leave 7 unlabelled
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (9L, 8L), (9L, 10L),
        (2L, 1L), (1L, 2L), (7L, 7L))
      .toDF("id_a", "id_b")
    val labels = DedupOps.clusterLabels(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      5L -> 5L, 6L -> 5L, 8L -> 8L, 9L -> 8L, 10L -> 8L))
    // survivors: canonical member per cluster + untouched docs
    val docs = (1L to 12L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    val survivors = DedupOps.dedupSurvivors(docs,
        DedupOps.clusterLabels(pairs))
      .collect().map(_.getLong(0)).toSet
    assert(survivors == Set(1L, 4L, 5L, 7L, 8L, 11L, 12L))
  }

  test("cluster labels: no pairs, no labels; a negative driver bound is refused") {
    import spark.implicits._
    // an empty local relation scans no partition at all
    for (none <- Seq(Seq.empty[(Long, Long)].toDF("id_a", "id_b"),
        spark.range(0).select(col("id").as("id_a"), col("id").as("id_b"))))
      assert(graft.io.CacheScope(DedupOps.clusterLabels(none).count()) == 0)
    // a negative bound would keep the star rounds going on any input
    intercept[IllegalArgumentException] {
      DedupOps.clusterLabels(Seq((1L, 2L)).toDF("id_a", "id_b"), driverEdges = -1)
    }
  }

  test("cluster labels: long chain converges; too-small budget fails loudly") {
    import spark.implicits._
    // a 12-node chain (diameter 11): one-hop label propagation needs 11
    // rounds, star rounds 4; both paths must label it whole
    val chain = (0L until 11L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    for (bound <- Seq(Long.MaxValue, 0L)) {
      val labels = DedupOps.clusterLabels(chain, driverEdges = bound)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(labels.length == 12 && labels.forall(_._2 == 0L), s"bound $bound")
    }
    // forced onto star rounds with a 1-round budget, the same chain must
    // refuse, not mislabel
    intercept[IllegalStateException] {
      DedupOps.clusterLabels(chain, driverEdges = 0, maxRounds = 1)
    }
  }

  test("cluster labels: on return only the labels hold blocks; their scope frees them") {
    import spark.implicits._
    import SparkTestSession.{poll, rddsWithBlocks}
    val chain = (0L until 11L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val before = rddsWithBlocks()
    // the driver finish returns a local relation: the edge checkpoint is
    // released and nothing holds blocks
    graft.io.CacheScope {
      val labels = DedupOps.clusterLabels(chain)
      val live = poll(rddsWithBlocks() -- before)(_.isEmpty)
      assert(live.isEmpty, s"RDDs holding blocks on return: $live")
      assert(labels.count() == 12)
    }
    // star rounds hand exactly one checkpoint to the caller's scope
    val held = graft.io.CacheScope {
      val labels = DedupOps.clusterLabels(chain, driverEdges = 0)
      // every superseded round and the edge list are already released
      val live = poll(rddsWithBlocks() -- before)(_.size == 1)
      assert(live.size == 1, s"RDDs holding blocks on return: $live")
      assert(labels.count() == 12)
      live
    }
    assert(poll(rddsWithBlocks() intersect held)(_.isEmpty).isEmpty,
      "the caller's scope must release the returned labels")
  }

  /** Classic union-find over collected pairs: the min id of each
    * component, for every id in a pair.
    */
  private def unionFindLabels(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    pairs.flatMap(p => Seq(p._1, p._2)).distinct.map(v => v -> find(v)).toMap
  }

  private def labelMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap

  test("cluster labels == driver-side union-find on real minhash pairs") {
    val pairs = DedupOps.minhashNearDups(docs, minJaccard = 0.6)
      .select(col("id_a"), col("id_b"))
    val collected = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(collected.nonEmpty, "fixture has no near-dups at all")
    assert(labelMap(DedupOps.clusterLabels(pairs)) ==
      unionFindLabels(collected.toSeq))
  }

  test("cluster labels: forced star rounds resolve 10^3- and 10^4-node chains in O(log n) rounds") {
    val Round = "clusterLabels:round (\\d+)".r
    for (n <- Seq(1000, 10000)) {
      // ascending ids: the worst case of one-hop label propagation
      val chain = spark.range(n - 1L)
        .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
      val (labels, jobs) = SparkTestSession.jobsDuring(graft.io.CacheScope(
        labelMap(DedupOps.clusterLabels(chain, driverEdges = 0))))
      val rounds = jobs.collect { case Round(k) => k.toInt }.max
      assert(rounds <= 2 * math.log(n) / math.log(2),
        s"$n-node chain took $rounds star rounds")
      assert(labels == unionFindLabels((0L until n - 1L).map(i => (i, i + 1))))
    }
  }

  test("cluster labels: persisted pairs resolve in <= 3 tagged jobs; the caller's description is restored") {
    val sc = spark.sparkContext
    graft.io.CacheScope {
      val pairs = graft.io.CacheScope.cache(
        DedupOps.minhashNearDups(docs, minJaccard = 0.6)
          .select(col("id_a"), col("id_b")))
      assert(pairs.count() > 0, "fixture has no near-dups at all")
      sc.setJobDescription("caller")
      try {
        val (labels, jobs) =
          SparkTestSession.jobsDuring(DedupOps.clusterLabels(pairs))
        assert(jobs.nonEmpty && jobs.size <= 3, s"clusterLabels jobs: $jobs")
        assert(jobs.forall(Set("clusterLabels:edges", "clusterLabels:finish")),
          s"untagged clusterLabels jobs: $jobs")
        assert(sc.getLocalProperty("spark.job.description") == "caller")
        assert(labels.count() > 0)
      } finally sc.setJobDescription(null)
    }
  }

  test("precomputed hyperplane signs == the per-row xxhash64 recipe, bit-identical buckets") {
    // the round-2 recipe hashed (table, plane, i) per vector component per
    // row; the sign matrix must reproduce it EXACTLY or the candidate set
    // silently drifts (Dumps.Version r3a)
    val nPlanes = 4; val nTables = 8
    val dim = embs.select(size(col("embedding"))).head().getInt(0)
    val signs = DedupOps.hyperplaneSigns(nTables, nPlanes, dim)
    def oldTableKey(t: Int) = (0 until nPlanes).map { p =>
      val dotCol = aggregate(
        zip_with(col("embedding"),
          sequence(lit(0), size(col("embedding")) - 1),
          (v, i) => v * when(
            pmod(xxhash64(lit(t), lit(p), i), lit(2)) === 0, lit(1.0))
            .otherwise(lit(-1.0))),
        lit(0.0d), (acc, x) => acc + x)
      when(dotCol >= 0, lit(1L)).otherwise(lit(0L)) * lit(1L << p)
    }.reduce(_ + _)
    def newTableKey(t: Int) = (0 until nPlanes).map { p =>
      val dotCol = aggregate(
        zip_with(col("embedding"), lit(signs(t)(p)), (v, s) => v * s),
        lit(0.0d), (acc, x) => acc + x)
      when(dotCol >= 0, lit(1L)).otherwise(lit(0L)) * lit(1L << p)
    }.reduce(_ + _)
    val diff = embs.select(
      array((0 until nTables).map(oldTableKey): _*).as("old_keys"),
      array((0 until nTables).map(newTableKey): _*).as("new_keys"))
      .filter(col("old_keys") =!= col("new_keys"))
      .count()
    assert(diff == 0, s"$diff rows bucket differently under precomputed signs")
  }

  test("embedding LSH: empty corpus and null/ragged rows handled, not crashed") {
    import spark.implicits._
    // empty corpus -> empty candidates (the round-2 per-row recipe's
    // behavior), no head()-on-empty crash
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(DedupOps.embeddingCandidates(empty).collect().isEmpty)
    // ragged + null rows are EXCLUDED (uniform-dim contract, enforced);
    // the uniform near-identical pair still buckets together
    val mixed = Seq(
      (1L, Array(1.0f, 0.9f, 0.8f, 0.7f)),
      (2L, Array(1.0f, 0.9f, 0.8f, 0.69f)),
      (3L, Array(1.0f, 0.9f)),              // ragged
      (4L, null.asInstanceOf[Array[Float]]) // null
    ).toDF("vec_id", "embedding")
    val cands = DedupOps.embeddingCandidates(mixed, nPlanes = 2, nTables = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 2L)))
    assert(!cands.exists(p => p._1 >= 3L || p._2 >= 3L),
      "ragged/null rows must not produce candidates")
  }

  test("embedding LSH: candidate recipe works on a renamed embedding column") {
    // the column is a parameter end-to-end (round-3 hygiene item): a
    // renamed-column fixture must produce the same candidate set as the
    // default name — no hidden col("embedding") coupling anywhere
    val renamed = embs.withColumnRenamed("embedding", "vec")
    val viaDefault = DedupOps.embeddingCandidates(embs,
        nPlanes = 4, nTables = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaRenamed = DedupOps.embeddingCandidates(renamed,
        nPlanes = 4, nTables = 8, embCol = "vec")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaRenamed == viaDefault,
      s"renamed-column candidates drifted: ${viaRenamed.size} vs ${viaDefault.size}")
    assert(viaRenamed.nonEmpty)
  }

  test("centroid probe kernel: primitive top-k == full sort incl. cid tie-break") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    // centroids engineered with duplicate vectors -> equal cosines ->
    // the cid-asc tie-break must hold
    val cents = graft.expr.CentroidKernel.build(Array(
      (7L, Array(1.0f, 0.0f)), (3L, Array(1.0f, 0.0f)),  // tie on cos=1
      (5L, Array(0.0f, 1.0f)), (1L, Array(-1.0f, 0.0f)),
      (9L, Array(0.7f, 0.7f))))
    val emb = new GenericArrayData(Array[Any](1.0f, 0.0f))
    def ids(k: Int) = graft.expr.CentroidKernel.probe(emb, cents, k)
      .toLongArray().toSeq
    assert(ids(3) == Seq(3L, 7L, 9L),
      s"tie on cos=1 must order cid asc; got ${ids(3)}")
    assert(ids(10) == Seq(3L, 7L, 9L, 5L, 1L))
    assert(graft.expr.CentroidKernel.nearest(emb, cents) == 3L)
  }

  test("embedding near-dups: verified pairs subset of exact-cos pairs") {
    val exact = {
      val e = embs.select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      (for {
        (ia, va) <- e; (ib, vb) <- e
        if ia < ib
        cos = {
          var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
          while (i < va.length) {
            dot += va(i).toDouble * vb(i); nx += va(i).toDouble * va(i)
            ny += vb(i).toDouble * vb(i); i += 1
          }
          if (nx == 0 || ny == 0) 0.0 else dot / math.sqrt(nx * ny)
        }
        if cos >= 0.35
      } yield (ia, ib)).toSet
    }
    // plane/table choice matched to the 0.35 threshold (see SparkEntry)
    val lsh = DedupOps.embeddingNearDups(embs, minCos = 0.35,
        nPlanes = 4, nTables = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.nonEmpty, "LSH found nothing at all")
    assert(lsh.subsetOf(exact), "LSH emitted a pair below the threshold")
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.5,
      s"candidate recall $recall too low for 4 planes x 8 tables at cos 0.35")
  }

  test("ANN brute force: top-1 of a corpus vector query is itself-free and sane") {
    val q = embs.filter(col("vec_id") === 0)
    val top = SimilarityOps.bruteForceTopK(embs, q, k = 3).collect()
    assert(top.length == 3)
    assert(top.forall(_.getAs[Long]("vec_id") != 0L))
    val cosList = top.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cos"))
    assert(cosList.sameElements(cosList.sorted.reverse))
  }

  test("ANN IVF: recall vs brute force >= 0.5 at nProbe=8/nCentroids=32") {
    val queries = embs.filter(pmod(col("vec_id"), lit(101)) === 0)
    val brute = SimilarityOps.bruteForceTopK(embs, queries, k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val idxPath = java.nio.file.Files
      .createTempDirectory("graft_ivf_test").toString + "/index"
    val ivf = SimilarityOps.ivfTopK(spark, embs, queries, idxPath,
        k = 5, nProbe = 8, nCentroids = 32)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF recall $recall")
  }

  test("ANN IVF: assignment is map-side (no window/exchange before the index write)") {
    val cents = SimilarityOps.centroids(embs, 8)
    assert(cents.length == 8)
    val assigned = embs.select(col("vec_id"), col("embedding"))
      .withColumn("centroid_id", SimilarityOps.nearestCentroid(
        col("embedding"), SimilarityOps.broadcastCentroids(spark, cents)))
    val plan = assigned.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"nearest-centroid assignment must be a narrow map:\n$plan")
    assert(!plan.toLowerCase.contains("window"),
      "assignment must not use a window")
    // every vector lands on its true nearest centroid (vs a driver-side
    // recomputation)
    val centMap = cents.toMap
    assigned.collect().foreach { r =>
      val v = r.getSeq[Float](1).toArray
      def cos(a: Array[Float], b: Array[Float]): Double = {
        var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
        while (i < a.length) {
          dot += a(i).toDouble * b(i); nx += a(i).toDouble * a(i)
          ny += b(i).toDouble * b(i); i += 1
        }
        if (nx == 0 || ny == 0) 0.0 else dot / math.sqrt(nx * ny)
      }
      val best = cents.map { case (cid, cemb) => (-cos(v, cemb), cid) }.min._2
      assert(r.getLong(2) == best)
    }
  }

  test("ANN IVF: 4096 broadcast centroids assign narrow, codegen'd, no plan bloat") {
    // the round-2 literal representation capped k at ~10^3 (plan/codegen
    // bloat); the broadcast path must hold the same plan shape at 4096
    val dim = 16
    val cents = Array.tabulate(4096) { i =>
      (i.toLong, Array.tabulate(dim)(d =>
        (((i * 31 + d * 7) % 97) - 48).toFloat / 48f))
    }
    val bc = SimilarityOps.broadcastCentroids(spark, cents)
    val assigned = embs.select(col("vec_id"), col("embedding"))
      .withColumn("centroid_id",
        SimilarityOps.nearestCentroid(col("embedding"), bc))
    val plan = assigned.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"must stay narrow:\n$plan")
    assert(plan.contains("*("),
      s"assignment must run inside WholeStageCodegen (no fallback):\n$plan")
    assert(plan.length < 20000,
      s"plan string must not embed the centroid payload (len ${plan.length})")
    // and it actually executes (forces codegen compilation)
    assert(assigned.limit(20).collect().forall(_.getLong(2) >= 0L))
  }

  test("ANN IVF: probe is a partition-PRUNED index read, not a scan") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_ivf_prune_test").toString + "/index"
    val queries = embs.filter(col("vec_id") === 0)
    val probe = SimilarityOps.ivfTopK(spark, embs, queries, base,
      k = 3, nProbe = 2, nCentroids = 8)
    probe.collect()
    val plan = probe.queryExecution.executedPlan.toString
    // the index read must carry a non-empty PartitionFilters entry on
    // centroid_id — the probed cells prune partitions at the source
    val pf = "PartitionFilters: \\[([^\\]]*)\\]".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(pf.exists(f => f.nonEmpty && f.contains("centroid_id")),
      s"index read must be partition-pruned on centroid_id:\n$plan")
  }

  test("ANN IVF: stale index dir is rebuilt when the fingerprint mismatches") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_ivf_meta_test").toString + "/index"
    val queries = embs.filter(col("vec_id") === 0)
    // build at 8 centroids, then call at 16: the _SUCCESS marker exists
    // but the fingerprint differs -> must rebuild, not probe stale cells
    SimilarityOps.ivfTopK(spark, embs, queries, base, k = 3,
      nProbe = 4, nCentroids = 8).collect()
    val out16 = SimilarityOps.ivfTopK(spark, embs, queries, base, k = 3,
      nProbe = 16, nCentroids = 16).collect()
    // with nProbe == nCentroids the probe covers every cell -> results
    // must equal brute force; a stale 8-centroid index would break this
    val brute = SimilarityOps.bruteForceTopK(embs, queries, k = 3)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    assert(out16.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id")))
      .toSet == brute)
  }

  test("ANN IVF: corpus drift under an UNCHANGED centroid sample still rebuilds") {
    // centroids are the k min-md5(vec_id) rows, i.e. a SAMPLE: a corpus
    // gaining rows whose md5 sorts high leaves the centroid set (and a
    // centroid-only fingerprint) identical — the round-3 ADVICE failure.
    // The corpus digest in the fingerprint must force a rebuild.
    val base = java.nio.file.Files
      .createTempDirectory("graft_ivf_corpus_test").toString + "/index"
    val k = 4
    val centIds = SimilarityOps.centroids(embs, k).map(_._1).toSet
    // subset that keeps the global k min-md5 rows -> SAME centroids
    val subset = embs.filter(
      col("vec_id").isin(centIds.toSeq: _*) || pmod(col("vec_id"), lit(3)) === 0)
    assert(SimilarityOps.centroids(subset, k).map(_._1).toSet == centIds,
      "fixture broken: subset must yield the same centroid sample")
    val queries = embs.filter(col("vec_id") === 0)
    SimilarityOps.ivfTopK(spark, subset, queries, base, k = 3,
      nProbe = k, nCentroids = k).collect()
    val metaBefore = graft.io.FsUtil.readString(s"$base/_graft_ivf_idx_meta")
    // now the FULL corpus against the same indexPath: centroids match,
    // so only the corpus digest distinguishes fresh from stale. With
    // nProbe == nCentroids the probe covers every cell -> must equal
    // brute force over the full corpus; a stale subset index cannot.
    val out = SimilarityOps.ivfTopK(spark, embs, queries, base, k = 3,
        nProbe = k, nCentroids = k)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val metaAfter = graft.io.FsUtil.readString(s"$base/_graft_ivf_idx_meta")
    assert(metaBefore.isDefined && metaAfter.isDefined &&
      metaBefore.get != metaAfter.get,
      "fingerprint must change when the corpus changes under unchanged centroids")
    val brute = SimilarityOps.bruteForceTopK(embs, queries, k = 3)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    assert(out == brute,
      "index must rebuild when the corpus changes under unchanged centroids")
  }

  test("ANN IVF append: build 80%, append 20%, full-probe == brute force over the union") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_ivf_append_test").toString + "/index"
    val k = 8
    val existing = embs.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val batch = embs.filter(pmod(col("vec_id"), lit(5)) === 0)
    SimilarityOps.buildIvfIndexed(spark, existing, base, nCentroids = k)
    assert(SimilarityOps.ivfIndexedMatches(base, existing))
    assert(!SimilarityOps.ivfIndexedMatches(base, embs),
      "digest must not claim the union before the append")
    SimilarityOps.ivfAppendIndexed(spark, base, batch)
    // the merged digest equals a FRESH digest of the union — the append
    // never rescanned the existing corpus to get there
    assert(SimilarityOps.ivfIndexedMatches(base, embs))
    assert(!SimilarityOps.ivfIndexedMatches(base, existing))
    // with nProbe == nCentroids the probe covers every cell: results
    // must equal brute force over the WHOLE union — appended vectors are
    // both findable (in cells) and usable (centroids pinned)
    val queries = embs.filter(pmod(col("vec_id"), lit(101)) === 0)
    val got = SimilarityOps.ivfProbeIndexed(spark, base, queries,
        k = 3, nProbe = k)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val brute = SimilarityOps.bruteForceTopK(embs, queries, k = 3)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    assert(got == brute)
  }

  test("ANN IVF: a second ivfTopK on an unchanged corpus reuses data/ and the meta untouched") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_ivf_reuse_test").toString + "/index"
    val queries = embs.filter(pmod(col("vec_id"), lit(101)) === 0)
    def run() = SimilarityOps.ivfTopK(spark, embs, queries, base, k = 3,
        nProbe = 4, nCentroids = 8)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id")))
    // every file under data/ plus the meta, with its mtime: a rebuild
    // writes fresh part-file names, a meta rewrite moves its mtime
    def snapshot(): Map[String, Long] = {
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(base)
      val data = java.nio.file.Files.walk(root.resolve("data"))
      try (data.iterator().asScala.toSeq :+ root.resolve("_graft_ivf_idx_meta"))
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(f => root.relativize(f).toString ->
          java.nio.file.Files.getLastModifiedTime(f).toMillis).toMap
      finally data.close()
    }
    val first = run()
    val before = snapshot()
    val metaBefore = graft.io.FsUtil.readString(s"$base/_graft_ivf_idx_meta")
    assert(before.keys.exists(_.startsWith("data/centroid_id=")))
    Thread.sleep(20) // any rewrite lands on a later mtime
    val second = run()
    assert(snapshot() == before, "reuse must not rewrite data/ or the meta")
    assert(graft.io.FsUtil.readString(s"$base/_graft_ivf_idx_meta") == metaBefore)
    assert(second.toSeq == first.toSeq)
  }

  test("ANN IVF: ivfTopK rebuilds an appended index and re-samples centroids from the full corpus") {
    // built on 80% + appended 20%: the digest line equals the full
    // corpus, but the pinned centroids were sampled from the 80% — the
    // batch: line must force a rebuild, not a reuse
    val base = java.nio.file.Files
      .createTempDirectory("graft_ivf_append_rebuild_test").toString + "/index"
    val k = 8
    val want = SimilarityOps.centroids(embs, k).sortBy(_._1)
    // the 20% residue class holding a full-corpus centroid
    val held = pmod(col("vec_id"), lit(5)) === lit(want.head._1 % 5)
    val existing = embs.filter(!held)
    SimilarityOps.buildIvfIndexed(spark, existing, base, nCentroids = k)
    SimilarityOps.ivfAppendIndexed(spark, base, embs.filter(held))
    assert(SimilarityOps.ivfIndexedMatches(base, embs))
    assert(want.map(_._1).toSet !=
      SimilarityOps.centroids(existing, k).map(_._1).toSet,
      "fixture broken: the 80% subset must sample different centroids")
    val queries = embs.filter(col("vec_id") === 0)
    SimilarityOps.ivfTopK(spark, embs, queries, base, k = 3,
      nProbe = k, nCentroids = k).collect()
    val got = spark.read.parquet(s"$base/cents").orderBy(col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    assert(got.toSeq == want.toSeq.map { case (id, v) => (id, v.toSeq) })
    assert(!graft.io.FsUtil.readString(s"$base/_graft_ivf_idx_meta").get
      .contains("batch:"), "a rebuilt index carries no append log")
  }

  test("tf-idf keywords: discriminative terms outrank ubiquitous ones") {
    import spark.implicits._
    val d = Seq((1L, "apple banana apple"), (2L, "banana cherry banana"),
      (3L, "apple banana cherry")).toDF("doc_id", "text")
    val kw = TextOps.keywords(d, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    // banana is in every doc -> idf = ln(4/4) = 0 -> tfidf 0 everywhere;
    // rarer terms (df=2, idf = ln(4/3)) must rank first
    val rank1 = kw.filter(_._2 == 1L).map(t => t._1 -> t._3).toMap
    assert(rank1 == Map(1L -> "apple", 2L -> "cherry", 3L -> "apple"))
    // doc 3: apple and cherry tie on score -> term-asc tie-break, banana
    // (score 0) is pushed out of the top 2
    assert(kw.filter(t => t._1 == 3L && t._2 == 2L).map(_._3).toSeq ==
      Seq("cherry"))
    // tf/df bookkeeping: doc 1's apple has tf=2, df=2
    val d1apple = kw.find(t => t._1 == 1L && t._3 == "apple").get
    assert(d1apple._4 == 2L && d1apple._5 == 2L && d1apple._6 > 0.0)
  }

  test("ANN IVF: in-place re-embedding under unchanged ids also rebuilds") {
    // round-4 review extension of the corpus-digest fix: same vec_ids,
    // same count, same centroid sample — only one non-centroid VECTOR
    // changes in place. An id-only digest would match and probe the
    // stale index; the content digest must rebuild.
    val base = java.nio.file.Files
      .createTempDirectory("graft_ivf_reembed_test").toString + "/index"
    val k = 4
    val centIds = SimilarityOps.centroids(embs, k).map(_._1).toSet
    val victim = embs.filter(!col("vec_id").isin(centIds.toSeq: _*))
      .agg(min(col("vec_id"))).head().getLong(0)
    val mutated = embs.withColumn("embedding",
      when(col("vec_id") === victim,
        transform(col("embedding"), v => v + lit(1.5f)))
        .otherwise(col("embedding")))
    assert(SimilarityOps.centroids(mutated, k).map(_._1).toSet == centIds)
    val queries = embs.filter(col("vec_id") === 0)
    SimilarityOps.ivfTopK(spark, embs, queries, base, k = 3,
      nProbe = k, nCentroids = k).collect()
    val metaBefore = graft.io.FsUtil.readString(s"$base/_graft_ivf_idx_meta")
    val out = SimilarityOps.ivfTopK(spark, mutated, queries, base, k = 3,
        nProbe = k, nCentroids = k)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val metaAfter = graft.io.FsUtil.readString(s"$base/_graft_ivf_idx_meta")
    assert(metaBefore.isDefined && metaAfter.isDefined &&
      metaBefore.get != metaAfter.get,
      "fingerprint must change when a vector changes under unchanged ids")
    val brute = SimilarityOps.bruteForceTopK(mutated, queries, k = 3)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    assert(out == brute)
  }

  test("repetition report: dup-line ratio and top-bigram fraction on known fixtures") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "alpha beta\nalpha beta\ngamma delta"),   // 1 dup line of 3
      (2L, "go go go go"),                            // 'go go' bigram x3/3
      (3L, "all lines unique\nsecond line here"),
      (4L, "word"),                                   // no bigrams
      (5L, ""))                                       // empty
      .toDF("doc_id", "text")
    val out = TextOps.repetitionReport(fixture).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_lines") == 3)
    assert(out(1L).getAs[Long]("n_distinct_lines") == 2)
    assert(math.abs(out(1L).getAs[Double]("dup_line_ratio") - 0.333333) < 1e-6)
    // doc 2: every bigram is 'go go' -> fraction 1.0
    assert(out(2L).getAs[Double]("top_bigram_frac") == 1.0)
    assert(out(3L).getAs[Double]("dup_line_ratio") == 0.0)
    // <2 words and empty text degrade to zero, not crash
    assert(out(4L).getAs[Double]("top_bigram_frac") == 0.0)
    assert(out(5L).getAs[Long]("n_lines") == 0L)
    assert(out(5L).getAs[Double]("dup_line_ratio") == 0.0)
    assert(out(5L).getAs[Double]("top_bigram_frac") == 0.0)
  }

  test("chunking: offsets + overlap reconstruction reproduce every document") {
    import spark.implicits._
    val maxChars = 40
    val overlap = 10
    val fixture = Seq(
      (1L, "a" * 39),                      // single short chunk
      (2L, ("abcdefghij" * 13).take(125)), // several chunks, short tail
      (3L, "b" * 40),                      // exactly one full window
      (4L, ""))                            // empty -> no chunks
      .toDF("doc_id", "text")
    val chunks = TextOps.chunk(fixture, maxChars, overlap).collect()
    assert(!chunks.exists(_.getLong(0) == 4L))
    val byDoc = chunks.groupBy(_.getLong(0))
    for ((id, rows) <- byDoc) {
      val src = fixture.filter(col("doc_id") === id)
        .head().getAs[String]("text")
      val ordered = rows.sortBy(_.getAs[Long]("chunk_idx"))
      // offsets are faithful spans of the source
      ordered.foreach { r =>
        val s = r.getAs[Long]("char_start").toInt
        val e = r.getAs[Long]("char_end").toInt
        assert(r.getAs[String]("chunk") == src.substring(s, e))
        assert(e - s <= maxChars)
      }
      // reconstruction: drop each later chunk's overlap prefix, concat
      val rebuilt = ordered.zipWithIndex.map { case (r, i) =>
        val c = r.getAs[String]("chunk")
        if (i == 0) c else c.drop(overlap)
      }.mkString
      assert(rebuilt == src, s"doc $id reconstruction failed")
    }
    // doc 2 (125 chars): lastIdx = ceil((125-40)/30) = 3 -> 4 chunks
    assert(byDoc(2L).length == 4)
    // docs fully covered by one window emit exactly ONE chunk — a tail
    // window contained in its predecessor would duplicate content
    assert(byDoc(1L).length == 1)
    assert(byDoc(3L).length == 1)
    // invalid parameterizations refuse loudly
    intercept[IllegalArgumentException] {
      TextOps.chunk(fixture, maxChars = 10, overlap = 10)
    }
  }

  test("pii redaction: emails and urls replaced with placeholders, counted") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "mail me at jane.doe+x@example.com or visit https://example.org/a?b=1 thanks"),
      (2L, "two mails a@b.co and c_d%e@f-g.org here"),
      (3L, "no pii in this one at all"),
      (4L, "url with trailing text http://example.org/path#frag end"))
      .toDF("doc_id", "text")
    val out = TextOps.redactPii(fixture).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_emails") == 1 &&
      out(1L).getAs[Long]("n_urls") == 1)
    assert(out(1L).getAs[String]("redacted") ==
      "mail me at <EMAIL> or visit <URL> thanks")
    assert(out(2L).getAs[Long]("n_emails") == 2)
    assert(out(2L).getAs[String]("redacted") ==
      "two mails <EMAIL> and <EMAIL> here")
    assert(out(3L).getAs[Long]("n_emails") == 0 &&
      out(3L).getAs[Long]("n_urls") == 0)
    assert(out(3L).getAs[String]("redacted") == "no pii in this one at all")
    assert(out(4L).getAs[String]("redacted") == "url with trailing text <URL> end")
  }

  test("quality gate: pinned reason codes, kept+rejected partition the corpus") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "This is a reasonably long well formed english sentence with the " +
        "usual words in it and it keeps going for a while so that the " +
        "length factor saturates completely for the quality blend here."),
      (2L, "@@@@ #### !!!! %%%% ^^^^ &&&& **** (((( )))) $$$$"), // low q, und
      (3L, "le chat est dans la maison et il est dans le salon avec le " +
        "chien et les enfants qui sont dans le jardin depuis le matin et " +
        "que la lumiere est belle dans les arbres de la maison ce soir la"),
      (4L, "zz qq")) // short garbage: low quality AND und
      .toDF("doc_id", "text")
    val gate = TextOps.qualityGate(fixture, minQuality = 0.8, Seq("en"))
      .collect().map(r => r.getLong(0) -> r.getAs[String]("reject_reason"))
      .toMap
    assert(gate(1L) == null)
    assert(gate(2L) == "low_quality+bad_lang")
    assert(gate(3L) == "bad_lang") // good quality, wrong language
    assert(gate(4L) == "low_quality+bad_lang")
    // kept + rejected partition the input; kept keeps its annotations
    val kept = TextOps.qualityFilter(fixture, 0.8, Seq("en"))
    assert(kept.columns.toSeq ==
      Seq("doc_id", "text", "quality", "lang_pred"))
    assert(kept.collect().map(_.getLong(0)).toSet == Set(1L))
    assert(TextOps.qualityRejected(fixture, 0.8, Seq("en"))
      .collect().map(_.getLong(0)).toSet == Set(2L, 3L, 4L))
  }

  test("multimodal: stub decode roundtrips the synthesized header") {
    val feats = MultimodalOps.mediaFeatures(spark, docs.limit(50)).collect()
    assert(feats.length == 50)
    feats.foreach { r =>
      assert(r.getAs[Boolean]("header_ok"))
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Int]("width") == (id % 64 + 1).toInt)
      assert(r.getAs[Int]("height") == (id % 48 + 1).toInt)
      assert(r.getAs[Int]("channels") == 3)
      assert(r.getAs[String]("media_type") ==
        (if (id % 2 == 0) "image" else "audio"))
    }
  }

  test("multimodal: frame-sample + resize transforms hold their invariants") {
    val out = MultimodalOps.mediaTransforms(spark, docs.limit(50)).collect()
    assert(out.length == 50)
    out.foreach { r =>
      val bodyLen = math.min(
        docs.filter(col("doc_id") === r.getAs[Long]("doc_id"))
          .head().getAs[String]("text").length, 256)
      assert(r.getAs[Int]("n_frames") == bodyLen / 16)
      assert(r.getAs[Int]("resized_len") == 64)
      val sm = r.getAs[Double]("sampled_mean")
      val rm = r.getAs[Double]("resized_mean")
      assert(sm >= 0.0 && sm <= 255.0)
      assert(rm >= 0.0 && rm <= 255.0)
      if (bodyLen > 0) assert(rm > 0.0, "non-empty body must have a mean")
    }
  }

  test("sql registration: all custom functions callable from SQL") {
    docs.limit(5).createOrReplaceTempView("docs_fn_test")
    val r = spark.sql(
      """SELECT simhash64(text) AS sh, lang_id(text) AS l,
        |  quality_score(text) AS q, size(minhash_sig(text)) AS nsig,
        |  size(minhash_bands(text)) AS nbands,
        |  ngram_jaccard(text, text) AS jself
        |FROM docs_fn_test""".stripMargin).collect()
    r.foreach { row =>
      assert(row.getAs[Int]("nsig") == 64)
      assert(row.getAs[Int]("nbands") == 16)
      assert(row.getAs[Double]("jself") == 1.0)
      assert(row.getAs[Double]("q") >= 0 && row.getAs[Double]("q") <= 1)
    }
  }
}
