package graftbench

/** Output checks. Each checker is a pure function over collected rows, so
  * the self-test can forge one wrong row, bucket or survivor and see it
  * counted. A result is (attempted, failed).
  */
object Checks {

  type Key = (String, Int)          // (conv_id, rn)
  type Out = (String, String, Boolean) // (kind, text, ok)

  /** Plain-Scala oracle for a conversation: sort by (turn_idx, ts), run
    * the kernel per turn, number the turns 1..n.
    */
  def extractOracle(turns: Seq[Gen.TurnRow]): Map[Key, Out] =
    turns.groupBy(_.conv_id).flatMap { case (cid, ts) =>
      ts.sortBy(t => (t.turn_idx, t.ts.getTime)).zipWithIndex.map { case (t, i) =>
        val r = graft.kernel.Extractor.extract(t.text)
        (cid, i + 1) -> ((r.kind, r.text, r.ok))
      }
    }

  /** Extract check. `sample` are the pipeline's rows for the sampled
    * conversations; `convStats` is (conv_id, rows, min rn, max rn,
    * distinct rn) for every conversation of the table. A sampled turn
    * fails when it is missing, duplicated or differs from the oracle
    * (an ok=false row the oracle also rejects matches); every turn of a
    * conversation whose rn does not run 1..n fails; so do surplus or
    * missing table rows. Attempts are the table's expected turns.
    */
  def extractCheck(expected: Map[Key, Out], sample: Seq[(Key, Out)],
      convStats: Seq[(String, Long, Long, Long, Long)],
      expectedRows: Long): (Long, Long) = {
    val got = sample.groupBy(_._1)
    val badSample = (expected.keySet ++ got.keySet).filter { k =>
      got.get(k) match {
        case Some(Seq((_, v))) => !expected.get(k).contains(v)
        case _ => true
      }
    }
    val badConvs = convStats.filter { case (_, n, lo, hi, d) => lo != 1 || hi != n || d != n }
    val badSampleConvs = badSample.map(_._1)
    val convFailures = badConvs.filterNot(c => badSampleConvs.contains(c._1)).map(_._2).sum
    val rows = convStats.map(_._2).sum
    val failed = badSample.size + convFailures + math.abs(rows - expectedRows)
    (expectedRows, math.min(failed, expectedRows))
  }

  /** Checkpoint check: per bucket, the table's (rows, digest) and its
    * manifest's (rows, digest) must equal those of a plain extract of the
    * same input. A bucket that differs or lacks its manifest fails.
    */
  def checkpointCheck(nBuckets: Int, expected: Map[Int, (Long, Long)],
      table: Map[Int, (Long, Long)],
      manifests: Map[Int, Option[(Long, Long)]]): (Long, Long) = {
    val failed = (0 until nBuckets).count { b =>
      val want = expected.getOrElse(b, (0L, 0L))
      table.getOrElse(b, (0L, 0L)) != want ||
        !manifests.getOrElse(b, None).contains(want)
    }
    (nBuckets.toLong, failed.toLong)
  }

  /** Character 5-gram Jaccard, computed on sets of strings. */
  def jaccard(a: String, b: String): Double = {
    def sh(s: String) = (0 to s.length - 5).map(i => s.substring(i, i + 5)).toSet
    val x = sh(a); val y = sh(b)
    if (x.isEmpty && y.isEmpty) 1.0 else (x & y).size.toDouble / (x | y).size
  }

  /** Ids a family should keep: exact copies collapse to their min id, then
    * near-duplicates (Jaccard >= minJaccard, checked over every pair of
    * the family) collapse to the min id of each connected component.
    */
  def familyKeep(docs: Seq[(Long, String)], minJaccard: Double): Set[Long] = {
    val exact = docs.groupBy(_._2).values.map(_.minBy(_._1)).toSeq.sortBy(_._1)
    val ids = exact.map(_._1)
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(i: Long): Long = if (parent(i) == i) i else find(parent(i))
    for (i <- exact.indices; j <- i + 1 until exact.size
         if jaccard(exact(i)._2, exact(j)._2) >= minJaccard) {
      val (a, b) = (find(exact(i)._1), find(exact(j)._1))
      parent(math.max(a, b)) = math.min(a, b)
    }
    ids.filter(i => find(i) == i).toSet
  }

  /** Corpus check: a family fails when its kept ids differ from
    * `familyKeep`; an unrelated doc fails when its kept/dropped outcome
    * differs from the generator's (noise docs drop, others stay).
    * Attempts are the families plus the unrelated docs.
    */
  def corpusCheck(expectedKeep: Seq[Set[Long]], families: Seq[Seq[Long]],
      singles: Iterator[(Long, Boolean)], kept: Set[Long]): (Long, Long) = {
    var attempted = 0L
    var failed = 0L
    families.zip(expectedKeep).foreach { case (ids, want) =>
      attempted += 1
      if (ids.filter(kept.contains).toSet != want) failed += 1
    }
    singles.foreach { case (id, noise) =>
      attempted += 1
      if (kept.contains(id) == noise) failed += 1
    }
    (attempted, failed)
  }
}
