package graftbench

import graft.pipeline.{CorpusPipeline, ExtractPipeline}
import org.apache.spark.sql.SparkSession

/** Tests of the benchmark itself: seeded generators, the three output
  * checkers (each must count one forged wrong row, bucket or survivor)
  * and the listener's counts (must repeat exactly for a fixed plan).
  *
  *   graftbench.SelfTest --work DIR
  *
  * Exits non-zero on the first failed test.
  */
object SelfTest {

  private var failures = 0

  private def test(name: String)(f: => Unit): Unit = {
    val ok = try { f; true } catch {
      case e: Throwable => System.err.println(s"FAIL $name: $e"); false
    }
    if (!ok) failures += 1
    println(s"${if (ok) "ok  " else "FAIL"} $name")
  }

  private def expect(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new AssertionError(msg)

  def main(argv: Array[String]): Unit = {
    val work = argv.grouped(2).collect { case Array("--work", v) => v }.toSeq.head
    val spark = Main.session(4, work)
    try run(spark, work) finally spark.stop()
    if (failures > 0) { println(s"$failures failed"); sys.exit(1) }
    println("all passed")
  }

  private def fileDigests(dir: String): Seq[String] =
    Main.files(new java.io.File(dir)).filter(_.getName.endsWith(".parquet")).map { f =>
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(java.nio.file.Files.readAllBytes(f.toPath)).map("%02x".format(_)).mkString
    }.sorted

  private def turnsDf(spark: SparkSession, seed: Long, nConvs: Int) = {
    import spark.implicits._
    spark.createDataset((0L until nConvs).flatMap(Gen.turnsOf(seed, _))).toDF()
  }

  def run(spark: SparkSession, work: String): Unit = {
    test("transcripts: same seed gives byte-identical files, another seed other content") {
      val w = new ExtractWorkload(7L, work, 3000)
      val a = fileDigests(w.materialize(spark, s"$work/g1"))
      val b = fileDigests(w.materialize(spark, s"$work/g2"))
      val w2 = new ExtractWorkload(8L, work, 3000)
      val c = fileDigests(w2.materialize(spark, s"$work/g3"))
      expect(a.nonEmpty && a == b, "same seed, different bytes")
      expect(a != c, "different seeds, same bytes")
      val n7 = spark.read.parquet(s"$work/g1").count()
      val n8 = spark.read.parquet(s"$work/g3").count()
      expect(math.abs(n7 - n8) < 0.3 * n7, s"row counts $n7 vs $n8")
      Seq(7L, 8L).foreach { s =>
        expect(Gen.convSize(s, 0) == Gen.Cap, "cap-size conversation missing")
      }
    }

    test("corpus: same seed gives byte-identical files; families and noise present") {
      def corpus(seed: Long, dir: String) = fileDigests(
        new CorpusWorkload(Workload.corpusSpec(seed, nDocs = 500)).materialize(spark, s"$work/$dir"))
      val a = corpus(5L, "d1")
      val b = corpus(5L, "d2")
      val c = corpus(6L, "d3")
      expect(a.nonEmpty && a == b, "same seed, different bytes")
      expect(a != c, "different seeds, same bytes")
      val spec = Workload.corpusSpec(5L, nDocs = 500)
      expect(spark.read.parquet(s"$work/d1").count() == spec.nDocs, "doc count")
      expect(spec.families.size == spec.nChains + spec.nCopyGroups, "families missing")
      expect(spec.singles.exists(spec.isNoise), "no noise docs")
    }

    // a tiny transcript table and its pipeline output, shared below
    val seed = 11L
    val convs = 30
    val turns = turnsDf(spark, seed, convs)
    turns.write.mode("overwrite").parquet(s"$work/turns")
    val input = spark.read.parquet(s"$work/turns")
    val out = ExtractPipeline.extract(input).collect()
      .map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("rn")) ->
        ((r.getAs[String]("kind"), r.getAs[String]("text"), r.getAs[Boolean]("ok"))))
      .toSeq
    val expected = Checks.extractOracle((0L until convs).flatMap(Gen.turnsOf(seed, _)))
    val stats = out.groupBy(_._1._1).map { case (c, rows) =>
      val rn = rows.map(_._1._2.toLong)
      (c, rows.size.toLong, rn.min, rn.max, rn.distinct.size.toLong)
    }.toSeq
    val nRows = out.size.toLong

    test("extract check: clean output passes, every kind sampled") {
      expect(Checks.extractCheck(expected, out, stats, nRows) == ((nRows, 0L)), "clean output failed")
      val kinds = (0L until convs).flatMap(c =>
        (0 until Gen.convSize(seed, c)).map(t => Gen.kindOf(Gen.cellOf(seed, c, t)))).toSet
      expect(Gen.Kinds.forall(kinds.contains), s"kinds $kinds")
    }

    test("extract check counts one forged row, one missing, one duplicate") {
      val (k, (kind, text, ok)) = out.head
      val forged = (k, (kind, text + "x", ok)) +: out.tail
      expect(Checks.extractCheck(expected, forged, stats, nRows)._2 == 1, "wrong text not counted")
      expect(Checks.extractCheck(expected, out.tail, stats, nRows)._2 >= 1, "missing row not counted")
      expect(Checks.extractCheck(expected, out.head +: out, stats, nRows)._2 >= 1,
        "duplicate row not counted")
      val badRn = stats.head.copy(_4 = stats.head._4 + 1)
      expect(Checks.extractCheck(expected, out, badRn +: stats.tail, nRows)._2 >= 1,
        "rn gap not counted")
    }

    test("checkpoint check: crashed then resumed table passes; forged bucket and lost manifest fail") {
      val ck = new CheckpointPass(work)
      ck.run(spark, s"$work/turns", None)
      val (want, table, mans) = ck.buckets(spark, s"$work/turns")
      expect(Checks.checkpointCheck(16, want, table, mans) == ((16L, 0L)), "clean table failed")
      val b0 = table.keys.min
      val forged = table.updated(b0, (table(b0)._1, table(b0)._2 ^ 1L))
      expect(Checks.checkpointCheck(16, want, forged, mans)._2 == 1, "forged bucket not counted")
      expect(Checks.checkpointCheck(16, want, table, mans.updated(b0, None))._2 == 1,
        "missing manifest not counted")
    }

    test("corpus check: runCorpus matches the ground truth; forged survivors fail") {
      val spec = Workload.corpusSpec(5L, nDocs = 500)
      val docs = spark.read.parquet(s"$work/d1")
      val kept = CorpusPipeline.runCorpus(docs)(_.select("doc_id").collect().map(_.getLong(0)).toSet)
      val want = spec.families.indices.map(f =>
        Checks.familyKeep(spec.docsOf(f.toLong).map(d => (d.doc_id, d.text)), 0.5))
      def chk(k: Set[Long]) =
        Checks.corpusCheck(want, spec.families, spec.singles.map(i => (i, spec.isNoise(i))), k)
      val (att, failed) = chk(kept)
      expect(failed == 0, s"$failed of $att outcomes differ")
      expect(chk(kept - want.head.head)._2 == 1, "dropped family survivor not counted")
      val single = spec.singles.find(i => !spec.isNoise(i)).get
      expect(chk(kept - single)._2 == 1, "dropped unrelated doc not counted")
      expect(chk(kept + spec.families.head.last)._2 == 1, "kept near-duplicate not counted")
    }

    test("listener: job, stage and exchange counts repeat exactly; one exchange on extract") {
      val counts = (1 to 3).map { _ =>
        val p = Probe.attach(spark)
        Main.forceAll(ExtractPipeline.extract(spark.read.parquet(s"$work/turns")))
        val c = p.counters
        p.detach()
        (c("jobs"), c("stages"), c("exchanges"))
      }
      expect(counts.distinct.size == 1, s"counts differ across runs: $counts")
      expect(counts.head._3 == 1, s"exchanges ${counts.head._3}")
    }

    test("spans: self time subtracts the union of children") {
      val p = Span(1, 0, "layer", "p", 0, 100)
      val kids = Seq(Span(2, 1, "job", "a", 10, 40), Span(3, 1, "job", "b", 30, 60),
        Span(4, 1, "job", "c", 90, 120))
      expect(Span.selfUs(p, kids) == 100 - 50 - 10, s"self ${Span.selfUs(p, kids)}")
    }
  }
}
