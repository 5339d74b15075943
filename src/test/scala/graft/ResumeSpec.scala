package graft

import graft.data.TranscriptGen
import graft.io.{ParquetLayout, TableIO}
import graft.pipeline.ExtractPipeline
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Checkpoint/resume: kill after k waves -> rerun -> byte-identical
  * output, manifests consistent (the save_load.py resume path recast,
  * SURVEY.md §5.2 / FIXTURES.md §5).
  */
class ResumeSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def freshDir(): String =
    Files.createTempDirectory("graft_resume").toString

  private def turnsDf() = {
    import spark.implicits._
    TranscriptGen.tiny(nConvs = 48, cap = 32)
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
  }

  private def contentOf(dir: String): Set[(String, Int, Int, String)] =
    spark.read.parquet(dir)
      .select("conv_id", "turn_idx", "rn", "text")
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .toSet

  test("crash after 1 wave -> resume -> identical to uninterrupted run") {
    val turns = turnsDf()
    val nBuckets = 8

    // reference: one uninterrupted run
    val refDir = freshDir()
    val refManifests = TableIO.runCheckpointed(
      spark, turns, ExtractPipeline.extract, refDir, nBuckets, waveSize = 2)
    assert(refManifests.length == nBuckets)

    // crashed run: dies before wave 1 (only buckets 0,1 committed)
    val dir = freshDir()
    intercept[RuntimeException] {
      TableIO.runCheckpointed(spark, turns, ExtractPipeline.extract,
        dir, nBuckets, waveSize = 2, failAfterWaves = Some(1))
    }
    val afterCrash = TableIO.completedBuckets(dir, nBuckets)
    assert(afterCrash == Set(0, 1), s"got $afterCrash")

    // resume: completes only the remaining buckets
    val resumed = TableIO.runCheckpointed(
      spark, turns, ExtractPipeline.extract, dir, nBuckets, waveSize = 2)
    assert(resumed.map(_.bucket).toSet == (2 until nBuckets).toSet)
    assert(TableIO.completedBuckets(dir, nBuckets).size == nBuckets)

    // identical content AND identical per-bucket digests
    assert(contentOf(dir) == contentOf(refDir))
    (0 until nBuckets).foreach { b =>
      val a = TableIO.readManifest(dir, b).get
      val r = TableIO.readManifest(refDir, b).get
      assert(a.rows == r.rows && a.digest == r.digest,
        s"bucket $b manifest drift: $a vs $r")
    }
  }

  test("manifest/resume protocol holds on a NON-default FileSystem scheme") {
    // graftfs:// (GraftTestFs) delegates to local storage but resolves
    // through the Hadoop FileSystem + FileContext registries like
    // HDFS/S3 would — a residual java.io or file:-scheme assumption in
    // TableIO/FsUtil fails here instead of silently passing
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    hc.set("fs.AbstractFileSystem.graftfs.impl",
      classOf[GraftTestAbstractFs].getName)
    val turns = turnsDf()
    val nBuckets = 4
    val dir = "graftfs://" + freshDir()

    // crash after wave 0 (buckets 0,1), then resume to completion —
    // the full protocol (dynamic partition overwrite, manifest-commit-
    // last via write-then-FileContext-rename, resume anti-join) runs on
    // the non-default scheme
    intercept[RuntimeException] {
      TableIO.runCheckpointed(spark, turns, ExtractPipeline.extract,
        dir, nBuckets, waveSize = 2, failAfterWaves = Some(1))
    }
    assert(TableIO.completedBuckets(dir, nBuckets) == Set(0, 1))
    val resumed = TableIO.runCheckpointed(
      spark, turns, ExtractPipeline.extract, dir, nBuckets, waveSize = 2)
    assert(resumed.map(_.bucket).toSet == Set(2, 3))

    // byte-identical to an uninterrupted run on the DEFAULT local fs
    val refDir = freshDir()
    TableIO.runCheckpointed(
      spark, turns, ExtractPipeline.extract, refDir, nBuckets, waveSize = 4)
    assert(contentOf(dir) == contentOf(refDir))
    (0 until nBuckets).foreach { b =>
      val a = TableIO.readManifest(dir, b).get
      val r = TableIO.readManifest(refDir, b).get
      assert(a.rows == r.rows && a.digest == r.digest,
        s"bucket $b manifest drift across filesystems: $a vs $r")
    }
  }

  test("re-run over a completed table is a no-op (all buckets skipped)") {
    val turns = turnsDf()
    val dir = freshDir()
    TableIO.runCheckpointed(spark, turns, ExtractPipeline.extract,
      dir, nBuckets = 4, waveSize = 4)
    val second = TableIO.runCheckpointed(spark, turns,
      ExtractPipeline.extract, dir, nBuckets = 4, waveSize = 4)
    assert(second.isEmpty)
  }

  test("partition stats table derives from manifests") {
    val turns = turnsDf()
    val dir = freshDir()
    TableIO.runCheckpointed(spark, turns, ExtractPipeline.extract,
      dir, nBuckets = 4, waveSize = 2)
    val stats = TableIO.partitionStats(spark, dir, 4).collect()
    assert(stats.length == 4)
    assert(stats.map(_.getAs[Long]("rows")).sum == turns.count())
  }

  test("partition stats: a wave's wall time is shared across its buckets by rows") {
    val turns = turnsDf()
    val dir = freshDir()
    val t0 = System.nanoTime()
    val written = TableIO.runCheckpointed(spark, turns, ExtractPipeline.extract,
      dir, nBuckets = 4, waveSize = 2)
    val elapsedMs = (System.nanoTime() - t0) / 1000000
    // each bucket used to carry its whole wave's time: the sum came to
    // waveSize x the run, and turnsPerSec read waveSize x too low
    assert(written.map(_.wallMs).sum <= elapsedMs,
      s"bucket wall times ${written.map(_.wallMs)} exceed the run's $elapsedMs ms")
    val tps = TableIO.partitionStats(spark, dir, 4).collect()
      .map(r => r.getAs[Int]("bucket") -> r.getAs[Double]("turnsPerSec")).toMap
    written.grouped(2).foreach { wave =>
      val waveMs = wave.map(_.wallMs).sum
      val waveRows = wave.map(_.rows).sum
      assert(waveMs > 0 && waveRows > 0)
      val rate = waveRows / (waveMs / 1000.0)
      wave.foreach { m =>
        // shares are rounded to whole ms; everything else is exact
        assert(math.abs(m.wallMs - waveMs.toDouble * m.rows / waveRows) <= 1.0, m)
        assert(math.abs(tps(m.bucket) - rate) <= rate * 1.5 / m.wallMs,
          s"bucket ${m.bucket}: ${tps(m.bucket)} vs the wave's $rate")
      }
    }
  }

  test("a checkpointed run leaves the session's partitionOverwriteMode alone") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "static")
    try {
      val turns = turnsDf()
      val dir = freshDir()
      TableIO.runCheckpointed(spark, turns, ExtractPipeline.extract,
        dir, nBuckets = 4, waveSize = 2)
      assert(spark.conf.get(key) == "static")
      // the second wave's overwrite still replaced only its own buckets
      assert(contentOf(dir).size == turns.count())
    } finally spark.conf.set(key, prev)
  }

  test("checkpointed run over a clustered Parquet input == the same rows from a local frame") {
    val in = freshDir()
    turnsDf().repartitionByRange(4, col("conv_id")).write.mode("overwrite").parquet(in)
    val clustered = spark.read.parquet(in)
    val nBuckets = 8
    // each wave's input keeps the proof, so its extract() takes the exchange-free rank
    assert(ParquetLayout.rowGroupClustered(clustered
      .withColumn("bucket", TableIO.bucketCol(nBuckets)).filter(col("bucket").isin(0, 1)),
      "conv_id"))
    val (a, b) = (freshDir(), freshDir())
    def key(ms: Seq[TableIO.Manifest]) =
      ms.map(m => (m.bucket, m.rows, m.convs, m.digest)).sortBy(_._1)
    val got = TableIO.runCheckpointed(spark, clustered, ExtractPipeline.extract, a, nBuckets, waveSize = 2)
    val want = TableIO.runCheckpointed(spark, turnsDf(), ExtractPipeline.extract, b, nBuckets, waveSize = 2)
    assert(key(got) == key(want))
    assert(contentOf(a) == contentOf(b))
  }
}
