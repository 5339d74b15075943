package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._

/** Iceberg-layout table IO with per-partition lineage manifests +
  * checkpoint/resume — the recast of the reference's checkpoint system
  * (pytocr/utils/save_load.py:27-78 torch.save of {state_dict, cfg,
  * global_state}; resume restores epoch/step, tools/program.py:180-187).
  *
  * In-sandbox the "Iceberg table" is bucket-partitioned Parquet
  * (`bucket=K/` dirs, K = pmod(xxhash64(conv_id), nBuckets)) plus one
  * `_manifest.json` per bucket. On a real cluster the writer swaps to an
  * Iceberg catalog (`writeTo(...).overwritePartitions()` gives snapshot
  * semantics); everything above this object is unchanged — that seam is
  * the only thing that moves. The read side has the same seam:
  * ParquetLayout proves from Parquet footers that each conversation sits
  * in one row group, which lets extract() rank without an exchange; an
  * Iceberg input sorted or bucketed on conv_id would state that layout in
  * its own metadata (storage-partitioned join, SPARK-37375, is the
  * on-cluster form).
  *
  * Protocol (at-least-once + idempotent overwrite = effectively exactly
  * once per bucket):
  *  1. work is cut into WAVES of buckets; each wave filters the input by
  *     bucket id (on a real Iceberg input partitioned by bucket(conv_id)
  *     this predicate is partition pruning, not a scan filter),
  *  2. a wave's data is written with dynamic partition overwrite, set on
  *     the write, not the session (a re-run of a half-written bucket
  *     replaces it, never duplicates),
  *  3. the bucket's `_manifest.json` (row count, conv count, content
  *     digest, its row-weighted share of the wave's wall time, attempt)
  *     is written ONLY AFTER the bucket data commits —
  *     manifest-commit-last,
  *  4. resume = skip every bucket that already has a valid manifest
  *     (the anti-join on completed work).
  */
object TableIO {

  final case class Manifest(
      bucket: Int, rows: Long, convs: Long, digest: Long,
      wallMs: Long, attempt: Int)

  def bucketCol(nBuckets: Int) =
    pmod(xxhash64(col("conv_id")), lit(nBuckets)).cast("int")

  // --- manifest json (hand-rolled: flat schema, zero deps) --------------

  def manifestPath(outDir: String, bucket: Int): String =
    s"$outDir/bucket=$bucket/_manifest.json"

  /** Manifest IO rides the Hadoop FileSystem API (FsUtil) so checkpoint
    * lineage + resume hold on HDFS/S3 output dirs, not just local paths
    * (round-2 ADVICE family — the resume anti-join is exactly the
    * contract a real cluster relies on).
    */
  def writeManifest(outDir: String, m: Manifest): Unit = {
    val p = manifestPath(outDir, m.bucket)
    val json =
      s"""{"bucket":${m.bucket},"rows":${m.rows},"convs":${m.convs},""" +
        s""""digest":${m.digest},"wallMs":${m.wallMs},"attempt":${m.attempt}}"""
    // write-then-move so a crash mid-write never yields a valid-looking
    // manifest (atomic on HDFS; see FsUtil.replaceWith for the S3 seam)
    val tmp = s"$outDir/bucket=${m.bucket}/_manifest.json.tmp"
    graft.io.FsUtil.writeString(tmp, json)
    graft.io.FsUtil.replaceWith(tmp, p)
  }

  def readManifest(outDir: String, bucket: Int): Option[Manifest] = {
    val sOpt = graft.io.FsUtil.readString(manifestPath(outDir, bucket))
    if (sOpt.isEmpty) return None
    val s = sOpt.get
    def field(k: String): Option[Long] = {
      val m = ("\"" + k + "\":(-?\\d+)").r.findFirstMatchIn(s)
      m.map(_.group(1).toLong)
    }
    for {
      b <- field("bucket"); r <- field("rows"); c <- field("convs")
      d <- field("digest"); w <- field("wallMs"); a <- field("attempt")
    } yield Manifest(b.toInt, r, c, d, w, a.toInt)
  }

  def completedBuckets(outDir: String, nBuckets: Int): Set[Int] =
    (0 until nBuckets).filter(b => readManifest(outDir, b).isDefined).toSet

  /** Order-independent content digest over the per-turn results: XOR of
    * xxhash64 over the key + extracted text. XOR (not sum) so the digest
    * is partition- and order-invariant and never overflows differently.
    */
  private def digestAgg = {
    // xor aggregate via sum-of-bits is wrong; use bit_xor
    expr("bit_xor(xxhash64(conv_id, turn_idx, rn, text))")
  }

  /** Run `transform` over `turns` bucket-wave by bucket-wave with
    * manifest checkpoints. Returns the manifests written THIS run.
    *
    * @param failAfterWaves test hook: throw after k waves (crash
    *        injection for the resume test; None in production)
    */
  def runCheckpointed(
      spark: SparkSession,
      turns: DataFrame,
      transform: DataFrame => DataFrame,
      outDir: String,
      nBuckets: Int = 16,
      waveSize: Int = 4,
      failAfterWaves: Option[Int] = None): Seq[Manifest] = {

    val done = completedBuckets(outDir, nBuckets)
    val todo = (0 until nBuckets).filterNot(done.contains)
    val waves = todo.grouped(waveSize).toSeq
    val written = scala.collection.mutable.ArrayBuffer.empty[Manifest]

    waves.zipWithIndex.foreach { case (wave, wi) =>
      failAfterWaves.foreach { k =>
        if (wi >= k) throw new RuntimeException(
          s"[test] injected crash before wave $wi")
      }
      val t0 = System.nanoTime()
      val bucketed = turns.withColumn("bucket", bucketCol(nBuckets))
        .filter(col("bucket").isin(wave: _*))
      val out = writers(transform(bucketed)
        .withColumn("bucket", bucketCol(nBuckets)))
      out.write
        .mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(outDir)
      // stats pass over the just-written data (re-read: counts what
      // actually landed, not what we intended to write)
      val stats = spark.read.parquet(outDir)
        .filter(col("bucket").isin(wave: _*))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("rows"),
          countDistinct(col("conv_id")).as("convs"),
          digestAgg.as("digest"))
        .collect()
        .map(r => (r.getInt(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      val waveMs = (System.nanoTime() - t0) / 1000000
      val rowsOf = wave.map(b => stats.get(b).fold(0L)(_._1))
      val shares = shareByRows(waveMs, rowsOf)
      wave.zip(shares).foreach { case (b, wallMs) =>
        val (rows, convs, digest) = stats.getOrElse(b, (0L, 0L, 0L))
        val attempt = readManifest(outDir, b).map(_.attempt + 1).getOrElse(1)
        val m = Manifest(b, rows, convs, digest, wallMs, attempt)
        writeManifest(outDir, m)
        written += m
      }
    }
    written.toSeq
  }

  /** A wave whose plan has no exchange (extract() over a row-group-
    * clustered Parquet input) would write from every scan split into
    * every bucket of the wave: 16 splits wrote 3.4x the files of the
    * exchange path, and the stats re-read paid for each. Such a wave is
    * coalesced to one writer per core; a wave that shuffles keeps the
    * partitions AQE gives it.
    */
  private def writers(out: DataFrame): DataFrame = {
    val shuffles = out.queryExecution.executedPlan match {
      // AQE wraps only plans that shuffle (or hold subqueries)
      case _: AdaptiveSparkPlanExec => true
      case p => p.exists(_.isInstanceOf[Exchange])
    }
    if (shuffles) out else out.coalesce(out.sparkSession.sparkContext.defaultParallelism)
  }

  /** A wave's wall time shared out across its buckets by row count
    * (evenly when the wave wrote no rows), so a bucket's turnsPerSec is
    * the wave's rate. Cumulative rounding keeps the shares summing to
    * `waveMs` exactly.
    */
  private[io] def shareByRows(waveMs: Long, rows: Seq[Long]): Seq[Long] = {
    val total = rows.sum
    val weights = if (total > 0) rows else rows.map(_ => 1L)
    val sum = weights.sum
    val cum = weights.scanLeft(0L)(_ + _).map(c =>
      math.round(waveMs.toDouble * c / sum))
    cum.zip(cum.tail).map { case (a, b) => b - a }
  }

  /** The per-partition metrics table (FIXTURES.md §5) from manifests on
    * disk — (bucket, rows, convs, digest, wallMs, attempt, turnsPerSec).
    */
  def partitionStats(spark: SparkSession, outDir: String,
      nBuckets: Int): DataFrame = {
    import spark.implicits._
    (0 until nBuckets).flatMap(readManifest(outDir, _))
      .toDF()
      .withColumn("turnsPerSec",
        when(col("wallMs") > 0, col("rows") / (col("wallMs") / 1000.0)))
  }
}
