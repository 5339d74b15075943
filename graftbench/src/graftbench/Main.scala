package graftbench

import graft.io.TableIO
import graft.pipeline.{CorpusPipeline, ExtractPipeline}
import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Benchmark entry point: one workload, one seed, one JVM.
  *
  *   graftbench.Main --workload extract|corpus --seed N
  *                   --seconds S --trace 0|1 --work DIR [--spans FILE]
  *
  * Prints an info line (seed, rows, input bytes, host CPU probes) and, as
  * the last line, the result object
  * {"correct", "attempted", "failed", "metrics"}.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, spans: Option[String])

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("work"), m.get("spans"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = Workload(a.workload, a.seed, a.work)
    val out = new Runner(a, w).run()
    println(out.info)
    println(out.result)
  }

  // --- shared helpers ------------------------------------------------------

  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "2m")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.expr.Functions.register(s)
    s
  }

  def secs[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def medianOf(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def forceAll(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def files(dir: File): Seq[File] =
    if (!dir.exists) Nil
    else if (dir.isFile) Seq(dir)
    else dir.listFiles.toSeq.flatMap(files)

  /** Bytes of the data files under `dir` (checksums excluded). */
  def dataBytes(dir: String): Long =
    files(new File(dir)).filterNot(_.getName.endsWith(".crc")).map(_.length).sum

  def rm(dir: String): Unit = {
    def go(f: File): Unit = { if (f.isDirectory) f.listFiles.foreach(go); f.delete() }
    go(new File(dir))
  }

  def peakRssMb: Double = {
    val f = scala.io.Source.fromFile("/proc/self/status")
    try f.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)
    finally f.close()
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else BigDecimal(d).bigDecimal.toPlainString
}

/** The pieces a workload plugs into the runner. */
trait Workload {
  def name: String
  /** Generates and writes the input to `dir`; returns its path. */
  def materialize(spark: SparkSession, dir: String): String
  /** Least number of measured units. */
  def minUnits: Int
  /** Warm-up units before the measured ones: units keep speeding up
    * while the JIT and the code generator warm. A count, not a time, so
    * that a slow host does not leave the measured units colder.
    */
  def warmUnits: Int
  /** Warm-up units run at once. */
  def warmThreads: Int
  /** Share of failed checks still counted correct. */
  def tolerance: Double = 0.0
  /** One unit of measured work; returns its wall seconds. */
  def unit(spark: SparkSession, input: String, tr: Option[Tracer]): Double
  /** Output check of the last unit: (attempted, failed). */
  def check(spark: SparkSession, input: String): (Long, Long)
  /** Texts for the single-threaded kernel sample, keyed by payload class. */
  def kernelSample: Map[String, Seq[String]]
  /** Traced-run metrics of the workload's own layers, with their
    * output check: (metrics, (attempted, failed)).
    */
  def layerMetrics(spark: SparkSession, input: String, probe: Probe,
      tr: Tracer): (Map[String, Double], (Long, Long))
}

object Workload {
  val ExtractTurns = 100000L

  def corpusSpec(seed: Long, nDocs: Int = 4000): Gen.Corpus =
    Gen.Corpus(seed, nDocs, nChains = nDocs * 17 / 500, nCopyGroups = nDocs / 62,
      vocabSize = 30000, editFrac = 0.06, noiseFrac = 0.05)

  def apply(name: String, seed: Long, work: String): Workload = name match {
    case "extract" => new ExtractWorkload(seed, work, ExtractTurns)
    case "corpus" => new CorpusWorkload(corpusSpec(seed))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** `extract`: seeded transcripts through ExtractPipeline.extract into the
  * noop sink. Its traced run adds the checkpointed pass (CheckpointPass).
  */
final class ExtractWorkload(seed: Long, work: String, turns: Long) extends Workload {
  val name = "extract"
  val minUnits = 3
  val warmUnits = 8
  val warmThreads = 1
  lazy val nConvs: Long = Gen.convsFor(seed, turns)

  def materialize(spark: SparkSession, dir: String): String = {
    import spark.implicits._
    val s = seed
    spark.range(0, nConvs, 1, 16).as[Long].flatMap(c => Gen.turnsOf(s, c))
      .write.mode("overwrite").parquet(dir)
    dir
  }

  def unit(spark: SparkSession, input: String, tr: Option[Tracer]): Double = {
    def run() = Main.forceAll(ExtractPipeline.extract(spark.read.parquet(input)))
    Main.secs(tr.fold(run())(_.span("pipeline.extract")(run())))._2
  }

  /** Pipeline output vs the per-turn oracle on sampled conversations
    * (always the largest one and every payload class), plus row count
    * and rn = 1..n on the whole table.
    */
  def check(spark: SparkSession, input: String): (Long, Long) = {
    val out = ExtractPipeline.extract(spark.read.parquet(input))
    val sample = mutable.LinkedHashSet(0L)
    var i = 0L
    def draw(): Unit = { sample += math.abs(Gen.h(seed, 0xb0L, i)) % nConvs; i += 1 }
    while (sample.size < 120) draw()
    def kinds = sample.toSeq.flatMap(c => (0 until Gen.convSize(seed, c))
      .map(t => Gen.kindOf(Gen.cellOf(seed, c, t)))).toSet
    while (!Gen.Kinds.forall(kinds.contains)) draw()
    val expected = Checks.extractOracle(sample.toSeq.flatMap(Gen.turnsOf(seed, _)))
    val got = out.filter(col("conv_id").isin(sample.toSeq.map(Gen.convId): _*))
      .select("conv_id", "rn", "kind", "text", "ok").collect()
      .map(r => (r.getString(0), r.getInt(1)) -> ((r.getString(2), r.getString(3), r.getBoolean(4))))
    val stats = out.groupBy("conv_id")
      .agg(count(lit(1)), min("rn").cast("long"), max("rn").cast("long"), countDistinct("rn"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    Checks.extractCheck(expected, got.toSeq, stats.toSeq, spark.read.parquet(input).count())
  }

  def kernelSample: Map[String, Seq[String]] = {
    val got = Gen.Kinds.map(_ -> mutable.ArrayBuffer.empty[String]).toMap
    var i = 0L
    while (got.values.exists(_.size < 150)) {
      val cell = Gen.h(seed, 0xa0L, i)
      val buf = got(Gen.kindOf(cell))
      if (buf.size < 150) buf += Gen.payload(cell)
      i += 1
    }
    got.map { case (k, v) => k -> v.toSeq }
  }

  /** The io layer: TableIO.runCheckpointed on the same input, warmed up
    * once, then traced.
    */
  def layerMetrics(spark: SparkSession, input: String, probe: Probe,
      tr: Tracer): (Map[String, Double], (Long, Long)) = {
    val ck = new CheckpointPass(work)
    ck.run(spark, input, None)
    val (redo, wall) = Main.secs(tr.span("io.checkpoint")(ck.run(spark, input, Some(tr))))
    val root = tr.layerSpans.filter(_.name == "io.checkpoint").last
    val resume = tr.layerSpans.filter(_.name == "io.runCheckpointed.resume").last
    val st = probe.stagesIn(root)
    val reps = (1 to 5).map(_ => Main.secs(TableIO.completedBuckets(ck.table, ck.NBuckets))._2)
    val queries = probe.queriesIn(root)
    val m = Map(
      "io.checkpoint_turns_per_s" -> spark.read.parquet(input).count() / wall,
      "io.resume_s" -> resume.durUs / 1e6,
      "io.input_bytes_read" -> queries.map(_.scanBytes).sum.toDouble,
      "io.bytes_written" -> st.map(_.output).sum.toDouble,
      "io.files_written" -> Main.files(new File(ck.table)).count(f =>
        f.getName.endsWith(".parquet") || f.getName == "_manifest.json").toDouble,
      "io.write_stage_s" -> st.filter(_.output > 0).map(s => s.endMs - s.submitMs).sum / 1000.0,
      // the stats re-read after each wave's write is the pass's only collect
      "io.stats_job_s" -> queries.filter(_.func == "collect").map(_.durMs).sum / 1000.0,
      "io.completed_buckets_ms" -> Main.medianOf(reps) * 1000,
      "io.redo_turns" -> redo.toDouble)
    (m, ck.check(spark, input))
  }
}

/** TableIO.runCheckpointed over transcripts into a fresh table (16
  * buckets, waves of 4): a crash injected after half the waves, then the
  * resuming run up to a complete table.
  */
final class CheckpointPass(work: String) {
  val NBuckets = 16
  val Wave = 4
  private var n = 0
  var table: String = _

  /** Returns the turns the resume re-extracted that the crashed run had
    * already committed.
    */
  def run(spark: SparkSession, input: String, tr: Option[Tracer]): Long = {
    if (table != null) Main.rm(table)
    n += 1
    table = s"$work/table-$n"
    def sp[A](name: String)(f: => A): A = tr.fold(f)(_.span(name)(f))
    val turns = spark.read.parquet(input)
    try sp("io.runCheckpointed.crash")(TableIO.runCheckpointed(spark, turns,
      ExtractPipeline.extract, table, NBuckets, Wave, failAfterWaves = Some(NBuckets / Wave / 2)))
    catch { case _: RuntimeException => () }
    val committed = (0 until NBuckets).filter(b => TableIO.readManifest(table, b).isDefined).toSet
    val resumed = sp("io.runCheckpointed.resume")(
      TableIO.runCheckpointed(spark, turns, ExtractPipeline.extract, table, NBuckets, Wave))
    resumed.filter(m => committed.contains(m.bucket)).map(_.rows).sum
  }

  /** Per bucket (rows, digest) of a plain extract() of the input, of the
    * table, and of its manifests.
    */
  def buckets(spark: SparkSession, input: String)
      : (Map[Int, (Long, Long)], Map[Int, (Long, Long)], Map[Int, Option[(Long, Long)]]) = {
    val bucket = pmod(xxhash64(col("conv_id")), lit(NBuckets)).cast("int")
    def perBucket(df: DataFrame) = df.groupBy(bucket.as("b"))
      .agg(count(lit(1)), expr("bit_xor(xxhash64(conv_id, turn_idx, rn, text))")).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    (perBucket(ExtractPipeline.extract(spark.read.parquet(input))),
      perBucket(spark.read.parquet(table).drop("bucket")),
      (0 until NBuckets).map(b =>
        b -> TableIO.readManifest(table, b).map(m => (m.rows, m.digest))).toMap)
  }

  def check(spark: SparkSession, input: String): (Long, Long) = {
    val (expected, got, manifests) = buckets(spark, input)
    Checks.checkpointCheck(NBuckets, expected, got, manifests)
  }
}

/** `corpus`: a seeded docs table through CorpusPipeline.runCorpus. */
final class CorpusWorkload(spec: Gen.Corpus) extends Workload {
  val name = "corpus"
  // units still speed up after the warm-up; four of them put the median
  // past the first
  val minUnits = 4
  // MinHash LSH is approximate: a near-duplicate pair can escape the band screen
  override val tolerance = 0.01
  val warmUnits = 6
  val warmThreads = 2
  private var lastKept = Set.empty[Long]

  def materialize(spark: SparkSession, dir: String): String = {
    import spark.implicits._
    val sp = spec
    spark.range(0, sp.nUnits, 1, 16).as[Long].flatMap(u => sp.docsOf(u))
      .write.mode("overwrite").parquet(dir)
    dir
  }

  /** runCorpus, collecting the kept doc ids (checked by `check`). */
  def unit(spark: SparkSession, input: String, tr: Option[Tracer]): Double = {
    def run() = CorpusPipeline.runCorpus(spark.read.parquet(input))(
      _.select("doc_id").collect().map(_.getLong(0)).toSet)
    val (kept, s) = Main.secs(tr.fold(run())(_.span("pipeline.runCorpus")(run())))
    lastKept = kept
    s
  }

  /** The last unit's kept ids against the generator's ground truth. */
  def check(spark: SparkSession, input: String): (Long, Long) = {
    val want = spec.families.indices.map(f =>
      Checks.familyKeep(spec.docsOf(f.toLong).map(d => (d.doc_id, d.text)), 0.5))
    Checks.corpusCheck(want, spec.families,
      spec.singles.map(id => (id, spec.isNoise(id))), lastKept)
  }

  def kernelSample: Map[String, Seq[String]] =
    Map("plain" -> (0L until 300L).flatMap(u => spec.docsOf(spec.families.size + u))
      .map(_.text))

  /** Each public call of the runCorpus sequence, timed on its own. */
  def layerMetrics(spark: SparkSession, input: String, probe: Probe,
      tr: Tracer): (Map[String, Double], (Long, Long)) = {
    import graft.ops.{DedupOps, TextOps}
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    def timed[A](n: String)(f: => A): (A, Double) = Main.secs(tr.span(n)(f))
    val docs = spark.read.parquet(input)
    val sw0 = probe.drained(probe.shuffleWrite.get)
    val (exact, exactS) = timed("dedup.exactSurvivors") {
      val e = CorpusPipeline.exactSurvivors(docs).persist(MEMORY_AND_DISK); e.count(); e }
    val ((cands, nCands), candS) = timed("dedup.minhashCandidates") {
      val c = DedupOps.minhashCandidates(exact, 0.5, 10000).persist(MEMORY_AND_DISK)
      (c, c.count()) }
    val ((pairs, nPairs), verS) = timed("dedup.verifyJaccard") {
      val p = DedupOps.verifyJaccard(cands, exact, 0.5).select("id_a", "id_b")
        .persist(MEMORY_AND_DISK)
      (p, p.count()) }
    val j0 = probe.drained(probe.jobs.get)
    val (clusters, clS) = timed("dedup.clusterLabels")(DedupOps.clusterLabels(pairs))
    val clusterJobs = probe.drained(probe.jobs.get) - j0
    val survivors = DedupOps.dedupSurvivors(exact, clusters).persist(MEMORY_AND_DISK)
    val nSurv = survivors.count()
    val (kept, gateS) = timed("text.qualityFilter")(
      TextOps.qualityFilter(survivors, 0.8, Seq("en")).count())
    val shuffle = probe.drained(probe.shuffleWrite.get) - sw0
    Seq(exact, cands, pairs, survivors).foreach(_.unpersist(blocking = true))
    val m = Map(
      "dedup.exact_s" -> exactS, "dedup.candidates_s" -> candS,
      "dedup.verify_s" -> verS, "dedup.cluster_s" -> clS, "text.gate_s" -> gateS,
      "dedup.candidates" -> nCands.toDouble, "dedup.verified_pairs" -> nPairs.toDouble,
      "dedup.verify_yield" -> (if (nCands > 0) nPairs.toDouble / nCands else 0.0),
      "dedup.cluster_jobs" -> clusterJobs.toDouble,
      "dedup.shuffle_bytes" -> shuffle.toDouble,
      "text.gate_kept_frac" -> (if (nSurv > 0) kept.toDouble / nSurv else 0.0))
    (m, (0L, 0L))
  }
}
