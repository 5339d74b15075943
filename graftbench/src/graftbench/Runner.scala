package graftbench

import graftbench.Main._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Runs one workload: set-up, warm-up, the measured units at local[4]
  * and the output check; with tracing, one more unit under the listener,
  * the per-layer sub-passes and one unit at local[1].
  */
final class Runner(a: Args, w: Workload) {

  final case class Out(info: String, result: String)

  private val info = mutable.LinkedHashMap.empty[String, String]
  private def spin(): String =
    s"""{"mops":${num(graft.Bench.spinProbeMops(50000000L))},""" +
      s""""par4_mops":${num(graft.Bench.parallelSpinMops(4))}}"""

  /** Units until `budget` seconds have passed, at least `min` of them. */
  private def units(spark: SparkSession, input: String, budget: Double,
      min: Int): Seq[Double] = {
    val t0 = System.nanoTime()
    val out = mutable.ArrayBuffer.empty[Double]
    while (out.size < min || (System.nanoTime() - t0) / 1e9 < budget)
      out += w.unit(spark, input, None)
    out.toSeq
  }

  /** `n` warm-up units, `threads` at a time. A corpus unit is mostly
    * single-threaded planning, so concurrent units bring the JIT to its
    * steady state in less wall time.
    */
  private def warmUp(spark: SparkSession, input: String, n: Int,
      threads: Int): Seq[Double] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val fs = (1 to n).map(_ => pool.submit(new java.util.concurrent.Callable[Double] {
        def call(): Double = w.unit(spark, input, None)
      }))
      fs.map(_.get())
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, java.util.concurrent.TimeUnit.HOURS)
    }
  }

  def run(): Out = {
    info("workload") = s""""${w.name}""""
    info("seed") = a.seed.toString
    info("spin_before") = spin()

    // set-up: session start, three materializations of the input (median)
    // and the warm-up units, run on the first of them
    val (spark4, sessionS) = secs(session(4, a.work))
    var spark = spark4
    val inputs = (1 to 3).map(k => s"${a.work}/input-$k")
    val mat1 = secs(w.materialize(spark, inputs(0)))._2
    val (warm, warmS) = secs(warmUp(spark, inputs(0), w.warmUnits, w.warmThreads))
    val mats = mat1 +: inputs.tail.map(in => secs(w.materialize(spark, in))._2)
    inputs.init.foreach(rm)
    val input = inputs.last
    val rows = spark.read.parquet(input).count()
    val setupS = sessionS + medianOf(mats) + warmS
    info("rows") = rows.toString
    info("input_bytes") = dataBytes(input).toString
    info("setup_parts_s") =
      s"""{"session":${num(sessionS)},"materialize":[${mats.map(num).mkString(",")}],"warmup":${num(warmS)}}"""
    info("warm_s") = warm.map(num).mkString("[", ",", "]")

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val (attempted, failed) =
      if (!a.trace) {
        val st0 = Runner.cpuTicks()
        val u4 = units(spark, input, a.seconds, w.minUnits)
        info("steal_frac") = num(Runner.stealFrac(st0, Runner.cpuTicks()))
        val chk = w.check(spark, input)
        val wall4 = medianOf(u4)
        info("wall4_s") = u4.map(num).mkString("[", ",", "]")
        metrics("setup_s") = (setupS, "s")
        metrics("rows_per_s") = (rows / wall4, "rows/s")
        metrics("pass_frac") = (1.0 - chk._2.toDouble / chk._1, "ratio")
        chk
      } else {
        val base = medianOf(units(spark, input, a.seconds * 0.5, 1))
        val probe = Probe.attach(spark)
        val tr = new Tracer(s"${w.name}-${a.seed}-${System.currentTimeMillis()}")
        val wallT = tr.span("measure")(w.unit(spark, input, Some(tr)))
        val counters = probe.counters
        val chk = w.check(spark, input)
        metrics ++= generic(probe, tr, counters)
        metrics("trace.overhead_s") = (wallT - base, "s")
        val (layer, layerChk) = w.layerMetrics(spark, input, probe, tr)
        layer.foreach { case (k, v) => metrics(k) = (v, unitOf(k)) }
        metrics ++= subPasses(spark, input, tr)
        val spans = tr.allSpans(probe)
        val path = a.spans.getOrElse(s"${a.work}/spans.json")
        new java.io.File(path).getParentFile.mkdirs()
        java.nio.file.Files.writeString(java.nio.file.Paths.get(path), tr.toJson(spans))
        info("spans") = s""""${Json.esc(path)}""""
        probe.detach()
        // the same unit at local[1]: N -> 4N efficiency with N = 1
        spark.stop()
        spark = session(1, a.work)
        val wall1 = w.unit(spark, input, None)
        metrics("pipeline.scaling_eff_1_4") = (wall1 / (4 * base), "ratio")
        val named = Runner.PerLayer.map { case (k, u) => k -> metrics.getOrElse(k, (0.0, u)) }
        metrics.clear(); metrics ++= named
        (chk._1 + layerChk._1, chk._2 + layerChk._2)
      }
    spark.stop()
    if (!a.trace) metrics("peak_rss_mb") = (peakRssMb, "MB")
    info("attempted") = attempted.toString
    info("failed") = failed.toString
    info("spin_after") = spin()

    val correct = failed <= attempted * w.tolerance
    val ms = metrics.map { case (k, (v, u)) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
    Out(info.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"),
      s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{${ms.mkString(",")}}}""")
  }

  /** Stage, job and counter metrics of the traced unit. */
  private def generic(probe: Probe, tr: Tracer, c: Map[String, Long]): Seq[(String, (Double, String))] = {
    val spans = tr.allSpans(probe)
    val root = spans.find(s => s.kind == "layer" && s.name == "measure").get
    val st = probe.stagesIn(root)
    def dur(s: StageRec) = (s.endMs - s.submitMs) / 1000.0
    val post = st.filter(s => s.shuffleRead > 0 && s.shuffleWrite == 0)
    val skew = post.sortBy(s => -(s.endMs - s.submitMs)).headOption.map { s =>
      val t = s.taskMs.sorted
      if (t.isEmpty) 0.0 else t.last.toDouble / math.max(1L, t(t.size / 2))
    }.getOrElse(0.0)
    val layers = spans.filter(s => s.kind == "layer" && (s.id == root.id || s.parent == root.id))
    val driverSelf = layers.map(s => tr.selfUs(s, spans)).sum / 1e6
    val jobs = tr.within(root, spans, "job")
    val stageSpans = tr.within(root, spans, "stage")
    val cover = (root.durUs - Span.selfUs(root, stageSpans)).toDouble / math.max(1L, root.durUs)
    Seq(
      "pipeline.map_stage_s" -> (st.filter(_.shuffleWrite > 0).map(dur).sum, "s"),
      "pipeline.window_stage_s" -> (post.map(dur).sum, "s"),
      "pipeline.shuffle_write_bytes" -> (c("shuffle_write").toDouble, "bytes"),
      "pipeline.shuffle_read_bytes" -> (c("shuffle_read").toDouble, "bytes"),
      "pipeline.spill_bytes" -> (c("spill").toDouble, "bytes"),
      "pipeline.exchanges" -> (c("exchanges").toDouble, "count"),
      "pipeline.jobs" -> (c("jobs").toDouble, "count"),
      "pipeline.stages" -> (c("stages").toDouble, "count"),
      "pipeline.task_skew" -> (skew, "ratio"),
      "pipeline.task_wait_s" -> (c("task_wait_ms") / 1000.0, "s"),
      "pipeline.gc_s" -> (c("gc_ms") / 1000.0, "s"),
      "trace.driver_self_s" -> (driverSelf, "s"),
      "trace.job_self_s" -> (jobs.map(j => tr.selfUs(j, spans)).sum / 1e6, "s"),
      "trace.stage_cover_frac" -> (cover, "ratio"))
  }

  /** Scan-only pass, map-side extract pass and the kernel sample. */
  private def subPasses(spark: SparkSession, input: String, tr: Tracer): Seq[(String, (Double, String))] = {
    val scan = medianOf((1 to 3).map(_ => secs(tr.span("io.scan")(
      spark.read.parquet(input).agg(sum(length(col("text")))).collect()))._2))
    val mapX = medianOf((1 to 3).map(_ => secs(tr.span("expr.map_extract")(forceAll(
      spark.read.parquet(input).select(
        graft.expr.Functions.extract_turn(col("text")).getField("text")))))._2))
    val sample = w.kernelSample
    val kernel = tr.span("kernel.sample") {
      val ex = Gen.Kinds.map { k =>
        s"kernel.extract_ns.$k" -> sample.get(k).map(ts =>
          Runner.nsPer(ts)(t => graft.kernel.Extractor.extract(t).text.length)).getOrElse(0.0)
      }
      val mh = Runner.nsPer(sample.values.flatten.toSeq.take(400))(t =>
        graft.kernel.TextHash.minhashSig(t).length)
      ex :+ ("kernel.minhash_ns" -> mh)
    }
    Seq("io.scan_s" -> (scan, "s"), "expr.map_extract_s" -> (mapX, "s")) ++
      kernel.map { case (k, v) => k -> (v, "ns") }
  }

  private def unitOf(k: String): String =
    Runner.PerLayer.find(_._1 == k).map(_._2).getOrElse("count")
}

object Runner {
  /** Every per-layer metric, in print order, with its unit. */
  val PerLayer: Seq[(String, String)] =
    Gen.Kinds.map(k => s"kernel.extract_ns.$k" -> "ns") ++ Seq(
      "kernel.minhash_ns" -> "ns",
      "io.scan_s" -> "s", "io.input_bytes_read" -> "bytes",
      "io.bytes_written" -> "bytes", "io.files_written" -> "count",
      "io.write_stage_s" -> "s", "io.stats_job_s" -> "s",
      "io.completed_buckets_ms" -> "ms", "io.redo_turns" -> "turns",
      "io.resume_s" -> "s", "io.checkpoint_turns_per_s" -> "turns/s",
      "expr.map_extract_s" -> "s",
      "pipeline.map_stage_s" -> "s", "pipeline.window_stage_s" -> "s",
      "pipeline.shuffle_write_bytes" -> "bytes", "pipeline.shuffle_read_bytes" -> "bytes",
      "pipeline.spill_bytes" -> "bytes", "pipeline.exchanges" -> "count",
      "pipeline.jobs" -> "count", "pipeline.stages" -> "count",
      "pipeline.task_skew" -> "ratio", "pipeline.task_wait_s" -> "s",
      "pipeline.gc_s" -> "s", "pipeline.scaling_eff_1_4" -> "ratio",
      "dedup.exact_s" -> "s", "dedup.candidates_s" -> "s", "dedup.verify_s" -> "s",
      "dedup.cluster_s" -> "s", "text.gate_s" -> "s",
      "dedup.candidates" -> "count", "dedup.verified_pairs" -> "count",
      "dedup.verify_yield" -> "ratio", "dedup.cluster_jobs" -> "count",
      "dedup.shuffle_bytes" -> "bytes", "text.gate_kept_frac" -> "ratio",
      "trace.overhead_s" -> "s", "trace.driver_self_s" -> "s",
      "trace.job_self_s" -> "s", "trace.stage_cover_frac" -> "ratio")

  /** Host CPU ticks from /proc/stat: (steal, total). */
  def cpuTicks(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val t = f.getLines().next().split("\\s+").drop(1).map(_.toLong)
      (if (t.length > 7) t(7) else 0L, t.sum)
    } finally f.close()
  }

  /** Share of host CPU time stolen by other tenants between two samples. */
  def stealFrac(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) (b._1 - a._1).toDouble / (b._2 - a._2) else 0.0

  /** Median ns per item of `f` over `xs`, single-threaded, after a warm-up. */
  def nsPer(xs: Seq[String])(f: String => Int): Double = {
    var sink = 0L
    (1 to 3).foreach(_ => xs.foreach(x => sink += f(x)))
    val reps = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      xs.foreach(x => sink += f(x))
      (System.nanoTime() - t0).toDouble / xs.size
    }
    if (sink == 42L) System.err.print("")
    Main.medianOf(reps)
  }
}
