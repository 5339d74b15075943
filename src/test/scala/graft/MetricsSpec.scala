package graft

import graft.data.TranscriptGen
import graft.metrics.Quality
import graft.pipeline.ExtractPipeline
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Quality metric aggregators — RecMetric / DetMetric / TrainingStats
  * recast (SURVEY.md §2.7).
  */
class MetricsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def extracted = {
    import spark.implicits._
    ExtractPipeline.extract(
      TranscriptGen.tiny(nConvs = 16, cap = 24)
        .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts"))
  }

  test("equality report: self-comparison is exact (acc=1, sim=1)") {
    val e = extracted.cache()
    val r = Quality.equalityReport(e, e).collect()(0)
    assert(r.getAs[Double]("acc") == 1.0)
    assert(r.getAs[Long]("n_exact") == r.getAs[Long]("n"))
    assert(math.abs(r.getAs[Double]("norm_edit_sim") - 1.0) < 1e-12)
  }

  test("equality report: a corrupted row drops accuracy below 1") {
    val e = extracted.cache()
    val bad = e.withColumn("text",
      when(col("rn") === 1, concat(col("text"), lit("CORRUPT")))
        .otherwise(col("text")))
    val r = Quality.equalityReport(bad, e).collect()(0)
    assert(r.getAs[Double]("acc") < 1.0)
    assert(r.getAs[Double]("norm_edit_sim") < 1.0)
    assert(r.getAs[Double]("norm_edit_sim") > 0.5)
  }

  test("span overlap report: self-comparison has hmean 1") {
    val e = extracted.cache()
    val r = Quality.spanOverlapReport(e, e).collect()(0)
    assert(r.getAs[Double]("precision") == 1.0)
    assert(r.getAs[Double]("recall") == 1.0)
    assert(r.getAs[Double]("hmean") == 1.0)
  }

  test("span overlap: the reference's inline self-test recast " +
      "(eval_det_iou.py:205-225 — one GT vs one detection)") {
    import spark.implicits._
    // GT span [0,100); prediction [10,90) -> 1-D IoU 80/100 > 0.5: match
    val gold = Seq(("c", 1, Seq((0, 100, "main")))).toDF("conv_id", "rn", "raw")
      .select(col("conv_id"), col("rn"),
        transform(col("raw"), s => struct(s.getField("_1").as("start"),
          s.getField("_2").as("end"), s.getField("_3").as("kind"))).as("spans"))
    val pred = Seq(("c", 1, Seq((10, 90, "main")))).toDF("conv_id", "rn", "raw")
      .select(col("conv_id"), col("rn"),
        transform(col("raw"), s => struct(s.getField("_1").as("start"),
          s.getField("_2").as("end"), s.getField("_3").as("kind"))).as("spans"))
    val r = Quality.spanOverlapReport(pred, gold).collect()(0)
    assert(r.getAs[Long]("matched") == 1L)
    // disjoint spans -> no match
    val predFar = Seq(("c", 1, Seq((200, 300, "main")))).toDF("conv_id", "rn", "raw")
      .select(col("conv_id"), col("rn"),
        transform(col("raw"), s => struct(s.getField("_1").as("start"),
          s.getField("_2").as("end"), s.getField("_3").as("kind"))).as("spans"))
    val r2 = Quality.spanOverlapReport(predFar, gold).collect()(0)
    assert(r2.getAs[Long]("matched") == 0L)
  }

  test("span overlap report: partials of 3 partitions merge to P/R/hmean") {
    import spark.implicits._
    // the combine_results partial-update/final-merge contract
    // (eval_det_iou.py:178-202) over hand-built partials:
    // one turn per partition; per turn (matched, pred, gold) is (1, 2, 2),
    // (2, 2, 3) and (0, 0, 1): matched 3, pred 4, gold 6 in all
    def spans(rows: Seq[(String, Seq[(Int, Int)])]) =
      spark.sparkContext.parallelize(rows, rows.size).toDF("conv_id", "raw")
        .select(col("conv_id"), lit(1).as("rn"),
          transform(col("raw"), s => struct(s.getField("_1").as("start"),
            s.getField("_2").as("end"))).as("spans"))
    val pred = spans(Seq(
      "a" -> Seq((0, 100), (500, 600)),
      "b" -> Seq((0, 100), (200, 300)),
      "c" -> Seq.empty))
    val gold = spans(Seq(
      "a" -> Seq((0, 100), (200, 300)),
      "b" -> Seq((0, 100), (200, 300), (400, 500)),
      "c" -> Seq((0, 10))))
    assert(pred.rdd.getNumPartitions >= 2 && gold.rdd.getNumPartitions >= 2)
    val r = Quality.spanOverlapReport(pred, gold).collect()(0)
    assert(r.getAs[Long]("matched") == 3L)
    assert(r.getAs[Long]("n_pred") == 4L && r.getAs[Long]("n_gold") == 6L)
    assert(r.getAs[Double]("precision") == 0.75)
    assert(r.getAs[Double]("recall") == 0.5)
    assert(math.abs(r.getAs[Double]("hmean") - 0.6) < 1e-12)
  }

  test("smoothed median (TrainingStats recast): constant series unchanged") {
    import spark.implicits._
    val df = (1 to 50).map(i => (i, 10.0)).toDF("step", "v")
    val sm = Quality.smoothedMedian(df, "step", "v", window = 5).collect()
    assert(sm.forall(_.getAs[Double]("v_median") == 10.0))
  }

  test("throughput listener captures stage stats with skew ratio (ips/fps recast)") {
    val listener = graft.metrics.ThroughputListener.attach(spark)
    try {
      extracted.count()
      // the listener bus is async: drain it so every stage event of the
      // count has landed before the snapshot and toDF read the tally
      org.apache.spark.TestListenerBus.drain(spark.sparkContext)
      val stats = listener.snapshot
      assert(stats.nonEmpty, "no stages observed")
      val df = listener.toDF(spark)
      assert(df.columns.contains("rowsPerSec") && df.columns.contains("skewRatio"))
      assert(df.count() == stats.length)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
    }
  }
}
