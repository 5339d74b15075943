package graft

import graft.data.TranscriptGen
import graft.streaming.StreamExtract
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Streaming extraction: the same kernel under Structured Streaming,
  * driven synchronously over a parquet drop directory.
  */
class StreamingSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("stream extraction matches batch extraction on the same files") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_stream").toString
    TranscriptGen.tiny(nConvs = 16, cap = 16)
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
      .write.mode("overwrite").parquet(dir)

    val q = StreamExtract.extractStream(spark, dir)
      .writeStream.format("memory").queryName("stream_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql(
          "SELECT conv_id, turn_idx, kind, text FROM stream_out")
        .collect()
        .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3)))
        .toSet
      val batch = spark.read.parquet(dir)
        .select($"conv_id", $"turn_idx",
          graft.expr.Functions.extract_turn($"text").as("ex"))
        .select($"conv_id", $"turn_idx", $"ex.kind", $"ex.text")
        .collect()
        .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3)))
        .toSet
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("flatMapGroupsWithState session assembly matches batch convDocs") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_stream_state").toString
    val turns = TranscriptGen.tiny(nConvs = 8, cap = 8)
    turns.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
      .write.mode("append").parquet(dir)

    val q = StreamExtract.convSessions(spark,
        StreamExtract.extractStream(spark, dir), gapMs = 60000L)
      .toDF()
      .writeStream.format("memory").queryName("stream_sessions")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // push the event-time watermark far past every session gap with
      // sentinel conversations, twice (timeouts fire on the trigger
      // AFTER the watermark advances)
      val far = new java.sql.Timestamp(
        TranscriptGen.BaseEpochMs + 30L * 24 * 3600 * 1000)
      for (i <- 1 to 2) {
        Seq(("conv-sentinel", i, "user", "ping", null: String,
            new java.sql.Timestamp(far.getTime + i * 60000L)))
          .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
          .write.mode("append").parquet(dir)
        q.processAllAvailable()
      }
      val streamed = spark.sql(
          "SELECT conv_id, n_turns, doc FROM stream_sessions")
        .filter($"conv_id" =!= "conv-sentinel")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
        .toSet
      val batch = graft.pipeline.ExtractPipeline.convDocsUnsalted(
          graft.pipeline.ExtractPipeline.extract(
            turns.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
        .toSet
      assert(streamed == batch,
        s"streamed ${streamed.size} sessions vs batch ${batch.size}")
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("watermarked windowed aggregation produces per-kind counts") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_stream_agg").toString
    TranscriptGen.tiny(nConvs = 8, cap = 16)
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
      .write.mode("overwrite").parquet(dir)
    val q = StreamExtract.windowedStats(
        StreamExtract.extractStream(spark, dir))
      .writeStream.format("memory").queryName("stream_stats")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val stats = spark.sql("SELECT kind, sum(turns) AS t FROM stream_stats GROUP BY kind")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val batchTotal = spark.read.parquet(dir).count()
      assert(stats.values.sum == batchTotal)
      assert(stats.keySet.contains("html"))
    } finally q.stop()
  }
}
