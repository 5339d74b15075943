package graft.streaming

import graft.expr.Functions
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Streaming flavor of the extraction pipeline. The reference is
  * batch-only (bounded epochs, SURVEY.md §2.8), so batch is primary; this
  * module exists because a transcript table at 10^12-turn scale is
  * usually APPENDED continuously — the same per-turn kernel runs
  * unchanged under Structured Streaming, with per-source-file ordering
  * instead of the global window (row_number over an unbounded stream is
  * undefined; stable global rn remains the batch job's contract).
  *
  * It holds three things, each mirroring a batch step: per-turn
  * extraction (`extractStream`, batch `extract`), watermarked windowed
  * stats (`windowedStats`), and per-conversation session assembly
  * (`convSessions`, batch `convDocs`). Near-dup dedup is batch-only.
  */
object StreamExtract {

  val turnSchema: StructType = StructType(Seq(
    StructField("conv_id", StringType),
    StructField("turn_idx", IntegerType),
    StructField("role", StringType),
    StructField("text", StringType),
    StructField("tool", StringType),
    StructField("ts", TimestampType)))

  /** File-source stream -> per-turn extraction (same expression as batch). */
  def extractStream(spark: SparkSession, inputDir: String): DataFrame =
    spark.readStream
      .schema(turnSchema)
      .parquet(inputDir)
      .select(
        col("conv_id"), col("turn_idx"), col("ts"),
        Functions.extract_turn(col("text")).as("ex"))
      .select(col("conv_id"), col("turn_idx"), col("ts"),
        col("ex.kind").as("kind"),
        col("ex.text").as("text"),
        col("ex.spans").as("spans"))

  /** Watermarked windowed aggregation over the extracted stream:
    * turns + extracted chars per (10 min event-time window, kind).
    */
  def windowedStats(extracted: DataFrame): DataFrame =
    extracted
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("kind"))
      .agg(count(lit(1)).as("turns"),
        sum(length(col("text"))).as("chars"))

  // --- custom state: streaming conversation-session assembly ------------

  final case class TurnEvent(conv_id: String, turn_idx: Int,
      ts: java.sql.Timestamp, text: String)
  final case class ConvBuffer(turns: List[(Int, Long, String)],
      lastTsMs: Long)
  final case class ConvDoc(conv_id: String, n_turns: Long, doc: String)

  /** Per-conversation session assembly with flatMapGroupsWithState: turns
    * buffer in keyed state until the event-time watermark passes the
    * conversation's last activity + `gapMs` (session gap), then the
    * assembled document is emitted — the streaming flavor of
    * ExtractPipeline.convDocs with the SAME assembly spec (order by
    * (turn_idx, ts), drop empty texts, join with blank lines).
    *
    * Scale notes: state per key is bounded by the conversation cap
    * (same contract as the batch window); on a real cluster this runs on
    * the RocksDB state store so total state is disk-backed, and the
    * shuffle is the same hash-by-conv_id exchange the batch job does on
    * its exchange path.
    */
  def convSessions(spark: SparkSession, extracted: DataFrame,
      gapMs: Long = 30L * 60 * 1000): Dataset[ConvDoc] = {
    import spark.implicits._
    def assemble(convId: String, buf: ConvBuffer): ConvDoc = {
      val ordered = buf.turns.sortBy { case (ti, tsMs, _) => (ti, tsMs) }
      val doc = ordered.map(_._3).filter(_.nonEmpty).mkString("\n\n")
      ConvDoc(convId, buf.turns.length.toLong, doc)
    }
    extracted
      .select(col("conv_id"), col("turn_idx"), col("ts"), col("text"))
      .withWatermark("ts", "1 minute")
      .as[TurnEvent]
      .groupByKey(_.conv_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (convId: String, events: Iterator[TurnEvent],
            state: GroupState[ConvBuffer]) => {
          if (state.hasTimedOut) {
            val out = state.getOption.map(assemble(convId, _))
            state.remove()
            out.iterator
          } else {
            val prev = state.getOption.getOrElse(ConvBuffer(Nil, 0L))
            val add = events.map(e =>
              (e.turn_idx, e.ts.getTime, e.text)).toList
            val lastTs =
              if (add.isEmpty) prev.lastTsMs
              else math.max(prev.lastTsMs, add.map(_._2).max)
            val next = ConvBuffer(prev.turns ++ add, lastTs)
            state.update(next)
            // emit when the watermark passes last activity + session gap;
            // the timeout must sit strictly beyond the current watermark
            // (late-but-allowed data could otherwise set a past timestamp)
            state.setTimeoutTimestamp(math.max(next.lastTsMs + gapMs,
              state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
        })
  }
}
