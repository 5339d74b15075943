package graft

import graft.data.TranscriptGen
import graft.io.{CacheScope, ParquetLayout}
import graft.pipeline.ExtractPipeline
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The three physical rank paths of ExtractPipeline: exchange-free when
  * the Parquet footers prove each conversation sits in one row group,
  * hash exchange + window otherwise, and the distributed rank (range
  * exchange + conv_rank + per-partition offsets). Same rows and schema on
  * all three, over seeded layouts on each side of the check.
  */
class RankPathSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private val cols = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts")

  /** Seeded transcripts; `retries` adds that many retry rows per turn
    * (same turn_idx, later ts, another payload).
    */
  private def turns(seed: Int, retries: Int): DataFrame = {
    import spark.implicits._
    val base = TranscriptGen.tiny(nConvs = 12 + seed % 5, cap = 24 + 8 * (seed % 3))
    val rows = base.flatMap { t =>
      t +: (1 to retries).map(k => t.copy(
        ts = new java.sql.Timestamp(t.ts.getTime + 1000L * k),
        text = base((t.turn_idx * 7 + k + seed) % base.size).text))
    }
    rows.toDF(cols: _*)
  }

  /** Rows in a seeded order within each file, so the local sort matters. */
  private def shuffled(df: DataFrame, seed: Int): DataFrame =
    df.sortWithinPartitions(xxhash64(col("conv_id"), col("turn_idx"), col("ts"), lit(seed)))

  private def write(df: DataFrame, options: (String, String)*): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_rankpath").toString
    df.write.mode("overwrite").options(options.toMap).parquet(dir)
    dir
  }

  /** Executed-plan shuffle exchanges, after running `df`. */
  private def exchanges(df: DataFrame): Int = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    nodes(df.queryExecution.executedPlan).count(_.isInstanceOf[ShuffleExchangeExec])
  }

  /** Sorted rows, via the frame's own collect (so its plan has run). */
  private def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** The distributed rank, int and long, has extract()'s and extractLong()'s
    * schema and rows over `input`, against the same rows from `reference`.
    */
  private def assertDistributed(input: DataFrame, reference: DataFrame, nPart: Int,
      clue: String): Unit = CacheScope {
    Seq(
      (ExtractPipeline.extractDistributedRank _, ExtractPipeline.extract _),
      (ExtractPipeline.extractDistributedRankLong _, ExtractPipeline.extractLong _))
      .foreach { case (dist, single) =>
        val (got, want) = (dist(input, nPart), single(reference))
        assert(got.schema == want.schema, clue)
        assert(rowsOf(got) == rowsOf(want), clue)
      }
  }

  test("exchange-free rank == window rank over four Parquet layouts, 0 exchanges only where proven") {
    for (seed <- 1 to 3) {
      val src = turns(seed, retries = 0)
      val heavy = turns(seed, retries = 3)
      val layouts = Seq(
        // whole conversations in disjoint conv_id ranges, one file each
        ("clustered", shuffled(src.repartitionByRange(3, col("conv_id")), seed), true),
        // conversations split across files
        ("straddling", shuffled(src.repartitionByRange(5, col("conv_id"), col("turn_idx")), seed), false),
        // whole conversations, but every file spans the others' conv_id ranges
        ("interleaved", shuffled(src.repartition(3, col("conv_id")), seed), false),
        // clustered, with several retry rows per turn
        ("retry-heavy", shuffled(heavy.repartitionByRange(3, col("conv_id")), seed), true))
      layouts.foreach { case (name, layout, proven) =>
        val input = spark.read.parquet(write(layout))
        // the same rows from an RDD-backed frame always take the exchange
        val reference = spark.createDataFrame(input.rdd, input.schema)
        assert(ParquetLayout.rowGroupClustered(input, "conv_id") == proven, s"$name/$seed")
        assert(!ParquetLayout.rowGroupClustered(reference, "conv_id"), s"$name/$seed")
        Seq[DataFrame => DataFrame](ExtractPipeline.extract, ExtractPipeline.extractWithBlocks)
          .foreach { f =>
            val (got, want) = (f(input), f(reference))
            assert(got.schema == want.schema, s"$name/$seed")
            assert(rowsOf(got) == rowsOf(want), s"$name/$seed")
            assert(exchanges(got) == (if (proven) 0 else 1), s"$name/$seed:\n" +
              got.queryExecution.executedPlan)
            assert(exchanges(want) == 1, s"$name/$seed")
          }
        assertDistributed(input, reference, nPart = 5, s"distributed $name/$seed")
      }
    }
    // more range partitions asked for than there are rows
    val input = spark.read.parquet(write(turns(1, retries = 0).repartitionByRange(3, col("conv_id"))))
    assertDistributed(input, spark.createDataFrame(input.rdd, input.schema),
      nPart = input.count().toInt + 7, "nPart > rows")
  }

  test("distributed rank: a null conv_id run wider than a range partition is one conversation") {
    // 200 null-conv_id turns span several of the 4 range partitions; one
    // turn of the other conversation has null text
    val schema = StructType(Seq(StructField("conv_id", StringType), StructField("turn_idx", IntegerType),
      StructField("role", StringType), StructField("text", StringType),
      StructField("tool", StringType), StructField("ts", TimestampType)))
    def turn(conv: String, i: Int, text: String) =
      Row(conv, i, "user", text, null, new java.sql.Timestamp(1000L * i))
    val rows = (0 until 200).map(i => turn(null, i, s"<p>null run $i</p>")) ++
      (0 until 20).map(i => turn("conv-a", i, if (i == 7) null else s"plain turn $i"))
    val input = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
    val window = ExtractPipeline.extract(input)
    assert(window.filter(col("conv_id").isNull).agg(max("rn")).head().getInt(0) == 200)
    assertDistributed(input, input, nPart = 4, "null conv_id")
  }

  test("layout check: Project/Filter keep the proof; computed keys, unions, caches and stats-free files do not") {
    val frame = turns(4, retries = 0).repartitionByRange(3, col("conv_id"))
    val df = spark.read.parquet(write(frame))
    assert(ParquetLayout.rowGroupClustered(df, "conv_id"))
    assert(ParquetLayout.rowGroupClustered(
      df.filter(col("turn_idx") > 2).withColumn("x", lit(1)), "conv_id"))
    assert(ParquetLayout.rowGroupClustered(
      df.withColumnRenamed("conv_id", "c").withColumnRenamed("c", "conv_id"), "conv_id"))
    assert(!ParquetLayout.rowGroupClustered(df.withColumn("conv_id", upper(col("conv_id"))), "conv_id"))
    assert(!ParquetLayout.rowGroupClustered(df.union(df), "conv_id"))
    assert(!ParquetLayout.rowGroupClustered(df.repartition(2), "conv_id"))
    CacheScope { assert(!ParquetLayout.rowGroupClustered(CacheScope.cache(df), "conv_id")) }
    val noStats = spark.read.parquet(write(frame, "parquet.column.statistics.enabled" -> "false"))
    assert(!ParquetLayout.rowGroupClustered(noStats, "conv_id"))
    // one file of ~100-row row groups: some conversation straddles two
    val smallGroups = spark.read.parquet(write(frame.coalesce(1), "parquet.block.size" -> "1024"))
    assert(smallGroups.inputFiles.length == 1)
    assert(!ParquetLayout.rowGroupClustered(smallGroups, "conv_id"))
  }
}
