package graft

import graft.data.TranscriptGen
import graft.kernel.Extractor
import graft.model.Turn
import graft.pipeline.ExtractPipeline
import org.scalatest.funsuite.AnyFunSuite

/** The north-rule acceptance test: the distributed Spark pipeline must
  * match the plain-Scala golden extractor PER TURN, exactly, under the
  * stable ordering window — the recast of RecMetric's `pred == target`
  * (pytocr/metrics/rec_metric.py:29) with a required pass rate of 100%.
  */
class GoldenEqualitySpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  /** Plain-Scala oracle: same ordering spec (sort by turn_idx, ts), same
    * kernel, zero Spark. Keyed by (conv_id, rn).
    */
  private def golden(turns: Seq[Turn]): Map[(String, Int), (String, String)] =
    turns.groupBy(_.conv_id).flatMap { case (cid, ts) =>
      ts.sortBy(t => (t.turn_idx, t.ts.getTime)).zipWithIndex.map {
        case (t, i) =>
          val r = Extractor.extract(t.text)
          (cid, i + 1) -> (r.kind, r.text)
      }
    }

  test("per-turn text equality, 100% pass rate, tiny fixture (64 convs)") {
    import spark.implicits._
    val turns = TranscriptGen.tiny(nConvs = 64, cap = 64)
    val expected = golden(turns)

    val out = ExtractPipeline.extract(
        turns.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts"))
      .select("conv_id", "rn", "kind", "text")
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) -> (r.getString(2), r.getString(3)))
      .toMap

    assert(out.size == expected.size, "row count mismatch")
    val mismatches = expected.collect {
      case (k, v) if out.get(k) != Some(v) =>
        s"$k expected=$v got=${out.get(k)}"
    }
    assert(mismatches.isEmpty,
      s"${mismatches.size} per-turn mismatches; first: ${mismatches.headOption}")
  }

  test("every variant: per-turn equality against its own golden, all diverge from A") {
    import spark.implicits._
    val turns = TranscriptGen.tiny(nConvs = 24, cap = 24)
    val goldenA = golden(turns).map { case (k, (_, txt)) => k -> txt }
    val variants = graft.kernel.ExtractParams.Variants
    assert(variants.size >= 3, "N-variant map must carry at least 3 entries")
    (1 until variants.size).foreach { v =>
      val goldenV = turns.groupBy(_.conv_id).flatMap { case (cid, ts) =>
        ts.sortBy(t => (t.turn_idx, t.ts.getTime)).zipWithIndex.map {
          case (t, i) =>
            val r = Extractor.extract(t.text, variants(v))
            (cid, i + 1) -> r.text
        }
      }
      val outV = ExtractPipeline.extractVariant(
          turns.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts"), v)
        .select("conv_id", "rn", "text")
        .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getString(2))
        .toMap
      assert(outV == goldenV, s"variant $v pipeline != variant $v golden")
      assert(goldenA != goldenV.toMap,
        s"variant $v must actually diverge from the default on this fixture")
    }
  }

  test("input row order invariance: shuffled input -> identical output") {
    import spark.implicits._
    val turns = TranscriptGen.tiny(nConvs = 16, cap = 32)
    // deterministic scramble of input order
    val scrambled = turns.sortBy(t => TranscriptGen.h(
      t.conv_id.hashCode.toLong, t.turn_idx.toLong, t.ts.getTime))
    def run(ts: Seq[Turn]) = ExtractPipeline.extract(
        ts.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts"))
      .select("conv_id", "rn", "text")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(run(turns) == run(scrambled))
  }

  test("salting invariance: convDocs salted == unsalted, byte-equal") {
    import spark.implicits._
    val turns = TranscriptGen.tiny(nConvs = 24, cap = 48)
    val extracted = ExtractPipeline.extract(
      turns.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts"))
    val salted = ExtractPipeline.convDocs(extracted, nSalts = 7)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .sortBy(_._1).toSeq
    val unsalted = ExtractPipeline.convDocsUnsalted(extracted)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .sortBy(_._1).toSeq
    assert(salted == unsalted)
  }

  // NOTE: span envelopes are disjoint for html/json (frontier rule) but may
  // interleave for pdf payloads — source order is scrambled there by design,
  // so only range validity is asserted across kinds.
  test("blocks explode: spans stay inside the raw payload") {
    import spark.implicits._
    val turns = TranscriptGen.tiny(nConvs = 8, cap = 16)
    val raw = turns.map(t => ((t.conv_id, t.turn_idx, t.ts.getTime), t.text)).toMap
    val extracted = ExtractPipeline.extract(
      turns.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts"))
    // span validity per turn against golden source lengths
    val perTurn = extracted.select("conv_id", "turn_idx", "spans").collect()
    perTurn.foreach { r =>
      val cid = r.getString(0); val ti = r.getInt(1)
      val lens = raw.collect { case ((c, t, _), txt) if c == cid && t == ti => txt.length }
      val maxLen = lens.max
      val spans = r.getSeq[org.apache.spark.sql.Row](2)
      spans.foreach { s =>
        val st = s.getInt(0); val en = s.getInt(1)
        assert(st >= 0 && st <= en && en <= maxLen, s"span out of range $cid/$ti")
      }
    }
  }

  test("blocks are built only when read: extract() builds none, extractWithBlocks each once") {
    import spark.implicits._
    val turns = TranscriptGen.tiny(nConvs = 8, cap = 16)
    // an RDD-backed frame, as a scan is: over a local Seq, Catalyst would
    // evaluate (and copy) the whole struct on the driver
    val df = spark.sparkContext.parallelize(turns, 4)
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val builds = graft.expr.ExtractTurnKernel.blockBuilds
    builds.reset()
    assert(ExtractPipeline.extract(df).collect().length == turns.size)
    assert(builds.sum == 0, s"extract() built ${builds.sum} block arrays")
    // the exchange-free rank's local sort must not copy the struct either
    val dir = java.nio.file.Files.createTempDirectory("graft_blocks").toString
    df.repartitionByRange(2, $"conv_id").write.mode("overwrite").parquet(dir)
    assert(graft.io.ParquetLayout.rowGroupClustered(spark.read.parquet(dir), "conv_id"))
    builds.reset()
    assert(ExtractPipeline.extract(spark.read.parquet(dir)).collect().length == turns.size)
    assert(builds.sum == 0, s"exchange-free extract() built ${builds.sum} block arrays")

    builds.reset()
    val withBlocks = ExtractPipeline.extractWithBlocks(df)
      .select("conv_id", "turn_idx", "blocks").collect()
    assert(builds.sum == turns.size)
    // the built blocks are the kernel's, field for field
    val kernelBlocks = turns.groupBy(t => (t.conv_id, t.turn_idx)).map { case (k, ts) =>
      k -> ts.map(t => Extractor.extract(t.text).blocks.toSeq.map(b =>
        (b.span.start, b.span.end, b.span.kind, b.btype, b.score, b.text))).toSet
    }
    withBlocks.foreach { r =>
      val got = r.getSeq[org.apache.spark.sql.Row](2).map { b =>
        val sp = b.getStruct(0)
        (sp.getInt(0), sp.getInt(1), sp.getString(2), b.getString(1), b.getDouble(2),
          b.getString(3))
      }
      assert(kernelBlocks((r.getString(0), r.getInt(1))).contains(got))
    }
  }

  test("driver contract: SparkEntry.entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("sql surface: extract_turn registered and usable from spark.sql") {
    import spark.implicits._
    TranscriptGen.tiny(nConvs = 2, cap = 8)
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
      .createOrReplaceTempView("turns_sql_test")
    val n = spark.sql(
      "SELECT extract_turn(text).text AS t FROM turns_sql_test WHERE extract_turn(text).kind = 'html'"
    ).count()
    assert(n > 0)
  }
}
