package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bench harness contracts: query-failure capture and the clean-window
  * classification (the driver artifact must be self-diagnosing).
  */
class BenchSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("runQueries captures a broken query's class + message, not a bare -1") {
    val qs: Map[String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame] = Map(
      "ok_query" -> ((s, _) => { import s.implicits._
        Seq((1, "a")).toDF("id", "v") }),
      "broken_query" -> ((_, _) =>
        throw new IllegalStateException("deliberately broken for the test")))
    val (results, errors) = Bench.runQueries(spark, "/unused", qs)
    val byName = results.toMap
    assert(byName("ok_query") > 0.0)
    assert(byName("broken_query") == -1.0)
    assert(errors.contains("broken_query"), s"errors: $errors")
    assert(errors("broken_query").contains("IllegalStateException"))
    assert(errors("broken_query").contains("deliberately broken"))
    assert(!errors.contains("ok_query"))
  }

  test("jsonEscape neutralizes quotes, backslashes, and control chars") {
    val nasty = "path \"C:\\tmp\"\nline2\tcol\u0001end"
    val esc = Bench.jsonEscape(nasty)
    // must parse as a JSON string body
    assert(!esc.exists(_ < ' '))
    assert(esc.contains("\\\"") && esc.contains("\\\\"))
    // lossless: each control char keeps its own escape
    assert(esc == "path \\\"C:\\\\tmp\\\"\\nline2\\tcol\\u0001end")
    // wrapping in quotes yields valid JSON (no unescaped quote remains)
    val body = "\"" + esc + "\""
    assert(!body.drop(1).dropRight(1)
      .replace("\\\\", "").replace("\\\"", "").contains("\""))
  }

  test("window classification: warm-in pass excluded whenever a steadier pass exists") {
    // 2-pass window with a typical slow warm-in pass + steady second pass
    // and flat probes: must NOT be flagged (the round-3 heuristic only
    // dropped the warm-in at >2 passes, flagging clean 2-pass windows)
    val clean2 = Bench.WindowResult(
      passes = Seq((8.0, 100.0), (5.0, 160.0)),
      probes = Seq(100.0, 101.0, 99.0),
      parProbes = Seq(3000.0, 3010.0, 2990.0))
    assert(clean2.passSpread == 1.0)
    assert(!clean2.stealSuspect())
    // a sagging all-cores probe flags the window regardless of passes
    val stolen = Bench.WindowResult(
      passes = Seq((5.0, 160.0), (5.1, 157.0)),
      probes = Seq(100.0, 99.0, 100.0),
      parProbes = Seq(3000.0, 1200.0, 2990.0))
    assert(stolen.stealSuspect())
    // spread across STEADY passes (warm-in dropped) still flags
    val spread = Bench.WindowResult(
      passes = Seq((8.0, 100.0), (5.0, 160.0), (7.5, 106.0)),
      probes = Seq(100.0, 100.0, 100.0, 100.0),
      parProbes = Seq(3000.0, 3000.0, 3000.0, 3000.0))
    assert(spread.passSpread > 1.4 && spread.stealSuspect())
  }

  test("uniformly depressed window is flagged once the run saw real capacity") {
    // every probe equally stolen -> zero within-window sag -> the old
    // classifier called it clean; against the run-wide capacity anchor
    // (another window's 8200 mops) it must be flagged
    val depressed = Bench.WindowResult(
      passes = Seq((8.0, 100.0), (7.9, 101.0)),
      probes = Seq(250.0, 252.0, 249.0),
      parProbes = Seq(5700.0, 5750.0, 5720.0))
    assert(!depressed.stealSuspect(),
      "within-window view cannot see uniform steal (by construction)")
    assert(depressed.stealSuspect(parRef = 8200.0),
      "cross-window capacity anchor must flag the uniformly stolen window")
    // a genuinely clean window stays clean against its own anchor
    assert(!depressed.stealSuspect(parRef = 5800.0))
  }
}
