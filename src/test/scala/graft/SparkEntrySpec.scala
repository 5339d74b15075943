package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Pins SparkEntry's query/oracle pairing: every query has an
  * oracle, and the oracle SQL is byte-stable. A deliberate oracle change
  * (a new query, a moved dump path, a Dumps.Version fold) must update
  * `OracleSha256` on purpose. Also holds `run`, the one way a driver
  * query runs, to its contract.
  */
class SparkEntrySpec extends AnyFunSuite {

  private val OracleSha256 =
    "9d4eb3ed8f987f485220551eafc6d3a3880e6ac469089db8b96b71d4862cd875"

  test("every query has exactly one oracle, 57 in all") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size == 57)
  }

  test("oracle SQL is byte-identical to the pinned set") {
    // sha256 over name NUL sql NUL, in name order
    val md = java.security.MessageDigest.getInstance("SHA-256")
    SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (name, sql) =>
      md.update(s"$name\u0000$sql\u0000".getBytes("UTF-8"))
    }
    val got = md.digest().map("%02x".format(_)).mkString
    assert(got == OracleSha256,
      "oracle SQL changed; if on purpose, re-pin and record it in CHANGES.md")
  }

  test("run tags every job with its query, reports a failure, goes on") {
    val spark = SparkTestSession.spark
    val sc = spark.sparkContext
    var third = -1L
    val qs: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "q_a" -> ((s, _) => s.range(10).toDF()),
      "q_b" -> ((s, _) => {
        s.range(5).count()
        throw new IllegalStateException("deliberately broken for the test")
      }),
      "q_c" -> ((s, _) => s.range(20).toDF()))
    sc.setJobDescription("caller")
    try {
      val (runs, jobs) = SparkTestSession.jobsDuring(qs.map { case (n, fn) =>
        SparkEntry.run(spark, "/unused", n, fn) { df =>
          if (n == "q_c") third = df.count() else df.collect()
        }
      })
      assert(runs(0).isRight && runs(2).isRight, s"runs: $runs")
      assert(runs(1) == Left("java.lang.IllegalStateException: " +
        "deliberately broken for the test"))
      assert(third == 20L)
      // each query started jobs, and each job carries its query's name
      assert(jobs.distinct == Seq("q_a", "q_b", "q_c"), s"jobs: $jobs")
      assert(jobs == jobs.sorted, s"jobs: $jobs")
      assert(sc.getLocalProperty("spark.job.description") == "caller")
    } finally sc.setJobDescription(null)
  }
}
