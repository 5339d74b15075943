package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins SparkEntry's query/oracle pairing: every query has an
  * oracle, and the oracle SQL is byte-stable. A deliberate oracle change
  * (a new query, a moved dump path, a Dumps.Version fold) must update
  * `OracleSha256` on purpose.
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
}
