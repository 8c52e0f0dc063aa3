package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** `Json.str` writes `oracle_sql.json` and Bench's record: every string it
  * escapes must read back unchanged through a standard JSON parser. */
class JsonSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper

  private def roundTrips(s: String): Boolean =
    mapper.readValue(Json.str(s), classOf[String]) == s

  test("every oracle SQL string round-trips through Jackson") {
    val bad = SparkEntry.oracleSql.toSeq.flatMap { case (k, v) => Seq(k, v) }
      .filterNot(roundTrips)
    assert(bad.isEmpty, s"${bad.size} strings did not round-trip")
  }

  test("quotes, backslashes and control characters round-trip") {
    assert(roundTrips("tab\there, cr\rthere, nul\u0000, us\u001f, \"q\" \\ end\n"))
  }
}
