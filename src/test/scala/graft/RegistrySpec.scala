package graft

import org.json4s.JString
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

/** The query registry and the driver's JSON output: a duplicate name
  * would collapse silently in the name-keyed views, a dropped oracle
  * would shrink the compared set without failing anything, and a
  * mis-escaped oracle would make the whole oracle_sql.json unreadable. */
class RegistrySpec extends AnyFunSuite {

  test("registered query names are unique") {
    val dups = SparkEntry.registry.groupBy(_.name)
      .collect { case (n, qs) if qs.length > 1 => n }
    assert(dups.isEmpty, s"duplicated query names: ${dups.toSeq.sorted}")
    assert(SparkEntry.queries.size == SparkEntry.registry.length)
  }

  test("approx_distinct is the only query without an oracle") {
    assert(SparkEntry.registry.filter(_.oracle.isEmpty).map(_.name) ==
      Seq("approx_distinct"))
    assert(SparkEntry.oracleSql.keySet ==
      SparkEntry.queries.keySet - "approx_distinct")
  }

  test("the JSON escaper round-trips through a JSON parser") {
    val samples = Seq("\"", "\\", "\n", "\r", "\t", "\u0001",
      "SELECT 'a\"b' AS \"x\\y\"\n\tFROM t\r\n\u0001\u001f end",
      (0 until 0x20).map(_.toChar).mkString)
    samples.foreach { raw =>
      val doc = s"""{"k": ${Driver.jsonString(raw)}}"""
      assert(JsonMethods.parse(doc) \ "k" == JString(raw), doc)
    }
  }
}
