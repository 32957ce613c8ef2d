package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Json.str writes Verify's oracle_sql.json and Bench's result lines; a
  * bad escape there makes the reader's JSON parse fail. Not a SparkSpec:
  * it needs no session. */
class JsonSpec extends AnyFunSuite {

  test("Json.str round-trips quotes, backslashes, control and non-ASCII chars through Jackson") {
    val mapper = new ObjectMapper()
    val cases = Seq("\"", "\\", "\n", "\r", "\t", "\u0001", "é", "é中😀",
      "SELECT \"a\\b\"\n\tFROM t\r\n WHERE x = '\u0001é'", "")
    cases.foreach { s =>
      assert(mapper.readValue(Json.str(s), classOf[String]) == s, s"value ${Json.str(s)}")
    }
    // the object shape Verify writes: every case as a key and a value
    val obj = cases.map(s => s"${Json.str(s)}: ${Json.str(s + "!")}").mkString("{", ",", "}")
    val node = mapper.readTree(obj)
    assert(node.size == cases.size)
    cases.foreach(s => assert(node.get(s).asText == s + "!", s"key ${Json.str(s)}"))
  }
}
