package graft.util

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The one JSON string escaper round-trips every character a hand-built
  * JSON line can meet, including the control characters a tab or CR in
  * a query's SQL or an error message would bring.
  */
class JsonSpec extends AnyFunSuite {

  test("a key and a value with quotes, backslashes and control chars parse back") {
    val key = "k\"\\\t\r\n\u0001ey"
    val value = "SELECT \"a\"\\b\tFROM t\r\nWHERE c = '\u0001' -- é"
    val node = new ObjectMapper()
      .readTree(s"{${Json.quote(key)}:${Json.quote(value)}}")
    assert(node.size == 1)
    assert(node.get(key).asText == value)
  }
}
