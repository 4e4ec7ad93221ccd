package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class JsonSpec extends AnyFunSuite {

  test("Json.string escapes every control char, quote and backslash") {
    val raw = ((0 until 0x20).map(_.toChar) ++ "\"\\ plain é").mkString
    val quoted = graft.util.Json.string(raw)
    assert(quoted.forall(_ >= ' '))
    assert(new ObjectMapper().readValue(quoted, classOf[String]) == raw)
  }
}
