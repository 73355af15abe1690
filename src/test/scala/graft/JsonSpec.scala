package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class JsonSpec extends AnyFunSuite {

  test("quoted strings survive a JSON parse unchanged, control chars included") {
    val raw = "say \"hi\" \\ back\nslash\r\ttab\u0001end"
    val parsed = new ObjectMapper().readValue(Json.quote(raw), classOf[String])
    assert(parsed === raw)
  }
}
