package graft.core

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class JsonSpec extends AnyFunSuite {

  test("quote escapes quote, backslash and control characters into one valid JSON string") {
    val raw = "say \"hi\"\\ now\nnext\tcol\u0001end"
    val quoted = Json.quote(raw)
    assert(quoted == "\"say \\\"hi\\\"\\\\ now\\nnext\\tcol\\u0001end\"")
    assert(new ObjectMapper().readValue(quoted, classOf[String]) == raw)
  }
}
