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

  test("quote writes the same bytes as the per-character quoter it replaced") {
    // the earlier implementation, kept here as the oracle
    def perChar(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val controls = (0 until 0x20).map(_.toChar).mkString
    val fixed = Seq("", "plain", "\"\"", "\\\\", "a\nb\rc\td", controls, "\u007f\u0080",
      "grüße, naïve, 東京, Привет", "emoji 😀 and 𝄞",
      "lone \ud800 high and \udc00 low surrogates")
    // mixed strings drawn from every class above
    val alphabet = "ab \"\\\n\r\t\u0000\u0001\u001f\u007fé東😀"
    val rnd = new scala.util.Random(7)
    val mixed = Seq.fill(500)(Seq.fill(rnd.nextInt(40))(alphabet(rnd.nextInt(alphabet.length))).mkString)
    val mapper = new ObjectMapper()
    (fixed ++ mixed).foreach { s =>
      assert(Json.quote(s) == perChar(s), s)
      if (!s.exists(c => Character.isSurrogate(c))) assert(mapper.readValue(Json.quote(s), classOf[String]) == s)
    }
  }

  test("fields reads what quote writes, top-level string members only") {
    val odd = "tab\there \u00e9 back\\nslash / \u0001"
    val doc = s"""{"sql": ${Json.quote(odd)}, "esc": "\\u00e9\\/\\t", "n": 5,
      |  "args": [${Json.quote(odd)}, 7, "b"], "conf": {${Json.quote(odd)}: ${Json.quote(odd)}, "k": 1},
      |  "nested": {"inner": "deep", "sql": "no"}}""".stripMargin
    val f = Json.fields(doc)
    assert(f.str("sql").contains(odd))
    assert(f.str("esc").contains("\u00e9/\t"))
    assert(f.str("n").isEmpty, "a number is not a string member")
    assert(f.str("inner").isEmpty, "a nested member is not a top-level one")
    assert(f.strs("args") == Seq(odd, "b"))
    assert(f.strs("conf").isEmpty && f.strMap("args").isEmpty)
    assert(f.strMap("conf") == Map(odd -> odd))
    // a body that does not parse has no members
    Seq("", "not json", "[1, 2]", "{\"sql\": ").foreach { bad =>
      val b = Json.fields(bad)
      assert(b.str("sql").isEmpty && b.strs("args").isEmpty && b.strMap("conf").isEmpty, bad)
    }
  }
}
