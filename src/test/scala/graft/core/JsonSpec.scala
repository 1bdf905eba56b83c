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
}
