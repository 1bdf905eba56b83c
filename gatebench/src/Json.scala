package gatebench

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}

/** JSON in (Jackson trees, exact decimals) and out (hand-rendered). */
object Json {
  val mapper: ObjectMapper = new ObjectMapper()
    .enable(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)
    .enable(DeserializationFeature.USE_BIG_INTEGER_FOR_INTS)

  def parse(s: String): JsonNode = mapper.readTree(s)

  /** A JSON scalar as the plain JVM value a client would hand out. */
  def scalar(n: JsonNode): Any =
    if (n == null || n.isNull || n.isMissingNode) null
    else if (n.isIntegralNumber) n.bigIntegerValue
    else if (n.isNumber) n.decimalValue
    else if (n.isBoolean) java.lang.Boolean.valueOf(n.booleanValue)
    else n.asText

  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
