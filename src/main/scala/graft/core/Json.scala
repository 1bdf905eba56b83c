package graft.core

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** The one JSON string writer for graft's hand-built documents (event
  * lines, REST replies, the oracle SQL map, the python worker protocol,
  * graft-ctl requests, Bench's error list), and the one reader of the
  * small JSON documents they receive (REST request bodies, stored batch
  * descriptors, graft-ctl specs and replies).
  */
object Json {

  private val mapper = new ObjectMapper()

  /** The string members of a JSON object's top level. Only string
    * values count: a member of any other type reads as absent, as does
    * every member of a document that does not parse or is not an object.
    */
  final class Fields private[Json] (node: JsonNode) {
    private def member(key: String): Option[JsonNode] = Option(node.get(key))

    def str(key: String): Option[String] = member(key).filter(_.isTextual).map(_.asText)

    /** `"key": ["a", "b"]`: the array's string elements. */
    def strs(key: String): Seq[String] =
      member(key).filter(_.isArray).toSeq.flatMap(_.asScala.filter(_.isTextual).map(_.asText))

    /** `"key": {"a": "x"}`: the object's string-valued members. */
    def strMap(key: String): Map[String, String] =
      member(key).filter(_.isObject).toSeq.flatMap(_.properties.asScala
        .filter(_.getValue.isTextual).map(e => e.getKey -> e.getValue.asText)).toMap
  }

  def fields(doc: String): Fields = new Fields(
    try Option(mapper.readTree(doc)).filter(_.isObject).getOrElse(mapper.createObjectNode())
    catch { case _: java.io.IOException => mapper.createObjectNode() })

  /** `s` as a quoted JSON string: backslash, quote and every control
    * character escaped, so a multi-line error message stays one valid
    * value.
    */
  def quote(s: String): String = {
    val b = new java.lang.StringBuilder(s.length + 2).append('"')
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '"' => b.append("\\\"")
        case '\\' => b.append("\\\\")
        case '\n' => b.append("\\n")
        case '\r' => b.append("\\r")
        case '\t' => b.append("\\t")
        case c if c < ' ' =>
          val hex = Integer.toHexString(c)
          b.append("\\u").append("0000", hex.length, 4).append(hex)
        case c => b.append(c)
      }
      i += 1
    }
    b.append('"').toString
  }
}
