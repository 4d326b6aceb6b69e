package graft.util

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory, ObjectNode}

/** The one JSON codec for framework metadata (graph models, backend
  * records, tool output): a shared Jackson mapper plus tree builders and
  * CHECKED readers. Jackson's own `asText`/`asLong` answer a default for a
  * missing or mistyped field; persisted metadata must fail loudly instead,
  * so every read here raises on anything but the expected shape.
  * (Fingerprints never go through this: their bytes are `Canonical`'s.) */
object Json {
  private val mapper: ObjectMapper = new ObjectMapper().enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
  private val nodes = JsonNodeFactory.instance

  /** `s` as a JSON string literal, every control character escaped. */
  def quote(s: String): String = mapper.writeValueAsString(s)

  def parse(s: String): JsonNode = mapper.readTree(s)
  def render(j: JsonNode): String = mapper.writeValueAsString(j)

  def str(s: String): JsonNode = nodes.textNode(s)
  def num(n: Long): JsonNode = nodes.numberNode(n)
  def arr(items: Seq[JsonNode]): ArrayNode = nodes.arrayNode().addAll(items.asJava)
  /** An object with `fields` in the given order. */
  def obj(fields: (String, JsonNode)*): ObjectNode = {
    val o = nodes.objectNode()
    fields.foreach { case (k, v) => o.set[JsonNode](k, v) }
    o
  }
  def strMap(m: Map[String, String]): ObjectNode = obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> str(v) }: _*)

  implicit final class Checked(private val j: JsonNode) extends AnyVal {
    def apply(field: String): JsonNode = {
      val v = j.get(field)
      if (v == null) throw new IllegalArgumentException(s"missing field '$field' in $j")
      v
    }
    def str: String = { check(j.isTextual, "a string"); j.textValue }
    def num: Long = { check(j.isIntegralNumber && j.canConvertToLong, "a 64-bit integer"); j.longValue }
    def arr: Seq[JsonNode] = { check(j.isArray, "an array"); j.asScala.toSeq }
    def obj: Seq[(String, JsonNode)] = {
      check(j.isObject, "an object")
      j.properties.asScala.toSeq.map(e => e.getKey -> e.getValue)
    }
    def strMap: Map[String, String] = obj.map { case (k, v) => k -> v.str }.toMap
    private def check(ok: Boolean, expected: String): Unit =
      if (!ok) throw new IllegalArgumentException(s"expected $expected, got $j")
  }
}
