package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.JsonNodeFactory

import scala.jdk.CollectionConverters._

/** JSON in and out through the Jackson that ships with Spark. */
object Json {
  private val mapper = new ObjectMapper()
  private val f = JsonNodeFactory.instance

  def read(path: String): JsonNode = mapper.readTree(new java.io.File(path))

  def obj(kv: (String, Any)*): String = mapper.writeValueAsString(node(kv.toMap))

  def writeFile(path: String, v: Any): Unit =
    mapper.writeValue(new java.io.File(path), node(v))

  def node(v: Any): JsonNode = v match {
    case null | None => f.nullNode()
    case Some(x) => node(x)
    case n: JsonNode => n
    case s: String => f.textNode(s)
    case b: Boolean => f.booleanNode(b)
    case i: Int => f.numberNode(i)
    case l: Long => f.numberNode(l)
    case d: Double => if (d.isNaN || d.isInfinite) f.nullNode() else f.numberNode(d)
    case x: Float => node(x.toDouble)
    case x: Short => f.numberNode(x.toInt)
    case x: Byte => f.numberNode(x.toInt)
    case d: java.math.BigDecimal => f.numberNode(d)
    case d: BigDecimal => f.numberNode(d.bigDecimal)
    case m: scala.collection.Map[_, _] =>
      val o = f.objectNode()
      m.foreach { case (k, x) => o.set[JsonNode](k.toString, node(x)) }
      o
    case s: Iterable[_] =>
      val a = f.arrayNode()
      s.foreach(x => a.add(node(x)))
      a
    case a: Array[_] => node(a.toSeq)
    case other => f.textNode(other.toString)
  }

  def longs(n: JsonNode): Seq[Long] = n.elements().asScala.map(_.asLong).toSeq

  /** A JSON object of scalars as a Scala map (numbers stay numbers). */
  def scalars(n: JsonNode): Map[String, Any] =
    n.fields().asScala.map { e =>
      val v = e.getValue
      e.getKey -> (if (v.isIntegralNumber) v.asLong
                   else if (v.isNumber) v.asDouble
                   else if (v.isBoolean) v.asBoolean
                   else v.asText)
    }.toMap
}
