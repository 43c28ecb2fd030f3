package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** Answer comparison for the output checks. Doubles compare with a relative
  * tolerance (partial merges and whole plans sum in different orders);
  * everything else compares exactly and in order. Scan results compare as
  * the multiset of their events, because their per-segment framing carries
  * segment versions, which legitimately change when a chunk is rewritten
  * (segment listings compare without their versions for the same reason).
  * groupBy results without a limitSpec compare as multisets of rows (see
  * `rows`); with one, their order is part of the answer. */
object Check {
  private val mapper = new ObjectMapper()

  /** Whether `served` is the same answer as `reference` to the native
    * request `body` (None: a SQL statement, compared in order). */
  def sameAnswer(body: Option[String], served: String, reference: String): Boolean =
    try {
      val a = mapper.readTree(served)
      val b = mapper.readTree(reference)
      val q = body.map(mapper.readTree)
      q.flatMap(n => Option(n.get("queryType"))).map(_.asText).getOrElse("") match {
        case "scan" => scanEvents(a) == scanEvents(b)
        case "groupBy" if !q.exists(_.has("limitSpec")) => rows(a) == rows(b)
        case "segmentMetadata" => same(unversioned(a), unversioned(b))
        case _ => same(a, b)
      }
    } catch { case _: Exception => false }

  // groupBy rows without a limitSpec carry no promised order: the cached
  // (per-chunk) and whole-plan paths emit the same rows in different orders
  private def rows(n: JsonNode): Map[String, Int] =
    n.elements().asScala.map(r => mapper.writeValueAsString(rounded(r))).toSeq
      .groupBy(identity).map { case (k, v) => k -> v.size }

  /** A copy of `n` with doubles rounded to 9 significant digits. */
  private def rounded(n: JsonNode): JsonNode = n match {
    case o: com.fasterxml.jackson.databind.node.ObjectNode =>
      val c = mapper.createObjectNode()
      o.fields().asScala.foreach(e => c.set[JsonNode](e.getKey, rounded(e.getValue)))
      c
    case a: com.fasterxml.jackson.databind.node.ArrayNode =>
      val c = mapper.createArrayNode()
      a.elements().asScala.foreach(x => c.add(rounded(x)))
      c
    case d if d.isFloatingPointNumber =>
      mapper.getNodeFactory.numberNode(BigDecimal(d.asDouble)
        .round(new java.math.MathContext(9)).toDouble)
    case other => other
  }

  /** A segment listing without its `version` fields: versions move with
    * every commit, the segments and their rows must not. */
  private def unversioned(n: JsonNode): JsonNode = {
    val c = n.deepCopy[JsonNode]()
    c.elements().asScala.foreach {
      case o: com.fasterxml.jackson.databind.node.ObjectNode => o.remove("version")
      case _ =>
    }
    c
  }

  private def scanEvents(n: JsonNode): Map[String, Int] =
    n.elements().asScala.flatMap(seg => Option(seg.get("events")).toSeq
      .flatMap(_.elements().asScala)).map(_.toString).toSeq
      .groupBy(identity).map { case (k, v) => k -> v.size }

  private def same(a: JsonNode, b: JsonNode): Boolean =
    if (a.isNumber && b.isNumber) {
      if (a.isIntegralNumber && b.isIntegralNumber) a.asLong == b.asLong
      else {
        val x = a.asDouble; val y = b.asDouble
        x == y || math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
      }
    } else if (a.isArray && b.isArray)
      a.size == b.size && (0 until a.size).forall(i => same(a.get(i), b.get(i)))
    else if (a.isObject && b.isObject)
      a.size == b.size && a.fieldNames().asScala.forall(f => b.has(f) && same(a.get(f), b.get(f)))
    else a == b
}
