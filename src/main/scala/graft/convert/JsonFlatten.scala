package graft.convert

import com.fasterxml.jackson.databind.JsonNode
import graft.model.{PayloadType, TimeseriesRecord}
import java.time.Instant

import scala.collection.immutable.VectorBuilder
import scala.jdk.CollectionConverters._

/** Depth-first flatten of an arbitrarily nested JSON document into atomic
  * EAV records — one record per leaf scalar.
  *
  * Re-expresses `create_record_recursive` + `get_record_type` (reference
  * `shared_code/timeseries.py:43-126`) over a Jackson tree instead of Python
  * dicts. Spark-side this runs inside a typed `flatMap`, so the whole
  * normalize stage is a narrow (shuffle-free) transformation.
  *
  * Semantics preserved from the reference:
  *  - nested objects recurse WITHOUT extending the `measurement_of` prefix
  *    (`timeseries.py:70-80` passes the same prefix down);
  *  - keys in `ignoreKeys` are skipped entirely, including their subtrees;
  *  - boolean is checked before number (the Python `bool ⊂ int` trap,
  *    `timeseries.py:116`; Jackson keeps them distinct but the order is kept
  *    explicit);
  *  - a 2-element all-numeric array is GEOGRAPHY `[lat, lon]`; any other
  *    array or node type is an error, which callers surface as a dropped
  *    event (`timeseries.py:120-126`).
  */
object JsonFlatten {

  def recordType(n: JsonNode): PayloadType =
    if (n.isTextual) PayloadType.Str
    else if (n.isBoolean) PayloadType.Bool
    else if (n.isNumber) PayloadType.Number
    else if (n.isArray && n.size == 2 && n.elements.asScala.forall(_.isNumber))
      PayloadType.Geography
    else if (n.isArray)
      throw new IllegalArgumentException(s"List is not a valid coordinate pair: $n")
    else
      throw new IllegalArgumentException(s"Unknown payload type: ${n.getNodeType}")

  /** Build one atomic record from a leaf node. */
  def leafRecord(of: String, node: JsonNode, timestamp: Instant, subject: String,
                 publisher: String, correlationId: Option[String]): TimeseriesRecord =
    recordType(node) match {
      case PayloadType.Number =>
        TimeseriesRecord.number(timestamp, subject, publisher, of, node.asDouble, correlationId)
      case PayloadType.Str =>
        TimeseriesRecord.string(timestamp, subject, publisher, of, node.asText, correlationId)
      case PayloadType.Bool =>
        TimeseriesRecord.boolean(timestamp, subject, publisher, of, node.asBoolean, correlationId)
      case PayloadType.Geography =>
        val coords = node.elements.asScala.map(_.asDouble).toVector
        TimeseriesRecord.geography(timestamp, subject, publisher, of, coords, correlationId)
    }

  def flatten(payload: JsonNode,
              timestamp: Instant,
              correlationId: Option[String],
              publisher: String,
              subject: String,
              ignoreKeys: Set[String] = Set.empty,
              prefix: Option[String] = None): Vector[TimeseriesRecord] = {
    val out = new VectorBuilder[TimeseriesRecord]
    def walk(node: JsonNode): Unit =
      node.fields.asScala.foreach { e =>
        val (key, value) = (e.getKey, e.getValue)
        if (!ignoreKeys.contains(key)) {
          if (value.isObject) walk(value)
          else {
            val of = prefix.fold(key)(p => s"${p}_$key")
            out += leafRecord(of, value, timestamp, subject, publisher, correlationId)
          }
        }
      }
    if (payload != null && payload.isObject) walk(payload)
    out.result()
  }
}
