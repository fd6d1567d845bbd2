package graft.convert

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.model.{TimeseriesRecord, Timestamps}
import java.time.Instant

import scala.util.control.NonFatal

/** The MQTT-envelope converters (glow / homie / emon) and the dispatch that
  * routes an event-hub message to one of them by topic prefix.
  *
  * Re-expresses the reference's converter layer
  * (`shared_code/{glow,homie,emon,json_converter}.py`) as pure
  * `String => Option[Vector[TimeseriesRecord]]` functions so the exact same
  * code runs inside `Dataset.flatMap` (batch or Structured Streaming) and in
  * plain unit tests.
  *
  * Result conventions (parity with `convert_event`,
  * `shared_code/json_converter.py:59-69`):
  *  - `None` — event filtered (uninteresting topic) or malformed (any parse /
  *    validation error); the row is dropped;
  *  - `Some(records)` — normalized atomic records.
  */
object Converters {

  // Jackson is on Spark's classpath; one mapper per JVM is thread-safe.
  private[graft] val mapper = new ObjectMapper()

  private def lastSegment(topic: String): String = {
    // limit -1 keeps trailing empty segments, matching Python's
    // topic.split('/')[-1]: a trailing-slash topic's last segment is ""
    // (not in any allowlist), so the reference FILTERS it — Java's
    // default split would drop the empty tail and wrongly convert
    val parts = topic.split("/", -1)
    parts(parts.length - 1)
  }

  /** Topic-suffix allowlist filter (`shared_code/helpers.py:11-21`). */
  def topicOfInterest(topic: String, allow: Set[String]): Option[String] =
    Some(lastSegment(topic)).filter(allow.contains)

  private def requireEnvelope(body: JsonNode, extraKeys: Seq[String] = Nil): Unit = {
    require(body != null && body.isObject, "message body must be an object")
    require(body.has("payload"), "message body must contain 'payload'")
    extraKeys.foreach(k => require(body.has(k), s"message body must contain '$k'"))
  }

  /** Normalize the dynamic timestamp leaf (numeric epoch or string). */
  private def normalizeTs(node: JsonNode): Instant =
    if (node.isNumber) Timestamps.fromEpochSeconds(node.asDouble)
    else if (node.isTextual) Timestamps.fromString(node.asText)
    else throw new IllegalArgumentException(s"Unsupported timestamp: $node")

  /** Glow (home-energy) converter — `shared_code/glow.py:70-91`.
    * Takes `[subject].energy.import` flattened with prefix `import`, plus
    * `[subject].power` with prefix `power` for electricity meters only
    * (`glow.py:44`: gasmeter has no power branch; `energy.export` is
    * deliberately not ingested, `glow.py:32`).
    */
  def glow(body: JsonNode, topic: String, publisher: String,
           correlationId: Option[String]): Option[Vector[TimeseriesRecord]] = {
    require(publisher.equalsIgnoreCase("glow"), s"not a glow message: $publisher")
    requireEnvelope(body)
    topicOfInterest(topic, Set("electricitymeter", "gasmeter")).map { subject =>
      val payload = mapper.readTree(body.get("payload").asText) // double-encoded
      val subjectNode = payload.get(subject)
      // Missing subject key: the reference's `return []` guard
      // (glow.py:29-30) is unreachable — parse_message_payload
      // (glow.py:16) indexes payload[subject]["timestamp"] first and
      // raises KeyError, sending the message down the error path. We
      // mirror the executed behavior (controlled failure → dead-letter),
      // with an explicit message instead of an opaque NPE.
      require(subjectNode != null && subjectNode.has("timestamp"),
        s"glow payload missing '$subject.timestamp'")
      val ts = normalizeTs(subjectNode.get("timestamp"))
      val ignore = GlowIgnoreKeys
      // `energy.import` (and electricitymeter's `power`) are indexed
      // unconditionally by the reference (glow.py:32,45 — KeyError →
      // error path), so their ABSENCE must dead-letter too: flatten(null)
      // returning empty would silently classify a malformed meter
      // message as "validly filtered" and hide it from monitoring
      val energyNode = subjectNode.get("energy")
      require(energyNode != null && energyNode.get("import") != null,
        s"glow payload missing '$subject.energy.import'")
      val imports = flattenBranch(energyNode.get("import"),
        s"$subject.energy.import", ts, correlationId, publisher, subject,
        ignore, "import")
      val power =
        if (subject == "electricitymeter") {
          require(subjectNode.get("power") != null,
            s"glow payload missing '$subject.power'")
          flattenBranch(subjectNode.get("power"), s"$subject.power", ts,
            correlationId, publisher, subject, ignore, "power")
        } else Vector.empty
      imports ++ power
    }
  }

  /** Flatten a branch the reference iterates unconditionally
    * (`create_record_recursive`, `timeseries.py:66-69`): an object is
    * walked; a Python-falsy value (`if not payload: return records`) yields
    * no records; any other scalar/array would raise when iterated
    * (`for key in payload` → TypeError) and must dead-letter — without
    * this guard, `JsonFlatten.flatten`'s non-object short-circuit would
    * silently classify a malformed meter message as "validly filtered".
    */
  private def flattenBranch(node: JsonNode, where: String, ts: Instant,
                            correlationId: Option[String], publisher: String,
                            subject: String, ignore: Set[String],
                            prefix: String): Vector[TimeseriesRecord] = {
    val falsy = node.isNull ||
      (node.isBoolean && !node.asBoolean) ||
      (node.isNumber && node.asDouble == 0.0) ||
      (node.isTextual && node.asText.isEmpty) ||
      ((node.isArray || node.isObject) && node.size == 0)
    if (falsy) Vector.empty
    else {
      require(node.isObject, s"glow '$where' is not an object: ${node.getNodeType}")
      JsonFlatten.flatten(node, ts, correlationId, publisher, subject,
        ignore, Some(prefix))
    }
  }

  /** `shared_code/glow.py:59-67` */
  val GlowIgnoreKeys: Set[String] = Set(
    "units", "mpan", "mprn", "supplier", "dayweekmonthvolunits", "cumulativevolunits")

  /** Homie (home-automation) converter — `shared_code/homie.py:13-42`.
    * One record per message; `measurement_of` / subject are the last two
    * topic segments; `state`/`mode` are strings, everything else numeric
    * (`homie.py:69-77`); the envelope `payload` string is the value and the
    * envelope `timestamp` is the event time.
    */
  def homie(body: JsonNode, topic: String, publisher: String,
            correlationId: Option[String]): Option[Vector[TimeseriesRecord]] = {
    require(publisher.equalsIgnoreCase("homie"), s"not a homie message: $publisher")
    requireEnvelope(body, Seq("timestamp"))
    // limit -1 keeps trailing empty segments (see lastSegment): a
    // trailing-slash topic's last segment is "" in Python, which fails the
    // events-of-interest check and FILTERS the message — the default split
    // would drop the empty tail and wrongly convert the previous segment.
    val parts = topic.split("/", -1)
    require(parts.length >= 2, s"homie topic needs >=2 segments: $topic")
    val of = parts(parts.length - 1)
    val subject = parts(parts.length - 2)
    if (!HomieEventsOfInterest.contains(of)) None
    else {
      val ts = normalizeTs(body.get("timestamp"))
      val value = body.get("payload").asText
      val rec =
        if (of == "state" || of == "mode")
          TimeseriesRecord.string(ts, subject, publisher, of, value, correlationId)
        else
          TimeseriesRecord.number(ts, subject, publisher, of, value.toDouble, correlationId)
      Some(Vector(rec))
    }
  }

  /** `shared_code/homie.py:45-52` */
  val HomieEventsOfInterest: Set[String] = Set(
    "measure-temperature", "heating-setpoint", "state", "mode", "thermostat-setpoint")

  /** Emon (energy-monitor) converter — `shared_code/emon.py:14-48`.
    * Double-encoded payload; event time from the payload's `time` field
    * (epoch seconds); every other key recursively flattened, `time` itself
    * excluded (`emon.py:48`).
    */
  def emon(body: JsonNode, topic: String, publisher: String,
           correlationId: Option[String]): Option[Vector[TimeseriesRecord]] = {
    require(publisher.equalsIgnoreCase("emon"), s"not an emon message: $publisher")
    requireEnvelope(body)
    topicOfInterest(topic, Set("emonTx4")).map { subject =>
      val payload = mapper.readTree(body.get("payload").asText)
      require(payload.isObject && payload.has("time"), s"emon: missing time")
      val ts = normalizeTs(payload.get("time"))
      JsonFlatten.flatten(payload, ts, correlationId, publisher, subject,
        ignoreKeys = Set("time"))
    }
  }

  /** Parse + route one raw event string (`convert_event` +
    * `send_to_converter` + `extract_topic`,
    * `shared_code/json_converter.py:59-69,145-172`), distinguishing the
    * two "no records" cases: `Left(error)` = malformed/unroutable (a dead
    * letter), `Right(None)` = validly filtered (uninteresting topic).
    */
  def convertEventEither(eventStr: String,
                         correlationId: Option[String] = None)
      : Either[Throwable, Option[Vector[TimeseriesRecord]]] =
    try {
      val body = mapper.readTree(eventStr)
      // v1 array envelope (`test/timeseries.json:4-6`): a single event may
      // carry a JSON array of envelopes. Convert each element; the event is
      // atomic, so any malformed element dead-letters the whole event.
      if (body != null && body.isArray) {
        val results = (0 until body.size).map(i =>
          convertNode(body.get(i), correlationId))
        results.collectFirst { case Left(e) => e } match {
          case Some(e) => Left(e)
          case None =>
            Right(Some(results.flatMap(_.toOption.flatten.getOrElse(Vector.empty)).toVector)
              .filter(_.nonEmpty))
        }
      } else convertNode(body, correlationId)
    } catch {
      case NonFatal(e) => Left(e)
    }

  private def convertNode(body: JsonNode, correlationId: Option[String])
      : Either[Throwable, Option[Vector[TimeseriesRecord]]] =
    try {
      val topicNode = body.get("topic")
      require(topicNode != null && topicNode.isTextual && topicNode.asText.nonEmpty,
        s"Error extracting topic")
      val topic = topicNode.asText
      val publisher = topic.split("/")(0)
      val converted = publisher.toLowerCase(java.util.Locale.ROOT) match {
        case "glow"  => glow(body, topic, publisher, correlationId)
        case "homie" => homie(body, topic, publisher, correlationId)
        case "emon"  => emon(body, topic, publisher, correlationId)
        case other   => throw new IllegalArgumentException(s"Unknown publisher: $other")
      }
      Right(converted.filter(_.nonEmpty))
    } catch {
      case NonFatal(e) => Left(e)
    }

  /** As the reference behaves: any error → `None` (row dropped). */
  def convertEvent(eventStr: String,
                   correlationId: Option[String] = None): Option[Vector[TimeseriesRecord]] =
    convertEventEither(eventStr, correlationId).toOption.flatten
}
