package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.model.TimeseriesRecord
import org.apache.spark.sql.Dataset

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Storage-side wire-record decoder — the analogue of the reference's
  * `timeseries_to_timescale` stage (`shared_code/timescale.py:17-125`):
  * each incoming hub message carries converted timeseries record(s) as
  * JSON, validated against the v1 wire schema (`test/timeseries.json`)
  * before insert.
  *
  * Accepted envelopes:
  *  - a single record object — what `json_converter.send_messages`
  *    (`json_converter.py:73-99`) actually emits, one record per message;
  *  - a JSON ARRAY of record objects — the v1 wire schema's declared shape
  *    (`timeseries.json:4-6` is `"type": "array"`), i.e. a whole record
  *    set batched into one message.
  *
  * Field validation mirrors `validate_all_fields_in_record`
  * (`timescale.py:127-141`) and value parsing mirrors
  * `parse_measurement_value` + `parse_to_geopoint`
  * (`timescale.py:168-270`): booleans accept true/false in any case,
  * numbers accept numerics or numeric strings, geography accepts
  * "lat,lon" strings or [lat, lon] pairs with range validation. Any
  * failure rejects the whole message (the reference's per-message
  * try/except), surfaced via `Either` for dead-lettering.
  */
object WireRecords {

  private val mapper = new ObjectMapper()

  private val RequiredFields = Seq(
    "timestamp", "measurement_publisher", "measurement_subject",
    "correlation_id", "measurement_of", "measurement_data_type",
    "measurement_value")

  /** Parse one wire message: a record object or a v1 array envelope. */
  def parse(message: String): Either[Throwable, Vector[TimeseriesRecord]] =
    try {
      val root = mapper.readTree(message)
      require(root != null && (root.isObject || root.isArray),
        "wire message must be a record object or an array of records")
      val nodes =
        if (root.isArray) root.elements.asScala.toVector else Vector(root)
      Right(nodes.map(parseRecord))
    } catch { case NonFatal(e) => Left(e) }

  private def parseRecord(node: JsonNode): TimeseriesRecord = {
    require(node.isObject, s"record must be an object: $node")
    val missing = RequiredFields.filterNot(node.has)
    require(missing.isEmpty, s"Missing fields: ${missing.mkString(", ")}")
    // Parse the timestamp like the reference's PG insert would (timestamptz:
    // flexible ISO, offsets applied, rounded to the µs): any legal form
    // becomes the record's instant, and an unparseable one throws → the
    // whole message dead-letters.
    val ts = graft.model.Timestamps.fromStringUtc(node.get("timestamp").asText)
    val publisher = node.get("measurement_publisher").asText
    val subject = node.get("measurement_subject").asText
    val of = node.get("measurement_of").asText
    val cid = Option(node.get("correlation_id")).filter(!_.isNull).map(_.asText)
    val v = node.get("measurement_value")
    node.get("measurement_data_type").asText match {
      case "boolean" =>
        val b =
          if (v.isBoolean) v.asBoolean
          else if (v.isTextual && Set("true", "false")(v.asText.toLowerCase))
            v.asText.toLowerCase == "true"
          else throw new IllegalArgumentException(s"Invalid boolean value: $v")
        TimeseriesRecord.boolean(ts, subject, publisher, of, b, cid)
      case "number" =>
        val d =
          if (v.isNumber) v.asDouble
          // Python float(True) == 1.0 (`timescale.py` number branch), so a
          // boolean-typed JSON value stores 1.0/0.0 rather than rejecting.
          else if (v.isBoolean) { if (v.asBoolean) 1.0 else 0.0 }
          else if (v.isTextual)
            try v.asText.toDouble
            catch { case _: NumberFormatException =>
              throw new IllegalArgumentException(s"Invalid number value: $v") }
          else throw new IllegalArgumentException(s"Invalid number value: $v")
        TimeseriesRecord.number(ts, subject, publisher, of, d, cid)
      case "string" =>
        // Reference returns the value unchanged (`timescale.py` string
        // branch): JSON null inserts SQL NULL; any non-string (object,
        // array, number, boolean) reaches the text-column insert and errors
        // → dead letter. `asText` would instead silently store "null"/"".
        if (v.isNull)
          TimeseriesRecord(ts, subject, publisher, of,
            graft.model.PayloadType.Str.tag, None, None, None, None, cid)
        else {
          require(v.isTextual, s"Invalid string value: $v")
          TimeseriesRecord.string(ts, subject, publisher, of, v.asText, cid)
        }
      case "geography" =>
        TimeseriesRecord.geography(ts, subject, publisher, of, toLatLon(v), cid)
      case other =>
        throw new IllegalArgumentException(s"Unknown measurement type: $other")
    }
  }

  /** `parse_to_geopoint` (`timescale.py:219-270`): "lat,lon" or [lat, lon],
    * values floatable and range-valid. Stored as Seq(lat, lon);
    * [[ConditionsTable.toStorage]] renders the lon-first WKT.
    */
  private def toLatLon(v: JsonNode): Seq[Double] = {
    val parts: Seq[String] =
      if (v.isTextual) v.asText.split(",").toSeq
      else if (v.isArray && v.size == 2) v.elements.asScala.map(_.asText).toSeq
      else throw new IllegalArgumentException(s"Invalid input type or format: $v")
    require(parts.length == 2, s"Invalid geography value: $v")
    val (lat, lon) =
      try (parts.head.trim.toDouble, parts(1).trim.toDouble)
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(s"Invalid geography value: $v") }
    require(lat >= -90 && lat <= 90, s"Invalid latitude value: $lat")
    require(lon >= -180 && lon <= 180, s"Invalid longitude value: $lon")
    Seq(lat, lon)
  }

  /** Record → wire JSON, the inverse of [[parse]]: the reference's
    * `json_converter.send_messages` shape (`json_converter.py:73-99`) —
    * one JSON object per record with the `%Y-%m-%dT%H:%M:%S.%fZ`
    * timestamp, a dynamic `measurement_value` (number / boolean / string /
    * [lat, lon]) and the data-type tag. This hop is where a record's
    * instant becomes a string.
    */
  def emit(r: TimeseriesRecord): String = {
    val node = mapper.createObjectNode()
    node.put("timestamp", graft.model.Timestamps.format(r.timestamp))
    node.put("measurement_publisher", r.measurement_publisher)
    node.put("measurement_subject", r.measurement_subject)
    node.put("measurement_of", r.measurement_of)
    node.put("measurement_data_type", r.measurement_data_type)
    r.correlation_id match {
      case Some(c) => node.put("correlation_id", c)
      case None => node.putNull("correlation_id")
    }
    (r.measurement_number, r.measurement_bool, r.measurement_location) match {
      case (Some(d), _, _) => node.put("measurement_value", d)
      case (_, Some(b), _) => node.put("measurement_value", b)
      case (_, _, Some(ll)) =>
        val arr = node.putArray("measurement_value")
        ll.foreach(arr.add)
      case _ => node.put("measurement_value", r.measurement_string.orNull)
    }
    mapper.writeValueAsString(node)
  }

  /** Dataset overload of [[emit]] — the wire hop between the convert stage
    * and the storage stage when they run as separate pipelines.
    */
  def emit(records: Dataset[TimeseriesRecord]): Dataset[String] = {
    val spark = records.sparkSession
    import spark.implicits._
    records.map(emit(_))
  }

  /** Decode a (streaming or batch) Dataset of wire messages; invalid
    * messages drop whole (dead-letter them via [[deadLetters]]).
    */
  def decode(raw: Dataset[String]): Dataset[TimeseriesRecord] = {
    val spark = raw.sparkSession
    import spark.implicits._
    raw.flatMap(m => parse(m).getOrElse(Vector.empty))
  }

  /** The wire messages [[decode]] drops. */
  def deadLetters(raw: Dataset[String]): Dataset[String] = {
    val spark = raw.sparkSession
    import spark.implicits._
    raw.filter(m => parse(m).isLeft)
  }
}
