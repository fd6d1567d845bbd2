package graft.convert

import com.fasterxml.jackson.databind.JsonNode
import graft.model.TimeseriesRecord

/** BMW ConnectedDrive vehicle-state converter.
  *
  * Re-expresses `construct_messages` + the field extractors (reference
  * `shared_code/bmw_to_timescale.py:71-133,193-326`): a deep nested
  * vehicle-state document is projected onto six EAV records — charging
  * level/range/connected/status, current mileage, and location — keyed by
  * `(vin, state.lastUpdatedAt)`. Fields absent from the message are
  * skipped. Deliberate deviation: a field whose value fails validation is
  * skipped here, whereas the reference raises eagerly in
  * `construct_messages` (`bmw_to_timescale.py:118-128` runs
  * `validate_lat_long`/mileage type checks before the per-field try/except
  * at `:172-188`) and so drops the whole message — per-field degradation
  * loses less data with identical accepted values.
  *
  * `correlation_id = lastUpdatedAt` (`bmw_to_timescale.py:183`) — it doubles
  * as the streaming dedup key (see [[graft.streaming.IngestPipeline.bmwDeduped]]).
  */
object Bmw {

  /** One parse of a raw poll: its dedup key, the instant of its
    * `lastUpdatedAt` and its records, all stamped with that instant.
    */
  final case class Poll(vin: String, lastUpdatedAt: String, eventTime: java.time.Instant,
                        records: Vector[TimeseriesRecord])

  /** `shared_code/bmw_to_timescale.py:221-259` */
  def validLatLon(lat: Double, lon: Double): Boolean =
    lat >= -90 && lat <= 90 && lon >= -180 && lon <= 180

  private def poll(body: JsonNode): Poll = {
    val vin = body.get("vin").asText
    val lastUpdatedAt = body.get("state").get("lastUpdatedAt").asText
    // The reference stores lastUpdatedAt raw and relies on PostgreSQL's
    // timestamptz parse (`bmw_to_timescale.py:178`), which APPLIES UTC
    // offsets — so this boundary uses the offset-applying normalization,
    // unlike the MQTT converters' dateutil-wall-clock parity. BMW emits
    // 7 fractional digits; the RAW string stays the correlation/dedup key.
    val ts = graft.model.Timestamps.fromStringUtc(lastUpdatedAt)
    val cid = Some(lastUpdatedAt)
    val state = body.get("state")
    val charging = Option(state.get("electricChargingState")).filter(_.isObject)
    def chargingField(name: String): Option[JsonNode] =
      charging.flatMap(c => Option(c.get(name)))

    val out = Vector.newBuilder[TimeseriesRecord]

    chargingField("chargingLevelPercent").filter(_.isNumber).foreach { n =>
      out += TimeseriesRecord.number(ts, vin, "bmw", "chargingLevelPercent", n.asDouble, cid)
    }
    chargingField("range").filter(_.isNumber).foreach { n =>
      out += TimeseriesRecord.number(ts, vin, "bmw", "range", n.asDouble, cid)
    }
    chargingField("isChargerConnected").foreach { n =>
      // Python bool(x) coercion (`bmw_to_timescale.py:107`): falsy = False,
      // None, 0, "", empty list/dict
      val b =
        if (n.isBoolean) n.asBoolean
        else if (n.isNumber) n.asDouble != 0.0
        else if (n.isTextual) n.asText.nonEmpty
        else if (n.isNull) false
        else if (n.isContainerNode) n.size > 0
        else false
      out += TimeseriesRecord.boolean(ts, vin, "bmw", "isChargerConnected", b, cid)
    }
    chargingField("chargingStatus").filter(_.isTextual).foreach { n =>
      out += TimeseriesRecord.string(ts, vin, "bmw", "chargingStatus", n.asText, cid)
    }

    // currentMileage must be an integer (`bmw_to_timescale.py:289-326`)
    Option(state.get("currentMileage")).filter(_.isIntegralNumber).foreach { n =>
      out += TimeseriesRecord.number(ts, vin, "bmw", "currentMileage", n.asDouble, cid)
    }

    // location.coordinates → GEOGRAPHY [lat, lon], range-checked
    for {
      location <- Option(state.get("location")).filter(_.isObject)
      coords   <- Option(location.get("coordinates")).filter(_.isObject)
      latNode  <- Option(coords.get("latitude")).filter(_.isNumber)
      lonNode  <- Option(coords.get("longitude")).filter(_.isNumber)
      if validLatLon(latNode.asDouble, lonNode.asDouble)
    } out += TimeseriesRecord.geography(ts, vin, "bmw", "coordinates",
      Vector(latNode.asDouble, lonNode.asDouble), cid)

    Poll(vin, lastUpdatedAt, ts, out.result())
  }

  /** Parse one raw BMW message once; `Left` with the cause on malformed
    * input, an unparseable `lastUpdatedAt` included — the one parse behind
    * both the stored records and the dead letters.
    */
  def parsePoll(raw: String): Either[Throwable, Poll] =
    try {
      val body = Converters.mapper.readTree(raw)
      require(body.hasNonNull("vin") && body.hasNonNull("state"), "missing vin/state")
      require(body.get("state").hasNonNull("lastUpdatedAt"), "missing lastUpdatedAt")
      Right(poll(body))
    } catch { case scala.util.control.NonFatal(e) => Left(e) }

  /** Parse + convert one raw BMW message; `None` on malformed input. */
  def convertMessage(raw: String): Option[Vector[TimeseriesRecord]] =
    parsePoll(raw).toOption.map(_.records)
}
