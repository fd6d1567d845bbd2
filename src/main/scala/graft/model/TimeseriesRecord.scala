package graft.model

import java.time.Instant

/** The atomic timeseries record — the single shape every source payload is
  * exploded into (row-oriented EAV).
  *
  * Mirrors the reference's `create_atomic_record`
  * (`shared_code/timeseries.py:14-40`) fused with the storage-side typed
  * value columns chosen by `identify_data_column`
  * (`shared_code/timescale.py:144-165`): exactly one of
  * `measurement_number/string/bool/location` is set, selected by
  * `measurement_data_type`.
  *
  * `timestamp` is the µs-exact event instant, parsed once by the converter
  * ([[Timestamps]]); the record encoder writes it as `TimestampType`, so no
  * layer parses it again. The reference's `%Y-%m-%dT%H:%M:%S.%fZ` string
  * (`shared_code/helpers.py:83,89`) exists only on the wire hop
  * ([[graft.sources.WireRecords.emit]]). The location stays `[lat, lon]`,
  * the shape the wire hop emits; [[graft.sources.ConditionsTable.toStorage]]
  * renders it as PostGIS WKT `SRID=4326;POINT(lon lat)` (reference
  * `shared_code/timescale.py:219-270`).
  */
final case class TimeseriesRecord(
    timestamp: Instant,
    measurement_subject: String,
    measurement_publisher: String,
    measurement_of: String,
    measurement_data_type: String,
    measurement_number: Option[Double],
    measurement_string: Option[String],
    measurement_bool: Option[Boolean],
    measurement_location: Option[Seq[Double]], // [lat, lon]
    correlation_id: Option[String]
)

object TimeseriesRecord {

  def number(timestamp: Instant, subject: String, publisher: String, of: String,
             value: Double, correlationId: Option[String]): TimeseriesRecord =
    TimeseriesRecord(timestamp, subject, publisher, of, PayloadType.Number.tag,
      Some(value), None, None, None, correlationId)

  def string(timestamp: Instant, subject: String, publisher: String, of: String,
             value: String, correlationId: Option[String]): TimeseriesRecord =
    TimeseriesRecord(timestamp, subject, publisher, of, PayloadType.Str.tag,
      None, Some(value), None, None, correlationId)

  def boolean(timestamp: Instant, subject: String, publisher: String, of: String,
              value: Boolean, correlationId: Option[String]): TimeseriesRecord =
    TimeseriesRecord(timestamp, subject, publisher, of, PayloadType.Bool.tag,
      None, None, Some(value), None, correlationId)

  def geography(timestamp: Instant, subject: String, publisher: String, of: String,
                latLon: Seq[Double], correlationId: Option[String]): TimeseriesRecord =
    TimeseriesRecord(timestamp, subject, publisher, of, PayloadType.Geography.tag,
      None, None, None, Some(latLon), correlationId)
}
