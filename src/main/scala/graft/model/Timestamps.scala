package graft.model

import java.time.format.{DateTimeFormatter, DateTimeFormatterBuilder}
import java.time.temporal.ChronoField
import java.time.{DateTimeException, Instant, LocalDate, LocalDateTime, LocalTime, OffsetDateTime, ZoneOffset}

/** Event-time normalization to a µs-exact `Instant`, and its one rendering
  * in the wire format `%Y-%m-%dT%H:%M:%S.%fZ` (always 6 fractional digits,
  * literal `Z`).
  *
  * Mirrors `to_datetime_string` (reference `shared_code/helpers.py:78-95`):
  *  - numeric epoch seconds, range-checked to `[0, 253402300799]`;
  *  - parseable date strings (dateutil-style leniency: ISO 8601 with `T` or
  *    space separator, optional fraction, optional offset/`Z`).
  *
  * Semantics notes (deliberate parity with the reference):
  *  - The reference's `datetime.fromtimestamp` is local-time but the output
  *    is suffixed `Z`; that is only correct under TZ=UTC. We take epochs as
  *    true UTC.
  *  - Offset-aware input strings keep their wall-clock fields, read as UTC
  *    (dateutil keeps the parsed fields and `strftime` prints them as-is
  *    with a literal `Z`); we reproduce that.
  *  - Sub-second epochs round to the nearest microsecond.
  *
  * The reference renders the string only because its next stop is a JSON
  * Event Hub message; here [[format]] renders it for that hop
  * ([[graft.sources.WireRecords.emit]]), and every other layer carries the
  * `Instant`.
  */
object Timestamps {

  val MaxEpochSeconds: Long = 253402300799L // 9999-12-31T23:59:59Z

  private val OutFmt: DateTimeFormatter =
    new DateTimeFormatterBuilder()
      .appendPattern("yyyy-MM-dd'T'HH:mm:ss")
      .appendLiteral('.')
      .appendFraction(ChronoField.MICRO_OF_SECOND, 6, 6, false)
      .appendLiteral('Z')
      .toFormatter
      .withZone(ZoneOffset.UTC)

  /** Lenient ISO-ish parser: `T` or space separator, optional fraction. */
  private val LocalFmt: DateTimeFormatter =
    new DateTimeFormatterBuilder()
      .appendPattern("yyyy-MM-dd['T'][' ']HH:mm:ss")
      .optionalStart()
      .appendFraction(ChronoField.NANO_OF_SECOND, 1, 9, true)
      .optionalEnd()
      .toFormatter

  def fromEpochSeconds(ts: Double): Instant = {
    if (ts.isNaN || ts < 0 || ts > MaxEpochSeconds)
      throw new IllegalArgumentException(s"Timestamp out of range: $ts")
    val micros = Math.round(ts * 1e6)
    Instant.ofEpochSecond(Math.floorDiv(micros, 1000000L),
      Math.floorMod(micros, 1000000L) * 1000L)
  }

  /** Offset-DISCARDING parse (dateutil parity, see class doc). */
  def fromString(raw: String): Instant = atMicros(parseToLocal(raw).toInstant(ZoneOffset.UTC))

  /** Offset-APPLYING variant (PostgreSQL timestamptz semantics): an input
    * with a UTC offset is converted to UTC; naive input is taken as
    * already-UTC. Used at boundaries where the reference's parse is PG,
    * not dateutil (see [[graft.convert.Bmw]]).
    */
  def fromStringUtc(raw: String): Instant =
    atMicros(withOffset(raw).fold(naive(raw).toInstant(ZoneOffset.UTC))(_.toInstant))

  /** The one renderer of the wire format, for the wire hop. */
  def format(t: Instant): String = OutFmt.format(t)

  /** PG timestamptz parity for sub-µs fractions: the reference hands the
    * raw string to PostgreSQL, whose parser ROUNDS the 7th+ fractional
    * digit into microseconds via rint() (half-even) — `…28.1234567` →
    * `.123457`, `…28.9999995` carries into the next second. Truncating
    * here would store every such value 1 µs early vs the reference DB.
    * Inputs already at ≤6 digits have nanos ≡ 0 (mod 1000), where rint
    * is exact — nothing else changes.
    */
  private def atMicros(t: Instant): Instant =
    Instant.ofEpochSecond(t.getEpochSecond, Math.rint(t.getNano / 1000.0).toLong * 1000L)

  /** `T` separated: a space at index 10 becomes `T`. */
  private def tSeparated(raw: String): String = {
    val s = raw.trim
    if (s.length > 10 && s.charAt(10) == ' ') s.updated(10, 'T') else s
  }

  /** `raw` as an offset-aware date-time: `Z`/`z`, `±HH:MM[:SS]`, `±HH` (the
    * `ISO_OFFSET_DATE_TIME` forms) or the colon-less `±HHMM`, which
    * PostgreSQL `timestamptz` and dateutil accept too; `None` when it
    * carries no offset or does not parse.
    */
  private def withOffset(raw: String): Option[OffsetDateTime] =
    try Some(OffsetDateTime.parse(colonOffset(tSeparated(raw))))
    catch { case _: DateTimeException => None }

  /** A trailing `±HHMM` offset written `±HH:MM`, the form ISO parsing
    * takes. A formatter with optional offset sections would parse both,
    * but fails a naive string only after resolving it, 3× slower than the
    * ISO parser's failure.
    */
  private def colonOffset(s: String): String = {
    val sign = s.length - 5
    if (sign > 10 && (s.charAt(sign) == '+' || s.charAt(sign) == '-') &&
        s.substring(sign + 1).forall(_.isDigit))
      s.substring(0, sign + 3) + ":" + s.substring(sign + 3)
    else s
  }

  /** An offset-free date string's fields: optional fraction and `Z`, or a
    * date alone (midnight, dateutil-style). Throws on unparseable input.
    */
  private def naive(raw: String): LocalDateTime = {
    val s = tSeparated(raw)
    try LocalDateTime.parse(s.stripSuffix("Z"), LocalFmt)
    catch {
      case _: Exception =>
        try LocalDateTime.of(LocalDate.parse(s), LocalTime.MIDNIGHT)
        catch {
          case e: Exception =>
            throw new IllegalArgumentException(s"Invalid string timestamp format: $raw", e)
        }
    }
  }

  /** Parse a date string to its wall-clock fields (offset discarded, not
    * applied — see class doc). Throws on unparseable input.
    */
  def parseToLocal(raw: String): LocalDateTime =
    withOffset(raw).fold(naive(raw))(_.toLocalDateTime)
}
