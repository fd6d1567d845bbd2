package graft.model

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

class TimestampsSpec extends AnyFunSuite {

  test("epoch with fractional micros (golden homie_mode)") {
    assert(Timestamps.format(Timestamps.fromEpochSeconds(1672174513.6086972))
      == "2022-12-27T20:55:13.608697Z")
  }

  test("epoch rounding matches CPython (golden emontx4 time)") {
    assert(Timestamps.format(Timestamps.fromEpochSeconds(1672191627.3893485))
      == "2022-12-28T01:40:27.389349Z")
  }

  test("ISO string with Z (golden glow)") {
    assert(Timestamps.format(Timestamps.fromString("2022-12-26T14:02:28Z"))
      == "2022-12-26T14:02:28.000000Z")
  }

  test("naive string with fraction (homie heartbeat envelope)") {
    assert(Timestamps.format(Timestamps.fromString("2022-12-26T13:44:54.724"))
      == "2022-12-26T13:44:54.724000Z")
  }

  test("space-separated and date-only forms") {
    assert(Timestamps.format(Timestamps.fromString("2022-12-26 14:02:28"))
      == "2022-12-26T14:02:28.000000Z")
    assert(Timestamps.format(Timestamps.fromString("2022-12-26")) == "2022-12-26T00:00:00.000000Z")
  }

  test("offset-aware input keeps wall-clock fields (dateutil parity)") {
    assert(Timestamps.format(Timestamps.fromString("2022-12-26T14:02:28+05:00"))
      == "2022-12-26T14:02:28.000000Z")
  }

  test("7+ fractional digits round like PostgreSQL rint (half-even), never truncate") {
    // the reference hands the raw string to PG timestamptz, whose parser
    // rint()s the sub-µs fraction — truncation would store 1 µs early
    assert(Timestamps.format(Timestamps.fromStringUtc("2022-12-26T14:02:28.1234567Z"))
      == "2022-12-26T14:02:28.123457Z")
    assert(Timestamps.format(Timestamps.fromStringUtc("2022-12-26T14:02:28.1234565Z"))
      == "2022-12-26T14:02:28.123456Z") // half-even: .5 to the even µs
    assert(Timestamps.format(Timestamps.fromStringUtc("2022-12-26T14:02:28.1234575Z"))
      == "2022-12-26T14:02:28.123458Z")
    assert(Timestamps.format(Timestamps.fromStringUtc("2022-12-26T14:02:59.9999995Z"))
      == "2022-12-26T14:03:00.000000Z") // carries into the next second
  }

  test("colon-less offsets: applied by fromStringUtc, wall clock for fromString") {
    assert(Timestamps.fromStringUtc("2022-12-26T14:02:28.1234567-0800")
      == java.time.Instant.parse("2022-12-26T22:02:28.123457Z"))
    assert(Timestamps.fromStringUtc("2022-12-26T14:02:28+0530")
      == java.time.Instant.parse("2022-12-26T08:32:28Z"))
    assert(Timestamps.fromString("2022-12-26T14:02:28.1234567-0800")
      == java.time.Instant.parse("2022-12-26T14:02:28.123457Z"))
    assert(Timestamps.fromString("2022-12-26 14:02:28+0530")
      == java.time.Instant.parse("2022-12-26T14:02:28Z"))
  }

  test("fromStringUtc applies every offset form a BMW poll carries") {
    val offset = java.time.Instant.parse("2023-10-27T20:55:00.123457Z")
    Seq("2023-10-27T21:55:00.1234567+01:00", "2023-10-27T19:55:00.1234567-0100",
        "2023-10-27T21:55:00.1234567+01", "2023-10-27T20:55:00.1234567z",
        "2023-10-27T20:55:00.1234567Z")
      .foreach(raw => assert(Timestamps.fromStringUtc(raw) == offset, raw))
    assert(Timestamps.fromStringUtc("2023-10-27T21:55:00.0000000Z")
      == java.time.Instant.parse("2023-10-27T21:55:00Z"))
    assert(Timestamps.fromStringUtc("2023-10-27T21:55:00Z")
      == java.time.Instant.parse("2023-10-27T21:55:00Z"))
    assert(Timestamps.fromStringUtc("2023-10-27T21:55:00.123456Z")
      == java.time.Instant.parse("2023-10-27T21:55:00.123456Z"))
  }

  test("epoch range check") {
    intercept[IllegalArgumentException](Timestamps.fromEpochSeconds(-1.0))
    intercept[IllegalArgumentException](Timestamps.fromEpochSeconds(253402300800.0))
    assert(Timestamps.format(Timestamps.fromEpochSeconds(0.0)) == "1970-01-01T00:00:00.000000Z")
    assert(Timestamps.format(Timestamps.fromEpochSeconds(253402300799.0))
      .startsWith("9999-12-31T23:59:59"))
  }

  test("unparseable strings throw") {
    intercept[IllegalArgumentException](Timestamps.fromString("not a date"))
  }

  test("round-trip: wire format parses back to the same instant (property)") {
    val prop = Prop.forAll(Gen.chooseNum(0L, 4102444800L), Gen.chooseNum(0, 999999)) {
      (s: Long, us: Int) =>
        val wire = Timestamps.format(Timestamps.fromEpochSeconds(s + us / 1e6))
        val inst = Timestamps.fromStringUtc(wire)
        val roundTripMicros = inst.getEpochSecond * 1000000L + inst.getNano / 1000L
        // within 1us of the (inexact, double) input
        math.abs(roundTripMicros - (s * 1000000L + us)) <= 1
    }
    assert(SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop).passed)
  }
}
