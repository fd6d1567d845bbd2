package graft.sources

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class WireRecordsSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def rec(of: String, dtype: String, value: String): String =
    s"""{"timestamp": "2024-01-03T00:00:00.000000Z",
       | "measurement_publisher": "glow", "measurement_subject": "meter1",
       | "correlation_id": "cid-1", "measurement_of": "$of",
       | "measurement_data_type": "$dtype", "measurement_value": $value}""".stripMargin

  test("single record object: all four value types parse like the reference") {
    val n = WireRecords.parse(rec("power", "number", "\"42.5\"")).toOption.get.head
    assert(n.measurement_number.contains(42.5))
    val n2 = WireRecords.parse(rec("power", "number", "7")).toOption.get.head
    assert(n2.measurement_number.contains(7.0))
    val b = WireRecords.parse(rec("on", "boolean", "\"TRUE\"")).toOption.get.head
    assert(b.measurement_bool.contains(true))
    val b2 = WireRecords.parse(rec("on", "boolean", "false")).toOption.get.head
    assert(b2.measurement_bool.contains(false))
    val s = WireRecords.parse(rec("state", "string", "\"HEAT\"")).toOption.get.head
    assert(s.measurement_string.contains("HEAT"))
    val g = WireRecords.parse(rec("loc", "geography", "\"40.7128,-74.0062\"")).toOption.get.head
    assert(g.measurement_location.contains(Seq(40.7128, -74.0062)))
    val g2 = WireRecords.parse(rec("loc", "geography", "[40.7128, -74.0062]")).toOption.get.head
    assert(g2.measurement_location.contains(Seq(40.7128, -74.0062)))
  }

  test("v1 array envelope: one message carrying a whole record set") {
    val envelope = s"""[${rec("power", "number", "1")}, ${rec("state", "string", "\"a\"")}]"""
    val got = WireRecords.parse(envelope).toOption.get
    assert(got.length == 2)
    assert(got(0).measurement_number.contains(1.0))
    assert(got(1).measurement_string.contains("a"))
  }

  test("string values: JSON null stores SQL NULL; non-strings dead-letter; number accepts booleans") {
    // reference string branch returns the value unchanged: null → SQL
    // NULL; a container/number/boolean reaches the text-column insert and
    // errors → dead letter. Unconditional asText would silently store the
    // literal "null" / "" instead.
    val n = WireRecords.parse(rec("state", "string", "null")).toOption.get.head
    assert(n.measurement_string.isEmpty && n.measurement_data_type == "string")
    assert(WireRecords.parse(rec("state", "string", "{\"a\": 1}")).isLeft)
    assert(WireRecords.parse(rec("state", "string", "[1, 2]")).isLeft)
    assert(WireRecords.parse(rec("state", "string", "5")).isLeft)
    assert(WireRecords.parse(rec("state", "string", "true")).isLeft)
    // Python float(True) == 1.0: boolean under "number" coerces, not rejects
    val b = WireRecords.parse(rec("power", "number", "true")).toOption.get.head
    assert(b.measurement_number.contains(1.0))
    val b2 = WireRecords.parse(rec("power", "number", "false")).toOption.get.head
    assert(b2.measurement_number.contains(0.0))
  }

  test("legal-but-uncanonical timestamps normalize; garbage timestamps dead-letter") {
    // no fractional digits + offset: normalized to canonical µs wire format
    // with the offset APPLIED (PG timestamptz semantics) — previously this
    // passed validation and stored a NULL timestamp
    val offset = rec("power", "number", "1")
      .replace("2024-01-03T00:00:00.000000Z", "2024-01-03T01:00:00+01:00")
    val got = WireRecords.parse(offset).toOption.get.head
    assert(graft.model.Timestamps.format(got.timestamp) == "2024-01-03T00:00:00.000000Z")
    // and the storage boundary stores it as a real (non-null) timestamp
    import spark.implicits._
    val stored = ConditionsTable.toStorage(Seq(got).toDS())
      .select("timestamp").collect()
    assert(stored.head.getTimestamp(0) != null)
    // unparseable timestamp → whole message rejected
    val garbage = rec("power", "number", "1")
      .replace("2024-01-03T00:00:00.000000Z", "not a timestamp")
    assert(WireRecords.parse(garbage).isLeft)
  }

  test("validation failures reject the whole message with reference-style errors") {
    // missing required field
    val noCid = rec("power", "number", "1").replace("\"correlation_id\": \"cid-1\",", "")
    assert(WireRecords.parse(noCid).swap.toOption.get.getMessage.contains("Missing fields"))
    // bad boolean / number / type
    assert(WireRecords.parse(rec("x", "boolean", "\"yes\"")).isLeft)
    assert(WireRecords.parse(rec("x", "number", "\"abc\"")).isLeft)
    assert(WireRecords.parse(rec("x", "tuple", "1")).isLeft)
    // geography range checks
    assert(WireRecords.parse(rec("x", "geography", "\"91.0,0.0\"")).swap.toOption.get
      .getMessage.contains("latitude"))
    assert(WireRecords.parse(rec("x", "geography", "\"0.0,181.0\"")).swap.toOption.get
      .getMessage.contains("longitude"))
    // an array with one bad element drops the whole message (per-message
    // try/except in the reference)
    val mixed = s"""[${rec("power", "number", "1")}, ${rec("x", "number", "\"abc\"")}]"""
    assert(WireRecords.parse(mixed).isLeft)
    // non-record top level
    assert(WireRecords.parse("\"just a string\"").isLeft)
    assert(WireRecords.parse("not json").isLeft)
  }

  test("property: emit → parse round-trips every record shape exactly") {
    import graft.model.TimeseriesRecord
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val str = Gen.alphaNumStr.suchThat(_.nonEmpty)
    val finite = Gen.chooseNum(-1e12, 1e12)
    val cid = Gen.option(str)
    // µs instants (the wire parse is the identity on them, so emit → parse
    // is an exact round trip)
    val wireTs = Gen.chooseNum(0L, 4102444800L)
      .map(e => graft.model.Timestamps.fromEpochSeconds(e.toDouble))
    val recGen: Gen[TimeseriesRecord] = for {
      ts <- wireTs; sub <- str; pub <- str; of <- str; c <- cid
      r <- Gen.oneOf(
        finite.map(d => TimeseriesRecord.number(ts, sub, pub, of, d, c)),
        Gen.oneOf(true, false).map(b => TimeseriesRecord.boolean(ts, sub, pub, of, b, c)),
        // also exercise strings that look like other types
        Gen.oneOf(str, Gen.oneOf("true", "123", "[1,2]", "a b,c"))
          .map(s => TimeseriesRecord.string(ts, sub, pub, of, s, c)),
        Gen.zip(Gen.chooseNum(-90.0, 90.0), Gen.chooseNum(-180.0, 180.0))
          .map { case (la, lo) => TimeseriesRecord.geography(ts, sub, pub, of, Seq(la, lo), c) })
    } yield r
    val single = Prop.forAll(recGen) { r =>
      WireRecords.parse(WireRecords.emit(r)) == Right(Vector(r))
    }
    val envelope = Prop.forAll(Gen.listOfN(3, recGen)) { rs =>
      val msg = rs.map(WireRecords.emit).mkString("[", ",", "]")
      WireRecords.parse(msg) == Right(rs.toVector)
    }
    assert(SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), single).passed)
    assert(SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(100), envelope).passed)
  }

  test("decode + deadLetters partition a Dataset; storage boundary renders WKT") {
    import spark.implicits._
    val msgs = Seq(
      rec("power", "number", "3.5"),
      s"""[${rec("loc", "geography", "[40.0, -74.0]")}]""",
      rec("x", "number", "\"abc\"")
    ).toDS()
    val good = WireRecords.decode(msgs)
    assert(good.count() == 2)
    val dead = WireRecords.deadLetters(msgs).collect()
    assert(dead.length == 1 && dead.head.contains("abc"))
    val wkt = ConditionsTable.toStorage(good)
      .filter("measurement_location IS NOT NULL")
      .select("measurement_location").collect().map(_.getString(0))
    assert(wkt.toSeq == Seq("SRID=4326;POINT(-74.0 40.0)"))
  }
}
