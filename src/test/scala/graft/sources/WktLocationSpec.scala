package graft.sources

import graft.model.TimeseriesRecord
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property spec for the PostGIS `geography(Point,4326)` round-trip
  * (`db/create_table_and_roles.sql:44`): the WKT we emit in
  * [[ConditionsTable.toStorage]] must parse back to the exact (lat, lon)
  * with SRID + range validation — mirroring the reference's DB round-trip
  * test (`shared_code/test/test_timescale.py:434-545`), which ours can't
  * run against a live PostGIS (none in the container).
  */
class WktLocationSpec extends AnyFunSuite {

  private val latGen = Gen.chooseNum(-90.0, 90.0)
  private val lonGen = Gen.chooseNum(-180.0, 180.0)

  test("encode→parse round-trips any valid (lat, lon) exactly") {
    val prop = Prop.forAll(latGen, lonGen) { (lat, lon) =>
      // identical shape to toStorage's format_string: POINT(lon lat) with
      // Double.toString (shortest exact repr, so toDouble round-trips)
      val wkt = s"SRID=4326;POINT($lon $lat)"
      ConditionsTable.parseLocation(wkt).contains((lat, lon))
    }
    assert(SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), prop).passed)
  }

  test("invalid SRID, geometry, or out-of-range coordinates are rejected") {
    assert(ConditionsTable.parseLocation("SRID=27700;POINT(1.0 2.0)").isEmpty)
    assert(ConditionsTable.parseLocation("POINT(1.0 2.0)").isEmpty)
    assert(ConditionsTable.parseLocation("SRID=4326;LINESTRING(0 0, 1 1)").isEmpty)
    assert(ConditionsTable.parseLocation("SRID=4326;POINT(181.0 0.0)").isEmpty)
    assert(ConditionsTable.parseLocation("SRID=4326;POINT(0.0 -90.5)").isEmpty)
    assert(ConditionsTable.parseLocation("SRID=4326;POINT(nan nan)").isEmpty)
    assert(ConditionsTable.parseLocation("garbage").isEmpty)
  }

  test("toStorage WKT parses back through both scalar and column paths") {
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    import spark.implicits._
    val pts = Seq((51.501364, -0.14189), (-33.8688, 151.2093), (0.0, 0.0))
    val recs = pts.map { case (lat, lon) =>
      TimeseriesRecord.geography(java.time.Instant.parse("2023-10-27T21:55:00.000000Z"), "car", "bmw",
        "coordinates", Vector(lat, lon), Some("cid"))
    }
    val stored = ConditionsTable.toStorage(spark.createDataset(recs))
    // scalar parse-back
    val scalarBack = stored.select("measurement_location").as[String].collect()
      .flatMap(ConditionsTable.parseLocation).toSet
    assert(scalarBack == pts.toSet)
    // distributed (codegen) parse-back
    val (latC, lonC) = ConditionsTable.locationLatLon(col("measurement_location"))
    val colBack = stored.select(latC.as("lat"), lonC.as("lon")).as[(Double, Double)]
      .collect().toSet
    assert(colBack == pts.toSet)
  }
}
