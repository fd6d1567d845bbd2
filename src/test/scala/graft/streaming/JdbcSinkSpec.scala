package graft.streaming

import graft.sources.ConditionsTable
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** A7 JDBC conditions sink exercised against an embedded Derby database
  * (ships with Spark) — no external TimescaleDB is available in this
  * environment, but the writer path (`df.write.jdbc` append with table
  * auto-create) is database-agnostic.
  */
class JdbcSinkSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("jdbcBatchWriter round-trips conditions rows through embedded Derby") {
    import spark.implicits._
    val url = s"jdbc:derby:${Files.createTempDirectory("derby")}/conditions_db;create=true"
    val props = new java.util.Properties()

    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val corpus = mapper.readTree(getClass.getResourceAsStream("/golden_test_data.json"))
    import scala.jdk.CollectionConverters._
    val bodies = corpus.fields.asScala
      .filter(_.getValue.get("type").asText == "EventHubEvent")
      .map(_.getValue.get("properties").get("body").asText).toVector

    val records = ConditionsTable.normalize(spark, spark.createDataset(bodies))
    // the date column is a parquet partitioning concern; the DB table is
    // the reference's conditions shape
    val storage = ConditionsTable.toStorage(records).drop("date")

    IngestPipeline.jdbcBatchWriter(url, "conditions", props)(storage, 0L)
    // second batch appends (the per-micro-batch path)
    IngestPipeline.jdbcBatchWriter(url, "conditions", props)(storage.limit(5), 1L)

    // assert client-side: Derby maps strings to CLOB, which its SQL layer
    // cannot compare, so no pushed-down string predicates here
    val back = spark.read.jdbc(url, "conditions", props).collect()
    assert(back.length == 36 + 5)
    val glow = back.filter(r =>
      r.getAs[String]("measurement_of") == "import_cumulative" &&
      r.getAs[String]("measurement_subject") == "electricitymeter")
    assert(glow.map(_.getAs[Double]("measurement_number")).contains(5071.527))
    // timestamp fidelity through the database round-trip
    val ts = back.find(_.getAs[String]("measurement_of") == "mode").get
      .getAs[java.sql.Timestamp]("timestamp").toInstant.toString
    assert(ts == "2022-12-27T20:55:13.608697Z")
  }

  test("per-payload-type round-trip: number, string, boolean and geography WKT survive the database") {
    // mirrors the reference's per-type TimescaleDB round-trip
    // (shared_code/test/test_timescale.py:167-256): one row per
    // PayloadType, insert, read back, assert the value landed in ITS
    // column and nowhere else
    import graft.model.TimeseriesRecord
    val url = s"jdbc:derby:${Files.createTempDirectory("derby_types")}/types_db;create=true"
    val props = new java.util.Properties()
    val t = java.time.Instant.parse("2024-01-15T12:30:45.123456Z")
    def rec(of: String, dt: String, num: Option[Double] = None,
            str: Option[String] = None, bool: Option[Boolean] = None,
            loc: Option[Seq[Double]] = None) =
      TimeseriesRecord(t, "vin1", "bmw", of, dt, num, str, bool, loc, Some("c1"))
    val recs = Seq(
      rec("mileage", "number", num = Some(12345.0)),
      rec("charging_status", "string", str = Some("CHARGING")),
      rec("is_charger_connected", "boolean", bool = Some(true)),
      rec("coordinates", "geography", loc = Some(Seq(51.5074, -0.1278))))
    val storage = ConditionsTable.toStorage(spark.createDataset(recs)(
      org.apache.spark.sql.Encoders.product[TimeseriesRecord])).drop("date")
    IngestPipeline.jdbcBatchWriter(url, "conditions", props)(storage, 0L)

    val back = spark.read.jdbc(url, "conditions", props).collect()
    assert(back.length == 4)
    def row(of: String) = back.find(_.getAs[String]("measurement_of") == of).get
    assert(row("mileage").getAs[Double]("measurement_number") == 12345.0)
    assert(row("charging_status").getAs[String]("measurement_string") == "CHARGING")
    assert(row("is_charger_connected").getAs[Boolean]("measurement_bool"))
    // geography: [lat, lon] wire order → PostGIS WKT "POINT(lon lat)"
    val wkt = row("coordinates").getAs[String]("measurement_location")
    assert(wkt == "SRID=4326;POINT(-0.1278 51.5074)", wkt)
    assert(ConditionsTable.parseLocation(wkt).contains((51.5074, -0.1278)))
    // identify_data_column parity: EXACTLY one value column non-null per row
    val valueCols = Seq("measurement_number", "measurement_string",
      "measurement_bool", "measurement_location")
    back.foreach { r =>
      assert(valueCols.count(c => r.getAs[Any](c) != null) == 1,
        s"row ${r.getAs[String]("measurement_of")} must fill exactly one value column") }
    // µs fidelity holds for every type's row
    back.foreach { r =>
      assert(r.getAs[java.sql.Timestamp]("timestamp").toInstant.toString
        == "2024-01-15T12:30:45.123456Z") }
  }
}
