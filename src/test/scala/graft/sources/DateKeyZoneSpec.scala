package graft.sources

import graft.ConditionsView
import graft.model.TimeseriesRecord
import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The `date` partition key and its pruning predicate must not depend on
  * the session time zone: a store written in one zone reads back whole in
  * any other. Rows sit near UTC midnight, where a zone-local day differs
  * from the UTC day.
  */
class DateKeyZoneSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val T0 = 1704139200L // 2024-01-01T20:00:00Z

  /** Every 10 minutes for 32 h from T0, two subjects, a numeric and a
    * string metric.
    */
  private lazy val store: String = {
    import spark.implicits._
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val records = for {
      i <- 0 until 192
      sub <- Seq("s1", "s2")
      ts = java.time.Instant.ofEpochSecond(T0 + i * 600L)
      r <- Seq(
        TimeseriesRecord(ts, sub, "p", "temp", "number", Some(i % 7 + 0.5), None, None, None, None),
        TimeseriesRecord(ts, sub, "p", "state", "string", None,
          Some(if (i % 3 == 0) "on" else "off"), None, None, None))
    } yield r
    val dir = java.nio.file.Files.createTempDirectory("date_key_zone").toString + "/store"
    ConditionsTable.write(ConditionsTable.toStorage(records.toDS()), dir)
    dir
  }

  private def sorted(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted

  test("a UTC-written store reads whole through ConditionsView in any session zone") {
    val ranges = Seq(
      1704160800L -> 1704168000L, // 2024-01-02 02:00–04:00Z
      1704146400L -> 1704153000L, // 2024-01-01 22:00–23:50Z
      1704150000L -> 1704157200L) // across 2024-01-02 00:00Z
    val path = store // written under UTC
    try for (zone <- Seq("America/Los_Angeles", "Pacific/Kiritimati")) {
      spark.conf.set("spark.sql.session.timeZone", zone)
      val partitioned = ConditionsView.fromParquet(spark, path)
      val unpartitioned = new ConditionsView(ConditionsTable.read(spark, path).drop("date"))
      for ((a, b) <- ranges) {
        val what = s"[$a, $b] in $zone"
        val subjects = partitioned.getUniqueMeasurementSubjects(a, b, "temp").collect()
        assert(sorted(subjects) ==
          sorted(unpartitioned.getUniqueMeasurementSubjects(a, b, "temp").collect()), what)
        assert(subjects.length == 2, what)
        val buckets = partitioned.getAggregatedDataByInterval("s1", "temp", a, b, 600).collect()
        assert(sorted(buckets) == sorted(unpartitioned
          .getAggregatedDataByInterval("s1", "temp", a, b, 600).collect()), what)
        assert(buckets.length == ((b - a) / 600 + 1), what)
        assert(sorted(partitioned.filterUnchangedRows("s2", "state", a, b).collect()) ==
          sorted(unpartitioned.filterUnchangedRows("s2", "state", a, b).collect()), what)
      }
    } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
  }

  test("B3 by_day buckets by the UTC day in any session zone") {
    val path = store // written under UTC
    val days = Seq(1704067200L, 1704153600L, 1704240000L) // 2024-01-01..03 00:00Z
    def byDay(a: Long, b: Long): Seq[(Long, Double)] =
      ConditionsView.fromParquet(spark, path).getAggregatedDataByDay("s1", "temp", a, b)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val utcLong = byDay(days.head, days.head + 3 * 86400L)
    val utcShort = byDay(1704146400L, 1704157200L) // 22:00Z–01:00Z, 900 s grid
    assert(utcLong.map(_._1) == days)
    assert(utcShort.nonEmpty)
    try for (zone <- Seq("America/Los_Angeles", "Asia/Kathmandu")) {
      spark.conf.set("spark.sql.session.timeZone", zone)
      assert(byDay(days.head, days.head + 3 * 86400L) == utcLong, zone)
      assert(byDay(1704146400L, 1704157200L) == utcShort, zone)
    } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
  }

  test("the date key is the UTC day in any session zone, before the epoch too") {
    import spark.implicits._
    try for (zone <- Seq("America/Los_Angeles", "Pacific/Kiritimati")) {
      spark.conf.set("spark.sql.session.timeZone", zone)
      val days = Seq(-500000L, 0L, 1704153599999999L, 1704153600000000L).toDF("us")
        .select(org.apache.spark.sql.functions.timestamp_micros($"us").as("timestamp"))
        .select(ConditionsTable.dateKey.cast("string"))
        .as[String].collect().toSeq
      assert(days == Seq("1969-12-31", "1970-01-01", "2024-01-01", "2024-01-02"), zone)
    } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
  }

  test("sliceBytes is the covered date partitions' bytes on disk, in any session zone") {
    import spark.implicits._
    val path = store
    def onDisk(keep: String => Boolean): Long =
      new java.io.File(path).listFiles().filter(d => d.isDirectory && keep(d.getName))
        .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet")).map(_.length).sum
    def covered(a: Long, b: Long): Long = onDisk { dir =>
      val day = java.time.LocalDate.parse(dir.stripPrefix("date=")).toEpochDay
      day >= Math.floorDiv(a, 86400L) && day <= Math.floorDiv(b, 86400L)
    }
    val ranges = Seq(
      1704160800L -> 1704168000L, // 2024-01-02 02:00–04:00Z: one date
      1704146400L -> 1704153000L, // 2024-01-01 22:00–23:50Z: one date
      1704150000L -> 1704157200L, // across 2024-01-02 00:00Z: two dates
      0L -> 3600L) // 1970-01-01: no stored date
    try for (zone <- Seq("UTC", "America/Los_Angeles")) {
      spark.conf.set("spark.sql.session.timeZone", zone)
      val table = ConditionsTable.read(spark, path)
      for ((a, b) <- ranges)
        assert(ConditionsTable.sliceBytes(table, a, b).contains(covered(a, b)), s"[$a, $b] in $zone")
      // without its `date` column a slice cannot prune: every file counts
      assert(ConditionsTable.sliceBytes(table.drop("date"), 0L, 3600L).contains(onDisk(_ => true)))
      // Spark's estimate of the same slice is the whole store, not the
      // covered dates: a path read's partitions are pruned only in the
      // physical scan
      val (a, b) = ranges.head
      assert(table.filter(ConditionsTable.datesCovering(a, b)).queryExecution.optimizedPlan
        .stats.sizeInBytes == BigInt(onDisk(_ => true)))
    } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
    assert(covered(0L, 3600L) == 0L && covered(1704150000L, 1704157200L) > covered(1704160800L, 1704168000L))
    val table = ConditionsTable.read(spark, path)
    val local = Seq((1704160800L, "s1")).toDF("timestamp", "measurement_subject")
    assert(ConditionsTable.sliceBytes(local, 1704160800L, 1704168000L).isEmpty)
    assert(ConditionsTable.sliceBytes(table.unionByName(ConditionsTable.read(spark, path)),
      1704160800L, 1704168000L).isEmpty)
    // catalog tables, bucketed or date-partitioned, keep the parallel plan
    ConditionsTable.writeBucketed(table, "date_key_bucketed", buckets = 2)
    table.write.mode("overwrite").partitionBy("date").saveAsTable("date_key_partitioned")
    try for (name <- Seq("date_key_bucketed", "date_key_partitioned"))
      assert(ConditionsTable.sliceBytes(spark.table(name), 1704160800L, 1704168000L).isEmpty, name)
    finally Seq("date_key_bucketed", "date_key_partitioned")
      .foreach(name => spark.sql(s"DROP TABLE IF EXISTS $name"))
  }
}
