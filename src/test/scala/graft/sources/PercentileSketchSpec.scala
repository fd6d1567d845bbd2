package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Percentile-sketch contracts: exactness for narrow values, the
  * 2^(1−subBits) relative-error bound against true disc-quantiles,
  * merge composability (incremental refresh ≡ full rebuild), and the
  * domain guard.
  */
class PercentileSketchSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val T0 = 1704240000L // 2024-01-03T00:00:00Z

  private def df(rows: Seq[(Long, Double)]) = {
    import spark.implicits._
    rows.map { case (off, v) =>
      (java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(T0 + off)),
        "s1", "m", Option(v), Option.empty[String])
    }.toDF("timestamp", "measurement_subject", "measurement_of",
      "measurement_number", "measurement_string")
  }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/sk"

  private def serveDay(path: String, days: Int, subBits: Int) =
    PercentileSketch.query(spark, path, T0, T0 + days * 86400L,
      widthS = 86400, subBits = subBits)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))

  test("values narrower than subBits bits are served exactly (rank-ceil selection)") {
    // cents 1..100 fit in 7 bits < subBits=20 → sketch degenerates to the
    // exact multiset; p50 = 50th smallest = 0.50, p95 = 0.95, p99 = 0.99
    val c = df((1 to 100).map(i => (i.toLong, i * 0.01)))
    val path = tmp("psk_exact")
    PercentileSketch.create(c, path, "m", T0, T0 + 86400, widthS = 3600,
      subBits = 20)
    assert(serveDay(path, 1, subBits = 20).toSeq ==
      Seq((T0, 50L, 95L, 99L, 100L)))
  }

  test("estimate is within the 2^(1-subBits) relative bound of the true disc-quantile") {
    val subBits = 6
    // deterministic skewed cents spanning many bit tiers (3 to ~19 bits)
    val cents = (0 until 4000).map(i => ((i * 2654435761L) % 500000L) + 7L)
    val c = df(cents.zipWithIndex.map { case (v, i) => (i.toLong, v * 0.01) })
    val path = tmp("psk_bound")
    PercentileSketch.create(c, path, "m", T0, T0 + 86400, widthS = 3600,
      subBits = subBits)
    val Array((_, p50, p95, p99, n)) = serveDay(path, 1, subBits)
    assert(n == 4000L)
    val sorted = cents.sorted
    def trueQ(numer: Int): Long = sorted((4000 * numer + 99) / 100 - 1)
    for ((est, numer) <- Seq((p50, 50), (p95, 95), (p99, 99))) {
      val v = trueQ(numer).toDouble
      assert(est <= v, s"p$numer lower-edge estimate must not exceed the true value")
      assert(est > v * (1 - math.pow(2, 1 - subBits)),
        s"p$numer estimate $est outside the relative bound of true $v")
    }
  }

  test("incremental refresh merges with untouched partials exactly (≡ full rebuild)") {
    val all = df((0 until 200).map(i => (i * 900L, ((i * 37) % 993) * 0.01)))
    val inc = tmp("psk_inc")
    val full = tmp("psk_full")
    // build from day 0 only, then refresh day 1+ (the day-2 rows arrive)
    PercentileSketch.create(all.filter(col("timestamp") <
        timestamp_seconds(lit(T0 + 86400))), inc, "m", T0, T0 + 3 * 86400,
      widthS = 3600, subBits = 6)
    PercentileSketch.refresh(all, inc, "m", T0, T0 + 3 * 86400,
      widthS = 3600, subBits = 6, sinceDate = "2024-01-04")
    PercentileSketch.create(all, full, "m", T0, T0 + 3 * 86400,
      widthS = 3600, subBits = 6)
    assert(serveDay(inc, 3, 6).toSeq == serveDay(full, 3, 6).toSeq)
  }

  test("weekly serve shares the origin grid (Monday weeks); sidecars reject mismatched serve/refresh params") {
    // 2024-01-03 is a Wednesday: its Monday-anchored week starts
    // 2024-01-01 (1704067200); an epoch-0 weekly floor would label it
    // Thursday 2023-12-28 (1703721600) — 4 days off, silently
    val c = df(Seq((0L, 1.0), (5 * 86400L, 2.0))) // Wed Jan 3; Mon Jan 8
    val path = tmp("psk_week")
    PercentileSketch.create(c, path, "m", T0, T0 + 7 * 86400, widthS = 3600,
      subBits = 6)
    val weeks = PercentileSketch.query(spark, path, 1704067200L,
        T0 + 7 * 86400, widthS = 604800, subBits = 6)
      .collect().map(_.getLong(0)).toSeq
    assert(weeks == Seq(1704067200L, 1704672000L), s"weeks: $weeks")
    // serve width not a multiple of the stored width
    val ex = intercept[IllegalArgumentException](
      PercentileSketch.query(spark, path, T0, T0 + 86400, widthS = 5400,
        subBits = 6).collect())
    assert(ex.getMessage.contains("not a multiple"), ex.getMessage)
    // mismatched subBits would reconstruct wrong bucket edges
    val ex2 = intercept[IllegalArgumentException](
      PercentileSketch.query(spark, path, T0, T0 + 86400, widthS = 86400,
        subBits = 7).collect())
    assert(ex2.getMessage.contains("subBits"), ex2.getMessage)
    // a mismatched refresh would corrupt the store
    val ex3 = intercept[IllegalArgumentException](
      PercentileSketch.refresh(c, path, "m", T0, T0 + 86400, widthS = 7200,
        subBits = 6, sinceDate = "2024-01-03"))
    assert(ex3.getMessage.contains("width"), ex3.getMessage)
  }

  test("negative values are outside the sketch domain and excluded by the scan") {
    val c = df(Seq((0L, -5.0), (1L, 1.0), (2L, 2.0)))
    val path = tmp("psk_neg")
    PercentileSketch.create(c, path, "m", T0, T0 + 86400, widthS = 3600,
      subBits = 6)
    val Array((_, _, _, _, n)) = serveDay(path, 1, 6)
    assert(n == 2L)
  }

  test("a sketch created over an empty slice serves no rows in the serve's usual schema") {
    val c = df(Seq((0L, 1.0), (60L, 2.0)))
    val (empty, full) = (tmp("psk_empty"), tmp("psk_full_schema"))
    PercentileSketch.create(c.filter(lit(false)), empty, "m", T0, T0 + 86400,
      widthS = 3600, subBits = 6)
    PercentileSketch.create(c, full, "m", T0, T0 + 86400, widthS = 3600, subBits = 6)
    def serve(p: String) =
      PercentileSketch.query(spark, p, T0, T0 + 86400L, widthS = 86400, subBits = 6)
    def fields(d: org.apache.spark.sql.DataFrame) =
      d.schema.fields.map(f => (f.name, f.dataType)).toSeq
    assert(serve(empty).collect().isEmpty)
    assert(serve(full).count() == 1)
    assert(fields(serve(empty)) == fields(serve(full)))
  }

  test("sketch stores record the bucket grid and refuse a mismatched one") {
    val c = df(Seq((0L, 1.0), (60L, 2.0)))
    val path = tmp("psk_grid")
    PercentileSketch.create(c, path, "m", T0, T0 + 86400, widthS = 3600, subBits = 6)
    assert(RollupStore.recorded(spark, path).grid.contains(RollupStore.OriginS))
    RollupStore.writeSidecar(spark, path, RollupStore.GridFile, 0L)
    val ex = intercept[IllegalArgumentException](
      PercentileSketch.query(spark, path, T0, T0 + 86400, widthS = 86400,
        subBits = 6).collect())
    assert(ex.getMessage.contains("grid"), ex.getMessage)
    val ex2 = intercept[IllegalArgumentException](
      PercentileSketch.refresh(c, path, "m", T0, T0 + 86400, widthS = 3600,
        subBits = 6, sinceDate = "2024-01-03"))
    assert(ex2.getMessage.contains("grid"), ex2.getMessage)
  }
}
