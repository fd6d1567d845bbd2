package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Continuous-aggregate contracts: partials re-aggregate exactly,
  * incremental refresh equals a full rebuild, retention drops only old
  * partitions.
  */
class ContinuousAggregateSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val T0 = 1704240000L // 2024-01-03T00:00:00Z

  /** Cent-quantized values across `days` days, hourly-ish cadence. */
  private def conditions(days: Int, perDay: Int = 48) = {
    import spark.implicits._
    (for { d <- 0 until days; i <- 0 until perDay } yield {
      val t = T0 + d * 86400L + i * (86400L / perDay)
      (java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(t)),
        s"s${i % 3}", "m", Option((d * 100 + i) * 0.01), Option.empty[String])
    }).toDF("timestamp", "measurement_subject", "measurement_of",
      "measurement_number", "measurement_string")
  }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/agg"

  test("rollup-served daily AVG equals the direct computation on quantized data") {
    val c = conditions(3)
    val path = tmp("cagg_direct")
    ContinuousAggregate.create(c, path, widthS = 3600)
    val served = ContinuousAggregate.query(spark, path, "s0", "m",
      T0, T0 + 3 * 86400, widthS = 86400)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val direct = c.filter(col("measurement_subject") === "s0" &&
        col("measurement_of") === "m")
      .withColumn("time_s", expr("(unix_micros(timestamp) div 86400000000) * 86400"))
      .groupBy("time_s")
      .agg(round(avg("measurement_number"), 6).as("v"))
      .orderBy("time_s")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(served.toSeq == direct.toSeq)
  }

  test("incremental refresh of changed days equals a full rebuild") {
    import spark.implicits._
    val base = conditions(3)
    val path = tmp("cagg_refresh")
    ContinuousAggregate.create(base, path, widthS = 3600)
    // late data lands on day 2 (2024-01-05) only
    val late = Seq((java.sql.Timestamp.from(
        java.time.Instant.ofEpochSecond(T0 + 2 * 86400L + 7777L)),
        "s0", "m", Option(9.99), Option.empty[String]))
      .toDF("timestamp", "measurement_subject", "measurement_of",
        "measurement_number", "measurement_string")
    val updated = base.unionByName(late)
    ContinuousAggregate.refresh(updated, path, widthS = 3600,
      sinceDate = "2024-01-05")
    val fresh = tmp("cagg_fresh")
    ContinuousAggregate.create(updated, fresh, widthS = 3600)
    def all(p: String) = spark.read.parquet(p)
      .orderBy("date", "measurement_subject", "measurement_of", "bucket_s")
      .drop("date") // partition column types equal anyway; compare values
      .collect().map(_.toSeq).toSeq
    assert(all(path) == all(fresh))
  }

  test("refresh never touches partitions before sinceDate") {
    val path = tmp("cagg_untouched")
    ContinuousAggregate.create(conditions(3), path, widthS = 3600)
    val day0 = new java.io.File(path, "date=2024-01-03")
    val before = day0.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified)).toSeq
    ContinuousAggregate.refresh(conditions(3), path, widthS = 3600,
      sinceDate = "2024-01-05")
    val after = day0.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified)).toSeq
    assert(before == after)
  }

  test("distinct cagg: served daily distinct counts equal COUNT(DISTINCT) on the raw rows") {
    val c = conditions(3) // 3 subjects, staggered across hours
    val path = tmp("cagg_distinct")
    ContinuousAggregate.createDistinct(c, path, widthS = 3600)
    val served = ContinuousAggregate.queryDistinct(spark, path, "m",
      T0, T0 + 3 * 86400, widthS = 86400)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val direct = c.filter(col("measurement_of") === "m")
      .withColumn("time_s", expr("(unix_micros(timestamp) div 86400000000) * 86400"))
      .groupBy("time_s")
      .agg(count_distinct(col("measurement_subject")).as("n"))
      .orderBy("time_s")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(served.toSeq == direct.toSeq && served.nonEmpty)
  }

  test("distinct cagg: HLL tier merges stored sketches and agrees at test cardinality") {
    // DataSketches HLL is exact in sparse mode — at 3 distinct subjects
    // the estimate must equal the exact tier bucket-for-bucket
    val c = conditions(2)
    val path = tmp("cagg_hll")
    ContinuousAggregate.createDistinct(c, path, widthS = 3600)
    val exact = ContinuousAggregate.queryDistinct(spark, path, "m",
      T0, T0 + 2 * 86400, widthS = 86400)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val approx = ContinuousAggregate.queryDistinctApprox(spark, path, "m",
      T0, T0 + 2 * 86400, widthS = 86400)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(approx.toSeq == exact.toSeq)
  }

  test("stats cagg: hourly store translated to daily anchors equals direct daily compute") {
    val c = conditions(3)
    val path = tmp("cagg_stats")
    ContinuousAggregate.createStats(c, path, widthS = 3600)
    val served = ContinuousAggregate.queryStats(spark, path, "s0", "m",
      T0, T0 + 3 * 86400, widthS = 86400)
      .collect().map(r => (r.getAs[Long]("time_s"), r.getAs[Long]("n"),
        r.getAs[Long]("sx"), r.getAs[Long]("sy"), r.getAs[Long]("sxx"),
        r.getAs[Long]("syy"), r.getAs[Long]("sxy")))
    // direct daily-anchored partials straight from the raw rows
    val direct = c.filter(col("measurement_subject") === "s0" &&
        col("measurement_of") === "m" && col("measurement_number").isNotNull)
      .withColumn("time_s", expr("(unix_micros(timestamp) div 86400000000) * 86400"))
      .withColumn("x", col("timestamp").cast("long") - col("time_s"))
      .withColumn("y", round(col("measurement_number") * 100, 0).cast("long"))
      .groupBy("time_s")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .orderBy("time_s")
      .collect().map(r => (r.getAs[Long]("time_s"), r.getAs[Long]("n"),
        r.getAs[Long]("sx"), r.getAs[Long]("sy"), r.getAs[Long]("sxx"),
        r.getAs[Long]("syy"), r.getAs[Long]("sxy")))
    assert(served.toSeq == direct.toSeq)
  }

  test("stats cagg: incremental refreshStats equals a full rebuild") {
    import spark.implicits._
    val base = conditions(3)
    val extra = Seq((java.sql.Timestamp.from(
        java.time.Instant.ofEpochSecond(T0 + 2 * 86400 + 7000)),
        "s0", "m", Option(42.42), Option.empty[String]))
      .toDF("timestamp", "measurement_subject", "measurement_of",
        "measurement_number", "measurement_string")
    val updated = base.unionByName(extra)
    val incPath = tmp("cagg_stats_inc")
    val fullPath = tmp("cagg_stats_full")
    ContinuousAggregate.createStats(base, incPath, widthS = 3600)
    ContinuousAggregate.refreshStats(updated, incPath, widthS = 3600,
      sinceDate = "2024-01-05")
    ContinuousAggregate.createStats(updated, fullPath, widthS = 3600)
    def snap(p: String) = spark.read.parquet(p)
      .orderBy("measurement_subject", "measurement_of", "bucket_s")
      .collect().map(_.toString).toSeq
    assert(snap(incPath) == snap(fullPath))
  }

  test("weekly serve shares the B2 time_bucket grid (origin-anchored, weeks start Monday)") {
    // 604800 does NOT divide the Timescale origin offset, so an epoch-0
    // grid would split weeks on Thursday while aggregatedDataByInterval
    // splits them on Monday — the rollup serve must share B2's grid
    val c = conditions(10)
    val path = tmp("cagg_weekly")
    ContinuousAggregate.create(c, path, widthS = 3600)
    val served = ContinuousAggregate.query(spark, path, "s0", "m",
        T0, T0 + 10 * 86400L, widthS = 604800)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val direct = c
      .filter(col("measurement_subject") === "s0" && col("measurement_of") === "m")
      .groupBy(graft.queries.TimeseriesQueries
        .timeBucketS(604800, col("timestamp")).as("time_s"))
      .agg(round(sum(expr("cast(round(measurement_number * 100, 0) as bigint)"))
        / (count(lit(1)) * 100.0), 6).as("avg"))
      .orderBy("time_s")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(served == direct)
    assert(served.size >= 2, "window must straddle a weekly boundary")
    served.foreach { case (t, _) =>
      assert((t - graft.queries.TimeseriesQueries.BucketOriginS) % 604800 == 0,
        s"bucket $t is not on the origin grid") }
  }

  test("serve and refresh widths validate against the store's recorded width") {
    val c = conditions(2)
    val path = tmp("cagg_width")
    ContinuousAggregate.create(c, path, widthS = 3600)
    val ex = intercept[IllegalArgumentException](
      ContinuousAggregate.query(spark, path, "s0", "m",
        T0, T0 + 86400L, widthS = 5000).collect())
    assert(ex.getMessage.contains("not a multiple"), ex.getMessage)
    val ex2 = intercept[IllegalArgumentException](
      ContinuousAggregate.refresh(c, path, widthS = 7200, sinceDate = "2024-01-03"))
    assert(ex2.getMessage.contains("does not match"), ex2.getMessage)
    // matching widths pass (and a multiple serves)
    ContinuousAggregate.refresh(c, path, widthS = 3600, sinceDate = "2024-01-03")
    assert(ContinuousAggregate.query(spark, path, "s0", "m",
      T0, T0 + 86400L, widthS = 7200).count() > 0)
  }

  test("non-default scale round-trips: values below the cent quantum survive scale=1000") {
    import spark.implicits._
    val c = Seq(
      (java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(T0)),
        "s1", "m", Option(0.001), Option.empty[String]),
      (java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(T0 + 60)),
        "s1", "m", Option(0.002), Option.empty[String]))
      .toDF("timestamp", "measurement_subject", "measurement_of",
        "measurement_number", "measurement_string")
    val path = tmp("cagg_scale")
    ContinuousAggregate.create(c, path, widthS = 3600, scale = 1000)
    val served = ContinuousAggregate.query(spark, path, "s1", "m",
        T0, T0 + 3600, widthS = 3600, scale = 1000)
      .head().getDouble(1)
    assert(served == 0.0015, s"scale=1000 store must serve 3-dp values: $served")
  }

  test("scale travels with the store: mismatched refresh and serve reject") {
    val c = conditions(2)
    val path = tmp("cagg_scale_guard")
    ContinuousAggregate.create(c, path, widthS = 3600, scale = 100)
    // a scale-1000 refresh would mix 10x magnitudes into the partials
    val ex = intercept[IllegalArgumentException](ContinuousAggregate.refresh(
      c, path, widthS = 3600, sinceDate = "2024-01-03", scale = 1000))
    assert(ex.getMessage.contains("scale"), ex.getMessage)
    // a scale-1000 serve would divide the stored sums by the wrong constant
    val ex2 = intercept[IllegalArgumentException](ContinuousAggregate.query(
      spark, path, "s0", "m", T0, T0 + 86400L, widthS = 3600, scale = 1000))
    assert(ex2.getMessage.contains("scale"), ex2.getMessage)
    // realtime serve builds the raw tail at the given scale — same hazard
    val ex3 = intercept[IllegalArgumentException](ContinuousAggregate.queryRealtime(
      spark, path, c, "s0", "m", T0, T0 + 86400L,
      widthS = 3600, storedWidthS = 3600, scale = 1000))
    assert(ex3.getMessage.contains("scale"), ex3.getMessage)
    // same stats-store contract
    val sp = tmp("cagg_scale_guard_stats")
    ContinuousAggregate.createStats(c, sp, widthS = 3600, scale = 100)
    val ex4 = intercept[IllegalArgumentException](ContinuousAggregate.refreshStats(
      c, sp, widthS = 3600, sinceDate = "2024-01-03", scale = 1000))
    assert(ex4.getMessage.contains("scale"), ex4.getMessage)
  }

  test("serves derive a date-partition predicate from the bucket range") {
    val c = conditions(4)
    val path = tmp("cagg_prune")
    ContinuousAggregate.create(c, path, widthS = 3600)
    // Spark can't infer date bounds from the bucket_s filter: without the
    // derived predicate every serve scans all date partitions forever
    val plan = ContinuousAggregate.query(spark, path, "s0", "m",
        T0, T0 + 86400L, widthS = 86400)
      .queryExecution.executedPlan.toString
    val pf = "(?s).*PartitionFilters: \\[[^\\]]*date[^\\]]*\\].*"
    assert(plan.matches(pf), s"no date PartitionFilters in:\n$plan")
    // and the pruned serve still answers exactly (day 1 of 4)
    val served = ContinuousAggregate.query(spark, path, "s0", "m",
      T0, T0 + 86400L, widthS = 86400).collect()
    assert(served.length == 1 && served.head.getLong(0) == T0)
  }

  test("retention drops exactly the partitions older than the cutoff") {
    val store = java.nio.file.Files.createTempDirectory("retention").toString
    ConditionsTable.write(conditions(4).drop("measurement_string")
      .withColumn("measurement_string", lit(null).cast("string"))
      .withColumn("date", to_date(col("timestamp"))), store)
    val dropped = ConditionsTable.dropPartitionsOlderThan(spark, store, "2024-01-05")
    assert(dropped == Seq("date=2024-01-03", "date=2024-01-04"))
    val left = spark.read.parquet(store).select("date").distinct()
      .collect().map(_.get(0).toString).sorted
    assert(left.toSeq == Seq("2024-01-05", "2024-01-06"))
    // idempotent
    assert(ConditionsTable.dropPartitionsOlderThan(spark, store, "2024-01-05").isEmpty)
  }

  test("realtime serving: stale rollup union raw tail equals from-scratch; materialized-only loses the tail") {
    val c = conditions(4)
    val path = tmp("cagg_rt")
    // STALE rollup: only the first 2 days are materialized
    ContinuousAggregate.create(
      c.filter(col("timestamp") < timestamp_seconds(lit(T0 + 2 * 86400))),
      path, widthS = 3600)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val realtime = pairs(ContinuousAggregate.queryRealtime(spark, path, c,
      "s0", "m", T0, T0 + 4 * 86400, widthS = 86400, storedWidthS = 3600))
    val fresh = tmp("cagg_rt_fresh")
    ContinuousAggregate.create(c, fresh, widthS = 3600)
    val direct = pairs(ContinuousAggregate.query(spark, fresh, "s0", "m",
      T0, T0 + 4 * 86400, widthS = 86400))
    assert(realtime == direct, s"realtime $realtime vs direct $direct")
    assert(realtime.length == 4)
    // the trap queryRealtime exists to close: materialized-only serving
    // of the same stale rollup silently drops days 2-3
    val matOnly = pairs(ContinuousAggregate.query(spark, path, "s0", "m",
      T0, T0 + 4 * 86400, widthS = 86400))
    assert(matOnly.length == 2, s"stale rollup should only hold 2 days, got $matOnly")
  }

  test("realtime distinct and stats serving on a stale rollup equal the from-scratch answers") {
    val c = conditions(4)
    val stale = c.filter(col("timestamp") < timestamp_seconds(lit(T0 + 2 * 86400)))
    // distinct tier
    val dPath = tmp("cagg_drt")
    ContinuousAggregate.createDistinct(stale, dPath, widthS = 3600)
    val dRealtime = ContinuousAggregate.queryDistinctRealtime(spark, dPath, c,
        "m", T0, T0 + 4 * 86400, widthS = 86400, storedWidthS = 3600)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val dFresh = tmp("cagg_drt_fresh")
    ContinuousAggregate.createDistinct(c, dFresh, widthS = 3600)
    val dDirect = ContinuousAggregate.queryDistinct(spark, dFresh, "m",
        T0, T0 + 4 * 86400, widthS = 86400)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(dRealtime == dDirect && dRealtime.length == 4)
    // materialized-only on the stale store loses the tail days
    assert(ContinuousAggregate.queryDistinct(spark, dPath, "m",
      T0, T0 + 4 * 86400, widthS = 86400).count() == 2)
    // stats tier
    val sPath = tmp("cagg_srt")
    ContinuousAggregate.createStats(stale, sPath, widthS = 3600)
    val sRealtime = ContinuousAggregate.queryStatsRealtime(spark, sPath, c,
        "s0", "m", T0, T0 + 4 * 86400, widthS = 86400, storedWidthS = 3600)
      .collect().map(_.toSeq).toSeq
    val sFresh = tmp("cagg_srt_fresh")
    ContinuousAggregate.createStats(c, sFresh, widthS = 3600)
    val sDirect = ContinuousAggregate.queryStats(spark, sFresh, "s0", "m",
        T0, T0 + 4 * 86400, widthS = 86400)
      .collect().map(_.toSeq).toSeq
    assert(sRealtime == sDirect && sRealtime.length == 4)
  }

  test("realtime HLL tier matches the exact realtime distinct counts at sparse cardinality") {
    val c = conditions(4)
    val path = tmp("cagg_hrt")
    ContinuousAggregate.createDistinct(
      c.filter(col("timestamp") < timestamp_seconds(lit(T0 + 2 * 86400))),
      path, widthS = 3600)
    val approx = ContinuousAggregate.queryDistinctApproxRealtime(spark, path, c,
        "m", T0, T0 + 4 * 86400, widthS = 86400, storedWidthS = 3600)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val exact = ContinuousAggregate.queryDistinctRealtime(spark, path, c,
        "m", T0, T0 + 4 * 86400, widthS = 86400, storedWidthS = 3600)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // 3 distinct subjects per bucket — sketches are in sparse mode, so
    // the estimate is exact, not merely close
    assert(approx == exact, s"approx $approx vs exact $exact")
  }

  test("realtime serving with an empty rollup computes everything from raw") {
    val c = conditions(2)
    val path = tmp("cagg_rt_empty")
    // a rollup created over an empty slice: no partitions at all
    ContinuousAggregate.create(c.filter(lit(false)), path, widthS = 3600)
    val realtime = ContinuousAggregate.queryRealtime(spark, path, c,
        "s0", "m", T0, T0 + 2 * 86400, widthS = 86400, storedWidthS = 3600)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val fresh = tmp("cagg_rt_empty_fresh")
    ContinuousAggregate.create(c, fresh, widthS = 3600)
    val direct = ContinuousAggregate.query(spark, fresh, "s0", "m",
        T0, T0 + 2 * 86400, widthS = 86400)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(realtime == direct)
    assert(realtime.length == 2)
  }

  test("realtime serves validate the caller-supplied storedWidthS against the width sidecar") {
    // a too-small-but-dividing storedWidthS passes the multiple check,
    // then silently shrinks the pruneDates slack and misplaces the
    // watermark — the sidecar must catch it before any rows are served
    val c = conditions(2)
    val path = tmp("cagg_rt_width_guard")
    ContinuousAggregate.create(c, path, widthS = 3600)
    val ex = intercept[IllegalArgumentException](ContinuousAggregate.queryRealtime(
      spark, path, c, "s0", "m", T0, T0 + 86400L,
      widthS = 3600, storedWidthS = 1800))
    assert(ex.getMessage.contains("storedWidthS"), ex.getMessage)
    val sp = tmp("cagg_rt_width_guard_stats")
    ContinuousAggregate.createStats(c, sp, widthS = 3600)
    val ex2 = intercept[IllegalArgumentException](ContinuousAggregate.queryStatsRealtime(
      spark, sp, c, "s0", "m", T0, T0 + 86400L,
      widthS = 3600, storedWidthS = 1800))
    assert(ex2.getMessage.contains("storedWidthS"), ex2.getMessage)
    val dp = tmp("cagg_rt_width_guard_distinct")
    ContinuousAggregate.createDistinct(c, dp, widthS = 3600)
    val ex3 = intercept[IllegalArgumentException](ContinuousAggregate.queryDistinctRealtime(
      spark, dp, c, "m", T0, T0 + 86400L, widthS = 3600, storedWidthS = 1800))
    assert(ex3.getMessage.contains("storedWidthS"), ex3.getMessage)
    val ex4 = intercept[IllegalArgumentException](
      ContinuousAggregate.queryDistinctApproxRealtime(
        spark, dp, c, "m", T0, T0 + 86400L, widthS = 3600, storedWidthS = 1800))
    assert(ex4.getMessage.contains("storedWidthS"), ex4.getMessage)
    // the matching width still serves
    assert(ContinuousAggregate.queryRealtime(spark, path, c, "s0", "m",
      T0, T0 + 86400L, widthS = 3600, storedWidthS = 3600).count() > 0)
  }

  test("grid origin travels with the store: mismatch and non-dividing pre-sidecar widths reject") {
    def dropSidecar(path: String, name: String): Unit =
      assert(new java.io.File(path, name).delete(), s"test setup: no $name at $path")
    // a store recorded on a DIFFERENT grid origin must refuse to serve
    // or refresh — mixed-grid buckets are plausible-looking wrong numbers
    val c = conditions(2)
    val path = tmp("cagg_grid_mismatch")
    ContinuousAggregate.create(c, path, widthS = 3600)
    RollupStore.writeSidecar(spark, path, RollupStore.GridFile, 0L)
    val ex = intercept[IllegalArgumentException](ContinuousAggregate.query(
      spark, path, "s0", "m", T0, T0 + 86400L, widthS = 3600).collect())
    assert(ex.getMessage.contains("grid"), ex.getMessage)
    val ex2 = intercept[IllegalArgumentException](ContinuousAggregate.refresh(
      c, path, widthS = 3600, sinceDate = "2024-01-03"))
    assert(ex2.getMessage.contains("grid"), ex2.getMessage)
    // a PRE-grid-sidecar store (grid unknown) at a width NOT dividing the
    // origin: epoch-floored and origin-anchored grids differ there, so
    // both refresh and serve must refuse instead of mixing alignments
    val weekly = tmp("cagg_grid_presidecar")
    ContinuousAggregate.create(c, weekly, widthS = 604800)
    dropSidecar(weekly, "_graft_grid")
    val ex3 = intercept[IllegalArgumentException](ContinuousAggregate.refresh(
      c, weekly, widthS = 604800, sinceDate = "2024-01-03"))
    assert(ex3.getMessage.contains("grid"), ex3.getMessage)
    val ex4 = intercept[IllegalArgumentException](ContinuousAggregate.query(
      spark, weekly, "s0", "m", T0, T0 + 604800L, widthS = 604800).collect())
    assert(ex4.getMessage.contains("grid"), ex4.getMessage)
    // ... while a pre-sidecar HOURLY store passes (3600 divides the
    // origin, so the two grids coincide and nothing can mix), and the
    // refresh then records the grid for good
    val hourly = tmp("cagg_grid_presidecar_hourly")
    ContinuousAggregate.create(c, hourly, widthS = 3600)
    dropSidecar(hourly, "_graft_grid")
    ContinuousAggregate.refresh(c, hourly, widthS = 3600, sinceDate = "2024-01-03")
    assert(RollupStore.recorded(spark, hourly).grid.isDefined,
      "refresh must re-record the grid sidecar")
    assert(ContinuousAggregate.query(spark, hourly, "s0", "m",
      T0, T0 + 86400L, widthS = 86400).count() > 0)
  }

  test("a rollup created over an empty slice serves no rows in the serve's usual schema") {
    val c = conditions(2)
    val none = c.filter(lit(false))
    def fields(df: org.apache.spark.sql.DataFrame) =
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq
    def emptyLike(empty: org.apache.spark.sql.DataFrame,
                  usual: org.apache.spark.sql.DataFrame): Unit = {
      assert(empty.collect().isEmpty)
      assert(usual.count() > 0, "test setup: the filled store must serve rows")
      assert(fields(empty) == fields(usual))
    }
    val (avg, avgFull) = (tmp("cagg_empty_avg"), tmp("cagg_full_avg"))
    ContinuousAggregate.create(none, avg, widthS = 3600)
    ContinuousAggregate.create(c, avgFull, widthS = 3600)
    def avgServe(p: String) =
      ContinuousAggregate.query(spark, p, "s0", "m", T0, T0 + 86400L, widthS = 86400)
    emptyLike(avgServe(avg), avgServe(avgFull))
    val (stats, statsFull) = (tmp("cagg_empty_stats"), tmp("cagg_full_stats"))
    ContinuousAggregate.createStats(none, stats, widthS = 3600)
    ContinuousAggregate.createStats(c, statsFull, widthS = 3600)
    def statsServe(p: String) =
      ContinuousAggregate.queryStats(spark, p, "s0", "m", T0, T0 + 86400L, widthS = 86400)
    emptyLike(statsServe(stats), statsServe(statsFull))
    val (dist, distFull) = (tmp("cagg_empty_distinct"), tmp("cagg_full_distinct"))
    ContinuousAggregate.createDistinct(none, dist, widthS = 3600)
    ContinuousAggregate.createDistinct(c, distFull, widthS = 3600)
    def exact(p: String) =
      ContinuousAggregate.queryDistinct(spark, p, "m", T0, T0 + 86400L, widthS = 86400)
    emptyLike(exact(dist), exact(distFull))
    def approx(p: String) =
      ContinuousAggregate.queryDistinctApprox(spark, p, "m", T0, T0 + 86400L, widthS = 86400)
    emptyLike(approx(dist), approx(distFull))
  }

  test("refresh and refreshStats reject a non-positive width or scale on a path with no recorded parameters") {
    // CaggStream creates its rollup through refresh, so the first refresh
    // must check what create checks
    val c = conditions(1)
    for ((w, sc) <- Seq((-3600L, 100), (0L, 100), (3600L, 0))) {
      val p = tmp("cagg_refresh_params")
      val ex = intercept[IllegalArgumentException](ContinuousAggregate.refresh(
        c, p, widthS = w, sinceDate = "2024-01-03", scale = sc))
      assert(ex.getMessage.contains("positive"), ex.getMessage)
      val sp = tmp("cagg_refresh_stats_params")
      val ex2 = intercept[IllegalArgumentException](ContinuousAggregate.refreshStats(
        c, sp, widthS = w, sinceDate = "2024-01-03", scale = sc))
      assert(ex2.getMessage.contains("positive"), ex2.getMessage)
      assert(!new java.io.File(p).exists && !new java.io.File(sp).exists,
        s"a rejected refresh (widthS $w, scale $sc) must write nothing")
    }
  }
}
