package graft.sources

import graft.queries.TimeseriesQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Continuous aggregates — the TimescaleDB feature the reference's
  * dashboards would lean on in production (`CREATE MATERIALIZED VIEW …
  * WITH (timescaledb.continuous)` + a refresh policy): a materialized
  * bucketed rollup of the conditions store that dashboards query instead
  * of the raw events, kept current by refreshing only the date
  * partitions that changed.
  *
  * Design for Spark/parquet:
  *  - the rollup stores COMPOSABLE PARTIALS, not answers:
  *    (date, subject, of, bucket_s) → `sum_scaled` (Σ value·scale as
  *    BIGINT) + `n_events` — exact integers, so any window of buckets
  *    re-aggregates without FP drift and the served AVG is bit-stable;
  *  - it is date-partitioned like the source, so a refresh overwrites
  *    ONLY the named date directories (dynamic partition overwrite —
  *    the analogue of refreshing a chunk range) at cost ∝ the refreshed
  *    days, never the table;
  *  - serving is a scan of the rollup (orders of magnitude smaller than
  *    the events) with the same partition pruning.
  *
  * The bucket width is fixed at creation (stored in the path contract,
  * as with a Timescale cagg's fixed `time_bucket`); coarser widths
  * re-aggregate from the stored partials at query time.
  */
object ContinuousAggregate {

  /** The one bucket grid of the whole rollup family. Stored buckets AND
    * serve-time re-bucketing anchor at
    * [[graft.queries.TimeseriesQueries.BucketOriginS]] (2000-01-03, the
    * TimescaleDB `time_bucket` origin that makes weeks start Monday) —
    * the SAME grid the B-functions bucket raw rows on. The grids
    * coincide with plain epoch flooring for any width that divides the
    * origin (hour, day — all the oracle-gated widths), but a weekly
    * serve on an epoch-0 grid would split weeks on Thursday while
    * `aggregatedDataByInterval(604800)` splits them on Monday; a rollup
    * claiming to serve the B2 shape must share B2's grid at EVERY width.
    */
  private[sources] val OriginS: Long = graft.queries.TimeseriesQueries.BucketOriginS

  /** `time_bucket(widthS, timestamp)` on the origin grid (µs-exact). */
  private[sources] def bucketOfTimestamp(widthS: Long): org.apache.spark.sql.Column = {
    val wUs = widthS * 1000000L
    val oUs = OriginS * 1000000L
    expr(s"(((unix_micros(timestamp) - ${oUs}L) - " +
      s"pmod(unix_micros(timestamp) - ${oUs}L, ${wUs}L)) div ${wUs}L) " +
      s"* ${widthS}L + ${OriginS}L")
  }

  /** The coarser serve bucket of a stored `bucket_s`, same grid. */
  private[sources] def serveBucketOf(widthS: Long): org.apache.spark.sql.Column =
    expr(s"(((bucket_s - ${OriginS}L) - pmod(bucket_s - ${OriginS}L, ${widthS}L)) " +
      s"div ${widthS}L) * ${widthS}L + ${OriginS}L")

  /** The stored bucket width travels WITH the store (a `_graft_width`
    * sidecar, underscore-prefixed so Spark's file listing ignores it):
    * the non-realtime serves take no `storedWidthS` parameter, so
    * without it a serve at a width that is NOT a multiple of the stored
    * width would silently assign whole stored buckets to the wrong
    * serve bucket — plausible-looking, wrong numbers. With the sidecar
    * every serve and refresh validates; stores written before the
    * sidecar existed skip the check (None).
    */
  private def sidecar(spark: SparkSession, path: String, name: String) = {
    val p = new org.apache.hadoop.fs.Path(path, name)
    (p, p.getFileSystem(spark.sparkContext.hadoopConfiguration))
  }

  private[sources] def writeLongSidecar(spark: SparkSession, path: String,
                                        name: String, value: Long): Unit = {
    val (p, fs) = sidecar(spark, path, name)
    val out = fs.create(p, true)
    try out.write(value.toString.getBytes("UTF-8")) finally out.close()
  }

  private[sources] def storedLongOf(spark: SparkSession, path: String,
                                    name: String): Option[Long] = {
    val (p, fs) = sidecar(spark, path, name)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val src = scala.io.Source.fromInputStream(in, "UTF-8")
      try Some(src.mkString.trim.toLong) finally { src.close(); in.close() }
    }
  }

  private[sources] def writeWidthSidecar(spark: SparkSession, path: String,
                                         widthS: Long): Unit =
    writeLongSidecar(spark, path, "_graft_width", widthS)

  private[sources] def storedWidthOf(spark: SparkSession,
                                     path: String): Option[Long] =
    storedLongOf(spark, path, "_graft_width")

  /** The bucket-grid ORIGIN travels with the store too (`_graft_grid`
    * sidecar): the grid moved from epoch-floored to origin-anchored when
    * [[OriginS]] was introduced, and the width/scale sidecars cannot see
    * that difference — a pre-origin store refreshed (or realtime-served)
    * at a width that does NOT divide the origin would mix
    * Thursday-anchored stored buckets with Monday-anchored new ones:
    * plausible-looking, silently-mixed numbers. The sidecar records which
    * grid the stored buckets sit on; stores that predate it are accepted
    * only at widths where the two grids coincide (widths dividing the
    * origin — hour, day), and refused loudly otherwise.
    */
  private[sources] def writeGridSidecar(spark: SparkSession, path: String): Unit =
    writeLongSidecar(spark, path, "_graft_grid", OriginS)

  private[sources] def storedGridOf(spark: SparkSession,
                                    path: String): Option[Long] =
    storedLongOf(spark, path, "_graft_grid")

  /** Validate the store's bucket grid for a refresh or serve at
    * `widthS` (the STORED width where known — the grid question is about
    * the buckets already on disk). Pre-grid-sidecar stores pass only at
    * widths where epoch-floored ≡ origin-anchored (widthS | OriginS);
    * a store that has no width sidecar either is pre-sidecar entirely
    * and keeps its legacy skip (nothing recorded to validate against).
    */
  private def requireGrid(spark: SparkSession, path: String, widthS: Long,
                          what: String): Unit =
    storedGridOf(spark, path) match {
      case Some(g0) => require(g0 == OriginS,
        s"$what grid origin $OriginS does not match the store's grid $g0 " +
          s"(recorded in $path/_graft_grid) — mixed-grid rollups serve " +
          "buckets from two different alignments")
      case None =>
        val preexisting = storedWidthOf(spark, path).isDefined
        require(!preexisting || OriginS % widthS == 0,
          s"store at $path predates the grid sidecar and width $widthS " +
            s"does not divide the bucket origin $OriginS — epoch-floored " +
            "and origin-anchored grids differ at this width, so a " +
            s"$what could mix bucket alignments; rebuild the store with " +
            "create()")
    }

  /** Realtime serves take the stored width as a PARAMETER (the rollup
    * may be empty, so it cannot always be derived) — but when the
    * sidecar exists it must agree, or the pruneDates upper bound and the
    * watermark arithmetic silently drop stored buckets.
    */
  private def requireStoredWidthParam(spark: SparkSession, path: String,
                                      storedWidthS: Long): Unit =
    storedWidthOf(spark, path).foreach(w0 => require(w0 == storedWidthS,
      s"caller-supplied storedWidthS $storedWidthS does not match the " +
        s"store's width $w0 (recorded in $path/_graft_width) — date " +
        "pruning and the watermark would silently drop stored buckets"))

  /** The value scale travels with the store like the width (`_graft_scale`
    * sidecar): partials store `Σ value·scale`, so a refresh at a different
    * scale would mix magnitudes and a serve at a different scale divides
    * by the wrong constant — both silently-wrong-numbers, the exact class
    * the width sidecar exists to prevent. Pre-sidecar stores skip (None).
    */
  private[sources] def writeScaleSidecar(spark: SparkSession, path: String,
                                         scale: Int): Unit =
    writeLongSidecar(spark, path, "_graft_scale", scale.toLong)

  private[sources] def storedScaleOf(spark: SparkSession,
                                     path: String): Option[Long] =
    storedLongOf(spark, path, "_graft_scale")

  private def requireMatchingScale(spark: SparkSession, path: String,
                                   scale: Int, what: String): Unit =
    storedScaleOf(spark, path).foreach(s0 => require(s0 == scale,
      s"$what scale $scale does not match the store's scale $s0 " +
        s"(recorded in $path/_graft_scale)"))

  private def requireServableWidth(spark: SparkSession, path: String,
                                   widthS: Long): Unit =
    storedWidthOf(spark, path).foreach(w0 => require(widthS % w0 == 0,
      s"serve width $widthS is not a multiple of the stored width $w0 " +
        s"(recorded in $path/_graft_width)"))

  private def requireRefreshWidth(spark: SparkSession, path: String,
                                  widthS: Long): Unit =
    storedWidthOf(spark, path).foreach(w0 => require(w0 == widthS,
      s"refresh width $widthS does not match the store's width $w0 " +
        s"(recorded in $path/_graft_width) — a mismatched refresh would " +
        "corrupt the rollup"))

  /** Derive the date-partition predicate equivalent to a bucket_s range:
    * rows of bucket b carry timestamps in [b, b+storedWidth), so buckets
    * in [startS, endS) live only in dates [date(startS),
    * date(endS+storedWidth)]. Spark cannot infer this from the bucket_s
    * filter, so without it every serve lists and scans ALL date
    * partitions — cost linear in store age on every dashboard hit.
    * Applied only when the stored width is known (sidecar or explicit
    * parameter): a guessed slack could prune a straddling bucket's rows.
    */
  private[sources] def pruneDates(df: DataFrame, startS: Long, endS: Long,
                                  slackS: Option[Long]): DataFrame =
    slackS match {
      case Some(w0) if df.columns.contains("date") =>
        df.filter(ConditionsTable.datesCovering(startS, endS + w0))
      case _ => df
    }

  /** The stored rows of one series whose buckets lie in [startS, endS),
    * date-pruned as in [[pruneDates]].
    */
  private def storedSlice(roll: DataFrame, of: String, subject: Option[String],
                          startS: Long, endS: Long,
                          slackS: Option[Long]): DataFrame =
    pruneDates(roll, startS, endS, slackS)
      .filter(TimeseriesQueries.series(of, subject) &&
        col("bucket_s") >= startS && col("bucket_s") < endS)

  /** The raw rows of one series in [fromS, endS) — a realtime serve's
    * tail past the watermark.
    */
  private def rawTail(raw: DataFrame, of: String, subject: Option[String],
                      fromS: Long, endS: Long): DataFrame =
    TimeseriesQueries.scan(raw, of, fromS, endS, subject)
      .filter(col("timestamp") < timestamp_seconds(lit(endS)))

  /** Write date-partitioned rollup rows, replacing the store. */
  private[sources] def writeByDate(rows: DataFrame, path: String): Unit =
    rows.repartition(col("date"))
      .write.mode("overwrite").partitionBy("date").parquet(path)

  /** Refresh write: overwrite ONLY the date partitions `rows` holds
    * (dynamic partition overwrite — the analogue of refreshing a chunk
    * range), restoring the session's overwrite mode afterwards.
    */
  private[sources] def overwriteDates(rows: DataFrame, path: String): Unit = {
    val spark = rows.sparkSession
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try writeByDate(rows, path)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  /** Full build: materialize the per-(date, subject, of, bucket) partial
    * rollup of `conditions` at `widthS` bucket width.
    */
  def create(conditions: DataFrame, path: String, widthS: Long,
             scale: Int = 100): Unit = {
    require(widthS > 0 && scale > 0, "widthS and scale must be positive")
    writeByDate(rollup(conditions, widthS, scale), path)
    writeWidthSidecar(conditions.sparkSession, path, widthS)
    writeScaleSidecar(conditions.sparkSession, path, scale)
    writeGridSidecar(conditions.sparkSession, path)
  }

  /** Incremental refresh: recompute ONLY dates ≥ `sinceDate` (ISO
    * `yyyy-MM-dd`) from the source and overwrite exactly those rollup
    * partitions — the refresh-policy analogue ("refresh the last N
    * days"), cost ∝ refreshed days. Requires the same `widthS` the
    * rollup was created with.
    */
  def refresh(conditions: DataFrame, path: String, widthS: Long,
              sinceDate: String, scale: Int = 100): Unit = {
    require(sinceDate.matches("""\d{4}-\d{2}-\d{2}"""),
      s"sinceDate must be yyyy-MM-dd, got $sinceDate")
    val spark = conditions.sparkSession
    requireRefreshWidth(spark, path, widthS)
    requireMatchingScale(spark, path, scale, "refresh")
    requireGrid(spark, path, widthS, "refresh")
    overwriteDates(rollup(
      conditions.filter(ConditionsTable.dateKey >= lit(sinceDate)), widthS, scale), path)
    // refresh-maintained stores (e.g. CaggStream's rollup, never
    // create()d) get the sidecars on their first refresh
    writeWidthSidecar(spark, path, widthS)
    writeScaleSidecar(spark, path, scale)
    writeGridSidecar(spark, path)
  }

  /** Serve the B2-shaped dashboard answer (bucketed AVG for one subject
    * and metric) FROM the rollup: partials re-aggregate exactly
    * (Σsum / Σcount over stored integers), output shaped like
    * [[graft.queries.TimeseriesQueries.aggregatedDataByInterval]]
    * (`time_s`, `avg_measurement_number` rounded 6 dp). `widthS` may be
    * any multiple of the stored bucket width.
    *
    * Containment is HALF-OPEN `[startS, endS)` and both bounds should
    * align to the STORED bucket width: the rollup can only filter at
    * bucket granularity, and aligned half-open bounds make the bucket
    * filter exactly equal to the row-level filter (a closed upper bound
    * would silently admit the raw rows between `endS` and the end of
    * `endS`'s bucket — the classic materialized-rollup boundary trap).
    */
  def query(spark: SparkSession, path: String, subject: String, of: String,
            startS: Long, endS: Long, widthS: Long,
            scale: Int = 100): DataFrame = {
    requireServableWidth(spark, path, widthS)
    requireMatchingScale(spark, path, scale, "serve")
    requireGrid(spark, path, storedWidthOf(spark, path).getOrElse(widthS), "serve")
    serveAvg(storedSlice(spark.read.parquet(path), of, Some(subject), startS,
      endS, storedWidthOf(spark, path)), widthS, scale)
  }

  /** Re-aggregate `(bucket_s, sum_scaled, n_events)` partials to the
    * B2-shaped answer at serve width `widthS` — exact integer sums, one
    * final divide.
    */
  private def serveAvg(partials: DataFrame, widthS: Long, scale: Int): DataFrame =
    partials
      .withColumn("time_s", serveBucketOf(widthS))
      .groupBy("time_s")
      .agg(round(sum(col("sum_scaled")) / (sum(col("n_events")) * lit(scale * 1.0)), 6)
        .as("avg_measurement_number"))
      .orderBy("time_s")

  /** REAL-TIME serving (TimescaleDB real-time aggregate semantics):
    * materialized buckets UNION the raw tail past the refresh horizon.
    * [[query]] alone silently loses every row newer than the last
    * refresh — a dashboard's "last hour" panel over a rollup refreshed
    * nightly would show nothing for today (the reference's dashboard
    * pattern, `db/get_aggregated_data.sql:24-29`, always sees live
    * rows because it queries the hypertable; Timescale caggs keep that
    * property by defaulting to `materialized_only = false`).
    *
    * Watermark = end of the last materialized bucket (global, like
    * Timescale's per-cagg watermark), derived from the rollup itself in
    * two partition-pruned steps: max `date` partition, then max
    * `bucket_s` inside that one partition — never a full rollup scan.
    * Everything below the watermark serves from stored partials;
    * `raw` is scanned ONLY for `timestamp >= watermark` (at 100 TB the
    * tail is one refresh period of data, and the time predicate prunes
    * the raw store's date partitions). Both sides produce the same
    * integer partials at the STORED width, so a serve bucket straddling
    * the watermark merges exactly and the answer is bit-identical to
    * computing the whole window from raw.
    *
    * Timescale-faithful lag caveat: a row that arrives IN an
    * already-materialized bucket after its refresh is not visible until
    * the next [[refresh]] folds it in — the watermark splits by time,
    * not by arrival.
    *
    * `storedWidthS` must be the width the rollup was created with;
    * `widthS` (serve width) any multiple of it; bounds half-open and
    * aligned as in [[query]].
    */
  def queryRealtime(spark: SparkSession, path: String, raw: DataFrame,
                    subject: String, of: String, startS: Long, endS: Long,
                    widthS: Long, storedWidthS: Long,
                    scale: Int = 100): DataFrame = {
    require(storedWidthS > 0 && widthS % storedWidthS == 0,
      s"serve width $widthS must be a multiple of the stored width $storedWidthS")
    requireMatchingScale(spark, path, scale, "serve")
    requireStoredWidthParam(spark, path, storedWidthS)
    requireGrid(spark, path, storedWidthS, "realtime serve")
    val roll = readRollup(spark, path)
    val watermarkS = rollupWatermarkS(roll, storedWidthS, startS)
    val stored = roll.map(r =>
      storedSlice(r, of, Some(subject), startS, endS, Some(storedWidthS))
        .filter(col("bucket_s") < watermarkS)
        .select(col("bucket_s"), col("sum_scaled"), col("n_events")))
    val tail = rollup(
        rawTail(raw, of, Some(subject), math.max(watermarkS, startS), endS),
        storedWidthS, scale)
      .filter(col("bucket_s") >= startS && col("bucket_s") < endS)
      .select(col("bucket_s"), col("sum_scaled"), col("n_events"))
    serveAvg(stored.fold(tail)(_.unionByName(tail)), widthS, scale)
  }

  /** A rollup created over an empty slice has no files at all (no schema
    * to infer) — callers treat `None` as "serve everything from raw".
    */
  private def readRollup(spark: SparkSession, path: String): Option[DataFrame] =
    try Some(spark.read.parquet(path))
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getCondition == "UNABLE_TO_INFER_SCHEMA" => None
    }

  /** End of the last materialized bucket (the Timescale watermark),
    * derived in two partition-pruned steps: max `date` partition, then
    * max `bucket_s` inside that one partition — never a full rollup
    * scan. `startS` when the rollup is empty.
    */
  private def rollupWatermarkS(roll: Option[DataFrame], storedWidthS: Long,
                               startS: Long): Long = roll match {
    case None => startS
    case Some(r) =>
      val maxDate = r.select(max(col("date"))).head()
      if (maxDate.isNullAt(0)) startS
      else {
        val lastBucket = r.filter(col("date") === maxDate.getDate(0))
          .agg(max(col("bucket_s"))).head().getLong(0)
        lastBucket + storedWidthS
      }
  }

  /** Distinct-count continuous aggregate: COUNT(DISTINCT) does not
    * compose from plain partials (yesterday's 5 distinct + today's 5 may
    * be 5..10), so the rollup stores MERGEABLE distinct state per
    * (date, metric, bucket), two tiers in one table:
    *  - `subjects` — the sorted distinct-subject array, EXACT and
    *    composable by union; bounded by per-bucket subject cardinality
    *    (right for device-fleet-scale dimensions, and the oracle tier);
    *  - `hll` — a DataSketches HLL sketch (`hll_sketch_agg`), the
    *    unbounded-cardinality tier: fixed ~KB per bucket regardless of
    *    distinct count, merged at serve time with `hll_union_agg`
    *    (TimescaleDB toolkit `hyperloglog`/`rollup` parity).
    */
  def createDistinct(conditions: DataFrame, path: String, widthS: Long): Unit = {
    require(widthS > 0, "widthS must be positive")
    writeByDate(conditions
      .select(col("measurement_of"), col("measurement_subject"), col("timestamp"))
      .withColumn("bucket_s", bucketOfTimestamp(widthS))
      .withColumn("date", ConditionsTable.dateKey)
      .groupBy("date", "measurement_of", "bucket_s")
      .agg(sort_array(collect_set(col("measurement_subject"))).as("subjects"),
        hll_sketch_agg(col("measurement_subject")).as("hll")), path)
    writeWidthSidecar(conditions.sparkSession, path, widthS)
    writeGridSidecar(conditions.sparkSession, path)
  }

  /** Serve distinct-subject counts per coarse bucket from the EXACT tier:
    * union the stored arrays (explode → distinct) — re-aggregation is
    * exact by construction. Containment is half-open and store-aligned
    * (see [[query]]).
    */
  def queryDistinct(spark: SparkSession, path: String, of: String,
                    startS: Long, endS: Long, widthS: Long): DataFrame = {
    requireServableWidth(spark, path, widthS)
    requireGrid(spark, path, storedWidthOf(spark, path).getOrElse(widthS), "serve")
    storedSlice(spark.read.parquet(path), of, None, startS, endS,
        storedWidthOf(spark, path))
      .withColumn("time_s", serveBucketOf(widthS))
      .select(col("time_s"), explode(col("subjects")).as("subject"))
      .groupBy("time_s")
      .agg(count_distinct(col("subject")).as("n_subjects"))
      .orderBy("time_s")
  }

  /** Serve the same answer from the HLL tier: sketches merge with
    * `hll_union_agg` — constant bytes per stored bucket no matter how
    * many distinct subjects, the 100 TB path when the dimension is
    * unbounded (user IDs, not device fleets). Estimates are exact while
    * sketches are in sparse mode (small distinct counts) and ±~2%
    * (lgConfigK=12 default) beyond; the exact tier stays the contract.
    */
  def queryDistinctApprox(spark: SparkSession, path: String, of: String,
                          startS: Long, endS: Long, widthS: Long): DataFrame = {
    requireServableWidth(spark, path, widthS)
    requireGrid(spark, path, storedWidthOf(spark, path).getOrElse(widthS), "serve")
    storedSlice(spark.read.parquet(path), of, None, startS, endS,
        storedWidthOf(spark, path))
      .withColumn("time_s", serveBucketOf(widthS))
      .groupBy("time_s")
      .agg(hll_sketch_estimate(hll_union_agg(col("hll"))).as("n_subjects"))
      .orderBy("time_s")
  }

  /** [[queryDistinctRealtime]] on the HLL tier: stored sketches below
    * the watermark union per-bucket sketches BUILT FROM the raw tail
    * (DataSketches HLL union is exact-associative over the sketch
    * state), so the unbounded-cardinality tier serves live too —
    * constant bytes per stored bucket, one refresh period of raw rows
    * sketched at serve time. Estimates are exact while every
    * contributing sketch is in sparse mode, ±~2% beyond (the exact
    * array tier stays the contract).
    */
  def queryDistinctApproxRealtime(spark: SparkSession, path: String,
                                  raw: DataFrame, of: String, startS: Long,
                                  endS: Long, widthS: Long,
                                  storedWidthS: Long): DataFrame = {
    require(storedWidthS > 0 && widthS % storedWidthS == 0,
      s"serve width $widthS must be a multiple of the stored width $storedWidthS")
    requireStoredWidthParam(spark, path, storedWidthS)
    requireGrid(spark, path, storedWidthS, "realtime serve")
    val roll = readRollup(spark, path)
    val wm = rollupWatermarkS(roll, storedWidthS, startS)
    val serveBucket = serveBucketOf(widthS)
    val stored = roll.map(r =>
      storedSlice(r, of, None, startS, endS, Some(storedWidthS))
        .filter(col("bucket_s") < wm)
        .select(serveBucket.as("time_s"), col("hll")))
    val tail = rawTail(raw, of, None, math.max(wm, startS), endS)
      .withColumn("bucket_s", bucketOfTimestamp(storedWidthS))
      .filter(col("bucket_s") >= startS && col("bucket_s") < endS)
      .groupBy(serveBucket.as("time_s"))
      .agg(hll_sketch_agg(col("measurement_subject")).as("hll"))
    stored.fold(tail)(_.unionByName(tail))
      .groupBy("time_s")
      .agg(hll_sketch_estimate(hll_union_agg(col("hll"))).as("n_subjects"))
      .orderBy("time_s")
  }

  /** Real-time distinct-count serving — [[queryRealtime]]'s semantics
    * for the [[createDistinct]] store: stored subject ARRAYS below the
    * watermark union raw (time_s, subject) pairs past it, then one
    * distinct count per serve bucket. Exact by construction (set union
    * of exact sets); the raw scan is one refresh period.
    */
  def queryDistinctRealtime(spark: SparkSession, path: String, raw: DataFrame,
                            of: String, startS: Long, endS: Long,
                            widthS: Long, storedWidthS: Long): DataFrame = {
    require(storedWidthS > 0 && widthS % storedWidthS == 0,
      s"serve width $widthS must be a multiple of the stored width $storedWidthS")
    requireStoredWidthParam(spark, path, storedWidthS)
    requireGrid(spark, path, storedWidthS, "realtime serve")
    val roll = readRollup(spark, path)
    val wm = rollupWatermarkS(roll, storedWidthS, startS)
    val serveBucket = serveBucketOf(widthS)
    val stored = roll.map(r =>
      storedSlice(r, of, None, startS, endS, Some(storedWidthS))
        .filter(col("bucket_s") < wm)
        .select(serveBucket.as("time_s"), explode(col("subjects")).as("subject")))
    val tail = rawTail(raw, of, None, math.max(wm, startS), endS)
      .withColumn("bucket_s", bucketOfTimestamp(storedWidthS))
      .filter(col("bucket_s") >= startS && col("bucket_s") < endS)
      .select(serveBucket.as("time_s"), col("measurement_subject").as("subject"))
    stored.fold(tail)(_.unionByName(tail))
      .groupBy("time_s")
      .agg(count_distinct(col("subject")).as("n_subjects"))
      .orderBy("time_s")
  }


  /** stats_agg continuous aggregate: store the six composable statistical
    * partials (n, Σx, Σy, Σx², Σy², Σxy — see
    * [[graft.queries.TimeseriesQueries.statsAgg]]) per (date, subject,
    * of, bucket), with x anchored at EACH ROW'S OWN BUCKET START
    * (`x = epoch_s − bucket_s`). A per-bucket anchor keeps |x| ≤ widthS
    * forever (no overflow drift as the store ages — an absolute-epoch x
    * would put Σx² near 2⁶³ immediately), at the price that merging
    * buckets needs the exact integer TRANSLATION of second moments, which
    * [[queryStats]] applies:
    *
    *   x' = x + δ   (δ = own anchor − target anchor)
    *   Σx'  = Σx  + n·δ
    *   Σx'² = Σx² + 2δ·Σx + n·δ²
    *   Σx'y = Σxy + δ·Σy          (Σy, Σy², n unchanged)
    *
    * — all BIGINT-exact, so a coarse serve is bit-identical to computing
    * the coarse bucket from raw data (the toolkit's `rollup(stats_agg)`
    * with `shift`). Same storage layout/refresh contract as [[create]].
    */
  def createStats(conditions: DataFrame, path: String, widthS: Long,
                  scale: Int = 100): Unit = {
    require(widthS > 0 && scale > 0, "widthS and scale must be positive")
    writeByDate(statsRollup(conditions, widthS, scale), path)
    writeWidthSidecar(conditions.sparkSession, path, widthS)
    writeScaleSidecar(conditions.sparkSession, path, scale)
    writeGridSidecar(conditions.sparkSession, path)
  }

  /** Incremental refresh of a [[createStats]] store: same dynamic
    * partition-overwrite contract as [[refresh]] — only dates ≥
    * `sinceDate` are recomputed and swapped.
    */
  def refreshStats(conditions: DataFrame, path: String, widthS: Long,
                   sinceDate: String, scale: Int = 100): Unit = {
    require(sinceDate.matches("""\d{4}-\d{2}-\d{2}"""),
      s"sinceDate must be yyyy-MM-dd, got $sinceDate")
    val spark = conditions.sparkSession
    requireRefreshWidth(spark, path, widthS)
    requireMatchingScale(spark, path, scale, "refresh")
    requireGrid(spark, path, widthS, "refresh")
    overwriteDates(statsRollup(
      conditions.filter(ConditionsTable.dateKey >= lit(sinceDate)), widthS, scale), path)
    writeWidthSidecar(spark, path, widthS)
    writeScaleSidecar(spark, path, scale)
    writeGridSidecar(spark, path)
  }

  private def statsRollup(conditions: DataFrame, widthS: Long,
                          scale: Int): DataFrame = {
    conditions
      .filter(col("measurement_number").isNotNull)
      .select(col("measurement_subject"), col("measurement_of"),
        col("timestamp"),
        round(col("measurement_number") * scale, 0).cast("long").as("y"))
      .withColumn("bucket_s",
        bucketOfTimestamp(widthS))
      .withColumn("x", col("timestamp").cast("long") - col("bucket_s"))
      .withColumn("date", ConditionsTable.dateKey)
      .groupBy("date", "measurement_subject", "measurement_of", "bucket_s")
      .agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
  }

  /** Serve merged stats partials (plus derived stats) per coarse bucket
    * from a [[createStats]] store: translate each stored row's moments to
    * the coarse bucket's anchor (exact integers, formulas above), sum,
    * derive. `widthS` must be a multiple of the stored width; containment
    * is half-open and store-aligned (see [[query]]).
    */
  def queryStats(spark: SparkSession, path: String, subject: String,
                 of: String, startS: Long, endS: Long, widthS: Long): DataFrame = {
    requireServableWidth(spark, path, widthS)
    requireGrid(spark, path, storedWidthOf(spark, path).getOrElse(widthS), "serve")
    serveStats(storedSlice(spark.read.parquet(path), of, Some(subject), startS,
      endS, storedWidthOf(spark, path)), widthS)
  }

  /** Translate each stats partial row's moments to its serve bucket's
    * anchor (the exact integer algebra above), sum per serve bucket,
    * derive.
    */
  private def serveStats(partials: DataFrame, widthS: Long): DataFrame = {
    val shifted = partials
      .withColumn("time_s", serveBucketOf(widthS))
      .withColumn("d", col("bucket_s") - col("time_s"))
      .select(col("time_s"), col("n"),
        (col("sx") + col("n") * col("d")).as("sx"),
        col("sy"),
        (col("sxx") + lit(2L) * col("d") * col("sx") + col("n") * col("d") * col("d")).as("sxx"),
        col("syy"),
        (col("sxy") + col("d") * col("sy")).as("sxy"))
    TimeseriesQueries.statsDerive(
      shifted.groupBy("time_s")
        .agg(sum("n").as("n"), sum("sx").as("sx"), sum("sy").as("sy"),
          sum("sxx").as("sxx"), sum("syy").as("syy"), sum("sxy").as("sxy"))
        .orderBy("time_s"))
  }

  /** Real-time stats serving — [[queryRealtime]]'s semantics for the
    * [[createStats]] store: stored six-moment partials below the
    * watermark union raw-computed partials past it (same stored width,
    * same per-bucket x anchors), each translated to the serve bucket's
    * anchor with the exact integer algebra of [[queryStats]], then
    * summed and derived. Bit-identical to computing the whole window
    * from raw, raw scanned only for one refresh period.
    */
  def queryStatsRealtime(spark: SparkSession, path: String, raw: DataFrame,
                         subject: String, of: String, startS: Long,
                         endS: Long, widthS: Long, storedWidthS: Long,
                         scale: Int = 100): DataFrame = {
    require(storedWidthS > 0 && widthS % storedWidthS == 0,
      s"serve width $widthS must be a multiple of the stored width $storedWidthS")
    requireMatchingScale(spark, path, scale, "serve")
    requireStoredWidthParam(spark, path, storedWidthS)
    requireGrid(spark, path, storedWidthS, "realtime serve")
    val roll = readRollup(spark, path)
    val wm = rollupWatermarkS(roll, storedWidthS, startS)
    val stored = roll.map(r =>
      storedSlice(r, of, Some(subject), startS, endS, Some(storedWidthS))
        .filter(col("bucket_s") < wm)
        .select("bucket_s", "n", "sx", "sy", "sxx", "syy", "sxy"))
    val tail = statsRollup(
        rawTail(raw, of, Some(subject), math.max(wm, startS), endS),
        storedWidthS, scale)
      .filter(col("bucket_s") >= startS && col("bucket_s") < endS)
      .select("bucket_s", "n", "sx", "sy", "sxx", "syy", "sxy")
    serveStats(stored.fold(tail)(_.unionByName(tail)), widthS)
  }

  private def rollup(conditions: DataFrame, widthS: Long, scale: Int): DataFrame = {
    conditions
      .filter(col("measurement_number").isNotNull)
      .select(col("measurement_subject"), col("measurement_of"),
        col("timestamp"),
        round(col("measurement_number") * scale, 0).cast("long").as("c"))
      .withColumn("bucket_s",
        bucketOfTimestamp(widthS))
      .withColumn("date", ConditionsTable.dateKey)
      .groupBy("date", "measurement_subject", "measurement_of", "bucket_s")
      .agg(sum("c").as("sum_scaled"), count(lit(1)).as("n_events"))
  }
}
