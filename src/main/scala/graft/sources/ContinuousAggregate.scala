package graft.sources

import graft.queries.TimeseriesQueries
import graft.sources.RollupStore.{Params, bucketOfTimestamp, serveBucketOf}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Continuous aggregates — the TimescaleDB feature the reference's
  * dashboards would lean on in production (`CREATE MATERIALIZED VIEW …
  * WITH (timescaledb.continuous)` + a refresh policy): a materialized
  * bucketed rollup of the conditions store that dashboards query instead
  * of the raw events, kept current by refreshing only the date
  * partitions that changed.
  *
  * Each store holds COMPOSABLE PARTIALS, not answers — exact integers or
  * mergeable state per (date, series, bucket), so any window of buckets
  * re-aggregates without FP drift. Storage, refresh, the recorded
  * creation parameters and their checks, date pruning and the real-time
  * split are the [[RollupStore]] contract; this object holds only each
  * kind's partials builder and serve aggregation. Serving is a scan of
  * the rollup (orders of magnitude smaller than the events); `widthS`
  * may be any multiple of the stored width, with half-open bounds
  * aligned to the stored width ([[RollupStore.serve]]).
  */
object ContinuousAggregate {

  private val AvgSchema = StructType.fromDDL("date DATE, " +
    "measurement_subject STRING, measurement_of STRING, bucket_s BIGINT, " +
    "sum_scaled BIGINT, n_events BIGINT")
  private val DistinctSchema = StructType.fromDDL("date DATE, " +
    "measurement_of STRING, bucket_s BIGINT, subjects ARRAY<STRING>, hll BINARY")
  private val StatsSchema = StructType.fromDDL("date DATE, " +
    "measurement_subject STRING, measurement_of STRING, bucket_s BIGINT, " +
    "n BIGINT, sx BIGINT, sy BIGINT, sxx BIGINT, syy BIGINT, sxy BIGINT")

  private val AvgPartials = Seq("bucket_s", "sum_scaled", "n_events").map(col)
  private val StatsPartials =
    Seq("bucket_s", "n", "sx", "sy", "sxx", "syy", "sxy").map(col)

  /** Full build: materialize the per-(date, subject, of, bucket) partial
    * rollup of `conditions` at `widthS` bucket width: `sum_scaled`
    * (Σ value·scale as BIGINT) + `n_events`.
    */
  def create(conditions: DataFrame, path: String, widthS: Long,
             scale: Int = 100): Unit =
    RollupStore.create(conditions, path, Params(widthS, Some(scale)))(
      rollup(_, widthS, scale))

  /** Incremental refresh: recompute ONLY dates ≥ `sinceDate` (ISO
    * `yyyy-MM-dd`) from the source and overwrite exactly those rollup
    * partitions — the refresh-policy analogue ("refresh the last N
    * days"), cost ∝ refreshed days. Requires the same `widthS` and
    * `scale` the rollup was created with.
    */
  def refresh(conditions: DataFrame, path: String, widthS: Long,
              sinceDate: String, scale: Int = 100): Unit =
    RollupStore.refresh(conditions, path, Params(widthS, Some(scale)), sinceDate)(
      rollup(_, widthS, scale))

  /** Serve the B2-shaped dashboard answer (bucketed AVG for one subject
    * and metric) FROM the rollup: partials re-aggregate exactly
    * (Σsum / Σcount over stored integers), output shaped like
    * [[graft.queries.TimeseriesQueries.aggregatedDataByInterval]]
    * (`time_s`, `avg_measurement_number` rounded 6 dp).
    */
  def query(spark: SparkSession, path: String, subject: String, of: String,
            startS: Long, endS: Long, widthS: Long,
            scale: Int = 100): DataFrame =
    serveAvg(RollupStore.serve(spark, path, AvgSchema, startS, endS,
        Params(widthS, Some(scale)))
      .filter(TimeseriesQueries.series(of, Some(subject))), widthS, scale)

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

  /** REAL-TIME serving ([[RollupStore.realtime]]): stored partials below
    * the watermark union partials built from the raw tail past it, both
    * at the stored width, so the answer is bit-identical to computing the
    * whole window from raw (the reference's dashboard pattern,
    * `db/get_aggregated_data.sql:24-29`, always sees live rows because it
    * queries the hypertable). `storedWidthS` must be the width the rollup
    * was created with.
    */
  def queryRealtime(spark: SparkSession, path: String, raw: DataFrame,
                    subject: String, of: String, startS: Long, endS: Long,
                    widthS: Long, storedWidthS: Long,
                    scale: Int = 100): DataFrame =
    serveAvg(RollupStore.realtime(spark, path, AvgSchema, raw, of, Some(subject),
        startS, endS, widthS, Params(storedWidthS, Some(scale)))(
      _.select(AvgPartials: _*),
      rollup(_, storedWidthS, scale).select(AvgPartials: _*)), widthS, scale)

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
  def createDistinct(conditions: DataFrame, path: String, widthS: Long): Unit =
    RollupStore.create(conditions, path, Params(widthS))(_
      .select(col("measurement_of"), col("measurement_subject"), col("timestamp"))
      .withColumn("bucket_s", bucketOfTimestamp(widthS))
      .withColumn("date", ConditionsTable.dateKey)
      .groupBy("date", "measurement_of", "bucket_s")
      .agg(sort_array(collect_set(col("measurement_subject"))).as("subjects"),
        hll_sketch_agg(col("measurement_subject")).as("hll")))

  private def distinctSlice(spark: SparkSession, path: String, of: String,
                            startS: Long, endS: Long, widthS: Long): DataFrame =
    RollupStore.serve(spark, path, DistinctSchema, startS, endS, Params(widthS))
      .filter(TimeseriesQueries.series(of))

  /** Serve distinct-subject counts per coarse bucket from the EXACT tier:
    * union the stored arrays (explode → distinct) — re-aggregation is
    * exact by construction.
    */
  def queryDistinct(spark: SparkSession, path: String, of: String,
                    startS: Long, endS: Long, widthS: Long): DataFrame =
    countSubjects(distinctSlice(spark, path, of, startS, endS, widthS)
      .select(serveBucketOf(widthS).as("time_s"), explode(col("subjects")).as("subject")))

  /** `(time_s, subject)` pairs → one exact distinct count per serve bucket. */
  private def countSubjects(pairs: DataFrame): DataFrame =
    pairs.groupBy("time_s")
      .agg(count_distinct(col("subject")).as("n_subjects"))
      .orderBy("time_s")

  /** Serve the same answer from the HLL tier: sketches merge with
    * `hll_union_agg` — constant bytes per stored bucket no matter how
    * many distinct subjects, the 100 TB path when the dimension is
    * unbounded (user IDs, not device fleets). Estimates are exact while
    * sketches are in sparse mode (small distinct counts) and ±~2%
    * (lgConfigK=12 default) beyond; the exact tier stays the contract.
    */
  def queryDistinctApprox(spark: SparkSession, path: String, of: String,
                          startS: Long, endS: Long, widthS: Long): DataFrame =
    estimateSubjects(distinctSlice(spark, path, of, startS, endS, widthS)
      .select(serveBucketOf(widthS).as("time_s"), col("hll")))

  /** `(time_s, hll)` sketches → one merged estimate per serve bucket. */
  private def estimateSubjects(sketches: DataFrame): DataFrame =
    sketches.groupBy("time_s")
      .agg(hll_sketch_estimate(hll_union_agg(col("hll"))).as("n_subjects"))
      .orderBy("time_s")

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
    val serveBucket = serveBucketOf(widthS)
    estimateSubjects(RollupStore.realtime(spark, path, DistinctSchema, raw, of,
        None, startS, endS, widthS, Params(storedWidthS))(
      _.select(serveBucket.as("time_s"), col("hll")),
      _.groupBy(serveBucket.as("time_s"))
        .agg(hll_sketch_agg(col("measurement_subject")).as("hll"))))
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
    val serveBucket = serveBucketOf(widthS)
    countSubjects(RollupStore.realtime(spark, path, DistinctSchema, raw, of,
        None, startS, endS, widthS, Params(storedWidthS))(
      _.select(serveBucket.as("time_s"), explode(col("subjects")).as("subject")),
      _.select(serveBucket.as("time_s"), col("measurement_subject").as("subject"))))
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
                  scale: Int = 100): Unit =
    RollupStore.create(conditions, path, Params(widthS, Some(scale)))(
      statsRollup(_, widthS, scale))

  /** Incremental refresh of a [[createStats]] store: same dynamic
    * partition-overwrite contract as [[refresh]] — only dates ≥
    * `sinceDate` are recomputed and swapped.
    */
  def refreshStats(conditions: DataFrame, path: String, widthS: Long,
                   sinceDate: String, scale: Int = 100): Unit =
    RollupStore.refresh(conditions, path, Params(widthS, Some(scale)), sinceDate)(
      statsRollup(_, widthS, scale))

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
    * derive.
    */
  def queryStats(spark: SparkSession, path: String, subject: String,
                 of: String, startS: Long, endS: Long, widthS: Long): DataFrame =
    serveStats(RollupStore.serve(spark, path, StatsSchema, startS, endS, Params(widthS))
      .filter(TimeseriesQueries.series(of, Some(subject))), widthS)

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
    * summed and derived.
    */
  def queryStatsRealtime(spark: SparkSession, path: String, raw: DataFrame,
                         subject: String, of: String, startS: Long,
                         endS: Long, widthS: Long, storedWidthS: Long,
                         scale: Int = 100): DataFrame =
    serveStats(RollupStore.realtime(spark, path, StatsSchema, raw, of, Some(subject),
        startS, endS, widthS, Params(storedWidthS, Some(scale)))(
      _.select(StatsPartials: _*),
      statsRollup(_, storedWidthS, scale).select(StatsPartials: _*)), widthS)

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
