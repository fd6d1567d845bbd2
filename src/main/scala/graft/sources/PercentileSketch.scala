package graft.sources

import graft.queries.TimeseriesQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Composable percentile sketch — the TimescaleDB-toolkit `percentile_agg`
  * / UDDSketch shape (reference dashboards would call
  * `approx_percentile(0.95, percentile_agg(value))` over a continuous
  * aggregate): values are binned into log-spaced buckets, the sketch is
  * the per-bucket count vector, and any percentile is served by walking
  * the cumulative counts to the target rank. Count vectors ADD, so
  * sketches merge exactly across time buckets, partitions, and refreshes
  * — the property that makes percentiles continuous-aggregate-able at
  * 100 TB (exact percentiles don't compose; a stored rank walk does).
  *
  * Bucketing (engine-portable by construction, no FP anywhere):
  * for non-negative integer cents `c = round(value·scale)`,
  *   `bl  = length(bin(c))`            — the bit length (log₂ tier)
  *   `sub = c >> max(bl − subBits, 0)` — top `subBits` bits (sub-bucket)
  * The (bl, sub) key orders buckets by value range, disjointly; the
  * served estimate is the bucket's LOWER EDGE `sub << (bl − subBits)`.
  * For the rank-selected true value v this gives
  * `v·(1 − 2^(1−subBits)) < est ≤ v` — a guaranteed relative error of
  * 2^(1−subBits) (≈1.6% two-sided at subBits=6, halved per extra bit);
  * values with fewer than `subBits` bits are represented EXACTLY.
  * Everything is integer arithmetic Spark and DuckDB evaluate
  * identically (`bin`/`length`/shifts), so the contract is hash-exact,
  * unlike a γ-log sketch whose `ceil(log(x)/log(γ))` boundary cells
  * depend on libm rounding.
  *
  * Negative values are out of the sketch's domain (as in the toolkit's
  * uddsketch negatives are a separate sign store) — the scan filters
  * `measurement_number ≥ 0` and the scaladoc is the contract.
  *
  * Scale shape: building partials is one hash aggregation on
  * (date, bucket_s, bl, sub) — key cardinality is buckets × ≤2^subBits
  * sub-buckets × ~40 tiers, NOT row-proportional. Serving re-buckets the
  * partials (already tiny) with one window pass per served range.
  */
object PercentileSketch {

  /** Per-(date, bucket, sketch-cell) counts for one metric. */
  def partials(conditions: DataFrame, of: String, startS: Long, endS: Long,
               widthS: Long, subBits: Int, scale: Int = 100): DataFrame = {
    require(widthS > 0 && scale > 0, "widthS and scale must be positive")
    require(subBits >= 1 && subBits <= 40, s"subBits out of range: $subBits")
    TimeseriesQueries.scan(conditions, of, startS, endS)
      .filter(col("measurement_number") >= 0 &&
        col("timestamp") < timestamp_seconds(lit(endS)))
      .select(col("timestamp"),
        round(col("measurement_number") * scale, 0).cast("long").as("c"))
      // the shared origin-anchored grid (see ContinuousAggregate.OriginS)
      .withColumn("bucket_s", ContinuousAggregate.bucketOfTimestamp(widthS))
      .withColumn("date", ConditionsTable.dateKey)
      .withColumn("bl", length(bin(col("c"))).cast("int"))
      .withColumn("sub", expr(s"shiftright(c, greatest(bl - $subBits, 0))"))
      .groupBy("date", "bucket_s", "bl", "sub")
      .agg(count(lit(1)).as("n"))
  }

  /** Materialize the sketch partials date-partitioned (the percentile
    * continuous aggregate). `widthS`/`subBits` are the store's fixed
    * creation parameters, as with [[ContinuousAggregate.create]].
    */
  def create(conditions: DataFrame, path: String, of: String, startS: Long,
             endS: Long, widthS: Long, subBits: Int, scale: Int = 100): Unit = {
    ContinuousAggregate.writeByDate(
      partials(conditions, of, startS, endS, widthS, subBits, scale), path)
    writeSidecars(conditions.sparkSession, path, widthS, subBits, scale)
  }

  /** The creation parameters travel with the store (the
    * [[ContinuousAggregate]] `_graft_width` contract, extended): a serve
    * width that is not a multiple of the stored width assigns whole
    * stored buckets to the wrong serve bucket, and a serve `subBits`
    * different from creation reconstructs wrong bucket edges
    * (`shiftleft(sub, bl − subBits)`) — both silently wrong percentiles,
    * so [[query]] validates against the sidecars. `scale` only names the
    * unit of the output cents, but a mismatched reading misinterprets
    * every value, so it is recorded and checked too.
    */
  private def writeSidecars(spark: SparkSession, path: String, widthS: Long,
                            subBits: Int, scale: Int): Unit = {
    ContinuousAggregate.writeLongSidecar(spark, path, "_graft_width", widthS)
    ContinuousAggregate.writeLongSidecar(spark, path, "_graft_subbits", subBits.toLong)
    ContinuousAggregate.writeLongSidecar(spark, path, "_graft_scale", scale.toLong)
  }

  private def requireServable(spark: SparkSession, path: String,
                              widthS: Long, subBits: Int): Unit = {
    ContinuousAggregate.storedLongOf(spark, path, "_graft_width").foreach(w0 =>
      require(widthS % w0 == 0,
        s"serve width $widthS is not a multiple of the stored width $w0 " +
          s"(recorded in $path/_graft_width)"))
    ContinuousAggregate.storedLongOf(spark, path, "_graft_subbits").foreach(b0 =>
      require(b0 == subBits,
        s"serve subBits $subBits does not match the store's subBits $b0 " +
          s"(recorded in $path/_graft_subbits) — edges would reconstruct wrong"))
  }

  /** Incremental refresh: recompute only dates ≥ `sinceDate` and
    * dynamic-overwrite exactly those partitions — counts are composable,
    * so refreshed partials merge with untouched ones exactly.
    */
  def refresh(conditions: DataFrame, path: String, of: String, startS: Long,
              endS: Long, widthS: Long, subBits: Int, sinceDate: String,
              scale: Int = 100): Unit = {
    require(sinceDate.matches("""\d{4}-\d{2}-\d{2}"""),
      s"sinceDate must be yyyy-MM-dd, got $sinceDate")
    val spark = conditions.sparkSession
    requireRefreshParams(spark, path, widthS, subBits, scale)
    ContinuousAggregate.overwriteDates(partials(
        conditions.filter(ConditionsTable.dateKey >= lit(sinceDate)),
        of, startS, endS, widthS, subBits, scale), path)
    // refresh-maintained stores get the sidecars on their first refresh;
    // requireRefreshParams above has already rejected any mismatch
    writeSidecars(spark, path, widthS, subBits, scale)
  }

  private def requireRefreshParams(spark: SparkSession, path: String,
                                   widthS: Long, subBits: Int,
                                   scale: Int): Unit = {
    ContinuousAggregate.storedLongOf(spark, path, "_graft_width").foreach(w0 =>
      require(w0 == widthS,
        s"refresh width $widthS does not match the store's width $w0 — " +
          "a mismatched refresh would corrupt the sketch"))
    ContinuousAggregate.storedLongOf(spark, path, "_graft_subbits").foreach(b0 =>
      require(b0 == subBits,
        s"refresh subBits $subBits does not match the store's subBits $b0 — " +
          "a mismatched refresh would mix incompatible cell keys"))
    ContinuousAggregate.storedLongOf(spark, path, "_graft_scale").foreach(s0 =>
      require(s0 == scale,
        s"refresh scale $scale does not match the store's scale $s0 — " +
          "a mismatched refresh would mix cent magnitudes"))
  }

  /** Serve p50/p95/p99 per `widthS` bucket FROM stored partials (widthS
    * must be a multiple of the store's creation width; bounds half-open
    * and store-bucket-aligned, the [[ContinuousAggregate.query]]
    * containment rule). Ranks are ceil(N·p) computed in pure integers;
    * the estimate is the lower edge of the cell whose cumulative count
    * reaches the rank. Output cents are exact BIGINTs.
    */
  def query(spark: SparkSession, path: String, startS: Long, endS: Long,
            widthS: Long, subBits: Int): DataFrame = {
    requireServable(spark, path, widthS, subBits)
    // partials are stored on the shared origin-anchored grid
    // (ContinuousAggregate.bucketOfTimestamp), so the serve re-bucketing
    // must use the SAME grid (serveBucketOf) — a plain epoch-0 floor
    // coincides only at widths dividing the origin (hour/day) and would
    // silently mislabel e.g. weekly buckets by 4 days
    val merged = ContinuousAggregate.pruneDates(spark.read.parquet(path),
        startS, endS, ContinuousAggregate.storedLongOf(spark, path, "_graft_width"))
      .filter(col("bucket_s") >= startS && col("bucket_s") < endS)
      .withColumn("time_s", ContinuousAggregate.serveBucketOf(widthS))
      .groupBy("time_s", "bl", "sub")
      .agg(sum("n").as("n"))
    val wCum = Window.partitionBy("time_s").orderBy("bl", "sub")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("time_s")
    val edge = expr(s"shiftleft(sub, greatest(bl - $subBits, 0))")
    // ceil(total·p) in pure integers: (total·numer + 99) div 100 — both
    // operands positive, so truncating div IS floor, matching DuckDB `//`
    def pct(numer: Int): org.apache.spark.sql.Column =
      min(when(col("cum") >= expr(s"(total * $numer + 99) div 100"), edge))
    merged
      .withColumn("cum", sum("n").over(wCum))
      .withColumn("total", sum("n").over(wAll))
      .groupBy("time_s")
      .agg(pct(50).as("p50_cents"), pct(95).as("p95_cents"),
        pct(99).as("p99_cents"), max("total").as("n_values"))
      .orderBy("time_s")
  }
}
