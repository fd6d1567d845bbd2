package graft.sources

import graft.queries.TimeseriesQueries
import graft.sources.RollupStore.Params
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

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

  private val SketchSchema = StructType.fromDDL(
    "date DATE, bucket_s BIGINT, bl INT, sub BIGINT, n BIGINT")

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
      // the shared origin-anchored grid (see RollupStore.OriginS)
      .withColumn("bucket_s", RollupStore.bucketOfTimestamp(widthS))
      .withColumn("date", ConditionsTable.dateKey)
      .withColumn("bl", length(bin(col("c"))).cast("int"))
      .withColumn("sub", expr(s"shiftright(c, greatest(bl - $subBits, 0))"))
      .groupBy("date", "bucket_s", "bl", "sub")
      .agg(count(lit(1)).as("n"))
  }

  /** Materialize the sketch partials date-partitioned (the percentile
    * continuous aggregate). `widthS`, `subBits` and `scale` are the
    * store's fixed creation parameters, recorded and checked by the
    * [[RollupStore]] contract: a serve `subBits` other than the creation
    * value reconstructs wrong bucket edges (`shiftleft(sub, bl − subBits)`).
    */
  def create(conditions: DataFrame, path: String, of: String, startS: Long,
             endS: Long, widthS: Long, subBits: Int, scale: Int = 100): Unit =
    RollupStore.create(conditions, path, Params(widthS, Some(scale), Some(subBits)))(
      partials(_, of, startS, endS, widthS, subBits, scale))

  /** Incremental refresh: recompute only dates ≥ `sinceDate` and
    * dynamic-overwrite exactly those partitions — counts are composable,
    * so refreshed partials merge with untouched ones exactly.
    */
  def refresh(conditions: DataFrame, path: String, of: String, startS: Long,
              endS: Long, widthS: Long, subBits: Int, sinceDate: String,
              scale: Int = 100): Unit =
    RollupStore.refresh(conditions, path,
        Params(widthS, Some(scale), Some(subBits)), sinceDate)(
      partials(_, of, startS, endS, widthS, subBits, scale))

  /** Serve p50/p95/p99 per `widthS` bucket FROM stored partials (widthS
    * must be a multiple of the store's creation width; bounds half-open
    * and store-bucket-aligned, the [[RollupStore.serve]] containment
    * rule). Ranks are ceil(N·p) computed in pure integers;
    * the estimate is the lower edge of the cell whose cumulative count
    * reaches the rank. Output cents are exact BIGINTs.
    */
  def query(spark: SparkSession, path: String, startS: Long, endS: Long,
            widthS: Long, subBits: Int): DataFrame = {
    // partials are stored on the shared origin-anchored grid, so the
    // serve re-bucketing must use the SAME grid (serveBucketOf) — a plain
    // epoch-0 floor coincides only at widths dividing the origin
    // (hour/day) and would silently mislabel e.g. weekly buckets by 4 days
    val merged = RollupStore.serve(spark, path, SketchSchema, startS, endS,
        Params(widthS, subBits = Some(subBits)))
      .withColumn("time_s", RollupStore.serveBucketOf(widthS))
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
