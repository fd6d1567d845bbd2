package graft.queries

import graft.functions.expressions.BoundParam
import graft.sources.ConditionsTable
import org.apache.spark.sql.{Column, DataFrame, Encoders, GraftColumn, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** The nine dashboard analytics functions (`db/` SQL files), re-expressed as
  * DataFrame transforms over a conditions-shaped input
  * (columns: `timestamp` TimestampType, `measurement_subject`,
  * `measurement_of`, `measurement_number`, `measurement_string`).
  *
  * All queries share the reference's parameterized scan
  * (`measurement_of = ? AND measurement_subject = ? AND timestamp BETWEEN
  * ? AND ?`, e.g. `db/get_aggregated_data.sql:24-29`). On a
  * date-partitioned parquet conditions table Catalyst turns that into
  * partition pruning + parquet row-group skipping — the Spark analogue of
  * hypertable chunk exclusion + the subject/of hash indexes.
  *
  * Scale notes: each of the nine queries is a scan → partial hash-agg →
  * final agg/window over an already-filtered slice, and its bounded
  * result is ordered in one task by [[inOrder]] (no range-partitioned
  * global sort). How the slice is read follows its size ([[during]]): a
  * slice no larger than [[OneTaskSliceBytes]] is read in one task, so the
  * aggregate, window and sort above it need no exchange and a dashboard
  * call runs one Spark job. A larger slice is scanned and partially
  * aggregated in parallel, then gathered through one hash exchange (two
  * jobs). The only whole-slice-to-one-node operators of a large slice
  * are the window functions of B8/B9, which the reference bounds to a
  * single (subject, metric) series — the same bound applies here
  * (`Window.partitionBy(measurement_subject)`).
  *
  * Output timestamps are emitted as BIGINT epoch seconds (`time_s`) to make
  * results engine-portable (parquet µs-vs-ns unit mismatches otherwise).
  */
object TimeseriesQueries {

  /** TimescaleDB `time_bucket` origin: 2000-01-03T00:00:00Z (Monday-aligned
    * epoch; timescale's documented default origin for second/minute/hour
    * widths). For widths dividing 86400 s this coincides with plain
    * epoch-floor.
    */
  val BucketOriginS: Long = 946857600L

  /** Epoch seconds (with µs fraction) of a timestamp column, as double.
    * Exact match for DuckDB's `epoch_us(ts)/1000000.0` — both are the same
    * IEEE ops on the same integers.
    */
  def epochS(ts: Column): Column = unix_micros(ts) / 1000000.0

  /** A per-call value as a query parameter ([[BoundParam]]): the
    * generated code reads it by reference, so calls that differ only in
    * such values (a fresh time range, a bucket width derived from it)
    * reuse one compiled class. `lit` stays for constants and for what
    * Spark needs foldable (a limit, a window frame, a `date_trunc` unit).
    */
  def param(value: Any, dataType: DataType): Column = GraftColumn(BoundParam(value, dataType))

  /** `time_bucket(width, ts)` as BIGINT epoch seconds; the width is a
    * [[param]].
    */
  def timeBucketS(widthS: Long, ts: Column): Column = {
    val width = param(widthS, LongType)
    (floor((epochS(ts) - BucketOriginS) / width) * width + BucketOriginS).cast("long")
  }

  /** The common parameterized scan — the ONE filter over a conditions
    * frame for metric, optional subject and time range [startS, endS]
    * (both inclusive). Callers needing a half-open end or only numeric
    * rows add one more `.filter`; Catalyst merges it into the same
    * pushed filter. The time slice itself is [[during]]: its bounds are
    * bound parameters, so a new range reuses the generated code, and
    * they still reach parquet `PushedFilters`.
    */
  def scan(conditions: DataFrame, of: String, startS: Long, endS: Long,
           subject: Option[String] = None): DataFrame =
    during(conditions.filter(series(of, subject)), startS, endS)

  /** The series key predicate: metric `of`, and `subject` when given. Also
    * selects rollup rows, which carry the same key columns.
    */
  def series(of: String, subject: Option[String] = None): Column = {
    val metric = col("measurement_of") === of
    subject.fold(metric)(s => metric && col("measurement_subject") === s)
  }

  /** The largest slice [[during]] reads in one task: 4 MiB. Measured
    * (SCALING.md "Round 20", "Where one task stops winning"): on 2 and 4
    * cores one task beats the parallel scan with its hash exchange at 2
    * and 4 MB, ties at 6 MB and loses from 10 MB. More cores move the
    * crossover down, toward the size whose one-task scan costs what the
    * second job and the exchange cost (about 3–7 MB), so the cut sits
    * below the measured crossover and inside that estimate.
    */
  val OneTaskSliceBytes: Long = 4L << 20

  /** The time slice [startS, endS] of a conditions frame, with four
    * plan-shape guarantees:
    *  - the range compares the timestamp column directly against the
    *    bounds (NOT `epochS(ts) >= x`, a function of the column that can
    *    never reach parquet min/max pruning) — for integer epoch bounds the
    *    two forms are exactly equivalent, and this one shows up in
    *    `PushedFilters` on a native conditions table;
    *  - the bounds are bound parameters ([[param]], TimestampType µs), not
    *    literals: the generated filter reads them by reference, so a call
    *    with a fresh range compiles nothing new, and being `Literal`s to
    *    the planner they still reach `PushedFilters`;
    *  - when the frame is date-partitioned (see
    *    [[graft.sources.ConditionsTable.write]]), the covering `date`
    *    predicate is added so directory-level partition pruning fires —
    *    Spark does not infer it from the timestamp range the way
    *    TimescaleDB derives hypertable chunk exclusion. Its dates stay
    *    literals: pruning is evaluated while planning, never compiled;
    *  - when the frame is one file relation whose covered files total at
    *    most [[OneTaskSliceBytes]]
    *    ([[graft.sources.ConditionsTable.sliceBytes]]), the slice is
    *    `coalesce(1)`'d: one task reads it, and its `SinglePartition`
    *    satisfies any later aggregate's or `partitionBy` window's
    *    distribution, so no exchange is planned. A larger slice, or any
    *    other frame (local, JDBC, streaming, a union, a catalog table),
    *    is returned as filtered and keeps its parallel scan.
    */
  def during(conditions: DataFrame, startS: Long, endS: Long): DataFrame = {
    def bound(s: Long) = param(Math.multiplyExact(s, 1000000L), TimestampType)
    val range = col("timestamp") >= bound(startS) && col("timestamp") <= bound(endS)
    val slice = conditions.filter(
      if (conditions.columns.contains("date"))
        range && ConditionsTable.datesCovering(startS, endS)
      else range)
    if (ConditionsTable.sliceBytes(conditions, startS, endS).exists(_ <= OneTaskSliceBytes))
      slice.coalesce(1)
    else slice
  }

  /** The one ordering step of the nine dashboard queries' results:
    * gather into one partition, sort there. A global `orderBy` would
    * range-partition instead — a sampling job for the partitioner, then
    * an exchange — which for a handful of rows is pure per-job cost.
    *
    * Bound: only for results that are small by construction — limited
    * by the resolution (B1, B5, B6), the bucket count over the range
    * (B2–B4), the distinct subjects of one metric (B7) or one series'
    * change points (B8, B9). Over a slice [[during]] reads in one task
    * the gather is a no-op and scan, aggregate and sort share that task;
    * over a larger slice the scan and the partial aggregate below stay
    * parallel, and only the final aggregate's output and what follows
    * run in the single task. A frame already in one partition
    * (`SinglePartition`) needs no exchange for any later window,
    * aggregate or sort, so operators chained after it stay in that task.
    */
  def inOrder(df: DataFrame, cols: String*): DataFrame =
    df.coalesce(1).sortWithinPartitions(cols.map(col): _*)

  /** B1 `get_aggregated_data` (`db/get_aggregated_data.sql`):
    * resolution-bounded time-bucketed AVG; bucket width = span/maxN,
    * LIMIT maxN.
    */
  def aggregatedData(conditions: DataFrame, subject: String, of: String,
                     startS: Long, endS: Long, maxN: Int): DataFrame = {
    val widthS = (endS - startS) / maxN
    require(widthS > 0, s"span ${endS - startS}s too small for $maxN buckets")
    aggregatedDataByInterval(conditions, subject, of, startS, endS, widthS)
      .limit(maxN)
  }

  /** B2 `get_aggregated_data_by_interval`: fixed-width bucket + AVG. */
  def aggregatedDataByInterval(conditions: DataFrame, subject: String, of: String,
                               startS: Long, endS: Long, intervalS: Long): DataFrame =
    inOrder(scan(conditions, of, startS, endS, Some(subject))
      .groupBy(timeBucketS(intervalS, col("timestamp")).as("time_s"))
      .agg(avg("measurement_number").as("avg_measurement_number")), "time_s")

  /** B3 `get_aggregated_data_by_day`: span ≤ 1 day → fine buckets anchored
    * at each row's own midnight (width = span/least(360, span/900)) with
    * AVG; span > 1 day → daily MAX (column deliberately still named
    * `avg_measurement_number`, as in the reference at
    * `db/get_aggregated_data_by_day.sql:45`). Midnight is the UTC day's
    * ([[ConditionsTable.utcDay]], the store's `date` key), in any session
    * time zone; PG's `date_trunc` follows `TimeZone`, which the reference
    * deployment runs at UTC.
    */
  def aggregatedDataByDay(conditions: DataFrame, subject: String, of: String,
                          startS: Long, endS: Long): DataFrame = {
    val span = endS - startS
    // PG raises division-by-zero for a zero span (LEAST(360, 0/900) = 0
    // divisor); fail fast with a real message instead of NaN buckets
    require(span > 0, s"span must be positive: start=$startS end=$endS")
    val base = scan(conditions, of, startS, endS, Some(subject))
    if (span <= 86400) {
      // PG parity (exact): `span / LEAST(360, extract(epoch from span)/900)`
      // with FRACTIONAL arithmetic, interval division rounding to integer
      // µs. In this branch span/900 ≤ 96 < 360, so the divisor is always
      // span/900 itself and the width reduces to exactly 900 s. The earlier
      // integer formula `span / (span/900).toLong` drifted for spans not
      // divisible by 900 (e.g. a 1000 s span made one 1000 s bucket instead
      // of two 900 s-grid buckets). Bucket arithmetic stays in integer µs —
      // bit-identical to PG's numeric floor — and widthUs is a whole number
      // of seconds here, so the µs bucket is losslessly emitted as time_s.
      val widthUs = math.rint(span * 1e6 / math.min(360.0, span / 900.0)).toLong
      val dayUs = ConditionsTable.utcDay(col("timestamp")) * 86400000000L
      val tsUs = unix_micros(col("timestamp"))
      // µs magnitudes (≤ ~1.7e15) are exactly representable in double, so
      // the double floor-division is exact at bucket boundaries
      val bucketUs = dayUs + (floor((tsUs - dayUs) / lit(widthUs.toDouble)) * widthUs).cast("long")
      inOrder(base.groupBy((bucketUs / lit(1e6)).cast("long").as("time_s"))
        .agg(avg("measurement_number").as("avg_measurement_number")), "time_s")
    } else {
      inOrder(base.groupBy((ConditionsTable.utcDay(col("timestamp")) * 86400L).as("time_s"))
        .agg(max("measurement_number").as("avg_measurement_number")), "time_s")
    }
  }

  /** B4 `get_most_frequent_value_by_time_interval`: adaptive-interval
    * per-bucket MODE of `measurement_string`. The reference picks the
    * interval with a COUNT pre-query (span/360 if >360 rows else 60 s),
    * then buckets by plain epoch floor (it bypasses `time_bucket` here).
    * The pre-query folds into the same plan: the parallel aggregate counts
    * the slice by BOTH candidate buckets and the value, and the counts,
    * gathered into one task, are reduced there by [[modeOfCounts]] — their
    * sum (= the slice's row count) picks the bucket, so no driver-side
    * action remains. The gathered rows are at most the slice's distinct
    * (minute, value) pairs, one series' bound like B8's window. The
    * span/360 width is a [[param]]; the 60 s one is a constant.
    */
  def mostFrequentValueByInterval(conditions: DataFrame, subject: String, of: String,
                                  startS: Long, endS: Long): DataFrame = {
    def bucket(intervalS: Column): Column =
      (floor(epochS(col("timestamp")) / intervalS) * intervalS).cast("long")
    val counts = scan(conditions, of, startS, endS, Some(subject))
      .groupBy(bucket(lit(60L)), bucket(param(math.max(1L, (endS - startS) / 360), LongType)),
        col("measurement_string"))
      .agg(count(lit(1)))
      .coalesce(1)
    inOrder(counts.mapPartitions(modeOfCounts)(Encoders.tuple(Encoders.LONG, Encoders.STRING))
      .toDF("time_s", "most_common_value"), "time_s")
  }

  /** B4's reduction of one slice's gathered counts — rows of (60 s
    * bucket, span/360 bucket, value, count) — to (bucket, mode): the
    * wider bucket when the counts sum to more than 360 rows, else the
    * 60 s one. PG's ordered-set `mode()` tie-breaks to the first value in
    * sort order, so the mode is the first value by (count DESC, value ASC
    * NULLS FIRST), values compared as Spark orders strings (UTF-8 bytes) —
    * the deterministic formulation Spark's built-in `mode` lacks.
    */
  private def modeOfCounts(counts: Iterator[Row]): Iterator[(java.lang.Long, String)] = {
    val rows = counts.map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toVector
    val wide = rows.iterator.map(_._4).sum > 360
    def precedes(a: (String, Long), b: (String, Long)): Boolean =
      if (a._2 != b._2) a._2 > b._2
      else b._1 != null &&
        (a._1 == null || UTF8String.fromString(a._1).compareTo(UTF8String.fromString(b._1)) < 0)
    rows.groupMapReduce(r => (if (wide) r._2 else r._1, r._3))(_._4)(_ + _)
      .groupMapReduce(_._1._1)(e => (e._1._2, e._2))((a, b) => if (precedes(a, b)) a else b)
      .iterator.map { case (t, (v, _)) => (Long.box(t), v) }
  }

  /** B5 v1 (`get_sampled_data` stand-in): grid-bucket AVG at
    * width = span/resolution, then a centered 5-point simple moving average
    * over the (present) buckets. Documented deviation from
    * `asap_smooth`: no gap-fill, fixed window. The full ASAP variant is
    * [[graft.functions.Asap]].
    */
  def sampledDataSma(conditions: DataFrame, subject: String, of: String,
                     startS: Long, endS: Long, resolution: Int): DataFrame = {
    val gridded = aggregatedDataByInterval(
      conditions, subject, of, startS, endS, (endS - startS) / resolution)
    // global-order window — deliberately unpartitioned: it smooths ONE
    // series already reduced to <= resolution rows by the bucketed agg, so
    // the single window partition is resolution-bounded, not data-bounded
    // (the WindowExec "no partition defined" warning is expected and
    // harmless here; the distributed work happened in the grid reduce).
    // The grid arrives in one partition from inOrder, so neither this
    // window nor the final ordering adds an exchange.
    val w = Window.orderBy("time_s").rowsBetween(-2, 2)
    inOrder(gridded.select(col("time_s"),
      avg("avg_measurement_number").over(w).as("smoothed_value")), "time_s")
  }

  /** Streaming variant of the bucketed AVG (B1/B2) over a live conditions
    * feed — the event-time extension the reference lacks (its dashboard
    * queries are batch-only; SURVEY §2B-cont "Streaming"). Tumbling
    * event-time windows + a watermark bound the aggregation state and
    * define the late-data policy explicitly. Works on any streaming
    * DataFrame with the conditions shape; emits closed windows in append
    * mode.
    */
  def streamingAggregatedByInterval(conditions: DataFrame, intervalS: Long,
                                    watermark: String = "1 hour"): DataFrame =
    conditions
      .withWatermark("timestamp", watermark)
      .groupBy(
        window(col("timestamp"), s"$intervalS seconds"),
        col("measurement_subject"), col("measurement_of"))
      .agg(avg("measurement_number").as("avg_measurement_number"))
      .select(unix_micros(col("window.start")).as("time_us"),
        col("measurement_subject"), col("measurement_of"),
        col("avg_measurement_number"))

  /** Exact-integer projection of [[streamingAggregatedByInterval]]'s
    * plan, for cross-engine correctness gates: identical event-time
    * window + watermark + append-mode machinery, but the emitted
    * aggregate is (Σ round(value·scale) as BIGINT, count) instead of a
    * double AVG — integer sums are order-independent and bit-exact in
    * any engine, where a rounded double AVG of decimal-quantized inputs
    * structurally lands ON rounding ties (e.g. cents/n with n divisible
    * by 128 ends …5 at the 7th decimal) and the two engines' summation
    * orders break the tie differently. The average is `sum_scaled /
    * (scale · n_events)` downstream when needed.
    */
  def streamingIntervalStats(conditions: DataFrame, intervalS: Long,
                             scale: Int = 100,
                             watermark: String = "1 hour"): DataFrame =
    conditions
      .withWatermark("timestamp", watermark)
      .groupBy(
        window(col("timestamp"), s"$intervalS seconds"),
        col("measurement_subject"), col("measurement_of"))
      .agg(
        sum(round(col("measurement_number") * scale, 0).cast("long")).as("sum_scaled"),
        count(col("measurement_number")).as("n_events"))
      .select(unix_micros(col("window.start")).as("time_us"),
        col("measurement_subject"), col("measurement_of"),
        col("sum_scaled"), col("n_events"))

  /** Streaming OHLC bars — [[ohlcBars]] as a live windowed aggregation:
    * tumbling event-time windows + watermark, the same min_by/max_by
    * composite-key aggregates (they are ordinary declarative aggregates,
    * so streaming state is one partial OHLC row per open (window,
    * subject) — bounded, no raw-event buffering). Emits on window close
    * (append mode); outputs are the batch contract's exact integers, so
    * the streaming gate shares the batch-replay oracle.
    */
  def streamingOhlc(conditions: DataFrame, intervalS: Long, scale: Int = 100,
                    watermark: String = "1 hour"): DataFrame =
    conditions
      .filter(col("measurement_number").isNotNull)
      .withWatermark("timestamp", watermark)
      .select(col("timestamp"), col("measurement_subject"),
        unix_micros(col("timestamp")).as("ts_us"),
        round(col("measurement_number") * scale, 0).cast("long").as("c"))
      .groupBy(window(col("timestamp"), s"$intervalS seconds"),
        col("measurement_subject"))
      .agg(
        min_by(col("c"), struct(col("ts_us"), col("c"))).as("open_scaled"),
        max(col("c")).as("high_scaled"),
        min(col("c")).as("low_scaled"),
        max_by(col("c"), struct(col("ts_us"), col("c"))).as("close_scaled"),
        count(lit(1)).as("n_events"))
      .select(unix_micros(col("window.start")).as("time_us"),
        col("measurement_subject"), col("open_scaled"), col("high_scaled"),
        col("low_scaled"), col("close_scaled"), col("n_events"))

  /** Sensor-outage report: the `topN` largest gaps between CONSECUTIVE
    * events of the same subject inside the scan range — the dashboard
    * complement of [[sessionize]] (a session gap is downtime seen from
    * the other side). All-µs integer arithmetic, so the oracle is exact.
    *
    * Scale shape: one hash shuffle on subject + per-subject sort for the
    * lag window (same plan family as B8/B9), then a global top-N which
    * Spark executes as TakeOrderedAndProject — per-partition heaps and a
    * driver merge of topN rows, never a full global sort.
    */
  def largestGaps(conditions: DataFrame, of: String, startS: Long, endS: Long,
                  topN: Int): DataFrame = {
    val w = Window.partitionBy("measurement_subject").orderBy("timestamp")
    scan(conditions, of, startS, endS)
      .select(col("measurement_subject"), col("timestamp"))
      .withColumn("prev_ts", lag("timestamp", 1).over(w))
      .filter(col("prev_ts").isNotNull)
      .select(col("measurement_subject"),
        unix_micros(col("prev_ts")).as("gap_start_us"),
        unix_micros(col("timestamp")).as("gap_end_us"))
      .withColumn("gap_us", col("gap_end_us") - col("gap_start_us"))
      .orderBy(col("gap_us").desc, col("measurement_subject").asc,
        col("gap_start_us").asc)
      .limit(topN)
  }

  /** Hampel outlier detection per (subject, epoch-aligned bucket):
    * flag rows where |x − median| > k · MAD (MAD = median of absolute
    * deviations — the robust dispersion the classic z-score lacks; a
    * sensor spike can't drag its own threshold the way it drags a
    * mean/stddev). The dashboard use is glitch triage; the
    * training-data use is the same logic as a quality filter.
    *
    * Everything is computed over `scale`-quantized INTEGER values
    * (default cents): integer medians interpolate to .0/.5 and MADs to
    * quarters — dyadic doubles, exact in ANY engine — so flag
    * comparisons have no floating-point boundary and the oracle is
    * bit-exact. (A double median of decimal-quantized inputs would sit
    * structurally ON comparison boundaries — same failure mode as a
    * rounded double AVG.) MAD = 0 (over half the bucket identical)
    * flags nothing — standard Hampel behavior, deliberate.
    *
    * Scale shape: one hash shuffle on (subject, bucket) + per-partition
    * sort, two Window aggregates over the SAME partitioning (one
    * exchange, reused), then a narrow filter — no second shuffle, no
    * driver-side stats. The exact `percentile` aggregate buffers the
    * distinct values of ONE (subject, bucket) group at a time, so
    * executor memory bounds the events a single subject may emit per
    * bucket — for pathologically hot subjects narrow `widthS` (state
    * shrinks linearly) or switch to [[hampelOutliersApprox]], whose
    * summary state is bounded by `accuracy` regardless of group size
    * (this exact tier stays the oracle contract).
    */
  def hampelOutliers(conditions: DataFrame, of: String, startS: Long, endS: Long,
                     widthS: Long, k: Int = 3, scale: Int = 100): DataFrame = {
    require(widthS > 0 && k > 0 && scale > 0, "widthS, k, scale must be positive")
    val w = Window.partitionBy("measurement_subject", "bucket_s")
    hampelScan(conditions, of, startS, endS, widthS, scale)
      .withColumn("med", expr("percentile(c, 0.5)").over(w))
      .withColumn("mad", expr("percentile(abs(c - med), 0.5)").over(w))
      .filter(abs(col("c") - col("med")) > col("mad") * k)
      .select(unix_micros(col("timestamp")).as("ts_us"),
        col("measurement_subject"), col("bucket_s"), col("c").as("value_scaled"),
        col("med").as("med_scaled"), col("mad").as("mad_scaled"))
      .orderBy("ts_us", "measurement_subject", "value_scaled")
  }

  /** Shared Hampel scan: the filtered slice with `c` (scale-quantized
    * integer value) and `bucket_s` (epoch-aligned bucket). Bucket math is
    * FLOOR division via the pmod idiom ([[IntervalJoin.pointInInterval]]'s
    * floorBin) — `div` truncates toward zero, which would bucket pre-1970
    * timestamps one slot apart from the oracle's `//` (floor), the exact
    * bug class the interval join fixed. The µs→bucket division composes
    * into one floor-divide by widthS·10⁶ (floor(floor(a/b)/c) =
    * floor(a/(b·c)) for positive b, c).
    */
  private def hampelScan(conditions: DataFrame, of: String, startS: Long,
                         endS: Long, widthS: Long, scale: Int): DataFrame = {
    val wUs = widthS * 1000000L
    scan(conditions, of, startS, endS)
      .filter(col("measurement_number").isNotNull)
      .select(col("measurement_subject"), col("timestamp"),
        round(col("measurement_number") * scale, 0).cast("long").as("c"))
      .withColumn("bucket_s",
        expr(s"((unix_micros(timestamp) - pmod(unix_micros(timestamp), ${wUs}L)) div ${wUs}L) * ${widthS}L"))
  }

  /** Approximate-quantile tier of [[hampelOutliers]] — the hot-subject
    * escape hatch. The exact tier's `percentile` buffers every value of
    * one (subject, bucket) group in a single task, so a pathologically
    * hot subject is bounded by executor memory; this tier swaps both
    * medians for `approx_percentile(…, accuracy)` whose state is
    * O(accuracy · log n) REGARDLESS of group size (Greenwald-Khanna
    * summaries), trading a documented error for a hard memory bound.
    *
    * Error contract: approx_percentile returns an actual group element
    * whose rank differs from the true median's by at most n/accuracy, so
    *  - `med`/`mad` are LongType group ELEMENTS (the exact tier's
    *    interpolated medians are dyadic doubles);
    *  - for groups with n ≤ accuracy the rank error is < 1 and the
    *    selection is DETERMINISTIC: the lower-middle element, rank
    *    ⌈n/2⌉ — exactly DuckDB's `quantile_disc`, which is how the gate
    *    replays this tier bit-for-bit (q_outliers_approx);
    *  - above that, a row flips flagged/unflagged only when |x − med|
    *    sits within the rank-error-induced boundary shift of k·MAD.
    *
    * The exact tier remains the correctness contract/oracle; this tier's
    * gate entry (q_outliers_approx) asserts flag-set agreement with the
    * exact tier on the driver corpus before returning rows.
    */
  def hampelOutliersApprox(conditions: DataFrame, of: String, startS: Long, endS: Long,
                           widthS: Long, k: Int = 3, scale: Int = 100,
                           accuracy: Int = 10000): DataFrame = {
    require(widthS > 0 && k > 0 && scale > 0 && accuracy > 0,
      "widthS, k, scale, accuracy must be positive")
    val w = Window.partitionBy("measurement_subject", "bucket_s")
    hampelScan(conditions, of, startS, endS, widthS, scale)
      .withColumn("med", expr(s"approx_percentile(c, 0.5D, $accuracy)").over(w))
      .withColumn("mad", expr(s"approx_percentile(abs(c - med), 0.5D, $accuracy)").over(w))
      .filter(abs(col("c") - col("med")) > col("mad") * k)
      .select(unix_micros(col("timestamp")).as("ts_us"),
        col("measurement_subject"), col("bucket_s"), col("c").as("value_scaled"),
        col("med").as("med_scaled"), col("mad").as("mad_scaled"))
      .orderBy("ts_us", "measurement_subject", "value_scaled")
  }

  /** Counter-to-rate conversion: cumulative meter readings (energy kWh,
    * vehicle odometer — the reference's emon/BMW domains are exactly
    * this) become per-interval consumption deltas. A NEGATIVE delta is a
    * counter RESET (meter swap, rollover): the interval is emitted with
    * `reset = true` and its delta EXCLUDED from `dv_scaled` (the
    * post-reset reading restarts the baseline; attributing it as
    * consumption double-counts the meter's history — the standard
    * PromQL/Timescale `rate`/`counter_agg` convention).
    *
    * Outputs are exact integers (`scale`-quantized value delta, µs time
    * delta) rather than a divided rate: the quotient is derivable
    * downstream, and integer outputs keep the cross-engine contract
    * bit-exact (a rounded rate would reintroduce the FP-tie surface).
    * One hash shuffle on subject + per-subject sort — B8/B9's plan
    * family.
    */
  /** Truncated EWMA smoothing (PromQL/monitoring-style trend line):
    * per-subject exponentially-weighted moving average over the trailing
    * `taps` readings,
    *
    *   y_i = Σ_{j<taps} 2⁻ʲ·x_{i−j} / Σ_{j<taps, present} 2⁻ʲ
    *
    * with α fixed at 1/2 so every weight is DYADIC: cent-quantized
    * readings times 2⁻ʲ are exact doubles, the numerator/denominator
    * sums are exact, and the only rounding is the final 6-dp — the
    * engine-portability trick the rollup family uses, applied to
    * smoothing. The head of each series normalizes over the weights
    * actually present (no warm-up bias, no NULL head).
    *
    * Plan shape: `taps` LAG columns over ONE (subject)-partitioned
    * window — a single exchange + sort per subject group, no
    * whole-series state; the recurrence form y=αx+(1−α)y would need a
    * sequential scan, the truncated form is what distributes.
    */
  def ewmaSmooth(conditions: DataFrame, of: String, startS: Long, endS: Long,
                 taps: Int = 8, scale: Int = 100): DataFrame = {
    require(taps >= 1 && taps <= 30, "taps must be in [1, 30]")
    // ties on duplicate timestamps ordered by the reading, the
    // counterToRate convention
    val w = Window.partitionBy("measurement_subject").orderBy("timestamp", "c")
    val base = scan(conditions, of, startS, endS)
      .filter(col("measurement_number").isNotNull)
      .select(col("measurement_subject"), col("timestamp"),
        round(col("measurement_number") * scale, 0).cast("long").as("c"))
    val lagged = (1 until taps).foldLeft(base) { (df, j) =>
      df.withColumn(s"__l$j", lag("c", j).over(w))
    }
    val num = (1 until taps).foldLeft(col("c").cast("double")) { (acc, j) =>
      acc + coalesce(col(s"__l$j").cast("double") * math.pow(0.5, j), lit(0.0))
    }
    val den = (1 until taps).foldLeft(lit(1.0)) { (acc, j) =>
      acc + when(col(s"__l$j").isNotNull, math.pow(0.5, j)).otherwise(0.0)
    }
    lagged.select(
        unix_micros(col("timestamp")).as("t_us"),
        col("measurement_subject"),
        col("c").as("raw_scaled"),
        round(num / den, 6).as("ewma"))
      .orderBy("measurement_subject", "t_us", "raw_scaled")
  }

  /** One-sided CUSUM drift detection (Page 1954): flags small persistent
    * upward shifts that spike detectors (Hampel) miss, per subject:
    *
    *   S_i = max(0, S_{i−1} + (x_i − target − slack)),  alarm when S > h.
    *
    * The max(0,·) recurrence looks sequential but has the classic closed
    * form S_i = prefix_i − min(0, min_{j≤i} prefix_j) over the running
    * sum of deviations — two plain window aggregates, fully distributed
    * (one subject-partitioned sort, no per-series scan) and, in cents,
    * INTEGER-EXACT end to end; the oracle replays the same windows.
    * All parameters are in cents (the store's quantization).
    */
  def cusumDrift(conditions: DataFrame, of: String, startS: Long, endS: Long,
                 targetCents: Long, slackCents: Long, threshCents: Long,
                 scale: Int = 100): DataFrame = {
    val w = Window.partitionBy("measurement_subject").orderBy("timestamp", "c")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scan(conditions, of, startS, endS)
      .filter(col("measurement_number").isNotNull)
      .select(col("measurement_subject"), col("timestamp"),
        round(col("measurement_number") * scale, 0).cast("long").as("c"))
      .withColumn("__d", col("c") - targetCents - slackCents)
      .withColumn("__prefix", sum("__d").over(w))
      .withColumn("__runmin", min("__prefix").over(w))
      .select(
        unix_micros(col("timestamp")).as("t_us"),
        col("measurement_subject"),
        col("c").as("raw_scaled"),
        (col("__prefix") - least(col("__runmin"), lit(0L))).as("cusum_scaled"))
      .withColumn("alarm", col("cusum_scaled") > threshCents)
      .orderBy("measurement_subject", "t_us", "raw_scaled")
  }

  def counterToRate(conditions: DataFrame, of: String, startS: Long, endS: Long,
                    scale: Int = 100): DataFrame = {
    require(scale > 0, "scale must be positive")
    // secondary sort on the reading makes duplicate-timestamp pairing
    // deterministic (lag's tie order otherwise differs across engines —
    // and two readings at one instant have no defined "order" anyway)
    val w = Window.partitionBy("measurement_subject").orderBy("timestamp", "c")
    scan(conditions, of, startS, endS)
      .filter(col("measurement_number").isNotNull)
      .select(col("measurement_subject"), col("timestamp"),
        round(col("measurement_number") * scale, 0).cast("long").as("c"))
      .withColumn("prev_ts", lag("timestamp", 1).over(w))
      .withColumn("prev_c", lag("c", 1).over(w))
      .filter(col("prev_ts").isNotNull)
      .select(
        unix_micros(col("prev_ts")).as("t_start_us"),
        unix_micros(col("timestamp")).as("t_end_us"),
        col("measurement_subject"),
        when(col("c") < col("prev_c"), lit(0L))
          .otherwise(col("c") - col("prev_c")).as("dv_scaled"),
        (unix_micros(col("timestamp")) - unix_micros(col("prev_ts"))).as("dt_us"),
        (col("c") < col("prev_c")).as("reset"))
      .orderBy("measurement_subject", "t_start_us", "t_end_us", "dv_scaled")
  }

  /** `counter_agg` rollup (TimescaleDB toolkit counter summary shape):
    * reset-aware monotonic-counter statistics per (subject, time bucket).
    * A reset is a reading lower than its in-bucket predecessor; the counter
    * is assumed to restart from 0, so the adjusted per-pair increment is
    * `c` itself on a reset and `c - prev_c` otherwise — exactly the
    * toolkit's `counter_agg → delta/num_resets/rate` triple, computed
    * without interpolation (within-bucket pairs only, the toolkit's
    * non-`interpolated_` accessors).
    *
    * All increments are exact scaled integers; only the final rate divides.
    *
    * Plan shape: ONE shuffle — the pair window partitions by
    * (subject, bucket) and the rollup groups by the same keys, so the hash
    * aggregation reuses the window's exchange. Reset state is per-series
    * window state; nothing reaches the driver.
    */
  def counterAgg(conditions: DataFrame, of: String, startS: Long, endS: Long,
                 bucketS: Long, scale: Int = 100): DataFrame = {
    require(scale > 0, "scale must be positive")
    require(bucketS > 0, "bucket width must be positive")
    val w = Window.partitionBy("measurement_subject", "time_s")
      .orderBy("timestamp", "c")
    scan(conditions, of, startS, endS)
      .filter(col("measurement_number").isNotNull)
      .select(col("measurement_subject"), col("timestamp"),
        round(col("measurement_number") * scale, 0).cast("long").as("c"),
        timeBucketS(bucketS, col("timestamp")).as("time_s"))
      .withColumn("prev_c", lag("c", 1).over(w))
      .groupBy("measurement_subject", "time_s")
      .agg(
        sum(when(col("prev_c").isNull, lit(0L))
          .when(col("c") < col("prev_c"), col("c"))
          .otherwise(col("c") - col("prev_c"))).as("delta_scaled"),
        sum(when(col("c") < col("prev_c"), lit(1L)).otherwise(lit(0L)))
          .as("num_resets"),
        count(lit(1)).as("n"),
        min(unix_micros(col("timestamp"))).as("first_us"),
        max(unix_micros(col("timestamp"))).as("last_us"))
      .withColumn("rate_per_s",
        when(col("last_us") > col("first_us"),
          round(col("delta_scaled").cast("double") / scale /
            ((col("last_us") - col("first_us")) / lit(1000000.0)), 6)))
      .orderBy("measurement_subject", "time_s")
  }

  /** `idelta_right` / `irate` (toolkit / PromQL): the LAST pair's
    * instantaneous delta and rate per (subject, bucket) — the
    * "most-recent slope" a live dashboard shows, vs [[counterAgg]]'s
    * whole-bucket average. One (subject, bucket) window: lag for the
    * pair, a reversed row_number to keep exactly the last pair; exact
    * integer outputs plus the one 6-dp rate divide.
    */
  def counterIdelta(conditions: DataFrame, of: String, startS: Long,
                    endS: Long, bucketS: Long, scale: Int = 100): DataFrame = {
    require(scale > 0 && bucketS > 0, "scale and bucket width must be positive")
    val w = Window.partitionBy("measurement_subject", "time_s")
      .orderBy("t_us", "c")
    val wDesc = Window.partitionBy("measurement_subject", "time_s")
      .orderBy(col("t_us").desc, col("c").desc)
    scan(conditions, of, startS, endS)
      .filter(col("measurement_number").isNotNull)
      .select(col("measurement_subject"),
        unix_micros(col("timestamp")).as("t_us"),
        round(col("measurement_number") * scale, 0).cast("long").as("c"),
        timeBucketS(bucketS, col("timestamp")).as("time_s"))
      .withColumn("prev_t", lag("t_us", 1).over(w))
      .withColumn("prev_c", lag("c", 1).over(w))
      .withColumn("rn", row_number().over(wDesc))
      .filter(col("rn") === 1 && col("prev_t").isNotNull)
      .select(col("measurement_subject"), col("time_s"),
        when(col("c") < col("prev_c"), lit(0L))
          .otherwise(col("c") - col("prev_c")).as("idelta_scaled"),
        (col("t_us") - col("prev_t")).as("idt_us"),
        (col("c") < col("prev_c")).as("reset"),
        when(col("t_us") > col("prev_t"),
          round(when(col("c") < col("prev_c"), lit(0L))
            .otherwise(col("c") - col("prev_c")).cast("double") / scale /
            ((col("t_us") - col("prev_t")) / lit(1000000.0)), 6)).as("irate_per_s"))
      .orderBy("measurement_subject", "time_s")
  }

  /** Fixed-bin histogram aggregate (toolkit `histogram`): per
    * (subject, time bucket), value counts over `nbins` equal bins of
    * [lo, hi) with underflow clamped to bin 0 and overflow to the last
    * bin. Bin edges are exact cents and the bin index is a NON-NEGATIVE
    * integer division (clamped before dividing — Spark's `div` truncates
    * toward zero while DuckDB's `//` floors, so negatives must never
    * reach the divide), making bin membership engine-identical. Only
    * non-empty bins are emitted; one hash agg.
    */
  def histogramAgg(conditions: DataFrame, of: String, startS: Long,
                   endS: Long, bucketS: Long, lo: Double, hi: Double,
                   nbins: Int, scale: Int = 100): DataFrame = {
    require(nbins > 0, "nbins must be positive")
    require(hi > lo, "hi must exceed lo")
    val loC = math.round(lo * scale)
    val spanC = math.round((hi - lo) * scale)
    require(spanC % nbins == 0,
      s"bin width must be exact in scaled units: span $spanC, bins $nbins")
    val widthC = spanC / nbins
    scan(conditions, of, startS, endS)
      .filter(col("measurement_number").isNotNull)
      .select(col("measurement_subject"),
        timeBucketS(bucketS, col("timestamp")).as("time_s"),
        round(col("measurement_number") * scale, 0).cast("long").as("c"))
      .withColumn("bin",
        least(expr(s"greatest(c - ${loC}L, 0L) div ${widthC}L"),
          lit(nbins - 1L)))
      .groupBy("measurement_subject", "time_s", "bin")
      .agg(count(lit(1)).as("n"))
      .orderBy("measurement_subject", "time_s", "bin")
  }

  /** The ops-side data card (the [[graft.operators.TextAnalysis
    * .corpusReport]] treatment for the conditions store): per metric —
    * row count, distinct subjects, observed time extent, and the exact-
    * cents mean. One hash agg; every column engine-exact (the mean
    * divides two exact integers once, at the end).
    */
  def conditionsReport(conditions: DataFrame, startS: Long,
                       endS: Long, scale: Int = 100): DataFrame =
    during(conditions, startS, endS)
      .select(col("measurement_of"), col("measurement_subject"),
        unix_micros(col("timestamp")).as("t_us"),
        round(col("measurement_number") * scale, 0).cast("long").as("c"))
      .groupBy("measurement_of")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("measurement_subject")).as("n_subjects"),
        min("t_us").as("first_us"), max("t_us").as("last_us"),
        sum(when(col("c").isNull, 1L).otherwise(0L)).as("n_null_number"),
        round(sum(col("c")).cast("double") / (count(col("c")) * lit(100.0)), 6)
          .as("avg_number"))
      .orderBy("measurement_of")

  /** `gauge_agg` (toolkit): the counter family's semantics for a metric
    * that legitimately goes DOWN — delta is simply last − first (signed,
    * no reset adjustment), plus the bucket's min/max envelope. One hash
    * agg; first/last via the same (t, c)-struct extrema as [[ohlcBars]]'
    * open/close, so duplicate-timestamp ties are engine-deterministic.
    */
  def gaugeAgg(conditions: DataFrame, of: String, startS: Long, endS: Long,
               bucketS: Long, scale: Int = 100): DataFrame = {
    require(scale > 0 && bucketS > 0, "scale and bucket width must be positive")
    scan(conditions, of, startS, endS)
      .filter(col("measurement_number").isNotNull)
      .select(col("measurement_subject"),
        unix_micros(col("timestamp")).as("t_us"),
        round(col("measurement_number") * scale, 0).cast("long").as("c"),
        timeBucketS(bucketS, col("timestamp")).as("time_s"))
      .groupBy("measurement_subject", "time_s")
      .agg(
        min(struct(col("t_us"), col("c"))).as("first"),
        max(struct(col("t_us"), col("c"))).as("last"),
        min("c").as("min_scaled"), max("c").as("max_scaled"),
        count(lit(1)).as("n"))
      .select(col("measurement_subject"), col("time_s"),
        (col("last.c") - col("first.c")).as("delta_scaled"),
        col("min_scaled"), col("max_scaled"), col("n"),
        col("first.t_us").as("first_us"), col("last.t_us").as("last_us"))
      .withColumn("rate_per_s",
        when(col("last_us") > col("first_us"),
          round(col("delta_scaled").cast("double") / scale /
            ((col("last_us") - col("first_us")) / lit(1000000.0)), 6)))
      .orderBy("measurement_subject", "time_s")
  }

  /** Composable counter summary — [[counterAgg]]'s outputs PLUS the
    * boundary readings that make per-bucket summaries MERGEABLE: with
    * (first, last) carried, two time-adjacent summaries A⊕B combine as
    *   delta = A.delta + B.delta + bridge(A.last_c → B.first_c)
    *   resets = A.resets + B.resets + [B.first_c < A.last_c]
    * (bridge = B.first_c if it reset, else B.first_c − A.last_c) — exactly
    * the Timescale toolkit CounterSummary `rollup()` algebra. `first`/
    * `last` are min/max over a (t, c) STRUCT, so duplicate-timestamp ties
    * resolve identically to the pair window's (ts, c) order.
    */
  def counterPartials(conditions: DataFrame, of: String, startS: Long,
                      endS: Long, widthS: Long, scale: Int = 100): DataFrame = {
    require(scale > 0 && widthS > 0, "scale and width must be positive")
    val w = Window.partitionBy("measurement_subject", "time_s")
      .orderBy("t_us", "c")
    scan(conditions, of, startS, endS)
      .filter(col("measurement_number").isNotNull)
      .select(col("measurement_subject"),
        unix_micros(col("timestamp")).as("t_us"),
        round(col("measurement_number") * scale, 0).cast("long").as("c"),
        timeBucketS(widthS, col("timestamp")).as("time_s"))
      .withColumn("prev_c", lag("c", 1).over(w))
      .groupBy("measurement_subject", "time_s")
      .agg(
        sum(when(col("prev_c").isNull, lit(0L))
          .when(col("c") < col("prev_c"), col("c"))
          .otherwise(col("c") - col("prev_c"))).as("delta_scaled"),
        sum(when(col("c") < col("prev_c"), lit(1L)).otherwise(lit(0L)))
          .as("num_resets"),
        count(lit(1)).as("n"),
        min(struct(col("t_us"), col("c"))).as("first"),
        max(struct(col("t_us"), col("c"))).as("last"))
  }

  /** Merge [[counterPartials]] rows up to a coarser bucket (`coarseS`;
    * pass the whole query span for one summary per subject). Fine buckets
    * partition time, so within a coarse group the fine summaries are
    * strictly time-ordered — one lag supplies each summary's predecessor
    * `last_c` and the bridge terms of the ⊕ algebra; a hash agg then sums
    * everything. Fine-partial count per coarse group is bounded
    * (coarseS/fineS), so the window partitions stay small regardless of
    * raw data volume — this is the continuous-aggregate serving shape:
    * store fine partials once, serve ANY coarser rollup without touching
    * raw rows.
    */
  def counterRollup(partials: DataFrame, coarseS: Long,
                    scale: Int = 100): DataFrame = {
    require(coarseS > 0, "coarse width must be positive")
    val coarse = (floor((col("time_s") - BucketOriginS).cast("double") / coarseS)
      .cast("long") * coarseS + BucketOriginS).as("coarse_s")
    val w = Window.partitionBy("measurement_subject", "coarse_s").orderBy("time_s")
    partials.select(col("*"), coarse)
      .withColumn("prev_last_c", lag(col("last.c"), 1).over(w))
      .groupBy("measurement_subject", "coarse_s")
      .agg(
        sum(col("delta_scaled") +
          when(col("prev_last_c").isNull, lit(0L))
            .when(col("first.c") < col("prev_last_c"), col("first.c"))
            .otherwise(col("first.c") - col("prev_last_c"))).as("delta_scaled"),
        sum(col("num_resets") +
          when(col("first.c") < col("prev_last_c"), lit(1L)).otherwise(lit(0L)))
          .as("num_resets"),
        sum(col("n")).as("n"),
        min(col("first.t_us")).as("first_us"),
        max(col("last.t_us")).as("last_us"))
      .withColumn("rate_per_s",
        when(col("last_us") > col("first_us"),
          round(col("delta_scaled").cast("double") / scale /
            ((col("last_us") - col("first_us")) / lit(1000000.0)), 6)))
      .orderBy("measurement_subject", "coarse_s")
  }

  /** Toolkit `interpolated_rate`/`interpolated_delta` for counters: the
    * [[counterAgg]] semantics with cross-edge increments credited
    * PROPORTIONALLY to the buckets they span — the increment of a pair
    * (prev → this) crossing a bucket edge contributes
    * `adj · (t − bucket_start)/(t − prev_t)` to this bucket's head, and
    * symmetrically the NEXT pair's early share to this bucket's tail
    * (computable at this row because lead() exposes the next reading).
    * Rate divides by the bucket's effective width, not the observed
    * span — a bucket with edge-to-edge interpolation has no dead time.
    *
    * In-bucket increments stay exact BIGINTs; each bucket adds at most
    * ONE head and ONE tail double term in a fixed association
    * (exact + head + tail), so both engines run the identical IEEE
    * sequence. Increments spanning >2 buckets credit only the two
    * point-bearing edge buckets (interior empty buckets are not
    * emitted — compose with a dense grid if needed). Resets count at
    * pair granularity, credited to the pair's LATER bucket.
    */
  def interpolatedCounterRate(conditions: DataFrame, of: String, startS: Long,
                              endS: Long, bucketS: Long,
                              scale: Int = 100): DataFrame = {
    require(scale > 0 && bucketS > 0, "scale and bucket width must be positive")
    val w = Window.partitionBy("measurement_subject").orderBy("t_us", "c")
    val endUs = endS * 1000000L
    val pts = scan(conditions, of, startS, endS)
      .filter(col("measurement_number").isNotNull)
      .select(col("measurement_subject"),
        unix_micros(col("timestamp")).as("t_us"),
        round(col("measurement_number") * scale, 0).cast("long").as("c"),
        timeBucketS(bucketS, col("timestamp")).as("time_s"))
      .withColumn("prev_t", lag("t_us", 1).over(w))
      .withColumn("prev_c", lag("c", 1).over(w))
      .withColumn("prev_b", lag("time_s", 1).over(w))
      .withColumn("next_t", lead("t_us", 1).over(w))
      .withColumn("next_c", lead("c", 1).over(w))
      .withColumn("next_b", lead("time_s", 1).over(w))
    val bucketStartUs = col("time_s") * 1000000L
    val bucketEndUs = least((col("time_s") + bucketS) * 1000000L, lit(endUs))
    val adjPrev = when(col("c") < col("prev_c"), col("c"))
      .otherwise(col("c") - col("prev_c"))
    val adjNext = when(col("next_c") < col("c"), col("next_c"))
      .otherwise(col("next_c") - col("c"))
    val exact = when(col("prev_b") === col("time_s"), adjPrev).otherwise(lit(0L))
    val head = when(col("prev_b").isNotNull && col("prev_b") < col("time_s"),
      adjPrev.cast("double") * (col("t_us") - bucketStartUs)
        / (col("t_us") - col("prev_t"))).otherwise(lit(0.0))
    val tail = when(col("next_b").isNotNull && col("next_b") =!= col("time_s"),
      adjNext.cast("double") * (bucketEndUs - col("t_us"))
        / (col("next_t") - col("t_us"))).otherwise(lit(0.0))
    val reset = when(col("prev_c").isNotNull && col("c") < col("prev_c"), lit(1L))
      .otherwise(lit(0L))
    pts.select(col("measurement_subject"), col("time_s"),
        exact.as("ex"), head.as("hd"), tail.as("tl"), reset.as("rs"),
        ((bucketEndUs - bucketStartUs) / lit(1000000.0)).as("wd"))
      .groupBy("measurement_subject", "time_s")
      .agg(sum("ex").as("ex"), sum("hd").as("hd"), sum("tl").as("tl"),
        sum("rs").as("num_resets"), count(lit(1)).as("n"), first("wd").as("wd"))
      .select(col("measurement_subject"), col("time_s"),
        round((col("ex").cast("double") + col("hd") + col("tl")) / scale, 6)
          .as("delta_interp"),
        round((col("ex").cast("double") + col("hd") + col("tl")) / scale / col("wd"), 6)
          .as("rate_per_s"),
        col("num_resets"), col("n"))
      .orderBy("measurement_subject", "time_s")
  }

  /** M4 downsampling (Jugel et al., VLDB 2014 "M4: A Visualization-Oriented
    * Time Series Data Aggregation"): per (subject, pixel-bucket) keep every
    * row attaining the bucket's min/max TIME or min/max VALUE — the exact
    * four-point set that makes a line rendering at that pixel width
    * pixel-identical to rendering the full series. The visualization-
    * preserving cousin of [[graft.functions.Lttb]]: lossless for rendering,
    * bounded at ≤4 rows (plus exact ties) per bucket.
    *
    * Plan shape: one (subject, bucket)-partitioned window computes the four
    * extrema, a filter keeps the attaining rows — one shuffle, no join, no
    * per-bucket collect.
    */
  def m4Downsample(conditions: DataFrame, of: String, startS: Long,
                   endS: Long, bucketS: Long, scale: Int = 100): DataFrame = {
    require(bucketS > 0, "bucket width must be positive")
    val w = Window.partitionBy("measurement_subject", "time_s")
    scan(conditions, of, startS, endS)
      .filter(col("measurement_number").isNotNull)
      .select(col("measurement_subject"),
        unix_micros(col("timestamp")).as("t_us"),
        round(col("measurement_number") * scale, 0).cast("long").as("c"),
        timeBucketS(bucketS, col("timestamp")).as("time_s"))
      .withColumn("min_t", min("t_us").over(w))
      .withColumn("max_t", max("t_us").over(w))
      .withColumn("min_c", min("c").over(w))
      .withColumn("max_c", max("c").over(w))
      .filter(col("t_us") === col("min_t") || col("t_us") === col("max_t") ||
        col("c") === col("min_c") || col("c") === col("max_c"))
      .select("measurement_subject", "time_s", "t_us", "c")
      .distinct()
      .orderBy("measurement_subject", "time_s", "t_us", "c")
  }

  /** SAX symbolic aggregation (Lin et al. 2003, "A Symbolic
    * Representation of Time Series"): PAA bucket means per subject,
    * z-normalized against the subject's whole-range mean/stddev, then
    * quantized to a 4-letter alphabet at the standard Gaussian
    * breakpoints (±Φ⁻¹(0.75) ≈ ±0.6745, 0) — the discretization behind
    * symbolic motif/anomaly mining on time series.
    *
    * Engine-exactness: every aggregate is an exact BIGINT (cents sums,
    * counts); mean/std/z use the [[statsDerive]] token-identical double
    * formulas, so the breakpoint comparisons see bit-identical doubles in
    * both engines and the letter boundaries cannot drift. Zero-variance
    * series have no z-score — `symbol` is NULL (documented, not 'b'-by-
    * convention). Two hash aggs + a broadcast join of the per-subject
    * stats frame (≤ #subjects rows); no window, no sort.
    */
  def saxSymbols(conditions: DataFrame, of: String, startS: Long, endS: Long,
                 bucketS: Long, scale: Int = 100): DataFrame = {
    require(scale > 0 && bucketS > 0, "scale and bucket width must be positive")
    val pts = scan(conditions, of, startS, endS)
      .filter(col("measurement_number").isNotNull)
      .select(col("measurement_subject"),
        round(col("measurement_number") * scale, 0).cast("long").as("c"),
        timeBucketS(bucketS, col("timestamp")).as("time_s"))
    val stats = pts.groupBy("measurement_subject").agg(
      count(lit(1)).as("n"), sum("c").as("sx"),
      sum(col("c") * col("c")).as("sxx"))
    val paa = pts.groupBy("measurement_subject", "time_s")
      .agg(count(lit(1)).as("nb"), sum("c").as("sb"))
    val n = col("n").cast("double")
    val sx = col("sx").cast("double")
    val sxx = col("sxx").cast("double")
    val mean = sx / n
    val std = sqrt((n * sxx - sx * sx) / (n * n))
    val pa = col("sb").cast("double") / col("nb").cast("double")
    val z = (pa - mean) / std
    paa.join(broadcast(stats), Seq("measurement_subject"))
      .select(col("measurement_subject"), col("time_s"),
        round(pa / scale, 6).as("paa"),
        when(std > 0, round(z, 6)).as("z"),
        when(std > 0,
          when(z < -0.6745, "a").when(z < 0.0, "b")
            .when(z < 0.6745, "c").otherwise("d")).as("symbol"))
      .orderBy("measurement_subject", "time_s")
  }

  /** Toolkit `interpolated_average` (LOCF): per (subject, bucket)
    * time-weighted mean where the step function extends ACROSS bucket
    * edges — the value in force at a bucket's start is the last reading
    * before it (however many buckets back), and each bucket's last reading
    * holds to the bucket end (capped at the query range end). Buckets with
    * no readings are not emitted (compose with [[gapfill]] for a dense
    * grid).
    *
    * Decomposition: every per-point contribution is decidable from one
    * per-SUBJECT ordered window (prev/next point + their buckets), and
    * every contribution is credited to the point's OWN bucket — the three
    * cases partition each bucket's covered span exactly once:
    *  - pair segment, same bucket:  prev_v · (t − prev_t)
    *  - head (prev in an earlier bucket): prev_v · (t − bucket_start)
    *  - tail (next in a later bucket or absent): v · (cap − t)
    *    — this IS the cross-edge segment's early half; the later point's
    *      head is its late half, so nothing is counted twice.
    * Integrals are exact cents × µs BIGINTs (bounded by bucket-width ×
    * max-cents per bucket, far from overflow); the single final divide is
    * the only floating step, rounded to 6 dp.
    *
    * Plan shape: one per-subject window (sort within subject), then a
    * (subject, bucket) hash agg — two exchanges total, no join, no
    * segment explode (a gap spanning k buckets contributes only to the two
    * buckets it touches that contain points — interior empty buckets are
    * by definition not emitted).
    */
  def interpolatedTimeWeight(conditions: DataFrame, of: String, startS: Long,
                             endS: Long, bucketS: Long,
                             scale: Int = 100): DataFrame = {
    require(scale > 0, "scale must be positive")
    require(bucketS > 0, "bucket width must be positive")
    val w = Window.partitionBy("measurement_subject").orderBy("t_us", "c")
    val endUs = endS * 1000000L
    val pts = scan(conditions, of, startS, endS)
      .filter(col("measurement_number").isNotNull)
      .select(col("measurement_subject"),
        unix_micros(col("timestamp")).as("t_us"),
        round(col("measurement_number") * scale, 0).cast("long").as("c"),
        timeBucketS(bucketS, col("timestamp")).as("time_s"))
      .withColumn("prev_t", lag("t_us", 1).over(w))
      .withColumn("prev_c", lag("c", 1).over(w))
      .withColumn("prev_b", lag("time_s", 1).over(w))
      .withColumn("next_b", lead("time_s", 1).over(w))
    val bucketStartUs = col("time_s") * 1000000L
    val bucketEndUs = least((col("time_s") + bucketS) * 1000000L, lit(endUs))
    // segment ending at this point, credited to THIS bucket
    val inSeg = when(col("prev_b").isNull, lit(0L))
      .when(col("prev_b") === col("time_s"), col("prev_c") * (col("t_us") - col("prev_t")))
      .otherwise(col("prev_c") * (col("t_us") - bucketStartUs))
    val inDur = when(col("prev_b").isNull, lit(0L))
      .when(col("prev_b") === col("time_s"), col("t_us") - col("prev_t"))
      .otherwise(col("t_us") - bucketStartUs)
    // tail of THIS bucket when this point is its last (the early half of a
    // cross-edge segment; the later point's head covers the late half)
    val ownTailSeg = when(col("next_b").isNull || col("next_b") =!= col("time_s"),
      col("c") * (bucketEndUs - col("t_us"))).otherwise(lit(0L))
    val ownTailDur = when(col("next_b").isNull || col("next_b") =!= col("time_s"),
      bucketEndUs - col("t_us")).otherwise(lit(0L))
    pts.select(
        col("measurement_subject"), col("time_s"),
        (inSeg + ownTailSeg).as("seg"), (inDur + ownTailDur).as("dur"))
      .groupBy("measurement_subject", "time_s")
      .agg(sum("seg").as("seg"), sum("dur").as("dur"))
      .select(col("measurement_subject"), col("time_s"),
        round(col("seg").cast("double") / col("dur") / scale, 6)
          .as("interpolated_avg"),
        col("dur").as("covered_us"))
      .orderBy("measurement_subject", "time_s")
  }

  /** B7 `get_unique_measurement_subjects`: DISTINCT subject over the
    * of+range predicate (no subject filter).
    */
  def uniqueMeasurementSubjects(conditions: DataFrame, of: String,
                                startS: Long, endS: Long): DataFrame =
    inOrder(scan(conditions, of, startS, endS)
      .select("measurement_subject").distinct(), "measurement_subject")

  /** B8 `filter_unchanged_rows`: change-point detection — keep rows where
    * `measurement_string` differs (null-safely) from the previous row of
    * the same subject; first row always kept.
    */
  def filterUnchangedRows(conditions: DataFrame, subject: String, of: String,
                          startS: Long, endS: Long): DataFrame = {
    val w = Window.partitionBy("measurement_subject").orderBy("timestamp")
    inOrder(scan(conditions, of, startS, endS, Some(subject))
      .withColumn("prev", lag("measurement_string", 1).over(w))
      .filter(!(col("measurement_string") <=> col("prev")))
      .select(unix_micros(col("timestamp")).as("ts_us"),
        col("measurement_subject"), col("measurement_of"), col("measurement_string")),
      "ts_us")
  }

  /** B9 `format_time_intervals`: gaps-and-islands over B8's change points —
    * each change point opens an interval closed by the next one; the final
    * interval closes at `clockS` (the reference uses `now()`,
    * `db/format_time_intervals.sql:36` — nondeterminism injected as a
    * parameter here, bound as a [[param]]). The procedural loop
    * collapses to one LEAD window.
    */
  def formatTimeIntervals(conditions: DataFrame, subject: String, of: String,
                          startS: Long, endS: Long, clockS: Long): DataFrame = {
    val w = Window.partitionBy("measurement_subject").orderBy("ts_us")
    inOrder(filterUnchangedRows(conditions, subject, of, startS, endS)
      .withColumn("next_us", lead("ts_us", 1).over(w))
      .select(col("ts_us").as("time_us"),
        coalesce(col("next_us"), param(clockS * 1000000L, LongType)).as("time_end_us"),
        col("measurement_string")), "time_us")
  }

  /** Streaming sessionization over a live conditions feed: Spark's
    * native `session_window` + watermark — state is one open window per
    * (subject, session), merged on overlap and emitted (append mode)
    * once the watermark passes the session's close.
    *
    * Boundary convention: `session_window` starts a NEW session when an
    * event arrives ≥ `gapS` after the previous one, while the batch
    * [[sessionize]] splits only when the gap is strictly > `gapS` — the
    * two agree everywhere except a gap of exactly `gapS` (measure-zero
    * for real µs-resolution event time). `session_end_us` is the last
    * EVENT time (as in batch), not the window end (= last event + gap).
    */
  def streamingSessionize(conditions: DataFrame, gapS: Long,
                          watermark: String = "1 hour"): DataFrame =
    conditions
      .withWatermark("timestamp", watermark)
      .groupBy(session_window(col("timestamp"), s"$gapS seconds"),
        col("measurement_subject"))
      .agg(min(unix_micros(col("timestamp"))).as("session_start_us"),
        max(unix_micros(col("timestamp"))).as("session_end_us"),
        count(lit(1)).as("n_events"))
      .select("measurement_subject", "session_start_us", "session_end_us", "n_events")

  /** Sessionization (gaps-and-islands over ALL subjects): a subject's
    * events belong to one session until a gap > `gapS` opens a new one.
    * One row per session: subject, ordinal, start/end (µs), event count.
    *
    * Scale shape: one hash shuffle on the subject + per-subject sort;
    * the lag/running-sum window state is O(1) per row, and the session
    * aggregate is a standard partial-agg shuffle on (subject, session).
    *
    * Timestamp ties: exactly one row of a tie group can carry the
    * session-open flag (the others' gap is 0), but WHICH row carries it
    * depends on the sort's tie order — so the running sum uses a RANGE
    * frame (peers included), which counts the flag for every member of
    * the tie group regardless of order. That makes session numbers
    * tie-order independent BY CONSTRUCTION, and therefore stable across
    * engines that sort ties differently (the DuckDB oracle runs the two
    * window passes with independent sorts).
    */
  def sessionize(conditions: DataFrame, of: String, startS: Long, endS: Long,
                 gapS: Long): DataFrame = {
    val w = Window.partitionBy("measurement_subject").orderBy("timestamp")
    scan(conditions, of, startS, endS)
      .withColumn("prev_ts", lag("timestamp", 1).over(w))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          unix_micros(col("timestamp")) - unix_micros(col("prev_ts")) > gapS * 1000000L, 1)
        .otherwise(0))
      .withColumn("sess_no",
        sum("new_sess").over(w.rangeBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long"))
      .groupBy("measurement_subject", "sess_no")
      .agg(min(unix_micros(col("timestamp"))).as("session_start_us"),
        max(unix_micros(col("timestamp"))).as("session_end_us"),
        count(lit(1)).as("n_events"))
      .orderBy("measurement_subject", "session_start_us")
  }

  /** Rolling (sliding-window) statistics per subject: for every reading,
    * the count/sum/min/max over the last `k` readings of the same subject
    * (ROWS frame, inclusive) — the trailing-window smoother dashboards
    * overlay on raw series (TimescaleDB's `rolling(stats_agg)`). All
    * outputs are `scale`-quantized integers, so the contract is
    * bit-exact; the mean is `roll_sum/roll_n` downstream.
    *
    * Duplicate timestamps: the window orders by (ts, value), and rows
    * with EQUAL (ts, value) are interchangeable — any tie order yields
    * the same frame multiset — so the result is engine-stable without a
    * unique key.
    *
    * Scale shape: one hash shuffle on subject + per-subject sort, single
    * window pass computing all four aggregates over the same frame.
    */
  def rollingStats(conditions: DataFrame, of: String, startS: Long, endS: Long,
                   k: Int, scale: Int = 100): DataFrame = {
    require(k > 0 && scale > 0, "k and scale must be positive")
    val w = Window.partitionBy("measurement_subject").orderBy("ts_us", "c")
      .rowsBetween(-(k - 1), Window.currentRow)
    scan(conditions, of, startS, endS)
      .filter(col("measurement_number").isNotNull)
      .select(col("measurement_subject"),
        unix_micros(col("timestamp")).as("ts_us"),
        round(col("measurement_number") * scale, 0).cast("long").as("c"))
      .withColumn("roll_n", count(lit(1)).over(w))
      .withColumn("roll_sum", sum("c").over(w))
      .withColumn("roll_min", min("c").over(w))
      .withColumn("roll_max", max("c").over(w))
      .select(col("measurement_subject"), col("ts_us"), col("c").as("value_scaled"),
        col("roll_n"), col("roll_sum"), col("roll_min"), col("roll_max"))
      .orderBy("measurement_subject", "ts_us", "value_scaled")
  }

  /** Seasonal-baseline outliers: a reading is anomalous when it deviates
    * from what ITS HOUR OF DAY usually looks like — the diurnal pattern
    * [[hampelOutliers]]'s flat per-bucket baseline can't model (a value
    * normal at noon may be a 3-sigma spike at 3 am). The baseline window
    * builds a per-(subject, hour-of-day) median/MAD profile; readings in
    * the evaluation window are flagged by the same dyadic-integer
    * `|x − med| > k·MAD` rule, so the whole contract stays bit-exact
    * cross-engine.
    *
    * Baseline and evaluation are SEPARATE ranges (train-on-history,
    * score-today — the production shape); hour-of-day is UTC epoch
    * arithmetic, `(µs div 10⁶ div 3600) mod 24`.
    *
    * Scale shape: one hash-agg pass over the baseline slice (24 rows per
    * subject out), broadcast-joined onto the evaluation scan — no window
    * over the eval data at all.
    */
  def seasonalOutliers(conditions: DataFrame, of: String,
                       baseStartS: Long, baseEndS: Long,
                       evalStartS: Long, evalEndS: Long,
                       k: Int = 3, scale: Int = 100): DataFrame = {
    require(k > 0 && scale > 0, "k and scale must be positive")
    def slice(s: Long, e: Long) = scan(conditions, of, s, e)
      .filter(col("measurement_number").isNotNull)
      .select(col("measurement_subject"),
        unix_micros(col("timestamp")).as("ts_us"),
        round(col("measurement_number") * scale, 0).cast("long").as("c"))
      .withColumn("hour_of_day", expr("(ts_us div 1000000 div 3600) % 24"))
    val baseline = slice(baseStartS, baseEndS)
      .groupBy("measurement_subject", "hour_of_day")
      .agg(expr("percentile(c, 0.5)").as("med"), count(lit(1)).as("n_base"))
    // MAD needs the median first — second pass over the baseline slice
    val mad = slice(baseStartS, baseEndS)
      .join(baseline, Seq("measurement_subject", "hour_of_day"))
      .groupBy("measurement_subject", "hour_of_day")
      .agg(expr("percentile(abs(c - med), 0.5)").as("mad"))
    slice(evalStartS, evalEndS)
      .join(broadcast(baseline.join(mad, Seq("measurement_subject", "hour_of_day"))),
        Seq("measurement_subject", "hour_of_day"))
      .filter(abs(col("c") - col("med")) > col("mad") * k)
      .select(col("ts_us"), col("measurement_subject"), col("hour_of_day"),
        col("c").as("value_scaled"), col("med").as("med_scaled"),
        col("mad").as("mad_scaled"), col("n_base"))
      .orderBy("ts_us", "measurement_subject", "value_scaled")
  }

  /** OHLC (candlestick) bars per (subject, epoch-aligned bucket): open =
    * first reading, high/low = extremes, close = last reading — the
    * finance rollup TimescaleDB ships as `candlestick_agg` and the natural
    * compaction for any metered series (the reference's emon power feed
    * viewed as bars). Values are `scale`-quantized integers (cents), so
    * every output is exact across engines.
    *
    * Determinism: two readings at the same instant have no defined order,
    * so open/close use a composite (timestamp, value) ordering — min_by /
    * max_by over a struct key, which both engines replay identically (the
    * oracle uses row_number over the same composite sort).
    *
    * Scale shape: ONE hash aggregation — min_by/max_by/min/max/count are
    * all partial-aggregatable, so this is scan → partial agg → exchange on
    * (subject, bucket) → final agg, with no window sort anywhere. That is
    * strictly cheaper than the window formulation and is why open/close
    * are aggregates here, not row_number picks.
    */
  def ohlcBars(conditions: DataFrame, of: String, startS: Long, endS: Long,
               widthS: Long, scale: Int = 100): DataFrame = {
    require(widthS > 0 && scale > 0, "widthS and scale must be positive")
    val wUs = widthS * 1000000L
    scan(conditions, of, startS, endS)
      .filter(col("measurement_number").isNotNull)
      .select(col("measurement_subject"),
        unix_micros(col("timestamp")).as("ts_us"),
        round(col("measurement_number") * scale, 0).cast("long").as("c"))
      .withColumn("bucket_s",
        expr(s"((ts_us - pmod(ts_us, ${wUs}L)) div ${wUs}L) * ${widthS}L"))
      .groupBy("measurement_subject", "bucket_s")
      .agg(
        min_by(col("c"), struct(col("ts_us"), col("c"))).as("open_scaled"),
        max(col("c")).as("high_scaled"),
        min(col("c")).as("low_scaled"),
        max_by(col("c"), struct(col("ts_us"), col("c"))).as("close_scaled"),
        count(lit(1)).as("n_events"))
      .orderBy("measurement_subject", "bucket_s")
  }

  /** Heartbeat/uptime aggregation (TimescaleDB toolkit `heartbeat_agg`):
    * each event proves the sensor alive for `heartbeatS` seconds; a
    * subject's uptime over [startS, endS] is the union of those liveness
    * intervals. Because events are processed in time order, the union
    * collapses to `Σ min(heartbeat, next_ts − ts)` plus the last event's
    * tail clipped at range end — one lag window, no interval merge
    * data structure. Outputs are exact µs integers (`covered_us` /
    * `total_us`; the ratio is derivable downstream — dividing here would
    * reintroduce the FP-tie surface).
    *
    * `n_outages` counts gaps longer than the heartbeat (the sensor was
    * provably dead between liveness intervals) — the same signal
    * [[largestGaps]] ranks, here as a per-subject health count.
    *
    * Scale shape: one hash shuffle on subject + per-subject sort for the
    * lead window, then a per-subject hash agg over the SAME partitioning
    * (exchange reused) — B8/B9's plan family.
    */
  def heartbeatUptime(conditions: DataFrame, of: String, startS: Long,
                      endS: Long, heartbeatS: Long): DataFrame = {
    require(heartbeatS > 0, "heartbeatS must be positive")
    val hUs = heartbeatS * 1000000L
    val w = Window.partitionBy("measurement_subject").orderBy("ts_us")
    scan(conditions, of, startS, endS)
      .select(col("measurement_subject"), unix_micros(col("timestamp")).as("ts_us"))
      .withColumn("next_us", lead("ts_us", 1).over(w))
      .withColumn("live_us",
        when(col("next_us").isNotNull, least(lit(hUs), col("next_us") - col("ts_us")))
          .otherwise(least(lit(hUs), lit(endS * 1000000L) - col("ts_us"))))
      .groupBy("measurement_subject")
      .agg(sum("live_us").as("covered_us"),
        sum(when(col("next_us") - col("ts_us") > hUs, 1L).otherwise(0L)).as("n_outages"),
        count(lit(1)).as("n_events"))
      .withColumn("total_us", lit((endS - startS) * 1000000L))
      .select("measurement_subject", "covered_us", "total_us", "n_outages", "n_events")
      .orderBy("measurement_subject")
  }

  /** Time-in-state aggregation (TimescaleDB toolkit `state_agg` /
    * `state_timeline`): each reading's `measurement_string` is the
    * subject's state from that reading until the next one (LOCF), the
    * final reading holding until `endS`; the answer is, per (subject,
    * state), the total time spent in the state and the number of maximal
    * runs of it (`duration_in_state` + the timeline's run count).
    *
    * Determinism: duplicate-timestamp readings are ordered by
    * (ts, state) — every zero-length interval contributes 0 µs, and the
    * run count is computed over the same total order, so both engines
    * agree exactly. Outputs are exact µs integers (the repo-wide
    * no-FP-at-the-contract convention).
    *
    * Scale shape: one hash shuffle on subject + per-subject sort shared
    * by BOTH window functions (lead for the duration, lag for the run
    * boundary — same partitioning and ordering, one exchange, one sort),
    * then a (subject, state) hash agg. The reference's dashboards get
    * this from `format_time_intervals` (`db/format_time_intervals.sql:
    * 17-40`) by summing client-side; here it is one distributed pass.
    */
  def stateDurations(conditions: DataFrame, of: String, startS: Long,
                     endS: Long): DataFrame = {
    val w = Window.partitionBy("measurement_subject")
      .orderBy("ts_us", "state")
    scan(conditions, of, startS, endS)
      .filter(col("measurement_string").isNotNull)
      .select(col("measurement_subject"),
        unix_micros(col("timestamp")).as("ts_us"),
        col("measurement_string").as("state"))
      .withColumn("next_us",
        coalesce(lead("ts_us", 1).over(w), lit(endS * 1000000L)))
      .withColumn("run_start",
        when(lag("state", 1).over(w).isNull ||
          lag("state", 1).over(w) =!= col("state"), 1L).otherwise(0L))
      .groupBy("measurement_subject", "state")
      .agg(sum(col("next_us") - col("ts_us")).as("duration_us"),
        sum("run_start").as("n_runs"),
        count(lit(1)).as("n_events"))
      .orderBy("measurement_subject", "state")
  }

  /** Gap-filled bucketed series (TimescaleDB `time_bucket_gapfill`): every
    * (subject, bucket) of the dense grid over [startS, endS) gets a row —
    * buckets with readings carry their AVG; empty buckets are filled by
    * the chosen [[GapfillStrategy]]:
    *  - [[GapfillLocf]]: carry the last observed bucket value forward
    *    (nothing before the first observation → NULL);
    *  - [[GapfillLinear]]: interpolate linearly (in bucket time) between
    *    the surrounding observed buckets (leading/trailing edges → NULL).
    *
    * `n_events` = 0 marks filled rows, so downstream can always tell
    * measured from imputed — the reference dashboards' charting need.
    *
    * Portability: the fill is computed with the gaps-and-islands trick
    * (running count of non-nulls → group id → the group's single non-null
    * head), NOT `last_value(... IGNORE NULLS)`, so the DuckDB oracle can
    * replay the identical logic without relying on engine-specific
    * null-skipping window semantics. Averages are rounded to 6 dp on both
    * sides (the repo-wide FP convention).
    *
    * Scale shape: bucket aggregation is one hash shuffle on (subject,
    * bucket); the dense grid is `sequence()` exploded per DISTINCT subject
    * (grid size = subjects × buckets — the query's own output size, never
    * row-proportional); the fill windows are per-subject sorts over ≤grid
    * rows. A 100 TB scan reduces to the grid long before the windows run.
    */
  def gapfill(conditions: DataFrame, of: String, startS: Long, endS: Long,
              widthS: Long, strategy: GapfillStrategy): DataFrame = {
    require(widthS > 0, "widthS must be positive")
    val wUs = widthS * 1000000L
    val slice = scan(conditions, of, startS, endS)
      .filter(col("measurement_number").isNotNull &&
        col("timestamp") < timestamp_seconds(lit(endS)))
      .select(col("measurement_subject"),
        unix_micros(col("timestamp")).as("ts_us"),
        col("measurement_number"))
    val buckets = slice
      .withColumn("bucket_s",
        expr(s"((ts_us - pmod(ts_us, ${wUs}L)) div ${wUs}L) * ${widthS}L"))
      .groupBy("measurement_subject", "bucket_s")
      .agg(round(avg("measurement_number"), 6).as("v"), count(lit(1)).as("n_events"))
    // dense (subject × bucket) grid; grid start floor-aligned like the data
    val b0 = Math.floorDiv(startS, widthS) * widthS
    val bN = Math.floorDiv(endS - 1, widthS) * widthS
    val grid = slice.select("measurement_subject").distinct()
      .withColumn("bucket_s",
        explode(expr(s"sequence(${b0}L, ${bN}L, ${widthS}L)")))
    val joined = grid.join(buckets, Seq("measurement_subject", "bucket_s"), "left")
      .withColumn("n_events", coalesce(col("n_events"), lit(0L)))
    val wAsc = Window.partitionBy("measurement_subject").orderBy("bucket_s")
    val wDesc = Window.partitionBy("measurement_subject").orderBy(col("bucket_s").desc)
    val filled = strategy match {
      case GapfillLocf =>
        // islands: each non-null opens a group; max over (subject, grp)
        // IS the group head (the only non-null in the group)
        joined
          .withColumn("grp", count("v").over(
            wAsc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("value", max("v").over(
            Window.partitionBy("measurement_subject", "grp")))
      case GapfillLinear =>
        val prevGrp = count("v").over(
          wAsc.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        val nextGrp = count("v").over(
          wDesc.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        joined
          .withColumn("pg", prevGrp).withColumn("ng", nextGrp)
          .withColumn("pv", max("v").over(Window.partitionBy("measurement_subject", "pg")))
          .withColumn("pt", max(when(col("v").isNotNull, col("bucket_s"))).over(
            Window.partitionBy("measurement_subject", "pg")))
          .withColumn("nv", max("v").over(Window.partitionBy("measurement_subject", "ng")))
          .withColumn("nt", max(when(col("v").isNotNull, col("bucket_s"))).over(
            Window.partitionBy("measurement_subject", "ng")))
          .withColumn("value",
            when(col("v").isNotNull, col("v"))
              .when(col("pv").isNotNull && col("nv").isNotNull,
                round(col("pv") + (col("nv") - col("pv")) *
                  (col("bucket_s") - col("pt")) / (col("nt") - col("pt")), 6))
              .otherwise(lit(null).cast("double")))
    }
    filled.select(col("measurement_subject"), col("bucket_s").as("time_s"),
        col("value"), col("n_events"))
      .orderBy("measurement_subject", "time_s")
  }

  /** Composable 1D+2D statistical partials per (subject, bucket) —
    * Timescale toolkit `stats_agg` parity (toolkit docs: `stats_agg(ts,
    * value)` with accessors `average/stddev/slope/intercept/corr`;
    * referenced by the dashboard repo's toolkit dependency,
    * `db/migrations`). The partial row IS the aggregate state:
    *
    *   n, Σx, Σy, Σx², Σy², Σxy
    *
    * over integer-quantized inputs — y in `scale`-ths (cents by default),
    * x in whole seconds offset from `startS` — so every partial is an
    * exact BIGINT and partials MERGE by plain addition: re-grouping the
    * output of [[statsAgg]] with `sum()` over coarser keys (day → month,
    * subject → fleet) is bit-identical to computing the coarse bucket
    * directly. That additivity is the 100 TB design: continuous-aggregate
    * tiers store these six columns and serve any rollup without touching
    * raw data (same contract as [[graft.sources.ContinuousAggregate]]).
    *
    * Magnitude safety: |x| ≤ window span in seconds (≤ ~2.2e6 here), so
    * Σx² ≤ n·5e12 — safe in BIGINT up to ~1.8e6 rows per group; y in
    * cents ≤ ~1e5 keeps Σy²/Σxy far smaller. Callers with longer windows
    * scale x down (the derived stats are invariant up to the documented
    * unit change).
    *
    * Plan shape: one scan → partial hash-agg → final agg — no window, no
    * sort until the output ORDER BY.
    */
  def statsAgg(conditions: DataFrame, of: String, startS: Long, endS: Long,
               widthS: Long, scale: Int = 100): DataFrame = {
    require(widthS > 0 && scale > 0, "widthS and scale must be positive")
    scan(conditions, of, startS, endS)
      .filter(col("measurement_number").isNotNull)
      .select(col("measurement_subject"),
        timeBucketS(widthS, col("timestamp")).as("time_s"),
        (col("timestamp").cast("long") - startS).as("x"),
        round(col("measurement_number") * scale, 0).cast("long").as("y"))
      .groupBy("measurement_subject", "time_s")
      .agg(
        count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .orderBy("measurement_subject", "time_s")
  }

  /** [[statsAgg]] over a STREAM: tumbling event-time windows + watermark,
    * emitting the six exact partials per (window, subject) on window
    * close — streaming state is one partial row per open (window,
    * subject), never raw events (sums compose, so late-but-in-watermark
    * events fold into the open partial). x anchors at each WINDOW's own
    * start (`x = epoch_s − window_start`, the [[graft.sources
    * .ContinuousAggregate.createStats]] convention) so |x| ≤ intervalS
    * regardless of stream age; a downstream coarse rollup re-anchors with
    * the exact integer translation documented there.
    */
  def streamingStatsAgg(conditions: DataFrame, intervalS: Long,
                        scale: Int = 100,
                        watermark: String = "1 hour"): DataFrame =
    conditions
      .filter(col("measurement_number").isNotNull)
      .withWatermark("timestamp", watermark)
      .select(col("timestamp"), col("measurement_subject"),
        round(col("measurement_number") * scale, 0).cast("long").as("y"))
      .groupBy(window(col("timestamp"), s"$intervalS seconds"),
        col("measurement_subject"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("timestamp").cast("long") -
          col("window.start").cast("long")).as("sx"),
        sum("y").as("sy"),
        sum((col("timestamp").cast("long") - col("window.start").cast("long")) *
          (col("timestamp").cast("long") - col("window.start").cast("long"))).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum((col("timestamp").cast("long") - col("window.start").cast("long")) *
          col("y")).as("sxy"))
      .select(col("window.start").cast("long").as("time_s"),
        col("measurement_subject"), col("n"), col("sx"), col("sy"),
        col("sxx"), col("syy"), col("sxy"))

  /** Derived statistics from [[statsAgg]] partial rows (any rollup level):
    * average, population variance/stddev of y, OLS slope/intercept of y
    * over x, Pearson correlation. Pure double arithmetic over the exact
    * BIGINT partials — the expression trees below are written to match the
    * oracle's token-for-token (same casts, same operation order), so both
    * engines run the identical IEEE sequence and `round(…, 6)` compares
    * exact.
    *
    * Degenerate groups: n = 1 (or zero x/y variance) yields NULL
    * slope/intercept/corr rather than a division artifact.
    */
  def statsDerive(partials: DataFrame): DataFrame = {
    val n = col("n").cast("double")
    val sx = col("sx").cast("double"); val sy = col("sy").cast("double")
    val sxx = col("sxx").cast("double"); val syy = col("syy").cast("double")
    val sxy = col("sxy").cast("double")
    val dx = n * sxx - sx * sx   // n² · population x-variance
    val dy = n * syy - sy * sy
    val cov = n * sxy - sx * sy
    partials
      .withColumn("avg_y", round(sy / n, 6))
      .withColumn("var_y", round(dy / (n * n), 6))
      .withColumn("stddev_y", round(sqrt(dy / (n * n)), 6))
      .withColumn("slope", when(dx > 0, round(cov / dx, 6)))
      .withColumn("intercept", when(dx > 0, round((sy - cov / dx * sx) / n, 6)))
      .withColumn("corr", when(dx > 0 && dy > 0, round(cov / sqrt(dx * dy), 6)))
  }
}

/** Fill strategy for [[TimeseriesQueries.gapfill]]. */
sealed trait GapfillStrategy
case object GapfillLocf extends GapfillStrategy
case object GapfillLinear extends GapfillStrategy
