package graft
package contract

import graft.functions.{Asap, TimeWeight}
import graft.queries.TimeseriesQueries._
import graft.sources.EventsAsConditions
import graft.streaming.GateStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, format_string, lit, sum, timestamp_seconds, unix_micros, when, round => sround}

/** The conditions time-series family: the nine dashboard queries (B1–B9)
  * and their SQL faces, the analytics and rollups over the conditions view,
  * continuous aggregates, the conditions streams, event analytics and the
  * envelope ingest paths. */
object ConditionsContract {
  import Shared._

  lazy val all: Seq[Q] = Seq(
    // B1 — resolution-bounded bucketed AVG
    qAgg,
    // the dashboard-facing SQL surface: the same B1/B9 answers through the
    // registered TABLE functions (`SELECT * FROM graft_…(args)`) against
    // the session `conditions` view — hash-checked against the SAME
    // oracles as the Scala path, so SQL-path ≡ method-path is driver-
    // verified end-to-end (the per-function ≡ proof is
    // SqlTableFunctionsSpec)
    Q("q_sql_agg", (s, d) =>
      r6(sqlFace(s, SqlTableFunctions.ConditionsRelation -> conditions(s, d))(
        s"SELECT * FROM graft_aggregated_data('$Subject', '$Of', $S1, $E1, 100)"),
        "avg_measurement_number"),
      qAgg.oracle),
    // B2 — fixed-interval bucketed AVG (1 day)
    Q("q_agg_interval", (s, d) =>
      r6(aggregatedDataByInterval(conditions(s, d), Subject, Of, S1, E1, 86400), "avg_measurement_number"),
      aggSql(86400)),
    // B3 — >1 day branch: daily MAX
    Q("q_agg_day", (s, d) =>
      r6(aggregatedDataByDay(conditions(s, d), Subject, Of, S1, E1), "avg_measurement_number"),
      s"""$Cte
         |SELECT CAST(epoch_us(date_trunc('day', "timestamp"))/1000000 AS BIGINT) AS time_s,
         |       ROUND(MAX(measurement_number), 6) AS avg_measurement_number
         |FROM conditions WHERE $ScanPred
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    // B3 — ≤1 day branch: fine buckets anchored at midnight
    Q("q_agg_day_fine", (s, d) =>
      r6(aggregatedDataByDay(conditions(s, d), Subject, Of, FS, FE), "avg_measurement_number"), {
      // width via PG's FRACTIONAL arithmetic (interval/numeric, µs-rounded),
      // computed by the SQL itself — not a Scala-precomputed literal, so the
      // oracle independently replays the reference formula
      val span = FE - FS
      s"""$Cte,
         |w AS (SELECT CAST(round($span*1000000.0 / LEAST(360.0, $span/900.0)) AS BIGINT) AS w_us)
         |SELECT CAST((epoch_us(date_trunc('day', "timestamp"))
         |         + CAST(FLOOR((epoch_us("timestamp") - epoch_us(date_trunc('day', "timestamp"))) / w_us) AS BIGINT) * w_us)
         |       / 1000000 AS BIGINT) AS time_s,
         |       ROUND(AVG(measurement_number), 6) AS avg_measurement_number
         |FROM conditions, w
         |WHERE measurement_of = '$Of' AND measurement_subject = '$Subject'
         |  AND epoch_us("timestamp")/1000000.0 >= $FS AND epoch_us("timestamp")/1000000.0 <= $FE
         |GROUP BY 1 ORDER BY 1""".stripMargin
    }),
    // B4 — adaptive-interval per-bucket MODE (deterministic ties)
    Q("q_mode", (s, d) =>
      mostFrequentValueByInterval(conditions(s, d), Subject, Of, S1, E1),
      s"""$Cte, scanned AS (SELECT * FROM conditions WHERE $ScanPred),
         |params AS (SELECT CASE WHEN count(*) > 360 THEN ${(E1 - S1) / 360} ELSE 60 END AS w FROM scanned),
         |counted AS (
         |  SELECT CAST(FLOOR(epoch_us("timestamp")/1000000.0 / w)*w AS BIGINT) AS time_s,
         |         measurement_string, count(*) AS cnt
         |  FROM scanned, params GROUP BY 1, 2)
         |SELECT time_s, measurement_string AS most_common_value
         |FROM (SELECT *, row_number() OVER (PARTITION BY time_s ORDER BY cnt DESC, measurement_string ASC) AS rn
         |      FROM counted)
         |WHERE rn = 1 ORDER BY time_s""".stripMargin),
    // B5 v1 — gridded 5-point SMA (documented asap_smooth stand-in)
    Q("q_sampled_sma", (s, d) =>
      r6(sampledDataSma(conditions(s, d), Subject, Of, S1, E1, 50), "smoothed_value"), {
      val w = (E1 - S1) / 50
      s"""$Cte, gridded AS (
         |  SELECT ${bucketSql(w)} AS time_s, AVG(measurement_number) AS v
         |  FROM conditions WHERE $ScanPred GROUP BY 1)
         |SELECT time_s,
         |       ROUND(AVG(v) OVER (ORDER BY time_s ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING), 6) AS smoothed_value
         |FROM gridded ORDER BY time_s""".stripMargin
    }),
    // B5 — full ASAP (oracle = stage-by-stage SQL replay of the window
    // search, see asapOracleSql; plus the independent golden-file spec)
    Q("q_sampled_asap", (s, d) =>
      r6(Asap.sampledData(s, conditions(s, d), Subject, Of, S1, E1, 50), "smoothed_value"),
      asapOracleSql),
    // B6 — time-weighted average, trapezoidal + LOCF
    Q("q_timeweight_linear", (s, d) =>
      r6(TimeWeight.sampledDataWithTimeWeight(conditions(s, d), Subject, Of, S1, E1,
        TimeWeight.Linear, 100), "time_weighted_value"),
      timeWeightSql("(nt - t)/1000000.0 * (v + nv)/2")),
    Q("q_timeweight_locf", (s, d) =>
      r6(TimeWeight.sampledDataWithTimeWeight(conditions(s, d), Subject, Of, S1, E1,
        TimeWeight.Locf, 100), "time_weighted_value"), timeWeightSql("(nt - t)/1000000.0 * v")),
    // B7 — distinct subjects
    Q("q_subjects", (s, d) =>
      uniqueMeasurementSubjects(conditions(s, d), Of, S1, E1),
      s"""$Cte
         |SELECT DISTINCT measurement_subject
         |FROM conditions
         |WHERE measurement_of = '$Of'
         |  AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1
         |ORDER BY measurement_subject""".stripMargin),
    // B8 — change-point filter
    Q("q_changepoints", (s, d) =>
      filterUnchangedRows(conditions(s, d), Subject, Of, S1, E1), changepointsSql),
    // B9 — state intervals (clock injected = range end)
    qIntervals,
    Q("q_sql_intervals", (s, d) =>
      sqlFace(s, SqlTableFunctions.ConditionsRelation -> conditions(s, d))(
        s"SELECT * FROM graft_format_time_intervals('$Subject', '$Of', $S1, $E1, $E1)"),
      qIntervals.oracle),
    // keyless point-in-interval join: EVERY subject's events labeled with
    // the reference subject's active state interval — binned equi-join
    // ([[graft.queries.IntervalJoin]]), never a BroadcastNestedLoopJoin
    // half-open [start, end) containment replayed as a plain range join —
    // the binned Spark plan must be invisible in the result
    Q("q_interval_join", (s, d) => {
      val c = conditions(s, d)
      val intervals = formatTimeIntervals(c, Subject, Of, S1, E1, clockS = E1)
      val points = scan(c, Of, S1, E1)
        .select(unix_micros(col("timestamp")).as("ts_us"), col("measurement_subject"))
      graft.queries.IntervalJoin.pointInInterval(points, intervals,
          "ts_us", "time_us", "time_end_us", binWidthUs = 6L * 3600 * 1000000)
        .select(col("ts_us"), col("measurement_subject"),
          col("measurement_string").as("state"))
        .orderBy("ts_us", "measurement_subject")
    },
      s"""$Cte,
         |cp AS (
         |  SELECT epoch_us("timestamp") AS ts_us, measurement_string
         |  FROM (SELECT *, lag(measurement_string) OVER (PARTITION BY measurement_subject ORDER BY "timestamp") AS prev
         |        FROM conditions WHERE $ScanPred)
         |  WHERE measurement_string IS DISTINCT FROM prev),
         |iv AS (SELECT ts_us AS time_us,
         |              COALESCE(lead(ts_us) OVER (ORDER BY ts_us), ${E1 * 1000000L}) AS time_end_us,
         |              measurement_string
         |       FROM cp),
         |pts AS (SELECT epoch_us("timestamp") AS ts_us, measurement_subject
         |        FROM conditions
         |        WHERE measurement_of = '$Of'
         |          AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1)
         |SELECT p.ts_us, p.measurement_subject, i.measurement_string AS state
         |FROM pts p JOIN iv i ON p.ts_us >= i.time_us AND p.ts_us < i.time_end_us
         |ORDER BY 1, 2""".stripMargin),
    // sessionization: gap > 2h opens a new session, all subjects
    Q("q_sessions", (s, d) =>
      sessionize(conditions(s, d), Of, S1, E1, gapS = 7200),
      s"""$Cte,
         |scanned AS (
         |  SELECT measurement_subject, "timestamp" FROM conditions
         |  WHERE measurement_of = '$Of'
         |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1),
         |flagged AS (
         |  SELECT measurement_subject, "timestamp",
         |         CASE WHEN lag("timestamp") OVER w IS NULL
         |                OR epoch_us("timestamp") - epoch_us(lag("timestamp") OVER w) > ${7200L * 1000000L}
         |              THEN 1 ELSE 0 END AS new_sess
         |  FROM scanned
         |  WINDOW w AS (PARTITION BY measurement_subject ORDER BY "timestamp")),
         |sess AS (
         |  SELECT measurement_subject, "timestamp",
         |         CAST(SUM(new_sess) OVER (PARTITION BY measurement_subject ORDER BY "timestamp"
         |                                  RANGE UNBOUNDED PRECEDING) AS BIGINT) AS sess_no
         |  FROM flagged)
         |SELECT measurement_subject, sess_no,
         |       min(epoch_us("timestamp")) AS session_start_us,
         |       max(epoch_us("timestamp")) AS session_end_us,
         |       count(*) AS n_events
         |FROM sess GROUP BY 1, 2 ORDER BY 1, 3""".stripMargin),
    // sensor-outage report: 50 largest consecutive-event gaps (downtime
    // seen from the other side of sessionize); all-integer µs arithmetic
    // exact integer gaps; deterministic tie-break (gap desc, subject,
    // start) makes LIMIT reproducible across engines
    qGaps,
    Q("q_sql_gaps", (s, d) =>
      sqlFace(s, SqlTableFunctions.ConditionsRelation -> conditions(s, d))(
        s"SELECT * FROM graft_gaps('$Of', $S1, $E1, 50)"), qGaps.oracle),
    // Hampel outliers per (subject, day): |x - median| > 3 MAD over
    // integer cents — medians/MADs are dyadic, so the flag comparison
    // has no FP boundary and the oracle replays it bit-exactly
    // dyadic median/MAD over integer cents — quantile_cont of integers
    // lands on .0/.5 (and MAD on quarters), exact in both engines
    qOutliers,
    Q("q_sql_hampel", (s, d) =>
      sqlFace(s, SqlTableFunctions.ConditionsRelation -> conditions(s, d))(
        s"SELECT * FROM graft_hampel('$Of', $S1, $E1, 86400, 3)"), qOutliers.oracle),
    // the approximate-quantile Hampel tier (bounded summary state — the
    // hot-subject escape hatch). For groups with n ≤ accuracy the rank
    // error is < 1, so approx_percentile deterministically returns the
    // lower-middle group ELEMENT — exactly DuckDB's quantile_disc — and
    // the full output (med/mad included, as BIGINTs) replays exactly.
    // The >accuracy regime's error bound is scaladoc'd; the exact tier
    // (q_outliers) stays the interpolated-median contract.
    // approx tier at n ≤ accuracy: approx_percentile returns the
    // lower-middle element — DuckDB's quantile_disc, bit-exact replay
    Q("q_outliers_approx", (s, d) =>
      graft.queries.TimeseriesQueries.hampelOutliersApprox(
        conditions(s, d), Of, S1, E1, widthS = 86400), outliersOracleSql("quantile_disc")),
    // counter-to-rate: consecutive deltas with reset detection, exact
    // integer outputs (the synthetic series isn't monotone, so resets
    // are exercised heavily — which is the point of the contract)
    // exact integer deltas; lag ordered by (ts, c) so duplicate-ts
    // pairing is deterministic in both engines
    Q("q_rate", (s, d) =>
      graft.queries.TimeseriesQueries.counterToRate(conditions(s, d), Of, S1, E1), rateOracleSql),
    // the live counter face: one (last_t, last_c) state pair per subject,
    // batch-boundary pairs bridged by the carry — feeding the range in
    // three ordered slices must reproduce the batch q_rate stream exactly
    // the stream fed in ordered slices must reproduce the batch pair
    // stream exactly — same oracle
    Q("q_rate_stream", (s, d) => {
      val real = scan(conditions(s, d), Of, S1, E1)
        .filter(col("measurement_number").isNotNull)
        .select("measurement_subject", "measurement_of", "measurement_number",
          "timestamp")
      withTempDir("graft_rate_stream") { tmp =>
        def run(): Unit = BenchPhases.drainTimed("q_rate_stream")(
          GateStream.startParquet(s, s"$tmp/input", s"$tmp/out", s"$tmp/cp")(
            graft.streaming.CounterStream.deltas(
              GateStream.read(s, s"$tmp/input", real.schema), Of)))
        // six non-overlapping, time-ascending slices; each is ONE file
        // so AvailableNow cannot split it out of order
        stageSlices("q_rate_stream", real, s"$tmp/input",
          SliceBoundsNoSentinel)(() => run())
        s.read.parquet(s"$tmp/out")
          .orderBy("measurement_subject", "t_start_us", "t_end_us", "dv_scaled")
      }
    }, rateOracleSql),
    // counter_agg rollup (toolkit counter summary): reset-aware delta /
    // num_resets / rate per (subject, 6 h bucket) — exact cents until the
    // one final divide
    // counter_agg rollup: the same (ts, c)-ordered lag restricted to the
    // (subject, bucket) partition; every sum is exact cents, the one
    // divide (rate) runs token-identically on both sides
    qCounterAgg,
    // the counter family through the SQL face, sharing the method-path
    // oracle — SQL-path ≡ method-path is driver-verified end to end
    Q("q_sql_counter_agg", (s, d) =>
      sqlFace(s, SqlTableFunctions.ConditionsRelation -> conditions(s, d))(
        s"SELECT * FROM graft_counter_agg('$Of', $S1, $E1, 21600)"), qCounterAgg.oracle),
    // the counter-summary ⊕ contract: 6 h partials (with boundary
    // readings) bridge-merged to WEEKLY summaries must equal computing
    // the weekly counters directly from raw rows — the oracle does the
    // latter, so the hash match proves the merge algebra exactly
    // rollup contract oracle: weekly counters computed DIRECTLY from raw
    // rows — equality with Spark's partials-then-merge path proves ⊕
    qCounterRollup,
    Q("q_sql_counter_rollup", (s, d) =>
      sqlFace(s, SqlTableFunctions.ConditionsRelation -> conditions(s, d))(
        s"SELECT * FROM graft_counter_rollup('$Of', $S1, $E1, 21600, 604800)"),
      qCounterRollup.oracle),
    // M4 visualization downsample: the ≤4 extremum rows (min/max time,
    // min/max value, ties kept) per (subject, 6 h pixel bucket)
    // M4: extremum membership replayed with the same four window extrema
    Q("q_m4", (s, d) =>
      graft.queries.TimeseriesQueries.m4Downsample(conditions(s, d), Of, S1, E1,
        bucketS = 21600),
      s"""$Cte,
         |scanned AS (
         |  SELECT measurement_subject, epoch_us("timestamp") AS t_us,
         |         CAST(ROUND(measurement_number * 100, 0) AS BIGINT) AS c,
         |         ${bucketSql(21600)} AS time_s
         |  FROM conditions
         |  WHERE measurement_of = '$Of' AND measurement_number IS NOT NULL
         |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1),
         |ext AS (
         |  SELECT *, MIN(t_us) OVER w AS min_t, MAX(t_us) OVER w AS max_t,
         |         MIN(c) OVER w AS min_c, MAX(c) OVER w AS max_c
         |  FROM scanned
         |  WINDOW w AS (PARTITION BY measurement_subject, time_s))
         |SELECT DISTINCT measurement_subject, time_s, t_us, c
         |FROM ext
         |WHERE t_us = min_t OR t_us = max_t OR c = min_c OR c = max_c
         |ORDER BY measurement_subject, time_s, t_us, c""".stripMargin),
    // idelta_right/irate: the LAST pair's instantaneous delta and rate
    // per bucket — the live-dashboard slope
    // the same lag pair + reversed row_number pick
    Q("q_counter_idelta", (s, d) =>
      graft.queries.TimeseriesQueries.counterIdelta(conditions(s, d), Of, S1, E1,
        bucketS = 21600),
      s"""$Cte,
         |scanned AS (
         |  SELECT measurement_subject, epoch_us("timestamp") AS t_us,
         |         CAST(ROUND(measurement_number * 100, 0) AS BIGINT) AS c,
         |         ${bucketSql(21600)} AS time_s
         |  FROM conditions
         |  WHERE measurement_of = '$Of' AND measurement_number IS NOT NULL
         |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1),
         |lagged AS (
         |  SELECT *, lag(t_us) OVER w AS prev_t, lag(c) OVER w AS prev_c,
         |         row_number() OVER (PARTITION BY measurement_subject, time_s
         |                            ORDER BY t_us DESC, c DESC) AS rn
         |  FROM scanned
         |  WINDOW w AS (PARTITION BY measurement_subject, time_s ORDER BY t_us, c))
         |SELECT measurement_subject, time_s,
         |       CASE WHEN c < prev_c THEN 0 ELSE c - prev_c END AS idelta_scaled,
         |       t_us - prev_t AS idt_us,
         |       c < prev_c AS reset,
         |       CASE WHEN t_us > prev_t
         |            THEN ROUND(CAST(CASE WHEN c < prev_c THEN 0 ELSE c - prev_c END AS DOUBLE)
         |                       / 100 / ((t_us - prev_t) / 1000000.0), 6)
         |       END AS irate_per_s
         |FROM lagged WHERE rn = 1 AND prev_t IS NOT NULL
         |ORDER BY measurement_subject, time_s""".stripMargin),
    // fixed-bin histogram per (subject, 6 h bucket): [0, 20) in 10 bins,
    // under/overflow clamped, exact-cents bin membership
    // clamp-then-floor-divide — negatives never reach the divide, so
    // Spark's truncating div and DuckDB's flooring // agree
    qHistogram,
    Q("q_sql_histogram", (s, d) =>
      sqlFace(s, SqlTableFunctions.ConditionsRelation -> conditions(s, d))(
        s"SELECT * FROM graft_histogram_agg('$Of', $S1, $E1, 21600, 0.0, 20.0, 10)"),
      qHistogram.oracle),
    // the ops-side data card: per-metric volume, subject cardinality,
    // time extent, null count, exact-cents mean
    Q("q_conditions_report", (s, d) =>
      graft.queries.TimeseriesQueries.conditionsReport(conditions(s, d), S1, E1),
      s"""$Cte,
         |t AS (SELECT measurement_of, measurement_subject,
         |             epoch_us("timestamp") AS t_us,
         |             CAST(ROUND(measurement_number * 100, 0) AS BIGINT) AS c
         |      FROM conditions
         |      WHERE epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1)
         |SELECT measurement_of, COUNT(*) AS n_rows,
         |       CAST(COUNT(DISTINCT measurement_subject) AS BIGINT) AS n_subjects,
         |       MIN(t_us) AS first_us, MAX(t_us) AS last_us,
         |       CAST(SUM(CASE WHEN c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_number,
         |       ROUND(CAST(CAST(SUM(c) AS BIGINT) AS DOUBLE) / (COUNT(c) * 100.0), 6) AS avg_number
         |FROM t GROUP BY 1 ORDER BY 1""".stripMargin),
    // gauge_agg: signed last-minus-first delta + min/max envelope —
    // the counter family for metrics that legitimately go down
    // first/last replayed as row_number picks over the same composite
    // (t, c) order the struct extrema use
    Q("q_gauge_agg", (s, d) =>
      graft.queries.TimeseriesQueries.gaugeAgg(conditions(s, d), Of, S1, E1,
        bucketS = 21600),
      s"""$Cte,
         |scanned AS (
         |  SELECT measurement_subject, epoch_us("timestamp") AS t_us,
         |         CAST(ROUND(measurement_number * 100, 0) AS BIGINT) AS c,
         |         ${bucketSql(21600)} AS time_s
         |  FROM conditions
         |  WHERE measurement_of = '$Of' AND measurement_number IS NOT NULL
         |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1),
         |ranked AS (
         |  SELECT *,
         |         row_number() OVER (PARTITION BY measurement_subject, time_s
         |                            ORDER BY t_us ASC, c ASC) AS rn_f,
         |         row_number() OVER (PARTITION BY measurement_subject, time_s
         |                            ORDER BY t_us DESC, c DESC) AS rn_l
         |  FROM scanned),
         |agg AS (
         |  SELECT measurement_subject, time_s,
         |         MAX(CASE WHEN rn_l = 1 THEN c END)
         |           - MAX(CASE WHEN rn_f = 1 THEN c END) AS delta_scaled,
         |         MIN(c) AS min_scaled, MAX(c) AS max_scaled, COUNT(*) AS n,
         |         MAX(CASE WHEN rn_f = 1 THEN t_us END) AS first_us,
         |         MAX(CASE WHEN rn_l = 1 THEN t_us END) AS last_us
         |  FROM ranked GROUP BY 1, 2)
         |SELECT measurement_subject, time_s, delta_scaled, min_scaled,
         |       max_scaled, n, first_us, last_us,
         |       CASE WHEN last_us > first_us
         |            THEN ROUND(CAST(delta_scaled AS DOUBLE) / 100
         |                       / ((last_us - first_us) / 1000000.0), 6)
         |       END AS rate_per_s
         |FROM agg ORDER BY measurement_subject, time_s""".stripMargin),
    // interpolated counter rate: cross-edge increments credited
    // proportionally to the buckets they span; rate over the full bucket
    // width (edge-to-edge interpolation leaves no dead time)
    // the proportional-credit replay: exact in-bucket sum + one head +
    // one tail double term per bucket, fixed association
    Q("q_counter_interp", (s, d) =>
      graft.queries.TimeseriesQueries.interpolatedCounterRate(conditions(s, d),
        Of, S1, E1, bucketS = 21600),
      s"""$Cte,
         |pts AS (
         |  SELECT measurement_subject, epoch_us("timestamp") AS t_us,
         |         CAST(ROUND(measurement_number * 100, 0) AS BIGINT) AS c,
         |         ${bucketSql(21600)} AS time_s
         |  FROM conditions
         |  WHERE measurement_of = '$Of' AND measurement_number IS NOT NULL
         |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1),
         |lagged AS (
         |  SELECT *, lag(t_us) OVER w AS prev_t, lag(c) OVER w AS prev_c,
         |         lag(time_s) OVER w AS prev_b, lead(t_us) OVER w AS next_t,
         |         lead(c) OVER w AS next_c, lead(time_s) OVER w AS next_b
         |  FROM pts
         |  WINDOW w AS (PARTITION BY measurement_subject ORDER BY t_us, c)),
         |contrib AS (
         |  SELECT measurement_subject, time_s,
         |         CASE WHEN prev_b = time_s
         |              THEN CASE WHEN c < prev_c THEN c ELSE c - prev_c END
         |              ELSE 0 END AS ex,
         |         CASE WHEN prev_b IS NOT NULL AND prev_b < time_s
         |              THEN CAST(CASE WHEN c < prev_c THEN c ELSE c - prev_c END AS DOUBLE)
         |                   * (t_us - time_s * 1000000) / (t_us - prev_t)
         |              ELSE 0.0 END AS hd,
         |         CASE WHEN next_b IS NOT NULL AND next_b <> time_s
         |              THEN CAST(CASE WHEN next_c < c THEN next_c ELSE next_c - c END AS DOUBLE)
         |                   * (LEAST((time_s + 21600) * 1000000, ${E1 * 1000000L}) - t_us)
         |                   / (next_t - t_us)
         |              ELSE 0.0 END AS tl,
         |         CASE WHEN prev_c IS NOT NULL AND c < prev_c THEN 1 ELSE 0 END AS rs,
         |         (LEAST((time_s + 21600) * 1000000, ${E1 * 1000000L})
         |          - time_s * 1000000) / 1000000.0 AS wd
         |  FROM lagged),
         |agg AS (
         |  SELECT measurement_subject, time_s, CAST(SUM(ex) AS BIGINT) AS ex,
         |         SUM(hd) AS hd, SUM(tl) AS tl,
         |         CAST(SUM(rs) AS BIGINT) AS num_resets, COUNT(*) AS n,
         |         any_value(wd) AS wd
         |  FROM contrib GROUP BY 1, 2)
         |SELECT measurement_subject, time_s,
         |       ROUND((CAST(ex AS DOUBLE) + hd + tl) / 100, 6) AS delta_interp,
         |       ROUND((CAST(ex AS DOUBLE) + hd + tl) / 100 / wd, 6) AS rate_per_s,
         |       num_resets, n
         |FROM agg ORDER BY measurement_subject, time_s""".stripMargin),
    // SAX: PAA + z-normalized 4-letter quantization at the Gaussian
    // breakpoints; exact integer partials → token-identical doubles
    // SAX replay: same exact integer partials, same double formula
    // tokens, same breakpoint CASE — letters cannot drift
    Q("q_sax", (s, d) =>
      graft.queries.TimeseriesQueries.saxSymbols(conditions(s, d), Of, S1, E1,
        bucketS = 21600),
      s"""$Cte,
         |pts AS (
         |  SELECT measurement_subject,
         |         CAST(ROUND(measurement_number * 100, 0) AS BIGINT) AS c,
         |         ${bucketSql(21600)} AS time_s
         |  FROM conditions
         |  WHERE measurement_of = '$Of' AND measurement_number IS NOT NULL
         |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1),
         |stats AS (
         |  SELECT measurement_subject, COUNT(*) AS n,
         |         CAST(SUM(c) AS BIGINT) AS sx, CAST(SUM(c * c) AS BIGINT) AS sxx
         |  FROM pts GROUP BY 1),
         |paa AS (
         |  SELECT measurement_subject, time_s, COUNT(*) AS nb,
         |         CAST(SUM(c) AS BIGINT) AS sb
         |  FROM pts GROUP BY 1, 2),
         |j AS (
         |  SELECT p.measurement_subject, p.time_s,
         |         CAST(p.sb AS DOUBLE) / CAST(p.nb AS DOUBLE) AS pa,
         |         CAST(s.sx AS DOUBLE) / CAST(s.n AS DOUBLE) AS mean,
         |         sqrt((CAST(s.n AS DOUBLE) * CAST(s.sxx AS DOUBLE)
         |               - CAST(s.sx AS DOUBLE) * CAST(s.sx AS DOUBLE))
         |              / (CAST(s.n AS DOUBLE) * CAST(s.n AS DOUBLE))) AS std
         |  FROM paa p JOIN stats s USING (measurement_subject))
         |SELECT measurement_subject, time_s,
         |       ROUND(pa / 100, 6) AS paa,
         |       CASE WHEN std > 0 THEN ROUND((pa - mean) / std, 6) END AS z,
         |       CASE WHEN std > 0 THEN
         |         CASE WHEN (pa - mean) / std < -0.6745 THEN 'a'
         |              WHEN (pa - mean) / std < 0.0 THEN 'b'
         |              WHEN (pa - mean) / std < 0.6745 THEN 'c'
         |              ELSE 'd' END
         |       END AS symbol
         |FROM j ORDER BY measurement_subject, time_s""".stripMargin),
    // toolkit interpolated_average: LOCF time-weighted bucket means whose
    // step function extends across bucket edges (head from the last
    // reading before the bucket, tail held to bucket end) — exact
    // cents×µs integrals, one divide at the end
    // interpolated_average: the three-case span partition (same-bucket
    // pair / cross-edge head / bucket tail) replayed verbatim; integrals
    // exact cents×µs, one final divide
    Q("q_timeweight_interp", (s, d) =>
      graft.queries.TimeseriesQueries.interpolatedTimeWeight(conditions(s, d),
        Of, S1, E1, bucketS = 21600),
      s"""$Cte,
         |scanned AS (
         |  SELECT measurement_subject, epoch_us("timestamp") AS t_us,
         |         CAST(ROUND(measurement_number * 100, 0) AS BIGINT) AS c,
         |         ${bucketSql(21600)} AS time_s
         |  FROM conditions
         |  WHERE measurement_of = '$Of' AND measurement_number IS NOT NULL
         |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1),
         |lagged AS (
         |  SELECT *, lag(t_us) OVER w AS prev_t, lag(c) OVER w AS prev_c,
         |         lag(time_s) OVER w AS prev_b, lead(time_s) OVER w AS next_b
         |  FROM scanned
         |  WINDOW w AS (PARTITION BY measurement_subject ORDER BY t_us, c)),
         |contrib AS (
         |  SELECT measurement_subject, time_s,
         |         (CASE WHEN prev_b IS NULL THEN 0
         |               WHEN prev_b = time_s THEN prev_c * (t_us - prev_t)
         |               ELSE prev_c * (t_us - time_s * 1000000) END
         |          + CASE WHEN next_b IS NULL OR next_b <> time_s
         |                 THEN c * (LEAST((time_s + 21600) * 1000000, ${E1 * 1000000L}) - t_us)
         |                 ELSE 0 END) AS seg,
         |         (CASE WHEN prev_b IS NULL THEN 0
         |               WHEN prev_b = time_s THEN t_us - prev_t
         |               ELSE t_us - time_s * 1000000 END
         |          + CASE WHEN next_b IS NULL OR next_b <> time_s
         |                 THEN LEAST((time_s + 21600) * 1000000, ${E1 * 1000000L}) - t_us
         |                 ELSE 0 END) AS dur
         |  FROM lagged)
         |SELECT measurement_subject, time_s,
         |       ROUND(CAST(CAST(SUM(seg) AS BIGINT) AS DOUBLE)
         |             / CAST(SUM(dur) AS BIGINT) / 100, 6) AS interpolated_avg,
         |       CAST(SUM(dur) AS BIGINT) AS covered_us
         |FROM contrib GROUP BY 1, 2
         |ORDER BY measurement_subject, time_s""".stripMargin),
    // truncated EWMA trend line: 8 dyadic taps (α=1/2 ⇒ every weight
    // exact), head-normalized — the smoothing face of the rollup family
    // 8 dyadic taps replayed as LAG columns; numerator/denominator sums
    // are exact (cents × 2^-j), only the final 6-dp rounds
    Q("q_ewma", (s, d) =>
      graft.queries.TimeseriesQueries.ewmaSmooth(conditions(s, d), Of, S1, E1), {
      val lagCols = (1 until 8).map(j => s"lag(c, $j) OVER w AS l$j")
        .mkString(",\n         ")
      val num = (1 until 8)
        .map(j => s" + COALESCE(CAST(l$j AS DOUBLE) * ${math.pow(0.5, j)}, 0)").mkString
      val den = (1 until 8)
        .map(j => s" + CASE WHEN l$j IS NOT NULL THEN ${math.pow(0.5, j)} ELSE 0 END").mkString
      s"""$Cte,
         |scanned AS (
         |  SELECT measurement_subject, "timestamp",
         |         CAST(ROUND(measurement_number * 100, 0) AS BIGINT) AS c
         |  FROM conditions
         |  WHERE measurement_of = '$Of' AND measurement_number IS NOT NULL
         |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1),
         |lagged AS (
         |  SELECT measurement_subject, "timestamp", c,
         |         $lagCols
         |  FROM scanned
         |  WINDOW w AS (PARTITION BY measurement_subject ORDER BY "timestamp", c))
         |SELECT epoch_us("timestamp") AS t_us, measurement_subject,
         |       c AS raw_scaled,
         |       ROUND((CAST(c AS DOUBLE)$num) / (1.0$den), 6) AS ewma
         |FROM lagged
         |ORDER BY measurement_subject, t_us, raw_scaled""".stripMargin
    }),
    // one-sided CUSUM drift: the max(0, S+d) recurrence via its
    // running-sum-minus-running-min closed form — window algebra,
    // integer-exact in cents (target 50.00, slack 10.00, h 500.00)
    // the same closed form in DuckDB windows; all-integer arithmetic
    Q("q_cusum", (s, d) =>
      graft.queries.TimeseriesQueries.cusumDrift(conditions(s, d), Of, S1, E1,
        targetCents = 5000, slackCents = 1000, threshCents = 50000),
      s"""$Cte,
         |scanned AS (
         |  SELECT measurement_subject, "timestamp",
         |         CAST(ROUND(measurement_number * 100, 0) AS BIGINT) AS c
         |  FROM conditions
         |  WHERE measurement_of = '$Of' AND measurement_number IS NOT NULL
         |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1),
         |pre1 AS (
         |  SELECT measurement_subject, "timestamp", c,
         |         SUM(c - 5000 - 1000) OVER
         |           (PARTITION BY measurement_subject ORDER BY "timestamp", c
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix
         |  FROM scanned),
         |pre AS (
         |  SELECT measurement_subject, "timestamp", c, prefix,
         |         MIN(prefix) OVER
         |           (PARTITION BY measurement_subject ORDER BY "timestamp", c
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runmin
         |  FROM pre1)
         |SELECT epoch_us("timestamp") AS t_us, measurement_subject,
         |       c AS raw_scaled,
         |       CAST(prefix - LEAST(runmin, 0) AS BIGINT) AS cusum_scaled,
         |       prefix - LEAST(runmin, 0) > 50000 AS alarm
         |FROM pre
         |ORDER BY measurement_subject, t_us, raw_scaled""".stripMargin),
    // rolling window stats (last-5-readings count/sum/min/max per
    // subject): single window pass, integer-exact outputs
    // identical ROWS frame over the identical (ts, value) order; equal
    // keys are interchangeable so the frame multiset is engine-stable
    Q("q_rolling", (s, d) =>
      graft.queries.TimeseriesQueries.rollingStats(conditions(s, d), Of, S1, E1, k = 5),
      s"""$Cte,
         |scanned AS (
         |  SELECT measurement_subject, epoch_us("timestamp") AS ts_us,
         |         CAST(ROUND(measurement_number * 100, 0) AS BIGINT) AS c
         |  FROM conditions
         |  WHERE measurement_of = '$Of' AND measurement_number IS NOT NULL
         |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1)
         |SELECT measurement_subject, ts_us, c AS value_scaled,
         |       COUNT(*) OVER w AS roll_n,
         |       CAST(SUM(c) OVER w AS BIGINT) AS roll_sum,
         |       MIN(c) OVER w AS roll_min,
         |       MAX(c) OVER w AS roll_max
         |FROM scanned
         |WINDOW w AS (PARTITION BY measurement_subject ORDER BY ts_us, c
         |             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
         |ORDER BY 1, 2, 3""".stripMargin),
    // seasonal-baseline outliers: per-(subject, hour-of-day) median/MAD
    // profile from the first week, scored against the rest of the range —
    // the diurnal-pattern anomaly rule, dyadic-integer exact
    // per-(subject, hour-of-day) quantile_cont profile over the baseline
    // week, dyadic-exact flag rule over the evaluation slice
    Q("q_seasonal", (s, d) =>
      graft.queries.TimeseriesQueries.seasonalOutliers(conditions(s, d), Of,
        baseStartS = S1, baseEndS = FS, evalStartS = FS + 1, evalEndS = E1),
      s"""$Cte,
         |base AS (
         |  SELECT measurement_subject, (epoch_us("timestamp") // 1000000 // 3600) % 24 AS hour_of_day,
         |         CAST(ROUND(measurement_number * 100, 0) AS BIGINT) AS c
         |  FROM conditions
         |  WHERE measurement_of = '$Of' AND measurement_number IS NOT NULL
         |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $FS),
         |prof AS (
         |  SELECT measurement_subject, hour_of_day,
         |         quantile_cont(c, 0.5) AS med, COUNT(*) AS n_base
         |  FROM base GROUP BY 1, 2),
         |madt AS (
         |  SELECT b.measurement_subject, b.hour_of_day,
         |         quantile_cont(abs(b.c - p.med), 0.5) AS mad
         |  FROM base b JOIN prof p
         |    ON b.measurement_subject = p.measurement_subject AND b.hour_of_day = p.hour_of_day
         |  GROUP BY 1, 2),
         |ev AS (
         |  SELECT measurement_subject, epoch_us("timestamp") AS ts_us,
         |         (epoch_us("timestamp") // 1000000 // 3600) % 24 AS hour_of_day,
         |         CAST(ROUND(measurement_number * 100, 0) AS BIGINT) AS c
         |  FROM conditions
         |  WHERE measurement_of = '$Of' AND measurement_number IS NOT NULL
         |    AND epoch_us("timestamp")/1000000.0 >= ${FS + 1} AND epoch_us("timestamp")/1000000.0 <= $E1)
         |SELECT ev.ts_us, ev.measurement_subject, ev.hour_of_day,
         |       ev.c AS value_scaled, p.med AS med_scaled, m.mad AS mad_scaled, p.n_base
         |FROM ev
         |JOIN prof p ON ev.measurement_subject = p.measurement_subject AND ev.hour_of_day = p.hour_of_day
         |JOIN madt m ON ev.measurement_subject = m.measurement_subject AND ev.hour_of_day = m.hour_of_day
         |WHERE abs(ev.c - p.med) > m.mad * 3
         |ORDER BY 1, 2, 4""".stripMargin),
    // retention cohorts: first-active day → activity per day offset
    // first-active day per subject → per-offset distinct-active counts
    Q("q_retention", (s, d) =>
      graft.queries.EventAnalytics.retentionCohorts(conditions(s, d), Of, S1, E1),
      s"""$Cte,
         |d AS (
         |  SELECT DISTINCT measurement_subject,
         |         epoch_us("timestamp") // 1000000 // 86400 AS day
         |  FROM conditions
         |  WHERE measurement_of = '$Of'
         |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1),
         |coh AS (SELECT measurement_subject, MIN(day) AS cohort_day FROM d GROUP BY 1)
         |SELECT c.cohort_day, d.day - c.cohort_day AS day_offset,
         |       COUNT(DISTINCT d.measurement_subject) AS n_active
         |FROM d JOIN coh c ON d.measurement_subject = c.measurement_subject
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // EAV-to-wide pivot: daily (subject, bucket) rows, one avg column per
    // metric — ONE conditional hash agg, no pivot distinct-scan
    // the pivot IS conditional aggregation — the oracle writes it out
    Q("q_pivot", (s, d) =>
      graft.queries.EventAnalytics.pivotWide(conditions(s, d),
        Seq("click", "view", "purchase"), S1, E1, widthS = 86400),
      s"""$Cte,
         |scanned AS (
         |  SELECT measurement_subject, measurement_of, measurement_number,
         |         (epoch_us("timestamp") // 1000000 // 86400) * 86400 AS bucket_s
         |  FROM conditions
         |  WHERE measurement_of IN ('click', 'view', 'purchase')
         |    AND measurement_number IS NOT NULL
         |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1)
         |SELECT measurement_subject, bucket_s,
         |       ROUND(AVG(CASE WHEN measurement_of = 'click' THEN measurement_number END), 6) AS click,
         |       ROUND(AVG(CASE WHEN measurement_of = 'view' THEN measurement_number END), 6) AS view,
         |       ROUND(AVG(CASE WHEN measurement_of = 'purchase' THEN measurement_number END), 6) AS purchase
         |FROM scanned GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // composable stats_agg (Timescale toolkit stats_agg 1D+2D): exact
    // BIGINT partials (n, Σx, Σy, Σx², Σy², Σxy) per (subject, day) +
    // derived avg/var/stddev/OLS slope/intercept/Pearson corr — the
    // double formulas run token-identically in the oracle over the same
    // exact integers
    // exact BIGINT partials, then the IDENTICAL double formulas over the
    // identical integers — both engines run the same IEEE sequence
    Q("q_stats_agg", (s, d) =>
      graft.queries.TimeseriesQueries.statsDerive(
        graft.queries.TimeseriesQueries.statsAgg(conditions(s, d), Of, S1, E1,
          widthS = 86400)), statsOracleSql(grouped = "measurement_subject, time_s")),
    // the additivity contract: day partials re-aggregated by plain sum()
    // to whole-range per-subject stats — bit-identical to computing the
    // coarse level directly, which is what lets a continuous-aggregate
    // tier serve ANY rollup from stored partials
    // single-level oracle for the two-level Spark rollup: integer partial
    // sums are associative, so day-partials-then-merge ≡ direct coarse
    Q("q_stats_rollup", (s, d) => {
      val p = graft.queries.TimeseriesQueries.statsAgg(conditions(s, d), Of, S1, E1,
        widthS = 86400)
      graft.queries.TimeseriesQueries.statsDerive(
        p.groupBy("measurement_subject")
          .agg(sum("n").as("n"), sum("sx").as("sx"), sum("sy").as("sy"),
            sum("sxx").as("sxx"), sum("syy").as("syy"), sum("sxy").as("sxy")))
        .orderBy("measurement_subject")
    }, statsOracleSql(grouped = "measurement_subject")),
    // LTTB downsampling (Timescale toolkit lttb): threshold=20 points per
    // subject, integer-exact triangle argmax, sequential selection
    // replayed by the oracle as an unrolled per-bucket CTE chain
    // LTTB replay: the sequential bucket selection unrolled as a CTE chain
    // (one `sel_k` per interior bucket, m = threshold − 2 of them), each
    // step picking the per-subject argmax of the SAME c-scaled integer
    // triangle form the Spark kernel computes
    // (`|(xₚ·c − Σx)(y − yₚ) − (xₚ − x)(Σy − yₚ·c)|`, ties → smallest
    // index). Subjects with ≤threshold points short-circuit to "all
    // points", like the kernel.
    Q("q_lttb", (s, d) =>
      graft.functions.Lttb.downsample(conditions(s, d), Of, S1, E1, threshold = 20), {
      val threshold = 20
      val m = threshold - 2
      val startUs = S1 * 1000000L
      val sb = new StringBuilder
      sb ++=
        s"""$Cte,
           |pts AS (
           |  SELECT measurement_subject AS s,
           |         epoch_us("timestamp") - $startUs AS x,
           |         CAST(ROUND(measurement_number * 100, 0) AS BIGINT) AS y
           |  FROM conditions
           |  WHERE measurement_of = '$Of' AND measurement_number IS NOT NULL
           |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1),
           |base AS (
           |  SELECT s, row_number() OVER (PARTITION BY s ORDER BY x, y) - 1 AS idx,
           |         COUNT(*) OVER (PARTITION BY s) AS n, x, y
           |  FROM pts),
           |small AS (SELECT s, x, y FROM base WHERE n <= $threshold),
           |sel_0 AS (SELECT s, idx, x, y, n FROM base WHERE idx = 0 AND n > $threshold)""".stripMargin
      for (k <- 0 until m) {
        if (k == m - 1)
          sb ++=
            s""",
               |na_$k AS (SELECT s, CAST(1 AS BIGINT) AS c, x AS sx, y AS sy
               |          FROM base WHERE idx = n - 1 AND n > $threshold)""".stripMargin
        else
          sb ++=
            s""",
               |na_$k AS (SELECT s, COUNT(*) AS c, CAST(SUM(x) AS BIGINT) AS sx,
               |                 CAST(SUM(y) AS BIGINT) AS sy
               |          FROM base
               |          WHERE n > $threshold AND idx >= 1 + ((${k + 1}*(n-2))//$m)
               |            AND idx < 1 + ((${k + 2}*(n-2))//$m)
               |          GROUP BY s)""".stripMargin
        sb ++=
          s""",
             |sel_${k + 1} AS (
             |  SELECT t.s, t.idx, t.x, t.y, t.n FROM (
             |    SELECT p.s, p.idx, p.x, p.y, p.n,
             |           row_number() OVER (PARTITION BY p.s ORDER BY
             |             abs((q.x*na.c - na.sx)*(p.y - q.y) - (q.x - p.x)*(na.sy - q.y*na.c)) DESC,
             |             p.idx ASC) AS rn
             |    FROM base p
             |    JOIN sel_$k q ON q.s = p.s
             |    JOIN na_$k na ON na.s = p.s
             |    WHERE p.n > $threshold AND p.idx >= 1 + (($k*(p.n-2))//$m)
             |      AND p.idx < 1 + ((${k + 1}*(p.n-2))//$m)) t
             |  WHERE t.rn = 1)""".stripMargin
      }
      val sels = (0 to m).map(k => s"SELECT s, x, y FROM sel_$k").mkString("\n  UNION ALL ")
      sb ++=
        s""",
           |lastp AS (SELECT s, x, y FROM base WHERE idx = n - 1 AND n > $threshold),
           |picked AS (
           |  $sels
           |  UNION ALL SELECT s, x, y FROM lastp
           |  UNION ALL SELECT s, x, y FROM small)
           |SELECT s AS measurement_subject, x + $startUs AS time_us, y AS value_scaled
           |FROM picked ORDER BY 1, 2, 3""".stripMargin
      sb.toString
    }),
    // OHLC candlestick bars (Timescale toolkit candlestick_agg): one hash
    // aggregation, open/close via min_by/max_by over a composite
    // (ts, value) key so duplicate-timestamp ties are deterministic
    // exact integer OHLC; open/close replayed as row_number picks over the
    // SAME composite (ts, value) order min_by/max_by use on the Spark side
    Q("q_ohlc", (s, d) =>
      graft.queries.TimeseriesQueries.ohlcBars(conditions(s, d), Of, S1, E1,
        widthS = 86400),
      s"""$Cte,
         |scanned AS (
         |  SELECT measurement_subject, epoch_us("timestamp") AS ts_us,
         |         CAST(ROUND(measurement_number * 100, 0) AS BIGINT) AS c,
         |         (epoch_us("timestamp") // 1000000 // 86400) * 86400 AS bucket_s
         |  FROM conditions
         |  WHERE measurement_of = '$Of' AND measurement_number IS NOT NULL
         |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1),
         |ranked AS (
         |  SELECT *,
         |         row_number() OVER (PARTITION BY measurement_subject, bucket_s
         |                            ORDER BY ts_us ASC, c ASC) AS rn_o,
         |         row_number() OVER (PARTITION BY measurement_subject, bucket_s
         |                            ORDER BY ts_us DESC, c DESC) AS rn_c
         |  FROM scanned)
         |SELECT measurement_subject, bucket_s,
         |       MAX(CASE WHEN rn_o = 1 THEN c END) AS open_scaled,
         |       MAX(c) AS high_scaled, MIN(c) AS low_scaled,
         |       MAX(CASE WHEN rn_c = 1 THEN c END) AS close_scaled,
         |       COUNT(*) AS n_events
         |FROM ranked GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // heartbeat/uptime aggregation (Timescale toolkit heartbeat_agg):
    // liveness-union via one lead window, exact µs integer outputs
    // exact µs liveness union: Σ min(heartbeat, gap) + tail clip at range
    // end, one lead window — integers everywhere, no ratio division
    Q("q_uptime", (s, d) =>
      graft.queries.TimeseriesQueries.heartbeatUptime(conditions(s, d), Of, S1, E1,
        heartbeatS = 43200),
      s"""$Cte,
         |scanned AS (
         |  SELECT measurement_subject, epoch_us("timestamp") AS ts_us FROM conditions
         |  WHERE measurement_of = '$Of'
         |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1),
         |led AS (
         |  SELECT measurement_subject, ts_us,
         |         lead(ts_us) OVER (PARTITION BY measurement_subject ORDER BY ts_us) AS next_us
         |  FROM scanned)
         |SELECT measurement_subject,
         |       CAST(SUM(CASE WHEN next_us IS NOT NULL THEN LEAST(${43200L * 1000000L}, next_us - ts_us)
         |                     ELSE LEAST(${43200L * 1000000L}, ${E1 * 1000000L} - ts_us) END) AS BIGINT) AS covered_us,
         |       ${(E1 - S1) * 1000000L} AS total_us,
         |       CAST(SUM(CASE WHEN next_us - ts_us > ${43200L * 1000000L} THEN 1 ELSE 0 END) AS BIGINT) AS n_outages,
         |       COUNT(*) AS n_events
         |FROM led GROUP BY 1 ORDER BY 1""".stripMargin),
    // time-in-state durations (Timescale toolkit state_agg): LOCF state
    // intervals summed per (subject, state) + maximal-run counts, one
    // shared window sort — exact µs integers
    // LOCF state intervals: lead gives each reading's hold time (tail
    // clipped at range end), lag marks run starts — same (ts, state) tie
    // order as the Spark window, so zero-length duplicate-ts intervals
    // and run boundaries agree exactly
    qState,
    Q("q_sql_state", (s, d) =>
      sqlFace(s, SqlTableFunctions.ConditionsRelation -> conditions(s, d))(
        s"SELECT * FROM graft_state_durations('$Of', $S1, $E1)"), qState.oracle),
    // time_bucket_gapfill + LOCF: dense (subject × bucket) grid, empty
    // buckets carry the last observed bucket AVG forward; the fill uses
    // the engine-portable gaps-and-islands trick (no IGNORE NULLS)
    Q("q_gapfill_locf", (s, d) =>
      graft.queries.TimeseriesQueries.gapfill(conditions(s, d), Of, S1, E1,
        widthS = 86400, graft.queries.GapfillLocf), gapfillOracleSql(locf = true)),
    // time_bucket_gapfill + linear interpolation between observed buckets
    Q("q_gapfill_linear", (s, d) =>
      graft.queries.TimeseriesQueries.gapfill(conditions(s, d), Of, S1, E1,
        widthS = 86400, graft.queries.GapfillLinear), gapfillOracleSql(locf = false)),
    // continuous aggregate: hourly integer-partial rollup materialized,
    // then the DAILY dashboard answer served by re-aggregating stored
    // partials (Σsum/Σcount — exact, half-open bucket containment);
    // oracle replays the quantize → sum → divide arithmetic on the raw
    // events directly
    // continuous-aggregate replay: the same integer-partial arithmetic
    // (Σ round(v·100) / (n·100)) over the raw rows, half-open range
    Q("q_cagg", (s, d) =>
      withTempDir("graft_cagg") { tmp =>
        graft.sources.ContinuousAggregate.create(conditions(s, d), s"$tmp/agg",
          widthS = 3600)
        graft.sources.ContinuousAggregate.query(s, s"$tmp/agg", Subject, Of,
          S1, E1, widthS = 86400)
      }, caggServeOracleSql),
    // the stream-maintained rollup (the 7th external-state streaming
    // family — state IS the rollup table): three ordered slices append
    // to the raw store and refresh the touched dates; serving afterward
    // must equal computing from raw rows
    // stream-maintained rollup must serve the identical daily answer
    Q("q_cagg_streamed", (s, d) => {
      val real = during(conditions(s, d), S1, E1)
        .filter(col("timestamp") < timestamp_seconds(lit(E1)))
      withTempDir("graft_cagg_stream") { tmp =>
        def run(): Unit = BenchPhases.drainTimed("q_cagg_streamed")(
          graft.streaming.CaggStream.start(s, s"$tmp/input", s"$tmp/store",
            s"$tmp/agg", s"$tmp/cp", widthS = 3600))
        // real is already bounded < E1, so the shared inclusive slice
        // grid stages exactly the same rows
        stageSlices("q_cagg_streamed", real, s"$tmp/input",
          SliceBoundsNoSentinel)(() => run())
        graft.sources.ContinuousAggregate.query(s, s"$tmp/agg", Subject, Of,
          S1, E1, widthS = 86400)
      }
    }, caggServeOracleSql),
    // REAL-TIME cagg serving (Timescale materialized_only=false): the
    // rollup is built STALE — only events before the mid-window horizon
    // are materialized — then served over the FULL window; the answer
    // must equal computing everything from raw because the serve path
    // unions stored partials with the raw tail past the watermark.
    // Materialized-only serving provably loses the tail (spec-pinned);
    // the oracle replays the whole window from raw events directly.
    // realtime = stored partials ∪ raw tail must equal the full window
    // computed from raw — same replay as the serve oracle
    qCaggRealtime,
    // realtime cagg serving through the SQL face: rollup built STALE,
    // raw tail read from the session's conditions view — shares the
    // from-raw full-window oracle like the method-path row
    Q("q_sql_cagg_realtime", (s, d) => {
      val c = conditions(s, d)
      withTempDir("graft_sql_cagg_rt") { tmp =>
        graft.sources.ContinuousAggregate.create(
          c.filter(col("timestamp") < timestamp_seconds(lit(1705536000L))),
          s"$tmp/agg", widthS = 3600)
        sqlFace(s, SqlTableFunctions.ConditionsRelation -> c)(
          s"SELECT * FROM graft_cagg_realtime('$tmp/agg', '$Subject', '$Of', $S1, $E1, 86400, 3600)")
      }
    }, qCaggRealtime.oracle),
    // distinct-count continuous aggregate: hourly mergeable distinct
    // state (sorted subject arrays = exact tier; HLL sketches = the
    // unbounded-cardinality tier, spec-gated), daily distinct-subject
    // counts served by unioning stored arrays
    // distinct state composes by union, so serving from hourly arrays ≡
    // COUNT(DISTINCT) over the raw rows at daily grain; half-open range
    Q("q_cagg_distinct", (s, d) =>
      withTempDir("graft_cagg_d") { tmp =>
        graft.sources.ContinuousAggregate.createDistinct(conditions(s, d),
          s"$tmp/agg", widthS = 3600)
        graft.sources.ContinuousAggregate.queryDistinct(s, s"$tmp/agg", Of,
          S1, E1, widthS = 86400)
      },
      s"""$Cte
         |SELECT (epoch_us("timestamp") // ${86400L * 1000000L}) * 86400 AS time_s,
         |       COUNT(DISTINCT measurement_subject) AS n_subjects
         |FROM conditions
         |WHERE measurement_of = '$Of'
         |  AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 < $E1
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    // realtime face of the distinct cagg: stale hourly subject-array
    // store union the raw tail, daily distinct counts over the union —
    // exact (set union of exact sets), shares the q_cagg_distinct oracle
    Q("q_cagg_distinct_realtime", (s, d) =>
      withTempDir("graft_cagg_drt") { tmp =>
        val c = conditions(s, d)
        graft.sources.ContinuousAggregate.createDistinct(
          c.filter(col("timestamp") < timestamp_seconds(lit(1705536000L))),
          s"$tmp/agg", widthS = 3600)
        graft.sources.ContinuousAggregate.queryDistinctRealtime(s, s"$tmp/agg",
          c, Of, S1, E1, widthS = 86400, storedWidthS = 3600)
      },
      s"""$Cte
         |SELECT (epoch_us("timestamp") // ${86400L * 1000000L}) * 86400 AS time_s,
         |       COUNT(DISTINCT measurement_subject) AS n_subjects
         |FROM conditions
         |WHERE measurement_of = '$Of'
         |  AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 < $E1
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    // stats_agg continuous aggregate: hourly six-moment partials with
    // per-bucket x anchors, served DAILY via the exact integer moment
    // translation (x' = x + δ) — the oracle computes at the daily anchor
    // directly, so the hash match proves the translation algebra
    Q("q_cagg_stats", (s, d) =>
      withTempDir("graft_cagg_s") { tmp =>
        graft.sources.ContinuousAggregate.createStats(conditions(s, d),
          s"$tmp/agg", widthS = 3600)
        graft.sources.ContinuousAggregate.queryStats(s, s"$tmp/agg", Subject,
          Of, S1, E1, widthS = 86400)
      },
      statsOracleSql(grouped = "time_s",
      xSql = s"""(epoch_us("timestamp") // 1000000) - (epoch_us("timestamp") // ${86400L * 1000000L}) * 86400""",
      timeSql = s"""(epoch_us("timestamp") // ${86400L * 1000000L}) * 86400""",
      pred = s"AND measurement_subject = '$Subject'",
      upper = "<")),
    // realtime face of the stats cagg: stale hourly moment store union
    // raw-computed tail partials, translated to daily anchors and
    // derived — bit-identical to the from-raw daily compute, so it
    // shares q_cagg_stats's oracle
    // hourly store translated to daily anchors ≡ direct daily compute —
    // the oracle computes at the daily anchor straight from raw rows, so
    // a hash match proves the integer moment-translation algebra
    Q("q_cagg_stats_realtime", (s, d) =>
      withTempDir("graft_cagg_srt") { tmp =>
        val c = conditions(s, d)
        graft.sources.ContinuousAggregate.createStats(
          c.filter(col("timestamp") < timestamp_seconds(lit(1705536000L))),
          s"$tmp/agg", widthS = 3600)
        graft.sources.ContinuousAggregate.queryStatsRealtime(s, s"$tmp/agg",
          c, Subject, Of, S1, E1, widthS = 86400, storedWidthS = 3600)
      },
      statsOracleSql(grouped = "time_s",
      xSql = s"""(epoch_us("timestamp") // 1000000) - (epoch_us("timestamp") // ${86400L * 1000000L}) * 86400""",
      timeSql = s"""(epoch_us("timestamp") // ${86400L * 1000000L}) * 86400""",
      pred = s"AND measurement_subject = '$Subject'",
      upper = "<")),
    // composable percentile sketch (Timescale percentile_agg / uddsketch
    // shape): hourly (bl, sub) log-bucket count partials materialized
    // date-partitioned, then DAILY p50/p95/p99 served by merging counts
    // and walking cumulative ranks — all integer arithmetic (bin() bit
    // length, shifts, ceil-rank via div), so the oracle replays it
    // bit-for-bit
    // sketch replay: identical (bit-length, top-bits) cells over daily
    // buckets — hourly partials merged to daily ≡ daily directly (counts
    // add; cell keys don't depend on the time grain); HALF-OPEN range
    // like the store; cum/total CAST to BIGINT (window SUM → HUGEINT)
    Q("q_psketch", (s, d) =>
      withTempDir("graft_psketch") { tmp =>
        graft.sources.PercentileSketch.create(conditions(s, d), s"$tmp/sk", Of,
          S1, E1, widthS = 3600, subBits = 6)
        graft.sources.PercentileSketch.query(s, s"$tmp/sk", S1, E1,
          widthS = 86400, subBits = 6)
      },
      s"""$Cte,
         |scanned AS (
         |  SELECT (epoch_us("timestamp") // ${86400L * 1000000L}) * 86400 AS time_s,
         |         CAST(ROUND(measurement_number * 100, 0) AS BIGINT) AS c
         |  FROM conditions
         |  WHERE measurement_of = '$Of' AND measurement_number IS NOT NULL
         |    AND measurement_number >= 0
         |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 < $E1),
         |cells AS (
         |  SELECT time_s, length(bin(c)) AS bl,
         |         c >> GREATEST(length(bin(c)) - 6, 0) AS sub, COUNT(*) AS n
         |  FROM scanned GROUP BY 1, 2, 3),
         |walked AS (
         |  SELECT time_s, bl, sub, n,
         |         CAST(SUM(n) OVER (PARTITION BY time_s ORDER BY bl, sub) AS BIGINT) AS cum,
         |         CAST(SUM(n) OVER (PARTITION BY time_s) AS BIGINT) AS total
         |  FROM cells)
         |SELECT time_s,
         |       MIN(CASE WHEN cum >= (total * 50 + 99) // 100 THEN sub << GREATEST(bl - 6, 0) END) AS p50_cents,
         |       MIN(CASE WHEN cum >= (total * 95 + 99) // 100 THEN sub << GREATEST(bl - 6, 0) END) AS p95_cents,
         |       MIN(CASE WHEN cum >= (total * 99 + 99) // 100 THEN sub << GREATEST(bl - 6, 0) END) AS p99_cents,
         |       MAX(total) AS n_values
         |FROM walked GROUP BY 1 ORDER BY 1""".stripMargin),
    // streaming OHLC through the gate: tumbling windows + watermark with
    // the SAME composite-key min_by/max_by aggregates as the batch tier —
    // state is one partial OHLC row per open (window, subject); sentinel
    // flush as in q_agg_interval_stream; shares the batch-replay oracle
    // streaming OHLC replay: epoch-aligned µs window starts, the same
    // composite-order row_number picks as q_ohlc
    Q("q_ohlc_stream", (s, d) => {
      val real = scan(conditions(s, d), Of, S1, E1)
        .filter(col("measurement_number").isNotNull)
        .select("measurement_subject", "measurement_number", "timestamp")
      withTempDir("graft_ohlc_stream") { tmp =>
        drainWindowed(s, "q_ohlc_stream", real, tmp)(
          graft.queries.TimeseriesQueries.streamingOhlc(_, intervalS = 86400))
          .orderBy("time_us", "measurement_subject")
      }
    },
      s"""$Cte,
         |scanned AS (
         |  SELECT measurement_subject, epoch_us("timestamp") AS ts_us,
         |         CAST(ROUND(measurement_number * 100, 0) AS BIGINT) AS c,
         |         (epoch_us("timestamp") // ${86400L * 1000000L}) * ${86400L * 1000000L} AS time_us
         |  FROM conditions
         |  WHERE measurement_of = '$Of' AND measurement_number IS NOT NULL
         |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1),
         |ranked AS (
         |  SELECT *,
         |         row_number() OVER (PARTITION BY measurement_subject, time_us
         |                            ORDER BY ts_us ASC, c ASC) AS rn_o,
         |         row_number() OVER (PARTITION BY measurement_subject, time_us
         |                            ORDER BY ts_us DESC, c DESC) AS rn_c
         |  FROM scanned)
         |SELECT time_us, measurement_subject,
         |       MAX(CASE WHEN rn_o = 1 THEN c END) AS open_scaled,
         |       MAX(c) AS high_scaled, MIN(c) AS low_scaled,
         |       MAX(CASE WHEN rn_c = 1 THEN c END) AS close_scaled,
         |       COUNT(*) AS n_events
         |FROM ranked GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // streaming stats_agg: daily tumbling windows + watermark emit the
    // six exact partials on window close (state = one partial row per
    // open (window, subject)); derived stats computed on the stored
    // partials at read — shares the batch day-window oracle
    // streaming windowed partials ≡ the batch day-window compute; x
    // anchors at each window's own start
    Q("q_stats_stream", (s, d) => {
      val real = scan(conditions(s, d), Of, S1, E1)
        .filter(col("measurement_number").isNotNull)
        .select("measurement_subject", "measurement_number", "timestamp")
      withTempDir("graft_stats_stream") { tmp =>
        graft.queries.TimeseriesQueries.statsDerive(
          drainWindowed(s, "q_stats_stream", real, tmp)(
            graft.queries.TimeseriesQueries.streamingStatsAgg(_, intervalS = 86400)))
          .orderBy("measurement_subject", "time_s")
      }
    },
      statsOracleSql(grouped = "measurement_subject, time_s",
      xSql = s"""(epoch_us("timestamp") // 1000000) - (epoch_us("timestamp") // ${86400L * 1000000L}) * 86400""",
      timeSql = s"""(epoch_us("timestamp") // ${86400L * 1000000L}) * 86400""")),
    // the event-time tumbling-window aggregation through the streaming
    // gate: same sentinel-flush pattern as q_sessions_stream. Uses the
    // exact-integer projection (sum of value×100 + count — see
    // streamingIntervalStats) because a rounded double AVG of
    // 2-decimal-quantized inputs structurally lands ON 6-decimal rounding
    // ties that the two engines break differently; oracle = the window
    // replayed as epoch-aligned integer bucketing over every (subject,
    // of) group
    // tumbling windows are epoch-aligned ⇒ integer floor-bucket replay;
    // exact-integer payload (sum of value×100 + non-null count), so no
    // cross-engine FP rounding surface at all
    Q("q_agg_interval_stream", (s, d) => {
      val real = during(conditions(s, d), S1, E1)
        .select("measurement_subject", "measurement_of", "measurement_number", "timestamp")
      withTempDir("graft_aggint_stream") { tmp =>
        drainWindowed(s, "q_agg_interval_stream", real, tmp)(
          graft.queries.TimeseriesQueries.streamingIntervalStats(_, intervalS = 86400))
          .orderBy("time_us", "measurement_subject", "measurement_of")
      }
    },
      s"""$Cte,
         |scanned AS (
         |  SELECT measurement_subject, measurement_of, measurement_number, "timestamp"
         |  FROM conditions
         |  WHERE epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1)
         |SELECT (epoch_us("timestamp") // ${86400L * 1000000L}) * ${86400L * 1000000L} AS time_us,
         |       measurement_subject, measurement_of,
         |       CAST(SUM(CAST(ROUND(measurement_number * 100, 0) AS BIGINT)) AS BIGINT) AS sum_scaled,
         |       COUNT(measurement_number) AS n_events
         |FROM scanned
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),
    // the SAME sessionization through Structured Streaming's
    // session_window (append mode + watermark), via the streaming gate
    // pattern: the fixed event set is streamed under AvailableNow, then a
    // far-future SENTINEL event advances the watermark past every real
    // session's close so append mode emits them all (the watermark
    // advance triggers Spark's no-data batch, which evicts the closed
    // state within the same run — verified green at both SFs, and the
    // per-round driver gate would catch a regression). The sentinel's
    // own still-open session is filtered out.
    // Oracle = the batch q_sessions oracle without the session ordinal.
    // same sessions as q_sessions minus the ordinal (session_window
    // carries no cross-session counter); boundary note: session_window
    // splits on gap >= 2h vs batch's > 2h — identical on µs-resolution
    // data with no exact-7200s gap, which the hash match itself certifies
    Q("q_sessions_stream", (s, d) => {
      val real = scan(conditions(s, d), Of, S1, E1)
        .select("measurement_subject", "timestamp")
      withTempDir("graft_sess_stream") { tmp =>
        drainWindowed(s, "q_sessions_stream", real, tmp)(
          graft.queries.TimeseriesQueries.streamingSessionize(_, gapS = 7200))
          .orderBy("measurement_subject", "session_start_us")
      }
    },
      s"""$Cte,
         |scanned AS (
         |  SELECT measurement_subject, "timestamp" FROM conditions
         |  WHERE measurement_of = '$Of'
         |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1),
         |flagged AS (
         |  SELECT measurement_subject, "timestamp",
         |         CASE WHEN lag("timestamp") OVER w IS NULL
         |                OR epoch_us("timestamp") - epoch_us(lag("timestamp") OVER w) > ${7200L * 1000000L}
         |              THEN 1 ELSE 0 END AS new_sess
         |  FROM scanned
         |  WINDOW w AS (PARTITION BY measurement_subject ORDER BY "timestamp")),
         |sess AS (
         |  SELECT measurement_subject, "timestamp",
         |         CAST(SUM(new_sess) OVER (PARTITION BY measurement_subject ORDER BY "timestamp"
         |                                  RANGE UNBOUNDED PRECEDING) AS BIGINT) AS sess_no
         |  FROM flagged)
         |SELECT measurement_subject,
         |       min(epoch_us("timestamp")) AS session_start_us,
         |       max(epoch_us("timestamp")) AS session_end_us,
         |       count(*) AS n_events
         |FROM sess GROUP BY measurement_subject, sess_no ORDER BY 1, 2""".stripMargin),
    // as-of (point-in-time) join: each click joined to the latest view at
    // or before it — composed from built-ins (union + running window), with
    // DuckDB's native ASOF LEFT JOIN as the oracle
    Q("q_asof", (s, d) => {
      val cond = conditions(s, d)
      val clicks = scan(cond, "click", S1, E1, Some(Subject))
        .select(col("measurement_subject"), col("timestamp"),
          col("measurement_number").as("click_value"))
      val views = scan(cond, "view", S1, E1, Some(Subject))
        .select(col("measurement_subject"), col("timestamp"),
          col("measurement_number").as("view_value"))
      graft.queries.AsOfJoin.asofJoin(clicks, views,
          "measurement_subject", "timestamp", "click_value", "view_value")
        .select(org.apache.spark.sql.functions.unix_micros(col("timestamp")).as("ts_us"),
          col("click_value"), col("view_value"))
        .orderBy("ts_us")
    },
      s"""$Cte,
         |c AS (SELECT "timestamp", measurement_number FROM conditions WHERE $ScanPred),
         |v AS (SELECT "timestamp", measurement_number FROM conditions
         |      WHERE measurement_of = 'view' AND measurement_subject = '$Subject'
         |        AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1)
         |SELECT epoch_us(c."timestamp") AS ts_us,
         |       c.measurement_number AS click_value,
         |       v.measurement_number AS view_value
         |FROM c ASOF LEFT JOIN v ON c."timestamp" >= v."timestamp"
         |ORDER BY ts_us""".stripMargin),
    // funnel / conversion: per subject, how many clicks see a view within
    // 1h (forward as-of join over ALL subjects), plus mean response time.
    // Only the matched TIMESTAMP feeds the output, so ties between view
    // rows cannot make the result engine-dependent
    // forward as-of replayed as a backward ASOF on NEGATED timestamps
    // (max of -ts <= -t == min of ts >= t, same >= tie visibility)
    Q("q_funnel", (s, d) => {
      import org.apache.spark.sql.functions.{avg, when}
      val cond = conditions(s, d)
      def side(of: String) = scan(cond, of, S1, E1)
        .select("measurement_subject", "timestamp")
      val horizonUs = 3600L * 1000000L
      graft.queries.AsOfJoin.asofNext(side("click"), side("view"),
          "measurement_subject", "timestamp")
        .withColumn("resp_us", unix_micros(col("next_ts")) - unix_micros(col("timestamp")))
        .groupBy("measurement_subject")
        .agg(count(lit(1)).as("n_clicks"),
          count(when(col("resp_us") <= horizonUs, 1)).as("n_converted"),
          sround(avg(when(col("resp_us") <= horizonUs, col("resp_us") / 1000000.0)), 6)
            .as("avg_response_s"))
        .orderBy("measurement_subject")
    },
      s"""$Cte,
         |c AS (SELECT measurement_subject AS s, epoch_us("timestamp") AS t FROM conditions
         |      WHERE measurement_of = '$Of'
         |        AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1),
         |v AS (SELECT measurement_subject AS s, epoch_us("timestamp") AS t FROM conditions
         |      WHERE measurement_of = 'view'
         |        AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1),
         |j AS (
         |  SELECT c.s, c.t, v.t AS vt
         |  FROM (SELECT s, t, -t AS nt FROM c) c
         |  ASOF LEFT JOIN (SELECT s, t, -t AS nt FROM v) v
         |    ON c.s = v.s AND c.nt >= v.nt)
         |SELECT s AS measurement_subject,
         |       count(*) AS n_clicks,
         |       count(CASE WHEN vt - t <= ${3600L * 1000000L} THEN 1 END) AS n_converted,
         |       ROUND(AVG(CASE WHEN vt - t <= ${3600L * 1000000L} THEN (vt - t)/1000000.0 END), 6) AS avg_response_s
         |FROM j GROUP BY 1 ORDER BY 1""".stripMargin),
    // N-step ordered funnel (click → view → purchase, each hop ≤1h from
    // the previous reached event): one asofNext per hop over dedup'd
    // anchors, re-attached by hash join — never a range join
    // chained ASOF joins on negated timestamps, anchors dedup'd per hop
    // exactly like the Spark plan; hop clocks restart at the reached event
    Q("q_funnel3", (s, d) =>
      graft.queries.EventAnalytics.funnel(conditions(s, d),
        Seq(Of, "view", "purchase"), S1, E1, horizonS = 3600),
      s"""$Cte,
         |c AS (SELECT measurement_subject AS s, epoch_us("timestamp") AS t FROM conditions
         |      WHERE measurement_of = '$Of'
         |        AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1),
         |v AS (SELECT measurement_subject AS s, epoch_us("timestamp") AS t FROM conditions
         |      WHERE measurement_of = 'view'
         |        AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1),
         |p AS (SELECT measurement_subject AS s, epoch_us("timestamp") AS t FROM conditions
         |      WHERE measurement_of = 'purchase'
         |        AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1),
         |j1 AS (
         |  SELECT c.s, c.t AS t0,
         |         CASE WHEN v.t - c.t <= ${3600L * 1000000L} THEN v.t END AS t1
         |  FROM (SELECT s, t, -t AS nt FROM c) c
         |  ASOF LEFT JOIN (SELECT s, t, -t AS nt FROM v) v
         |    ON c.s = v.s AND c.nt >= v.nt),
         |a AS (SELECT DISTINCT s, t1 FROM j1 WHERE t1 IS NOT NULL),
         |j2 AS (
         |  SELECT a.s, a.t1,
         |         CASE WHEN p.t - a.t1 <= ${3600L * 1000000L} THEN p.t END AS t2
         |  FROM (SELECT s, t1, -t1 AS nt FROM a) a
         |  ASOF LEFT JOIN (SELECT s, t, -t AS nt FROM p) p
         |    ON a.s = p.s AND a.nt >= p.nt)
         |SELECT j1.s AS measurement_subject,
         |       count(*) AS n_0, count(j1.t1) AS n_1, count(j2.t2) AS n_2
         |FROM j1 LEFT JOIN j2 ON j1.s = j2.s AND j1.t1 = j2.t1
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    // end-to-end converter path under load: synthesize emon MQTT envelopes
    // from the events table, run the REAL convertEvent flatMap, emit the
    // wire records — the whole normalize stage is oracle-checked
    Q("q_ingest_emon", (s, d) => {
      import s.implicits._
      emonEnvelopes(s, d).as[String]
        .flatMap(raw => graft.convert.Converters.convertEvent(raw).getOrElse(Vector.empty))
        .toDF()
        .select(col("timestamp"), col("measurement_subject"), col("measurement_of"),
          col("measurement_number"))
        .orderBy("timestamp", "measurement_number")
    },
      """SELECT strftime(ts, '%Y-%m-%dT%H:%M:%S.%f') || 'Z' AS "timestamp",
        |       'emonTx4' AS measurement_subject,
        |       'P1' AS measurement_of,
        |       "value" AS measurement_number
        |FROM events ORDER BY "timestamp", measurement_number""".stripMargin),
    // the SAME ingest, through the real Structured Streaming two-hop wire
    // topology (convert stage → replayable wire topic → storage stage, each
    // its own streaming query under Trigger.AvailableNow) — puts the
    // streaming path inside both the correctness gate (full DuckDB oracle)
    // and the bench (its timing is the streaming throughput row; the input
    // set is fixed per SF, so seconds are comparable round over round)
    // same ingest through the streaming wire topology; the stored
    // TimestampType round-trips the wire string µs-exactly
    Q("q_ingest_wire", (s, d) => {
      withTempDir("graft_wire_bench") { tmp =>
        BenchPhases.timed("q_ingest_wire", "stage")(
          emonEnvelopes(s, d).write.text(s"$tmp/input"))
        BenchPhases.drainTimed("q_ingest_wire", "convert")(
          graft.streaming.IngestPipeline
            .startConvertToWire(s, s"$tmp/input", s"$tmp/wire", s"$tmp/cp_convert"))
        BenchPhases.drainTimed("q_ingest_wire", "store")(
          graft.streaming.IngestPipeline
            .startWire(s, s"$tmp/wire", s"$tmp/out", s"$tmp/cp_store"))
        s.read.parquet(s"$tmp/out")
          .select(unix_micros(col("timestamp")).as("ts_us"), col("measurement_subject"),
            col("measurement_of"), col("measurement_number"))
          .orderBy("ts_us", "measurement_number")
      }
    },
      """SELECT epoch_us(ts) AS ts_us,
        |       'emonTx4' AS measurement_subject,
        |       'P1' AS measurement_of,
        |       "value" AS measurement_number
        |FROM events ORDER BY ts_us, measurement_number""".stripMargin),
    // dynamic JSON as Spark 4 Variant (SURVEY §1.4 alternative to
    // pre-flattening): envelopes parsed ONCE to a binary Variant, typed
    // fields extracted by path — including through the string-embedded
    // payload JSON (parse → extract string → parse again), the
    // reference's actual wire shape
    // variant path extraction reproduces the source fields exactly: p1 is
    // the raw value, time_s the µs-exact epoch float the envelope carries
    Q("q_variant_json", (s, d) => {
      import graft.operators.DynamicJson
      val parsed = DynamicJson.parseEnvelopes(emonEnvelopes(s, d))
      parsed.select(
          col("topic"),
          sround(DynamicJson.payloadField(col("v"), "$.P1", "double"), 6).as("p1"),
          sround(DynamicJson.payloadField(col("v"), "$.time", "double"), 6).as("time_s"))
        .orderBy("time_s", "p1")
    },
      """SELECT 'emon/emonTx4' AS topic,
        |       ROUND("value", 6) AS p1,
        |       ROUND(epoch_us(ts)/1000000.0, 6) AS time_s
        |FROM events ORDER BY time_s, p1""".stripMargin)
  )

  private lazy val qAgg: Q = Q("q_agg", (s, d) =>
    r6(aggregatedData(conditions(s, d), Subject, Of, S1, E1, 100), "avg_measurement_number"),
    aggSql((E1 - S1) / 100, "LIMIT 100"))

  // B9 oracle — shared by the Scala path (q_intervals) and the SQL
  // table-function path (q_sql_intervals).
  private lazy val qIntervals: Q = Q("q_intervals", (s, d) =>
    formatTimeIntervals(conditions(s, d), Subject, Of, S1, E1, clockS = E1),
    s"""WITH cp AS ($changepointsSql)
       |SELECT ts_us AS time_us,
       |       COALESCE(lead(ts_us) OVER (PARTITION BY measurement_subject ORDER BY ts_us),
       |                ${E1 * 1000000L}) AS time_end_us,
       |       measurement_string
       |FROM cp ORDER BY time_us""".stripMargin)

  private lazy val qGaps: Q = Q("q_gaps", (s, d) =>
    graft.queries.TimeseriesQueries.largestGaps(conditions(s, d), Of, S1, E1, topN = 50),
      s"""$Cte,
         |scanned AS (
         |  SELECT measurement_subject, "timestamp" FROM conditions
         |  WHERE measurement_of = '$Of'
         |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1),
         |gaps AS (
         |  SELECT measurement_subject,
         |         epoch_us(lag("timestamp") OVER w) AS gap_start_us,
         |         epoch_us("timestamp") AS gap_end_us
         |  FROM scanned
         |  WINDOW w AS (PARTITION BY measurement_subject ORDER BY "timestamp"))
         |SELECT measurement_subject, gap_start_us, gap_end_us,
         |       gap_end_us - gap_start_us AS gap_us
         |FROM gaps WHERE gap_start_us IS NOT NULL
         |ORDER BY gap_us DESC, measurement_subject ASC, gap_start_us ASC
         |LIMIT 50""".stripMargin)

  private lazy val qOutliers: Q = Q("q_outliers", (s, d) =>
    graft.queries.TimeseriesQueries.hampelOutliers(
      conditions(s, d), Of, S1, E1, widthS = 86400), outliersOracleSql("quantile_cont"))

  // Reset-aware counter rollup replay — shared by q_counter_agg and its
  // SQL-face twin q_sql_counter_agg.
  private lazy val qCounterAgg: Q = Q("q_counter_agg", (s, d) =>
    graft.queries.TimeseriesQueries.counterAgg(conditions(s, d), Of, S1, E1,
      bucketS = 21600),
    s"""$Cte,
       |scanned AS (
       |  SELECT measurement_subject, epoch_us("timestamp") AS t_us,
       |         CAST(ROUND(measurement_number * 100, 0) AS BIGINT) AS c,
       |         ${bucketSql(21600)} AS time_s
       |  FROM conditions
       |  WHERE measurement_of = '$Of' AND measurement_number IS NOT NULL
       |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1),
       |lagged AS (
       |  SELECT *, lag(c) OVER w AS prev_c
       |  FROM scanned
       |  WINDOW w AS (PARTITION BY measurement_subject, time_s ORDER BY t_us, c)),
       |agg AS (
       |  SELECT measurement_subject, time_s,
       |         CAST(SUM(CASE WHEN prev_c IS NULL THEN 0
       |                       WHEN c < prev_c THEN c
       |                       ELSE c - prev_c END) AS BIGINT) AS delta_scaled,
       |         CAST(SUM(CASE WHEN c < prev_c THEN 1 ELSE 0 END) AS BIGINT) AS num_resets,
       |         COUNT(*) AS n,
       |         MIN(t_us) AS first_us, MAX(t_us) AS last_us
       |  FROM lagged GROUP BY 1, 2)
       |SELECT measurement_subject, time_s, delta_scaled, num_resets, n,
       |       first_us, last_us,
       |       CASE WHEN last_us > first_us
       |            THEN ROUND(CAST(delta_scaled AS DOUBLE) / 100
       |                       / ((last_us - first_us) / 1000000.0), 6)
       |       END AS rate_per_s
       |FROM agg ORDER BY measurement_subject, time_s""".stripMargin)

  private lazy val qCounterRollup: Q = Q("q_counter_rollup", (s, d) =>
    graft.queries.TimeseriesQueries.counterRollup(
      graft.queries.TimeseriesQueries.counterPartials(conditions(s, d), Of, S1, E1,
        widthS = 21600),
      coarseS = 604800),
      s"""$Cte,
         |scanned AS (
         |  SELECT measurement_subject, epoch_us("timestamp") AS t_us,
         |         CAST(ROUND(measurement_number * 100, 0) AS BIGINT) AS c,
         |         ${bucketSql(604800)} AS coarse_s
         |  FROM conditions
         |  WHERE measurement_of = '$Of' AND measurement_number IS NOT NULL
         |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1),
         |lagged AS (
         |  SELECT *, lag(c) OVER w AS prev_c
         |  FROM scanned
         |  WINDOW w AS (PARTITION BY measurement_subject, coarse_s ORDER BY t_us, c)),
         |agg AS (
         |  SELECT measurement_subject, coarse_s,
         |         CAST(SUM(CASE WHEN prev_c IS NULL THEN 0
         |                       WHEN c < prev_c THEN c
         |                       ELSE c - prev_c END) AS BIGINT) AS delta_scaled,
         |         CAST(SUM(CASE WHEN c < prev_c THEN 1 ELSE 0 END) AS BIGINT) AS num_resets,
         |         COUNT(*) AS n,
         |         MIN(t_us) AS first_us, MAX(t_us) AS last_us
         |  FROM lagged GROUP BY 1, 2)
         |SELECT measurement_subject, coarse_s, delta_scaled, num_resets, n,
         |       first_us, last_us,
         |       CASE WHEN last_us > first_us
         |            THEN ROUND(CAST(delta_scaled AS DOUBLE) / 100
         |                       / ((last_us - first_us) / 1000000.0), 6)
         |       END AS rate_per_s
         |FROM agg ORDER BY measurement_subject, coarse_s""".stripMargin)

  private lazy val qHistogram: Q = Q("q_histogram", (s, d) =>
    graft.queries.TimeseriesQueries.histogramAgg(conditions(s, d), Of, S1, E1,
      bucketS = 21600, lo = 0.0, hi = 20.0, nbins = 10),
      s"""$Cte,
         |pts AS (
         |  SELECT measurement_subject, ${bucketSql(21600)} AS time_s,
         |         CAST(ROUND(measurement_number * 100, 0) AS BIGINT) AS c
         |  FROM conditions
         |  WHERE measurement_of = '$Of' AND measurement_number IS NOT NULL
         |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1)
         |SELECT measurement_subject, time_s,
         |       LEAST(GREATEST(c - 0, 0) // 200, 9) AS bin, COUNT(*) AS n
         |FROM pts GROUP BY 1, 2, 3
         |ORDER BY measurement_subject, time_s, bin""".stripMargin)

  private lazy val qState: Q = Q("q_state", (s, d) =>
    graft.queries.TimeseriesQueries.stateDurations(conditions(s, d), Of, S1, E1),
      s"""$Cte,
         |scanned AS (
         |  SELECT measurement_subject, epoch_us("timestamp") AS ts_us,
         |         measurement_string AS state
         |  FROM conditions
         |  WHERE measurement_of = '$Of' AND measurement_string IS NOT NULL
         |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1),
         |seq AS (
         |  SELECT measurement_subject, ts_us, state,
         |         COALESCE(lead(ts_us) OVER (PARTITION BY measurement_subject ORDER BY ts_us, state),
         |                  ${E1 * 1000000L}) AS next_us,
         |         lag(state) OVER (PARTITION BY measurement_subject ORDER BY ts_us, state) AS prev_state
         |  FROM scanned)
         |SELECT measurement_subject, state,
         |       CAST(SUM(next_us - ts_us) AS BIGINT) AS duration_us,
         |       CAST(SUM(CASE WHEN prev_state IS NULL OR prev_state <> state THEN 1 ELSE 0 END) AS BIGINT) AS n_runs,
         |       COUNT(*) AS n_events
         |FROM seq GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  private lazy val qCaggRealtime: Q = Q("q_cagg_realtime", (s, d) =>
    withTempDir("graft_cagg_rt") { tmp =>
      val c = conditions(s, d)
      val staleHorizonS = 1705536000L // 2024-01-18, bucket-aligned
      graft.sources.ContinuousAggregate.create(
        c.filter(col("timestamp") < timestamp_seconds(lit(staleHorizonS))),
        s"$tmp/agg", widthS = 3600)
      graft.sources.ContinuousAggregate.queryRealtime(s, s"$tmp/agg", c,
        Subject, Of, S1, E1, widthS = 86400, storedWidthS = 3600)
    }, caggServeOracleSql)

  /** emon MQTT envelopes synthesized from the events table — shared input
    * of the batch (q_ingest_emon) and streaming (q_ingest_wire) ingest
    * queries. `%.6f` is exact: `ts` is µs-truncated at load, so the float
    * carries precisely the microseconds DuckDB's `epoch_us` sees.
    */
  private def emonEnvelopes(s: SparkSession, d: String): DataFrame =
    EventsAsConditions.loadEvents(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .select(format_string(
        """{"topic": "emon/emonTx4", "payload": "{\"P1\": %s, \"time\": %.6f}", "qos": 0, "retain": 0, "timestamp": 0}""",
        col("value"), epochS(col("ts"))).as("raw"))

  // ---------------------------------------------------------------- oracle

  /** Daily AVG served from the materialized hourly rollup ≡ computed
    * directly from raw rows — shared by q_cagg (batch-built rollup) and
    * q_cagg_streamed (stream-maintained rollup).
    */
  private def caggServeOracleSql: String =
    s"""$Cte
       |SELECT (epoch_us("timestamp") // ${86400L * 1000000L}) * 86400 AS time_s,
       |       ROUND(CAST(SUM(CAST(ROUND(measurement_number * 100, 0) AS BIGINT)) AS DOUBLE)
       |             / (COUNT(measurement_number) * 100.0), 6) AS avg_measurement_number
       |FROM conditions
       |WHERE measurement_of = '$Of' AND measurement_subject = '$Subject'
       |  AND measurement_number IS NOT NULL
       |  AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 < $E1
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Exact integer counter deltas with reset detection — oracle for
    * q_rate (batch) and q_rate_stream (ordered-slice stream equality).
    * lag ordered by (ts, c) so duplicate-ts pairing is deterministic.
    */
  private def rateOracleSql: String =
    s"""$Cte,
       |scanned AS (
       |  SELECT measurement_subject, "timestamp",
       |         CAST(ROUND(measurement_number * 100, 0) AS BIGINT) AS c
       |  FROM conditions
       |  WHERE measurement_of = '$Of' AND measurement_number IS NOT NULL
       |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1),
       |lagged AS (
       |  SELECT measurement_subject, "timestamp", c,
       |         lag("timestamp") OVER w AS prev_ts, lag(c) OVER w AS prev_c
       |  FROM scanned
       |  WINDOW w AS (PARTITION BY measurement_subject ORDER BY "timestamp", c))
       |SELECT epoch_us(prev_ts) AS t_start_us, epoch_us("timestamp") AS t_end_us,
       |       measurement_subject,
       |       CASE WHEN c < prev_c THEN 0 ELSE c - prev_c END AS dv_scaled,
       |       epoch_us("timestamp") - epoch_us(prev_ts) AS dt_us,
       |       c < prev_c AS reset
       |FROM lagged WHERE prev_ts IS NOT NULL
       |ORDER BY measurement_subject, t_start_us, t_end_us, dv_scaled""".stripMargin

  private def bucketSql(widthS: Long, origin: Long = BucketOriginS): String =
    s"""CAST(FLOOR((epoch_us("timestamp")/1000000.0 - $origin)/$widthS)*$widthS + $origin AS BIGINT)"""

  private def aggSql(widthS: Long, limit: String = ""): String =
    s"""$Cte
       |SELECT ${bucketSql(widthS)} AS time_s,
       |       ROUND(AVG(measurement_number), 6) AS avg_measurement_number
       |FROM conditions WHERE $ScanPred
       |GROUP BY 1 ORDER BY 1 $limit""".stripMargin

  /** stats_agg replay: exact BIGINT partials (n, Σx, Σy, Σx², Σy², Σxy)
    * at the requested grouping, then the derived avg/var/stddev/slope/
    * intercept/corr with the SAME cast-to-double expression order as
    * [[graft.queries.TimeseriesQueries.statsDerive]]. `grouped` is the
    * partial key list (`"measurement_subject, time_s"` for the day level,
    * `"measurement_subject"` for the whole-range rollup — integer partial
    * sums are associative, so the single-level oracle covers the
    * two-level Spark plan).
    */
  private def statsOracleSql(grouped: String,
                             xSql: String = s"""(epoch_us("timestamp") // 1000000) - $S1""",
                             timeSql: String = bucketSql(86400),
                             pred: String = "",
                             upper: String = "<="): String = {
    s"""$Cte,
       |scanned AS (
       |  SELECT measurement_subject,
       |         $timeSql AS time_s,
       |         $xSql AS x,
       |         CAST(ROUND(measurement_number * 100, 0) AS BIGINT) AS y
       |  FROM conditions
       |  WHERE measurement_of = '$Of' AND measurement_number IS NOT NULL $pred
       |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 $upper $E1),
       |partials AS (
       |  SELECT $grouped, COUNT(*) AS n,
       |         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
       |         CAST(SUM(x*x) AS BIGINT) AS sxx, CAST(SUM(y*y) AS BIGINT) AS syy,
       |         CAST(SUM(x*y) AS BIGINT) AS sxy
       |  FROM scanned GROUP BY $grouped),
       |casted AS (
       |  SELECT *, CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
       |         CAST(sy AS DOUBLE) AS syd, CAST(sxx AS DOUBLE) AS sxxd,
       |         CAST(syy AS DOUBLE) AS syyd, CAST(sxy AS DOUBLE) AS sxyd
       |  FROM partials),
       |moments AS (
       |  SELECT *, nd*sxxd - sxd*sxd AS dx, nd*syyd - syd*syd AS dy,
       |         nd*sxyd - sxd*syd AS cov
       |  FROM casted)
       |SELECT $grouped, n, sx, sy, sxx, syy, sxy,
       |       ROUND(syd/nd, 6) AS avg_y,
       |       ROUND(dy/(nd*nd), 6) AS var_y,
       |       ROUND(SQRT(dy/(nd*nd)), 6) AS stddev_y,
       |       CASE WHEN dx > 0 THEN ROUND(cov/dx, 6) END AS slope,
       |       CASE WHEN dx > 0 THEN ROUND((syd - cov/dx*sxd)/nd, 6) END AS intercept,
       |       CASE WHEN dx > 0 AND dy > 0 THEN ROUND(cov/SQRT(dx*dy), 6) END AS corr
       |FROM moments
       |ORDER BY $grouped""".stripMargin
  }

  /** Hampel replay over integer cents, parameterized on the quantile
    * flavor: `quantile_cont` (interpolated — dyadic, the exact tier) or
    * `quantile_disc` (lower-middle element — what approx_percentile
    * returns at rank error < 1, i.e. groups with n ≤ accuracy).
    */
  private def outliersOracleSql(quantile: String): String =
    s"""$Cte,
       |scanned AS (
       |  SELECT measurement_subject, "timestamp",
       |         CAST(ROUND(measurement_number * 100, 0) AS BIGINT) AS c,
       |         (epoch_us("timestamp") // 1000000 // 86400) * 86400 AS bucket_s
       |  FROM conditions
       |  WHERE measurement_of = '$Of' AND measurement_number IS NOT NULL
       |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1),
       |st AS (
       |  SELECT *, $quantile(c, 0.5) OVER w AS med
       |  FROM scanned
       |  WINDOW w AS (PARTITION BY measurement_subject, bucket_s)),
       |st2 AS (
       |  SELECT *, $quantile(abs(c - med), 0.5) OVER w AS mad
       |  FROM st
       |  WINDOW w AS (PARTITION BY measurement_subject, bucket_s))
       |SELECT epoch_us("timestamp") AS ts_us, measurement_subject, bucket_s,
       |       c AS value_scaled, med AS med_scaled, mad AS mad_scaled
       |FROM st2 WHERE abs(c - med) > 3 * mad
       |ORDER BY ts_us, measurement_subject, value_scaled""".stripMargin

  /** Gapfill replay: dense grid via generate_series × distinct subjects,
    * then the SAME gaps-and-islands fill the Spark side uses (running
    * count of non-null buckets → island id → the island head's value) —
    * no IGNORE NULLS window dependence in either engine. Linear tier
    * interpolates in bucket time with the identical expression tree
    * (`pv + (nv − pv) * (t − pt) / (nt − pt)`, rounded to 6 dp).
    */
  private def gapfillOracleSql(locf: Boolean): String = {
    val w = 86400L
    val b0 = Math.floorDiv(S1, w) * w
    val bN = Math.floorDiv(E1 - 1, w) * w
    val base =
      s"""$Cte,
         |scanned AS (
         |  SELECT measurement_subject, epoch_us("timestamp") AS ts_us, measurement_number
         |  FROM conditions
         |  WHERE measurement_of = '$Of' AND measurement_number IS NOT NULL
         |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 < $E1),
         |buckets AS (
         |  SELECT measurement_subject, (ts_us // 1000000 // $w) * $w AS bucket_s,
         |         ROUND(AVG(measurement_number), 6) AS v, COUNT(*) AS n_events
         |  FROM scanned GROUP BY 1, 2),
         |grid AS (
         |  SELECT s.measurement_subject, g.generate_series AS bucket_s
         |  FROM (SELECT DISTINCT measurement_subject FROM scanned) s,
         |       generate_series(${b0}, ${bN}, ${w}) g),
         |joined AS (
         |  SELECT g.measurement_subject, g.bucket_s, b.v,
         |         COALESCE(b.n_events, 0) AS n_events
         |  FROM grid g LEFT JOIN buckets b
         |    ON g.measurement_subject = b.measurement_subject AND g.bucket_s = b.bucket_s)""".stripMargin
    if (locf)
      s"""$base,
         |islands AS (
         |  SELECT *, COUNT(v) OVER (PARTITION BY measurement_subject ORDER BY bucket_s
         |                           ROWS UNBOUNDED PRECEDING) AS grp
         |  FROM joined)
         |SELECT measurement_subject, bucket_s AS time_s,
         |       MAX(v) OVER (PARTITION BY measurement_subject, grp) AS value,
         |       n_events
         |FROM islands ORDER BY 1, 2""".stripMargin
    else
      s"""$base,
         |islands AS (
         |  SELECT *,
         |         COUNT(v) OVER (PARTITION BY measurement_subject ORDER BY bucket_s
         |                        ROWS UNBOUNDED PRECEDING) AS pg,
         |         COUNT(v) OVER (PARTITION BY measurement_subject ORDER BY bucket_s DESC
         |                        ROWS UNBOUNDED PRECEDING) AS ng
         |  FROM joined),
         |fill AS (
         |  SELECT *,
         |         MAX(v) OVER (PARTITION BY measurement_subject, pg) AS pv,
         |         MAX(CASE WHEN v IS NOT NULL THEN bucket_s END)
         |           OVER (PARTITION BY measurement_subject, pg) AS pt,
         |         MAX(v) OVER (PARTITION BY measurement_subject, ng) AS nv,
         |         MAX(CASE WHEN v IS NOT NULL THEN bucket_s END)
         |           OVER (PARTITION BY measurement_subject, ng) AS nt
         |  FROM islands)
         |SELECT measurement_subject, bucket_s AS time_s,
         |       CASE WHEN v IS NOT NULL THEN v
         |            WHEN pv IS NOT NULL AND nv IS NOT NULL
         |              THEN ROUND(pv + (nv - pv) * (bucket_s - pt) / (nt - pt), 6)
         |            ELSE NULL END AS value,
         |       n_events
         |FROM fill ORDER BY 1, 2""".stripMargin
  }

  /** Full ASAP replay in DuckDB SQL — oracle for q_sampled_asap. Mirrors
    * [[graft.functions.Asap]] stage by stage: bucketed-AVG grid (same
    * bucket function as B2), linear gap-fill, population kurtosis,
    * ACF at lags 1..n/2, interior local-maxima peak detection above
    * max(mean(acf), 0), per-candidate trailing SMA with kurtosis
    * preservation and roughness (σ of first differences) minimization,
    * minBy tie-break order (peaks ascending, then w=1). The discrete
    * window choice makes this FP-sensitive in principle; the
    * AsapGoldenSpec cross-implementation bound (≤1e-9 divergence) is
    * what makes the replay safe in practice — both engines land on the
    * same window, and round-6 absorbs the arithmetic-order noise in the
    * smoothed values. Verified to hash-match at sf0.01 (w=1 regime) AND
    * sf0.1 (w>1 regime — the full search path).
    */
  private def asapOracleSql: String = {
    val res = 50
    val w = math.max(1L, (E1 - S1) / res)
    s"""$Cte,
       |grid0 AS (
       |  SELECT ${bucketSql(w)} AS time_s, AVG(measurement_number) AS v
       |  FROM conditions WHERE $ScanPred
       |  GROUP BY 1 HAVING AVG(measurement_number) IS NOT NULL),
       |gaps AS (
       |  SELECT time_s, v,
       |         lead(time_s) OVER (ORDER BY time_s) AS nt,
       |         lead(v) OVER (ORDER BY time_s) AS nv
       |  FROM grid0),
       |gf AS (
       |  SELECT time_s, v FROM grid0
       |  UNION ALL
       |  SELECT time_s + g * $w,
       |         v + (nv - v) * (CAST(g AS DOUBLE) / CAST((nt - time_s) // $w AS BIGINT))
       |  FROM gaps, unnest(range(1, CAST((nt - time_s) // $w AS BIGINT))) t(g)
       |  WHERE nt IS NOT NULL),
       |s AS (SELECT time_s, v, row_number() OVER (ORDER BY time_s) AS i FROM gf),
       |st AS (SELECT count(*) AS n, avg(v) AS m FROM s),
       |cent AS (SELECT i, v - (SELECT m FROM st) AS c FROM s),
       |dn AS (SELECT sum(c*c) AS d FROM cent),
       |k0 AS (
       |  SELECT CASE WHEN (SELECT n FROM st) < 2 THEN 0.0
       |              WHEN m2 = 0 THEN 0.0 ELSE m4/(m2*m2) END AS k
       |  FROM (SELECT sum(c*c)/(SELECT n FROM st) AS m2,
       |               sum(c*c*c*c)/(SELECT n FROM st) AS m4 FROM cent)),
       |acf AS (
       |  SELECT l.lag,
       |         CASE WHEN (SELECT d FROM dn) = 0 THEN 0.0
       |              ELSE COALESCE((SELECT sum(a.c * b.c) FROM cent a JOIN cent b ON b.i = a.i + l.lag), 0.0)
       |                   / (SELECT d FROM dn) END AS corr
       |  FROM (SELECT unnest(range(1, (SELECT n FROM st) // 2 + 1)) AS lag) l),
       |th AS (SELECT greatest(avg(corr), 0.0) AS t FROM acf),
       |peaks AS (
       |  SELECT a.lag AS w
       |  FROM acf a JOIN acf p ON p.lag = a.lag - 1 JOIN acf q ON q.lag = a.lag + 1
       |  WHERE a.corr > p.corr AND a.corr >= q.corr AND a.corr > (SELECT t FROM th)),
       |cand AS (
       |  SELECT w FROM peaks WHERE w <= greatest(1, (SELECT n FROM st) // 2)
       |  UNION SELECT 1),
       |sm AS (
       |  SELECT c.w, a.i AS j, sum(b.v)/c.w AS sv
       |  FROM cand c, s a JOIN s b ON b.i >= a.i AND b.i <= a.i + c.w - 1
       |  WHERE a.i <= (SELECT n FROM st) - c.w + 1
       |  GROUP BY c.w, a.i),
       |smst AS (SELECT w, count(*) AS ns, avg(sv) AS ms FROM sm GROUP BY w),
       |kurt AS (
       |  SELECT sm.w,
       |         CASE WHEN any_value(ns) < 2 THEN 0.0
       |              WHEN sum(pow(sv-ms,2))/any_value(ns) = 0 THEN 0.0
       |              ELSE (sum(pow(sv-ms,4))/any_value(ns))
       |                   / pow(sum(pow(sv-ms,2))/any_value(ns), 2) END AS k
       |  FROM sm JOIN smst USING (w) GROUP BY sm.w),
       |diffs AS (
       |  SELECT w, sv - lag(sv) OVER (PARTITION BY w ORDER BY j) AS dd
       |  FROM sm),
       |rough AS (
       |  SELECT w, CASE WHEN count(dd) < 2 THEN 0.0
       |                 ELSE sqrt(sum(pow(dd - md, 2)) / count(dd)) END AS r
       |  FROM (SELECT w, dd, avg(dd) OVER (PARTITION BY w) AS md FROM diffs WHERE dd IS NOT NULL)
       |  GROUP BY w),
       |choice AS (
       |  SELECT CASE WHEN (SELECT n FROM st) < 8 THEN 1 ELSE
       |    (SELECT k.w FROM kurt k JOIN rough r USING (w)
       |     JOIN k0 ON TRUE
       |     WHERE k.w = 1 OR k.k >= k0.k
       |     ORDER BY r.r ASC, (k.w = 1) ASC, k.w ASC LIMIT 1) END AS w)
       |SELECT g.time_s AS time_s, ROUND(sm.sv, 6) AS smoothed_value
       |FROM sm JOIN choice ON sm.w = choice.w JOIN s g ON g.i = sm.j
       |ORDER BY time_s""".stripMargin
  }

  private def timeWeightSql(termSql: String): String = {
    val w = (E1 - S1) / 100
    s"""$Cte, scanned AS (
       |  SELECT ${bucketSql(w)} AS time_s, epoch_us("timestamp") AS t, measurement_number AS v
       |  FROM conditions WHERE $ScanPred),
       |paired AS (
       |  SELECT time_s, t, v,
       |         lead(t) OVER (PARTITION BY time_s ORDER BY t) AS nt,
       |         lead(v) OVER (PARTITION BY time_s ORDER BY t) AS nv
       |  FROM scanned)
       |SELECT time_s,
       |       ROUND(CASE WHEN MAX(t) = MIN(t) THEN arg_min(v, t)
       |             ELSE SUM(CASE WHEN nt IS NULL THEN 0 ELSE $termSql END)
       |                  / ((MAX(t) - MIN(t))/1000000.0) END, 6) AS time_weighted_value
       |FROM paired GROUP BY time_s ORDER BY time_s""".stripMargin
  }

  private def changepointsSql: String =
    s"""$Cte
       |SELECT epoch_us("timestamp") AS ts_us, measurement_subject, measurement_of, measurement_string
       |FROM (SELECT *, lag(measurement_string) OVER (PARTITION BY measurement_subject ORDER BY "timestamp") AS prev
       |      FROM conditions WHERE $ScanPred)
       |WHERE measurement_string IS DISTINCT FROM prev ORDER BY ts_us""".stripMargin
}
