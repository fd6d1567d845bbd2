package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Product-analytics rollups over the conditions feed — the queries a
  * dashboard layer asks of an event stream once it has users and event
  * types (the reference's EAV model carries both: subject = user,
  * measurement_of = event type).
  */
object EventAnalytics {

  /** Retention cohorts: subjects grouped by their FIRST-ACTIVE day (the
    * cohort), then counted on each subsequent day they were active —
    * `(cohort_day, day_offset, n_active)`, the classic retention
    * triangle. Day 0 row = cohort size. All-integer UTC day arithmetic.
    *
    * Scale shape: first-day per subject is one hash agg; the activity
    * set is a distinct over (subject, day); the cohort join broadcasts
    * the (subject → cohort) map when small and hash-joins otherwise;
    * final count is a hash agg on (cohort_day, offset). No windows, no
    * driver state.
    */
  def retentionCohorts(conditions: DataFrame, of: String,
                       startS: Long, endS: Long): DataFrame = {
    val days = TimeseriesQueries.scan(conditions, of, startS, endS)
      .select(col("measurement_subject"),
        expr("unix_micros(timestamp) div 1000000 div 86400").as("day"))
      .distinct()
    val cohorts = days.groupBy("measurement_subject")
      .agg(min("day").as("cohort_day"))
    days.join(cohorts, Seq("measurement_subject"))
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(countDistinct("measurement_subject").as("n_active"))
      .orderBy("cohort_day", "day_offset")
  }

  /** EAV-to-wide pivot: one row per (subject, epoch-aligned bucket), one
    * column per requested metric (bucket AVG, 6-dp-rounded; NULL when
    * the metric is absent in the bucket) — the "give me a normal table"
    * export every EAV store eventually needs. Metrics are an EXPLICIT
    * list: the output schema is deterministic and Spark's pivot skips
    * its extra distinct-scan pass.
    *
    * Scale shape: single scan filtered to the metric list, ONE hash
    * aggregation on (subject, bucket) computing all metric columns as
    * conditional partial aggregates — the hand-written `AVG(CASE WHEN
    * ...)` form the oracle uses. Deliberately NOT Dataset `.pivot()`:
    * Spark plans that as TWO aggregation stages ((subject, bucket, of)
    * avg, then a pivotfirst regroup on (subject, bucket) — a second
    * exchange); the conditional-agg form is one partial+final aggregate
    * pair (plan pinned in QueryPlanSpec), with one exchange over a slice
    * read in parallel and none over a slice
    * [[TimeseriesQueries.during]] reads in one task.
    */
  def pivotWide(conditions: DataFrame, metrics: Seq[String],
                startS: Long, endS: Long, widthS: Long): DataFrame = {
    require(metrics.nonEmpty, "metrics must be non-empty")
    require(widthS > 0, "widthS must be positive")
    val wUs = widthS * 1000000L
    val aggs = metrics.map(m =>
      round(avg(when(col("measurement_of") === m, col("measurement_number"))), 6).as(m))
    TimeseriesQueries.during(conditions, startS, endS)
      .filter(col("measurement_of").isin(metrics: _*) &&
        col("measurement_number").isNotNull)
      .select(col("measurement_subject"), col("measurement_of"),
        col("measurement_number"),
        expr(s"((unix_micros(timestamp) - pmod(unix_micros(timestamp), ${wUs}L)) div ${wUs}L) * ${widthS}L")
          .as("bucket_s"))
      .groupBy("measurement_subject", "bucket_s")
      .agg(aggs.head, aggs.tail: _*)
      .orderBy("measurement_subject", "bucket_s")
  }

  /** N-step ordered funnel: for every step-0 event, whether the subject
    * performed step 1 within `horizonS` of it, step 2 within `horizonS`
    * of THAT step-1 event, and so on (each hop's clock restarts at the
    * reached event — the windowed-funnel convention of the event-
    * analytics engines). Output: per subject, `n_0` step-0 events and
    * `n_i` of them that reached step i — the conversion funnel.
    *
    * Each hop is one [[AsOfJoin.asofNext]] (earliest step-i event
    * at-or-after the anchor): union-marker + running window, one
    * shuffle+sort per hop over (anchors ∪ step events), never a range
    * join. Anchors are DEDUPLICATED per (subject, ts) before the hop and
    * re-attached by hash join, so events funneling through the same
    * intermediate event don't multiply the asof input.
    */
  def funnel(conditions: DataFrame, steps: Seq[String], startS: Long,
             endS: Long, horizonS: Long): DataFrame = {
    require(steps.size >= 2, "funnel needs at least two steps")
    require(horizonS > 0, "horizonS must be positive")
    val horizonUs = horizonS * 1000000L
    def evs(of: String) = TimeseriesQueries.scan(conditions, of, startS, endS)
      .select(col("measurement_subject").as("s"), col("timestamp"))
    var frame = evs(steps.head).select(col("s"), col("timestamp").as("ts_0"))
    for ((step, i) <- steps.tail.zipWithIndex) {
      val prev = s"ts_$i"
      val anchors = frame.filter(col(prev).isNotNull)
        .select(col("s"), col(prev).as("timestamp")).distinct()
      val hop = AsOfJoin.asofNext(anchors, evs(step), "s", "timestamp")
        .select(col("s"), col("timestamp").as(prev),
          when(unix_micros(col("next_ts")) - unix_micros(col("timestamp")) <= horizonUs,
            col("next_ts")).as(s"ts_${i + 1}"))
      frame = frame.join(hop, Seq("s", prev), "left")
    }
    val counts = steps.indices.map(i => count(col(s"ts_$i")).as(s"n_$i"))
    frame.groupBy(col("s").as("measurement_subject"))
      .agg(counts.head, counts.tail: _*)
      .orderBy("measurement_subject")
  }
}
