package graft.functions

import graft.queries.TimeseriesQueries
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** B6 `get_sampled_data_with_time_weight`
  * (`db/get_sampled_data_with_time_weight.sql`): per-bucket time-weighted
  * average — the timescaledb_toolkit `time_weight(method, ts, value)` +
  * `average(tw)` pair, with `method` ∈ `linear` (trapezoidal) | `locf`
  * (last-observation-carried-forward).
  *
  * Semantics per bucket (points sorted by time, t in seconds):
  *  - linear:  integral = Σ (t_{i+1}-t_i)·(v_i+v_{i+1})/2
  *  - locf:    integral = Σ (t_{i+1}-t_i)·v_i
  *  - average = integral / (t_n - t_0); a single-point (or zero-duration)
  *    bucket yields the point's value.
  *
  * Implementation: map-side partial `collect_list(struct(ts,v))` per bucket
  * then a deterministic sort-and-integrate on the collected array. Bucket
  * populations are bounded by the dashboard's resolution parameter
  * (span/resolution per bucket), so the per-group buffer is small by
  * construction; the heavy lifting (scan + partial agg) stays distributed
  * and shuffle-light.
  */
object TimeWeight {

  sealed trait Method
  case object Linear extends Method
  case object Locf extends Method

  /** The `method` argument of the B6 surfaces (`linear` | `locf`, any case). */
  def method(name: String): Method = name.toLowerCase match {
    case "linear" => Linear
    case "locf"   => Locf
    case other => throw new IllegalArgumentException(
      s"unknown time_weight method '$other' (expected linear|locf)")
  }

  def integrateSorted(pts: IndexedSeq[(Long, Double)], method: Method): Double = {
    if (pts.isEmpty) return Double.NaN
    val first = pts.head
    val last = pts.last
    val durS = (last._1 - first._1) / 1000000.0
    if (durS == 0.0) return first._2
    var integral = 0.0
    var i = 0
    while (i < pts.length - 1) {
      val (t1, v1) = pts(i)
      val (t2, v2) = pts(i + 1)
      val dtS = (t2 - t1) / 1000000.0
      integral += (method match {
        case Linear => dtS * (v1 + v2) / 2
        case Locf   => dtS * v1
      })
      i += 1
    }
    integral / durS
  }

  private def twUdf(method: Method) = udf { (pts: Seq[Row]) =>
    val sorted = pts.map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toIndexedSeq
    integrateSorted(sorted, method)
  }

  /** The full B6 query: bucket at width = span/resolution, time-weighted
    * average per bucket.
    */
  def sampledDataWithTimeWeight(conditions: DataFrame, subject: String, of: String,
                                startS: Long, endS: Long, method: Method,
                                resolution: Int): DataFrame = {
    val widthS = (endS - startS) / resolution
    require(widthS > 0, "resolution too fine for span")
    TimeseriesQueries.inOrder(TimeseriesQueries.scan(conditions, of, startS, endS, Some(subject))
      // EAV rows of another value type under the same metric name carry a
      // null measurement_number; the toolkit's time_weight skips NULLs
      .filter(col("measurement_number").isNotNull)
      .groupBy(TimeseriesQueries.timeBucketS(widthS, col("timestamp")).as("time_s"))
      .agg(collect_list(struct(unix_micros(col("timestamp")),
        col("measurement_number"))).as("pts"))
      .select(col("time_s"),
        twUdf(method)(col("pts")).as("time_weighted_value")), "time_s")
  }
}
