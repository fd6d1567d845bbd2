package graft.functions

import graft.queries.TimeseriesQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Largest-Triangle-Three-Buckets downsampling (Steinarsson 2013, "Down-
  * sampling Time Series for Visual Representation") — the standard
  * dashboard decimation (TimescaleDB toolkit ships it as `lttb()`): keep
  * the first and last points, split the interior into `threshold − 2`
  * equal-count buckets, and from each bucket keep the point forming the
  * largest triangle with the PREVIOUSLY KEPT point and the average of the
  * NEXT bucket — the selection that preserves visual extremes where a
  * plain bucket-average flattens them.
  *
  * Exactness: the argmax is evaluated in pure 64-bit integer arithmetic.
  * With `x` = µs offset from range start and `y` = `scale`-quantized
  * value, the triangle comparison uses the c-scaled form
  * `|(xₚᵣₑᵥ·c − Σx)(y − yₚᵣₑᵥ) − (xₚᵣₑᵥ − x)(Σy − yₚᵣₑᵥ·c)|`
  * (c = next-bucket count; area is translation-invariant, so the offset
  * changes nothing) — no FP division, no tie ambiguity (ties break to the
  * earliest point), every engine computes the identical winner. The
  * DuckDB oracle replays the sequential selection as an unrolled CTE
  * chain over the same integers.
  *
  * Scale shape: one narrow scan + per-subject `sort_array(collect_list)`
  * aggregation — the selection kernel sees ONE subject's in-range series,
  * the same task-memory bound as the exact Hampel/ASAP tiers (a
  * downsample query's series is the thing being charted; for wider spans
  * pre-reduce with `aggregatedData` first). No shuffle beyond the one
  * subject hash-agg, no driver collect.
  */
object Lttb {

  /** (subject, time_us, value_scaled): ≤`threshold` points per subject —
    * all points when a series is already small enough, the LTTB selection
    * otherwise. Duplicate timestamps order by (ts, value) — deterministic
    * in both engines.
    */
  def downsample(conditions: DataFrame, of: String, startS: Long, endS: Long,
                 threshold: Int, scale: Int = 100): DataFrame = {
    require(threshold >= 3, "threshold must be ≥ 3 (first + last + ≥1 bucket)")
    require(scale > 0, "scale must be positive")
    val spark = conditions.sparkSession
    import spark.implicits._
    val startUs = startS * 1000000L
    val kernel = udf { (pts: Seq[org.apache.spark.sql.Row]) =>
      val arr = pts.map(r => (r.getLong(0), r.getLong(1))).toArray
      if (arr.length <= threshold) arr
      else {
        val n = arr.length
        val m = threshold - 2
        val out = Array.newBuilder[(Long, Long)]
        out.sizeHint(threshold)
        out += arr(0)
        var prev = arr(0)
        var k = 0
        while (k < m) {
          val lo = 1 + (k.toLong * (n - 2) / m).toInt
          val hi = 1 + ((k + 1).toLong * (n - 2) / m).toInt
          // next anchor: bucket k+1's sum (the last point for the final bucket)
          var c = 0L; var sx = 0L; var sy = 0L
          if (k == m - 1) { c = 1L; sx = arr(n - 1)._1; sy = arr(n - 1)._2 }
          else {
            val nlo = 1 + ((k + 1).toLong * (n - 2) / m).toInt
            val nhi = 1 + ((k + 2).toLong * (n - 2) / m).toInt
            var j = nlo
            while (j < nhi) { c += 1; sx += arr(j)._1; sy += arr(j)._2; j += 1 }
            if (c == 0) { c = 1L; sx = arr(n - 1)._1; sy = arr(n - 1)._2 }
          }
          if (lo < hi) {
            var best = -1
            var bestT = -1L
            var i = lo
            while (i < hi) {
              val t = math.abs(
                (prev._1 * c - sx) * (arr(i)._2 - prev._2) -
                (prev._1 - arr(i)._1) * (sy - prev._2 * c))
              if (t > bestT) { bestT = t; best = i }
              i += 1
            }
            out += arr(best)
            prev = arr(best)
          } // empty bucket (n − 2 < m): keep the previous anchor
          k += 1
        }
        out += arr(n - 1)
        out.result()
      }
    }
    TimeseriesQueries.scan(conditions, of, startS, endS)
      .filter(col("measurement_number").isNotNull)
      .select(col("measurement_subject"),
        (unix_micros(col("timestamp")) - startUs).as("x"),
        round(col("measurement_number") * scale, 0).cast("long").as("y"))
      .groupBy("measurement_subject")
      .agg(sort_array(collect_list(struct(col("x"), col("y")))).as("pts"))
      .select(col("measurement_subject"), explode(kernel(col("pts"))).as("p"))
      .select(col("measurement_subject"),
        (col("p._1") + lit(startUs)).as("time_us"),
        col("p._2").as("value_scaled"))
      .orderBy("measurement_subject", "time_us", "value_scaled")
  }
}
