package graft.functions

import graft.queries.TimeseriesQueries
import org.apache.spark.sql.{DataFrame, SparkSession}

/** B5 `get_sampled_data` (`db/get_sampled_data.sql`): ASAP smoothing — the
  * timescaledb_toolkit `asap_smooth(ts, value, resolution)` aggregate,
  * i.e. the VLDB'17 "ASAP: Prioritizing Attention via Time Series
  * Smoothing" algorithm (Rong & Bailis): choose the simple-moving-average
  * window that minimizes roughness (σ of first differences) while
  * preserving kurtosis, with candidate windows taken from autocorrelation
  * peaks.
  *
  * Scale shape: the expensive part (reducing the raw slice to a regular
  * `resolution`-point grid) is a distributed bucketed AVG (see
  * [[TimeseriesQueries.aggregatedDataByInterval]]); the window search then
  * runs on ≤ `resolution` points driver-side — O(resolution²) worst case on
  * a few hundred points, mirroring the reference's in-database aggregate
  * finishing on one node.
  */
object Asap {

  final case class Point(timeS: Long, value: Double)

  private def mean(xs: IndexedSeq[Double]): Double = xs.sum / xs.length

  private def std(xs: IndexedSeq[Double]): Double = {
    if (xs.length < 2) return 0.0
    val m = mean(xs)
    math.sqrt(xs.map(x => (x - m) * (x - m)).sum / xs.length)
  }

  /** Population kurtosis m4/m2² (Fisher + 3). */
  def kurtosis(xs: IndexedSeq[Double]): Double = {
    if (xs.length < 2) return 0.0
    val m = mean(xs)
    val m2 = xs.map(x => (x - m) * (x - m)).sum / xs.length
    if (m2 == 0.0) return 0.0
    val m4 = xs.map(x => math.pow(x - m, 4)).sum / xs.length
    m4 / (m2 * m2)
  }

  /** Roughness = σ of the first-difference series. */
  def roughness(xs: IndexedSeq[Double]): Double =
    if (xs.length < 2) 0.0
    else std((1 until xs.length).map(i => xs(i) - xs(i - 1)).toIndexedSeq)

  /** Trailing simple moving average; output length n-w+1. */
  def sma(xs: IndexedSeq[Double], w: Int): IndexedSeq[Double] = {
    require(w >= 1 && w <= xs.length)
    val out = new Array[Double](xs.length - w + 1)
    var s = 0.0
    var i = 0
    while (i < xs.length) {
      s += xs(i)
      if (i >= w) s -= xs(i - w)
      if (i >= w - 1) out(i - w + 1) = s / w
      i += 1
    }
    out.toIndexedSeq
  }

  /** Autocorrelation at lags 1..maxLag. */
  def acf(xs: IndexedSeq[Double], maxLag: Int): IndexedSeq[Double] = {
    val n = xs.length
    val m = mean(xs)
    val denom = xs.map(x => (x - m) * (x - m)).sum
    (1 to maxLag).map { lag =>
      if (denom == 0.0) 0.0
      else (0 until n - lag).map(i => (xs(i) - m) * (xs(i + lag) - m)).sum / denom
    }.toIndexedSeq
  }

  /** Local maxima of the ACF above its mean — the ASAP candidate windows. */
  def acfPeaks(corr: IndexedSeq[Double]): Seq[Int] = {
    val threshold = if (corr.nonEmpty) math.max(mean(corr.toVector), 0.0) else 0.0
    (1 until corr.length - 1).collect {
      case i if corr(i) > corr(i - 1) && corr(i) >= corr(i + 1) && corr(i) > threshold =>
        i + 1 // lag index -> window size
    }
  }

  /** Pick the SMA window: among ACF-peak candidates (plus 1 = no smoothing),
    * minimize roughness subject to kurtosis(smoothed) ≥ kurtosis(original).
    */
  def chooseWindow(xs: IndexedSeq[Double]): Int = {
    if (xs.length < 8) return 1
    val k0 = kurtosis(xs)
    val candidates = (acfPeaks(acf(xs, xs.length / 2)) :+ 1)
      .distinct.filter(w => w >= 1 && w <= math.max(1, xs.length / 2))
    val valid = candidates
      .map(w => w -> sma(xs, w))
      .filter { case (w, sm) => w == 1 || kurtosis(sm) >= k0 }
    if (valid.isEmpty) 1
    else valid.minBy { case (_, sm) => roughness(sm) }._1
  }

  /** Linear-interpolate missing buckets so the series is regular — ASAP's
    * ACF/window search assumes equal spacing (the toolkit gap-fills the
    * same way before smoothing). Leading/trailing gaps cannot be
    * interpolated and are left absent.
    */
  def gapFill(points: IndexedSeq[Point], widthS: Long): IndexedSeq[Point] = {
    if (points.length < 2) return points
    val out = Vector.newBuilder[Point]
    var i = 0
    while (i < points.length - 1) {
      val a = points(i)
      val b = points(i + 1)
      out += a
      val gap = ((b.timeS - a.timeS) / widthS).toInt
      var g = 1
      while (g < gap) {
        val frac = g.toDouble / gap
        out += Point(a.timeS + g * widthS, a.value + (b.value - a.value) * frac)
        g += 1
      }
      i += 1
    }
    out += points.last
    out.result()
  }

  /** Full ASAP over an already-gridded regular series. */
  def smooth(points: IndexedSeq[Point]): IndexedSeq[Point] = {
    if (points.length <= 2) return points
    val xs = points.map(_.value)
    val w = chooseWindow(xs)
    val smoothed = sma(xs, w)
    // trailing window: value i covers grid points [i, i+w); stamp at window start
    points.take(smoothed.length).zip(smoothed).map { case (p, v) => Point(p.timeS, v) }
  }

  /** The B5 query: distributed grid-reduce to `resolution` buckets, ASAP
    * window search on the grid, result returned as a local relation.
    */
  def sampledData(spark: SparkSession, conditions: DataFrame, subject: String,
                  of: String, startS: Long, endS: Long, resolution: Int): DataFrame = {
    import spark.implicits._
    val widthS = math.max(1L, (endS - startS) / resolution)
    val grid = TimeseriesQueries
      .aggregatedDataByInterval(conditions, subject, of, startS, endS, widthS)
      .collect()
      .filter(!_.isNullAt(1)) // all-null buckets (non-numeric EAV rows)
      .map(r => Point(r.getLong(0), r.getDouble(1)))
      .toIndexedSeq
    // already time-ordered: a local relation, which collects without a job
    smooth(gapFill(grid, widthS))
      .toDF("time_s", "smoothed_value")
  }
}
