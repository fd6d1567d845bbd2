package graft.util

import org.apache.spark.sql.DataFrame

/** Size-derived bucket counts for the persisted index families (MinHash
  * band hashes, SimHash/aHash segments, line claims, URL claims, WARC
  * digests, link edges).
  *
  * Every index writer used to pin `buckets = 64` — a constant tuned for
  * no deployment in particular: at toy scale it writes 64 near-empty
  * files per table and makes every co-partitioned probe a 64-task stage
  * for kilobytes of data, while at 100 TB it may be orders of magnitude
  * too few (the whole point of bucketing the index is that probes stay
  * co-partitioned, so the bucket count IS the probe parallelism
  * forever). The guide's file-layout rule (§6: aim for output files in
  * the 128 MB–1 GB range) gives the right policy: derive the count from
  * the bytes about to be written, `ceil(bytes / targetBucketBytes)`.
  *
  * The estimate is Catalyst's own plan-size statistic for the frame
  * being written (`optimizedPlan.stats.sizeInBytes` — file-size-based
  * for scan-derived frames, scaled through projections), so the
  * derivation costs no extra job. Estimates are approximate; buckets
  * only need the right order of magnitude. The estimate is taken BEFORE
  * aggregation: without column statistics Catalyst sizes a `distinct` /
  * `groupBy` as its input scaled by row width, so a distinct-heavy
  * writer over a heavily duplicated input (many pages sharing the same
  * lines, URLs or digests) over-derives its count by the duplication
  * factor. The derived count is clamped to
  * `spark.sql.sources.bucketing.maxBuckets` (Spark refuses a bucketed
  * write above it) and to 2^20. The count is recorded in
  * the table properties so every APPEND reuses the write-time value
  * (bucket count latches at first write — like stream state partitions,
  * see [[StreamParallelism]]).
  *
  * Probe-parallelism note: a co-partitioned gate join adopts the
  * index's bucket count as the join parallelism when the index is too
  * big to broadcast (a tiny index broadcasts, so the derived 1 is
  * harmless; a big index derives many buckets) — a deployment probing a
  * MID-sized index (too big to broadcast, under one target) with far
  * larger batches should force the count from expected probe volume.
  *
  * Overrides, for deployments whose seed volume is not representative
  * of steady state (the latch means a table seeded tiny and grown 1000×
  * keeps its seed-time bucket count until compaction rewrites it):
  *  - `graft.index.buckets` — explicit count, used verbatim;
  *  - `graft.index.targetBucketBytes` — bytes per bucket for the
  *    derivation (default 128MB, the guide's lower file-size bound).
  *
  * Result-safety: bucket count changes file layout and probe-stage task
  * counts only; every probe joins on the full bucket key, so the row
  * sets are identical under any count (oracle-replayed).
  */
object IndexBuckets {

  val ForcedKey = "graft.index.buckets"
  val TargetBytesKey = "graft.index.targetBucketBytes"

  /** Sentinel for writer `buckets` parameters: derive from the frame. */
  val Auto: Int = 0

  /** Hard cap on a derived count (2^20 buckets × 128 MB ≈ 128 TB — above
    * that, raise the target bytes instead of the file count).
    */
  private val MaxDerived = 1 << 20

  /** Spark's own ceiling on a bucketed write's bucket count. */
  private val MaxBucketsKey = "spark.sql.sources.bucketing.maxBuckets"

  /** Resolve a writer's `buckets` parameter: an explicit positive count
    * is used verbatim (tests and callers that pin geometry), [[Auto]]
    * derives from `frame`'s plan-size estimate.
    */
  def resolve(frame: DataFrame, buckets: Int): Int = {
    require(buckets == Auto || buckets > 0,
      s"buckets must be positive or IndexBuckets.Auto, got $buckets")
    if (buckets != Auto) buckets else derived(frame)
  }

  private def derived(frame: DataFrame): Int = {
    val spark = frame.sparkSession
    spark.conf.getOption(ForcedKey) match {
      case Some(forced) =>
        val n =
          try forced.trim.toInt
          catch { case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"$ForcedKey must be a positive integer, got '$forced'") }
        require(n > 0, s"$ForcedKey must be positive, got $n")
        n
      case None =>
        val target = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
          spark.conf.get(TargetBytesKey, "128MB"))
        require(target > 0, s"$TargetBytesKey must be positive, got $target")
        val est = frame.queryExecution.optimizedPlan.stats.sizeInBytes
        // Catalyst reports spark.sql.defaultSizeInBytes (Long.MaxValue)
        // when it genuinely has no estimate (no file source anywhere
        // under the plan) — deriving from that would pin the cap, so
        // fall back to the historical 64 and let the operator force a
        // real count for such sources
        val n = if (est >= BigInt(Long.MaxValue) / 2) BigInt(64) else (est + target - 1) / target
        n.max(1).min(spark.conf.get(MaxBucketsKey).toInt.min(MaxDerived)).toInt
    }
  }
}
