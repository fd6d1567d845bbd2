package graft.streaming

import graft.operators.Ann
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming embedding near-dup gate: a vector stream (today's embedded
  * crawl) is checked per micro-batch against a PERSISTED IVF index
  * ([[Ann.writeIvfIndex]]) and only novel vectors reach the output
  * store — the embedding face of [[DedupStream]], completing the
  * streaming story for the third index family (MinHash buckets and IVF
  * lists now both gate streams; SimHash shares the MinHash gate shape).
  *
  * Contract mirrors [[DedupStream]]: the gate deduplicates the stream
  * AGAINST THE INDEX — two novel near-duplicates arriving in the same
  * stream both pass (neither is indexed); append accepted batches via
  * [[Ann.appendToIvfIndex]] if in-stream self-dedup matters. State stays
  * EXTERNAL (the `ivf_list`-partitioned table, probed with static
  * partition pruning), not a Spark state store — at 100 TB the per-batch
  * cost is |batch| centroid assignments plus a scan of the probed lists
  * only, independent of total stream history.
  *
  * `foreachBatch` runs the full batch-side machinery unchanged
  * ([[Ann.neardupAgainstIvfIndex]] — catalog-validated properties,
  * single-pass probe assignment, packed rectangle kernel), so streaming
  * and batch cannot drift. `nProbe = nlist` makes the gate exact;
  * `nProbe < nlist` is the documented recall/cost dial. Batches commit
  * through [[DedupStream]]'s guarded anti-join shape
  * ([[GateStream.commitOnce]]): `batch_id=<id>` directories written
  * with OVERWRITE, and a replayed committed batch re-folds its rows
  * instead of recomputing, so the output is effectively-once.
  *
  * The session cache is dropped after each batch's write:
  * [[Ann.neardupAgainstIvfIndex]] caches its packed batch (that is what
  * makes the probe assignment single-pass) and a long-running gate would
  * otherwise accumulate one evictable-but-live packed batch per
  * micro-batch. A dedicated streaming job owns its session's cache.
  */
object AnnStream {

  /** `appendAccepted = true` appends each batch's accepted vectors to
    * the index ([[Ann.appendToIvfIndex]] — assigned against the STORED
    * centroids, never retrained), so later micro-batches dedup against
    * earlier accepted stream vectors; the in-stream duplicate window
    * shrinks to one micro-batch. Pair with [[Ann.ivfDrift]] /
    * [[Ann.maintainIvfIndex]] on a cadence if the stream distribution
    * drifts.
    */
  def start(spark: SparkSession, inputDir: String, indexTable: String,
            outputDir: String, checkpointDir: String,
            threshold: Double, nProbe: Int,
            trigger: Trigger = Trigger.AvailableNow(),
            maxFilesPerTrigger: Option[Int] = None,
            appendAccepted: Boolean = false): StreamingQuery = {
    DedupStream.startWith(spark, inputDir, outputDir, checkpointDir,
      trigger, maxFilesPerTrigger, joinKey = "vec_id",
      onAccepted = { novel =>
        if (appendAccepted) Ann.appendToIvfIndex(novel, indexTable)
        spark.catalog.clearCache()
      }) {
      batch =>
        Ann.neardupAgainstIvfIndex(batch, indexTable, threshold, nProbe)
          .select(col("id_new").as("vec_id")).distinct()
    }
  }
}
