package graft.streaming

import graft.operators.LinkGraph
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming PageRank maintenance — the daily-crawl shape as a
  * `foreachBatch` gate (the DedupStream/AnnStream precedent, so the
  * link family gets its streaming face like every other persisted-index
  * family): each micro-batch of NEWLY EXTRACTED edges is appended to a
  * [[LinkGraph.writeEdgeIndex]] table and the ranks recomputed AGAINST
  * THE FULL ACCUMULATED INDEX.
  *
  * Incremental ≡ from-scratch by construction: an append is an edge-set
  * union (re-appended pairs collapse exchange-free on read), and the
  * recompute is [[LinkGraph.pagerankAgainstIndex]] itself — so after
  * any batch, the emitted ranks are bit-identical to a batch recompute
  * over everything appended so far, under any batching or arrival
  * order of the same edge set. Replay safety is WRITE-side, not
  * read-side: each batch's ranks land in their own
  * `batch_id=<id>` partition directory with mode OVERWRITE, so a
  * replayed micro-batch (foreachBatch is at-least-once — a crash
  * between the rank write and the checkpoint commit replays it)
  * truncates and rewrites its own directory instead of appending a
  * second copy, and a partially-written batch's orphan part-files are
  * cleared by the same overwrite. The recompute itself is
  * replay-stable: the index append is an idempotent set union, so the
  * re-run ranks equal the originals whether or not the first append
  * committed. Readers take the LATEST batch id via ordinary partition
  * discovery.
  *
  * Scale note: the per-batch cost is a full fixed-point run over the
  * accumulated graph (edge side co-partitioned and exchange-free; only
  * the rank table moves per iteration). That is the right shape while
  * recomputes are cheap relative to the batch cadence; a planet-scale
  * graph runs the append every batch and the recompute on a COARSER
  * trigger — `recomputeEveryN`: edges append every micro-batch, ranks
  * recompute (and emit) only on every Nth, so the dominant cost scales
  * with the recompute cadence instead of the arrival cadence. Readers
  * see ranks as of the LAST recompute batch; a tail of append-only
  * batches leaves ranks that much stale until the next recompute fires
  * — the deliberate freshness-for-cost trade. Emitted ranks stay
  * bit-identical to a from-scratch run over everything appended UP TO
  * the emitting batch — the incremental ≡ from-scratch property is
  * cadence-independent. A bounded drain whose batch count is not a
  * multiple of N ends on the last Nth batch's ranks; [[recomputeNow]]
  * flushes a final recompute over the full index after
  * `awaitTermination`.
  */
object LinkStream {

  def startPagerank(spark: SparkSession, inputDir: String,
                    indexTable: String, outputDir: String,
                    checkpointDir: String, iters: Int = 3,
                    dampingPct: Int = 85,
                    trigger: Trigger = Trigger.AvailableNow(),
                    maxFilesPerTrigger: Option[Int] = None,
                    recomputeEveryN: Int = 1): StreamingQuery = {
    require(recomputeEveryN >= 1,
      s"recomputeEveryN must be >= 1, got $recomputeEveryN")
    GateStream.startBatches(spark, inputDir, checkpointDir, trigger, maxFilesPerTrigger) {
      (batch, id) =>
        LinkGraph.appendToEdgeIndex(batch, indexTable)
        // the batch frame lives in a CLONED session (micro-batch
        // execution), so the append's refresh hits the clone's catalog
        // only — refresh the OUTER session too or its cached relation
        // keeps serving the pre-append file listing
        spark.catalog.refreshTable(indexTable)
        // coarser-trigger recompute: batches 0-indexed, so every Nth =
        // (id+1) % N == 0 (finality of a bounded drain is not
        // observable inside foreachBatch — a drain whose batch count
        // is not a multiple of N ends on the last Nth batch's ranks;
        // call [[recomputeNow]] after awaitTermination to flush)
        if ((id + 1) % recomputeEveryN == 0) {
          // per-batch partition dir + overwrite = replay-idempotent
          // (see the class doc); the dir name is the partition-
          // discovery form so readers get batch_id back as a column
          LinkGraph.pagerankAgainstIndex(spark, indexTable, iters, dampingPct)
            .write.mode("overwrite").parquet(f"$outputDir/batch_id=$id")
        }
    }
  }

  /** Force a rank recompute over the FULL accumulated index and emit
    * it under `batchId` — the post-drain flush for a
    * `recomputeEveryN > 1` run whose batch count wasn't a multiple of
    * N (pass an id above every emitted batch's so [[latestRanks]]
    * picks it up; same overwrite-idempotent sink layout). Identical
    * semantics to an in-stream recompute batch by construction: both
    * are [[LinkGraph.pagerankAgainstIndex]] over the same table.
    */
  def recomputeNow(spark: SparkSession, indexTable: String,
                   outputDir: String, batchId: Long, iters: Int = 3,
                   dampingPct: Int = 85): Unit =
    LinkGraph.pagerankAgainstIndex(spark, indexTable, iters, dampingPct)
      .write.mode("overwrite").parquet(f"$outputDir/batch_id=$batchId")

  /** Ranks as of the LATEST completed batch in a [[startPagerank]]
    * output directory — the reader half of the idempotence contract
    * (`batch_id` comes back as a partition-discovery column; its
    * inferred type is the discovery default, so the max is compared
    * as-is rather than assumed Long).
    */
  def latestRanks(spark: SparkSession, outputDir: String)
      : org.apache.spark.sql.DataFrame = {
    val all = spark.read.parquet(outputDir)
    val last = all.agg(max(col("batch_id"))).head().get(0)
    all.filter(col("batch_id") === last).select("url", "rank")
  }
}
