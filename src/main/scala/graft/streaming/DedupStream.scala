package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming near-dup gate: a document stream (today's crawl) is checked
  * per micro-batch against a PERSISTED MinHash signature index
  * ([[Dedup.writeSignatureIndex]]) and only novel documents reach the
  * output store — the streaming face of the incremental dedup tier.
  *
  * Contract: the gate deduplicates the stream AGAINST THE INDEX. Two
  * novel near-duplicates arriving in the same stream both pass (neither
  * is in the index); append the accepted batch's band hashes to the
  * index table if in-stream self-dedup matters. That keeps the
  * per-batch state EXTERNAL (the bucketed index table) instead of
  * unbounded in-memory streaming state — at 100 TB the index is a
  * co-partitioned table read, not a Spark state store.
  *
  * `foreachBatch` is the idiom: inside the batch hook the full
  * batch-side machinery runs unchanged ([[Dedup.minhashPairsAgainstIndex]]
  * — catalog-validated parameters, co-partitioned band join,
  * candidate-bounded exact verification), so streaming and batch cannot
  * drift. foreachBatch itself is at-least-once, so every gate here
  * commits each batch through [[GateStream.commitOnce]]: a per-batch
  * directory written with OVERWRITE, and a replay of an
  * already-committed batch re-folds its rows instead of recomputing —
  * the output is effectively-once end to end (`GateStreamSpec` replays
  * every gate after a checkpoint loss); index folds stay idempotent set
  * unions. The anti-join gates, the line gate and the digest gate write
  * `batch_id=<id>` directories (readers get `batch_id` back through
  * partition discovery); the URL gates write `batch-<id>` directories
  * (read with `recursiveFileLookup`).
  */
object DedupStream {

  def start(spark: SparkSession, inputDir: String, indexTable: String,
            indexDocs: DataFrame, outputDir: String, checkpointDir: String,
            trigger: Trigger = Trigger.AvailableNow(),
            maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    startWith(spark, inputDir, outputDir, checkpointDir, trigger, maxFilesPerTrigger) {
      batch =>
        Dedup.minhashPairsAgainstIndex(batch, indexTable, indexDocs)
          .select(col("doc_new").as("doc_id")).distinct()
    }
  }

  /** The same gate against a persisted SIMHASH index
    * ([[Dedup.writeSimhashIndex]]) — with this, all three index families
    * gate streams: MinHash buckets ([[start]]), SimHash band segments
    * (here), IVF lists ([[AnnStream]]). The stored signatures make the
    * per-batch probe recompute-free on the index side; everything else
    * (external state, the committed-batch guard, batch/stream shared
    * code path) matches [[start]].
    *
    * `appendAccepted = true` additionally appends each batch's ACCEPTED
    * documents to the index ([[Dedup.appendToSimhashIndex]]), so later
    * micro-batches dedup against earlier accepted stream docs — closing
    * the "two novel near-duplicates in one stream both pass" window to
    * a single micro-batch. Possible here (and for the IVF gate) because
    * verification runs entirely from STORED state; the MinHash gate
    * verifies against the caller's `indexDocs` texts, which an append
    * cannot grow, so it keeps the index-only contract.
    */
  def startSimhash(spark: SparkSession, inputDir: String, indexTable: String,
                   outputDir: String, checkpointDir: String,
                   trigger: Trigger = Trigger.AvailableNow(),
                   maxFilesPerTrigger: Option[Int] = None,
                   appendAccepted: Boolean = false): StreamingQuery = {
    startWith(spark, inputDir, outputDir, checkpointDir, trigger, maxFilesPerTrigger,
      onAccepted =
        if (appendAccepted) novel => Dedup.appendToSimhashIndex(novel, indexTable)
        else _ => ()) {
      batch =>
        Dedup.simhashPairsAgainstIndex(batch, indexTable)
          .select(col("doc_new").as("doc_id")).distinct()
    }
  }

  /** Media-asset gate: each micro-batch of (id, content) assets is
    * probed against a persisted aHash catalog
    * ([[graft.operators.Multimodal.writeMediaIndex]]) and only novel
    * assets land — the SimHash gate's shape with the perceptual sketch
    * swapped in; the batch's media bytes are hashed once, the catalog's
    * never. `appendAccepted` folds each accepted batch into the catalog.
    */
  def startMedia(spark: SparkSession, inputDir: String, indexTable: String,
                 outputDir: String, checkpointDir: String,
                 trigger: Trigger = Trigger.AvailableNow(),
                 maxFilesPerTrigger: Option[Int] = None,
                 appendAccepted: Boolean = false): StreamingQuery = {
    import graft.operators.Multimodal
    startWith(spark, inputDir, outputDir, checkpointDir, trigger, maxFilesPerTrigger,
      joinKey = "id",
      onAccepted =
        if (appendAccepted) novel => Multimodal.appendToMediaIndex(novel, indexTable)
        else _ => ()) {
      batch =>
        Multimodal.mediaNearDupAgainstIndex(batch, indexTable)
          .select(col("id_new").as("id")).distinct()
    }
  }

  /** Line-claim gate: each micro-batch's documents are rewritten with
    * every index-claimed line removed ([[Dedup.stripClaimedLines]] — the
    * fourth index family streaming gate, after MinHash buckets, SimHash
    * band segments and IVF lists). Unlike the other gates this TRANSFORMS
    * rows rather than dropping them, so it commits its own batch compute
    * instead of [[startWith]]'s anti-join shape. `appendAccepted` appends
    * each batch's surviving lines to the index
    * ([[Dedup.appendToLineIndex]]), closing the cross-batch duplicate
    * window to one micro-batch at the cost of batch-order-dependent
    * claims (leave false when a deterministic replay matters — the
    * index-only result is identical under any batching).
    */
  def startLines(spark: SparkSession, inputDir: String, indexTable: String,
                 outputDir: String, checkpointDir: String,
                 trigger: Trigger = Trigger.AvailableNow(),
                 maxFilesPerTrigger: Option[Int] = None,
                 appendAccepted: Boolean = false): StreamingQuery =
    GateStream.startBatches(spark, inputDir, checkpointDir, trigger, maxFilesPerTrigger) {
      (batch, batchId) =>
        // guarded: a replayed batch that already claimed its surviving
        // lines would strip them from ITSELF on recompute
        GateStream.commitOnce(spark, f"$outputDir/batch_id=$batchId")(
          Dedup.stripClaimedLines(batch, indexTable)) { out =>
          if (appendAccepted) Dedup.appendToLineIndex(
            out.select(explode(split(col("text"), "\n")).as("line")), indexTable)
        }
    }

  /** URL-frontier gate: candidate crawl batches pass only if their
    * CANONICAL URL is not yet claimed by the persisted frontier index
    * ([[graft.operators.UrlOps.writeUrlIndex]]) — the seen-set check a
    * crawl scheduler runs before fetching. Same external-state contract
    * as [[startLines]]: claims come only from the index (batch-partition
    * independent; `appendAccepted = true` claims each accepted batch's
    * canonicals for the next batches).
    *
    * Failure contract: the output write and the index append are two
    * non-atomic writes, committed through [[GateStream.commitOnce]] —
    * the output lands in a `batch-<id>` subdirectory rewritten with
    * `overwrite` (read the tree with `recursiveFileLookup`), a replayed
    * committed batch re-claims its committed canonicals instead of
    * recomputing, and a re-appended claim is harmless duplicate state
    * (the probe treats claims as a set / takes the max `claimed_at`).
    * So the gate is effectively-once end to end, not merely
    * at-least-once like a bare `append` would be.
    */
  def startUrls(spark: SparkSession, inputDir: String, indexTable: String,
                outputDir: String, checkpointDir: String, urlCol: String = "url",
                trigger: Trigger = Trigger.AvailableNow(),
                maxFilesPerTrigger: Option[Int] = None,
                appendAccepted: Boolean = false): StreamingQuery =
    startUrlsWith(spark, inputDir, outputDir, checkpointDir, trigger,
      maxFilesPerTrigger, appendAccepted, indexTable) { batch =>
      graft.operators.UrlOps.stripSeenUrls(batch, urlCol, indexTable)
    }

  /** TTL-aware frontier gate — [[startUrls]] with recrawl semantics:
    * a candidate passes unless the index claim on its canonical URL is
    * newer than the candidate's own `asOfCol` clock minus `ttl`
    * ([[graft.operators.UrlOps.stripSeenUrlsTtl]]), so stale claims
    * expire and URLs re-admit. The per-row clock keeps the survivor set
    * independent of micro-batch partitioning. Same idempotent
    * per-batch-id output contract as [[startUrls]].
    */
  def startUrlsTtl(spark: SparkSession, inputDir: String, indexTable: String,
                   outputDir: String, checkpointDir: String,
                   asOfCol: String, ttl: Long, urlCol: String = "url",
                   trigger: Trigger = Trigger.AvailableNow(),
                   maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    startUrlsWith(spark, inputDir, outputDir, checkpointDir, trigger,
      maxFilesPerTrigger, appendAccepted = false, indexTable) { batch =>
      graft.operators.UrlOps.stripSeenUrlsTtl(batch, urlCol, indexTable,
        asOfCol, ttl)
    }

  /** Compliance gate — the streaming face of the q_crawl_plan chain's
    * filtering half: each micro-batch of fetched pages is robots-
    * enforced ([[graft.operators.UrlOps.filterDisallowed]] against a
    * PARSED rules snapshot), stripped of noindex'd pages
    * ([[graft.operators.TextExtraction.filterNoindexed]]), then probed
    * against the persisted frontier index like [[startUrls]]. The
    * rules frame is captured at start and broadcast per batch — robots
    * snapshots change on crawl-refresh cadence, so a rules update is a
    * gate restart by design (a per-trigger re-read would make the
    * survivor set depend on WHEN a batch ran, breaking the
    * batch-partition-independence contract the oracle checks). Same
    * idempotent per-batch-id output contract as [[startUrls]].
    */
  def startCompliance(spark: SparkSession, inputDir: String,
                      indexTable: String, outputDir: String,
                      checkpointDir: String, robots: DataFrame,
                      urlCol: String = "url", htmlCol: String = "html",
                      keyCol: String = "doc_id",
                      trigger: Trigger = Trigger.AvailableNow(),
                      maxFilesPerTrigger: Option[Int] = None,
                      appendAccepted: Boolean = false): StreamingQuery =
    startUrlsWith(spark, inputDir, outputDir, checkpointDir, trigger,
      maxFilesPerTrigger, appendAccepted, indexTable) { batch =>
      val allowed = graft.operators.UrlOps.filterDisallowed(
        batch, urlCol, keyCol, robots)
      val indexable = graft.operators.TextExtraction.filterNoindexed(
        allowed, htmlCol)
      graft.operators.UrlOps.stripSeenUrls(indexable, urlCol, indexTable)
    }

  private def startUrlsWith(spark: SparkSession, inputDir: String,
                            outputDir: String, checkpointDir: String,
                            trigger: Trigger, maxFilesPerTrigger: Option[Int],
                            appendAccepted: Boolean, indexTable: String)(
                            gate: DataFrame => DataFrame): StreamingQuery =
    GateStream.startBatches(spark, inputDir, checkpointDir, trigger, maxFilesPerTrigger) {
      (batch, batchId) =>
        GateStream.commitOnce(spark, f"$outputDir/batch-$batchId%05d")(gate(batch)) { out =>
          if (appendAccepted)
            graft.operators.UrlOps.appendToUrlIndex(out.select("canon_url"), indexTable)
        }
    }

  /** Payload-digest gate — the crawl-side FIRST dedup tier as a
    * stream (the eighth external-state streaming family): each
    * micro-batch of parsed WARC records is probed against a persisted
    * digest index ([[graft.sources.WarcIngest.writeDigestIndex]]) and
    * only novel RESPONSE records land (non-responses carry no payload
    * to store). Contract matches [[start]]: the gate dedups AGAINST
    * THE INDEX — two novel records with the same digest in one stream
    * both pass unless `appendAccepted` folds each accepted batch's
    * digests back in (closing the window to one micro-batch, at the
    * cost of batch-order-dependent survivors — leave false when a
    * deterministic replay matters).
    */
  def startDigest(spark: SparkSession, inputDir: String, indexTable: String,
                  outputDir: String, checkpointDir: String,
                  trigger: Trigger = Trigger.AvailableNow(),
                  maxFilesPerTrigger: Option[Int] = None,
                  appendAccepted: Boolean = false): StreamingQuery = {
    import graft.sources.WarcIngest
    GateStream.startBatches(spark, inputDir, checkpointDir, trigger, maxFilesPerTrigger) {
      (batch, batchId) =>
        GateStream.commitOnce(spark, f"$outputDir/batch_id=$batchId")(
          WarcIngest.novelByDigest(batch, indexTable)) { novel =>
          if (appendAccepted) {
            WarcIngest.appendToDigestIndex(novel, indexTable)
            // the batch frame lives in a CLONED session — keep the
            // OUTER session's cached relation fresh for the next probe
            spark.catalog.refreshTable(indexTable)
          }
        }
    }
  }

  /** The anti-join gate shape: `dupIds(batch)` = the `joinKey` ids the
    * prober flags against the index, the left anti-join keeps the novel
    * rows, and `onAccepted` folds each committed batch's novel rows into
    * the index (cached, so the fold doesn't recompute the probe).
    */
  private[streaming] def startWith(spark: SparkSession, inputDir: String, outputDir: String,
                        checkpointDir: String, trigger: Trigger,
                        maxFilesPerTrigger: Option[Int],
                        joinKey: String = "doc_id",
                        onAccepted: DataFrame => Unit = _ => ())(
                        dupIds: DataFrame => DataFrame): StreamingQuery =
    GateStream.startBatches(spark, inputDir, checkpointDir, trigger, maxFilesPerTrigger) {
      (batch, batchId) =>
        GateStream.commitOnce(spark, f"$outputDir/batch_id=$batchId")(
          batch.join(dupIds(batch), Seq(joinKey), "left_anti"))(onAccepted)
    }
}
