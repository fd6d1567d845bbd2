package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming maintenance of a corpus k-min-value overlap sketch — the
  * EIGHTH external-state gate family: state is the persisted
  * [[Dedup.writeOverlapSketch]] table (numPerm rows, total), and each
  * micro-batch folds its own per-perm minima in via the mergeable-min
  * algebra ([[Dedup.mergeIntoOverlapSketch]]). Per-batch cost is one
  * distinct-shingle pass over the BATCH; the merge itself touches
  * numPerm rows — the accumulated corpus is never rescanned, and after
  * any micro-batching the table equals the one-shot sketch of
  * everything streamed (min is associative-commutative), so probes
  * against it keep the [[Dedup.corpusOverlap]] oracle contract.
  */
object OverlapSketchStream {

  def start(spark: SparkSession, inputDir: String, sketchTable: String,
            checkpointDir: String,
            trigger: Trigger = Trigger.AvailableNow(),
            maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    GateStream.startBatches(spark, inputDir, checkpointDir, trigger, maxFilesPerTrigger) {
      (batch, _) => Dedup.mergeIntoOverlapSketch(batch, sketchTable)
    }
}
