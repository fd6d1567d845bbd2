package graft.streaming

import graft.operators.Sampling
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming weighted sampling without replacement over an unbounded
  * corpus — state is the persisted ≤k-row top-key table
  * ([[Sampling.writeWeightedSampleState]]), and each micro-batch folds
  * in via top-k-of-union ([[Sampling.mergeIntoWeightedSample]]): the
  * Efraimidis–Spirakis keys make "a weighted sample of everything seen
  * so far" a mergeable summary, so the sample is ALWAYS exactly what
  * the one-shot draw over the full history would return, at per-batch
  * cost ∝ the batch (history is never rescanned).
  */
object WeightedSampleStream {

  def start(spark: SparkSession, inputDir: String, stateTable: String,
            checkpointDir: String,
            trigger: Trigger = Trigger.AvailableNow(),
            maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    GateStream.startBatches(spark, inputDir, checkpointDir, trigger, maxFilesPerTrigger) {
      (batch, _) => Sampling.mergeIntoWeightedSample(batch, stateTable)
    }
}
