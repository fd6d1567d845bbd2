package graft.streaming

import graft.operators.QualityModels
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming quality gate: incoming documents are scored per micro-batch
  * against a PERSISTED Naive-Bayes model ([[QualityModels.writeNbModel]])
  * and only above-threshold docs reach the output store — the model-based
  * sibling of the dedup gates ([[DedupStream]]) and the fifth external
  * state family to gate streams (MinHash buckets, SimHash segments, IVF
  * lists, line claims, NB weights).
  *
  * State is the vocab-sized model table, never a Spark state store: the
  * per-batch cost is one explode + weight join + per-doc sum, independent
  * of how much has streamed before, and a model retrain (overwrite the
  * table) upgrades the gate between batches with no checkpoint surgery.
  * Scoring inside `foreachBatch` runs the exact batch scorer
  * ([[QualityModels.scoreAgainstModel]]), so streaming and batch cannot
  * drift. Unguarded: survivors are APPENDED to `outputDir`, so a
  * replayed batch lands twice (at-least-once on batch replay).
  */
object QualityStream {

  def start(spark: SparkSession, inputDir: String, modelTable: String,
            outputDir: String, checkpointDir: String,
            threshold: Double = 0.0,
            trigger: Trigger = Trigger.AvailableNow(),
            maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    GateStream.startBatches(spark, inputDir, checkpointDir, trigger, maxFilesPerTrigger) {
      (batch, _) =>
        val passed = QualityModels.scoreAgainstModel(batch, modelTable)
          .filter(col("score") > threshold)
          .select("doc_id")
        batch.join(passed, Seq("doc_id"), "left_semi")
          .write.mode("append").parquet(outputDir)
    }
}
