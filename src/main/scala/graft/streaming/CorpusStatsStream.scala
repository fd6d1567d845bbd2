package graft.streaming

import graft.operators.TextAnalysis
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming corpus statistics: each micro-batch of documents appends its
  * own vocabulary partials (batch-local hash agg) to a persisted
  * [[TextAnalysis.writeVocabIndex]] table — continuously-maintained corpus
  * stats with NO Spark state store: the "state" is the mergeable index
  * table, per-batch cost ∝ batch size, and any reader can serve the
  * current vocabulary mid-stream with [[TextAnalysis.vocabFromIndex]]
  * (counts are only ever additive, so a concurrent read is simply a
  * slightly-stale snapshot).
  *
  * Appends accumulate one small file set per batch — the classic
  * small-file problem; [[TextAnalysis.compactVocabIndex]] folds the
  * partials back to one row per token, the
  * [[graft.sources.ConditionsTable.compact]] hygiene applied to the
  * stats store. Unguarded and at-least-once: a replayed batch appends
  * its partials again, and counts are NOT idempotent under replay, so
  * production sinks should stage per-batch partials keyed by batchId
  * and merge exactly-once.
  */
object CorpusStatsStream {

  def start(spark: SparkSession, inputDir: String, indexTable: String,
            checkpointDir: String,
            trigger: Trigger = Trigger.AvailableNow(),
            maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    GateStream.startBatches(spark, inputDir, checkpointDir, trigger, maxFilesPerTrigger) {
      (batch, _) => TextAnalysis.appendToVocabIndex(batch, indexTable)
    }
}
