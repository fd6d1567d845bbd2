package graft.streaming

import graft.util.StreamParallelism
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** The one streaming-gate skeleton: every parquet-fed stream in this
  * engine starts here, and every gate that must not commit a batch twice
  * commits through [[commitOnce]]. A gate supplies only its per-batch
  * work (and, for the index-folding gates, the fold); the plumbing a
  * Functions host would own — reader, trigger, checkpoint, sink — lives
  * in one place.
  *
  * Starting a stream: a file-stream reader over `inputDir` ([[read]],
  * optionally capped at `maxFilesPerTrigger` files per micro-batch),
  * shuffle partitions sized from the input at start
  * ([[StreamParallelism.withSizedShufflePartitions]]), append mode, the
  * caller's trigger and checkpoint — into a `foreachBatch` body
  * ([[startBatches]]) or the native parquet sink ([[startParquet]]).
  *
  * Committing a batch: `foreachBatch` is at-least-once (a crash between
  * the sink write and the checkpoint commit replays the batch), so a
  * guarded gate writes each batch to its own directory with OVERWRITE
  * and never recomputes a batch whose directory already committed.
  * Replayable source + idempotent sink = effectively-once output.
  */
object GateStream {

  /** The file stream over the parquet files in `inputDir`. */
  def read(spark: SparkSession, inputDir: String, schema: StructType,
           maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.parquet(inputDir)
  }

  /** A `foreachBatch` stream over `inputDir` (schema from a driver-side
    * batch peek of the same directory); `body` gets each micro-batch and
    * its id.
    */
  def startBatches(spark: SparkSession, inputDir: String, checkpointDir: String,
                   trigger: Trigger, maxFilesPerTrigger: Option[Int])(
                   body: (DataFrame, Long) => Unit): StreamingQuery = {
    val schema = spark.read.parquet(inputDir).schema
    start(spark, inputDir, checkpointDir, trigger)(
      read(spark, inputDir, schema, maxFilesPerTrigger).writeStream
        .foreachBatch((batch: Dataset[Row], id: Long) => body(batch.toDF(), id)))
  }

  /** `stream` (built over `inputDir`) into the native parquet sink at
    * `outputDir` — exactly-once file output through the sink's own
    * commit log, so no batch guard is needed.
    */
  def startParquet(spark: SparkSession, inputDir: String, outputDir: String,
                   checkpointDir: String, trigger: Trigger = Trigger.AvailableNow())(
                   stream: => DataFrame): StreamingQuery =
    start(spark, inputDir, checkpointDir, trigger)(
      stream.writeStream.format("parquet").option("path", outputDir))

  private def start(spark: SparkSession, inputDir: String, checkpointDir: String,
                    trigger: Trigger)(writer: => DataStreamWriter[Row]): StreamingQuery =
    StreamParallelism.withSizedShufflePartitions(spark, inputDir) {
      writer.outputMode("append")
        .trigger(trigger)
        .option("checkpointLocation", checkpointDir)
        .start()
    }

  /** Commit one micro-batch's `rows` to `batchPath` at most once, then
    * `fold` them into the gate's index.
    *
    * A first run writes `rows` with OVERWRITE (clearing any part-files a
    * crashed earlier attempt left) and folds them after the write. A
    * replay of a batch whose directory already COMMITTED (its `_SUCCESS`
    * marker exists) is never recomputed: the fold ran too, so its own
    * keys would now probe as seen and the recompute would overwrite the
    * committed rows with an empty novel set. It re-folds the committed
    * rows instead (harmless duplicate index state, the append contract)
    * and leaves the output untouched. A batch that crashed MID-write has
    * no marker and its fold never ran, so the replay recomputes the
    * identical rows against the unchanged index.
    */
  def commitOnce(spark: SparkSession, batchPath: String)(rows: => DataFrame)(
                 fold: DataFrame => Unit): Unit =
    if (committed(spark, batchPath)) readCommitted(spark, batchPath).foreach(fold)
    else {
      val out = rows.persist(StorageLevel.MEMORY_AND_DISK)
      try {
        out.write.mode("overwrite").parquet(batchPath)
        fold(out)
      } finally out.unpersist()
    }

  private def committed(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path, "_SUCCESS")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The committed rows of a replayed batch directory — None when the
    * batch was EMPTY (an empty frame commits `_SUCCESS` with zero part
    * files, which a bare parquet read cannot infer a schema from; empty
    * also means there is nothing to re-fold).
    */
  private def readCommitted(spark: SparkSession, path: String): Option[DataFrame] = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasParts = fs.listStatus(dir).exists(_.getPath.getName.startsWith("part-"))
    if (hasParts) Some(spark.read.parquet(path)) else None
  }
}
