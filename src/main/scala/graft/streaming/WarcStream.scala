package graft.streaming

import graft.sources.WarcIngest
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming archive ingestion — the crawl pipeline's front door as a
  * stream: `.warc.gz` archive FILES dropped into a directory are picked
  * up by the `binaryFile` file-stream source, split into members
  * IN-PARTITION ([[WarcIngest.splitGzMembers]] — same exact RFC 1952
  * walk, same 256 MiB per-member cap), header-parsed, filtered to
  * usable responses, and appended to the record store.
  *
  * The whole transform is STATELESS (map + generator + filter), so it
  * runs inside the native parquet SINK rather than foreachBatch — which
  * buys exactly-once file output (the sink's transaction log) instead
  * of foreachBatch's at-least-once appends; a crashed batch replays
  * with no duplicate records. Downstream stages (digest gate, curation,
  * link extraction) consume the store with their own contracts.
  *
  * Scale shape: one input row per archive file (the batch source's
  * shape), member explode and parse are shuffle-free; at a 100k-file
  * crawl drop the only knob that matters is `maxFilesPerTrigger`
  * (archives-per-micro-batch — each holds one file + one inflated
  * member in memory at a time).
  */
object WarcStream {

  def startArchives(spark: SparkSession, inputDir: String,
                    outputDir: String, checkpointDir: String,
                    trigger: Trigger = Trigger.AvailableNow(),
                    maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    import org.apache.spark.sql.types._
    // the binaryFile source's schema is FIXED; the file-stream source
    // just refuses to infer it, so state it explicitly
    val binaryFileSchema = StructType(Seq(
      StructField("path", StringType),
      StructField("modificationTime", TimestampType),
      StructField("length", LongType),
      StructField("content", BinaryType)))
    // the sink half of the gate skeleton: input-sized shuffle
    // partitions, append mode, trigger and checkpoint
    GateStream.startParquet(spark, inputDir, outputDir, checkpointDir, trigger) {
      val reader = spark.readStream.format("binaryFile")
        .schema(binaryFileSchema)
      maxFilesPerTrigger.foreach(n =>
        reader.option("maxFilesPerTrigger", n.toString))
      val records = reader.load(inputDir)
        .select(col("path").as("archive"),
          explode(WarcIngest.splitGzMembers(col("content"))).as("record"))
      WarcIngest.responsesOnly(WarcIngest.parseRawRecords(records))
    }
  }
}
