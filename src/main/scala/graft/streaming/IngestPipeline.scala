package graft.streaming

import graft.convert.Bmw
import graft.model.TimeseriesRecord
import graft.sources.ConditionsTable
import graft.util.StreamParallelism
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** Structured Streaming re-expression of the reference's ingest dataflow
  * (SURVEY §3.1/§3.2).
  *
  * Reference shape: Event Hub → convert (glow/homie/emon) → Event Hub →
  * TimescaleDB, and timer → BMW API → Event Hub → dedup-vs-Azure-Table →
  * convert → dual Event Hub sinks → TimescaleDB. Here each hub is a
  * pluggable streaming source/sink (file source stands in for Event Hub;
  * the transforms never know the difference), the two hops fuse into one
  * streaming query (documented difference: no replayable intermediate
  * topic — checkpointing provides replay instead), and the Azure-Table
  * check-then-act dedup becomes `dropDuplicatesWithinWatermark` over
  * checkpointed state (at-most-once per key INTO the pipeline — stronger
  * than the reference, whose emit-then-store-id ordering can duplicate on
  * crash, `shared_code/bmw_to_timescale.py:28-37`).
  *
  * Every stream starts through one private `start`. `startMqtt` and
  * `startWire` store through the file sink ([[ConditionsTable.sink]]):
  * exactly-once, a replayable source plus the sink's `_spark_metadata`
  * commit log. `startBmw` ([[ConditionsTable.append]] and a monitor copy)
  * and [[jdbcBatchWriter]] are at-least-once: a batch replayed after a
  * crash between the write and the offset commit is written again.
  * Dead letters, per format, are a batch pass over the same raw text:
  * [[ConditionsTable.deadLetters]] (MQTT envelopes; a filtered topic is
  * not one), [[graft.sources.WireRecords.deadLetters]] (wire messages)
  * and [[bmwDeadLetters]] (BMW polls; a duplicate is not one).
  */
object IngestPipeline {

  /** Where a pipeline stage reads raw text events from (and, for the
    * wire hop, writes them to). The reference consumes Azure Event Hubs
    * (`json_to_timeseries/function.json:5-14`); Event Hubs exposes a
    * Kafka-compatible endpoint, so the DEPLOYABLE branch is Spark's
    * built-in `format("kafka")` source/sink with the message payload in
    * `value` — selected purely by config, no code edits. [[Files]] is
    * the hermetic default every test, oracle row and bench row runs
    * (this container has no broker; the transforms never know the
    * difference, which is the point of the seam).
    */
  sealed trait SourceConfig
  object SourceConfig {
    /** One JSON event per line under `dir` (text files). */
    final case class Files(dir: String) extends SourceConfig
    /** A Kafka(-compatible) topic; `options` passes through extra
      * `kafka.`-prefixed client settings (e.g. the SASL jaas config an
      * Event Hubs connection string requires).
      */
    final case class Kafka(bootstrapServers: String, topic: String,
                           startingOffsets: String = "earliest",
                           options: Map[String, String] = Map.empty)
      extends SourceConfig
  }

  /** Reader options for the kafka branch — pure, so the translation is
    * spec-checkable without a broker or the kafka connector jar.
    */
  private[streaming] def kafkaSourceOptions(k: SourceConfig.Kafka): Map[String, String] =
    Map("kafka.bootstrap.servers" -> k.bootstrapServers,
      "subscribe" -> k.topic,
      "startingOffsets" -> k.startingOffsets) ++ k.options

  /** Writer options for the kafka branch. */
  private[streaming] def kafkaSinkOptions(k: SourceConfig.Kafka): Map[String, String] =
    Map("kafka.bootstrap.servers" -> k.bootstrapServers,
      "topic" -> k.topic) ++ k.options

  /** The one start of every ingest stream: the raw text behind `src`
    * (file lines, or the kafka record `value` — the Event Hub payload)
    * into the writer `sink` builds, in append mode.
    */
  private def start(spark: SparkSession, src: SourceConfig, checkpointDir: String,
                    trigger: Trigger)(sink: Dataset[String] => DataStreamWriter[_]): StreamingQuery = {
    import spark.implicits._
    val raw = src match {
      case SourceConfig.Files(dir) => spark.readStream.textFile(dir)
      case k: SourceConfig.Kafka =>
        spark.readStream.format("kafka").options(kafkaSourceOptions(k))
          .load().select(col("value").cast("string")).as[String]
    }
    sink(raw).outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .start()
  }

  /** MQTT-side pipeline (A1/A5/A7): text-file source (one JSON event per
    * line) → normalize → date-partitioned parquet conditions sink. The
    * normalize step is [[ConditionsTable.normalize]], the batch code path,
    * so golden tests cover the streaming transform too.
    */
  def startMqtt(spark: SparkSession, inputDir: String, outputDir: String,
                checkpointDir: String,
                trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startMqtt(spark, SourceConfig.Files(inputDir), outputDir, checkpointDir, trigger)

  /** [[startMqtt]] with a config-selected source — the kafka branch makes
    * the A1 parity deployable against a real Event Hubs Kafka endpoint
    * without code edits.
    */
  def startMqtt(spark: SparkSession, src: SourceConfig, outputDir: String,
                checkpointDir: String, trigger: Trigger): StreamingQuery =
    start(spark, src, checkpointDir, trigger)(raw => ConditionsTable.sink(
      ConditionsTable.toStorage(ConditionsTable.normalize(spark, raw)), outputDir))

  /** Convert stage as its OWN pipeline (the reference's two-function
    * topology, `json_to_timeseries` → hub → `timeseries_to_timescale`):
    * raw envelopes in, wire-record JSON out to a replayable intermediate
    * topic (file sink standing in for Event Hub — A5). Pair with
    * [[startWire]] for the storage hop.
    */
  def startConvertToWire(spark: SparkSession, inputDir: String, wireDir: String,
                         checkpointDir: String,
                         trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startConvertToWire(spark, SourceConfig.Files(inputDir),
      SourceConfig.Files(wireDir), checkpointDir, trigger)

  /** [[startConvertToWire]] with config-selected source AND wire sink —
    * with both on kafka this is the reference's hub → convert → hub hop
    * verbatim (A5's sink becomes a kafka `value` write).
    */
  def startConvertToWire(spark: SparkSession, src: SourceConfig, wire: SourceConfig,
                         checkpointDir: String, trigger: Trigger): StreamingQuery =
    start(spark, src, checkpointDir, trigger) { raw =>
      val out = graft.sources.WireRecords.emit(ConditionsTable.normalize(spark, raw))
        .toDF("value").writeStream
      wire match {
        case SourceConfig.Files(dir) => out.format("text").option("path", dir)
        case k: SourceConfig.Kafka   => out.format("kafka").options(kafkaSinkOptions(k))
      }
    }

  /** Storage stage as its OWN pipeline (`timeseries_to_timescale`): wire
    * messages (single record or v1 array envelope) → validate/decode →
    * date-partitioned parquet conditions store.
    */
  def startWire(spark: SparkSession, wireDir: String, outputDir: String,
                checkpointDir: String,
                trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startWire(spark, SourceConfig.Files(wireDir), outputDir, checkpointDir, trigger)

  /** [[startWire]] with a config-selected wire source (A1's second hop). */
  def startWire(spark: SparkSession, wire: SourceConfig, outputDir: String,
                checkpointDir: String, trigger: Trigger): StreamingQuery =
    start(spark, wire, checkpointDir, trigger)(raw => ConditionsTable.sink(
      ConditionsTable.toStorage(graft.sources.WireRecords.decode(raw)), outputDir))

  /** BMW-side dedup + convert (A23/A21): parse each poll once into its
    * (vin, lastUpdatedAt) key, its event instant and its records
    * ([[Bmw.parsePoll]]; a malformed poll or an unparseable time is
    * dropped here and kept by [[bmwDeadLetters]]), drop duplicate keys
    * within a 1-day watermark on that instant, then explode the records.
    *
    * The watermark bounds the dedup state (the reference's Azure Table
    * grew forever), but it is not the reference's semantics: a poll whose
    * `lastUpdatedAt` is at or below the watermark (the newest instant an
    * earlier micro-batch saw, minus 1 day) is dropped — not stored, not
    * dead-lettered, not counted — where the reference stores it. On the
    * 10-min poll cadence that is a poll more than a day late, such as a
    * backlog replayed after an outage; `IngestPipelineSpec`'s three-drain
    * replay pins which rows survive.
    */
  def bmwDeduped(raw: Dataset[String]): Dataset[TimeseriesRecord] = {
    import raw.sparkSession.implicits._
    raw.flatMap(Bmw.parsePoll(_).toOption)
      .withWatermark("eventTime", "1 day")
      .dropDuplicatesWithinWatermark("vin", "lastUpdatedAt")
      .flatMap(_.records)
  }

  /** The raw polls [[Bmw.parsePoll]] rejects, which [[bmwDeduped]] drops:
    * not JSON, no vin/state, no `lastUpdatedAt`, or an unparseable time.
    */
  def bmwDeadLetters(raw: Dataset[String]): Dataset[String] =
    raw.filter((s: String) => Bmw.parsePoll(s).isLeft)

  /** BMW pipeline with the reference's dual-sink fan-out (A6): every
    * micro-batch lands in the conditions store ([[ConditionsTable.append]])
    * AND a monitor copy. `foreachBatch` is the Spark idiom for multi-sink
    * writes.
    */
  def startBmw(spark: SparkSession, inputDir: String, outputDir: String,
               monitorDir: String, checkpointDir: String,
               trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startBmw(spark, SourceConfig.Files(inputDir), outputDir, monitorDir,
      checkpointDir, trigger)

  /** [[startBmw]] with a config-selected source.
    *
    * The dedup state's partition count is sized from a [[SourceConfig.Files]]
    * input at start ([[StreamParallelism.withSizedShufflePartitions]], the
    * rule every gate stream follows; `graft.stream.shufflePartitions` still
    * pins it). A kafka source carries no size signal and keeps the
    * session's `spark.sql.shuffle.partitions`.
    *
    * A micro-batch with no rows writes nothing. The watermark's no-data
    * batch is one: it still runs the dedup (the `isEmpty` probe executes
    * the cached plan, so the state store evicts and commits its version),
    * but adds no empty parquet file to the monitor store.
    */
  def startBmw(spark: SparkSession, src: SourceConfig, outputDir: String,
               monitorDir: String, checkpointDir: String,
               trigger: Trigger): StreamingQuery = {
    def run = start(spark, src, checkpointDir, trigger)(raw => bmwDeduped(raw).writeStream
      .foreachBatch { (batch: Dataset[TimeseriesRecord], _: Long) =>
        val storage = ConditionsTable.toStorage(batch).cache()
        try if (!storage.isEmpty) {
          ConditionsTable.append(storage, outputDir)
          storage.write.mode("append").parquet(monitorDir)
        } finally storage.unpersist()
      })
    src match {
      case SourceConfig.Files(dir) => StreamParallelism.withSizedShufflePartitions(spark, dir)(run)
      case _: SourceConfig.Kafka => run
    }
  }

  /** JDBC conditions sink (A7) for parity mode against a real
    * TimescaleDB: per-batch batched inserts replace the reference's
    * row-at-a-time psycopg INSERT loop (`shared_code/timescale.py:98-124`).
    * No TimescaleDB exists in this environment; the writer path is
    * round-trip-tested against embedded Derby (`JdbcSinkSpec`).
    */
  def jdbcBatchWriter(url: String, table: String,
                      props: java.util.Properties): (DataFrame, Long) => Unit = {
    (batch: DataFrame, _: Long) =>
      batch.write.mode("append").jdbc(url, table, props)
  }
}
