package graft.streaming

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.connector.write.DataWriter
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** TEST-ONLY in-process stand-in registered under the short name "kafka"
  * (test classpath only, via META-INF/services): serves staged lines with
  * the kafka wire schema and accepts streaming writes into an in-memory
  * buffer, so [[IngestPipeline]]'s `format("kafka")` source AND sink
  * branches execute END TO END without a broker — and the options Spark
  * hands the provider (subscribe/startingOffsets/`kafka.*` client
  * settings incl. the Event Hubs SASL passthrough) are recorded and
  * asserted at the plan boundary, not just in a pure translation
  * function. The payload to serve rides in through a `graft.test.data`
  * reader option, which [[IngestPipeline.SourceConfig.Kafka]]'s
  * `options` passthrough carries like any other client setting.
  */
object FakeKafka {
  @volatile var lastSourceOptions: Map[String, String] = Map.empty
  @volatile var lastSinkOptions: Map[String, String] = Map.empty
  val written = new java.util.concurrent.CopyOnWriteArrayList[String]()

  def reset(): Unit = {
    lastSourceOptions = Map.empty
    lastSinkOptions = Map.empty
    written.clear()
  }

  /** The kafka source's fixed wire schema (key/value/topic/partition/
    * offset/timestamp/timestampType) — what the real connector exposes
    * and what `IngestPipeline`'s kafka source projects `value` out of.
    */
  val schema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("timestamp", TimestampType),
    StructField("timestampType", IntegerType)))

  private[streaming] def toMap(options: CaseInsensitiveStringMap): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    options.entrySet().asScala.map(e => e.getKey -> e.getValue).toMap
  }
}

class FakeKafkaProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "kafka"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    if (!options.isEmpty) FakeKafka.lastSourceOptions = FakeKafka.toMap(options)
    FakeKafka.schema
  }
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new FakeKafkaTable
}

class FakeKafkaTable extends Table with SupportsRead with SupportsWrite {
  import scala.jdk.CollectionConverters._
  override def name(): String = "fake_kafka"
  override def schema(): StructType = FakeKafka.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    FakeKafka.lastSourceOptions = FakeKafka.toMap(options)
    val lines = Option(options.get("graft.test.data"))
      .map(_.split("\n").toIndexedSeq).getOrElse(IndexedSeq.empty)
    val topic = Option(options.get("subscribe")).getOrElse("")
    new ScanBuilder with Scan {
      override def build(): Scan = this
      override def readSchema(): StructType = FakeKafka.schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new FakeKafkaStream(lines, topic)
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    FakeKafka.lastSinkOptions = FakeKafka.toMap(info.options())
    val schema = info.schema()
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toStreaming: StreamingWrite = new StreamingWrite {
          override def createStreamingWriterFactory(
              info: PhysicalWriteInfo): StreamingDataWriterFactory =
            new FakeKafkaWriterFactory(schema.fieldIndex("value"))
          override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
          override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
        }
      }
    }
  }
}

private case class FakeOffset(n: Int) extends Offset {
  override def json(): String = n.toString
}

private class FakeKafkaStream(lines: IndexedSeq[String], topic: String)
    extends MicroBatchStream with SupportsTriggerAvailableNow {
  override def initialOffset(): Offset = FakeOffset(0)
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("admission-controlled source")
  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    FakeOffset(lines.length)
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def reportLatestOffset(): Offset = FakeOffset(lines.length)
  override def prepareForTriggerAvailableNow(): Unit = ()
  override def deserializeOffset(json: String): Offset = FakeOffset(json.trim.toInt)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    Array(FakeKafkaPartition(
      lines.slice(start.asInstanceOf[FakeOffset].n, end.asInstanceOf[FakeOffset].n),
      topic, start.asInstanceOf[FakeOffset].n))
  override def createReaderFactory(): PartitionReaderFactory = FakeKafkaReaderFactory
}

private case class FakeKafkaPartition(lines: IndexedSeq[String], topic: String,
                                      base: Int) extends InputPartition

private object FakeKafkaReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val fp = p.asInstanceOf[FakeKafkaPartition]
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < fp.lines.length }
      override def get(): InternalRow = InternalRow(
        null,
        fp.lines(i).getBytes("UTF-8"),
        UTF8String.fromString(fp.topic),
        0,
        (fp.base + i).toLong,
        0L,
        0)
      override def close(): Unit = ()
    }
  }
}

private class FakeKafkaWriterFactory(valueIdx: Int) extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      override def write(record: InternalRow): Unit = {
        FakeKafka.written.add(record.getUTF8String(valueIdx).toString)
        ()
      }
      override def commit(): WriterCommitMessage = new WriterCommitMessage {}
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}
