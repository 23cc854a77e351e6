package graft.sink

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.expressions.Transform
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read.streaming.ReportsSinkMetrics
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource-v2 sink: `df.writeStream.format("kinesis-graft")` /
  * `df.write.format("kinesis-graft")` — the v1 ergonomics layer over
  * [[PartitionDelivery]], the same per-task delivery core the
  * foreachBatch adapter runs (SURVEY.md §7.2 component 3). It rejects
  * `dead_letter_path`: only KinesisSink.write and start commit a
  * quarantine.
  *
  * Option surface mirrors the reference's Viper config
  * (/root/reference/utils.go:23-46, README.md:51-55) via
  * [[KinesisSinkOptions]]; delivery counters surface as DSv2
  * CustomMetrics — the Spark-native form of the reference's `StatsBatch`
  * → `StatReceiver` plumbing (batchproducer.go:49-66,458-470): task
  * metrics are summed by Spark and appear per micro-batch in
  * `StreamingQueryProgress.sink.metrics`.
  *
  * Input schema contract (same as [[KinesisSink.toWire]]'s output):
  * `data binary` required; `partitionKey string` optional (fresh UUIDv4
  * per record when absent — utils.go:15-19); `stream string` optional
  * when the `stream` option names a default.
  */
final class KinesisGraftProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "kinesis-graft"

  // Table schema is the READ schema (the Kafka-connector convention):
  // writes validate the query's own schema in newWriteBuilder, and
  // by-name append matches the query's columns into this superset (the
  // read-only shardId/sequenceNumber columns arrive null and the writer
  // ignores them).
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KinesisGraftSource.readSchema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new KinesisGraftTable(schema)
}

object KinesisGraftProvider {
  val wireSchema: StructType = StructType(Seq(
    StructField("stream", StringType),
    StructField("partitionKey", StringType),
    StructField("data", BinaryType)))
}

private final class KinesisGraftTable(schema: StructType)
    extends Table with SupportsWrite with SupportsRead with ReportsSinkMetrics {
  override def name(): String = "kinesis-graft"
  override def schema(): StructType = schema

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new KinesisGraftScanBuilder(options)

  // Driver-side running totals, summed from task commit messages by the
  // epoch commit — this is what StreamingQueryProgress.sink.metrics
  // renders (ReportsSinkMetrics), the Spark-native StatReceiver
  // (batchproducer.go:49-66).
  private[sink] val totals = new AtomicReference(WriteStats())

  override def metrics(): util.Map[String, String] =
    WriteStats.names.zip(totals.get().values.map(_.toString)).toMap.asJava
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val opts = KinesisSinkOptions.fromMap(
      info.options().asCaseSensitiveMap().asScala.toMap)
    val s = info.schema()
    require(s.fieldNames.contains("data") &&
        s("data").dataType == BinaryType,
      "kinesis-graft requires a binary 'data' column")
    val hasStreamCol = s.fieldNames.contains("stream")
    require(hasStreamCol || opts.stream.isDefined,
      "kinesis-graft needs a 'stream' column or a 'stream' option")
    require(opts.deadLetterPath.isEmpty,
      "kinesis-graft does not support dead_letter_path; KinesisSink.write " +
        "and KinesisSink.start honour it (and replayDeadLetters re-sends it)")
    val write = new KinesisGraftWrite(s, opts, totals)
    new WriteBuilder { override def build(): Write = write }
  }
}

/** Declared sink metrics: Spark sums the per-task values.
  * Spark instantiates each class by name, so there is one per
  * [[WriteStats]] counter, named by its position in [[WriteStats.names]].
  */
private object GraftMetric {
  sealed abstract class Counter(i: Int, desc: String) extends CustomSumMetric {
    override def name(): String = WriteStats.names(i)
    override def description(): String = desc
  }
  final class Sent extends Counter(0, "records delivered to Kinesis")
  final class Dropped extends Counter(1, "records dropped after retry caps")
  final class Errors extends Counter(2, "PutRecords request failures")
  final class Requests extends Counter(3, "PutRecords requests made")

  def all: Array[CustomMetric] =
    Array(new Sent, new Dropped, new Errors, new Requests)

  def task(stats: WriteStats): Array[CustomTaskMetric] =
    WriteStats.names.zip(stats.values).map { case (n, v) =>
      new CustomTaskMetric {
        override def name(): String = n
        override def value(): Long = v
      }
    }.toArray[CustomTaskMetric]
}

private final case class GraftCommitMessage(stats: WriteStats)
    extends WriterCommitMessage

/** The one DSv2 write, batch and streaming. Each task commits its
  * partition's stats; the job (or epoch) commit adds them to the table
  * totals. By then every task has flushed, so the Flush-on-Close drain
  * (sink.go:111-126) is implicit per epoch.
  */
private final class KinesisGraftWrite(
    schema: StructType, opts: KinesisSinkOptions,
    totals: AtomicReference[WriteStats])
    extends Write with BatchWrite with StreamingWrite {
  override def toBatch: BatchWrite = this
  override def toStreaming: StreamingWrite = this
  override def supportedCustomMetrics(): Array[CustomMetric] = GraftMetric.all
  override def useCommitCoordinator(): Boolean = true

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new GraftWriterFactory(schema, opts)
  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new GraftWriterFactory(schema, opts)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val batch = messages.collect { case GraftCommitMessage(s) => s }
      .foldLeft(WriteStats())(_ + _)
    totals.updateAndGet(_ + batch)
  }
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    commit(messages)
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}

private final class GraftWriterFactory(schema: StructType,
    opts: KinesisSinkOptions)
    extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(schema, opts)
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(schema, opts)
}

/** Per-task writer: hands each row to [[PartitionDelivery]]. Nothing
  * is dead-lettered here (the table rejects `dead_letter_path`), so the
  * core's drops are counted only.
  */
private final class GraftDataWriter(schema: StructType,
    opts: KinesisSinkOptions) extends DataWriter[InternalRow] {
  private val streamIdx = schema.fieldNames.indexOf("stream")
  private val pkIdx = schema.fieldNames.indexOf("partitionKey")
  private val dataIdx = schema.fieldNames.indexOf("data")
  private val core = new PartitionDelivery(opts, _ => ())

  // By-name append fills absent nullable columns with nulls, so a query
  // without a stream column arrives here as null: the core's null rule
  // covers both.
  private def string(row: InternalRow, i: Int): String =
    if (i < 0 || row.isNullAt(i)) null else row.getUTF8String(i).toString

  override def write(row: InternalRow): Unit =
    core.add(string(row, streamIdx), string(row, pkIdx), row.getBinary(dataIdx))

  override def commit(): WriterCommitMessage = GraftCommitMessage(core.finish())
  override def abort(): Unit = core.abort()
  override def close(): Unit = ()

  override def currentMetricsValues(): Array[CustomTaskMetric] =
    GraftMetric.task(core.stats)
}
