package graft.sink

import java.util.UUID
import scala.collection.mutable

import org.apache.spark.internal.Logging

/** The per-partition delivery core both sink adapters run
  * ([[KinesisSink]]'s partition tasks and [[KinesisGraftProvider]]'s
  * DataWriter): the in-task form of the reference's one batching
  * producer per topic (sink.go:66-77, batchproducer.go). It routes each
  * record to its stream's buffer of at most `batchSize` records, flushed
  * through that stream's one [[KinesisRecordWriter]], so task memory is
  * O(streams · batchSize). A null stream falls back to the `stream`
  * option (or fails, naming it); a null partition key gets a fresh
  * UUIDv4 (utils.go:15-19). It keeps the running [[WriteStats]], hands
  * every record delivery gives up on to `deadLetter`, and reports
  * delivery errors to one logging [[KinesisEventListener]] (the
  * reference's `Events()` channel, sink.go:106-109).
  */
private[sink] final class PartitionDelivery(o: KinesisSinkOptions,
    deadLetter: KinesisSink.DeadLetterRow => Unit) {
  private val client = KinesisSinkOptions.resolveClient(o)
  private val streams = mutable.LinkedHashMap.empty[String, Lane]
  private var running = WriteStats()

  /** One stream's writer and its buffer of at most `batchSize` records. */
  private final class Lane(stream: String) {
    val buf = new mutable.ArrayBuffer[KinesisRecord](o.writer.batchSize)
    private val writer = new KinesisRecordWriter(client, stream, o.writer,
      PartitionDelivery.listener, deadLetter = (r, why) =>
        deadLetter(KinesisSink.DeadLetterRow(stream, r.partitionKey, r.data, why)))

    def flush(): Unit = if (buf.nonEmpty) {
      running = running + writer.write(buf.iterator)
      buf.clear()
    }
  }

  /** What the flushes so far have delivered, dropped and requested. */
  def stats: WriteStats = running

  /** Route one record; a null `stream` or `partitionKey` means absent. */
  def add(stream: String, partitionKey: String, data: Array[Byte]): Unit = {
    val s = if (stream != null) stream else o.stream.getOrElse(
      throw new IllegalArgumentException(
        "record has null 'stream' and no default stream option is set"))
    val pk = if (partitionKey != null) partitionKey else UUID.randomUUID().toString
    val lane = streams.getOrElseUpdate(s, new Lane(s))
    lane.buf += KinesisRecord(pk, data)
    if (lane.buf.size >= o.writer.batchSize) lane.flush()
  }

  /** Flush every buffer; returns the partition's stats. */
  def finish(): WriteStats = {
    streams.values.foreach(_.flush())
    running
  }

  /** Discard what is still buffered (the task is abandoned). */
  def abort(): Unit = streams.clear()
}

private object PartitionDelivery extends Logging {
  val listener: KinesisEventListener = m => logWarning(s"kinesis-sink: $m")
}
