package graft.sink

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types.{BinaryType, StringType, StructField, StructType}

import graft.SparkTestBase

/** One fault spec, run against both sink adapters: `KinesisSink.write`
  * (foreachPartition) and `format("kinesis-graft")` (DSv2 DataWriter).
  * Both run the same [[PartitionDelivery]] core, so the same input and
  * the same FakeKinesis fault must give the same stored records, the
  * same counters on each adapter's own metric surface, and the same
  * error events on the core's listener.
  */
class SinkAdapterFaultSpec extends SparkTestBase {

  /** (stream, partitionKey, payload); null stream/partitionKey = absent. */
  private type In = (String, String, String)

  private sealed trait Adapter {
    def name: String
    /** Deliver `rows`; returns the adapter's metric surface by counter name. */
    def deliver(rows: Seq[In], opts: Map[String, String]): Map[String, Long]
  }

  /** `KinesisSink.write`: counters on the `Metrics` accumulators. */
  private object ForeachPartition extends Adapter {
    val name = "foreachPartition"
    def deliver(rows: Seq[In], opts: Map[String, String]): Map[String, Long] = {
      val schema = StructType(Seq(StructField("stream", StringType),
        StructField("partitionKey", StringType), StructField("data", BinaryType)))
      val df = spark.createDataFrame(rows.map { case (s, k, p) =>
        Row(s, k, p.getBytes("UTF-8")) }.asJava, schema)
      val m = KinesisSink.write(df, opts)
      Map("recordsSent" -> m.recordsSent.value,
        "recordsDropped" -> m.recordsDropped.value,
        "kinesisErrors" -> m.kinesisErrors.value,
        "putRequests" -> m.putRequests.value)
    }
  }

  /** Streaming `format("kinesis-graft")`: counters in the table totals
    * that `StreamingQueryProgress.sink.metrics` renders.
    */
  private object DsV2 extends Adapter {
    val name = "dsv2"
    def deliver(rows: Seq[In], opts: Map[String, String]): Map[String, Long] = {
      implicit val sql = spark.sqlContext
      import spark.implicits._
      val source = MemoryStream[In]
      val q = source.toDF()
        .select($"_1".as("stream"), $"_2".as("partitionKey"),
          $"_3".cast("binary").as("data"))
        .writeStream.format("kinesis-graft").options(opts)
        .option("checkpointLocation", tmpDir("fault-ckpt"))
        .start()
      try {
        source.addData(rows)
        q.processAllAvailable()
        q.lastProgress.sink.metrics.asScala.map { case (k, v) => k -> v.toLong }.toMap
      } finally q.stop()
    }
  }

  private val adapters = Seq(ForeachPartition, DsV2)

  private def fakeFor(a: Adapter, test: String): (FakeKinesis, Map[String, String]) = {
    val name = s"fault-${a.name}-$test"
    val fake = FakeKinesis.named(name)
    fake.clear()
    (fake, Map("aws_region_name" -> "us-east-1", "client" -> s"fake:$name",
      "base_backoff_ms" -> "1"))
  }

  /** Runs `body`, returning what the core's listener logged meanwhile. */
  private def listenerEvents(body: => Unit): Seq[String] = {
    val logger = LogManager.getLogger("graft.sink.PartitionDelivery")
      .asInstanceOf[Logger]
    val seen = new ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("fault-spec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val level = logger.getLevel
    logger.addAppender(appender)
    logger.setLevel(Level.WARN)
    try body
    finally {
      logger.removeAppender(appender)
      logger.setLevel(level)
      appender.stop()
    }
    seen.asScala.toSeq
  }

  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")

  /** Stored records as (stream, key, payload), minted UUID keys masked. */
  private def storedRecords(fake: FakeKinesis): Seq[In] =
    fake.streamNames.toSeq.flatMap(s => fake.stored(s).map { r =>
      val k = if (r.partitionKey.matches("[0-9a-f-]{36}")) "<uuid>" else r.partitionKey
      (s, k, new String(r.data, "UTF-8"))
    }).sorted

  test("null stream / partitionKey: both adapters apply the same rule " +
      "and store the same records") {
    val rows: Seq[In] = Seq(("n-a", "k1", "p1"), (null, "k2", "p2"),
      ("n-a", null, "p3"), (null, null, "p4"))
    val stored = adapters.map { a =>
      val (fake, opts) = fakeFor(a, "null")
      a.deliver(rows, opts + ("stream" -> "n-default"))
      storedRecords(fake)
    }
    assert(stored.head == Seq(("n-a", "<uuid>", "p3"), ("n-a", "k1", "p1"),
      ("n-default", "<uuid>", "p4"), ("n-default", "k2", "p2")), stored.head)
    assert(stored.distinct.size == 1, s"adapters disagree: $stored")
    // with no `stream` option, a null stream fails the write, naming the fix
    adapters.foreach { a =>
      val (_, opts) = fakeFor(a, "null-nodefault")
      val e = intercept[Exception](a.deliver(rows, opts))
      assert(messages(e).contains("no default stream option"), s"${a.name}: ${messages(e)}")
    }
  }

  adapters.foreach { a =>
    test(s"${a.name}: per-record partial failure is attempt-capped, " +
        "counted as dropped and reported to the listener") {
      val (fake, opts) = fakeFor(a, "partial")
      val rows = (0 until 20).map(i =>
        ("partial", if (i % 7 == 0) "fail" else s"k$i", s"v$i"))
      var counters = Map.empty[String, Long]
      val events = listenerEvents {
        counters = a.deliver(rows, opts + ("max_attempts_per_record" -> "2"))
      }
      val healthy = rows.filter(_._2 != "fail").map(_._3)
      assert(fake.storedPayloads("partial").sorted == healthy.sorted)
      assert(counters("recordsSent") == 17 && counters("recordsDropped") == 3,
        s"metric surface: $counters")
      assert(events.count(_.contains("dropping record after 2 attempts")) == 3,
        s"listener events: $events")
    }

    test(s"${a.name}: persistent request failure with " +
        "on_persistent_error=fail fails the write") {
      val (fake, opts) = fakeFor(a, "fail")
      fake.failRequests.set(true)
      val events = try listenerEvents {
        val e = intercept[Exception] {
          a.deliver(Seq(("persistent", "k", "v")),
            opts + ("on_persistent_error" -> "fail"))
        }
        assert(messages(e).contains("consecutive PutRecords failures"), messages(e))
      } finally fake.failRequests.set(false)
      assert(fake.stored("persistent").isEmpty)
      assert(events.exists(_.contains("PutRecords request failed")),
        s"listener events: $events")
    }

    test(s"${a.name}: persistent request failure with " +
        "on_persistent_error=drop counts every record as dropped") {
      val (fake, opts) = fakeFor(a, "drop")
      fake.failRequests.set(true)
      var counters = Map.empty[String, Long]
      val events = try listenerEvents {
        counters = a.deliver((0 until 10).map(i => ("drop", s"k$i", s"v$i")),
          opts + ("on_persistent_error" -> "drop"))
      } finally fake.failRequests.set(false)
      assert(fake.stored("drop").isEmpty)
      assert(counters("recordsDropped") == 10 && counters("recordsSent") == 0,
        s"metric surface: $counters")
      assert(counters("kinesisErrors") >= 5)
      assert(events.exists(_.contains("dropping batch of")),
        s"listener events: $events")
    }
  }
}
