package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.sink._

/** The streaming side: the `graft.streaming` gates (`MemoryGate`, RocksDB
  * state), then the paper's data plane, writes beside reads and one
  * stream beside fan-out. A pass runs these operations in order:
  *
  *  - each gate of `gates`, as a board query;
  *  - `input`: a `noop` write of the generated input (the scan every
  *    adapter pays, so adapter time can be read net of it);
  *  - `writer`: `KinesisRecordWriter` alone, flushing `writerBatches`
  *    batches of 500 records to `new FakeKinesis(latencyMs = 6)` — the
  *    setting of the reference's flush-envelope tests;
  *  - `dsv2`: the input through `format("kinesis-graft")` to a 4-shard fake;
  *  - `fb`: the same input through `KinesisSink.write` (foreachPartition);
  *  - `source`: the `dsv2` fake read back by the `kinesis-graft` source;
  *  - `stream`: `KinesisSink.start` draining the `dsv2` fake through the
  *    streaming source in `streamBatches` micro-batches, each record
  *    routed to one of 32 streams with skewed popularity.
  *
  * Every record counts once its `PutRecords` returned; each operation's
  * check compares the fake's stored payload multiset with the input.
  */
final class Sink(seed: Long, val records: Int, writerBatches: Int,
    streamBatches: Int, tmpDir: String, gates: Board) extends Workload {
  import Sink._

  private var input: DataFrame = _
  private var inputDigest: Fingerprint.Digest = _
  private var writerRecords: IndexedSeq[KinesisRecord] = _
  private var writerDigest: Fingerprint.Digest = _
  /** Figures the trace reports: sums over traced passes, and the peak of
    * stored bytes.
    */
  val extras = collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private def tally(k: String, v: Double): Unit = if (Trace.on) extras(k) += v

  def prepare(spark: SparkSession): Unit = {
    val rnd = new java.util.Random(seed)
    val rows = (0 until records).map(i => (f"${rnd.nextLong()}%016x", message(rnd, i)))
    writerRecords = rows.take(writerBatches * 500)
      .map { case (k, d) => KinesisRecord(k, d) }
    writerDigest = Fingerprint.ofPayloads(writerRecords.iterator.map(_.data))
    inputDigest = Fingerprint.ofPayloads(rows.iterator.map(_._2))
    val sc = spark.sparkContext
    val schema = StructType(Seq(StructField("partitionKey", StringType),
      StructField("data", BinaryType)))
    input = spark.createDataFrame(
      sc.parallelize(rows.map { case (k, d) => Row(k, d) }, sc.defaultParallelism),
      schema).persist(StorageLevel.MEMORY_ONLY)
    input.count()
  }

  def passOps(pass: Int): Seq[String] =
    gates.passOps(pass) ++ Seq("input", "writer", "dsv2", "fb", "source", "stream")

  private def options(fake: String): Map[String, String] = Map(
    "aws_region_name" -> "us-east-1", "client" -> s"fake:$fake")

  private def freshFake(name: String): FakeKinesis = {
    FakeKinesis.drop(name)
    val f = FakeKinesis.named(name)
    f.numShards.set(4)
    f
  }

  private def stored(name: String): Iterator[Array[Byte]] = {
    val f = FakeKinesis.named(name)
    f.streamNames.iterator.flatMap(s => f.stored(s).iterator.map(_.data))
  }

  private def storedMb(name: String): Double = {
    val f = FakeKinesis.named(name)
    f.streamNames.iterator.flatMap(s => f.stored(s).iterator)
      .map(r => r.data.length + r.partitionKey.length).sum / 1e6
  }

  def run(spark: SparkSession, op: String, check: Boolean): Sample =
    if (gates.queries.contains(op)) gates.run(spark, op, check).copy(latencies = Nil)
    else runSink(spark, op, check)

  private def runSink(spark: SparkSession, op: String, check: Boolean): Sample = {
    var latencies = Seq.empty[Double]
    val t0 = System.nanoTime()
    val res: Try[() => Boolean] = Try(Trace.op("sink", op) { op match {
      case "input" =>
        input.write.format("noop").mode("overwrite").save()
        () => true
      case "writer" =>
        val fake = new FakeKinesis(latencyMs = 6)
        val client = new KinesisPutRecords {
          override def putRecords(stream: String, rs: Seq[KinesisRecord]) =
            Trace.span("fake", "put")(fake.putRecords(stream, rs))
        }
        val w = new KinesisRecordWriter(client, "w",
          sleep = ms => Trace.span("sink", "backoff")(Thread.sleep(ms)))
        var dropped = 0L
        var requests = 0L
        latencies = writerRecords.grouped(500).map { batch =>
          val s = System.nanoTime()
          val st = Trace.span("sink", "flush")(w.write(batch.iterator))
          dropped += st.recordsDropped
          requests += st.putRequests
          (System.nanoTime() - s) / 1e6
        }.toSeq
        tally("writer.retries", requests - writerBatches)
        tally("writer.dropped", dropped)
        () => Fingerprint.ofPayloads(fake.stored("w").iterator.map(_.data)) == writerDigest
      case "dsv2" =>
        freshFake(DsV2)
        input.write.format("kinesis-graft").options(options(DsV2))
          .option("stream", "in").mode("append").save()
        () => Fingerprint.ofPayloads(stored(DsV2)) == inputDigest
      case "fb" =>
        freshFake(Fb)
        KinesisSink.write(input, options(Fb) + ("stream" -> "in"))
        () => Fingerprint.ofPayloads(stored(Fb)) == inputDigest
      case "source" =>
        val back = spark.read.format("kinesis-graft").options(options(DsV2))
          .option("stream", "in").load()
        back.write.format("noop").mode("overwrite").save()
        () => Fingerprint.ofPayloads(
          back.select("data").collect().iterator.map(_.getAs[Array[Byte]](0))) == inputDigest
      case "stream" =>
        val fake = freshFake(Fanout)
        val src = spark.readStream.format("kinesis-graft").options(options(DsV2))
          .option("stream", "in")
          .option("max_records_per_trigger", (records / streamBatches).toString)
          .load()
        // skewed popularity: stream i receives a share growing with i^(1/3)
        val routed = src.select(
          format_string("t%02d", floor(lit(32) * pow(
            pmod(xxhash64(col("partitionKey")), lit(1000003L)) / 1000003.0, 3))
            .cast("int")).as("stream"),
          col("partitionKey"), col("data"))
        val q = KinesisSink.start(routed, options(Fanout),
          s"$tmpDir/stream-${System.nanoTime()}")
        try q.processAllAvailable() finally q.stop()
        tally("sink.requests_per_krec", fake.requestCount.get / (records / 1000.0))
        () => Fingerprint.ofPayloads(stored(Fanout)) == inputDigest
    }})
    val ms = (System.nanoTime() - t0) / 1e6
    val ok = res match {
      case Success(verify) =>
        !check || Try(verify()).getOrElse(false) || {
          System.err.println(s"[perfbench] sink $op: stored payloads differ from the input")
          false
        }
      case Failure(e) =>
        System.err.println(s"[perfbench] sink $op failed: $e"); false
    }
    Sample(op, ms, if (op == "writer") latencies else Nil, ok)
  }

  override def endPass(spark: SparkSession): Unit = {
    extras("fake.stored_mb") = math.max(extras("fake.stored_mb"),
      Seq(DsV2, Fb, Fanout).map(storedMb).sum)
    Seq(DsV2, Fb, Fanout).foreach(FakeKinesis.drop)
  }
}

object Sink {
  private val DsV2 = "perfbench-dsv2"
  private val Fb = "perfbench-fb"
  private val Fanout = "perfbench-fanout"
  private val Types = Array("view", "click", "purchase", "signup", "error")

  /** A JSON event of 150 to 250 bytes, like the `events` fixture's rows. */
  private def message(rnd: java.util.Random, i: Int): Array[Byte] = {
    val target = 150 + rnd.nextInt(101)
    val head = s"""{"id":$i,"user":${rnd.nextInt(100000)},""" +
      s""""type":"${Types(rnd.nextInt(Types.length))}",""" +
      s""""value":${rnd.nextInt(1000000) / 100.0},"pad":""""
    val len = math.max(0, target - head.length - 2)
    val off = rnd.nextInt(Letters.length - len)
    (head + Letters.substring(off, off + len) + "\"}").getBytes(UTF_8)
  }
  private val Letters = {
    val r = new java.util.Random(26)
    Array.fill(1024)(('a' + r.nextInt(26)).toChar).mkString
  }
}
