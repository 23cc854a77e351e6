package graft.sink

/** Writer configuration, mirroring the reference's `Config` knobs and
  * defaults (/root/reference/batchproducer/batchproducer.go:73-124):
  * batch ≤500 (Kinesis API cap, :14-15, validated :143-145), default
  * maxAttemptsPerRecord 10 (:121), backoff base 50 ms doubling per
  * consecutive error (:334-344), load-shed after ≥5 consecutive request
  * errors (:354-357). Knobs the reference needs for its unbounded buffer
  * (BufferSize, AddBlocksWhenBufferFull, FlushInterval) have no writer
  * equivalent — a Spark micro-batch is already bounded and the trigger
  * interval lives on the streaming query (`Trigger.ProcessingTime`).
  *
  * `onPersistentErrorDrop`: the reference can only drop when errors
  * persist (its caller owns the thread); a Spark task can instead fail
  * and let the scheduler retry the task, so failing is our default and
  * dropping is opt-in.
  */
final case class KinesisWriterConfig(
    batchSize: Int = 500,
    maxAttemptsPerRecord: Int = 10,
    baseBackoffMs: Long = 50L,
    maxBackoffMs: Long = 30000L,
    maxConsecutiveErrors: Int = 5,
    onPersistentErrorDrop: Boolean = false) {
  require(batchSize >= 1 && batchSize <= 500,
    s"batchSize must be in [1,500], got $batchSize") // batchproducer.go:143-145
  require(maxAttemptsPerRecord >= 1, "maxAttemptsPerRecord must be >= 1")
}

/** Counters mirroring `StatsBatch`
  * (/root/reference/batchproducer/batchproducer.go:58-66). Surfaced per
  * task; Spark sums task metrics natively when these back CustomMetrics.
  */
final case class WriteStats(
    recordsSent: Long = 0L,
    recordsDropped: Long = 0L,
    kinesisErrors: Long = 0L,
    putRequests: Long = 0L) {
  def +(o: WriteStats): WriteStats = WriteStats(
    recordsSent + o.recordsSent, recordsDropped + o.recordsDropped,
    kinesisErrors + o.kinesisErrors, putRequests + o.putRequests)

  /** The counters, in [[WriteStats.names]] order. */
  def values: Seq[Long] = productIterator.collect { case v: Long => v }.toSeq
}

object WriteStats {
  /** The counter names, in [[WriteStats.values]] order: the one list the
    * `KinesisSink.Metrics` accumulators and the DSv2 metrics derive from.
    */
  val names: Seq[String] = WriteStats().productElementNames.toSeq
}

/** Async error reporting seam, mirroring the reference's `Events()`
  * channel (sink.go:106-109, event.go:4-33). Both sink adapters use
  * [[PartitionDelivery]]'s listener, which logs each event as a WARN line.
  */
trait KinesisEventListener extends Serializable {
  def onError(message: String): Unit
}
object KinesisEventListener {
  val noop: KinesisEventListener = new KinesisEventListener {
    override def onError(message: String): Unit = ()
  }
}

/** The data plane of the reference's batch producer, re-expressed as a
  * pure per-task function `Iterator[KinesisRecord] → WriteStats` — this
  * is what runs inside a Spark `DataWriter`/`foreachBatch` partition.
  *
  * Semantics preserved from the reference:
  *  - micro-batching ≤ `batchSize` ≤ 500 records per `PutRecords`
  *    (`takeRecordsFromBuffer`/`recordsToInput`, batchproducer.go:396-421);
  *  - exponential backoff 50 ms·2ⁿ⁻¹ after n consecutive request errors,
  *    reset on success (`sendBatch`, batchproducer.go:334-344,367-368);
  *  - request-level failure → error event + retry of the whole batch
  *    (batchproducer.go:349-361), except after `maxConsecutiveErrors`
  *    failures: drop the batch if `onPersistentErrorDrop` (the
  *    reference's load-shed, batchproducer.go:354-357) else rethrow so
  *    Spark's task retry takes over — strictly better than the
  *    reference, which had no outer retry layer;
  *  - partial failure → selective re-send of only the failed entries
  *    (`returnSomeFailedRecordsToBuffer`, batchproducer.go:438-456),
  *    attempt-capped per record at `maxAttemptsPerRecord` then dropped
  *    with an error event (batchproducer.go:445-453);
  *  - stats counters per `StatsBatch` (batchproducer.go:458-470).
  *
  * Deliberate improvement: the reference re-enqueues failed records via
  * goroutines and documents that this breaks ordering
  * (batchproducer.go:360,423-426,434-437); here retries happen in-task
  * and in-place, so intra-partition order is preserved.
  *
  * `sleep` is injectable so tests assert the backoff schedule against a
  * recorded clock instead of wall time (the reference's tests assert
  * 6–16 ms wall-clock windows, batchproducer_test.go:734-808 — flaky by
  * design; we record instead).
  */
final class KinesisRecordWriter(
    client: KinesisPutRecords,
    stream: String,
    config: KinesisWriterConfig = KinesisWriterConfig(),
    listener: KinesisEventListener = KinesisEventListener.noop,
    sleep: Long => Unit = Thread.sleep,
    deadLetter: (KinesisRecord, String) => Unit =
      KinesisRecordWriter.noDeadLetter) extends Serializable {
  import KinesisRecordWriter.Attempt

  /** Write everything in `records`; returns the stats. Throws after
    * `maxConsecutiveErrors` request-level failures unless configured to
    * drop. Never buffers more than one batch — constant memory per task
    * regardless of partition size, which is what makes this safe on a
    * 100 TB input split across thousands of tasks.
    */
  def write(records: Iterator[KinesisRecord]): WriteStats = {
    var stats = WriteStats()
    var consecutiveErrors = 0
    records.grouped(config.batchSize).foreach { group =>
      var pending = group.map(Attempt(_, 0)).toSeq
      // Consecutive partial-failure rounds for THIS batch: per-record
      // throttling must back off too, or a transiently throttled shard
      // burns all maxAttemptsPerRecord within milliseconds and drops
      // records (the reference's re-enqueued records implicitly waited
      // for the next flush tick; we wait explicitly).
      var partialRetries = 0
      while (pending.nonEmpty) {
        // Backoff before any attempt that follows an error, mirroring
        // sendBatch's entry delay (batchproducer.go:334-344).
        val errorStreak = math.max(consecutiveErrors, partialRetries)
        if (errorStreak > 0) {
          val exp = math.min(errorStreak - 1, 20)
          sleep(math.min(config.baseBackoffMs << exp, config.maxBackoffMs))
        }
        val attempt = pending
        try {
          val results = client.putRecords(stream, attempt.map(_.record))
          stats = stats.copy(putRequests = stats.putRequests + 1)
          consecutiveErrors = 0
          val (failed, succeeded) = attempt.zip(results).partition(_._2.failed)
          stats = stats.copy(recordsSent = stats.recordsSent + succeeded.size)
          // Selective retry of only the failed entries, order preserved;
          // attempt-capped drop (batchproducer.go:438-456).
          val (retry, dropped) = failed
            .map { case (a, r) => (Attempt(a.record, a.attempts + 1), r) }
            .partition(_._1.attempts < config.maxAttemptsPerRecord)
          dropped.foreach { case (a, r) =>
            listener.onError(s"dropping record after ${a.attempts} attempts: " +
              s"${r.errorCode.getOrElse("")} ${r.errorMessage.getOrElse("")}")
            deadLetter(a.record, s"max_attempts:${a.attempts}:" +
              s"${r.errorCode.getOrElse("")}")
          }
          stats = stats.copy(recordsDropped = stats.recordsDropped + dropped.size)
          pending = retry.map(_._1)
          partialRetries = if (pending.isEmpty) 0 else partialRetries + 1
        } catch {
          case e: KinesisRequestException =>
            stats = stats.copy(
              kinesisErrors = stats.kinesisErrors + 1,
              putRequests = stats.putRequests + 1)
            consecutiveErrors += 1
            listener.onError(s"PutRecords request failed: ${e.getMessage}")
            if (consecutiveErrors >= config.maxConsecutiveErrors) {
              if (config.onPersistentErrorDrop) {
                // Load-shed, mirroring batchproducer.go:354-357.
                listener.onError(
                  s"dropping batch of ${attempt.size} after $consecutiveErrors " +
                    "consecutive request errors")
                attempt.foreach(a => deadLetter(a.record,
                  s"load_shed:$consecutiveErrors"))
                stats = stats.copy(
                  recordsDropped = stats.recordsDropped + attempt.size)
                pending = Seq.empty
                consecutiveErrors = 0
              } else {
                throw new KinesisRequestException(
                  s"$consecutiveErrors consecutive PutRecords failures on " +
                    s"stream '$stream': ${e.getMessage}")
              }
            }
          // else: loop retries the same `pending` batch, order intact.
        }
      }
    }
    stats
  }
}

private object KinesisRecordWriter {
  private final case class Attempt(record: KinesisRecord, attempts: Int)

  /** Default dead-letter sink: none. Both drop sites (the per-record
    * attempt cap and the load-shed batch drop) route through the
    * callback, so a configured DLQ sees EVERY record the at-least-once
    * contract gives up on, with the reason it was given up.
    */
  private[sink] val noDeadLetter: (KinesisRecord, String) => Unit =
    (_, _) => ()
}
