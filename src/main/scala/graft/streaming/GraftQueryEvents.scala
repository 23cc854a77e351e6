package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Async event surface, mirroring the reference's `Events()` channel
  * (/root/reference/sink.go:106-109) and its `Event`/`Error` types
  * (event.go:4-33): the caller polls events off a queue instead of
  * blocking the data plane. Here the queue is fed by the
  * `StreamingQueryListener` bus — progress events carry the stats the
  * reference's `StatReceiver` got per interval (batchproducer.go:458-470),
  * and a terminated-with-exception event is the channel's `Error`.
  */
object GraftQueryEvents {
  sealed trait Event { def queryName: String }
  final case class Started(queryName: String) extends Event
  final case class Progress(queryName: String, batchId: Long,
      numInputRows: Long) extends Event
  final case class Terminated(queryName: String,
      error: Option[String]) extends Event {
    def isError: Boolean = error.isDefined
  }

  /** Attach a fresh recorder to the session's listener bus. */
  def attach(spark: SparkSession): Recorder = {
    val r = new Recorder
    spark.streams.addListener(r)
    r
  }

  final class Recorder extends StreamingQueryListener {
    private val queue = new ConcurrentLinkedQueue[Event]()
    private val names = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, String]()

    override def onQueryStarted(e: QueryStartedEvent): Unit = {
      names.put(e.id, e.name)
      queue.add(Started(e.name))
    }
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      queue.add(Progress(e.progress.name, e.progress.batchId,
        e.progress.numInputRows))
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      queue.add(Terminated(Option(names.get(e.id)).getOrElse(""),
        e.exception))

    /** Drain everything observed so far (non-blocking, like a buffered
      * channel read). */
    def drain(): Seq[Event] = {
      val out = Seq.newBuilder[Event]
      var e = queue.poll()
      while (e != null) { out += e; e = queue.poll() }
      out.result()
    }

    def detach(spark: SparkSession): Unit = spark.streams.removeListener(this)
  }
}
