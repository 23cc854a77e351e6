package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder. Spans are kept in memory, on an epoch-ms
  * clock shared with Spark's own event times, and are only recorded
  * while [[on]] is set; the Spark listeners are attached for the traced
  * passes only, so untraced passes of the same run price the overhead.
  *
  * Layers are the repo's modules, seen from their public calls:
  *  - `ops`: a query builder `fn(spark, dir)`, eager jobs included;
  *  - `sql`: Catalyst analysis/optimizer/planning (`graft.plans`,
  *    `GraftExtensions` when installed), from `QueryPlanningTracker`;
  *  - `codegen`: Janino compilation (`CodeGenerator.compileTime`);
  *  - `exec`: Spark jobs (`graft.functions` kernels, shuffle) and the
  *    rest of the materializing action outside its jobs;
  *  - `streaming`: micro-batches outside their jobs (`MemoryGate`
  *    gates, `KinesisSink.start`; RocksDB commits run inside jobs);
  *  - `sink`: `graft.sink` adapter and writer calls outside their jobs;
  *  - `fake`: `FakeKinesis.putRecords` calls on the calling thread;
  *  - `bench`: the harness itself, between operations.
  */
object Trace {
  @volatile var on = false

  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  final case class Span(layer: String, name: String, start: Double, end: Double,
      codegenNs: Long = 0L, compiles: Long = 0L)
  val spans = new ConcurrentLinkedQueue[Span]()
  val roots = new ConcurrentLinkedQueue[Span]()

  def span[T](layer: String, name: String)(f: => T): T =
    if (!on) f
    else {
      val s = nowMs
      try f finally spans.add(Span(layer, name, s, nowMs))
    }

  /** A root span per operation, carrying its codegen compile delta. */
  def op[T](layer: String, name: String)(f: => T): T =
    if (!on) f
    else {
      val ns0 = CodeGenerator.compileTime
      val n0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val s = nowMs
      try f finally roots.add(Span(layer, name, s, nowMs,
        CodeGenerator.compileTime - ns0,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - n0))
    }

  // ---- Spark-side records --------------------------------------------
  final case class Job(id: Int, start: Double, var end: Double, stages: Seq[Int])
  final case class Task(stage: Int, durMs: Double, runMs: Double, cpuNs: Long,
      gcMs: Double, schedMs: Double, shWrite: Long, shRead: Long,
      fetchWaitMs: Double, spillDisk: Long, input: Long)
  final case class Phase(name: String, start: Double, end: Double)
  final case class PlanShape(at: Double, nodes: Int, exchanges: Int)
  final case class Batch(query: String, start: Double, ms: Map[String, Long],
      commitMs: Long, stateMem: Long, queryStart: Option[Double])

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val phases = new ConcurrentLinkedQueue[Phase]()
  val plans = new ConcurrentLinkedQueue[PlanShape]()
  val batches = new ConcurrentLinkedQueue[Batch]()
  private val queryStarts =
    new java.util.concurrent.ConcurrentHashMap[java.util.UUID, Double]()

  object ExecListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.put(e.jobId, Job(e.jobId, e.time.toDouble, Double.NaN, e.stageIds))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        val i = e.taskInfo
        val sched = i.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - i.gettingResultTime
        tasks.add(Task(e.stageId, i.duration.toDouble, m.executorRunTime.toDouble,
          m.executorCpuTime, m.jvmGCTime.toDouble, math.max(0L, sched).toDouble,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
          m.shuffleReadMetrics.fetchWaitTime.toDouble, m.diskBytesSpilled,
          m.inputMetrics.bytesRead))
      }
  }

  object PlanListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    private def record(qe: QueryExecution): Unit = {
      qe.tracker.phases.foreach { case (n, p) =>
        phases.add(Phase(n, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
      }
      val plan: SparkPlan = qe.executedPlan
      plans.add(PlanShape(nowMs, collectWithSubqueries(plan) { case p => p }.size,
        collectWithSubqueries(plan) { case e: Exchange => e }.size))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  /** Installed through `spark.sql.streaming.streamingQueryListeners` in
    * traced runs, so it also sees the gates' isolated sessions.
    */
  class StreamListener extends StreamingQueryListener {
    private def ms(ts: String): Double =
      java.time.Instant.parse(ts).toEpochMilli.toDouble
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      if (on) queryStarts.put(e.runId, ms(e.timestamp))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (on) {
        val p = e.progress
        batches.add(Batch(Option(p.name).getOrElse(""), ms(p.timestamp),
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.stateOperators.map(_.commitTimeMs).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum,
          Option(queryStarts.remove(p.runId))))
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Switch tracing for the next pass; the bus is drained first so every
    * event of the previous pass lands on the side it belongs to.
    */
  def set(spark: SparkSession, enable: Boolean): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    if (enable && !on) {
      spark.sparkContext.addSparkListener(ExecListener)
      spark.listenerManager.register(PlanListener)
    } else if (!enable && on) {
      spark.sparkContext.removeSparkListener(ExecListener)
      spark.listenerManager.unregister(PlanListener)
    }
    on = enable
  }

  // ---- attribution -----------------------------------------------------
  /** Layer priority where intervals overlap: the innermost layer wins. */
  private val Priority = Map("fake" -> 6, "exec.job" -> 5, "sql" -> 4,
    "streaming" -> 3, "exec" -> 2, "ops" -> 2, "sink" -> 2, "bench" -> 1)
  private def layerOf(k: String) = if (k == "exec.job") "exec" else k

  /** Exact partition of each root span's wall time over the layers: at
    * every instant the innermost active layer owns it. Codegen compile
    * time has no timestamps; it is carved out of the non-job `exec`
    * time first, then out of `ops`.
    */
  def selfTimes(roots: Seq[Span]): Map[String, Double] = {
    val children: Seq[(String, Double, Double)] =
      spans.asScala.map(s => (s.layer, s.start, s.end)).toSeq ++
        jobs.values.asScala.filter(!_.end.isNaN).map(j => ("exec.job", j.start, j.end)) ++
        phases.asScala.map(p => ("sql", p.start, p.end)) ++
        batches.asScala.map(b => ("streaming", b.start,
          b.start + b.ms.getOrElse("triggerExecution", 0L)))
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    roots.foreach { r =>
      val inside = children.filter { case (_, s, e) => e > r.start && s < r.end }
        .map { case (l, s, e) => (l, math.max(s, r.start), math.min(e, r.end)) }
        .filter { case (_, s, e) => e > s }
      val cuts = (inside.flatMap { case (_, s, e) => Seq(s, e) } ++
        Seq(r.start, r.end)).distinct.sorted
      val local = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      cuts.sliding(2).foreach {
        case Seq(a, b) =>
          val mid = (a + b) / 2
          val active = inside.filter { case (_, s, e) => s <= mid && mid < e }.map(_._1)
          val owner = if (active.isEmpty) r.layer else active.maxBy(Priority)
          local(layerOf(owner)) += b - a
        case _ =>
      }
      var cg = r.codegenNs / 1e6
      Seq("exec", "ops", "sink", "streaming").foreach { l =>
        val take = math.min(cg, local(l))
        local(l) -= take
        local("codegen") += take
        cg -= take
      }
      local.foreach { case (l, v) => out(l) += v / 1000.0 }
    }
    out.toMap
  }

  def reset(): Unit = {
    spans.clear(); roots.clear(); jobs.clear(); tasks.clear(); phases.clear(); plans.clear()
    batches.clear(); queryStarts.clear()
  }
}
