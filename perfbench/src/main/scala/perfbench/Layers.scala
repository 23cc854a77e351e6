package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, from the traced passes only. Times
  * and counts are per traced pass; every metric is printed on every
  * workload (0 where the workload does not reach the layer).
  */
object Layers {
  val LayerNames = Seq("ops", "sql", "codegen", "exec", "streaming", "sink", "fake", "bench")

  def metrics(passWall: Seq[(Boolean, Double)], cpus: Int, cachedMb: Double,
      extras: Map[String, Double], tracedPasses: Int, dump: Option[Path],
      workload: String, seed: Long): Seq[(String, Double, String)] = {
    val n = math.max(1, tracedPasses).toDouble
    val roots = Trace.roots.asScala.toSeq
    val spans = Trace.spans.asScala.toSeq
    def rootAt(t: Double) = roots.find(r => t >= r.start && t <= r.end)
    def inRoots(t: Double) = rootAt(t).isDefined
    val jobs = Trace.jobs.values.asScala.toSeq.filter(j => !j.end.isNaN && inRoots(j.start))
    val stageRoot: Map[Int, String] = jobs.sortBy(_.start)
      .flatMap(j => j.stages.map(_ -> rootAt(j.start).get.name)).reverse.toMap
    val tasks = Trace.tasks.asScala.toSeq.filter(t => stageRoot.contains(t.stage))
    def tasksOf(op: String) = tasks.filter(t => stageRoot(t.stage) == op)
    val phases = Trace.phases.asScala.toSeq.filter(p => inRoots(p.start))
    val plans = Trace.plans.asScala.toSeq.filter(p => inRoots(p.at))
    val batches = Trace.batches.asScala.toSeq.filter(b => inRoots(b.start))
    val (streamBatches, gateBatches) = batches.partition(b => rootAt(b.start).exists(_.name == "stream"))
    val opWall = roots.groupBy(_.name).map { case (k, rs) =>
      k -> Stats.median(rs.map(r => r.end - r.start)) }

    val tracedWall = passWall.filter(_._1).map(_._2)
    val plainWall = passWall.filterNot(_._1).map(_._2)
    val self = Trace.selfTimes(roots)
    val benchS = tracedWall.sum / 1000 - roots.map(r => r.end - r.start).sum / 1000
    val layerS = LayerNames.map(l => l -> (if (l == "bench") benchS else self.getOrElse(l, 0.0)))
    val wallS = tracedWall.sum / 1000
    val overhead = Stats.median(tracedWall) / Stats.median(plainWall)

    val construct = spans.filter(s => s.layer == "ops")
    val constructJobs = jobs.count(j => construct.exists(c => j.start >= c.start && j.start <= c.end))
    val execWall = union(jobs.map(j => (j.start, j.end))) / 1000
    val taskRun = tasks.map(_.runMs).sum / 1000
    val skews = tasks.groupBy(_.stage).values.filter(_.size >= 2)
      .map(ts => ts.map(_.durMs).max / math.max(1.0, Stats.median(ts.map(_.durMs)))).toSeq
    def phase(name: String) = phases.filter(_.name == name).map(p => p.end - p.start).sum / 1000
    def bms(bs: Seq[Trace.Batch], k: String) = bs.map(_.ms.getOrElse(k, 0L).toDouble)
    val flushes = spans.filter(_.name == "flush")
    val puts = spans.filter(_.name == "put")
    val flushSelf = flushes.map(f => (f.end - f.start) -
      puts.filter(p => p.start >= f.start && p.end <= f.end).map(p => p.end - p.start).sum)
    def tput(op: String, records: Double) =
      opWall.get(op).map(ms => records / 1000 / (ms / 1000)).getOrElse(0.0)
    val recs = extras.getOrElse("records", 0.0)

    val out = Seq[(String, Double, String)](
      ("trace.overhead", overhead, "ratio"),
      ("trace.layer_share", if (wallS > 0) 1 - benchS / wallS else 0.0, "ratio"),
      ("trace.wall_s", wallS / n, "s")) ++
      layerS.map { case (l, v) => (s"self.${l}_s", v / n, "s") } ++ Seq(
      ("ops.construct_s", construct.map(s => s.end - s.start).sum / 1000 / n, "s"),
      ("ops.construct_jobs", constructJobs / n, "count"),
      ("sql.analysis_s", phase("analysis") / n, "s"),
      ("sql.optimizer_s", phase("optimization") / n, "s"),
      ("sql.planning_s", phase("planning") / n, "s"),
      ("codegen.compiles", roots.map(_.compiles).sum / n, "count"),
      ("codegen.compile_s", roots.map(_.codegenNs).sum / 1e9 / n, "s"),
      ("exec.jobs", jobs.size / n, "count"),
      ("exec.stages", tasks.map(_.stage).distinct.size / n, "count"),
      ("exec.tasks", tasks.size / n, "count"),
      ("exec.sched_delay_s", tasks.map(_.schedMs).sum / 1000 / n, "s"),
      ("exec.wall_s", execWall / n, "s"),
      ("exec.task_run_s", taskRun / n, "s"),
      ("exec.task_cpu_s", tasks.map(_.cpuNs).sum / 1e9 / n, "s"),
      ("exec.gc_s", tasks.map(_.gcMs).sum / 1000 / n, "s"),
      ("exec.slot_util", if (execWall > 0) taskRun / (execWall * cpus) else 0.0, "ratio"),
      ("exec.stage_skew", if (skews.isEmpty) 0.0 else Stats.median(skews), "ratio"),
      ("shuffle.write_mb", tasks.map(_.shWrite).sum / 1e6 / n, "MB"),
      ("shuffle.read_mb", tasks.map(_.shRead).sum / 1e6 / n, "MB"),
      ("shuffle.fetch_wait_s", tasks.map(_.fetchWaitMs).sum / 1000 / n, "s"),
      ("spill.disk_mb", tasks.map(_.spillDisk).sum / 1e6 / n, "MB"),
      ("scan.input_mb", tasks.map(_.input).sum / 1e6 / n, "MB"),
      ("plan.exchanges", plans.map(_.exchanges).sum / n, "count"),
      ("plan.nodes", plans.map(_.nodes).sum / n, "count"),
      ("gate.start_s", gateBatches.flatMap(b => b.queryStart.map(b.start - _)).sum / 1000 / n, "s"),
      ("gate.batches", gateBatches.size / n, "count"),
      ("gate.batch_ms_p50", q(bms(gateBatches, "triggerExecution"), 0.5), "ms"),
      ("gate.batch_ms_p90", q(bms(gateBatches, "triggerExecution"), 0.9), "ms"),
      ("gate.addbatch_s", bms(gateBatches, "addBatch").sum / 1000 / n, "s"),
      ("gate.planning_s", bms(gateBatches, "queryPlanning").sum / 1000 / n, "s"),
      ("gate.offsets_s", (bms(gateBatches, "latestOffset").sum +
        bms(gateBatches, "commitOffsets").sum) / 1000 / n, "s"),
      ("gate.wal_s", bms(gateBatches, "walCommit").sum / 1000 / n, "s"),
      ("gate.state_commit_s", gateBatches.map(_.commitMs).sum / 1000.0 / n, "s"),
      ("gate.state_mem_mb", if (gateBatches.isEmpty) 0.0 else gateBatches.map(_.stateMem).max / 1e6, "MB"),
      ("writer.flush_ms_p99", q(flushes.map(f => f.end - f.start), 0.99), "ms"),
      ("writer.put_ms_p50", q(puts.map(p => p.end - p.start), 0.5), "ms"),
      ("writer.self_ms_p50", q(flushSelf, 0.5), "ms"),
      ("writer.backoff_sleep_s", spans.filter(_.name == "backoff").map(s => s.end - s.start).sum / 1000 / n, "s"),
      ("writer.retries", extras.getOrElse("writer.retries", 0.0) / n, "count"),
      ("writer.dropped", extras.getOrElse("writer.dropped", 0.0) / n, "count"),
      ("sink.requests_per_krec", extras.getOrElse("sink.requests_per_krec", 0.0) / n, "1/krec"),
      ("sink.input_s", opWall.getOrElse("input", 0.0) / 1000, "s"),
      ("sink.dsv2_task_s", tasksOf("dsv2").map(_.runMs).sum / 1000 / n, "s"),
      ("sink.fb_task_s", tasksOf("fb").map(_.runMs).sum / 1000 / n, "s"),
      ("sink.gc_s", (tasksOf("dsv2") ++ tasksOf("fb")).map(_.gcMs).sum / 1000 / n, "s"),
      ("sink.dsv2_krec_s", tput("dsv2", recs), "krec/s"),
      ("sink.fb_krec_s", tput("fb", recs), "krec/s"),
      ("sink.stream_krec_s", tput("stream", recs), "krec/s"),
      ("sink.stream_batches", streamBatches.size / n, "count"),
      ("sink.stream_batch_ms_p50", q(bms(streamBatches, "triggerExecution"), 0.5), "ms"),
      ("sink.stream_wal_s", bms(streamBatches, "walCommit").sum / 1000 / n, "s"),
      ("source.tasks", tasksOf("source").size / n, "count"),
      ("source.task_s", tasksOf("source").map(_.runMs).sum / 1000 / n, "s"),
      ("source.krec_s", tput("source", recs), "krec/s"),
      ("storage.cached_mb", cachedMb, "MB"),
      ("fake.stored_mb", extras.getOrElse("fake.stored_mb", 0.0), "MB"))

    dump.foreach { p =>
      Files.createDirectories(p.getParent)
      val byOp = roots.groupBy(_.name).toSeq.sortBy(_._1).map { case (op, rs) =>
        val st = Trace.selfTimes(rs)
        s""""$op":{"count":${rs.size},"wall_s":${rs.map(r => r.end - r.start).sum / 1000},""" +
          LayerNames.filter(_ != "bench")
            .map(l => s""""$l":${st.getOrElse(l, 0.0)}""").mkString(",") + "}"
      }.mkString(",")
      Files.writeString(p,
        s"""{"workload":"$workload","seed":$seed,"traced_passes":$tracedPasses,""" +
          s""""wall_s":$wallS,"overhead":$overhead,""" +
          s""""layers":{${layerS.map { case (l, v) => s""""$l":$v""" }.mkString(",")}},""" +
          s""""ops":{$byOp},""" +
          s""""metrics":{${out.map { case (k, v, u) => s""""$k":[${fin(v)},"$u"]""" }.mkString(",")}}}""" + "\n")
    }
    out
  }

  private def fin(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString
  private def q(xs: Seq[Double], p: Double): Double = if (xs.isEmpty) 0.0 else Stats.quantile(xs, p)

  /** Total length of a union of intervals. */
  private def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var (cs, ce) = (Double.NaN, Double.NaN)
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (cs.isNaN || s > ce) { if (!cs.isNaN) total += ce - cs; cs = s; ce = e }
      else ce = math.max(ce, e)
    }
    if (!cs.isNaN) total += ce - cs
    total
  }
}
