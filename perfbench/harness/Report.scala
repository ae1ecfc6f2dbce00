package perfbench

import scala.jdk.CollectionConverters._

/** Turns the run's executions, pass walls, listener records and set-ups
  * into the end-to-end metrics, the per-layer metrics and the span trace. */
final class Report(
    workload: String, cores: Int, setup: Setup, execs: Seq[Exec],
    passes: Seq[(Int, Boolean, Double)], batches: Seq[BatchRec],
    rec: ExecRecorder) {

  private val jobs = rec.jobs.asScala.toSeq.sortBy(_.start)
  private val stages = rec.stages.asScala.toSeq
  private val failedTasks = rec.taskFailures.asScala.toSeq

  private def metric(value: Double, unit: String, extra: (String, Any)*): Map[String, Any] =
    Map[String, Any]("value" -> value, "unit" -> unit) ++ extra

  private def within(t: Double, es: Seq[Exec]): Boolean = es.exists(e => t >= e.start && t <= e.end)
  private def batchesOf(es: Seq[Exec]): Seq[BatchRec] = batches.filter(b => within(b.start, es))

  /** End-to-end metrics over untraced passes (all passes when untraced)
    * after the first, which still carries JIT warm-up. */
  def endToEnd(peakRssMb: Double, liveHeapMb: Double): Map[String, Map[String, Any]] = {
    val plain = execs.filter(e => e.pass > 0 && !e.traced)
    val walls = passes.filter { case (p, t, _) => p > 0 && !t }.map(_._3)
    val samples = plain.map(_.wallS)
    val (qTail, qPct) = Stats.tail(samples)
    Map(
      "setup_s" -> metric(setup.totalS, "s", "samples" -> 1),
      "pass_s" -> metric(Stats.median(walls), "s", "samples" -> walls.size),
      "query_p50_s" -> metric(Stats.median(samples), "s", "samples" -> samples.size),
      "query_tail_s" -> metric(qTail, "s", "samples" -> samples.size, "percentile" -> qPct),
      "peak_rss_mb" -> metric(peakRssMb, "MB", "samples" -> 1),
      "live_heap_mb" -> metric(liveHeapMb, "MB", "samples" -> 1))
  }

  private def jobsIn(lo: Double, hi: Double): Seq[JobRec] = jobs.filter(j => j.start >= lo && j.start <= hi)

  private def stagesOf(js: Seq[JobRec]): Seq[StageRec] = {
    val ids = js.flatMap(_.stageIds).toSet
    stages.filter(s => ids.contains(s.id))
  }

  /** Driver time of one execution not covered by its build span, its plan
    * span or any Spark job running for it. */
  private def gapMs(e: Exec): Double = {
    val covered = (e.start, e.planned) +: jobsIn(e.start, e.end).map(j => (j.start, j.end))
    (e.end - e.start) - Stats.unionLength(covered, e.start, e.end)
  }

  private def passLayers(es: Seq[Exec]): Map[String, Double] = {
    val js = es.flatMap(e => jobsIn(e.start, e.end))
    val ss = stagesOf(js)
    val jobWallMs = es.map(e => Stats.unionLength(jobsIn(e.start, e.end).map(j => (j.start, j.end)),
      e.start, e.end)).sum
    val runS = ss.map(_.runMs).sum / 1e3
    val bs = batchesOf(es)
    def dur(k: String) = bs.flatMap(_.durations.get(k)).sum.toDouble
    Map(
      "sources.input_rows" -> ss.map(_.inputRows).sum.toDouble,
      "sources.input_bytes" -> ss.map(_.inputBytes).sum.toDouble,
      "operators.build_ms" -> es.map(e => e.built - e.start).sum,
      "operators.build_jobs" -> es.map(e => jobsIn(e.start, e.built).size).sum.toDouble,
      "plans.analysis_ms" -> es.map(_.phasesMs.getOrElse("analysis", 0.0)).sum,
      "plans.optimization_ms" -> es.map(_.phasesMs.getOrElse("optimization", 0.0)).sum,
      "plans.planning_ms" -> es.map(_.phasesMs.getOrElse("planning", 0.0)).sum,
      "exec.jobs" -> js.size.toDouble,
      "exec.stages" -> ss.size.toDouble,
      "exec.tasks" -> ss.map(_.tasks).sum.toDouble,
      "exec.task_cpu_s" -> ss.map(_.cpuNs).sum / 1e9,
      "exec.task_run_s" -> runS,
      "exec.gc_s" -> es.map(_.gcMs).sum / 1e3,
      "exec.shuffle_read_bytes" -> ss.map(_.shuffleRead).sum.toDouble,
      "exec.shuffle_write_bytes" -> ss.map(_.shuffleWrite).sum.toDouble,
      "exec.spill_bytes" -> ss.map(_.spill).sum.toDouble,
      "exec.job_wall_s" -> jobWallMs / 1e3,
      "exec.driver_gap_s" -> es.map(gapMs).sum / 1e3,
      "exec.slot_util" -> (if (jobWallMs > 0) runS / (jobWallMs / 1e3 * cores) else 0.0),
      "exec.task_failures" -> failedTasks.count(t => within(t, es)).toDouble,
      "storage.cached_bytes_max" -> es.map(_.storageBytes).maxOption.getOrElse(0L).toDouble,
      "storage.pinned_rdds" -> es.map(_.pinnedRdds).maxOption.getOrElse(0).toDouble,
      "streaming.batches" -> bs.size.toDouble,
      "streaming.data_batch_ratio" ->
        (if (bs.isEmpty) 0.0 else bs.count(_.inputRows > 0).toDouble / bs.size),
      "streaming.query_planning_ms" -> dur("queryPlanning"),
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.wal_commit_ms" -> dur("walCommit"),
      "streaming.commit_offsets_ms" -> dur("commitOffsets"),
      "streaming.latest_offset_ms" -> dur("latestOffset"),
      "streaming.get_batch_ms" -> dur("getBatch"),
      "streaming.state_rows" ->
        bs.groupBy(_.runId).values.map(_.map(_.stateRows).max).sum.toDouble,
      "streaming.state_memory_bytes" -> bs.map(_.stateMemory).maxOption.getOrElse(0L).toDouble,
      "coverage_pct" -> 100.0 * (1 - es.map(gapMs).sum / es.map(e => e.end - e.start).sum))
  }

  val units: Map[String, String] = Map(
    "session.build_s" -> "s", "session.warm_pass_s" -> "s",
    "sources.resolve_cold_ms" -> "ms", "sources.resolve_warm_ms" -> "ms",
    "sources.input_rows" -> "count", "sources.input_bytes" -> "bytes",
    "operators.build_ms" -> "ms", "operators.build_jobs" -> "count",
    "plans.analysis_ms" -> "ms", "plans.optimization_ms" -> "ms", "plans.planning_ms" -> "ms",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.task_cpu_s" -> "s", "exec.task_run_s" -> "s", "exec.gc_s" -> "s",
    "exec.shuffle_read_bytes" -> "bytes", "exec.shuffle_write_bytes" -> "bytes",
    "exec.spill_bytes" -> "bytes", "exec.job_wall_s" -> "s", "exec.driver_gap_s" -> "s",
    "exec.slot_util" -> "ratio", "exec.task_failures" -> "count",
    "storage.cached_bytes_max" -> "bytes", "storage.pinned_rdds" -> "count",
    "core.mr_run_s" -> "s", "core.mr_assoc_s" -> "s",
    "streaming.batches" -> "count", "streaming.data_batch_ratio" -> "ratio",
    "streaming.query_planning_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms", "streaming.commit_offsets_ms" -> "ms",
    "streaming.latest_offset_ms" -> "ms", "streaming.get_batch_ms" -> "ms",
    "streaming.state_rows" -> "count", "streaming.state_memory_bytes" -> "bytes",
    "streaming.batch_p50_ms" -> "ms", "streaming.batch_tail_ms" -> "ms",
    "coverage_pct" -> "%", "trace_overhead_pct" -> "%")

  /** Per-layer metrics: the median over traced passes of each pass total,
    * plus set-up components, probes and the tracing overhead. */
  def perLayer(probes: Map[String, Double]): Map[String, Map[String, Any]] = {
    val traced = execs.filter(_.traced).groupBy(_.pass).values.toSeq
    val perPass = traced.map(passLayers)
    val layered = perPass.headOption.map(_.keys).getOrElse(Nil).map { k =>
      k -> Stats.median(perPass.map(_(k)))
    }.toMap
    // the first pass still carries JIT warm-up, so it is left out here
    def passMedian(t: Boolean) =
      Stats.median(passes.filter { case (p, tr, _) => p > 0 && tr == t }.map(_._3))
    // micro-batch latency over every timed pass, traced or not
    val trig = batchesOf(execs.filter(_.pass > 0)).flatMap(_.durations.get("triggerExecution")).map(_.toDouble)
    val (bTail, bPct) = Stats.tail(trig)
    val all = layered ++ probes ++ Map(
      "streaming.batch_p50_ms" -> Stats.median(trig),
      "streaming.batch_tail_ms" -> bTail,
      "session.build_s" -> (setup.sessionBuilt - setup.start) / 1e3,
      "session.warm_pass_s" -> (setup.end - setup.sessionBuilt) / 1e3,
      "trace_overhead_pct" -> 100.0 * (passMedian(true) / passMedian(false) - 1))
    all.map { case (k, v) =>
      val extra: Seq[(String, Any)] =
        if (layered.contains(k)) Seq("samples" -> perPass.size)
        else if (k.startsWith("streaming.batch_")) Seq("samples" -> trig.size, "percentile" -> bPct)
        else Seq("samples" -> 1)
      k -> metric(v, units.getOrElse(k, if (k.endsWith(".ns_per_row")) "ns/row" else ""), extra: _*)
    }
  }

  /** Spans (set-ups, per-query build/plan/execute, jobs, stages) with
    * their self time, per-query records and per-kind totals. */
  def traceRecords: Map[String, Any] = {
    case class Span(id: Int, kind: String, name: String, start: Double, end: Double,
        parent: Int, query: String)
    val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
    def add(kind: String, name: String, s: Double, e: Double, parent: Int, q: String): Int = {
      spans += Span(spans.size, kind, name, s, e, parent, q)
      spans.size - 1
    }
    add("session", "session_build", setup.start, setup.sessionBuilt, -1, "")
    add("warm", "warm_pass", setup.sessionBuilt, setup.end, -1, "")
    execs.foreach { e =>
      val id = add("query", e.query, e.start, e.end, -1, e.query)
      add("build", e.query, e.start, e.built, id, e.query)
      if (e.planned > e.built) add("plan", e.query, e.built, e.planned, id, e.query)
      add("execute", e.query, e.planned, e.end, id, e.query)
    }
    val leaves = spans.filter(s => Set("session", "warm", "build", "plan", "execute")(s.kind)).toSeq
    val stageById = stages.groupBy(_.id)
    jobs.foreach { j =>
      val parent = leaves.find(s => j.start >= s.start && j.start <= s.end)
      val jid = add("job", s"job${j.id}", j.start, j.end, parent.map(_.id).getOrElse(-1),
        parent.map(_.query).getOrElse(""))
      j.stageIds.flatMap(stageById.getOrElse(_, Nil)).foreach { st =>
        add("stage", s"stage${st.id}.${st.attempt}", st.start, st.end, jid,
          parent.map(_.query).getOrElse(""))
      }
    }
    val children = spans.groupBy(_.parent)
    def selfMs(s: Span): Double = (s.end - s.start) - Stats.unionLength(
      children.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq, s.start, s.end)
    val perQuery = execs.filter(_.traced).map { e =>
      val js = jobsIn(e.start, e.end)
      val ss = stagesOf(js)
      Map[String, Any](
        "query" -> e.query, "pass" -> e.pass, "wall_ms" -> (e.end - e.start),
        "build_ms" -> (e.built - e.start), "plan_ms" -> (e.planned - e.built),
        "execute_ms" -> (e.end - e.planned), "jobs" -> js.size,
        "build_jobs" -> jobsIn(e.start, e.built).size, "stages" -> ss.size,
        "tasks" -> ss.map(_.tasks).sum, "task_cpu_s" -> ss.map(_.cpuNs).sum / 1e9,
        "shuffle_bytes" -> ss.map(s => s.shuffleRead + s.shuffleWrite).sum,
        "driver_gap_ms" -> gapMs(e), "phases_ms" -> e.phasesMs,
        "batches" -> batchesOf(Seq(e)).size)
    }
    Map(
      "workload" -> workload,
      "spans" -> spans.map(s => Map[String, Any](
        "id" -> s.id, "kind" -> s.kind, "name" -> s.name, "start_ms" -> s.start,
        "end_ms" -> s.end, "parent" -> s.parent, "query" -> s.query, "self_ms" -> selfMs(s))),
      "per_query" -> perQuery,
      "totals_ms" -> spans.groupBy(_.kind).map { case (k, ss) =>
        k -> Map("count" -> ss.size, "total_ms" -> ss.map(s => s.end - s.start).sum,
          "self_ms" -> ss.map(selfMs).sum) })
  }
}
