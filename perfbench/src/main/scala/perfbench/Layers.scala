package perfbench

/** Per-layer totals of one traced pass, attributed from the spans. */
object Layers {
  private val MB = 1e6

  /** Length of the union of `[start, end]` intervals (ms). */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var cov = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { cov += curE - curS; curS = a; curE = b }
      else if (b > curE) curE = b
    }
    cov + (curE - curS)
  }

  private def jobEnd(j: JobSpan): Long = if (j.end < 0) j.start else j.end

  /** Jobs that started inside a query's span belong to that query: each
    * query runs alone, from one driver thread. */
  def jobsOf(q: QueryRun, jobs: Seq[JobSpan]): Seq[JobSpan] =
    jobs.filter(j => j.start >= q.start && j.start <= q.end)

  def of(pr: PassRun, jobs: Seq[JobSpan], execs: Seq[ExecSpan],
      compiles: Seq[CompileSpan]): Json.Obj = {
    def sumJ(f: JobSpan => Long) = jobs.map(f).sum.toDouble
    val taskCpuS = sumJ(_.cpuNs) / 1e9
    val gapS = pr.queries.map { q =>
      val own = jobsOf(q, jobs).map(j => (j.start, math.min(jobEnd(j), q.end)))
      math.max(0L, (q.end - q.start) - covered(own)) / 1000.0
    }.sum
    val base = Seq[(String, Any)](
      "queries.build_s" -> pr.queries.map(_.buildS).sum,
      "queries.action_s" -> pr.queries.map(_.actionS).sum,
      "catalyst.executions" -> execs.size,
      "catalyst.analysis_s" -> execs.map(_.analysisMs).sum / 1000.0,
      "catalyst.optimization_s" -> execs.map(_.optimizationMs).sum / 1000.0,
      "catalyst.planning_s" -> execs.map(_.planningMs).sum / 1000.0,
      "codegen.compiles" -> compiles.size,
      "codegen.compile_s" -> compiles.map(_.ms).sum / 1000.0,
      "exec.jobs" -> jobs.size,
      "exec.stages" -> jobs.map(_.stages).sum,
      "exec.tasks" -> jobs.map(_.tasks).sum,
      "exec.task_s" -> sumJ(_.taskMs) / 1000.0,
      "exec.task_cpu_s" -> taskCpuS,
      "exec.job_cover_s" -> covered(jobs.map(j => (j.start, jobEnd(j)))) / 1000.0,
      "exec.shuffle_read_mb" -> sumJ(_.shuffleRead) / MB,
      "exec.shuffle_write_mb" -> sumJ(_.shuffleWrite) / MB,
      "exec.spill_mb" -> sumJ(_.spill) / MB,
      "exec.leaked_persists" -> pr.queries.map(_.leaked).sum,
      "core.input_rows" -> jobs.map(_.inRows).sum,
      "core.input_mb" -> sumJ(_.inBytes) / MB,
      "driver.gap_s" -> gapS,
      "driver.cpu_s" -> (pr.cpuS - taskCpuS),
      "driver.result_mb" -> sumJ(_.resultBytes) / MB,
      "jvm.gc_s" -> pr.gcS,
      "jvm.jit_s" -> pr.jitS,
      "pass_s" -> pr.wallS)
    val ops = jobs.groupBy(_.site).toSeq.sortBy(_._1).flatMap { case (site, js) =>
      Seq(
        s"op.$site.jobs" -> js.size,
        s"op.$site.job_s" -> js.map(j => jobEnd(j) - j.start).sum / 1000.0,
        s"op.$site.task_cpu_s" -> js.map(_.cpuNs).sum / 1e9)
    }
    Json.Obj(base ++ ops)
  }
}

/** The span tree of one pass: pass -> query -> build/action -> job. */
object Spans {
  def pass(pr: PassRun, spans: Option[(Seq[JobSpan], Seq[ExecSpan], Seq[CompileSpan])]): Json.Obj = {
    val jobs = spans.map(_._1).getOrElse(Nil)
    val execs = spans.map(_._2).getOrElse(Nil)
    val compiles = spans.map(_._3).getOrElse(Nil)
    def in(q: QueryRun)(t: Long) = t >= q.start && t <= q.end
    Json.obj(
      "pass" -> pr.pass, "traced" -> pr.traced, "start" -> pr.start, "end" -> pr.end,
      "queries" -> pr.queries.map { q =>
        Json.obj(
          "name" -> q.name, "start" -> q.start, "end" -> q.end,
          "build" -> Json.obj("start" -> q.start, "end" -> q.buildEnd),
          "action" -> Json.obj("start" -> q.buildEnd, "end" -> q.end),
          "failure" -> q.failure,
          "executions" -> execs.filter(e => in(q)(e.at)).map(e => Json.obj(
            "at" -> e.at, "analysis_ms" -> e.analysisMs,
            "optimization_ms" -> e.optimizationMs, "planning_ms" -> e.planningMs)),
          "compiles_ms" -> compiles.filter(c => in(q)(c.at)).map(_.ms),
          "jobs" -> Layers.jobsOf(q, jobs).map(j => Json.obj(
            "id" -> j.id, "start" -> j.start, "end" -> j.end, "site" -> j.site,
            "parent" -> (if (j.start <= q.buildEnd) "build" else "action"),
            "stages" -> j.stages, "tasks" -> j.tasks, "task_ms" -> j.taskMs,
            "task_cpu_ms" -> j.cpuNs / 1e6, "input_rows" -> j.inRows,
            "shuffle_read_bytes" -> j.shuffleRead, "shuffle_write_bytes" -> j.shuffleWrite,
            "result_bytes" -> j.resultBytes)))
      })
  }
}
