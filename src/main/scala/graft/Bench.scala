package graft
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** The one timing harness.
  *
  *  - `runMain graft.Bench`: the graded run — every registered query
  *    once, name-sorted; one compact JSON line on stdout, the full
  *    per-query map in `target/bench_full.json` and `BENCH_full_*.json`.
  *  - `runMain graft.Bench [--reps N] q1 q2 …`: the named queries N
  *    times each (default 1) with a job listener attached; one line per
  *    rep (wall, process CPU, Spark jobs/stages/tasks, summed task time,
  *    driver gap, Janino compiles), then the query's jobs by call site.
  *
  * Both modes run the same untimed warm-up and the same cleanup after
  * each query, so a named rep measures what the graded run measures. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if (args.isEmpty) graded(sfDir)
    else {
      val (reps, names) = args.toList match {
        case "--reps" :: n :: rest => (n.toInt, rest)
        case names => (1, names)
      }
      val spark = session(sfDir)
      try profile(spark, sfDir, names, reps) finally spark.stop()
    }
  }

  /** The factory's session, warmed: tables plus every heavy family's
    * codegen shapes (untimed). */
  private def session(sfDir: String): SparkSession = {
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    BenchWarmup.run(spark, sfDir)
    spark
  }

  /** Drops what a query left persisted, so it cannot perturb later
    * timings: several pipelines persist a shared intermediate and
    * cannot unpersist before returning, and 178 queries of leaked cache
    * blocks otherwise squeeze the storage pool. The result has been
    * counted; the data is never re-read. */
  private def cleanup(spark: SparkSession): Unit = {
    try spark.catalog.clearCache() catch { case _: Throwable => () }
    // ...and localCheckpoint blocks: clearCache only covers catalog-
    // cached plans, while the elite family materializes member frames
    // via localCheckpoint (RDD-persisted, lineage-truncated). Those
    // blocks are only freed when the ContextCleaner GCs the RDD — in
    // a 245-query session they accumulate and squeeze the unified
    // memory pool for every later query (r7: fc_ensemble 11.6 s vs
    // 1.9 budget, alphabetically after the six elite queries).
    try spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    catch { case _: Throwable => () }
  }

  /** One timed rep of a named query. `gapSec` is wall with NO job in
    * flight (planning, analysis, driver collects, scheduling latency
    * between sequential jobs); `cpuSec` is NaN on a JVM without the
    * com.sun OS bean. */
  final case class Rep(name: String, rep: Int, wallSec: Double, cpuSec: Double,
                       jobs: Int, stages: Int, tasks: Long, taskSec: Double,
                       gapSec: Double, compiles: Long)

  /** Counts jobs, stages and tasks, the union of job intervals, and
    * each job's call site (its last stage's name). */
  private final class JobListener extends SparkListener {
    private val open = mutable.Map[Int, (Long, String)]()
    private val intervals = mutable.ArrayBuffer[(Long, Long)]()
    val sites = mutable.ArrayBuffer[(String, Long)]() // (call site, ms)
    var nJobs = 0; var nStages = 0; var nTasks = 0L; var taskMs = 0L
    override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
      open(js.jobId) = (js.time,
        js.stageInfos.lastOption.map(_.name).getOrElse("?").takeWhile(_ != '\n'))
      nJobs += 1; nStages += js.stageInfos.size
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
      open.remove(je.jobId).foreach { case (s, site) =>
        intervals += ((s, je.time)); sites += ((site, je.time - s))
      }
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
      nTasks += 1
      if (te.taskInfo != null) taskMs += te.taskInfo.duration
    }
    /** Starts a rep; `sites` stays until [[clearSites]]. */
    def reset(): Unit = synchronized {
      open.clear(); intervals.clear(); nJobs = 0; nStages = 0; nTasks = 0; taskMs = 0
    }
    def clearSites(): Unit = synchronized { sites.clear() }
    /** Union length (ms) of the recorded job intervals. */
    def coveredMs: Long = synchronized {
      var cov = 0L; var curS = Long.MinValue; var curE = Long.MinValue
      intervals.sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) cov += curE - curS; curS = a; curE = b }
        else if (b > curE) curE = b
      }
      if (curE > curS) cov += curE - curS
      cov
    }
  }

  /** Runs each named query `reps` times with a [[JobListener]] attached
    * (removed again on return), printing one line per rep and, after
    * the reps, the query's jobs grouped by call site. */
  def profile(spark: SparkSession, sfDir: String, names: Seq[String], reps: Int): Seq[Rep] = {
    val l = new JobListener
    spark.sparkContext.addSparkListener(l)
    // process-CPU seconds beside wall: on a steal-noisy shared host wall
    // reps swing 2-5x while the JVM's on-CPU work is stable. Pattern-
    // match, don't cast: a JVM without the com.sun interface omits the
    // cpu metric instead of failing the run
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => Some(b)
      case _ => None
    }
    def cpuNs: Long = osBean.map(_.getProcessCpuTime).getOrElse(-1L)
    val compHist = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    try names.flatMap { name =>
      val fn = SparkEntry.queries(name)
      l.clearSites()
      val recs = (1 to reps).map { i =>
        l.reset()
        val comp0 = compHist.getCount
        val c0 = cpuNs
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        val cpu = if (c0 < 0) Double.NaN else (cpuNs - c0) / 1e9
        // listener delivery is async — give the bus a moment to drain
        Thread.sleep(300)
        val r = l.synchronized {
          Rep(name, i, wall, cpu, l.nJobs, l.nStages, l.nTasks, l.taskMs / 1000.0,
            math.max(0.0, wall - l.coveredMs / 1000.0), compHist.getCount - comp0)
        }
        println(f"[bench] $name rep$i wall=${r.wallSec}%.3f cpu=${r.cpuSec}%.1f " +
          f"jobs=${r.jobs} stages=${r.stages} tasks=${r.tasks} task_s=${r.taskSec}%.1f " +
          f"gap=${r.gapSec}%.3f compiles=${r.compiles}")
        // every rep starts cache-cold, as in the graded run: otherwise
        // reps 2+ reuse the previous rep's persisted intermediates via
        // plan-equality and report flattered numbers
        cleanup(spark)
        r
      }
      l.synchronized {
        l.sites.groupBy(_._1).toSeq
          .map { case (s, xs) => (s, xs.size, xs.map(_._2).sum) }
          .sortBy(-_._3)
          .foreach { case (s, n, ms) =>
            println(f"[jobsite] $name n=$n%3d total=${ms / 1000.0}%7.3f s  $s")
          }
      }
      recs
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def graded(sfDir: String): Unit = {
    val cpus = GraftSession.cpus
    // pre-flight: refuse to start timing on a loaded host (r10/r11/r12
    // graded benches were all inflated by builder-side load — prevent
    // in code, not discipline). The wait is stamped into the JSON.
    val (preflightWait, loadAtGate) = BenchWarmup.preflightLoadGate()
    val spark = session(sfDir)
    // per-query telemetry (VERDICT r11 "What's wrong" #2): the graded
    // bench has repeatedly been inflated by HOST contention with
    // nothing in the artifact to prove it. JVM GC-time delta + the
    // 1-min host load average per query make a contaminated read
    // attributable from the bench JSON alone: a loaded host shows
    // load ≫ cpus and/or GC-dominated spikes on trivial queries.
    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    def gcMillis: Long = {
      var s = 0L
      gcBeans.forEach(b => s += math.max(0L, b.getCollectionTime))
      s
    }
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadStart = osBean.getSystemLoadAverage
    // hypervisor STEAL time per query (r14): load average only sees
    // guest-visible runnable threads, but this box's timings are also
    // inflated by NEIGHBOR VMs (observed 10-16% steal while the guest
    // sat near-idle — wall reps swinging 2-5x on identical code).
    // /proc/stat's cpu steal ticks make that attributable per query:
    // a spike with near-zero gc and high st is the hypervisor, not a
    // plan regression. Seconds are host-wide (sum over all vCPUs).
    def stealSec: Double = try {
      // Files.readAllLines closes the fd (ADVICE r14: the Source-based
      // read leaked one fd per call — twice per query — until GC)
      import scala.jdk.CollectionConverters._
      val cpuLine = java.nio.file.Files
        .readAllLines(java.nio.file.Paths.get("/proc/stat")).asScala
        .find(_.startsWith("cpu ")).getOrElse("")
      val f = cpuLine.trim.split("\\s+")
      // fields: cpu user nice system idle iowait irq softirq steal ...
      if (f.length > 8) f(8).toDouble / 100.0 else Double.NaN
    } catch { case _: Throwable => Double.NaN }
    val stealStart = stealSec
    // name-sorted: Map iteration order shifts as the registry grows,
    // which reorders warmup/JIT effects between rounds — a fixed order
    // keeps per-query timings comparable round-to-round
    var nFailed = 0
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val g0 = gcMillis
      val st0 = stealSec
      val t0 = System.nanoTime()
      // a failed query must be LOUD: in round 4 a schema change made
      // 164 events-based queries throw at plan time — each "ran" in
      // ~50 ms and the total silently dropped by half
      try { fn(spark, sfDir).count() } catch { case e: Throwable =>
        nFailed += 1
        System.err.println(s"[bench] $name FAILED: ${e.getMessage.take(200)}")
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val gcDt = (gcMillis - g0) / 1000.0
      val stDt = stealSec - st0
      val load = osBean.getSystemLoadAverage
      cleanup(spark)
      (name, dt, gcDt, load, stDt)
    }
    val timings = results.map(r => (r._1, r._2))
    val total = timings.map(_._2).sum
    val gcTotal = results.map(_._3).sum
    val stealTotal = stealSec - stealStart
    // regression guard: compare against the frozen per-query budgets
    // (tools/bench_budget.json). Any query beyond 2x its EFFECTIVE
    // budget gets a stderr warning — catches the next fc_elite-style
    // silent drift locally before the driver grades it. Warnings only
    // (host timing noise is +-30% on small queries); sub-second
    // budgets are floored at 0.5 s so scheduler jitter on trivial
    // queries stops flagging (r12: f_first_location_of_minimum tripped
    // 2.16x on a 0.44 s read against a 0.20 s budget).
    try {
      val budgetPath = java.nio.file.Paths.get("tools/bench_budget.json")
      if (java.nio.file.Files.exists(budgetPath)) {
        val txt = new String(java.nio.file.Files.readAllBytes(budgetPath), "UTF-8")
        val qpart = txt.substring(txt.indexOf("\"queries\""))
        val budget = "\"([A-Za-z0-9_]+)\":\\s*([0-9.]+)".r.findAllMatchIn(qpart)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
        val over = timings.filter { case (name, dt) =>
          budget.get(name).exists(b => dt > 2.0 * math.max(b, 0.5))
        }
        over.foreach { case (name, dt) =>
          System.err.println(
            f"[bench-budget] $name: $dt%.2f s > 2x budget ${math.max(budget(name), 0.5)}%.2f s")
        }
        if (over.nonEmpty)
          System.err.println(s"[bench-budget] ${over.size} queries over 2x budget")
      }
    } catch { case e: Throwable =>
      // the guard must never fail the bench, but a broken guard that
      // says nothing is a no-op net — surface the symptom
      System.err.println(s"[bench-budget] guard failed: ${e.getMessage}")
    }
    // full per-query timings to a side file; STDOUT gets one COMPACT
    // line (top-20 slowest only) so the driver's captured output tail
    // always contains a complete, parseable JSON object — round 1's
    // 157-entry map overflowed the tail and the driver recorded
    // "parsed": null
    def fmt(kvs: Iterable[(String, Double)]) = kvs
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    // load_avg_gate = 1-min load BEFORE the session/warmup (the host-
    // cleanliness signal); load_avg_start is post-warmup and includes
    // the bench's own warmup work
    // NaN gate = MXBean had no load reading (unsupported platform) —
    // serialize as null so the artifact can't be misread as near-idle
    val gateStr = if (loadAtGate.isNaN) "null" else f"$loadAtGate%.2f"
    val stealStr = if (stealTotal.isNaN) "null" else f"$stealTotal%.1f"
    val scalars = s""""gc_sec_total":${f"$gcTotal%.3f"},"steal_sec_total":$stealStr,"load_avg_gate":$gateStr,"load_avg_start":${f"$loadStart%.2f"},"load_avg_end":${f"${osBean.getSystemLoadAverage}%.2f"},"preflight_wait_sec":${f"$preflightWait%.0f"},"cpus":"$cpus""""
    // full map carries the telemetry: per-query seconds, GC seconds
    // inside the query, and the host 1-min load average at query end
    val fullQ = results
      .map { case (k, s, gc, ld, st) =>
        val stS = if (st.isNaN) "null" else f"$st%.2f"
        "\"" + k + f"""\":{"s":$s%.3f,"gc":$gc%.3f,"load":$ld%.2f,"st":$stS}""" }
      .mkString("{", ",", "}")
    val full = s"""{"metric":"total","value":$total,"unit":"sec",$scalars,"queries":$fullQ,"sf":"$sfDir"}"""
    // versioned at the repo root (the r10 protocol's literal ask):
    // regression triage needs per-round history, and target/ is
    // gitignored/ephemeral. N = max committed BENCH_r{N} + 1 — the
    // round currently being graded. `_latest` kept as a stable name.
    val roundN = (Option(new java.io.File(".").list()).getOrElse(Array.empty[String])
      .flatMap("BENCH_r(\\d+)\\.json$".r.findFirstMatchIn(_))
      .map(_.group(1).toInt) :+ 0).max + 1
    // a failed write is loud on stderr; stdout keeps its one line
    Seq("target/bench_full.json", f"BENCH_full_r$roundN%02d.json", "BENCH_full_latest.json")
      .foreach { path =>
        try java.nio.file.Files.write(java.nio.file.Paths.get(path), full.getBytes("UTF-8"))
        catch { case e: Throwable => System.err.println(s"[bench] could not write $path: $e") }
      }
    if (nFailed > 0)
      System.err.println(s"[bench] $nFailed of ${results.size} queries FAILED — total is meaningless")
    val top = timings.sortBy(-_._2).take(20)
    spark.stop()
    // stdout stays one COMPACT parseable line; the scalar telemetry
    // fields make a contaminated total self-evident even when only
    // the stdout tail survives
    println(s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","n_queries":${results.size},"n_failed":$nFailed,$scalars,"queries":${fmt(top)},"sf":"$sfDir"}""")
  }
}
