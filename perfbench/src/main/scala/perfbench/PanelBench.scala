package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** One timed query: the registry builder call, then the fingerprint
  * action. Times are epoch milliseconds (to line up with listener
  * events) plus nanosecond durations. */
final case class QueryRun(
    name: String, start: Long, buildEnd: Long, end: Long,
    buildS: Double, actionS: Double, cpuS: Double,
    fingerprint: Option[Fingerprint], failure: Option[String], leaked: Int) {
  def wallS: Double = buildS + actionS
}

final case class PassRun(
    pass: Int, traced: Boolean, start: Long, end: Long,
    wallS: Double, cpuS: Double, gcS: Double, jitS: Double, queries: Seq[QueryRun])

/** The benchmark's JVM side. Runs one workload's registry queries in a
  * warm `local[nproc]` session with `graft.Bench`'s session conf: two
  * untimed warm passes (the end of set-up), then closed-loop timed passes
  * from this single driver thread until the time slice is spent.
  *
  * Usage (normally launched by run.py):
  *   PanelBench --workload W --seed N --seconds S --trace 0|1 --data DIR
  *              --expected FILE --work DIR --t0-ms EPOCH --spans FILE
  *   PanelBench --record FILE --data DIR --work DIR
  */
object PanelBench {

  type Builder = (SparkSession, String) => DataFrame

  /** Untimed passes before timing starts. After one, the first timed pass
    * spent about 40% more CPU than the next; after two, the first timed
    * pass still spends 30-50% more CPU than the third, most of it in JIT
    * compilation (`jvm.jit_s`; sql_short on 4 vCPUs). A third warm pass
    * did not narrow the spread across runs, and made a knn_scan run about
    * 7 s longer than the time budget for comparing two commits allows. */
  val WarmPasses = 2

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala

  def cpuNs: Long = os.getProcessCpuTime
  def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
  /** Time the JIT compiler threads spent compiling, summed over threads. */
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** `graft.Bench`'s session conf, with Spark's scratch space kept under
    * `work`. */
  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.buffer.pageSize", "4m")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.sql.codegen.maxFields", "1024")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Builds and fingerprints one query, then drops whatever it left
    * persisted (counted as `leaked`) so it cannot perturb later ones.
    * A throw or a fingerprint that differs from `expected` is a
    * failure, named in `failure`. */
  def runQuery(spark: SparkSession, dir: String, name: String, fn: Builder,
      expected: Option[Fingerprint]): QueryRun = {
    val c0 = cpuNs
    val start = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1 = t0
    var buildEnd = start
    var fp: Option[Fingerprint] = None
    var failure: Option[String] = None
    try {
      val df = fn(spark, dir)
      t1 = System.nanoTime()
      buildEnd = System.currentTimeMillis()
      fp = Some(Fingerprint.of(df))
    } catch {
      case e: Throwable =>
        if (t1 == t0) { t1 = System.nanoTime(); buildEnd = System.currentTimeMillis() }
        failure = Some(s"threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
    }
    val t2 = System.nanoTime()
    val end = System.currentTimeMillis()
    val cpu = (cpuNs - c0) / 1e9
    if (failure.isEmpty) failure = (fp, expected) match {
      case (Some(got), Some(want)) if got != want => Some(s"fingerprint $got, expected $want")
      case (_, None) => Some("no recorded fingerprint")
      case _ => None
    }
    val sc = spark.sparkContext
    val leaked = sc.getPersistentRDDs.size
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(false))
    QueryRun(name, start, buildEnd, end, (t1 - t0) / 1e9, (t2 - t1) / 1e9, cpu, fp, failure, leaked)
  }

  def runPass(spark: SparkSession, dir: String, pass: Int, traced: Boolean,
      names: Seq[String], fns: String => Builder,
      expected: Map[String, Fingerprint]): PassRun = {
    val c0 = cpuNs
    val g0 = gcMs
    val j0 = jitMs
    val start = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val qs = names.map(n => runQuery(spark, dir, n, fns(n), expected.get(n)))
    PassRun(pass, traced, start, System.currentTimeMillis(), (System.nanoTime() - t0) / 1e9,
      (cpuNs - c0) / 1e9, (gcMs - g0) / 1000.0, (jitMs - j0) / 1000.0, qs)
  }

  /** (exceptions + fingerprint mismatches) / queries attempted. */
  def failedFrac(passes: Seq[PassRun]): Double =
    passes.map(_.queries.count(_.failure.isDefined)).sum.toDouble / passes.map(_.queries.size).sum

  private def parseArgs(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0 && args.grouped(2).forall(_.head.startsWith("--")),
      s"expected --key value pairs, got: ${args.mkString(" ")}")
    args.grouped(2).map(a => a(0).drop(2) -> a(1)).toMap
  }

  def readExpected(path: String): Map[String, Fingerprint] =
    Files.readAllLines(Paths.get(path), UTF_8).asScala
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(n, fp) = l.split("\\s+"); n -> Fingerprint.parse(fp) }
      .toMap

  def peakRssKb: Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)

  /** Heap bytes still in use after a full collection: what the program
    * and the session hold between queries. */
  def liveHeapBytes: Long = {
    val memory = ManagementFactory.getMemoryMXBean
    def collect(): Long = { memory.gc(); memory.getHeapMemoryUsage.getUsed }
    // a collection lets Spark's ContextCleaner drop the blocks of broadcasts
    // nothing references, on its own thread: collect again until that settles
    var prev = collect()
    var cur = prev
    var rounds = 1
    do { prev = cur; Thread.sleep(250); cur = collect(); rounds += 1 }
    while (prev - cur > (1L << 20) && rounds < 8)
    cur
  }

  def main(args: Array[String]): Unit = {
    val kv = parseArgs(args)
    val cpus = Runtime.getRuntime.availableProcessors
    val dir = kv("data")
    val work = kv("work")
    if (kv.contains("record")) record(kv("record"), dir, work, cpus)
    else measure(kv, dir, work, cpus)
  }

  /** Fingerprints every query of the three workloads' families twice,
    * and writes `name rows:hashsum` lines.
    * A query whose two fingerprints differ is reported and not written.
    * Also prints each query's second (warm) wall time, which is what
    * the named subsets were chosen from. */
  def record(out: String, dir: String, work: String, cpus: Int): Unit = {
    val spark = session(cpus, work)
    val registry = graft.SparkEntry.queries
    val names = Workloads.names.flatMap(w => Workloads.family(w, registry.keys)).distinct.sorted
    val lines = names.flatMap { n =>
      val a = runQuery(spark, dir, n, registry(n), None)
      val b = runQuery(spark, dir, n, registry(n), None)
      println(f"[record] $n%-32s warm_s=${b.wallS}%.3f cpu_s=${b.cpuS}%.3f " +
        s"${b.fingerprint.getOrElse("-")} ${b.failure.filter(_ != "no recorded fingerprint").getOrElse("")}")
      (a.fingerprint, b.fingerprint) match {
        case (Some(x), Some(y)) if x == y => Some(s"$n $x")
        case _ =>
          System.err.println(s"[record] $n not recorded: ${a.fingerprint} vs ${b.fingerprint}")
          None
      }
    }
    val header = s"# <query> <rows>:<hash_sum>, Fingerprint.of over the ${Paths.get(dir).getFileName} " +
      "tables (python3 perfbench/run.py --record)"
    Files.write(Paths.get(out), (header +: lines).mkString("", "\n", "\n").getBytes(UTF_8))
    spark.stop()
  }

  def measure(kv: Map[String, String], dir: String, work: String, cpus: Int): Unit = {
    val workload = kv("workload")
    val seed = kv("seed").toLong
    val slice = kv("seconds").toDouble
    val traced = kv("trace") == "1"
    // which of the alternating passes is traced first flips with the
    // seed, so neither side always runs on the warmer JVM
    val firstTraced = seed % 2 == 0
    val t0Ms = kv("t0-ms").toLong
    val expected = readExpected(kv("expected"))
    val names = Workloads.members.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload '$workload'"))
    val registry = graft.SparkEntry.queries

    val spark = session(cpus, work)
    val sessionS = (System.currentTimeMillis() - t0Ms) / 1000.0
    val tracer = if (traced) Some(new Tracer(spark)) else None
    tracer.foreach(_.attach())
    val warm = (0 until WarmPasses).map(p =>
      runPass(spark, dir, p, traced, Workloads.order(names, seed, p), registry, expected))
    val setupS = (System.currentTimeMillis() - t0Ms) / 1000.0
    val setupSpans = tracer.map(_.take())
    // taken after set-up, so it follows a fixed amount of work (Spark's
    // status store keeps growing with every pass), and before timing starts
    val liveHeap = liveHeapBytes

    // timed passes; a traced run alternates traced and untraced passes
    // so the tracing overhead is measured in the same JVM
    val passes = Seq.newBuilder[(PassRun, Option[(Seq[JobSpan], Seq[ExecSpan], Seq[CompileSpan])])]
    val m0 = System.nanoTime()
    var p = WarmPasses
    val minPasses = if (traced) 2 else 1
    while (p < WarmPasses + minPasses || (System.nanoTime() - m0) / 1e9 < slice) {
      val on = traced && (((p - WarmPasses) % 2 == 0) == firstTraced)
      tracer.foreach(t => if (on) t.attach() else t.detach())
      val run = runPass(spark, dir, p, on, Workloads.order(names, seed, p), registry, expected)
      passes += ((run, if (on) tracer.map(_.take()) else None))
      p += 1
    }
    tracer.foreach(_.detach())
    val done = passes.result()
    spark.stop()

    val all = warm ++ done.map(_._1)
    val failures = all.flatMap(pr =>
      pr.queries.flatMap(q => q.failure.map(f => Json.obj("query" -> q.name, "pass" -> pr.pass, "reason" -> f))))
    val layers = done.collect { case (pr, Some(sp)) => Layers.of(pr, sp._1, sp._2, sp._3) }
    val summary = Json.obj(
      "workload" -> workload, "seed" -> seed, "cpus" -> cpus,
      "session_s" -> sessionS, "setup_s" -> setupS,
      "setup_codegen" -> setupSpans.map(s => Json.obj(
        "compiles" -> s._3.size, "compile_s" -> s._3.map(_.ms).sum / 1000.0)).getOrElse(Json.Null),
      "peak_rss_kb" -> peakRssKb,
      "heap_committed_bytes" -> ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted,
      "heap_live_bytes" -> liveHeap,
      "attempted" -> all.map(_.queries.size).sum,
      "failed_frac" -> failedFrac(all),
      "passes" -> done.map { case (pr, _) => Json.obj(
        "pass" -> pr.pass, "traced" -> pr.traced, "wall_s" -> pr.wallS, "cpu_s" -> pr.cpuS,
        "gc_s" -> pr.gcS, "jit_s" -> pr.jitS, "attempted" -> pr.queries.size,
        "query_wall_s" -> pr.queries.map(_.wallS)) },
      "layers" -> layers,
      "failures" -> failures)
    Json.write(kv("spans"), Json.obj("workload" -> workload, "seed" -> seed,
      "passes" -> (warm.map(Spans.pass(_, setupSpans)) ++ done.map { case (pr, sp) => Spans.pass(pr, sp) })))
    println("PERFBENCH_JVM " + Json.render(summary))
  }
}
