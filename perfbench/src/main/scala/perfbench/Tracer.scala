package perfbench

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One Spark job as the listener saw it. `site` is the source file of
  * the innermost program frame that started it (the operator). */
final class JobSpan(val id: Int, val start: Long, val site: String, val stages: Int) {
  var end: Long = -1L
  var tasks = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var inRows = 0L
  var inBytes = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var resultBytes = 0L
}

/** Catalyst phase times of one Dataset execution (QueryPlanningTracker);
  * `at` is when its last phase ended, just before it executed. */
final case class ExecSpan(at: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long)

/** A janino compile, as Spark's CodeGenerator logs it. */
final case class CompileSpan(at: Long, ms: Double)

/** Collects spans from outside the program: a SparkListener for jobs,
  * stages and tasks, a QueryExecutionListener for Catalyst phases, and
  * the CodeGenerator log for compiles. Everything stays in memory until
  * the caller takes it; nothing under the program's own sources is
  * touched. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val jobs = mutable.ArrayBuffer[JobSpan]()
  private val stageJob = mutable.Map[Int, JobSpan]()
  private val execs = mutable.ArrayBuffer[ExecSpan]()
  private val compiles = mutable.ArrayBuffer[CompileSpan]()
  private val execSite = mutable.Map[Long, String]()
  // innermost frame of the program (or of this harness) in a long call
  // site. A Dataset action's jobs run on adaptive-execution threads, so
  // its call site comes from the SQL execution that started them.
  private val siteRe = "(?m)^\\s*(?:at )?(?:graft|perfbench)\\.[^(\\n]*\\(([A-Za-z0-9_$]+)\\.scala:\\d+\\)".r
  private val shortSiteRe = "at ([A-Za-z0-9_$]+)\\.(?:scala|java):\\d+".r
  private val compileRe = "Code generated in ([0-9.]+) ms".r.unanchored
  private val codegenLogger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"

  private object CompileLog extends AbstractAppender(
      "perfbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = e.getMessage.getFormattedMessage match {
      case compileRe(ms) => Tracer.this.synchronized { compiles += CompileSpan(e.getTimeMillis, ms.toDouble) }
      case _ =>
    }
  }

  private var attached = false

  def attach(): Unit = if (!attached) {
    attached = true
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    CompileLog.start()
    val lg = LogManager.getLogger(codegenLogger).asInstanceOf[CoreLogger]
    lg.addAppender(CompileLog)
    lg.setAdditive(false)
    Configurator.setLevel(codegenLogger, Level.INFO)
  }

  def detach(): Unit = if (attached) {
    attached = false
    drain()
    Configurator.setLevel(codegenLogger, Level.WARN)
    LogManager.getLogger(codegenLogger).asInstanceOf[CoreLogger].removeAppender(CompileLog)
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Removes and returns everything recorded so far (after a drain). */
  def take(): (Seq[JobSpan], Seq[ExecSpan], Seq[CompileSpan]) = {
    drain()
    synchronized {
      val out = (jobs.toList, execs.toList, compiles.toList)
      jobs.clear(); stageJob.clear(); execSite.clear(); execs.clear(); compiles.clear()
      out
    }
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    val last = if (js.stageInfos.isEmpty) None else Some(js.stageInfos.maxBy(_.stageId))
    val exec = Option(js.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    val site = exec.flatMap(id => execSite.get(id.toLong))
      .orElse(last.flatMap(s => siteOf(s.details, s.name))).getOrElse("unknown")
    val j = new JobSpan(js.jobId, js.time, site, js.stageInfos.size)
    jobs += j
    js.stageIds.foreach(stageJob(_) = j)
  }

  private def siteOf(long: String, short: String): Option[String] =
    siteRe.findFirstMatchIn(long).orElse(shortSiteRe.findFirstMatchIn(short)).map(_.group(1))

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      siteOf(s.details, s.description).foreach(f => synchronized { execSite(s.executionId) = f })
    case _ =>
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == je.jobId).foreach(_.end = je.time)
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(te.stageId).foreach { j =>
      j.tasks += 1
      val m = te.taskMetrics
      if (m != null) {
        j.taskMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.inRows += m.inputMetrics.recordsRead
        j.inBytes += m.inputMetrics.bytesRead
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.diskBytesSpilled
        j.resultBytes += m.resultSize
      }
    }
  }

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    val at = if (ph.isEmpty) System.currentTimeMillis() else ph.values.map(_.endTimeMs).max
    synchronized { execs += ExecSpan(at, ms("analysis"), ms("optimization"), ms("planning")) }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}
