package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counts for a traced run, from Spark's public listeners only:
  * `SparkListener` (jobs, stages, task metrics), `QueryExecutionListener`
  * (the planning phases of each `QueryExecution.tracker`) and
  * `StreamingQueryListener` (micro-batch progress). Events are appended
  * to queues on the listener-bus threads and aggregated after the run. */
final class EngineListener extends SparkListener {
  import EngineListener._

  val jobs = new ConcurrentLinkedQueue[Job]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val stages = new ConcurrentLinkedQueue[Int]()
  val plans = new ConcurrentLinkedQueue[Plan]()
  val progress = new ConcurrentLinkedQueue[Progress]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  /** The first job that listed the stage (-1 if none). */
  def jobOfStage(stage: Int): Int = stageJob.getOrDefault(stage, -1)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    jobs.add(Job(e.jobId, e.time.toDouble,
      prop(Tracer.SpanProp).map(_.toLong)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.add(e.stageInfo.stageId)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val i = e.taskInfo
    val run = m.executorRunTime
    val delay = math.max(0L, i.duration - run - m.executorDeserializeTime -
      m.resultSerializationTime - i.gettingResultTime)
    val sr = m.shuffleReadMetrics
    tasks.add(Task(stageJob.getOrDefault(e.stageId, -1), run,
      m.executorCpuTime / 1e6, m.jvmGCTime, m.peakExecutionMemory,
      m.shuffleWriteMetrics.bytesWritten, sr.totalBytesRead, sr.fetchWaitTime,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead, delay))
  }

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    private def add(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(s => (s.endTimeMs - s.startTimeMs).toDouble).getOrElse(0.0)
      val at = ph.values.map(_.startTimeMs).minOption.map(_.toDouble).getOrElse(Double.NaN)
      plans.add(Plan(at, ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(event: QueryStartedEvent): Unit = ()
    override def onQueryIdle(event: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(event: QueryProgressEvent): Unit = {
      val p = event.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap
      val ops = p.stateOperators.toSeq
      progress.add(Progress(p.id.toString, p.batchId, p.numInputRows,
        java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble + d.getOrElse("triggerExecution", 0.0),
        d, ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.commitTimeMs).sum.toDouble, ops.map(_.numRowsDroppedByWatermark).sum))
    }
  }
}

object EngineListener {
  final case class Job(id: Int, startMs: Double, span: Option[Long])
  final case class Task(job: Int, runMs: Long, cpuMs: Double, gcMs: Long,
                        peakMem: Long, shWrite: Long, shRead: Long,
                        fetchWaitMs: Long, spill: Long, inputBytes: Long,
                        delayMs: Long)
  final case class Plan(startMs: Double, analysisMs: Double,
                        optimizationMs: Double, planningMs: Double)
  final case class Progress(query: String, batch: Long, rows: Long, endMs: Double,
                            durMs: Map[String, Double], stateRows: Long,
                            stateMem: Long, stateCommitMs: Double, lateRows: Long)

  /** The span each job is attributed to: the span id the job carries in
    * its local properties, else (streaming threads do not inherit the
    * driver's span) the innermost span whose interval holds the job's
    * start. */
  def attribute(jobs: Seq[Job], spans: Seq[Span]): Map[Int, Long] =
    jobs.flatMap { j =>
      j.span.orElse(spans.filter(s => j.startMs >= s.startMs && j.startMs <= s.endMs)
        .maxByOption(_.startMs).map(_.id)).map(j.id -> _)
    }.toMap

  /** Total codegen compile time so far, in ms, once
    * [[installCompileClock]] ran. */
  def codegenCompileMs(): Double = compileMs.sum

  private val compileMs = new java.util.concurrent.atomic.DoubleAdder
  private val CodeGenerator = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val Compiled = """Code generated in ([0-9.]+) ms""".r.unanchored

  /** Sum the time of every compile from CodeGenerator's own INFO line
    * "Code generated in <ms> ms". Its CodegenMetrics histogram keeps
    * whole milliseconds in a decaying sample, so it holds no exact sum.
    * The logger's ERROR lines still reach the console. */
  def installCompileClock(): Unit = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    val clock = new AbstractAppender("graftbench-compile-clock", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = e.getMessage.getFormattedMessage match {
        case Compiled(ms) => compileMs.add(ms.toDouble)
        case _ =>
      }
    }
    clock.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val lc = new LoggerConfig(CodeGenerator, Level.INFO, false)
    lc.addAppender(clock, Level.INFO, null)
    Option(cfg.getAppender[org.apache.logging.log4j.core.Appender]("console"))
      .foreach(lc.addAppender(_, Level.ERROR, null))
    cfg.removeLogger(CodeGenerator)
    cfg.addLogger(CodeGenerator, lc)
    ctx.updateLoggers()
  }

  def asSeq[A](q: ConcurrentLinkedQueue[A]): Seq[A] = q.asScala.toSeq
}
