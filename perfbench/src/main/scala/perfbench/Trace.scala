package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced call into a layer. Times are epoch microseconds. `lane`
  * separates the workload's own thread ("main") from the serving path
  * ("serve"), whose Spark jobs run concurrently with the main lane. */
final case class Span(id: Long, parent: Long, name: String, lane: String,
                      startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** Spans recorded around the benchmark's calls into the engine's public
  * API, kept in memory and written out when the run ends. Recording is
  * off unless [[enable]] was called; [[span]] then only runs its body. */
object Trace {
  /** Spark local property that marks jobs submitted from the serving lane. */
  val LaneKey = "perfbench.lane"
  /** Call-site marker of jobs the serving layer submits. */
  val ServeCallSite = "graft.streaming.Serve"

  @volatile private var on = false
  private val nextId = new AtomicLong(1)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Long, String, Long)]] {
    override def initialValue(): List[(Long, String, Long)] = Nil
  }
  private val originNs = System.nanoTime()
  private val originUs = System.currentTimeMillis() * 1000L

  def enable(): Unit = on = true

  /** Stop recording and forget every span. */
  def reset(): Unit = { on = false; done.clear() }
  def enabled: Boolean = on

  /** Epoch microseconds from the monotonic clock. */
  def nowUs: Long = originUs + (System.nanoTime() - originNs) / 1000L

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId.getAndIncrement()
      val parent = stack.get.headOption.map(_._1).getOrElse(0L)
      val t0 = nowUs
      stack.set((id, name, t0) :: stack.get)
      try body
      finally {
        stack.set(stack.get.tail)
        done.add(Span(id, parent, name, "main", t0, nowUs))
      }
    }

  /** Record a span whose interval was measured elsewhere (a request timed
    * from its due time, or a phase bounded by listener events). */
  def record(name: String, startUs: Long, endUs: Long, lane: String = "main",
             parent: Long = 0L): Long =
    if (!on) 0L
    else {
      val id = nextId.getAndIncrement()
      done.add(Span(id, parent, name, lane, startUs, endUs))
      id
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(s => (s.startUs, s.id))

  /** Self time of every span: its duration minus the union of the parts
    * of its interval that its children cover. Children may overlap one
    * another (concurrent calls) and may run past their parent's end. */
  def selfTimes(all: Seq[Span]): Map[Long, Long] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = unionLength(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs))))
      s.id -> (s.durUs - covered)
    }.toMap
  }

  /** Total length of the union of half-open intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.filter(p => p._2 > p._1).sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Counts from Spark's own listeners, kept per job, stage, SQL execution
  * and streaming micro-batch, with their times, so they can be attributed
  * to the span they ran under once the run ends. */
final class Recorder extends SparkListener {
  final class StageRec(val stageId: Int) {
    var jobId = -1
    var submitMs = 0L
    var endMs = 0L
    var tasks = 0L
    var failedTasks = 0L
    var cpuNs = 0L
    var runMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var inputBytes = 0L
    var recordsWritten = 0L
    var bytesWritten = 0L
  }
  final case class JobRec(jobId: Int, startMs: Long, lane: String, execId: Long, stageIds: Seq[Int])
  final case class ExecRec(id: Long, startMs: Long, endMs: Long, qeId: Option[Long])
  final case class QeRec(id: Long, planningMs: Double, exchanges: Int, filesScanned: Long,
                         outputPath: Option[String])
  final case class Progress(startMs: Long, durations: Map[String, Long], inputRows: Long,
                            name: String)

  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()
  private val execStarts = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]()
  val execs = new ConcurrentLinkedQueue[ExecRec]()
  val qes = new ConcurrentLinkedQueue[QeRec]()
  val progress = new ConcurrentLinkedQueue[Progress]()

  private def stage(id: Int) = stages.computeIfAbsent(id, i => new StageRec(i))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    // the serving layer's HTTP dispatcher thread inherits no local
    // properties, so its jobs are recognised by their call site
    val lane = props.flatMap(p => Option(p.getProperty(Trace.LaneKey)))
      .orElse(e.stageInfos.find(_.details.contains(Trace.ServeCallSite)).map(_ => "serve"))
      .getOrElse("main")
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(_.toLongOption).getOrElse(-1L)
    e.stageIds.foreach(s => stage(s).synchronized(stage(s).jobId = e.jobId))
    jobs.add(JobRec(e.jobId, e.time, lane, exec, e.stageIds))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = stage(e.stageInfo.stageId)
    s.synchronized(s.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stage(e.stageInfo.stageId)
    s.synchronized {
      s.endMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
      if (s.submitMs == 0L) s.submitMs = e.stageInfo.submissionTime.getOrElse(s.endMs)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stage(e.stageId)
    val m = e.taskMetrics
    s.synchronized {
      s.tasks += 1
      if (!e.taskInfo.successful) s.failedTasks += 1
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.runMs += m.executorRunTime
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inputBytes += m.inputMetrics.bytesRead
        s.recordsWritten += m.outputMetrics.recordsWritten
        s.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execStarts.put(s.executionId, s.time)
    case x: SparkListenerSQLExecutionEnd =>
      val st = Option(execStarts.remove(x.executionId)).map(_.longValue).getOrElse(x.time)
      execs.add(ExecRec(x.executionId, st, x.time,
        org.apache.spark.sql.perfbench.SqlEvents.queryExecutionId(x)))
    case _ => ()
  }

  /** SQL-level listener: planning time, exchanges, files scanned and the
    * output path of a write, keyed by the execution id. */
  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qes.add(describe(qe))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      qes.add(describe(qe))
  }

  private def describe(qe: QueryExecution): QeRec = {
    val phases = qe.tracker.phases
    val planningMs = phases.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
    val out = qe.analyzed.collectFirst { case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString }
    val plan = scala.util.Try(qe.executedPlan).toOption
    QeRec(qe.id, planningMs, plan.map(Recorder.exchanges).getOrElse(0),
      plan.map(Recorder.filesScanned).getOrElse(0L), out)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(event: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(event: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(event: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = event.progress
      val start = scala.util.Try(java.time.Instant.parse(p.timestamp).toEpochMilli)
        .getOrElse(System.currentTimeMillis())
      progress.add(Progress(start, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows, Option(p.name).getOrElse("")))
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
}

object Recorder {
  /** Every node of a physical plan, looking through adaptive wrappers,
    * query stages and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children ++ p.subqueries
    }
    p +: inner.flatMap(nodes)
  }

  def exchanges(p: SparkPlan): Int = nodes(p).count(_.isInstanceOf[ShuffleExchangeLike])

  def filesScanned(p: SparkPlan): Long =
    nodes(p).flatMap(_.metrics.get("numFiles")).map(_.value).sum
}
