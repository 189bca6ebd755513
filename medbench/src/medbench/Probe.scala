package medbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.MedbenchHooks
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Work attributed to one span: the jobs, tasks and query executions Spark
  * ran while the span's local property was set on the calling thread.
  * `readyNs` is when the span could have started (a DAG task's inputs were
  * done); it equals `startNs` unless the caller says otherwise.
  */
final class Span(val id: Long, val layer: String, val name: String,
    val readyNs: Long, val startNs: Long) {
  @volatile var endNs: Long = 0L
  var jobs, tasks = 0L
  var cpuNs, gcMs, taskWaitMs, inputBytes, shuffleBytes, outputBytes = 0L
  var spillBytes, planNs, filesWritten, filesScanned, bytesScanned = 0L
  def wallNs: Long = endNs - startNs
}

/** One streaming micro-batch as its progress event reported it. */
final case class BatchProgress(rows: Long, durations: Map[String, Long])

/** The benchmark's listener. Always on: executor CPU of every task and the
  * progress of every streaming micro-batch (a `QueryProgressEvent` reaches
  * `onOtherEvent` for child sessions too). While tracing, it attributes
  * jobs, stages, task metrics and each finished SQL execution's planning
  * time and file counts to the span whose id the calling thread carried
  * in the `medbench.span` local property. Spans stay in memory until the
  * run reports them.
  */
final class Probe(sc: SparkContext) extends SparkListener {
  import Probe._

  val cpuNs = new LongAdder
  /** Jobs started inside the tracing window without a span. */
  val unattributedJobs = new LongAdder
  private val batches = mutable.ArrayBuffer.empty[BatchProgress]

  private val spans = new ConcurrentHashMap[Long, Span]()
  private val nextSpan = new AtomicLong(1)
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, java.lang.Long]()
  private val execSpan = new ConcurrentHashMap[Long, Span]()

  @volatile private var tracingOn = false
  @volatile private var windowMs = (Long.MaxValue, Long.MaxValue)

  def tracing: Boolean = tracingOn

  /** Forget all spans and start attributing work to new ones. */
  def startTracing(): Unit = {
    MedbenchHooks.drain(sc)
    spans.clear(); stageSpan.clear(); stageSubmitMs.clear(); execSpan.clear()
    unattributedJobs.reset()
    windowMs = (System.currentTimeMillis(), Long.MaxValue)
    tracingOn = true
  }

  /** Stop opening spans; wait until the work of the closed ones is counted. */
  def stopTracing(): Unit = {
    tracingOn = false
    windowMs = (windowMs._1, System.currentTimeMillis())
    MedbenchHooks.drain(sc)
  }

  private def inWindow(ms: Long): Boolean = ms >= windowMs._1 && ms <= windowMs._2

  /** Open a span of `layer` on the calling thread; pair with [[close]]. */
  def open(layer: String, name: String, readyNs: Long = -1L): Span = {
    val t0 = System.nanoTime()
    val s = new Span(nextSpan.getAndIncrement(), layer, name,
      if (readyNs < 0) t0 else readyNs, t0)
    spans.put(s.id, s)
    sc.setLocalProperty(SpanKey, s.id.toString)
    s
  }

  def close(s: Span): Unit = {
    s.endNs = System.nanoTime()
    sc.setLocalProperty(SpanKey, null)
  }

  /** Run `body` inside a new span of `layer`; a plain call when tracing is off. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!tracing) body
    else {
      val s = open(layer, name)
      try body finally close(s)
    }

  def allSpans: Seq[Span] = spans.values.asScala.toSeq.sortBy(_.id)

  def progress: Seq[BatchProgress] = batches.synchronized(batches.toSeq)

  private def spanOf(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey)))
      .flatMap(id => Option(spans.get(id.toLong)))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    spanOf(e.properties) match {
      case Some(s) =>
        s.synchronized(s.jobs += 1)
        e.stageInfos.foreach(si => stageSpan.put(si.stageId, s))
        Option(e.properties.getProperty("spark.sql.execution.id"))
          .foreach(x => execSpan.put(x.toLong, s))
      case None => if (inWindow(e.time)) unattributedJobs.increment()
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (stageSpan.containsKey(e.stageInfo.stageId)) e.stageInfo.submissionTime.foreach(t =>
      stageSubmitMs.put(e.stageInfo.stageId, java.lang.Long.valueOf(t)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.add(m.executorCpuTime)
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val submitted = Option(stageSubmitMs.get(e.stageId)).map(_.longValue)
          .getOrElse(e.taskInfo.launchTime)
        s.synchronized {
          s.tasks += 1
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.taskWaitMs += math.max(0L, e.taskInfo.launchTime - submitted)
          s.inputBytes += m.inputMetrics.bytesRead
          s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          s.outputBytes += m.outputMetrics.bytesWritten
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: StreamingQueryListener.QueryProgressEvent =>
      val pr = p.progress
      val d = pr.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      batches.synchronized(batches += BatchProgress(pr.numInputRows, d))
    case end: SparkListenerSQLExecutionEnd =>
      MedbenchHooks.queryExecution(end).foreach(onExecution(end.executionId, _))
    case _ =>
  }

  /** Planning time and scan/write file counts of one finished query
    * execution, for the span whose jobs carried its execution id.
    */
  private def onExecution(executionId: Long, qe: QueryExecution): Unit =
    Option(execSpan.get(executionId)).foreach { s =>
      val planNs = PlanPhases.flatMap(qe.tracker.phases.get).map(_.durationMs).sum * 1000000L
      val (scanned, scannedBytes, written) = fileCounts(qe.executedPlan)
      s.synchronized {
        s.planNs += planNs
        s.filesScanned += scanned
        s.bytesScanned += scannedBytes
        s.filesWritten += written
      }
    }
}

object Probe {
  val SpanKey = "medbench.span"

  private val PlanPhases = Seq("analysis", "optimization", "planning")

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  /** (files scanned, bytes scanned, files written) of an executed plan. */
  def fileCounts(plan: SparkPlan): (Long, Long, Long) = {
    var files, bytes, written = 0L
    nodes(plan).foreach {
      case s: FileSourceScanExec =>
        files += metric(s, "numFiles"); bytes += metric(s, "filesSize")
      case w: DataWritingCommandExec =>
        written += w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
      case _ =>
    }
    (files, bytes, written)
  }
}

/** The spans of one traced run and its wall time. */
final case class TraceTotals(wallS: Double, spans: Seq[Span]) {
  def perOp(names: Seq[String], f: Span => Long): Double = {
    val xs = spans.filter(s => names.contains(s.name))
    if (xs.isEmpty) 0.0 else xs.map(f).sum.toDouble / xs.size
  }
  def planS: Double = spans.map(_.planNs).sum / 1e9
}
