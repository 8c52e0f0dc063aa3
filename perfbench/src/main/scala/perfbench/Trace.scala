package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region of the benchmark's own code around a call into a
  * layer. The layer is the name's prefix before the first dot. */
final case class Span(id: Int, name: String, parent: Int, op: Int, startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def durNs: Long = endNs - startNs
}

object Span {
  /** Self time of every span: its duration minus the part covered by its
    * direct children. Spans come from one thread, so children of one
    * parent never overlap. */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val childNs = spans.filter(_.parent >= 0).groupMapReduce(_.parent)(_.durNs)(_ + _)
    spans.map(s => s.id -> (s.durNs - childNs.getOrElse(s.id, 0L))).toMap
  }
}

/** Spark work attributed to one span: jobs started while it was the
  * innermost open span, and the stages and tasks of those jobs. */
final class SparkWork {
  var jobs, stages, tasks, failedTasks = 0L
  var taskRunMs, taskCpuNs, gcMs, deserMs, shuffleReadB, shuffleWriteB, spillB = 0L
  var jobWallMs, jobIdleMs = 0L
  var firstJobStartMs = Long.MaxValue
  var actions, cachedActions = 0L
  /** Output written by tasks; each task that wrote bytes wrote one file. */
  var recordsWritten, bytesWritten, filesWritten = 0L

  def add(o: SparkWork): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks
    taskRunMs += o.taskRunMs; taskCpuNs += o.taskCpuNs; gcMs += o.gcMs; deserMs += o.deserMs
    shuffleReadB += o.shuffleReadB; shuffleWriteB += o.shuffleWriteB; spillB += o.spillB
    jobWallMs += o.jobWallMs; jobIdleMs += o.jobIdleMs
    firstJobStartMs = math.min(firstJobStartMs, o.firstJobStartMs)
    actions += o.actions; cachedActions += o.cachedActions
    recordsWritten += o.recordsWritten; bytesWritten += o.bytesWritten
    filesWritten += o.filesWritten
  }
}

/** Records spans around calls into graft and, when tracing, attributes
  * Spark's jobs to them. With `enabled = false` a span only runs its body:
  * the untraced run registers no listener and keeps no spans.
  *
  * Jobs are tied to spans through the `perfbench.span` local property,
  * which the job-start event carries. Query-execution events carry no
  * property; they are assigned to the span that is closing when the
  * listener bus is drained, which is exact for one client thread because
  * every span drains the bus before it closes. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0
  private var nextOp = 0
  private var currentOp = -1
  private var sc: SparkContext = _
  private var collector: Collector = _
  private var work: Map[Int, SparkWork] = Map.empty
  /** Nanoseconds spent in tracing bookkeeping and bus drains. */
  private var overheadNs = 0L

  def attach(spark: org.apache.spark.sql.SparkSession): Unit = if (enabled) {
    sc = spark.sparkContext
    collector = new Collector
    sc.addSparkListener(collector)
    spark.listenerManager.register(collector)
  }

  private def drain(): Unit =
    if (collector != null) org.apache.spark.perfbench.BusBridge.drain(sc)

  /** Starts a new operation (window, interaction, query); spans opened
    * inside carry its id. */
  def op[T](name: String)(body: => T): T = {
    val outer = currentOp
    currentOp = nextOp
    nextOp += 1
    try span(name)(body) finally currentOp = outer
  }

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val t0 = System.nanoTime()
    val id = nextId
    nextId += 1
    val parent = if (stack.isEmpty) -1 else stack.top
    val prevProp = if (sc != null) sc.getLocalProperty("perfbench.span") else null
    if (sc != null) sc.setLocalProperty("perfbench.span", id.toString)
    stack.push(id)
    val op = currentOp
    val start = System.nanoTime()
    overheadNs += start - t0
    try body
    finally {
      val end = System.nanoTime()
      stack.pop()
      drain()
      if (collector != null) collector.closeSpan(id)
      if (sc != null) sc.setLocalProperty("perfbench.span", prevProp)
      spans += Span(id, name, parent, op, start, end)
      overheadNs += System.nanoTime() - end
    }
  }

  /** Stops collecting: drains the bus and unregisters the listeners. */
  def finish(spark: org.apache.spark.sql.SparkSession): Unit = if (collector != null) {
    drain()
    work = collector.all
    sc.removeSparkListener(collector)
    spark.listenerManager.unregister(collector)
    collector = null
  }

  def all: Seq[Span] = spans.toSeq
  /** The span closed last. */
  def last: Span = spans.last
  def overheadSeconds: Double = overheadNs / 1e9

  /** Spark work of the closed span `id` alone, not its children. */
  def workOf(id: Int): SparkWork =
    (if (collector != null) collector.all else work).getOrElse(id, new SparkWork)

  /** Spark work of the closed span `id` and every span nested in it. */
  def workUnder(id: Int): SparkWork = {
    val kids = spans.groupBy(_.parent)
    val all = if (collector != null) collector.all else work
    val out = new SparkWork
    def go(i: Int): Unit = { all.get(i).foreach(out.add); kids.getOrElse(i, Nil).foreach(s => go(s.id)) }
    go(id)
    out
  }
}

/** Listener that aggregates job, stage and task metrics per span. */
private final class Collector extends SparkListener with QueryExecutionListener {
  private val perSpan = mutable.Map.empty[Int, SparkWork]
  private val jobSpan = mutable.Map.empty[Int, Int]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobStages = mutable.Map.empty[Int, Seq[Int]]
  /** Task (launch, finish) intervals per stage, for a job's idle time. */
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[(Long, Long)]]
  /** Query executions delivered since the last span closed. */
  private val pendingQe = mutable.ArrayBuffer.empty[QueryExecution]

  private def w(span: Int): SparkWork = perSpan.getOrElseUpdate(span, new SparkWork)

  def all: Map[Int, SparkWork] = synchronized(perSpan.toMap)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.span")))
      .map(_.toInt).getOrElse(-1)
    jobSpan(e.jobId) = span
    jobStart(e.jobId) = e.time
    jobStages(e.jobId) = e.stageIds
    e.stageIds.foreach(stageSpan(_) = span)
    val x = w(span)
    x.jobs += 1
    x.firstJobStartMs = math.min(x.firstJobStartMs, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val span = jobSpan.getOrElse(e.jobId, -1)
    val wall = e.time - jobStart.getOrElse(e.jobId, e.time)
    // busy time = the union of the job's task intervals
    val iv = jobStages.getOrElse(e.jobId, Nil).flatMap(s => stageTasks.remove(s).toSeq.flatten)
      .sortBy(_._1)
    var busy = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, f) =>
      if (s > curE) { if (curE > curS) busy += curE - curS; curS = s; curE = f }
      else curE = math.max(curE, f)
    }
    if (curE > curS) busy += curE - curS
    val x = w(span)
    x.jobWallMs += wall
    x.jobIdleMs += math.max(0L, wall - busy)
    jobStart.remove(e.jobId); jobStages.remove(e.jobId)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    w(stageSpan.getOrElse(e.stageInfo.stageId, -1)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val x = w(stageSpan.getOrElse(e.stageId, -1))
    x.tasks += 1
    if (!e.taskInfo.successful) x.failedTasks += 1
    stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
      ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      x.taskRunMs += m.executorRunTime
      x.taskCpuNs += m.executorCpuTime
      x.gcMs += m.jvmGCTime
      x.deserMs += m.executorDeserializeTime
      x.shuffleReadB += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      x.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      x.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      x.recordsWritten += m.outputMetrics.recordsWritten
      x.bytesWritten += m.outputMetrics.bytesWritten
      if (m.outputMetrics.bytesWritten > 0) x.filesWritten += 1
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { pendingQe += qe }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    synchronized { pendingQe += qe }

  /** Assigns the query executions delivered so far to the closing span. */
  def closeSpan(id: Int): Unit = synchronized {
    if (pendingQe.nonEmpty) {
      val x = w(id)
      pendingQe.foreach { qe =>
        val nodes = Collector.nodes(qe.executedPlan)
        x.actions += 1
        if (nodes.exists(_.isInstanceOf[InMemoryTableScanExec])) x.cachedActions += 1
      }
      pendingQe.clear()
    }
  }
}

private object Collector {
  /** Every node of an executed plan, through adaptive wrappers, query
    * stages and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}
