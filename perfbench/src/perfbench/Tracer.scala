package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

final case class SpanRec(op: Int, id: Int, parent: Int, depth: Int,
                         layer: String, name: String, start: Double,
                         var end: Double)
final case class JobRec(op: Int, jobId: Int, start: Double, var end: Double)
final case class TaskRec(op: Int, launch: Double, finish: Double,
                         cpuMs: Double, runMs: Double, gcMs: Double,
                         shuffleRead: Long, shuffleWrite: Long,
                         input: Long, output: Long, spill: Long)
final case class QueryRec(op: Int, phases: Map[String, (Double, Double)],
                          nodes: Int, filesRead: Long, scanRows: Long,
                          joins: Seq[String])

/** The traced run's recorder, built only from outside graft: a
  * SparkListener for jobs, stages and task metrics, a
  * QueryExecutionListener for Catalyst's planning phases and scan
  * metrics, and the harness's own spans around every call into a
  * layer. Everything stays in memory until the run ends.
  *
  * Jobs and tasks are charged to an operation through a Spark local
  * property (inherited by threads the operation starts); query events
  * are charged to the operation open when they are delivered, which
  * is exact because the listener bus is drained when tracing is
  * switched on (events of untraced work arrive while it is off) and
  * at the end of every traced operation. */
final class Tracer(spark: SparkSession) extends SparkListener {
  @volatile private var on = false
  def enabled: Boolean = on
  def enable(traced: Boolean): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    on = traced
  }
  private val OpKey = "perfbench.op"
  @volatile private var currentOp = -1
  private var nextSpan = 0
  private val stack = mutable.Stack[SpanRec]()

  val spans = ArrayBuffer[SpanRec]()
  val jobs = ArrayBuffer[JobRec]()
  val tasks = ArrayBuffer[TaskRec]()
  val queries = ArrayBuffer[QueryRec]()
  val stageCount = mutable.Map[Int, Int]().withDefaultValue(0)
  /** Operations whose spans count towards the per-layer figures. */
  val tracedOps = mutable.LinkedHashMap[Int, String]()
  private val stageOp = mutable.Map[Int, Int]()
  private val jobById = mutable.Map[Int, JobRec]()

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (enabled && currentOp >= 0) recordQuery(qe)
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      if (enabled && currentOp >= 0) recordQuery(qe)
  })

  def beginOp(id: Int, kind: String, t0: Double, recording: Boolean): Unit =
    if (enabled) {
      currentOp = id
      if (recording) tracedOps(id) = kind
      spark.sparkContext.setLocalProperty(OpKey, id.toString)
      open("bench", kind, t0)
    }

  def endOp(id: Int, t1: Double): Unit = if (enabled) {
    PerfbenchBus.drain(spark.sparkContext)
    while (stack.nonEmpty) stack.pop().end = t1
    spark.sparkContext.setLocalProperty(OpKey, null)
    currentOp = -1
  }

  def span[T](layer: String, name: String)(f: => T): T =
    if (!enabled || currentOp < 0) f
    else {
      val s = open(layer, name, Clock.nowMs)
      try f finally { s.end = Clock.nowMs; stack.pop() }
    }

  private def open(layer: String, name: String, t: Double): SpanRec = {
    val parent = stack.headOption
    val s = SpanRec(currentOp, nextSpan, parent.map(_.id).getOrElse(-1),
      stack.size, layer, name, t, Double.NaN)
    nextSpan += 1
    spans.synchronized(spans += s)
    stack.push(s)
    s
  }

  private def opOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(OpKey)))
      .flatMap(_.toIntOption).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    val op = opOf(e.properties)
    val j = JobRec(op, e.jobId, e.time.toDouble, Double.NaN)
    synchronized {
      jobById(e.jobId) = j
      e.stageIds.foreach(s => stageOp(s) = op)
    }
    jobs.synchronized(jobs += j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    synchronized(jobById.get(e.jobId)).foreach(_.end = e.time.toDouble)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (enabled) synchronized {
      val op = stageOp.getOrElse(e.stageInfo.stageId, -1)
      stageCount(op) += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) {
    val op = synchronized(stageOp.getOrElse(e.stageId, -1))
    val m = e.taskMetrics
    val i = e.taskInfo
    val t =
      if (m == null) TaskRec(op, i.launchTime.toDouble, i.finishTime.toDouble,
        0, 0, 0, 0, 0, 0, 0, 0)
      else TaskRec(op, i.launchTime.toDouble, i.finishTime.toDouble,
        m.executorCpuTime / 1e6, m.executorRunTime.toDouble,
        m.jvmGCTime.toDouble,
        m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    tasks.synchronized(tasks += t)
  }

  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case _: ReusedExchangeExec => Nil
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  private def recordQuery(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.map { case (k, v) =>
      k -> ((v.startTimeMs.toDouble, v.endTimeMs.toDouble)) }
    val nodes = qe.optimizedPlan.collect { case n => n }.size
    var files = 0L
    var rows = 0L
    val plan = planNodes(qe.executedPlan)
    plan.foreach { n =>
      if (n.nodeName.contains("Scan")) {
        n.metrics.get("numFiles").foreach(m => files += m.value)
        n.metrics.get("numOutputRows").foreach(m => rows += m.value)
      }
    }
    val joins = plan.map(_.nodeName).filter(_.endsWith("Join"))
    queries.synchronized(queries += QueryRec(currentOp, phases, nodes, files, rows, joins))
  }
}
