package graftbench

import java.util.Properties
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a timed call into a layer. Times are epoch microseconds. */
final case class Span(trace: String, id: Int, parent: Int, name: String,
    start: Long, end: Long) {
  def dur: Long = end - start
}

/** In-memory span recorder. Spans are kept until the run ends and written
  * out then, so recording costs a clock read and an append.
  */
final class Tracer {
  private val baseEpochUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private val stack = mutable.Stack.empty[Int]
  var trace: String = ""

  def nowUs: Long = baseEpochUs + (System.nanoTime() - baseNs) / 1000L

  def span[T](name: String)(body: => T): T = {
    val id = { nextId += 1; nextId }
    val parent = stack.headOption.getOrElse(0)
    val start = nowUs
    stack.push(id)
    try body
    finally {
      stack.pop()
      spans += Span(trace, id, parent, name, start, nowUs)
    }
  }

  /** Adds a span measured elsewhere (Spark events), under the innermost
    * recorded span of `trace` that contains its start.
    */
  def adopt(trace: String, name: String, start: Long, end: Long): Unit = {
    val enclosing = spans.filter(s => s.trace == trace && s.start <= start &&
      start <= s.end && !s.name.startsWith("spark."))
    val parent = if (enclosing.isEmpty) 0 else enclosing.minBy(_.dur).id
    nextId += 1
    spans += Span(trace, nextId, parent, name, start, math.max(start, end))
  }
}

/** Counters taken from Spark's public listener APIs. A `SparkListener`
  * attributes jobs, stages and task metrics to the operation whose trace id
  * was set as a local property; a `QueryExecutionListener` reads the
  * planning-phase times and the final physical plan's SQL metrics, which the
  * harness attributes to an operation by time (ops run one at a time).
  */
final class LayerListener extends SparkListener with QueryExecutionListener {
  final case class Job(trace: String, start: Long, var end: Long)
  final case class Plan(phases: Seq[(String, Long, Long)],
      counts: Map[String, Double]) {
    def start: Long = if (phases.isEmpty) 0L else phases.map(_._2).min
  }

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val plans = mutable.ArrayBuffer.empty[Plan]
  private val stageTrace = mutable.Map.empty[Int, String]
  val counters = mutable.Map.empty[(String, String), Double]

  private def traceOf(p: Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(LayerListener.traceKey)))
      .getOrElse("")

  private def add(trace: String, k: String, v: Double): Unit =
    counters((trace, k)) = counters.getOrElse((trace, k), 0.0) + v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val t = traceOf(e.properties)
    jobs(e.jobId) = Job(t, e.time * 1000L, e.time * 1000L)
    add(t, "jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time * 1000L)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized { stageTrace(e.stageInfo.stageId) = traceOf(e.properties) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { add(stageTrace.getOrElse(e.stageInfo.stageId, ""), "stages", 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = stageTrace.getOrElse(e.stageId, "")
    val m = e.taskMetrics
    if (m != null) {
      add(t, "tasks", 1)
      add(t, "executor_run_s", m.executorRunTime / 1e3)
      add(t, "executor_cpu_s", m.executorCpuTime / 1e9)
      add(t, "gc_s", m.jvmGCTime / 1e3)
      add(t, "scan.input_bytes", m.inputMetrics.bytesRead.toDouble)
      add(t, "scan.input_records", m.inputMetrics.recordsRead.toDouble)
      if (m.inputMetrics.recordsRead > 0) add(t, "scan.tasks", 1)
      add(t, "shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add(t, "shuffle.records", m.shuffleWriteMetrics.recordsWritten.toDouble)
      add(t, "shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add(t, "spill.bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add(t, "sources.records_written", m.outputMetrics.recordsWritten.toDouble)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val phases = qe.tracker.phases.toSeq.map { case (k, p) =>
      (k, p.startTimeMs * 1000L, p.endTimeMs * 1000L) }
    val c = LayerListener.planCounts(qe.executedPlan)
    synchronized { plans += Plan(phases, c) }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}

object LayerListener {
  /** Local property carrying the current operation's trace id. */
  val traceKey = "graftbench.trace"

  /** Every node of a final (post-execution) physical plan. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case _ => (p +: p.children.flatMap(nodes)) ++ p.subqueries.flatMap(nodes)
  }

  /** Exchange counts and scan/fan-out SQL metrics of one final plan. An
    * exchange is a fan-out when its origin is REPARTITION_BY_NUM (the
    * origin `Tables`' scan fan-out gives it); every other shuffle exchange
    * is algorithmic.
    */
  def planCounts(plan: SparkPlan): Map[String, Double] = {
    val ns = nodes(plan)
    val ex = ns.collect { case s: ShuffleExchangeExec => s }
    val (fan, alg) = ex.partition(_.shuffleOrigin == REPARTITION_BY_NUM)
    def metric(p: SparkPlan, k: String): Double =
      p.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
    val scans = ns.collect { case s: FileSourceScanExec => s }
    Map(
      "exchanges.fanout" -> fan.size.toDouble,
      "exchanges.algorithmic" -> alg.size.toDouble,
      "shuffle.fanout_write_bytes" -> fan.map(metric(_, "dataSize")).sum,
      "scan.time_s" -> scans.map(metric(_, "scanTime")).sum / 1e3)
  }
}
