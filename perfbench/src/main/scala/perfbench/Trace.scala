package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

/** One timed interval of a run: the run itself, a pass, a unit, or a
  * phase of a unit. Counters are summed from the task metrics of every
  * job that ran while this span was the innermost open one. */
final class Span(val id: Int, val parent: Int, val name: String, val kind: String) {
  var startNs: Long = System.nanoTime()
  var endNs: Long = startNs
  val counters = new ConcurrentHashMap[String, Double]()

  def seconds: Double = (endNs - startNs) / 1e9
  def add(key: String, v: Double): Unit = counters.merge(key, v, (a: Double, b: Double) => a + b)
  def max(key: String, v: Double): Unit = counters.merge(key, v, (a: Double, b: Double) => math.max(a, b))
  def counter(key: String): Double = counters.getOrDefault(key, 0.0)
}

/** Span tree plus a SparkListener that attributes jobs, stages and tasks
  * to the span named by the `perfbench.span` local property.
  *
  * Spans are always timed; the listener and the job tagging are only
  * active while [[attach]]ed, so an untraced pass runs exactly the code
  * a user would run.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[Int, Span]()
  private val open = mutable.Stack.empty[Span]
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  @volatile private var attached = false
  val Prop = "perfbench.span"

  def all: Seq[Span] = spans.toSeq
  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** Time `body` as a child of the innermost open span. */
  def span[T](name: String, kind: String)(body: => T): (T, Span) = {
    val parent = if (open.isEmpty) -1 else open.top.id
    val s = new Span(spans.size, parent, name, kind)
    spans += s
    byId.put(s.id, s)
    open.push(s)
    if (attached) sc.setLocalProperty(Prop, s.id.toString)
    s.startNs = System.nanoTime()
    try (body, s)
    finally {
      s.endNs = System.nanoTime()
      open.pop()
      if (attached) sc.setLocalProperty(Prop, if (open.isEmpty) null else open.top.id.toString)
    }
  }

  def attach(): Unit = { sc.addSparkListener(this); attached = true }

  /** Detach after every event posted so far has been counted. */
  def detach(): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(this)
    attached = false
    sc.setLocalProperty(Prop, null)
  }

  private def spanOf(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty(Prop))).flatMap(id => Option(byId.get(id.toInt)))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    spanOf(e.properties).foreach { s =>
      s.add("jobs", 1)
      e.stageInfos.foreach(si => stageSpan.put(si.stageId, s))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    spanOf(e.properties).foreach(s => stageSpan.put(e.stageInfo.stageId, s))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stageSpan.get(e.stageId)
    val m = e.taskMetrics
    if (s != null && m != null) {
      val mb = 1024.0 * 1024.0
      s.add("tasks", 1)
      s.add("run_s", m.executorRunTime / 1e3)
      s.add("cpu_s", m.executorCpuTime / 1e9)
      s.add("gc_s", m.jvmGCTime / 1e3)
      s.add("shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / mb)
      s.add("shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / mb)
      s.add("input_mb", m.inputMetrics.bytesRead / mb)
      s.add("spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / mb)
      s.add("rows_written", m.outputMetrics.recordsWritten.toDouble)
      s.max("peak_mem_mb", m.peakExecutionMemory / mb)
    }
  }
}

/** Shape of a physical plan, read after execution so that adaptive plans
  * show their final form. Counts include subqueries and the plans inside
  * query stages; load cannot move them. */
object PlanShape extends AdaptiveSparkPlanHelper {
  def of(plan: SparkPlan): Map[String, Double] = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    Map(
      "nodes" -> nodes.size.toDouble,
      "exchanges" -> nodes.count(_.isInstanceOf[Exchange]).toDouble,
      "scans" -> nodes.count(_.nodeName.contains("Scan")).toDouble,
      "bnlj_or_cartesian" -> nodes.count {
        case _: BroadcastNestedLoopJoinExec | _: CartesianProductExec => true
        case _ => false
      }.toDouble)
  }
}
