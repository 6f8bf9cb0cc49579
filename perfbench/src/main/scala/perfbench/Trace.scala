package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: a call from the benchmark into one layer. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
                      endNs: Long, startMs: Long, endMs: Long)

/** Per-span counters, keyed by span id (-1: work no span was open for). */
final class Counters {
  private val bySpan = mutable.HashMap[Int, mutable.HashMap[String, Double]]()
  private def of(span: Int) = bySpan.getOrElseUpdate(span, mutable.HashMap())
  def add(span: Int, key: String, v: Double): Unit = synchronized {
    val m = of(span); m(key) = m.getOrElse(key, 0.0) + v
  }
  def max(span: Int, key: String, v: Double): Unit = synchronized {
    val m = of(span); m(key) = math.max(m.getOrElse(key, 0.0), v)
  }
  def snapshot: Map[Int, Map[String, Double]] = synchronized {
    bySpan.map { case (k, v) => k -> v.toMap }.toMap
  }
}

/** Records spans in memory. The open span's id rides on a Spark local
  * property, so every job the client thread submits (and the stages and
  * tasks of that job) is attributed to the innermost open span exactly. */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer[Span]()
  val counters = new Counters
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val prev = sc.getLocalProperty(Collector.SpanKey)
    sc.setLocalProperty(Collector.SpanKey, id.toString)
    stack = id :: stack
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      val ms1 = System.currentTimeMillis()
      stack = stack.tail
      sc.setLocalProperty(Collector.SpanKey, prev)
      spans += Span(id, parent, name, t0, t1, ms0, ms1)
    }
  }

  /** Id of the span that contains wall-clock time `ms` most tightly. */
  def spanAt(ms: Long): Int = {
    var best = -1
    var bestStart = Long.MinValue
    spans.foreach { s =>
      if (s.startMs <= ms && ms <= s.endMs &&
        (s.startMs > bestStart || (s.startMs == bestStart && s.id > best))) {
        best = s.id; bestStart = s.startMs
      }
    }
    best
  }
}

object Collector {
  val SpanKey = "perfbench.span"

  /** Engine kernel expressions in a physical plan: static calls into the
    * engine's objects plus the engine's own expression classes. AQE plans
    * are read through their final plan; a reused exchange is a leaf, so
    * shared work is counted once. */
  def kernelNodes(plan: SparkPlan): Int = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
    }
    def isKernel(e: Expression): Boolean = e match {
      case s: StaticInvoke => s.staticObject.getName.startsWith("graft.")
      case other => other.getClass.getName.startsWith("graft.")
    }
    nodes(plan).map(_.expressions.map(_.collect { case e if isKernel(e) => 1 }.size).sum).sum
  }
}

/** Spark listener for the traced run: scheduler, task, shuffle and input
  * counts per span, plus Catalyst phase times and kernel-node counts of
  * every query execution. Untraced runs never register it. */
final class Collector(counters: Counters) extends SparkListener
  with QueryExecutionListener {
  import Collector._

  private val stageSpan = mutable.HashMap[Int, Int]()
  /** (time the query was planned, analysis ms, optimizer ms, planning ms,
    * kernel nodes): attributed to spans by time once the run ends, because
    * query callbacks carry no local properties. */
  val plans = mutable.ArrayBuffer[(Long, Double, Double, Double, Int)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      .map(_.toInt).getOrElse(-1)
    e.stageIds.foreach(stageSpan(_) = span)
    counters.add(span, "jobs", 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    counters.add(stageSpan.getOrElse(e.stageInfo.stageId, -1), "stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val span = stageSpan.getOrElse(e.stageId, -1)
    val info = e.taskInfo
    counters.add(span, "tasks", 1)
    counters.max(span, "max_task_ms", info.duration.toDouble)
    val m = e.taskMetrics
    if (m != null) {
      counters.add(span, "task_cpu_ns", m.executorCpuTime.toDouble)
      counters.add(span, "gc_ms", m.jvmGCTime.toDouble)
      val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime
      counters.add(span, "scheduler_delay_ms", math.max(0L, delay).toDouble)
      counters.add(span, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      counters.add(span, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      counters.add(span, "fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      counters.add(span, "spill_bytes",
        (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      counters.add(span, "bytes_read", m.inputMetrics.bytesRead.toDouble)
    }
  }

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(name: String): Double = ph.get(name).map(_.durationMs.toDouble).getOrElse(0.0)
    val at = ph.get("planning").orElse(ph.get("analysis"))
      .map(_.startTimeMs).getOrElse(System.currentTimeMillis())
    val kernels = try kernelNodes(qe.executedPlan) catch { case _: Exception => 0 }
    synchronized {
      plans += ((at, ms("analysis"), ms("optimization"), ms("planning"), kernels))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  /** Moves the query-phase figures onto the spans that were open then. */
  def attributePlans(tracer: Tracer): Unit = synchronized {
    plans.foreach { case (at, analysis, opt, planning, kernels) =>
      val span = tracer.spanAt(at)
      counters.add(span, "queries", 1)
      counters.add(span, "analysis_ms", analysis)
      counters.add(span, "optimizer_ms", opt)
      counters.add(span, "planning_ms", planning)
      counters.add(span, "kernel_nodes", kernels)
    }
    plans.clear()
  }
}
