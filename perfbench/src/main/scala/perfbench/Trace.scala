package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, LogicalPlan, Window}
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are `System.nanoTime` values; `parent`
  * is 0 for the root. */
final case class Span(id: Int, parent: Int, name: String,
    startNs: Long, endNs: Long, attrs: Map[String, Any])

/** In-memory span store, written out once when the run ends. */
final class Tracer {
  private val buf = mutable.ArrayBuffer.empty[Span]
  // tracker phases carry wall-clock milliseconds; map them onto nanoTime
  private val nano0 = System.nanoTime()
  private val wall0 = System.currentTimeMillis()

  def add(parent: Int, name: String, startNs: Long, endNs: Long,
      attrs: Map[String, Any] = Map.empty): Int = {
    val id = buf.size + 1
    buf += Span(id, parent, name, startNs, endNs, attrs)
    id
  }

  /** Sets the end of a span opened with an unknown end. */
  def close(id: Int, endNs: Long): Unit = buf(id - 1) = buf(id - 1).copy(endNs = endNs)

  def msToNs(ms: Long): Long = nano0 + (ms - wall0) * 1000000L

  def spans: Seq[Span] = buf.toSeq
}

/** Task and job counters from the listener bus; a delta of two
  * snapshots around a span is that span's work (one client at a time). */
final class ExecCounters extends SparkListener {
  private val names = Seq("jobs", "tasks", "task_cpu_ns", "task_run_ms", "gc_ms",
    "shuffle_write_b", "shuffle_read_b", "spill_b", "input_b", "input_rows")
  private val c = names.map(_ -> new AtomicLong).toMap

  override def onJobStart(e: SparkListenerJobStart): Unit = c("jobs").incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c("tasks").incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c("task_cpu_ns").addAndGet(m.executorCpuTime)
      c("task_run_ms").addAndGet(m.executorRunTime)
      c("gc_ms").addAndGet(m.jvmGCTime)
      c("shuffle_write_b").addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c("shuffle_read_b").addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c("spill_b").addAndGet(m.diskBytesSpilled)
      c("input_b").addAndGet(m.inputMetrics.bytesRead)
      c("input_rows").addAndGet(m.inputMetrics.recordsRead)
    }
  }

  def snapshot(): Map[String, Long] = c.map { case (k, v) => k -> v.get() }
}

/** What the benchmark keeps of one finished query execution. */
final case class PlanSummary(
    /** Join/Window/Generate counts and aggregate functions by name, over
      * the optimized plan and its subqueries. */
    signature: Map[String, Int],
    /** Exchange nodes of the final (post-AQE) physical plan. */
    exchanges: Int,
    /** analysis/optimization/planning as wall-clock (start, end) ms. */
    phases: Map[String, (Long, Long)])

object PlanSummary extends AdaptiveSparkPlanHelper {

  def signature(plan: LogicalPlan): Map[String, Int] = {
    val names = plan.collectWithSubqueries { case p => p }.flatMap { p =>
      val node = p match {
        case _: Join => Seq("Join")
        case _: Window => Seq("Window")
        case _: Generate => Seq("Generate")
        case _ => Nil
      }
      node ++ p.expressions.flatMap(_.collect {
        case a: AggregateExpression => "agg:" + a.aggregateFunction.prettyName
      })
    }
    names.groupBy(identity).map { case (k, v) => k -> v.size }
  }

  def of(qe: QueryExecution): PlanSummary = PlanSummary(
    signature(qe.optimizedPlan),
    collectWithSubqueries(qe.executedPlan) { case e: Exchange => e }.size,
    qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) })

  /** Signature entries of `reference` that `candidate` lacks. */
  def missing(reference: Map[String, Int], candidate: Map[String, Int]): Map[String, Int] =
    reference.collect {
      case (k, n) if candidate.getOrElse(k, 0) < n => k -> (n - candidate.getOrElse(k, 0))
    }
}

/** Collects a [[PlanSummary]] per finished query execution. */
final class PlanCapture extends QueryExecutionListener {
  private val seen = new ConcurrentLinkedQueue[PlanSummary]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    seen.add(PlanSummary.of(qe))

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Summaries received since the last call, oldest first. */
  def drain(): Seq[PlanSummary] = {
    val out = seen.asScala.toSeq
    seen.clear()
    out
  }
}

/** Spark's rule metering, restricted to graft's own optimizer rules. */
object RuleMeter {
  private val Line = """^\s*(\S+)\s+(\d+)\s*/\s*(\d+)\s+(\d+)\s*/\s*(\d+)\s*$""".r

  def reset(): Unit = RuleExecutor.resetMetrics()

  /** (total ns, effective runs, runs) of the `graft.plans` rules since
    * the last reset. */
  def graftRules(): (Long, Long, Long) =
    RuleExecutor.dumpTimeSpent().split('\n').toSeq.collect {
      case Line(rule, _, ns, eff, runs) if rule.startsWith("graft.plans.") =>
        (ns.toLong, eff.toLong, runs.toLong)
    }.foldLeft((0L, 0L, 0L)) { case ((a, b, c), (x, y, z)) => (a + x, b + y, c + z) }
}
