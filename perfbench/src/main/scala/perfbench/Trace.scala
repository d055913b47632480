package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.ReusedSubqueryExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Process-wide readings that cost nothing to take, so every run takes
  * them: process CPU, GC time and the live heap. */
object Proc {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNanos: Long = os.getProcessCpuTime

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  /** Heap held after full collections: what the session keeps alive. The
    * pauses let Spark's ContextCleaner release what the first collections
    * found unreachable (broadcast and shuffle blocks) before the last. */
  def liveHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** The traced run's instruments, attached only while a traced round runs:
  * a [[SparkListener]] for jobs, stages and task metrics, a
  * [[QueryExecutionListener]] for Catalyst's own phase timings
  * (`QueryPlanningTracker`) and executed-plan shape, and Spark's codegen
  * counters. [[snapshot]] returns cumulative counters; an operation's
  * figures are the difference of two snapshots.
  */
final class Tracer(spark: SparkSession) {
  private val sums = new java.util.concurrent.ConcurrentHashMap[String, Double]()
  private def add(k: String, v: Double): Unit =
    sums.merge(k, v, (a, b) => a + b)

  private val tasks = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add("exec.jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("exec.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("exec.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("exec.task_s", m.executorRunTime / 1e3)
        add("exec.task_cpu_s", m.executorCpuTime / 1e9)
        add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
        add("exec.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
        add("exec.spill_mb",
          (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
      }
    }
  }

  private val queries = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    phases(qe)
    try PlanShape.count(qe.executedPlan).foreach { case (k, v) => add(k, v) }
    catch { case _: Throwable => () }
  }

  /** Catalyst phase seconds of one QueryExecution. */
  def phases(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
    add("catalyst.analysis_s", ms("analysis"))
    add("catalyst.optimize_s", ms("optimization"))
    add("catalyst.plan_s", ms("planning"))
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(tasks)
    spark.listenerManager.register(queries)
  }

  def detach(): Unit = {
    BenchBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(tasks)
    spark.listenerManager.unregister(queries)
  }

  /** Cumulative counters, after the listener bus has delivered every event
    * of the work done so far. */
  def snapshot(): Map[String, Double] = {
    BenchBridge.drainListenerBus(spark.sparkContext)
    sums.asScala.map { case (k, v) => k -> v.doubleValue }.toMap ++ Map(
      "codegen.compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "codegen.compile_s" -> CodeGenerator.compileTime / 1e9,
      "jvm.gc_s" -> Proc.gcSeconds)
  }
}

object Tracer {
  def diff(after: Map[String, Double], before: Map[String, Double])
      : Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
}

/** Executed-plan shape: scans of stored data, exchanges, and exchanges
  * that Spark reused instead of recomputing. Walks adaptive plans and
  * subqueries. */
object PlanShape extends AdaptiveSparkPlanHelper {
  def count(plan: SparkPlan): Map[String, Double] = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    Map(
      "catalyst.scans" -> nodes.count(p => p.children.isEmpty &&
        !p.isInstanceOf[QueryStageExec] && !p.isInstanceOf[ReusedExchangeExec] &&
        !p.isInstanceOf[ReusedSubqueryExec]).toDouble,
      "catalyst.exchanges" -> nodes.count(_.isInstanceOf[Exchange]).toDouble,
      "catalyst.reused_exchanges" ->
        nodes.count(_.isInstanceOf[ReusedExchangeExec]).toDouble)
  }
}
