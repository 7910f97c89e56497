package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.DoubleAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Work counters for the traced run, gathered by listeners registered
  * from the benchmark: Spark jobs, stages and tasks with their executor
  * time, shuffle, spill and I/O bytes; planning time and files written
  * per query; LinUCB fits (recognized by their statistics aggregator);
  * and JVM GC time. Counters are cumulative; a caller takes a
  * [[snapshot]] at each boundary and subtracts.
  */
final class SparkCounters(spark: SparkSession)
    extends SparkListener with QueryExecutionListener {

  private val sums = new ConcurrentHashMap[String, DoubleAdder]()
  private val jobStarts = new ConcurrentHashMap[Int, Long]()
  private val jobSpans = new ConcurrentLinkedQueue[(Long, Long)]()

  private def add(k: String, v: Double): Unit =
    sums.computeIfAbsent(k, _ => new DoubleAdder()).add(v)

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    add("spark.jobs", 1)
    jobStarts.put(e.jobId, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach(s => jobSpans.add((s, e.time)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add("spark.stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("spark.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("spark.exec_run_ms", m.executorRunTime.toDouble)
      add("spark.exec_cpu_ms", m.executorCpuTime / 1e6)
      add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("spark.spill_bytes",
        (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("io.input_bytes", m.inputMetrics.bytesRead.toDouble)
      add("io.output_bytes", m.outputMetrics.bytesWritten.toDouble)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    add("spark.plan_ms", planMs(qe))
    add("io.files_written", filesWritten(qe.executedPlan).toDouble)
    if (funcName == "collect" && qe.analyzed.toString.contains("StatsAgg")) {
      add("ml.fit_calls", 1)
      add("ml.fit_ms", durationNs / 1e6)
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit =
    add("spark.plan_ms", planMs(qe))

  private def planMs(qe: QueryExecution): Double =
    qe.tracker.phases
      .collect { case (p, s) if Set("analysis", "optimization", "planning")(p) =>
        s.durationMs.toDouble }
      .sum

  private def filesWritten(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => filesWritten(a.executedPlan)
    case q: QueryStageExec => filesWritten(q.plan)
    case w: DataWritingCommandExec =>
      w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L) +
        w.children.map(filesWritten).sum
    case other => other.children.map(filesWritten).sum
  }

  /** Cumulative counters, after every queued listener event has been
    * delivered, plus the JVM's total GC time.
    */
  def snapshot(): Map[String, Double] = {
    PerfbenchBridge.drainListeners(spark.sparkContext)
    sums.asScala.map { case (k, v) => k -> v.sum() }.toMap +
      ("spark.gc_ms" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime.toDouble).sum)
  }

  /** Wall ms within [fromMs, toMs) (epoch ms) during which at least one
    * Spark job was running.
    */
  def jobBusyMs(fromMs: Long, toMs: Long): Double =
    Trace.unionLength(jobSpans.asScala.toSeq
      .map { case (s, e) => (math.max(s, fromMs), math.min(e, toMs)) })
      .toDouble
}

object SparkCounters {
  /** Per-boundary difference of two snapshots. */
  def delta(before: Map[String, Double],
            after: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
}
