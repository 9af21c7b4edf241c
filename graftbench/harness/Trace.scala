package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Process-level counters read at operation boundaries in every run. */
object Proc {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuS: Double = os.getProcessCpuTime / 1e9

  def gcS: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  def jitS: Double = {
    val c = java.lang.management.ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime / 1e3 else 0.0
  }

  /** Peak resident set (VmHWM) in MB; 0 where /proc is unavailable. */
  def peakRssMb: Double =
    scala.util.Try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)

  def startMs: Long = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
}

/** The layer counters of the traced run: a [[SparkListener]] for jobs, stages
  * and task metrics, and a [[QueryExecutionListener]] for the Catalyst phase
  * and rule timings of each executed plan. Attached only while a traced unit
  * runs; `snapshot` flushes the listener bus first, so a query's last task
  * events land on that query.
  */
final class Trace(spark: SparkSession) {
  private val c = mutable.LinkedHashMap.empty[String, AtomicLong]
  private def add(k: String, v: Long): Unit = { c.getOrElseUpdate(k, new AtomicLong()).addAndGet(v); () }
  Trace.Counters.foreach(k => c(k) = new AtomicLong())

  private val tasks = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      add("stages", 1)
      if (e.stageInfo.numTasks == 1) add("one_task_stages", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("busy_ms", m.executorRunTime)
        add("task_cpu_ns", m.executorCpuTime)
        add("task_gc_ms", m.jvmGCTime)
        add("input_bytes", m.inputMetrics.bytesRead)
        add("shuffle_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val plans = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      add("analysis_ms", ph.get("analysis").map(_.durationMs).getOrElse(0L))
      add("optimizer_ms", ph.get("optimization").map(_.durationMs).getOrElse(0L))
      add("planning_ms", ph.get("planning").map(_.durationMs).getOrElse(0L))
      qe.tracker.rules.foreach { case (rule, s) =>
        if (rule.startsWith("graft.")) {
          add("graft_rule_ns", s.totalTimeNs)
          add("graft_rule_inv", s.numInvocations)
          add("graft_rule_eff", s.numEffectiveInvocations)
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(tasks)
    spark.listenerManager.register(plans)
  }

  def detach(): Unit = {
    flush()
    spark.sparkContext.removeSparkListener(tasks)
    spark.listenerManager.unregister(plans)
  }

  def flush(): Unit = org.apache.spark.GraftSparkInternals.flushListeners(spark.sparkContext, 5000)

  def snapshot(): Map[String, Long] = { flush(); c.map { case (k, v) => k -> v.get }.toMap }
}

object Trace {
  val Counters: Seq[String] = Seq("jobs", "stages", "one_task_stages", "tasks", "busy_ms",
    "task_cpu_ns", "task_gc_ms", "input_bytes", "shuffle_bytes", "spill_bytes", "analysis_ms",
    "optimizer_ms", "planning_ms", "graft_rule_ns", "graft_rule_inv", "graft_rule_eff")

  def delta(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0L)) }
}

/** Closed-loop commit tracking for the streaming workload: counts the input
  * rows each query has committed and keeps every batch's progress. Progress
  * events are posted after a batch commits, so "every query has reached n
  * rows" means the drop that brought row n is committed everywhere.
  */
final class StreamProgress(queryNames: Seq[String]) extends StreamingQueryListener {
  private val rows = mutable.Map.empty[String, Long] ++ queryNames.map(_ -> 0L)
  private val reached = mutable.Map.empty[String, mutable.Buffer[(Long, Long)]] ++
    queryNames.map(_ -> mutable.Buffer.empty[(Long, Long)])
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[(Long, org.apache.spark.sql.streaming.StreamingQueryProgress)]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    synchronized { notifyAll() }
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    if (rows.contains(p.name)) {
      val t = System.nanoTime()
      rows(p.name) += p.numInputRows
      if (p.numInputRows > 0) reached(p.name) += ((rows(p.name), t))
      batches.add((t, p))
    }
    notifyAll()
  }

  /** Per query, when its committed input first reached `n` rows. */
  def reachedAt(n: Long): Seq[Long] = synchronized {
    queryNames.flatMap(q => reached(q).find(_._1 >= n).map(_._2))
  }

  /** Block until every query has committed `n` input rows; false on timeout. */
  def awaitRows(n: Long, timeoutMs: Long): Boolean = synchronized {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (rows.values.exists(_ < n) && System.currentTimeMillis() < deadline)
      wait(math.max(1L, deadline - System.currentTimeMillis()))
    rows.values.forall(_ >= n)
  }
}
