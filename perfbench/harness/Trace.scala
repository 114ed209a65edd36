package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters for one traced pass, gathered from Spark's public
  * listener interfaces only. The listener bus is asynchronous, so an
  * event counts only when it is stamped after [[install]]: events of the
  * previous pass that arrive late are dropped. Jobs are attributed to the
  * build or exec phase through the local property the harness sets on the
  * driver thread; threads a query spawns (streaming micro-batches)
  * inherit it. */
final class Trace(spark: SparkSession) {
  import Trace._

  private val sc = spark.sparkContext
  private val lock = new Object
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobStart = mutable.Map.empty[Int, Long]
  val counts: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  val batchMs: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  val paths: mutable.Set[String] = mutable.Set.empty
  private var tasksSeen = 0L
  private var jobsEnded = 0L
  @volatile private var since = Long.MaxValue

  private def add(k: String, v: Double): Unit = counts(k) = counts(k) + v

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (e.time >= since) lock.synchronized {
        add("scheduler.jobs", 1)
        if (phaseOf(e.properties) == "build") add("queries.build_jobs", 1)
        jobStart(e.jobId) = e.time
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobStart.remove(e.jobId).foreach { t0 =>
        jobSpans += ((t0, e.time))
        jobsEnded += 1
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (e.stageInfo.submissionTime.exists(_ >= since))
        lock.synchronized(add("scheduler.stages", 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null && e.taskInfo.launchTime >= since) lock.synchronized {
        tasksSeen += 1
        add("scheduler.tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          add("operators.task_run_ms", m.executorRunTime.toDouble)
          add("operators.task_cpu_ms", m.executorCpuTime / 1e6)
          add("sources.input_rows", m.inputMetrics.recordsRead.toDouble)
          add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / MB)
          add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / MB)
          add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
          add("shuffle.spill_disk_mb", m.diskBytesSpilled / MB)
          val peak = m.peakExecutionMemory / MB
          if (peak > counts("jvm.peak_exec_mem_mb")) counts("jvm.peak_exec_mem_mb") = peak
        }
        e.taskInfo.accumulables.foreach { a =>
          if (a.name.contains(graft.plans.TopKPerGroup.DrainMetricName))
            a.update.foreach {
              case n: Long => add("plans.topk_drains", n.toDouble)
              case _ => ()
            }
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      if (phases.values.exists(_.startTimeMs < since)) return
      val scanned = scala.util.Try(PlanWalk.collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec => s.metrics.get("filesSize").map(_.value).getOrElse(0L)
      }.sum).getOrElse(0L)
      val roots = scala.util.Try(qe.analyzed.collect {
        case l: LogicalRelation => l.relation match {
          case r: HadoopFsRelation => r.location.rootPaths.map(_.toString)
          case _ => Nil
        }
      }.flatten).getOrElse(Nil)
      lock.synchronized {
        add("plans.actions", 1)
        Seq("analysis", "optimization", "planning").foreach { p =>
          phases.get(p).foreach(s => add(s"plans.${p}_ms", s.durationMs.toDouble))
        }
        add("sources.input_mb", scanned / MB)
        paths ++= roots
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (java.time.Instant.parse(e.progress.timestamp).toEpochMilli >= since)
        lock.synchronized {
          add("streaming.batches", 1)
          add("streaming.input_rows", e.progress.numInputRows.toDouble)
          batchMs += e.progress.batchDuration.toDouble
        }
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private var gc0 = 0L

  def install(): Unit = {
    Thread.sleep(5)
    since = System.currentTimeMillis()
    Thread.sleep(5)
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    gc0 = gcMs
  }

  /** Waits for the asynchronous listener bus to deliver the pass's events,
    * then detaches every listener. */
  def uninstall(): Unit = {
    var prev = -1L
    var stable = 0
    val deadline = System.nanoTime() + 5000000000L
    while (stable < 3 && System.nanoTime() < deadline) {
      Thread.sleep(20)
      val (cur, open) = lock.synchronized((tasksSeen + jobsEnded, jobStart.size))
      if (cur == prev && open == 0) stable += 1 else stable = 0
      prev = cur
    }
    add("jvm.gc_ms", (gcMs - gc0).toDouble)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Milliseconds of the given windows during which no Spark job ran. */
  def driverOnlyMs(windows: Seq[(Long, Long)]): Double = lock.synchronized {
    windows.map { case (w0, w1) =>
      val clipped = jobSpans.toSeq
        .map { case (a, b) => (a.max(w0), b.min(w1)) }
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var end = w0
      clipped.foreach { case (a, b) =>
        if (b > end) { covered += b - a.max(end); end = b }
      }
      (w1 - w0 - covered).toDouble
    }.sum
  }
}

object Trace {
  private object PlanWalk extends AdaptiveSparkPlanHelper

  val MB: Double = 1024.0 * 1024.0
  val PhaseKey = "perfbench.phase"

  private def phaseOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(PhaseKey))).getOrElse("")
}
