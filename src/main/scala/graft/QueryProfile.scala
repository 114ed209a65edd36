package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import QueryProfile._

/** Per-query measurement for [[Bench]], `tools.BenchSmoke` and
  * `tools.Profile`: one listener on `spark`'s context counting jobs,
  * stages, tasks, shuffle bytes and TopKPerGroup drains, with a ledger of
  * the jobs of the current [[run]].
  *
  * Shuffle bytes come from task metrics, not SQL-node metrics, so the
  * actions an operator runs internally (`localCheckpoint`, seed probes)
  * count too. Wall time at a small scale factor hides plans that only
  * bite at 100×; shuffle volume does not. The listener bus is
  * asynchronous, so [[settled]] waits for the counters to stop moving
  * before a run's delta is taken. */
final class QueryProfile(spark: SparkSession) extends SparkListener {
  private val jobsN, stagesN, tasksN, readB, writeB, drainsN = new AtomicLong
  private val started = new ConcurrentHashMap[Int, (Long, String)]
  private val ledger = new ConcurrentLinkedQueue[Job]
  spark.sparkContext.addSparkListener(this)

  override def onJobStart(j: SparkListenerJobStart): Unit =
    started.put(j.jobId, (System.nanoTime(),
      j.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n')).getOrElse("?")))

  override def onJobEnd(j: SparkListenerJobEnd): Unit =
    Option(started.remove(j.jobId)).foreach { case (t0, site) =>
      ledger.add(Job(j.jobId, (System.nanoTime() - t0) / 1e6, site))
      jobsN.incrementAndGet()
    }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    stagesN.incrementAndGet()
    tasksN.addAndGet(s.stageInfo.numTasks.toLong)
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    if (m != null) {
      readB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      writeB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
    // TopKPerGroup cap-triggered partial drains (its SQLMetric rides the
    // task accumulators): each drain re-emits <= k rows per seen group
    // into the exchange, so a nonzero count here is shuffle INFLATION
    // the byte counters alone would misattribute to data volume.
    if (te.taskInfo != null) te.taskInfo.accumulables.foreach { a =>
      if (a.name.contains(graft.plans.TopKPerGroup.DrainMetricName))
        a.update.foreach {
          case n: Long => drainsN.addAndGet(n)
          case _ => ()
        }
    }
  }

  /** Cumulative counters, without waiting for the listener bus. */
  def now(): Counts = Counts(jobsN.get, stagesN.get, tasksN.get, readB.get,
    writeB.get, drainsN.get)

  /** Cumulative counters once the listener bus has gone quiet: polls
    * until two consecutive samples agree (20 ms period, 500 ms cap). */
  def settled(): Counts = {
    var prev: Counts = null
    var cur = now()
    var spins = 0
    while (prev != cur && spins < 25) {
      Thread.sleep(20)
      prev = cur
      cur = now()
      spins += 1
    }
    cur
  }

  /** One timed run of the registered query `name` through the `noop` sink
    * (every output column materialized; `count()` would let Catalyst prune
    * the projection). Cached state and garbage of the previous query are
    * dropped first, outside the timed region. */
  def run(name: String, sfDir: String): Run = {
    spark.catalog.clearCache()
    System.gc()
    ledger.clear()
    val before = now()
    val t0 = System.nanoTime()
    val error =
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        None
      } catch { case e: Throwable => Some(e) }
    val seconds = (System.nanoTime() - t0) / 1e9
    Run(seconds, settled() - before, ledger.asScala.toSeq, error)
  }
}

object QueryProfile {

  final case class Counts(jobs: Long, stages: Long, tasks: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, drains: Long) {
    def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages,
      tasks - o.tasks, shuffleReadBytes - o.shuffleReadBytes,
      shuffleWriteBytes - o.shuffleWriteBytes, drains - o.drains)
    def shuffleReadMb: Double = shuffleReadBytes / 1048576.0
    def shuffleWriteMb: Double = shuffleWriteBytes / 1048576.0
  }

  /** One finished job: Spark's job id, listener-observed wall ms, and the
    * call site of its last stage. */
  final case class Job(id: Int, ms: Double, site: String)

  /** A [[QueryProfile.run]]: wall seconds, counter deltas, the jobs in end
    * order, and the failure if the query threw. */
  final case class Run(seconds: Double, counts: Counts, jobs: Seq[Job],
      error: Option[Throwable])

  /** Untimed warmup: absorbs JVM, classloader and codegen start-up and
    * touches the shuffle path, so the first timed query measures its plan,
    * not the process. */
  def warmup(spark: SparkSession): Unit =
    try {
      spark.range(1 << 20).selectExpr("sum(id)").collect()
      SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => () }
}
