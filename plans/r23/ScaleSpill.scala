// Runs graft.tools.HammingScale with a listener that totals task spill
// (memory and disk bytes) and failed tasks, so the 1M-print scale check of
// the bucket shed can show that neither form spills or fails. HammingScale
// prints wall, shuffle and the audit's over-cap bucket count itself; this
// adds one `[spill]` line per finished job (cumulative) and a total.
//
// Build and run from the repository root, after `sbt compile`:
//   mkdir -p target/scalespill
//   java -cp "/opt/spark/jars/*" scala.tools.nsc.Main -usejavacp \
//     -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
//     -d target/scalespill plans/r23/ScaleSpill.scala
//   SPARK_GRAFT_CPUS=4 java <tools/run.sh flags> -Xmx<heap> \
//     -cp "target/scalespill:<tools/run.sh classpath>" ScaleSpill 1000000 5
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd, SparkListenerJobEnd, SparkListenerTaskEnd}

object ScaleSpill {
  def main(args: Array[String]): Unit = {
    // the same session HammingScale takes (GraftSession.local is getOrCreate)
    val spark = graft.GraftSession.local()
    val (mem, disk, failed) = (new AtomicLong, new AtomicLong, new AtomicLong)
    def line(tag: String) = println(f"[spill] $tag%-8s memory ${mem.get / 1e6}%.1f MB " +
      f"disk ${disk.get / 1e6}%.1f MB  failed tasks ${failed.get}")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        if (!e.reason.isInstanceOf[org.apache.spark.Success.type]) failed.incrementAndGet()
        Option(e.taskMetrics).foreach { m =>
          mem.addAndGet(m.memoryBytesSpilled)
          disk.addAndGet(m.diskBytesSpilled)
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = line(s"job ${e.jobId}")
      override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = line("total")
    })
    graft.tools.HammingScale.main(args)
  }
}
