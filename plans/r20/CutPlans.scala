// Prints the formatted physical plan of every eager cut a query makes
// while it is built (each `Materialize.scoped` / `localCheckpoint(true)`),
// then the plan of the frame it returns. `Profile --explain` shows only
// the returned frame, which for the miner queries is a scan of their last
// checkpoint; the bucket joins live in the cuts.
//
// Build and run from the repository root, after `sbt Test/compile`:
//   mkdir -p target/cutplans
//   java -cp "/opt/spark/jars/*" scala.tools.nsc.Main -usejavacp \
//     -cp "target/scala-2.13/classes:target/scala-2.13/test-classes:/opt/spark/jars/*" \
//     -d target/cutplans plans/r20/CutPlans.scala
//   SPARK_GRAFT_SF_DIR=<sfDir> SPARK_GRAFT_CPUS=4 \
//     java <tools/run.sh flags> -cp "target/cutplans:<tools/run.sh classpath>" \
//     CutPlans <query...>
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

object CutPlans {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env("SPARK_GRAFT_SF_DIR")
    val spark = graft.GraftSession.local()
    val cuts = new ConcurrentLinkedQueue[QueryExecution]
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        if (funcName == "localCheckpoint") cuts.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    })
    args.foreach { name =>
      println(s"== $name (sf=$sfDir, cpus=${graft.GraftSession.cpus}) ==")
      val out = graft.SparkEntry.queries(name)(spark, sfDir)
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      cuts.asScala.zipWithIndex.foreach { case (qe, i) =>
        println(s"-- cut ${i + 1} --")
        println(qe.explainString(FormattedMode))
      }
      cuts.clear()
      println("-- result --")
      out.explain("formatted")
    }
    spark.stop()
  }
}
