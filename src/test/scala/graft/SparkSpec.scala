package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites, in the engine's own posture
  * ([[GraftSession]]) at 4 cores. One per JVM: sbt forks one JVM for the
  * whole Test run, so `getOrCreate` dedups across suites. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4)
  lazy val sf0001 = "/root/testdata/sf0.001"
  lazy val sf001 = "/root/testdata/sf0.01"

  /** `body`'s result plus the query executions of every `localCheckpoint`
    * it called. Spark reports a cut when it is called, lazy ones too,
    * and its analyzed plan still holds the lineage the cut truncates out
    * of the result's plan: plan-shape specs read through cuts here. */
  def withCuts[A](body: => A): (A, Seq[QueryExecution]) = {
    val cuts = new ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        if (funcName == "localCheckpoint") cuts.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      (out, cuts.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}
