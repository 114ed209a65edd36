package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites, in the engine's own posture
  * ([[GraftSession]]) at 4 cores. One per JVM: sbt forks one JVM for the
  * whole Test run, so `getOrCreate` dedups across suites. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4)
  lazy val sf0001 = "/root/testdata/sf0.001"
  lazy val sf001 = "/root/testdata/sf0.01"
}
