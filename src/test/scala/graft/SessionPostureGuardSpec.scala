package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-scan guard: [[GraftSession]] is the only place that builds a
  * session or reads the core count, so every main, tool and spec runs in
  * the same engine posture. Second copies of that wiring are how sessions
  * without the extensions, or with another core-count default, crept in
  * before. */
class SessionPostureGuardSpec extends AnyFunSuite {

  test("SparkSession.builder and SPARK_GRAFT_CPUS appear only in GraftSession") {
    val hits = SourceScan.hits(Seq("src/main/scala", "src/test/scala"),
      Seq("SparkSession.builder", "\"SPARK_GRAFT_CPUS\""),
      Set("GraftSession.scala", "SessionPostureGuardSpec.scala"))
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
