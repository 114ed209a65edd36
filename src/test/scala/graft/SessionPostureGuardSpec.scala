package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-scan guard: [[GraftSession]] is the only place that builds a
  * session or reads the core count, so every main, tool and spec runs in
  * the same engine posture. Second copies of that wiring are how sessions
  * without the extensions, or with another core-count default, crept in
  * before. A `spark.graft.*` session key is the same kind of second
  * wiring: a per-session switch between plan variants. The one allowed
  * key is `TopKPerGroup`'s partial-pass group cap, which TopKPerGroupSpec sets
  * to force the drain path on small data. */
class SessionPostureGuardSpec extends AnyFunSuite {

  test("SparkSession.builder and SPARK_GRAFT_CPUS appear only in GraftSession") {
    val hits = SourceScan.hits(Seq("src/main/scala", "src/test/scala"),
      Seq("SparkSession.builder", "\"SPARK_GRAFT_CPUS\""),
      Set("GraftSession.scala", "SessionPostureGuardSpec.scala"))
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("spark.graft.* session keys appear only in TopKPerGroup") {
    val hits = SourceScan.hits(Seq("src/main/scala", "src/test/scala"),
      Seq("\"spark.graft."),
      Set("TopKPerGroup.scala", "SessionPostureGuardSpec.scala"))
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
