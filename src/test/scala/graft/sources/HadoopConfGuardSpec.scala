package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import graft.SourceScan

/** Source-scan guard: connectors take the session's Hadoop conf
  * (`sessionState.newHadoopConf()` on the driver, a broadcast
  * `SerializableConfiguration` on executors). A default-constructed
  * `Configuration` re-parses Hadoop's XML default resources on every call
  * and drops the session's `fs.*` settings, so none may appear here. */
class HadoopConfGuardSpec extends AnyFunSuite {

  test("no default-constructed Hadoop Configuration under graft/sources") {
    val hits = SourceScan.hits(Seq("src/main/scala/graft/sources"),
      Seq("new Configuration(", "new org.apache.hadoop.conf.Configuration("),
      Set.empty)
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
