package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import graft.SourceScan

/** Source-scan guard: file access takes the session's Hadoop conf
  * (`sessionState.newHadoopConf()` on the driver, a broadcast
  * `SerializableConfiguration` on executors). A default-constructed
  * `Configuration` re-parses Hadoop's XML default resources on every call
  * and drops the session's `fs.*` settings; the SparkContext's
  * `hadoopConfiguration` drops every `fs.*` setting made with
  * `spark.conf.set`. Neither may appear here. */
class HadoopConfGuardSpec extends AnyFunSuite {

  test("no default-constructed Hadoop Configuration under graft/sources") {
    val hits = SourceScan.hits(Seq("src/main/scala/graft/sources"),
      Seq("new Configuration(", "new org.apache.hadoop.conf.Configuration("),
      Set.empty)
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("no sparkContext.hadoopConfiguration under src/main/scala") {
    val hits = SourceScan.hits(Seq("src/main/scala"),
      Seq("sparkContext.hadoopConfiguration"), Set.empty)
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
