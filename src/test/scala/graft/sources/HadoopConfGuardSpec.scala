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

  /** `src/main/resources/core-site.xml` is the one binding of `file:`: a
    * binding set in code reaches only the confs it is set on, after the
    * JVM-wide `file:` FileSystem is already cached. */
  test("file: is bound only in core-site.xml") {
    val hits = SourceScan.hits(Seq("src/main/scala", "src/test/scala"),
      Seq("fs.file.impl", "fs.AbstractFileSystem.file.impl"),
      Set("HadoopConfGuardSpec.scala"))
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
