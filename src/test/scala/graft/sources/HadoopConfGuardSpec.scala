package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-scan guard: connectors take the session's Hadoop conf
  * (`sessionState.newHadoopConf()` on the driver, a broadcast
  * `SerializableConfiguration` on executors). A default-constructed
  * `Configuration` re-parses Hadoop's XML default resources on every call
  * and drops the session's `fs.*` settings, so none may appear here. */
class HadoopConfGuardSpec extends AnyFunSuite {

  test("no default-constructed Hadoop Configuration under graft/sources") {
    val root = Paths.get("src/main/scala/graft/sources")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty)
    val banned = Seq("new Configuration(",
      "new org.apache.hadoop.conf.Configuration(")
    val hits = files.flatMap { f: Path =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if banned.exists(line.contains) => s"$f:${i + 1}: ${line.trim}"
      }
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
