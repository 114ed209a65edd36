package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-scan guard: [[GraftSession]] is the only place that builds a
  * session or reads the core count, so every main, tool and spec runs in
  * the same engine posture. Second copies of that wiring are how sessions
  * without the extensions, or with another core-count default, crept in
  * before. */
class SessionPostureGuardSpec extends AnyFunSuite {

  test("SparkSession.builder and SPARK_GRAFT_CPUS appear only in GraftSession") {
    val roots = Seq("src/main/scala", "src/test/scala").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r),
      s"run from the repository root: $r"))
    val allowed = Set("GraftSession.scala", "SessionPostureGuardSpec.scala")
    val files = roots.flatMap(r => Files.walk(r).iterator().asScala)
      .filter(_.toString.endsWith(".scala"))
      .filterNot(f => allowed(f.getFileName.toString))
    assert(files.nonEmpty)
    val banned = Seq("SparkSession.builder", "\"SPARK_GRAFT_CPUS\"")
    val hits = files.flatMap { f: Path =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if banned.exists(line.contains) => s"$f:${i + 1}: ${line.trim}"
      }
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
