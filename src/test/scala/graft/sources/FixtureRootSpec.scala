package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Prints the fixture dir a fresh JVM gets for `args(0)`, then exits. */
object FixtureRootProbe {
  def main(args: Array[String]): Unit =
    println(SyntheticFixtures.freshDir(args(0)))
}

/** Concurrent-run isolation: every JVM makes its fixture, sink and
  * streaming-checkpoint dirs under a root of its own, so two Verify or
  * Bench runs on one host never share a dir, and the root is gone once
  * its JVM exits. */
class FixtureRootSpec extends AnyFunSuite {

  private def probe(subdir: String): Process =
    new ProcessBuilder(
      Paths.get(sys.props("java.home"), "bin", "java").toString,
      "-Xmx64m", "-cp", sys.props("java.class.path"),
      FixtureRootProbe.getClass.getName.stripSuffix("$"), subdir)
      .redirectErrorStream(true).start()

  private def printedDir(p: Process): String = {
    val out = new String(p.getInputStream.readAllBytes(), UTF_8).trim
    assert(p.waitFor() == 0, out)
    out.linesIterator.toSeq.last
  }

  test("two JVMs get distinct fixture roots, each deleted at exit") {
    val here = Paths.get(SyntheticFixtures.freshDir("root_probe"))
    val (a, b) = (probe("root_probe"), probe("root_probe"))
    val there = Seq(printedDir(a), printedDir(b)).map(Paths.get(_))
    assert((here +: there).map(_.getParent).distinct.length == 3)
    assert((here +: there).forall(_.getFileName.toString == "root_probe"))
    assert(there.forall(d => !Files.exists(d.getParent)))
    assert(Files.isDirectory(here))
  }
}
