package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The source-scan guards' one walk: every line of the `.scala` files
  * under `roots` (repository-relative), outside the files named in
  * `allowed`, that contains one of `banned`, as `path:line: text`. */
object SourceScan {
  def hits(roots: Seq[String], banned: Seq[String],
      allowed: Set[String]): Seq[String] = {
    val dirs = roots.map(Paths.get(_))
    dirs.foreach(r => require(Files.isDirectory(r),
      s"run from the repository root: $r"))
    val files = dirs.flatMap(r => Files.walk(r).iterator().asScala)
      .filter(_.toString.endsWith(".scala"))
      .filterNot(f => allowed(f.getFileName.toString))
    require(files.nonEmpty, s"no sources under ${roots.mkString(", ")}")
    files.flatMap { f: Path =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if banned.exists(line.contains) => s"$f:${i + 1}: ${line.trim}"
      }
    }
  }
}
