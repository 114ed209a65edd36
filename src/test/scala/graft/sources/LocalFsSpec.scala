package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => NioPath}

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite

/** [[ForkFreeRawLocalFileSystem]] against Hadoop's `RawLocalFileSystem`:
  * the same POSIX modes after `setPermission`, the same link status, the
  * same `rename` as the `file:` FileSystem Spark's jars register, and the
  * create-if-absent check of Spark's checkpoint logs still holding
  * through the bound `file:` FileContext. */
class LocalFsSpec extends AnyFunSuite {

  private val conf = new Configuration()
  private val root = URI.create("file:///")
  private val hadoopFs = { val fs = new RawLocalFileSystem; fs.initialize(root, conf); fs }
  private val graftFs = { val fs = new ForkFreeRawLocalFileSystem; fs.initialize(root, conf); fs }

  private def withDir(body: NioPath => Unit): Unit = {
    val dir = Files.createTempDirectory("localfs")
    try body(dir)
    finally FileUtils.deleteDirectory(dir.toFile)
  }

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  /** Permission and sticky bits (java.nio's POSIX view drops the sticky). */
  private def mode(p: NioPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & octal("1777")

  private def hadoopPath(p: NioPath) = new Path(p.toString)

  Seq("0000", "0600", "0644", "0700", "0755", "0777").map(octal).foreach { m =>
    test(f"setPermission $m%04o on a file: the same mode as Hadoop's") {
      withDir { dir =>
        val (h, g) = (dir.resolve("hadoop"), dir.resolve("graft"))
        Files.createFile(h); Files.createFile(g)
        hadoopFs.setPermission(hadoopPath(h), new FsPermission(m.toShort))
        graftFs.setPermission(hadoopPath(g), new FsPermission(m.toShort))
        assert(mode(h) == m)
        assert(mode(g) == mode(h))
      }
    }
  }

  test("setPermission 1777 on a directory keeps the sticky bit, as Hadoop's") {
    withDir { dir =>
      val (h, g) = (dir.resolve("hadoop"), dir.resolve("graft"))
      Files.createDirectory(h); Files.createDirectory(g)
      val sticky = octal("1777")
      hadoopFs.setPermission(hadoopPath(h), new FsPermission(sticky.toShort))
      graftFs.setPermission(hadoopPath(g), new FsPermission(sticky.toShort))
      assert(mode(h) == sticky)
      assert(mode(g) == mode(h))
    }
  }

  private def same(a: FileStatus, b: FileStatus): Unit = {
    assert(b.getPath == a.getPath)
    assert((b.isFile, b.isDirectory, b.isSymlink) == (a.isFile, a.isDirectory, a.isSymlink))
    assert(b.getLen == a.getLen)
    assert(b.getModificationTime == a.getModificationTime)
    assert(b.getPermission == a.getPermission)
    if (a.isSymlink) assert(b.getSymlink == a.getSymlink)
  }

  test("getFileLinkStatus: file, directory, symlink and missing path as Hadoop's") {
    withDir { dir =>
      val file = Files.write(dir.resolve("file"), Array[Byte](1, 2, 3))
      val sub = Files.createDirectory(dir.resolve("sub"))
      val link = Files.createSymbolicLink(dir.resolve("link"), file)
      // plain paths reach Hadoop's readlink; qualified ones do not
      for (p <- Seq(file, sub, link); path <- Seq(hadoopPath(p), new Path(p.toUri))) {
        val h = hadoopFs.getFileLinkStatus(path)
        same(h, graftFs.getFileLinkStatus(path))
      }
      assert(graftFs.getFileLinkStatus(hadoopPath(link)).isSymlink)
      assert(!graftFs.getFileLinkStatus(hadoopPath(file)).isSymlink)
      val missing = hadoopPath(dir.resolve("missing"))
      intercept[FileNotFoundException](hadoopFs.getFileLinkStatus(missing))
      intercept[FileNotFoundException](graftFs.getFileLinkStatus(missing))
    }
  }

  test("rename as the file: FileSystem Spark's jars register (hive-exec's)") {
    withDir { dir =>
      val proxy = new ProxyLocalFileSystem
      proxy.initialize(root, conf)
      val graft = new ForkFreeLocalFileSystem
      graft.initialize(root, conf)
      def tree(d: NioPath) = Files.walk(d).iterator().asScala.toSeq
        .map(p => d.relativize(p).toString -> (if (Files.isRegularFile(p))
          new String(Files.readAllBytes(p)) else "/")).sorted
      val outcomes = Seq(proxy -> dir.resolve("proxy"), graft -> dir.resolve("graft"))
        .map { case (fs, d) =>
          Files.createDirectories(d.resolve("into"))
          Seq("a", "b", "c", "old").foreach(n => Files.write(d.resolve(n), n.getBytes))
          val renamed = Seq("a" -> "new", "b" -> "old", "c" -> "into")
            .map { case (s, t) => fs.rename(hadoopPath(d.resolve(s)), hadoopPath(d.resolve(t))) }
          (renamed, tree(d))
        }
      // onto a missing name, onto an existing file (refused), into a directory
      assert(outcomes.head._1 == Seq(true, false, true))
      assert(outcomes(1) == outcomes.head)
    }
  }

  test("createAtomic without overwrite on an existing target still throws") {
    withDir { dir =>
      val logDir = hadoopPath(dir)
      val fm = CheckpointFileManager.create(logDir, conf)
      val target = new Path(logDir, "0")
      def write(): Unit = {
        val out = fm.createAtomic(target, overwriteIfPossible = false)
        out.write(Array[Byte](1))
        out.close()
      }
      write()
      assert(fm.exists(target))
      // HDFSMetadataLog reads this as a concurrent writer for the batch
      intercept[FileAlreadyExistsException](write())
      assert(Files.readAllBytes(dir.resolve("0")).toSeq == Seq[Byte](1))
    }
  }
}
