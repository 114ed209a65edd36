package graft.sources

import java.net.URI
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileContext, FileSystem}

import graft.{SparkEntry, SparkSpec}

/** Local file I/O forks no process. `src/main/resources/core-site.xml`
  * binds `file:` to graft's java.nio local file system (`LocalFs.scala`);
  * Hadoop's own forks a `chmod` or `readlink` shell for every
  * checkpoint-log write. A `core-site.xml` earlier on the classpath (a
  * cluster's) shadows graft's, and then this spec fails. */
class ForkFreeLocalIoSpec extends SparkSpec {

  private def coreSite =
    s"core-site.xml on the classpath: ${getClass.getClassLoader.getResource("core-site.xml")}"

  test("file: resolves to graft's local file system, FileSystem and FileContext") {
    val conf = spark.sessionState.newHadoopConf()
    val root = URI.create("file:///")
    assert(FileSystem.get(root, conf).getClass == classOf[ForkFreeLocalFileSystem], coreSite)
    assert(FileContext.getFileContext(root, conf).getDefaultFileSystem.getClass ==
      classOf[ForkFreeLocalFs], coreSite)
  }

  test("streaming ingest (q119, q305) and a parquet round trip fork no Hadoop shell") {
    val recording = new Recording()
    recording.enable("jdk.ProcessStart").withStackTrace()
    recording.start()
    try {
      Seq("q119_edf_stream_ingest", "q305_tarshard_stream").foreach { q =>
        SparkEntry.queries(q)(spark, sf001).write.format("noop").mode("overwrite").save()
      }
      val dir = Files.createTempDirectory("graft_forkfree").resolve("t").toString
      spark.range(100).write.parquet(dir)
      assert(spark.read.parquet(dir).count() == 100)
    } finally recording.stop()
    // a dump read back whole: a stream could lose the last flush interval
    val dump = Files.createTempFile("graft_forkfree", ".jfr")
    try {
      recording.dump(dump)
      recording.close()
      val shellForks = RecordingFile.readAllEvents(dump).asScala.filter { e =>
        Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
          _.getMethod.getType.getName == "org.apache.hadoop.util.Shell"))
      }
      assert(shellForks.isEmpty,
        s"${shellForks.size} Hadoop shell forks; $coreSite\n" +
          shellForks.take(3).map { e =>
            e.getStackTrace.getFrames.asScala.take(12)
              .map(f => s"  ${f.getMethod.getType.getName}.${f.getMethod.getName}")
              .mkString(s"${e.getString("command")}\n", "\n", "")
          }.mkString("\n"))
    } finally Files.deleteIfExists(dump)
  }
}
