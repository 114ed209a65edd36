package graft.sources.v2

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.SparkSpec
import graft.sources.SyntheticFixtures

/** The seen-file log reads only what a call needs: a batch opens only
  * the segments of its own offset range, and the latest offset comes
  * from segment names, never from their bodies. */
class SeenFileLogSpec extends SparkSpec {

  test("planInputPartitions opens only segments start+1..end; " +
      "reportLatestOffset reads no segment body") {
    val dir = SyntheticFixtures.freshDir("seenlog_src")
    val ckpt = SyntheticFixtures.freshDir("seenlog_ckpt")
    spark // the scan takes the active session's Hadoop conf
    val stream = new EdfScan(
      new CaseInsensitiveStringMap(java.util.Map.of("path", dir)),
      EdfDataSource.schema, None).toMicroBatchStream(ckpt)
      .asInstanceOf[SeenFileLogStream]
    def arrive(name: String): Unit =
      Files.write(Paths.get(dir, name), SyntheticFixtures.recordingBytes())
    arrive("a.edf")
    assert(stream.latestOffset() == SeenFileOffset(1))
    arrive("b.edf")
    assert(stream.latestOffset() == SeenFileOffset(2))
    assert(stream.latestOffset() == SeenFileOffset(2)) // nothing new

    // a segment body that no longer parses (nor matches its checksum):
    // any call that opens it fails
    def spoil(version: Int): Unit = Files.write(
      Paths.get(ckpt, "seen-files", version.toString),
      "not a segment line".getBytes("UTF-8"))
    spoil(1)
    val parts = stream.planInputPartitions(SeenFileOffset(1), SeenFileOffset(2))
    assert(parts.toSeq.map(_.asInstanceOf[ListedFile].path.split('/').last)
      == Seq("b.edf"))
    spoil(2)
    assert(stream.reportLatestOffset() == SeenFileOffset(2))
    intercept[Exception](
      stream.planInputPartitions(SeenFileOffset(0), SeenFileOffset(1)))
  }
}
