package graft.sources.v2

import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.{FileSystem, Path}

import graft.SparkSpec
import graft.sources.SyntheticFixtures

/** The transactional object publish: staged writes, driver-side commit
  * (rename + manifest-last), staging swept, last-writer-wins replace. */
class ObjectStoreWriteSpec extends SparkSpec {

  private def push(bucket: String, rows: Seq[(String, Array[Byte])]): Unit = {
    import spark.implicits._
    rows.toDF("dest_name", "content")
      .write.format("objectstore").option("path", bucket)
      .mode("append").save()
  }

  test("round trip: objects published, manifest lists every object") {
    val bucket = SyntheticFixtures.freshDir("osw_bucket")
    push(bucket, Seq(
      "a.txt" -> "alpha".getBytes("UTF-8"),
      "sub/c.txt" -> "gamma".getBytes("UTF-8")))
    assert(new String(Files.readAllBytes(Paths.get(bucket, "a.txt")),
      "UTF-8") == "alpha")
    assert(new String(Files.readAllBytes(Paths.get(bucket, "sub/c.txt")),
      "UTF-8") == "gamma")
    val manifest = new String(Files.readAllBytes(
      Paths.get(bucket, ObjectStoreWriteSource.ManifestName)), "UTF-8")
    val lines = manifest.split("\n").toSeq
    assert(lines == Seq(
      s"a.txt\t${ObjectStoreWriteSource.md5Hex("alpha".getBytes)}\t5",
      s"sub/c.txt\t${ObjectStoreWriteSource.md5Hex("gamma".getBytes)}\t5"))
  }

  test("no staging debris survives the commit") {
    val bucket = SyntheticFixtures.freshDir("osw_clean")
    push(bucket, Seq("x.bin" -> Array[Byte](1, 2, 3)))
    val names = Files.list(Paths.get(bucket)).toArray
      .map(_.toString.split("/").last).toSet
    assert(names == Set("x.bin", ObjectStoreWriteSource.ManifestName))
  }

  test("publish replaces an existing object (last writer wins)") {
    val bucket = SyntheticFixtures.freshDir("osw_replace")
    Files.write(Paths.get(bucket, "a.txt"), "OLD".getBytes("UTF-8"))
    push(bucket, Seq("a.txt" -> "NEW".getBytes("UTF-8")))
    assert(new String(Files.readAllBytes(Paths.get(bucket, "a.txt")),
      "UTF-8") == "NEW")
  }

  test("unsafe object names are rejected before any byte is written") {
    val bucket = SyntheticFixtures.freshDir("osw_unsafe")
    val err = intercept[Exception] {
      push(bucket, Seq("../escape.txt" -> "x".getBytes("UTF-8")))
    }
    assert(err.getMessage != null)
    // nothing published, no manifest
    assert(!Files.exists(Paths.get(bucket,
      ObjectStoreWriteSource.ManifestName)))
    assert(!Files.exists(Paths.get(bucket).getParent.resolve("escape.txt")))
  }

  test("a write leaves the JVM's cached file: FileSystem writing .crc " +
      "sidecars") {
    push(SyntheticFixtures.freshDir("osw_crc_bucket"),
      Seq("x.bin" -> Array[Byte](1)))
    val dir = SyntheticFixtures.freshDir("osw_crc_after")
    val fs = FileSystem.get(new URI("file:///"),
      spark.sessionState.newHadoopConf())
    val out = fs.create(new Path(s"file://$dir/after.txt"), true)
    try out.write("after".getBytes("UTF-8")) finally out.close()
    assert(Files.exists(Paths.get(dir, ".after.txt.crc")),
      Files.list(Paths.get(dir)).toArray.mkString(", "))
  }
}
