package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** S11 [[ObjectStore]] — the S3 push semantics (content-match skip,
  * force-replace, path swap, delete-local) driven through the filesystem
  * abstraction with a local directory standing in for the bucket. */
class ObjectStoreSpec extends SparkSpec {

  private def tmpDir(name: String): String =
    Files.createTempDirectory(s"graft_$name").toString

  private def write(dir: String, rel: String, content: String): String = {
    val p = Paths.get(dir, rel)
    Files.createDirectories(p.getParent)
    Files.write(p, content.getBytes("UTF-8"))
    p.toString
  }

  private val conf = new org.apache.hadoop.conf.Configuration()

  test("uploadFile: new, same-content skip, exists skip, force replace") {
    val src = tmpDir("src"); val bucket = tmpDir("bucket")
    val f = write(src, "a.txt", "v1")
    val dest = s"$bucket/sub/a.txt"
    assert(ObjectStore.uploadFile(conf, f, dest, force = false)
      == ObjectStore.Uploaded)
    assert(new String(Files.readAllBytes(Paths.get(bucket, "sub/a.txt"))) == "v1")
    // identical content -> ETag-style skip
    assert(ObjectStore.uploadFile(conf, f, dest, force = false)
      == ObjectStore.SkippedSameContent)
    // changed local, no force -> destination untouched
    write(src, "a.txt", "v2")
    assert(ObjectStore.uploadFile(conf, f, dest, force = false)
      == ObjectStore.SkippedExists)
    assert(new String(Files.readAllBytes(Paths.get(bucket, "sub/a.txt"))) == "v1")
    // force -> delete + re-upload
    assert(ObjectStore.uploadFile(conf, f, dest, force = true)
      == ObjectStore.Uploaded)
    assert(new String(Files.readAllBytes(Paths.get(bucket, "sub/a.txt"))) == "v2")
  }

  test("uploadDir: relative layout preserved, manifest audits every file") {
    val src = tmpDir("src2"); val bucket = tmpDir("bucket2")
    write(src, "sub-01/anat/scan.nii", "NIFTI")
    write(src, "participants.tsv", "id\n01\n")
    val m = ObjectStore.uploadDir(spark, src, s"file:$bucket")
      .collect().map(r => (r.getString(1), r.getString(2))).toMap
    assert(m.values.forall(_ == ObjectStore.Uploaded) && m.size == 2)
    assert(Files.exists(Paths.get(bucket, "sub-01/anat/scan.nii")))
    assert(Files.exists(Paths.get(bucket, "participants.tsv")))
    // second run: everything content-matches
    val again = ObjectStore.uploadDir(spark, src, s"file:$bucket")
      .collect().map(_.getString(2))
    assert(again.forall(_ == ObjectStore.SkippedSameContent))
  }

  test("pushAndSwap uploads with deleteLocal=false; diverged dest keeps " +
      "the local path unswapped") {
    import spark.implicits._
    val src = tmpDir("src4"); val bucket = tmpDir("bucket4")
    val local = write(src, "a.txt", "v1")
    val catalog = Seq((1L, local)).toDF("file_id", "file_path")
    // the default (no delete) path must still EXECUTE the uploads
    val out1 = ObjectStore.pushAndSwap(spark, catalog, "file_path",
        src, s"file:$bucket")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(new String(Files.readAllBytes(Paths.get(bucket, "a.txt"))) == "v1")
    assert(out1(1L) == s"file:$bucket/a.txt")
    assert(Files.exists(Paths.get(local))) // deleteLocal=false keeps it
    // destination diverges from a changed local, no force: upload is
    // skipped AND the catalog keeps pointing at the authoritative local
    write(src, "a.txt", "v2")
    val out2 = ObjectStore.pushAndSwap(spark, catalog, "file_path",
        src, s"file:$bucket")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out2(1L) == local)
    assert(new String(Files.readAllBytes(Paths.get(bucket, "a.txt"))) == "v1")
  }

  test("pushAndSwap leaves no cached manifest behind") {
    import spark.implicits._
    val src = tmpDir("src5"); val bucket = tmpDir("bucket5")
    val local = write(src, "a.txt", "v1")
    spark.catalog.clearCache()
    val out = ObjectStore.pushAndSwap(spark,
        Seq((1L, local)).toDF("file_id", "file_path"), "file_path",
        src, s"file:$bucket")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == s"file:$bucket/a.txt")
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("pushAndSwap: catalog paths swapped, locals deleted after upload") {
    import spark.implicits._
    val src = tmpDir("src3"); val bucket = tmpDir("bucket3")
    val local = write(src, "sub-01/eeg/rec.edf", "EDFBYTES")
    val catalog = Seq((1L, local), (2L, "/unrelated/elsewhere.txt"))
      .toDF("file_id", "file_path")
    // file: scheme stands in for s3a:// — same code path, only the URL
    // scheme differs (the sandbox has no object store)
    val out = ObjectStore.pushAndSwap(spark, catalog, "file_path",
        src, s"file:$bucket", deleteLocal = true)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == s"file:$bucket/sub-01/eeg/rec.edf")
    assert(out(2L) == "/unrelated/elsewhere.txt") // non-matching untouched
    assert(new String(Files.readAllBytes(
      Paths.get(bucket, "sub-01/eeg/rec.edf"))) == "EDFBYTES")
    assert(!Files.exists(Paths.get(local)))       // local deleted
  }
}
