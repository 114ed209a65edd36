package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

/** S11 — object-store sink (SURVEY.md §2.1): the reference's S3 push
  * pipeline (`python/lib/aws_s3.py:93-158`,
  * `push_imaging_files_to_s3_pipeline.py`) re-expressed over the Hadoop
  * filesystem abstraction: the SAME code drives `s3a://` buckets in
  * production and a `file://` directory in this sandbox (no object store
  * here — the scheme is the only difference, which is the point of the
  * abstraction).
  *
  * Reference semantics preserved:
  *   - upload skips a destination whose CONTENT already matches (the
  *     ETag/md5 precondition in `check_object_content_exists`),
  *   - an existing-but-different destination is skipped unless `force`,
  *     which deletes then re-uploads (`upload_dir`'s --force),
  *   - after upload the catalog rows swap local paths for bucket URLs
  *     ([[graft.functions.BidsPath.s3PathRewrite]]) and local files are
  *     optionally deleted (`push to S3 then delete local` lifecycle).
  *
  * Distribution shape: one upload task per file via `mapPartitions` over
  * the file manifest — partition-parallel, no driver-side loop, nothing
  * shuffles (the manifest is paths + status strings, never file bytes).
  */
object ObjectStore {

  val Uploaded = "uploaded"
  val SkippedSameContent = "skipped_same_content"
  val SkippedExists = "skipped_exists"

  private def md5Of(fs: org.apache.hadoop.fs.FileSystem, p: Path): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val in = fs.open(p)
    try {
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      while (n >= 0) {
        md.update(buf, 0, n)
        n = in.read(buf)
      }
    } finally in.close()
    md.digest().map(b => f"$b%02x").mkString
  }

  /** One file: reference `upload_file` + `upload_dir` force handling.
    * Returns the action taken. Any-scheme source and destination. */
  def uploadFile(conf: org.apache.hadoop.conf.Configuration,
      localPath: String, destUrl: String, force: Boolean): String = {
    val src = new Path(localPath)
    val dst = new Path(destUrl)
    val srcFs = src.getFileSystem(conf)
    val dstFs = dst.getFileSystem(conf)
    val action =
      if (!dstFs.exists(dst)) Uploaded
      else if (md5Of(srcFs, src) == md5Of(dstFs, dst)) SkippedSameContent
      else if (!force) SkippedExists
      else { dstFs.delete(dst, false); Uploaded }
    if (action == Uploaded) {
      dstFs.mkdirs(dst.getParent)
      org.apache.hadoop.fs.FileUtil.copy(
        srcFs, src, dstFs, dst, false, true, conf)
    }
    action
  }

  /** Distributed `upload_dir`: every file under `localDir` lands at
    * `bucketUrl/<relative path>`, uploads partition-parallel. Returns the
    * manifest (local_path, dest_url, action) — callers audit skips the
    * same way [[graft.operators.Similarity.skippedClusters]] audits
    * cluster shedding. */
  def uploadDir(spark: SparkSession, localDir: String, bucketUrl: String,
      force: Boolean = false): DataFrame = {
    import spark.implicits._
    val conf = new SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val base = bucketUrl.stripSuffix("/")
    // decoded filesystem path of the scan root — binaryFile paths are
    // percent-encoded URI strings, not raw paths
    val baseLocal = DicomSource.pathOf(localDir).toUri.getPath
    val manifest = DicomSource.scanDir(spark, localDir, "*")
      .select(col("path")).as[String]
      .map { p =>
        val local = DicomSource.pathOf(p).toUri.getPath
        val rel = local.stripPrefix(baseLocal).stripPrefix("/")
        (local, s"$base/$rel")
      }
      .toDF("local_path", "dest_url")
    manifest.as[(String, String)].mapPartitions { it =>
      it.map { case (local, dest) =>
        (local, dest, uploadFile(conf.value, local, dest, force))
      }
    }.toDF("local_path", "dest_url", "action")
  }

  /** The push pipeline's tail: upload, swap the catalog's local paths for
    * bucket URLs, and (optionally) delete the now-redundant local files —
    * the reference's "update DB then clean data_dir" step.
    *
    * The upload manifest is MATERIALIZED here (uploads are a side effect a
    * lazy plan would silently skip), and a path only swaps when its upload
    * landed or already matched — a `SkippedExists` file (destination
    * diverged, no force) keeps its local path, so the catalog never points
    * at a stale remote object while the authoritative local copy exists. */
  def pushAndSwap(spark: SparkSession, catalog: DataFrame, pathCol: String,
      localDir: String, bucketUrl: String, force: Boolean = false,
      deleteLocal: Boolean = false): DataFrame = {
    import spark.implicits._
    // executing the manifest IS the upload: cut it eagerly, once. A cut,
    // not a cache: a lost block fails the query instead of re-running the
    // upload, which would report every file as skipped_same_content
    val manifest = uploadDir(spark, localDir, bucketUrl, force)
      .localCheckpoint(true)
    val conf = new SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val pushed = manifest.filter(col("action") =!= SkippedExists)
    if (deleteLocal) {
      pushed.select(col("local_path")).as[String]
        .foreachPartition { it: Iterator[String] =>
          it.foreach { p =>
            val path = new Path(p)
            path.getFileSystem(conf.value).delete(path, false)
          }
        }
    }
    swapPaths(catalog, pathCol, manifest)
  }

  /** The catalog-update step alone, over an already-executed upload
    * manifest: rows whose upload landed (or already matched) point at the
    * bucket URL; a `SkippedExists` row keeps its local path (the
    * destination diverged and was not forced — the catalog must not point
    * at a stale object). Public so a caller that needs BOTH the manifest
    * and the swapped catalog (audit + update, the reference's runinsert
    * then update pattern) runs the upload exactly once. */
  def swapPaths(catalog: DataFrame, pathCol: String,
      manifest: DataFrame): DataFrame = {
    val swap = manifest.filter(col("action") =!= SkippedExists)
      .select(col("local_path"), col("dest_url"))
    catalog
      .join(broadcast(swap), catalog(pathCol) === swap("local_path"), "left")
      .withColumn(pathCol, coalesce(col("dest_url"), col(pathCol)))
      .drop("local_path", "dest_url")
  }
}
