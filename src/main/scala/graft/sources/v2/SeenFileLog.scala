package graft.sources.v2

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, Path}

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}

/** One listed file = one partition, shared by every file-granular
  * connector here (EDF, ECAT, tarshard, WARC). */
private[v2] case class ListedFile(path: String, length: Long)
    extends InputPartition {

  /** The file name, the last element of `path`. */
  @transient lazy val name: String = new Path(path).getName

  /** Opens the file through `conf`, the executor's copy of the scan's. */
  def open(conf: Configuration): FSDataInputStream = {
    val p = new Path(path)
    p.getFileSystem(conf).open(p)
  }

  /** The first `n` bytes of the file. */
  def readBytes(conf: Configuration, n: Int): Array[Byte] = {
    val buf = new Array[Byte](n)
    val in = open(conf)
    try in.readFully(0, buf) finally in.close()
    buf
  }
}

private[v2] case class SeenFileOffset(version: Long) extends Offset {
  override def json(): String = version.toString
}

/** Micro-batch streaming over an append-only file directory — the
  * Spark-native form of the reference's pick-up-what-the-pipeline-has-
  * not-run-on-yet cron jobs (`imaging_upload_file_cronjob.pl`,
  * `tools/petupload_cron_prod`): each micro-batch is exactly the files
  * that appeared since the last one.
  *
  * Progress tracking is a versioned seen-file log under the query's own
  * checkpoint directory (the FileStreamSource design on the public
  * connector API): segment file `n` lists the files first seen at offset
  * `n`, written atomically (dotted temp + rename) BEFORE the offset is
  * returned, so the offset itself stays a bare version number —
  * segments scale with arrival batches, never with archive size — and a
  * restart replays exactly the uncommitted batch: per-file exactly-once.
  * The log is re-read from storage on every trigger, so concurrent
  * restarts always see the durable truth; a batch opens only its own
  * segments, and the latest offset comes from segment names alone.
  *
  * The driver-side log and listing share one Hadoop conf, the scan's
  * (see [[ListedFileScan]]), with the log's FileSystem resolved once per
  * stream. Format-specific behavior is entirely in the injected
  * [[PartitionReaderFactory]], which is the same one the batch scan
  * uses, pruning included; it carries the conf to executors as one
  * broadcast. */
private[v2] class SeenFileLogStream(
    listFiles: () => Seq[ListedFile],
    conf: Configuration,
    checkpointLocation: String,
    factory: PartitionReaderFactory)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  private val logDir = new Path(checkpointLocation, "seen-files")
  private val fs = logDir.getFileSystem(conf)

  /** Published segment versions, from the file names alone. */
  private def versions(): Seq[Long] =
    if (!fs.exists(logDir)) Seq.empty
    else fs.listStatus(logDir).toSeq
      .filter(s => s.isFile && s.getPath.getName.matches("[0-9]+"))
      .map(_.getPath.getName.toLong)

  /** The files first seen at `version` (none if it was never published). */
  private def segment(version: Long): Seq[ListedFile] = {
    val body = try {
      val in = fs.open(new Path(logDir, version.toString))
      try new String(in.readAllBytes(), UTF_8) finally in.close()
    } catch { case _: java.io.FileNotFoundException => "" }
    body.split("\n").filter(_.nonEmpty).toSeq.map { line =>
      val Array(len, path) = line.split("\t", 2)
      ListedFile(path, len.toLong)
    }
  }

  private def advance(): SeenFileOffset = {
    val published = versions()
    val seen = published.flatMap(segment).map(_.path).toSet
    val fresh = listFiles().filterNot(p => seen(p.path))
    val maxVersion = published.maxOption.getOrElse(0L)
    if (fresh.isEmpty) SeenFileOffset(maxVersion)
    else {
      fs.mkdirs(logDir)
      val next = maxVersion + 1
      val tmp = new Path(logDir, s".$next.tmp")
      val out = fs.create(tmp, true)
      try out.write(fresh.map(p => s"${p.length}\t${p.path}")
        .mkString("\n").getBytes(UTF_8))
      finally out.close()
      // atomic publish: a crash before this rename leaves only the dotted
      // temp file, which versions() ignores
      if (!fs.rename(tmp, new Path(logDir, next.toString)))
        throw new java.io.IOException(s"cannot publish seen-file segment $next")
      SeenFileOffset(next)
    }
  }

  // Trigger.AvailableNow: freeze the target offset once, drain up to it
  private var frozen: Option[SeenFileOffset] = None
  override def prepareForTriggerAvailableNow(): Unit = frozen = Some(advance())

  override def initialOffset(): Offset = SeenFileOffset(0L)
  override def latestOffset(): Offset = frozen.getOrElse(advance())
  // rate limiting has no meaning for whole-file rows: every limit admits
  // the full arrival set
  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    frozen.getOrElse(advance())
  override def reportLatestOffset(): Offset =
    frozen.getOrElse(SeenFileOffset(versions().maxOption.getOrElse(0L)))
  override def deserializeOffset(json: String): Offset =
    SeenFileOffset(json.toLong)

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val s = start.asInstanceOf[SeenFileOffset].version
    val e = end.asInstanceOf[SeenFileOffset].version
    ((s + 1) to e).flatMap(segment).map(p => p: InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = factory
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
