package graft.sources.v2

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** Transactional object-store publish as a DataSource V2 write:
  * `df.select(dest_name, content).write.format("objectstore")
  * .option("path", bucket).mode("append").save()`.
  *
  * The S11 sink ([[graft.sources.ObjectStore.uploadDir]]) mirrors the
  * reference's `aws_s3.py upload_dir` — per-file best effort, a crash
  * mid-job leaves a partially pushed bucket. This connector is the
  * two-phase upgrade the reference cannot express: executors stream every
  * object to a job-scoped staging prefix, task COMMIT MESSAGES carry
  * (name, staged path, md5, size) back to the driver, and only the
  * driver-side job commit publishes — rename staged → final, then write
  * the `_MANIFEST` object last. A reader that requires `_MANIFEST` sees
  * the push all-or-nothing; a failed job leaves nothing outside
  * `.staging-*`. Task retries/speculation are safe for free: Spark
  * commits ONE attempt's message, and the job commit publishes only
  * staged paths named by committed messages before deleting the whole
  * staging prefix (losing attempts included).
  *
  * Scale posture: one writer per partition streams bytes executor-side
  * (the manifest rows, never the content, travel to the driver); the
  * only driver work is renames — metadata operations on the store.
  */
class ObjectStoreWriteSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "objectstore"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ObjectStoreWriteSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new ObjectStoreTable(new CaseInsensitiveStringMap(properties))
}

object ObjectStoreWriteSource {
  val schema: StructType = StructType(Seq(
    StructField("dest_name", StringType, nullable = false),
    StructField("content", BinaryType, nullable = false)))
  val ManifestName = "_MANIFEST"

  private[v2] def md5Hex(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(bytes)
      .map(b => f"$b%02x").mkString
}

private[v2] class ObjectStoreTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsWrite {
  override def name(): String = s"objectstore(${options.get("path")})"
  override def schema(): StructType = ObjectStoreWriteSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val bucket = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("objectstore sink requires a path"))
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new ObjectStoreBatchWrite(bucket, info.queryId())
      }
    }
  }
}

private[v2] case class StagedObject(
    name: String, stagedPath: String, md5: String, size: Long)
private[v2] case class ObjectStoreCommitMessage(objects: Seq[StagedObject])
    extends WriterCommitMessage

/** A FileSystem for `path` that the caller alone owns and must close, with
  * local-FS `.crc` sidecars off so none land in the bucket. It is not
  * Hadoop's JVM-wide cached instance (`Path.getFileSystem`): turning the
  * flag off on that one would drop the checksum of every later `file:`
  * write in the JVM. */
private[v2] object ObjectStoreFs {
  def open(path: Path, conf: Configuration): FileSystem = {
    val fs = FileSystem.newInstance(path.toUri, conf)
    fs.setWriteChecksum(false)
    fs
  }
}

/** The session's Hadoop conf is taken once per write: the driver-side
  * job commit/abort open their FileSystem from it, and the writers get
  * it as one broadcast [[SerializableConfiguration]]. */
private[v2] class ObjectStoreBatchWrite(bucket: String, writeId: String)
    extends BatchWrite {

  private val session = SparkSession.active
  private val conf = session.sessionState.newHadoopConf()
  private def stagingRoot = new Path(bucket, s".staging-$writeId")
  private def withFs(body: FileSystem => Unit): Unit = {
    val fs = ObjectStoreFs.open(new Path(bucket), conf)
    try body(fs) finally fs.close()
  }

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory =
    ObjectStoreWriterFactory(bucket, writeId,
      session.sparkContext.broadcast(new SerializableConfiguration(conf)))

  override def commit(messages: Array[WriterCommitMessage]): Unit = withFs { fs =>
    val committed = messages.collect {
      case m: ObjectStoreCommitMessage => m.objects
    }.flatten.toSeq
    // publish: rename staged → final (last-writer-wins like a real
    // object PUT), parents created, pre-existing objects replaced
    committed.foreach { o =>
      val dst = new Path(bucket, o.name)
      Option(dst.getParent).foreach(fs.mkdirs(_))
      if (fs.exists(dst)) fs.delete(dst, false)
      if (!fs.rename(new Path(o.stagedPath), dst))
        throw new java.io.IOException(s"cannot publish ${o.name}")
    }
    // the manifest goes LAST: its presence is the all-or-nothing marker
    val manifest = committed.sortBy(_.name)
      .map(o => s"${o.name}\t${o.md5}\t${o.size}").mkString("\n")
    val out = fs.create(
      new Path(bucket, ObjectStoreWriteSource.ManifestName), true)
    try out.write(manifest.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fs.delete(stagingRoot, true) // sweeps losing task attempts too
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    withFs(_.delete(stagingRoot, true)) // nothing was published
}

private[v2] case class ObjectStoreWriterFactory(
    bucket: String, writeId: String,
    conf: Broadcast[SerializableConfiguration])
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] =
    new ObjectStoreDataWriter(bucket, writeId, partitionId, taskId,
      conf.value.value)
}

private[v2] class ObjectStoreDataWriter(
    bucket: String, writeId: String, partitionId: Int, taskId: Long,
    conf: Configuration) extends DataWriter[InternalRow] {

  // attempt-scoped staging dir: a speculative twin never collides
  private val taskDir =
    new Path(new Path(bucket, s".staging-$writeId"), s"$partitionId-$taskId")
  private val fs = ObjectStoreFs.open(taskDir, conf)
  private var staged = List.empty[StagedObject]

  override def write(row: InternalRow): Unit = {
    val name = row.getUTF8String(0).toString
    val content = row.getBinary(1)
    require(!name.startsWith("/") && !name.split("/").contains(".."),
      s"unsafe object name: $name")
    val dst = new Path(taskDir, name)
    Option(dst.getParent).foreach(fs.mkdirs(_))
    val out = fs.create(dst, true)
    try out.write(content) finally out.close()
    staged ::= StagedObject(name, dst.toString,
      ObjectStoreWriteSource.md5Hex(content), content.length.toLong)
  }

  override def commit(): WriterCommitMessage =
    ObjectStoreCommitMessage(staged.reverse)

  override def abort(): Unit = fs.delete(taskDir, true)
  override def close(): Unit = fs.close()
}
