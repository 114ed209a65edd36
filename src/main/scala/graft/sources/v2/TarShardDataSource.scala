package graft.sources.v2

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.sources.TarArchive

/** DataSource V2 front door for WebDataset-style multimodal shard
  * intake: `spark.read.format("tarshard").load(dir)` — one row per tar
  * member across every shard under the dir, with the basename stem
  * exposed as `sample_id` (the WebDataset pairing key) — and
  * `readStream.format("tarshard")` for CONTINUOUS shard arrival via the
  * shared [[SeenFileLogStream]]: each micro-batch is exactly the shards
  * that appeared since the last one, per-shard exactly-once across
  * restarts. The streaming twin of the q297 batch intake, and the
  * entry point a 100 TB image-text pipeline tails all day.
  *
  * I/O posture: one shard = one InputPartition (the natural WebDataset
  * parallel unit — shards are sized for exactly this). The `content`
  * column is pruned: a metadata-only projection (member listing, size
  * audit, pairing checks) never copies payload byte arrays into rows —
  * the shard buffer is read once per partition and released, instead
  * of every member payload living on through the query. Gzip-wrapped
  * shards are detected by magic, not extension.
  */
class TarShardDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "tarshard"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TarShardDataSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new TarShardTable(new CaseInsensitiveStringMap(properties))
}

object TarShardDataSource {
  val schema: StructType = StructType(Seq(
    StructField("shard_path", StringType, nullable = false),
    StructField("shard_name", StringType, nullable = false),
    StructField("member_path", StringType, nullable = false),
    StructField("sample_id", StringType, nullable = false),
    StructField("ext", StringType, nullable = false),
    StructField("size", LongType, nullable = false),
    StructField("content", BinaryType, nullable = true)))

  private[v2] def stem(memberPath: String): String = {
    val base = memberPath.substring(memberPath.lastIndexOf('/') + 1)
    val dot = base.indexOf('.')
    if (dot < 0) base else base.substring(0, dot)
  }

  private[v2] def ext(memberPath: String): String = {
    val base = memberPath.substring(memberPath.lastIndexOf('/') + 1)
    val dot = base.lastIndexOf('.')
    if (dot < 0) "" else base.substring(dot + 1)
  }
}

private[v2] class TarShardTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = s"tarshard(${options.get("path")})"
  override def schema(): StructType = TarShardDataSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new TarShardScanBuilder(options)
}

private[v2] class TarShardScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = TarShardDataSource.schema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new TarShardScan(options, required)
}

private[v2] class TarShardScan(
    options: CaseInsensitiveStringMap,
    required: StructType)
    extends ListedFileScan(options, "*.{tar,tar.gz,tgz}") {

  override def readSchema(): StructType = required
  override def description(): String =
    s"tarshard path=${options.get("path")} columns=" +
      required.fieldNames.mkString(",")

  override protected def readerFactory(
      conf: Broadcast[SerializableConfiguration]): PartitionReaderFactory =
    TarShardReaderFactory(required, conf)
}

private[v2] case class TarShardReaderFactory(
    required: StructType, conf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new TarShardPartitionReader(p.asInstanceOf[ListedFile], required,
      conf.value.value)
}

private[v2] class TarShardPartitionReader(
    part: ListedFile, required: StructType,
    conf: Configuration) extends PartitionReader[InternalRow] {

  private val needContent = required.fieldNames.contains("content")
  private var it: Iterator[(String, Long, Array[Byte])] = _
  private var current: InternalRow = _

  /** (member_path, size, payload-or-null) for every regular-file
    * member; payloads only materialize when the projection asks. */
  private def members(): Iterator[(String, Long, Array[Byte])] = {
    // a >2 GB shard would silently truncate length.toInt negative and
    // kill the stage with NegativeArraySizeException — fail descriptive
    // instead (WebDataset convention keeps shards ~100 MB-1 GB)
    require(part.length <= Int.MaxValue.toLong,
      s"tarshard member ${part.path} is ${part.length} bytes; shards " +
        "over 2 GiB are not supported by the in-memory walker — " +
        "re-shard the archive (WebDataset convention is <= 1 GiB/shard)")
    val buf = part.readBytes(conf, part.length.toInt)
    val tar = if (TarArchive.isGzip(buf)) TarArchive.gunzip(buf) else buf
    TarArchive.listEntries(tar).iterator
      .filter(_.typeflag == '0')
      .map(e => (e.path, e.data.length.toLong,
        if (needContent) e.data else null))
  }

  override def next(): Boolean = {
    if (it == null) it = members()
    if (!it.hasNext) return false
    val (mp, size, data) = it.next()
    val name = new Path(part.path).getName
    val out = new Array[Any](required.length)
    required.fields.zipWithIndex.foreach { case (f, i) =>
      out(i) = f.name match {
        case "shard_path" => UTF8String.fromString(part.path)
        case "shard_name" => UTF8String.fromString(name)
        case "member_path" => UTF8String.fromString(mp)
        case "sample_id" =>
          UTF8String.fromString(TarShardDataSource.stem(mp))
        case "ext" => UTF8String.fromString(TarShardDataSource.ext(mp))
        case "size" => size
        case "content" => data
        case other =>
          throw new IllegalStateException(s"unknown column $other")
      }
    }
    current = new GenericInternalRow(out)
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = ()
}
