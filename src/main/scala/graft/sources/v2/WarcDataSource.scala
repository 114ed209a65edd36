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

import graft.sources.{TarArchive, WarcIO}

/** DataSource V2 front door for WARC (ISO 28500) crawl intake:
  * `spark.read.format("warc").load(dir)` — one row per WARC record
  * across every `*.warc{,.gz}` under the dir — and
  * `readStream.format("warc")` for CONTINUOUS crawl-segment arrival via
  * the shared [[SeenFileLogStream]] (per-file exactly-once across
  * restarts, the same log the tarshard/edf/ecat connectors use). The
  * crawl-native sibling of [[TarShardDataSource]], feeding
  * [[graft.operators.HtmlExtract]].
  *
  * I/O posture: one WARC file = one InputPartition (crawl segments are
  * sized for exactly this — CommonCrawl emits ~1 GiB gzip members).
  * The `payload`/`body` columns are PRUNED: a metadata-only projection
  * (record listing, URI audit, status histogram) never copies payload
  * bytes into rows, and the HTTP split only runs when an http_* or
  * body column is asked for. Gzip is detected by magic, not extension;
  * per-record gzip members inflate as one concatenated stream
  * ([[TarArchive.gunzip]], decompression-bomb-bounded).
  */
class WarcDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "warc"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WarcDataSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new WarcTable(new CaseInsensitiveStringMap(properties))
}

object WarcDataSource {
  val schema: StructType = StructType(Seq(
    StructField("warc_path", StringType, nullable = false),
    StructField("warc_name", StringType, nullable = false),
    StructField("record_type", StringType, nullable = true),
    StructField("record_id", StringType, nullable = true),
    StructField("target_uri", StringType, nullable = true),
    StructField("warc_date", StringType, nullable = true),
    StructField("content_type", StringType, nullable = true),
    StructField("content_length", LongType, nullable = false),
    StructField("http_status", IntegerType, nullable = true),
    StructField("http_content_type", StringType, nullable = true),
    StructField("body", BinaryType, nullable = true)))
}

private[v2] class WarcTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = s"warc(${options.get("path")})"
  override def schema(): StructType = WarcDataSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new WarcScanBuilder(options)
}

private[v2] class WarcScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = WarcDataSource.schema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new WarcScan(options, required)
}

private[v2] class WarcScan(
    options: CaseInsensitiveStringMap,
    required: StructType)
    extends ListedFileScan(options, "*.{warc,warc.gz}") {

  override def readSchema(): StructType = required
  override def description(): String =
    s"warc path=${options.get("path")} columns=" +
      required.fieldNames.mkString(",")

  override protected def readerFactory(
      conf: Broadcast[SerializableConfiguration]): PartitionReaderFactory =
    WarcReaderFactory(required, conf, maxRecordBytes)

  private def maxRecordBytes: Long =
    Option(options.get("maxRecordBytes")).map(_.toLong)
      .getOrElse(1L << 30)
}

private[v2] case class WarcReaderFactory(
    required: StructType, conf: Broadcast[SerializableConfiguration],
    maxRecordBytes: Long)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new WarcPartitionReader(p.asInstanceOf[ListedFile], required,
      conf.value.value, maxRecordBytes)
}

private[v2] class WarcPartitionReader(
    part: ListedFile, required: StructType,
    conf: Configuration, maxRecordBytes: Long)
    extends PartitionReader[InternalRow] {

  private val needHttp = required.fieldNames
    .exists(n => n == "http_status" || n == "http_content_type" ||
      n == "body")
  private var it: Iterator[WarcIO.Record] = _
  private var open: java.io.InputStream = _
  private var current: InternalRow = _

  /** RECORD-streaming walk: the segment is never materialized whole —
    * the raw FS stream (wrapped in a `GZIPInputStream` when the file
    * starts with the gzip magic; per-record members inflate as one
    * concatenated stream) feeds [[WarcIO.streamRecords]], so memory is
    * bounded by one record regardless of segment size. CommonCrawl
    * segments (~1 GiB gzipped, 4-5 GiB inflated) read fine; the
    * per-record `maxRecordBytes` bound (option, default 1 GiB) is the
    * decompression-bomb guard. */
  private def records(): Iterator[WarcIO.Record] = {
    val buffered = new java.io.BufferedInputStream(part.open(conf), 1 << 16)
    buffered.mark(2)
    val magic = new Array[Byte](2)
    val got = buffered.read(magic)
    buffered.reset()
    open =
      if (got == 2 && TarArchive.isGzip(magic))
        new java.util.zip.GZIPInputStream(buffered, 1 << 16)
      else buffered
    WarcIO.streamRecords(open, maxRecordBytes)
  }

  override def next(): Boolean = {
    if (it == null) it = records()
    if (!it.hasNext) return false
    val r = it.next()
    val name = new Path(part.path).getName
    // the HTTP split runs ONCE per record, and only when the
    // projection asks for an http_* or body column; non-response
    // records (warcinfo, request, metadata) carry NO HTTP message
    // body, so their body/http_* columns are null — a consumer
    // filtering on body alone never ingests non-content payloads
    val isResponse = r.field("WARC-Type").contains("response")
    val (status, httpHdrs, body) =
      if (needHttp && isResponse) WarcIO.httpParts(r.payload)
      else (None, Map.empty[String, String], null: Array[Byte])
    val out = new Array[Any](required.length)
    required.fields.zipWithIndex.foreach { case (f, i) =>
      out(i) = f.name match {
        case "warc_path" => UTF8String.fromString(part.path)
        case "warc_name" => UTF8String.fromString(name)
        case "record_type" =>
          r.field("WARC-Type").map(UTF8String.fromString).orNull
        case "record_id" =>
          r.field("WARC-Record-ID").map(UTF8String.fromString).orNull
        case "target_uri" =>
          r.field("WARC-Target-URI").map(UTF8String.fromString).orNull
        case "warc_date" =>
          r.field("WARC-Date").map(UTF8String.fromString).orNull
        case "content_type" =>
          r.field("Content-Type").map(UTF8String.fromString).orNull
        case "content_length" =>
          // the named field when present (truthful even for a record
          // whose over-bound payload was skipped), else the byte count
          r.field("Content-Length").flatMap(_.toLongOption)
            .getOrElse(r.payload.length.toLong)
        case "http_status" => status.map(Integer.valueOf).orNull
        case "http_content_type" =>
          httpHdrs.get("content-type").map(UTF8String.fromString).orNull
        case "body" => body
        case other =>
          throw new IllegalStateException(s"unknown column $other")
      }
    }
    current = new GenericInternalRow(out)
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = if (open != null) open.close()
}
