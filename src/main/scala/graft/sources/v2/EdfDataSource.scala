package graft.sources.v2

import java.util

import org.apache.hadoop.conf.Configuration

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, In}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.sources.EdfReader

/** DataSource V2 front door for the S14 EDF reader:
  * `spark.read.format("edf").load(dir)` (registered via
  * `META-INF/services`, or by fully-qualified class name). One row per
  * non-annotation channel, same schema as [[EdfReader.EdfChannel]], so it
  * drops into the existing `channelArraysToLong` → `EphysChunker` path.
  *
  * Why a connector and not just the `binaryFile`-based [[EdfReader.channels]]:
  * the V2 scan surfaces the two scan-time optimizations Catalyst can only
  * apply through the connector API —
  *  - **column pruning** ([[SupportsPushDownRequiredColumns]]): when
  *    `values` is not in the required schema (catalog/metadata queries
  *    over raw recordings), the reader fetches ONLY the ASCII header
  *    (256 + ns·256 bytes) and never touches the sample region —
  *    `n_samples` comes from the file length in the `FileStatus` already
  *    collected at planning. A metadata sweep over a 100 TB recording
  *    archive reads megabytes, not terabytes.
  *  - **channel-skip on pushed predicates**: `channel = 'C3'` /
  *    `channel IN (…)` reach [[EdfScanBuilder.pushFilters]]; matching is
  *    done post-scan by Spark (the filters are all returned as residuals,
  *    so semantics never depend on the skip) but the reader drops
  *    non-matching channels before materializing rows.
  *
  * Partition planning is one [[InputPartition]] per file (driver-side
  * glob, same listing the reference's `edf_to_chunks.py` does per upload):
  * a recording archive of N files fans out to N independent tasks with no
  * shuffle; record-range splitting inside one file is not needed because
  * the row granularity is a whole channel. Files beyond 2 GiB fail closed
  * (empty, like every hardened reader here); EDF's int16 records and the
  * reference's per-upload file sizes keep real inputs far below that.
  */
class EdfDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "edf"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    EdfDataSource.schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new EdfTable(new CaseInsensitiveStringMap(properties))
}

object EdfDataSource {
  val schema: StructType = StructType(Seq(
    StructField("file_path", StringType, nullable = false),
    StructField("channel", StringType, nullable = false),
    StructField("sampling_rate_hz", DoubleType, nullable = false),
    StructField("n_samples", LongType, nullable = false),
    StructField("values", ArrayType(DoubleType, containsNull = false),
      nullable = false)))
}

private[v2] class EdfTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = s"edf(${options.get("path")})"
  override def schema(): StructType = EdfDataSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new EdfScanBuilder(options)
}

private[v2] class EdfScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters {
  private var required: StructType = EdfDataSource.schema
  private var channelKeep: Option[Set[String]] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val keeps = filters.collect {
      case EqualTo("channel", v: String) => Set(v)
      case In("channel", vs) if vs.forall(_.isInstanceOf[String]) =>
        vs.iterator.map(_.asInstanceOf[String]).toSet
    }
    if (keeps.nonEmpty) channelKeep = Some(keeps.reduce(_ intersect _))
    filters // ALL residual: the skip is a decode shortcut, never semantics
  }
  override def pushedFilters(): Array[Filter] = Array.empty

  override def build(): Scan = new EdfScan(options, required, channelKeep)
}

private[v2] class EdfScan(
    options: CaseInsensitiveStringMap,
    required: StructType,
    channelKeep: Option[Set[String]])
    extends ListedFileScan(options, "*.edf") {

  override def readSchema(): StructType = required
  override def description(): String =
    s"edf path=${options.get("path")} columns=" +
      required.fieldNames.mkString(",") +
      channelKeep.fold("")(k => s" channelKeep=${k.mkString(",")}")

  override protected def readerFactory(
      conf: Broadcast[SerializableConfiguration]): PartitionReaderFactory =
    EdfReaderFactory(required, channelKeep, conf)
}

private[v2] case class EdfReaderFactory(
    required: StructType,
    channelKeep: Option[Set[String]],
    conf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new EdfPartitionReader(
      p.asInstanceOf[ListedFile], required, channelKeep, conf.value.value)
}

/** Per-file reader. All parsing is delegated to [[EdfReader]] so the
  * connector and the `binaryFile` path can never drift; malformed bytes
  * yield zero rows, matching [[EdfReader.channels]]. */
private[v2] class EdfPartitionReader(
    part: ListedFile,
    required: StructType,
    channelKeep: Option[Set[String]],
    conf: Configuration) extends PartitionReader[InternalRow] {

  private var iter: Iterator[InternalRow] = _
  private var current: InternalRow = _

  /** (label, rate, n_samples, values-or-null). Header-only when `values`
    * is pruned away: reads 256 bytes, then the ns×256 signal block —
    * the sample region is never fetched. */
  private def channels(): Seq[(String, Double, Long, Array[Double])] = {
    if (part.length < 256 || part.length > Int.MaxValue - 8) return Seq.empty
    val needValues = required.fieldNames.contains("values")
    if (needValues) {
      EdfReader.signalTraces(part.readBytes(conf, part.length.toInt))
        .map { case (l, r, v) => (l, r, v.length.toLong, v) }
    } else {
      val header = try {
        val in = part.open(conf)
        try {
          val head = new Array[Byte](256)
          in.readFully(0, head)
          val declared = // total header bytes field, offset 184, len 8
            new String(head, 184, 8, java.nio.charset.StandardCharsets.US_ASCII)
              .trim.toInt
          if (declared < 256 || declared > part.length) None
          else {
            val full = new Array[Byte](declared)
            System.arraycopy(head, 0, full, 0, 256)
            in.readFully(256, full, 256, declared - 256)
            Some(full)
          }
        } finally in.close()
      } catch { case _: Exception => None }
      header.flatMap(EdfReader.parseHeader) match {
        case None => Seq.empty
        case Some(h) =>
          val bytesPerRecord = h.signals.map(_.samplesPerRecord.toLong * 2).sum
          if (bytesPerRecord == 0) Seq.empty
          else {
            val nRec = math.min(
              if (h.nRecords >= 0) h.nRecords.toLong else Long.MaxValue,
              (part.length - h.headerBytes) / bytesPerRecord)
            h.signals.filterNot(_.isAnnotation).map(s =>
              (s.label, h.samplingRateHz(s),
                nRec * s.samplesPerRecord, null))
          }
      }
    }
  }

  override def next(): Boolean = {
    if (iter == null) {
      val kept = channelKeep match {
        case Some(ks) => channels().filter(c => ks(c._1))
        case None => channels()
      }
      iter = kept.iterator.map { case (label, rate, n, vals) =>
        val out = new Array[Any](required.length)
        var i = 0
        required.fields.foreach { f =>
          out(i) = f.name match {
            case "file_path" => UTF8String.fromString(part.path)
            case "channel" => UTF8String.fromString(label)
            case "sampling_rate_hz" => rate
            case "n_samples" => n
            case "values" => new GenericArrayData(vals)
            case other => throw new IllegalStateException(
              s"unknown column $other")
          }
          i += 1
        }
        new GenericInternalRow(out): InternalRow
      }
    }
    if (iter.hasNext) { current = iter.next(); true } else false
  }

  override def get(): InternalRow = current
  override def close(): Unit = ()
}
