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

import graft.sources.EcatReader

/** DataSource V2 front door for the ECAT7 main-header reader:
  * `spark.read.format("ecat").load(dir)` — one row per `.v` file with
  * the 512-byte big-endian main-header fields
  * ([[EcatReader.parseMainHeader]], the `lmhdr` layout), and
  * `readStream.format("ecat")` for the PET-upload watch loop the
  * reference runs from cron (`tools/petupload_cron_prod` →
  * `HRRT_PET_insertion.pl` per new upload), via the shared
  * [[SeenFileLogStream]].
  *
  * I/O posture: the reader fetches AT MOST the first 512 bytes of each
  * file — a catalog sweep over terabytes of listmode PET reads 512
  * bytes per study file, always. When the projection needs only
  * path-derived columns (file_path / file_name / file_size), the file
  * is never opened at all: the row comes entirely from the planning
  * listing. `parse_failed` carries the lmhdr-failure audit
  * (non-MATRIX magic, short file) instead of silently dropping rows.
  */
class EcatDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "ecat"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    EcatDataSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new EcatTable(new CaseInsensitiveStringMap(properties))
}

object EcatDataSource {
  val schema: StructType = StructType(Seq(
    StructField("file_path", StringType, nullable = false),
    StructField("file_name", StringType, nullable = false),
    StructField("file_size", LongType, nullable = false),
    StructField("parse_failed", BooleanType, nullable = false),
    StructField("patient_name", StringType, nullable = true),
    StructField("patient_id", StringType, nullable = true),
    StructField("facility_name", StringType, nullable = true),
    StructField("system_type", IntegerType, nullable = true),
    StructField("scan_start_time", LongType, nullable = true),
    StructField("num_frames", IntegerType, nullable = true)))

  private[v2] val PathOnly =
    Set("file_path", "file_name", "file_size")
}

private[v2] class EcatTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = s"ecat(${options.get("path")})"
  override def schema(): StructType = EcatDataSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new EcatScanBuilder(options)
}

private[v2] class EcatScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = EcatDataSource.schema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new EcatScan(options, required)
}

private[v2] class EcatScan(
    options: CaseInsensitiveStringMap,
    required: StructType) extends ListedFileScan(options, "*.v") {

  override def readSchema(): StructType = required
  override def description(): String =
    s"ecat path=${options.get("path")} columns=" +
      required.fieldNames.mkString(",")

  override protected def readerFactory(
      conf: Broadcast[SerializableConfiguration]): PartitionReaderFactory =
    EcatReaderFactory(required, conf)
}

private[v2] case class EcatReaderFactory(
    required: StructType, conf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new EcatPartitionReader(p.asInstanceOf[ListedFile], required,
      conf.value.value)
}

private[v2] class EcatPartitionReader(
    part: ListedFile, required: StructType,
    conf: Configuration) extends PartitionReader[InternalRow] {

  private var done = false
  private var current: InternalRow = _

  private def header(): Option[EcatReader.EcatMainHeader] =
    if (part.length < 512) None
    else EcatReader.parseMainHeader(part.readBytes(conf, 512))

  override def next(): Boolean = {
    if (done) return false
    done = true
    // path-only projections never open the file
    val needHeader =
      required.fieldNames.exists(f => !EcatDataSource.PathOnly(f))
    val hdr = if (needHeader) header() else None
    val name = new Path(part.path).getName
    val out = new Array[Any](required.length)
    required.fields.zipWithIndex.foreach { case (f, i) =>
      out(i) = f.name match {
        case "file_path" => UTF8String.fromString(part.path)
        case "file_name" => UTF8String.fromString(name)
        case "file_size" => part.length
        case "parse_failed" => needHeader && hdr.isEmpty
        case "patient_name" =>
          hdr.map(h => UTF8String.fromString(h.patientName)).orNull
        case "patient_id" =>
          hdr.map(h => UTF8String.fromString(h.patientId)).orNull
        case "facility_name" =>
          hdr.map(h => UTF8String.fromString(h.facilityName)).orNull
        case "system_type" =>
          hdr.map(h => Int.box(h.systemType)).orNull
        case "scan_start_time" =>
          hdr.map(h => Long.box(h.scanStartTime)).orNull
        case "num_frames" =>
          hdr.map(h => Int.box(h.numFrames)).orNull
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
