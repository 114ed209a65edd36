package graft.sources.v2

import org.apache.hadoop.conf.Configuration

import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String.{fromString => utf8}

import graft.sources.EcatReader
import graft.sources.EcatReader.EcatMainHeader

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
class EcatDataSource extends ListedFileSource(EcatDataSource)

/** One record per file: its main header, None when unread or unparsable. */
object EcatDataSource extends ListedFileFormat[Option[EcatMainHeader]] {
  val shortName = "ecat"
  val glob = "*.v"
  val columns = Seq(
    column("file_path", StringType)((f, _) => utf8(f.path)),
    column("file_name", StringType)((f, _) => utf8(f.name)),
    column("file_size", LongType)((f, _) => f.length),
    // a projection with parse_failed always reads the header
    column("parse_failed", BooleanType)((_, h) => h.isEmpty),
    column("patient_name", StringType, nullable = true)(
      (_, h) => utf8(h.map(_.patientName).orNull)),
    column("patient_id", StringType, nullable = true)(
      (_, h) => utf8(h.map(_.patientId).orNull)),
    column("facility_name", StringType, nullable = true)(
      (_, h) => utf8(h.map(_.facilityName).orNull)),
    column("system_type", IntegerType, nullable = true)(
      (_, h) => h.map(_.systemType).getOrElse(null)),
    column("scan_start_time", LongType, nullable = true)(
      (_, h) => h.map(_.scanStartTime).getOrElse(null)),
    column("num_frames", IntegerType, nullable = true)(
      (_, h) => h.map(_.numFrames).getOrElse(null)))

  private val PathOnly = Set("file_path", "file_name", "file_size")

  /** Path-only projections never open the file. */
  def records(file: ListedFile, conf: Configuration, required: Set[String])
      : Iterator[Option[EcatMainHeader]] =
    Iterator.single(
      if (required.subsetOf(PathOnly) || file.length < 512) None
      else EcatReader.parseMainHeader(file.readBytes(conf, 512)))
}
