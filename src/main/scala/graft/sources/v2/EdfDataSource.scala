package graft.sources.v2

import org.apache.hadoop.conf.Configuration

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String.{fromString => utf8}

import graft.sources.EdfReader
import graft.sources.EphysSource.Channel

/** DataSource V2 front door for the S14 EDF reader:
  * `spark.read.format("edf").load(dir)` (registered via
  * `META-INF/services`, or by fully-qualified class name). One row per
  * non-annotation channel, same schema as
  * [[graft.sources.EphysSource.Channel]], so it drops into the existing
  * `channelArraysToLong` → `EphysChunker` path.
  *
  * Why a connector and not just the `binaryFile`-based [[EdfReader.channels]]:
  * column pruning. When `values` is not in the required schema
  * (catalog/metadata queries over raw recordings), the reader fetches
  * ONLY the ASCII header (256 + ns·256 bytes) and never touches the
  * sample region — `n_samples` comes from the file length in the
  * listing collected at planning. A metadata sweep over a 100 TB
  * recording archive reads megabytes, not terabytes.
  *
  * One [[ListedFile]] per partition (driver-side glob, the same listing
  * the reference's `edf_to_chunks.py` does per upload): a recording
  * archive of N files fans out to N independent tasks with no shuffle;
  * record-range splitting inside one file is not needed because the row
  * granularity is a whole channel. All parsing is [[EdfReader]]'s, so the
  * connector and the `binaryFile` path cannot drift; malformed bytes
  * yield zero rows. Files beyond 2 GiB fail closed (empty, like every
  * hardened reader here); EDF's int16 records and the reference's
  * per-upload file sizes keep real inputs far below that.
  */
class EdfDataSource extends ListedFileSource(EdfDataSource)

object EdfDataSource extends ListedFileFormat[Channel] {
  val shortName = "edf"
  val glob = "*.edf"
  val columns = Seq(
    column("file_path", StringType)((_, c) => utf8(c.file_path)),
    column("channel", StringType)((_, c) => utf8(c.channel)),
    column("sampling_rate_hz", DoubleType)((_, c) => c.sampling_rate_hz),
    column("n_samples", LongType)((_, c) => c.n_samples),
    column("values", ArrayType(DoubleType, containsNull = false))(
      (_, c) => new GenericArrayData(c.values)))

  /** Every channel, with `values` null unless asked for. */
  def records(file: ListedFile, conf: Configuration, required: Set[String])
      : Iterator[Channel] =
    if (file.length < 256 || file.length > Int.MaxValue - 8) Iterator.empty
    else if (required("values"))
      EdfReader.signalTraces(file.readBytes(conf, file.length.toInt))
        .iterator.map { case (l, r, v) => Channel(file.path, l, r, v.length, v) }
    else {
      val in = file.open(conf)
      val header = try EdfReader.readHeader(in, file.length) finally in.close()
      header.iterator.flatMap(EdfReader.headerChannels(_, file.length))
        .map { case (l, r, n) => Channel(file.path, l, r, n, null) }
    }
}
