package graft.sources.v2

import java.io.{BufferedInputStream, Closeable, InputStream}
import java.util.zip.GZIPInputStream

import org.apache.hadoop.conf.Configuration

import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String.{fromString => utf8}

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
class WarcDataSource extends ListedFileSource(WarcDataSource)

/** One WARC record with its HTTP split (status, headers, body) when
  * asked for. Non-response records (warcinfo, request, metadata) carry
  * NO HTTP message body, so their body/http_* columns are null — a
  * consumer filtering on body alone never ingests non-content
  * payloads. */
final case class WarcRow(record: WarcIO.Record, status: Option[Int],
    httpHeaders: Map[String, String], body: Array[Byte])

object WarcDataSource extends ListedFileFormat[WarcRow] {

  val shortName = "warc"
  val glob = "*.{warc,warc.gz}"
  val columns = Seq(
    column("warc_path", StringType)((f, _) => utf8(f.path)),
    column("warc_name", StringType)((f, _) => utf8(f.name)),
    column("record_type", StringType, nullable = true)(
      (_, r) => utf8(r.record.field("WARC-Type").orNull)),
    column("record_id", StringType, nullable = true)(
      (_, r) => utf8(r.record.field("WARC-Record-ID").orNull)),
    column("target_uri", StringType, nullable = true)(
      (_, r) => utf8(r.record.field("WARC-Target-URI").orNull)),
    column("warc_date", StringType, nullable = true)(
      (_, r) => utf8(r.record.field("WARC-Date").orNull)),
    column("content_type", StringType, nullable = true)(
      (_, r) => utf8(r.record.field("Content-Type").orNull)),
    // the named field when present (truthful even for a record whose
    // over-bound payload was skipped), else the byte count
    column("content_length", LongType)((_, r) =>
      r.record.field("Content-Length").flatMap(_.toLongOption)
        .getOrElse(r.record.payload.length.toLong)),
    column("http_status", IntegerType, nullable = true)(
      (_, r) => r.status.getOrElse(null)),
    column("http_content_type", StringType, nullable = true)(
      (_, r) => utf8(r.httpHeaders.get("content-type").orNull)),
    column("body", BinaryType, nullable = true)((_, r) => r.body))

  private val HttpColumns = Set("http_status", "http_content_type", "body")

  /** RECORD-streaming walk: the segment is never materialized whole —
    * the raw FS stream (wrapped in a `GZIPInputStream` when the file
    * starts with the gzip magic; per-record members inflate as one
    * concatenated stream) feeds [[WarcIO.streamRecords]], so memory is
    * bounded by one record regardless of segment size. CommonCrawl
    * segments (~1 GiB gzipped, 4-5 GiB inflated) read fine; the
    * per-record bound of `streamRecords` (1 GiB) is the
    * decompression-bomb guard. The HTTP split runs once per response
    * record, and only when an http_* or body column is asked for. */
  def records(file: ListedFile, conf: Configuration, required: Set[String])
      : Iterator[WarcRow] with Closeable = {
    val needHttp = required.exists(HttpColumns)
    val buffered = new BufferedInputStream(file.open(conf), 1 << 16)
    buffered.mark(2)
    val magic = new Array[Byte](2)
    val got = buffered.read(magic)
    buffered.reset()
    val in: InputStream =
      if (got == 2 && TarArchive.isGzip(magic))
        new GZIPInputStream(buffered, 1 << 16)
      else buffered
    val it = WarcIO.streamRecords(in)
    new Iterator[WarcRow] with Closeable {
      def hasNext: Boolean = it.hasNext
      def next(): WarcRow = {
        val r = it.next()
        val (status, headers, body) =
          if (needHttp && r.field("WARC-Type").contains("response"))
            WarcIO.httpParts(r.payload)
          else (None, Map.empty[String, String], null: Array[Byte])
        WarcRow(r, status, headers, body)
      }
      def close(): Unit = in.close()
    }
  }
}
