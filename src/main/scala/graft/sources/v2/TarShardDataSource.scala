package graft.sources.v2

import org.apache.hadoop.conf.Configuration

import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String.{fromString => utf8}

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
  * audit, pairing checks) never copies a payload — `size` comes from the
  * member header and only the `content` getter copies the bytes out of
  * the shard image, which is read once per partition and released.
  * Gzip-wrapped shards are detected by magic, not extension.
  */
class TarShardDataSource extends ListedFileSource(TarShardDataSource)

/** One record per regular-file member. */
object TarShardDataSource extends ListedFileFormat[TarArchive.Entry] {
  val shortName = "tarshard"
  val glob = "*.{tar,tar.gz,tgz}"
  val columns = Seq(
    column("shard_path", StringType)((f, _) => utf8(f.path)),
    column("shard_name", StringType)((f, _) => utf8(f.name)),
    column("member_path", StringType)((_, e) => utf8(e.path)),
    column("sample_id", StringType)((_, e) => utf8(stem(e.path))),
    column("ext", StringType)((_, e) => utf8(ext(e.path))),
    column("size", LongType)((_, e) => e.size.toLong),
    column("content", BinaryType, nullable = true)((_, e) => e.data))

  def records(file: ListedFile, conf: Configuration, required: Set[String])
      : Iterator[TarArchive.Entry] = {
    // a >2 GB shard would silently truncate length.toInt negative and
    // kill the stage with NegativeArraySizeException — fail descriptive
    // instead (WebDataset convention keeps shards ~100 MB-1 GB)
    require(file.length <= Int.MaxValue.toLong,
      s"tarshard member ${file.path} is ${file.length} bytes; shards " +
        "over 2 GiB are not supported by the in-memory walker — " +
        "re-shard the archive (WebDataset convention is <= 1 GiB/shard)")
    val buf = file.readBytes(conf, file.length.toInt)
    val tar = if (TarArchive.isGzip(buf)) TarArchive.gunzip(buf) else buf
    TarArchive.listEntries(tar).iterator.filter(_.typeflag == '0')
  }

  private def stem(memberPath: String): String = {
    val base = memberPath.substring(memberPath.lastIndexOf('/') + 1)
    val dot = base.indexOf('.')
    if (dot < 0) base else base.substring(0, dot)
  }

  private def ext(memberPath: String): String = {
    val base = memberPath.substring(memberPath.lastIndexOf('/') + 1)
    val dot = base.lastIndexOf('.')
    if (dot < 0) "" else base.substring(dot + 1)
  }
}
