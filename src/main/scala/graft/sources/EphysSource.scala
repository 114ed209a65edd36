package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

/** EEG/MEG recording source (SURVEY.md §2.1 S14).
  *
  * The reference reads EDF/CTF/EEGLAB via MNE into per-channel numpy arrays
  * and hands every format to one shared chunk writer
  * (`python/loris_ephys_chunker/.../scripts/{edf,ctf,eeglab}_to_chunks.py`).
  * Here the same holds: each format reader ([[EdfReader]],
  * [[BrainVisionReader]], [[CtfReader]], [[EeglabReader]]) supplies only
  * its decode to [[channels]], which owns the scan, the sibling reads and
  * the row type; recordings arrive as one [[Channel]] row per channel with
  * an `ArrayType(Double)` trace, and chunking wants the long format
  * `(channel, sample_index, value)`.
  *
  * `posexplode` keeps the transformation narrow (no shuffle): each channel
  * row expands within its partition, and downstream `groupBy(channel,
  * chunk)` is the first exchange.
  */
object EphysSource {

  /** One decoded channel of one recording; `file_path` is the scanned
    * file (the `.edf`, `.vhdr`, `.res4` or `.set`). */
  final case class Channel(
      file_path: String,
      channel: String,
      sampling_rate_hz: Double,
      n_samples: Long,
      values: Array[Double])

  /** A format decode: the scanned file's path and bytes, plus a reader of
    * its siblings by file name (None for a name outside its directory), to
    * (channel, sampling rate, trace) per channel. Empty on anything
    * malformed. */
  type Decode = (Path, Array[Byte], String => Option[Array[Byte]]) =>
    Seq[(String, Double, Array[Double])]

  /** Distributed scan: every file matching `glob` under `dir` decoded
    * partition-parallel into one row per channel, ready for
    * [[channelArraysToLong]] → [[graft.operators.EphysChunker]]. A sibling
    * the decode asks for (CTF `.meg4`, EEGLAB `.fdt`, BrainVision `.eeg`)
    * is read only from the scanned file's own directory, task-locally
    * through the session's Hadoop conf, so the sample bytes never cross an
    * exchange and no second scan pairs them up. */
  def channels(spark: SparkSession, dir: String, glob: String)(
      decode: Decode): Dataset[Channel] = {
    import spark.implicits._
    val conf = new SerializableConfiguration(spark.sessionState.newHadoopConf())
    DicomSource.scanDir(spark, dir, glob)
      .select("path", "content").as[(String, Array[Byte])]
      .flatMap { case (p, bytes) =>
        val path = DicomSource.pathOf(p)
        // a name no Path accepts, or one that resolves anywhere but beside
        // the scanned file (absolute, `..`, another scheme or bucket), is a
        // missing sibling, not a failed task and not a read outside `dir`
        def sibling(name: String): Option[Array[Byte]] =
          scala.util.Try(new Path(path.getParent, name)).toOption
            .filter(_.getParent == path.getParent)
            .flatMap(DicomSource.readSiblingBytes(conf.value, _))
        decode(path, bytes, sibling).map { case (name, rate, vals) =>
          Channel(p, name, rate, vals.length.toLong, vals)
        }
      }
  }

  /** (channel id cols..., values: array<double>) → long format
    * (channel, sample_index, value); every other column is dropped. */
  def channelArraysToLong(
      recordings: Dataset[_],
      channelCol: String = "channel",
      valuesCol: String = "values"
  ): DataFrame =
    recordings.select(
      col(channelCol).as("channel"),
      posexplode(col(valuesCol)).as(Seq("sample_index", "value")))
      .withColumn("sample_index", col("sample_index").cast("long"))

  /** Round-trip check helper: long format back to bounded arrays (test and
    * sink use; inverse of [[channelArraysToLong]]). */
  def longToChannelArrays(samples: DataFrame): DataFrame =
    samples.groupBy(col("channel"))
      .agg(transform(
        array_sort(collect_list(struct(col("sample_index"), col("value")))),
        s => s.getField("value")).as("values"))
}
