package graft.sources

import java.nio.charset.StandardCharsets.US_ASCII

import org.apache.spark.sql.{Dataset, SparkSession}

/** S14 MEG raw reader, CTF `.ds` (SURVEY.md §2.1): the reference ingests
  * CTF datasets through MNE in
  * `python/loris_ephys_chunker/.../scripts/ctf_to_chunks.py:1-75` (channel
  * scan with `clean_names=True`, then the shared chunk writer); here the
  * format itself is parsed — a CTF dataset is a directory holding a
  * fixed-layout big-endian resource file (`.res4`) and a raw sample file
  * (`.meg4`), no vendor codec required (same byte-arithmetic class as
  * [[EdfReader]]).
  *
  * Layout constants follow the published CTF MEG file-format description
  * as implemented by the public MNE/FieldTrip readers: `.res4` =
  * 1288-byte preamble (magic + app/origin/description strings + date
  * strings), general-setup block (samples-per-trial int32, channel count
  * int16, sampling rate float64, trial count int16), run-metadata strings,
  * a self-sized run-description blob, self-sized filter records, the
  * 32-byte channel-name table, and one 1328-byte sensor resource record
  * per channel (type, coil shape, proper/Q/IO gains, coil geometry).
  * `.meg4` = 8-byte magic then int32 big-endian samples ordered
  * trial-major, channel, sample. Physical value = raw / (properGain ·
  * qGain), the MNE calibration. Parsing is hardened: anything malformed
  * yields None/empty, never a scan-stage failure.
  *
  * Distribution shape: the `binaryFile` scan reads only the small `.res4`
  * headers; each task then streams its sibling `.meg4` through the Hadoop
  * filesystem — one task per dataset, partition-parallel across datasets,
  * zero shuffle until the chunker's groupBy. The raw sample bytes never
  * cross an exchange.
  */
object CtfReader {

  final case class SensorInfo(
      name: String,
      sensorTypeIndex: Int,
      properGain: Double,
      qGain: Double,
      ioGain: Double) {
    /** MNE calibration: physical = raw / (properGain · qGain). */
    def cal: Double =
      if (properGain == 0.0 || qGain == 0.0) 0.0
      else 1.0 / (properGain * qGain)
  }

  final case class Res4Header(
      appName: String,
      samplesPerTrial: Int,
      nChannels: Int,
      sampleRateHz: Double,
      nTrials: Int,
      sensors: IndexedSeq[SensorInfo])

  // --- big-endian primitives over an absolute offset ---
  private def i16(b: Array[Byte], o: Int): Int =
    ((b(o) << 8) | (b(o + 1) & 0xFF)).toShort.toInt
  private def i32(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xFF) << 24) | ((b(o + 1) & 0xFF) << 16) |
      ((b(o + 2) & 0xFF) << 8) | (b(o + 3) & 0xFF)
  private def f64(b: Array[Byte], o: Int): Double = {
    var bits = 0L
    var i = 0
    while (i < 8) { bits = (bits << 8) | (b(o + i) & 0xFFL); i += 1 }
    java.lang.Double.longBitsToDouble(bits)
  }
  private def str(b: Array[Byte], o: Int, len: Int): String = {
    val end = math.min(o + len, b.length)
    var nul = o
    while (nul < end && b(nul) != 0) nul += 1
    new String(b, o, nul - o, US_ASCII).trim
  }

  /** `clean_names=True` semantics (ctf_to_chunks.py:19): CTF channel names
    * carry a `-<runNumber>` suffix that mismatches BIDS channels.tsv. */
  def cleanName(raw: String): String = {
    val dash = raw.indexOf('-')
    if (dash < 0) raw else raw.substring(0, dash)
  }

  // res4 absolute offsets (fixed preamble + general setup)
  private val OffNoSamples = 1288   // after magic[8] + 3×char[256] + i16 + 2×char[255]
  private val OffNoChannels = 1292
  private val OffSampleRate = 1296  // 2-byte alignment pad before
  private val OffNoTrials = 1312    // after epoch_time f64 @1304
  private val OffRunName = 1360     // after trigger block
  private val OffRunDescLen = 1776  // after 6 run-metadata strings
  private val SensorRecBytes = 1328 // 48-byte scalar head + 2×8×80 coil table

  /** Hardened `.res4` parse: None on anything malformed. */
  def parseRes4(bytes: Array[Byte]): Option[Res4Header] = {
    if (bytes.length < OffRunDescLen + 4) return None
    val magic = str(bytes, 0, 8)
    if (!magic.startsWith("MEG4") || !magic.endsWith("RS")) return None
    val nSamp = i32(bytes, OffNoSamples)
    val nChan = i16(bytes, OffNoChannels)
    val rate = f64(bytes, OffSampleRate)
    val nTrials = i16(bytes, OffNoTrials)
    if (nSamp < 0 || nChan <= 0 || nChan > 100000 || nTrials < 0) return None
    // run description is self-sized; filters are self-sized records
    val rdLen = i32(bytes, OffRunDescLen)
    if (rdLen < 0) return None
    var pos = OffRunDescLen + 4 + rdLen
    if (pos + 2 > bytes.length) return None
    val nFilt = i16(bytes, pos)
    pos += 2
    if (nFilt < 0 || nFilt > 1000) return None
    var f = 0
    while (f < nFilt) {
      if (pos + 18 > bytes.length) return None
      val nPar = i16(bytes, pos + 16)
      if (nPar < 0 || nPar > 1000) return None
      pos += 18 + 8 * nPar
      f += 1
    }
    // channel-name table then fixed-size sensor records
    val namesAt = pos
    val sensorsAt = namesAt + 32 * nChan
    if (sensorsAt + SensorRecBytes.toLong * nChan > bytes.length) return None
    val sensors = (0 until nChan).map { c =>
      val s = sensorsAt + SensorRecBytes * c
      SensorInfo(
        name = cleanName(str(bytes, namesAt + 32 * c, 32)),
        sensorTypeIndex = i16(bytes, s),
        properGain = f64(bytes, s + 8),
        qGain = f64(bytes, s + 16),
        ioGain = f64(bytes, s + 24))
    }
    Some(Res4Header(str(bytes, 8, 256), nSamp, nChan, rate, nTrials, sensors))
  }

  /** Decode a `.meg4` image against its header: per channel, the trials'
    * sample blocks concatenated in trial order, calibrated to physical
    * units. Trials beyond the bytes actually present are dropped whole
    * (trial granularity, like truncated-record handling in [[EdfReader]]).
    */
  def traces(h: Res4Header, meg4: Array[Byte]): Seq[(String, Double, Array[Double])] = {
    if (meg4.length < 8 || !str(meg4, 0, 8).startsWith("MEG4")) return Seq.empty
    val perTrial = h.nChannels.toLong * h.samplesPerTrial * 4
    if (perTrial == 0) return Seq.empty
    val nTrials = math.min(
      h.nTrials.toLong, (meg4.length - 8).toLong / perTrial).toInt
    val out = h.sensors.map(_ => new Array[Double](nTrials * h.samplesPerTrial))
    var t = 0
    while (t < nTrials) {
      var c = 0
      while (c < h.nChannels) {
        val cal = h.sensors(c).cal
        val dst = out(c)
        val dst0 = t * h.samplesPerTrial
        var p = 8 + (t * perTrial).toInt + c * h.samplesPerTrial * 4
        var k = 0
        while (k < h.samplesPerTrial) {
          dst(dst0 + k) = i32(meg4, p) * cal
          k += 1
          p += 4
        }
        c += 1
      }
      t += 1
    }
    h.sensors.zipWithIndex.map { case (s, i) =>
      (s.name, h.sampleRateHz, out(i))
    }
  }

  /** Decode a RECORDING split across CTF's 2 GB continuation files
    * (`x.meg4`, `x.1_meg4`, `x.2_meg4`, … — each with its own 8-byte
    * magic, whole trials per file, the convention MNE/FieldTrip read):
    * per-file trial blocks concatenate in file order, capped at the
    * header's total trial count.
    *
    * STREAMING contract: `images` is consumed one element at a time and
    * each raw image is dropped before the next is produced — peak memory
    * is ONE ~2 GB file plus the accumulating decoded doubles (which the
    * caller keeps anyway), not all raw files at once. */
  def tracesMulti(h: Res4Header,
      images: Iterator[Array[Byte]]): Seq[(String, Double, Array[Double])] = {
    val bufs = h.sensors.map(_ => new scala.collection.mutable.ArrayBuilder.ofDouble)
    var remaining = h.nTrials
    var any = false
    while (images.hasNext && remaining > 0) {
      val img = images.next()
      val part = traces(h.copy(nTrials = remaining), img)
      if (part.nonEmpty) {
        any = true
        val got = part.head._3.length / math.max(h.samplesPerTrial, 1)
        remaining = math.max(remaining - got, 0)
        var c = 0
        while (c < part.length) {
          bufs(c) ++= part(c)._3
          c += 1
        }
      }
    }
    if (!any) Seq.empty
    else h.sensors.zipWithIndex.map { case (s, i) =>
      (s.name, h.sampleRateHz, bufs(i).result())
    }
  }

  /** Distributed scan: every `.res4` under `dir` (typically inside `.ds`
    * dataset directories) parsed partition-parallel; each task streams its
    * sibling `.meg4` and continuation files. One [[EphysSource.Channel]]
    * row per channel. */
  def channels(spark: SparkSession, dir: String,
      glob: String = "*.res4"): Dataset[EphysSource.Channel] =
    EphysSource.channels(spark, dir, glob) { (res4Path, res4Bytes, sibling) =>
      parseRes4(res4Bytes).toSeq.flatMap { h =>
        val stem = res4Path.getName.replaceAll("\\.res4$", "")
        // the primary .meg4 plus CTF's 2 GB continuation files
        // (.1_meg4, .2_meg4, …) in order, stopping at the first gap;
        // the iterator stays LAZY so tracesMulti holds one raw file at
        // a time
        val images = Iterator.from(0)
          .map(i => if (i == 0) s"$stem.meg4" else s"$stem.$i" + "_meg4")
          .map(sibling)
          .takeWhile(_.isDefined)
          .flatten
        tracesMulti(h, images)
      }
    }

  final case class CtfScanAudit(
      file_path: String,
      status: String,
      n_channels: Int)

  /** Diagnostic twin of [[channels]] (ADVICE r3): the fixed `.res4` offsets
    * fail CLOSED to zero rows on any layout divergence, which in
    * [[channels]] is a silent empty ingest. This scan emits one row per
    * `.res4` with the parse outcome — `ok` / `res4_parse_failed` /
    * `meg4_unreadable` — the same countable-audit pattern as
    * [[graft.operators.Similarity]]'s `skippedClusters`, so an operator
    * can alert on `status != 'ok'` instead of discovering an empty table
    * downstream. Header-only: the `.meg4` sample bytes are never read, so
    * the audit costs one small-file scan plus a `getFileStatus` per
    * dataset. */
  def scanAudit(spark: SparkSession, dir: String,
      glob: String = "*.res4"): Dataset[CtfScanAudit] = {
    import spark.implicits._
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    DicomSource.scanDir(spark, dir, glob)
      .select("path", "content").as[(String, Array[Byte])]
      .map { case (p, res4Bytes) =>
        parseRes4(res4Bytes) match {
          case None => CtfScanAudit(p, "res4_parse_failed", 0)
          case Some(h) =>
            val res4Path = DicomSource.pathOf(p)
            val meg4Path = new org.apache.hadoop.fs.Path(
              res4Path.getParent,
              res4Path.getName.replaceAll("\\.res4$", ".meg4"))
            val readable =
              try {
                val fs = meg4Path.getFileSystem(conf.value)
                fs.getFileStatus(meg4Path).getLen >= 8
              } catch { case _: Exception => false }
            if (readable) CtfScanAudit(p, "ok", h.nChannels)
            else CtfScanAudit(p, "meg4_unreadable", h.nChannels)
        }
      }
  }
}
