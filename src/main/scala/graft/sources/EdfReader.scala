package graft.sources

import java.nio.charset.StandardCharsets.US_ASCII

import org.apache.hadoop.fs.PositionedReadable

import org.apache.spark.sql.{Dataset, SparkSession}

/** S14 EEG raw reader, EDF/EDF+ (SURVEY.md §2.1): replaces the round-1
  * "codecs out of scope" boundary for the one ephys format that needs no
  * codec at all — EDF is a fixed-width ASCII header plus int16
  * little-endian sample records (the reference reads it via MNE in
  * `python/loris_ephys_chunker/.../scripts/edf_to_chunks.py`; header layout
  * per the published EDF spec, Kemp et al. 1992).
  *
  * Like [[DicomTagParser]], this is a hardened row-local walker over the
  * `binaryFile` scan, partition-parallel, no shuffle; the first exchange
  * downstream is the chunker's `groupBy(channel, chunk)`. The same
  * treatment covers the full S14 family: [[CtfReader]] (.ds res4/meg4)
  * and [[EeglabReader]] (.set MAT v6 + .fdt); only MAT v7.3 (true HDF5)
  * remains codec-bound and fails closed.
  */
object EdfReader {

  /** Per-signal header block (field-major in the file). */
  final case class SignalHeader(
      label: String,
      dimension: String,
      physMin: Double,
      physMax: Double,
      digMin: Int,
      digMax: Int,
      samplesPerRecord: Int) {
    /** MNE/pyedflib calibration: phys = dig·gain + offset. */
    def gain: Double = (physMax - physMin) / (digMax - digMin).toDouble
    def offset: Double = physMin - digMin * gain
    /** EDF+ annotation channels carry TAL text, not samples. */
    def isAnnotation: Boolean = label == "EDF Annotations"
  }

  final case class EdfHeader(
      patient: String,
      recording: String,
      startDate: String,
      startTime: String,
      headerBytes: Int,
      nRecords: Int,
      recordDurationSec: Double,
      signals: IndexedSeq[SignalHeader]) {
    def samplingRateHz(s: SignalHeader): Double =
      if (recordDurationSec > 0) s.samplesPerRecord / recordDurationSec else 0.0
  }

  private def field(b: Array[Byte], off: Int, len: Int): String =
    new String(b, off, len, US_ASCII).trim

  private def numD(b: Array[Byte], off: Int, len: Int): Option[Double] =
    try Some(field(b, off, len).toDouble) catch { case _: Exception => None }

  private def numI(b: Array[Byte], off: Int, len: Int): Option[Int] =
    numD(b, off, len).map(_.toInt)

  /** Hardened header parse: None on anything malformed (truncated header,
    * non-numeric fields, impossible counts) — untrusted bytes must never
    * kill a scan stage. */
  def parseHeader(bytes: Array[Byte]): Option[EdfHeader] = {
    if (bytes.length < 256) return None
    for {
      headerBytes <- numI(bytes, 184, 8)
      nRecords <- numI(bytes, 236, 8)
      recDur <- numD(bytes, 244, 8)
      ns <- numI(bytes, 252, 4)
      if ns > 0 && ns < 100000 && bytes.length >= 256 + ns * 256 &&
        headerBytes == 256 + ns * 256
      signals <- parseSignals(bytes, ns)
    } yield EdfHeader(
      patient = field(bytes, 8, 80),
      recording = field(bytes, 88, 80),
      startDate = field(bytes, 168, 8),
      startTime = field(bytes, 176, 8),
      headerBytes = headerBytes,
      nRecords = nRecords,
      recordDurationSec = recDur,
      signals = signals)
  }

  private def parseSignals(b: Array[Byte], ns: Int): Option[IndexedSeq[SignalHeader]] = {
    // field-major layout after byte 256: ns×label(16), ns×transducer(80),
    // ns×dim(8), ns×physMin(8), ns×physMax(8), ns×digMin(8), ns×digMax(8),
    // ns×prefilter(80), ns×samplesPerRecord(8), ns×reserved(32)
    val base = 256
    val offLabel = base
    val offDim = base + ns * (16 + 80)
    val offPhysMin = offDim + ns * 8
    val offPhysMax = offPhysMin + ns * 8
    val offDigMin = offPhysMax + ns * 8
    val offDigMax = offDigMin + ns * 8
    val offSpr = offDigMax + ns * 8 + ns * 80
    val out = IndexedSeq.newBuilder[SignalHeader]
    var i = 0
    while (i < ns) {
      val sig = for {
        pmin <- numD(b, offPhysMin + i * 8, 8)
        pmax <- numD(b, offPhysMax + i * 8, 8)
        dmin <- numI(b, offDigMin + i * 8, 8)
        dmax <- numI(b, offDigMax + i * 8, 8)
        spr <- numI(b, offSpr + i * 8, 8)
        if dmax != dmin && spr >= 0
      } yield SignalHeader(field(b, offLabel + i * 16, 16),
        field(b, offDim + i * 8, 8), pmin, pmax, dmin, dmax, spr)
      sig match {
        case Some(s) => out += s
        case None => return None
      }
      i += 1
    }
    Some(out.result())
  }

  /** One channel's full physical-valued trace: concatenated across data
    * records, calibrated via gain/offset. `nRecords = -1` (unknown, per
    * spec for ongoing recordings) is inferred from the byte length.
    * Truncated final records are dropped whole (record granularity), like
    * the reference's reader. */
  def signalTraces(bytes: Array[Byte]): Seq[(String, Double, Array[Double])] = {
    val parsed = for {
      h <- parseHeader(bytes)
      n <- recordCount(h, bytes.length)
    } yield (h, n.toInt)
    parsed match {
      case None => Seq.empty
      case Some((h, nRec)) =>
        val traces = h.signals.map(s => new Array[Double](nRec * s.samplesPerRecord))
        var rec = 0
        var pos = h.headerBytes.toLong
        while (rec < nRec) {
          var si = 0
          while (si < h.signals.length) {
            val s = h.signals(si)
            val t = traces(si)
            var k = 0
            var p = pos.toInt
            val out0 = rec * s.samplesPerRecord
            while (k < s.samplesPerRecord) {
              val dig = ((bytes(p) & 0xFF) | (bytes(p + 1) << 8)).toShort.toInt
              t(out0 + k) = dig * s.gain + s.offset
              k += 1
              p += 2
            }
            pos += s.samplesPerRecord.toLong * 2
            si += 1
          }
          rec += 1
        }
        h.signals.zipWithIndex.collect {
          case (s, i) if !s.isAnnotation => (s.label, h.samplingRateHz(s), traces(i))
        }
    }
  }

  /** The whole data records a file of `fileBytes` bytes holds: the
    * declared count, capped by the bytes present (a truncated final
    * record is dropped whole); the bytes alone when the count is -1.
    * None when a record carries no samples. */
  def recordCount(h: EdfHeader, fileBytes: Long): Option[Long] = {
    val bytesPerRecord = h.signals.map(_.samplesPerRecord.toLong * 2).sum
    if (bytesPerRecord == 0) None
    else Some(math.min(
      if (h.nRecords >= 0) h.nRecords.toLong else Long.MaxValue,
      (fileBytes - h.headerBytes) / bytesPerRecord))
  }

  /** The header bytes of a file of `fileBytes` bytes, read through `in`:
    * the fixed 256-byte block, then the rest of the length it declares
    * (offset 184). None when that length is malformed or the read fails. */
  def readHeader(in: PositionedReadable, fileBytes: Long): Option[Array[Byte]] =
    try {
      val head = new Array[Byte](256)
      in.readFully(0, head)
      numI(head, 184, 8).filter(n => n >= 256 && n <= fileBytes).map { n =>
        val full = java.util.Arrays.copyOf(head, n)
        in.readFully(256, full, 256, n - 256)
        full
      }
    } catch { case _: Exception => None }

  /** (label, sampling rate, sample count) per non-annotation channel, from
    * the header alone: the trace lengths [[signalTraces]] decodes from the
    * whole file of `fileBytes` bytes. */
  def headerChannels(header: Array[Byte], fileBytes: Long)
      : Seq[(String, Double, Long)] =
    parseHeader(header).toSeq.flatMap { h =>
      recordCount(h, fileBytes).toSeq.flatMap(nRec =>
        h.signals.filterNot(_.isAnnotation).map(s =>
          (s.label, h.samplingRateHz(s), nRec * s.samplesPerRecord)))
    }

  /** Distributed scan: every `.edf` under `dir` parsed partition-parallel
    * into one [[EphysSource.Channel]] row per channel. */
  def channels(spark: SparkSession, dir: String,
      glob: String = "*.edf"): Dataset[EphysSource.Channel] =
    EphysSource.channels(spark, dir, glob)((_, bytes, _) => signalTraces(bytes))
}
