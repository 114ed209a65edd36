package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, Paths}

import graft.SparkSpec

/** S14 EDF reader: asserted against an INDEPENDENT EDF writer built here
  * from the published spec (fixed-width ASCII fields, field-major signal
  * headers, int16 LE records), so the parser never checks itself. */
class EdfReaderSpec extends SparkSpec {

  // --- independent minimal EDF writer ---
  private def pad(s: String, len: Int): Array[Byte] = {
    val t = if (s.length > len) s.take(len) else s
    (t + " " * (len - t.length)).getBytes(US_ASCII)
  }

  private case class Sig(label: String, physMin: Double, physMax: Double,
      digMin: Int, digMax: Int, spr: Int)

  private def edfOf(sigs: Seq[Sig], records: Seq[Seq[Array[Short]]],
      nRecordsField: Int, recDur: Double = 2.0): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val ns = sigs.length
    out.write(pad("0", 8)); out.write(pad("pat X", 80)); out.write(pad("rec Y", 80))
    out.write(pad("01.02.03", 8)); out.write(pad("10.20.30", 8))
    out.write(pad((256 + ns * 256).toString, 8)); out.write(pad("", 44))
    out.write(pad(nRecordsField.toString, 8))
    out.write(pad(recDur.toString, 8)); out.write(pad(ns.toString, 4))
    sigs.foreach(s => out.write(pad(s.label, 16)))
    sigs.foreach(_ => out.write(pad("transducer", 80)))
    sigs.foreach(_ => out.write(pad("uV", 8)))
    sigs.foreach(s => out.write(pad(s.physMin.toString, 8)))
    sigs.foreach(s => out.write(pad(s.physMax.toString, 8)))
    sigs.foreach(s => out.write(pad(s.digMin.toString, 8)))
    sigs.foreach(s => out.write(pad(s.digMax.toString, 8)))
    sigs.foreach(_ => out.write(pad("HP:0.1Hz", 80)))
    sigs.foreach(s => out.write(pad(s.spr.toString, 8)))
    sigs.foreach(_ => out.write(pad("", 32)))
    records.foreach { rec =>
      rec.foreach { samples =>
        samples.foreach { v =>
          out.write(v & 0xFF); out.write((v >> 8) & 0xFF)
        }
      }
    }
    out.toByteArray
  }

  private val eeg = Sig("EEG Fpz-Cz", -250.0, 250.0, -2048, 2047, 4)
  private val ecg = Sig("ECG", -4.0, 4.0, -32768, 32767, 2)

  test("header + calibrated traces round-trip; annotations excluded") {
    val ann = Sig("EDF Annotations", -1.0, 1.0, -32768, 32767, 3)
    val bytes = edfOf(Seq(eeg, ecg, ann), Seq(
      Seq(Array[Short](0, 100, -100, 2047), Array[Short](0, 16384), Array[Short](0, 0, 0)),
      Seq(Array[Short](-2048, 1, 2, 3), Array[Short](-32768, 32767), Array[Short](0, 0, 0))),
      nRecordsField = 2)
    val h = EdfReader.parseHeader(bytes).get
    assert(h.patient === "pat X" && h.nRecords === 2 && h.signals.length === 3)
    assert(h.samplingRateHz(h.signals.head) === 2.0) // 4 samples / 2 s records
    val traces = EdfReader.signalTraces(bytes)
    assert(traces.map(_._1) === Seq("EEG Fpz-Cz", "ECG")) // annotation dropped
    val gain = (250.0 - -250.0) / (2047 - -2048).toDouble
    val off = -250.0 - -2048 * gain
    assert(traces.head._3.toSeq === Seq(0, 100, -100, 2047, -2048, 1, 2, 3)
      .map(d => d * gain + off))
    assert(traces(1)._3(2) === -4.0) // digMin -> physMin exactly
    assert(traces(1)._3(3) === 4.0)  // digMax -> physMax exactly
  }

  test("nRecords=-1 inferred from length; truncated tail record dropped whole") {
    val full = edfOf(Seq(eeg), Seq(
      Seq(Array[Short](1, 2, 3, 4)), Seq(Array[Short](5, 6, 7, 8))), nRecordsField = -1)
    assert(EdfReader.signalTraces(full).head._3.length === 8)
    val cut = java.util.Arrays.copyOfRange(full, 0, full.length - 3)
    assert(EdfReader.signalTraces(cut).head._3.length === 4) // 2nd record incomplete
  }

  test("header-only sample counts equal the full decode's trace lengths " +
      "(nRecords=-1, truncated final record)") {
    val full = edfOf(Seq(eeg, ecg), Seq(
      Seq(Array[Short](1, 2, 3, 4), Array[Short](10, 20)),
      Seq(Array[Short](5, 6, 7, 8), Array[Short](30, 40))), nRecordsField = -1)
    val cut = java.util.Arrays.copyOfRange(full, 0, full.length - 3)
    val header = java.util.Arrays.copyOf(cut, 256 + 2 * 256)
    val fromHeader = EdfReader.headerChannels(header, cut.length.toLong)
    val decoded = EdfReader.signalTraces(cut)
    assert(fromHeader.map(c => (c._1, c._3)) ===
      decoded.map(t => (t._1, t._3.length.toLong)))
    assert(fromHeader.map(_._3) === Seq(4L, 2L)) // one whole record each
  }

  test("malformed inputs parse to None/empty, never throw") {
    assert(EdfReader.parseHeader(Array.emptyByteArray).isEmpty)
    assert(EdfReader.parseHeader(new Array[Byte](100)).isEmpty)
    val good = edfOf(Seq(eeg), Seq(Seq(Array[Short](1, 2, 3, 4))), 1)
    // corrupt the headerBytes field => internal-consistency check fails
    val bad = good.clone(); System.arraycopy(pad("999", 8), 0, bad, 184, 8)
    assert(EdfReader.parseHeader(bad).isEmpty)
    // non-numeric nSignals
    val bad2 = good.clone(); System.arraycopy(pad("xx", 4), 0, bad2, 252, 4)
    assert(EdfReader.parseHeader(bad2).isEmpty && EdfReader.signalTraces(bad2).isEmpty)
    // digMin == digMax (zero calibration range)
    val flat = Sig("X", 0.0, 1.0, 5, 5, 2)
    assert(EdfReader.parseHeader(edfOf(Seq(flat), Seq(Seq(Array[Short](1, 2))), 1)).isEmpty)
  }

  test("fuzz: random bytes, truncations and mutations never throw") {
    val rnd = new scala.util.Random(20240812L)
    val base = edfOf(Seq(eeg, ecg), Seq(
      Seq(Array[Short](1, 2, 3, 4), Array[Short](10, 20)),
      Seq(Array[Short](5, 6, 7, 8), Array[Short](30, 40))), 2)
    (1 to 200).foreach { _ =>
      val junk = new Array[Byte](rnd.nextInt(2048))
      rnd.nextBytes(junk)
      EdfReader.signalTraces(junk) // must not throw
      val cut = java.util.Arrays.copyOfRange(base, 0, rnd.nextInt(base.length + 1))
      EdfReader.signalTraces(cut)
      val mut = base.clone()
      mut(rnd.nextInt(mut.length)) = rnd.nextInt(256).toByte
      EdfReader.signalTraces(mut)
    }
  }

  test("distributed scan feeds the chunker long format") {
    val dir = Files.createTempDirectory("edf").toFile
    dir.deleteOnExit()
    Files.write(Paths.get(dir.toString, "r1.edf"), edfOf(Seq(eeg, ecg), Seq(
      Seq(Array[Short](1, 2, 3, 4), Array[Short](10, 20)),
      Seq(Array[Short](5, 6, 7, 8), Array[Short](30, 40))), 2))
    val ch = EdfReader.channels(spark, dir.toString)
    val rows = ch.collect()
    assert(rows.map(r => (r.channel, r.n_samples, r.sampling_rate_hz)).toSet ===
      Set(("EEG Fpz-Cz", 8L, 2.0), ("ECG", 4L, 1.0)))
    val long = EphysSource.channelArraysToLong(ch)
    assert(long.columns.toSeq === Seq("channel", "sample_index", "value"))
    assert(long.count() === 12)
    import org.apache.spark.sql.functions._
    val perCh = long.groupBy("channel").agg(max("sample_index").as("mx"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(perCh === Map("EEG Fpz-Cz" -> 7L, "ECG" -> 3L))
  }
}
