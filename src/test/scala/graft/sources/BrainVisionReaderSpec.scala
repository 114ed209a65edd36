package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import graft.SparkSpec
import graft.sources.BrainVisionReader._

/** [[BrainVisionReader]] — vhdr/eeg/vmrk triple parsing against the
  * independently-written [[SyntheticFixtures.brainVisionBytes]] fixture,
  * plus hardening and the vectorized / IEEE_FLOAT_32 variants. */
class BrainVisionReaderSpec extends SparkSpec {

  private val (vhdrB, eegB, vmrkB) = SyntheticFixtures.brainVisionBytes()
  private val vhdrText = new String(vhdrB, UTF_8)

  test("vhdr header fields and channel table parse") {
    val h = parseVhdr(vhdrText).get
    assert(h.dataFile == "rec1.eeg" && h.markerFile == "rec1.vmrk")
    assert(h.nChannels == 2 && h.samplingIntervalUs == 250000.0)
    assert(h.samplingRateHz == 4.0)
    assert(h.binaryFormat == "INT_16" && h.orientation == "MULTIPLEXED")
    assert(h.channelInfos == IndexedSeq(
      ChannelInfo("Fp1", 0.5), ChannelInfo("Cz", 1.0)))
  }

  test("vhdr hardening: junk, missing fields, channel-count mismatch") {
    assert(parseVhdr("not a header").isEmpty)
    assert(parseVhdr(vhdrText.replace("NumberOfChannels=2",
      "NumberOfChannels=3")).isEmpty)
    assert(parseVhdr(vhdrText.replace("DataFormat=BINARY",
      "DataFormat=ASCII")).isEmpty)
    assert(parseVhdr(vhdrText.replace("SamplingInterval=250000",
      "SamplingInterval=bogus")).isEmpty)
  }

  test("multiplexed INT_16 decode applies per-channel resolution") {
    val h = parseVhdr(vhdrText).get
    val traces = signalTraces(h, eegB)
      .map { case (n, _, v) => n -> v.toSeq }.toMap
    assert(traces("Fp1") == (1 to 10).map(_.toDouble))
    assert(traces("Cz") == (1 to 10).map(_ * 10.0))
  }

  test("vectorized orientation and IEEE_FLOAT_32 decode") {
    val hVec = parseVhdr(vhdrText
      .replace("DataOrientation=MULTIPLEXED", "DataOrientation=VECTORIZED")).get
    // vectorized layout: all Fp1 digitals then all Cz digitals
    val bb = java.nio.ByteBuffer.allocate(2 * 2 * 10)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (1 to 10).foreach(s => bb.putShort((s * 2).toShort))
    (1 to 10).foreach(s => bb.putShort((s * 10).toShort))
    val t = signalTraces(hVec, bb.array())
      .map { case (n, _, v) => n -> v.toSeq }.toMap
    assert(t("Fp1") == (1 to 10).map(_.toDouble))
    assert(t("Cz") == (1 to 10).map(_ * 10.0))

    val hF = parseVhdr(vhdrText
      .replace("BinaryFormat=INT_16", "BinaryFormat=IEEE_FLOAT_32")).get
    val fb = java.nio.ByteBuffer.allocate(4 * 2 * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    fb.putFloat(1.5f); fb.putFloat(-2.5f) // sample 0: Fp1, Cz
    fb.putFloat(3.0f); fb.putFloat(4.0f)  // sample 1
    val tf = signalTraces(hF, fb.array())
      .map { case (n, _, v) => n -> v.toSeq }.toMap
    // float values are already physical: resolution NOT applied
    assert(tf("Fp1") == Seq(1.5, 3.0) && tf("Cz") == Seq(-2.5, 4.0))
  }

  test("vmrk markers parse; junk rejected") {
    val ms = parseMarkers(new String(vmrkB, UTF_8))
    assert(ms == Seq(
      Marker(1, "New Segment", "", 1L, 1L, 0),
      Marker(2, "Stimulus", "S  1", 3L, 1L, 0),
      Marker(3, "Response", "R  8", 7L, 1L, 2)))
    assert(parseMarkers("garbage").isEmpty)
  }

  test("distributed scan pairs vhdr with eeg and decodes per channel") {
    val dir = SyntheticFixtures.materialize("bvspec", "rec1.vhdr", vhdrB)
    SyntheticFixtures.materialize("bvspec", "rec1.eeg", eegB)
    SyntheticFixtures.materialize("bvspec", "rec1.vmrk", vmrkB)
    val ch = BrainVisionReader.channels(spark, dir).collect()
      .map(c => c.channel -> c).toMap
    assert(ch.keySet == Set("Fp1", "Cz"))
    assert(ch.values.forall(_.file_path.endsWith("/rec1.vhdr")))
    assert(ch("Fp1").n_samples == 10L && ch("Fp1").sampling_rate_hz == 4.0)
    assert(ch("Fp1").values.toSeq == (1 to 10).map(_.toDouble))
    val mk = BrainVisionReader.markers(spark, dir).collect()
    assert(mk.length == 3)
  }

  test("a DataFile that names no readable sibling yields no rows, " +
      "never a failed task") {
    val dir = SyntheticFixtures.freshDir("bvspec_bad_datafile")
    def put(name: String, b: Array[Byte]) =
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, name), b)
    put("good.vhdr", vhdrB)
    put("rec1.eeg", eegB)
    put("missing.vhdr",
      vhdrText.replace("DataFile=rec1.eeg", "DataFile=gone.eeg").getBytes(UTF_8))
    // "a:b" parses as a scheme with a relative path: no Hadoop Path
    put("unparsable.vhdr",
      vhdrText.replace("DataFile=rec1.eeg", "DataFile=a:b").getBytes(UTF_8))
    val files = BrainVisionReader.channels(spark, dir).collect()
      .map(c => new java.io.File(c.file_path).getName).toSet
    assert(files == Set("good.vhdr"))
  }

  test("a DataFile outside the scanned directory is never read") {
    val outer = java.nio.file.Paths.get(
      SyntheticFixtures.freshDir("bvspec_outside"))
    val dir = java.nio.file.Files.createDirectories(outer.resolve("inner"))
    java.nio.file.Files.write(outer.resolve("outside.eeg"), eegB)
    def put(name: String, dataFile: String) =
      java.nio.file.Files.write(dir.resolve(name), vhdrText
        .replace("DataFile=rec1.eeg", s"DataFile=$dataFile").getBytes(UTF_8))
    put("good.vhdr", "rec1.eeg")
    java.nio.file.Files.write(dir.resolve("rec1.eeg"), eegB)
    put("up.vhdr", "../outside.eeg")
    put("absolute.vhdr", outer.resolve("outside.eeg").toString)
    put("uri.vhdr", outer.resolve("outside.eeg").toUri.toString)
    val files = BrainVisionReader.channels(spark, dir.toString).collect()
      .map(c => new java.io.File(c.file_path).getName).toSet
    assert(files == Set("good.vhdr"))
  }
}
