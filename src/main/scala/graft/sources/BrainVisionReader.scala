package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** S14 EEG raw reader, BrainVision (SURVEY.md §2.1): the second
  * codec-free ephys format after [[EdfReader]] — the reference's BIDS EEG
  * importer registers `.vhdr/.vmrk/.eeg` triples
  * (`python/loris_bids_importer/src/loris_bids_importer/eeg/main.py:249`).
  * A recording is three sibling files:
  *
  *   - `.vhdr` — INI-style text header (format, orientation, channel table)
  *   - `.eeg`  — raw samples (INT_16 or IEEE_FLOAT_32, little-endian,
  *               multiplexed or vectorized)
  *   - `.vmrk` — INI-style marker (event) list
  *
  * All three are published-spec byte/text layouts (Brain Products
  * "BrainVision Core Data Format 1.0"), so the parse is row-local plain
  * Scala, hardened to None/empty on malformed input like the DICOM/EDF/tar
  * walkers. Distribution shape: the `binaryFile` scan reads only the
  * `.vhdr` headers; each task reads the `.eeg` its header names through
  * [[EphysSource.channels]]'s sibling reader and decodes it
  * partition-parallel, with no join and no second scan. */
object BrainVisionReader {

  final case class ChannelInfo(name: String, resolution: Double)

  final case class VhdrHeader(
      dataFile: String,
      markerFile: String,
      nChannels: Int,
      samplingIntervalUs: Double,
      binaryFormat: String,
      orientation: String,
      channelInfos: IndexedSeq[ChannelInfo]) {
    def samplingRateHz: Double = 1e6 / samplingIntervalUs
  }

  final case class Marker(
      index: Int,
      marker_type: String,
      description: String,
      position_sample: Long,
      points: Long,
      channel: Int)

  /** Hardened `.vhdr` parse: None unless the magic first line, a BINARY
    * DataFormat, positive channel count / sampling interval, and a
    * complete channel table are all present. */
  def parseVhdr(text: String): Option[VhdrHeader] = {
    if (!text.startsWith("Brain Vision Data Exchange Header File")) return None
    var section = ""
    val kv = scala.collection.mutable.Map[String, String]()
    val chans = scala.collection.mutable.ArrayBuffer[(Int, ChannelInfo)]()
    text.linesIterator.foreach { raw =>
      val line = raw.trim
      if (line.startsWith("[")) section = line
      else if (line.nonEmpty && !line.startsWith(";") && line.contains("=")) {
        val Array(k0, v0) = line.split("=", 2)
        val (k, v) = (k0.trim, v0.trim)
        section match {
          case "[Common Infos]" | "[Binary Infos]" => kv(k) = v
          case "[Channel Infos]" if k.matches("Ch\\d+") =>
            val parts = v.split(",", -1)
            val res = if (parts.length > 2 && parts(2).nonEmpty)
              parts(2).toDoubleOption.getOrElse(1.0) else 1.0
            k.drop(2).toIntOption.foreach(i =>
              chans += ((i, ChannelInfo(parts(0), res))))
          case _ => ()
        }
      }
    }
    for {
      df <- kv.get("DataFile").filter(_.nonEmpty)
      n <- kv.get("NumberOfChannels").flatMap(_.toIntOption)
      si <- kv.get("SamplingInterval").flatMap(_.toDoubleOption)
      if n > 0 && si > 0 &&
        kv.getOrElse("DataFormat", "BINARY").equalsIgnoreCase("BINARY")
      cs = chans.sortBy(_._1).map(_._2).toIndexedSeq
      if cs.length == n
    } yield VhdrHeader(
      dataFile = df,
      markerFile = kv.getOrElse("MarkerFile", ""),
      nChannels = n,
      samplingIntervalUs = si,
      binaryFormat = kv.getOrElse("BinaryFormat", "INT_16"),
      orientation = kv.getOrElse("DataOrientation", "MULTIPLEXED"),
      channelInfos = cs)
  }

  /** Decode the `.eeg` payload into per-channel physical traces.
    * INT_16 samples scale by the channel resolution (per the BrainVision
    * spec); IEEE_FLOAT_32 values are already physical. Trailing partial
    * sample frames are dropped whole. Unknown formats/orientations →
    * empty (hardened). */
  def signalTraces(h: VhdrHeader, data: Array[Byte]): Seq[(String, Double, Array[Double])] = {
    val bytesPer = h.binaryFormat match {
      case "INT_16" => 2
      case "IEEE_FLOAT_32" => 4
      case _ => return Seq.empty
    }
    val vectorized = h.orientation.equalsIgnoreCase("VECTORIZED")
    if (!vectorized && !h.orientation.equalsIgnoreCase("MULTIPLEXED"))
      return Seq.empty
    val n = h.nChannels
    val total = data.length / (bytesPer * n)
    val bb = java.nio.ByteBuffer.wrap(data)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val traces = Array.fill(n)(new Array[Double](total))
    var c = 0
    while (c < n) {
      val res = h.channelInfos(c).resolution
      val t = traces(c)
      var s = 0
      while (s < total) {
        val idx = if (vectorized) c * total + s else s.toLong.toInt * n + c
        t(s) = if (bytesPer == 2) bb.getShort(idx * 2).toDouble * res
               else bb.getFloat(idx * 4).toDouble
        s += 1
      }
      c += 1
    }
    h.channelInfos.zipWithIndex.map { case (ci, i) =>
      (ci.name, h.samplingRateHz, traces(i))
    }
  }

  /** Hardened `.vmrk` parse: the marker (event) rows — the ephys "events"
    * analog the reference loads into `physiological_task_event`. */
  def parseMarkers(text: String): Seq[Marker] = {
    if (!text.startsWith("Brain Vision Data Exchange Marker File")) return Seq.empty
    var section = ""
    val out = scala.collection.mutable.ArrayBuffer[Marker]()
    text.linesIterator.foreach { raw =>
      val line = raw.trim
      if (line.startsWith("[")) section = line
      else if (section == "[Marker Infos]" && line.contains("=") &&
        !line.startsWith(";")) {
        val Array(k0, v0) = line.split("=", 2)
        val k = k0.trim
        if (k.matches("Mk\\d+")) {
          val p = v0.split(",", -1)
          if (p.length >= 5) {
            val m = for {
              idx <- k.drop(2).toIntOption
              pos <- p(2).trim.toLongOption
              pts <- p(3).trim.toLongOption
              ch <- p(4).trim.toIntOption
            } yield Marker(idx, p(0).trim, p(1).trim, pos, pts, ch)
            m.foreach(out += _)
          }
        }
      }
    }
    out.toSeq
  }

  /** Distributed scan: every `.vhdr` under `dir` is parsed and its
    * `DataFile` payload read task-locally as a sibling (as
    * [[CtfReader]] reads `.meg4`), then decoded into one
    * [[EphysSource.Channel]] row per channel; `file_path` names the
    * `.vhdr`. */
  def channels(spark: SparkSession, dir: String): Dataset[EphysSource.Channel] =
    EphysSource.channels(spark, dir, "*.vhdr") { (_, bytes, sibling) =>
      parseVhdr(new String(bytes, UTF_8)).toSeq.flatMap(h =>
        sibling(h.dataFile).toSeq.flatMap(signalTraces(h, _)))
    }

  /** Distributed marker scan: one row per `.vmrk` marker. */
  def markers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    DicomSource.scanDir(spark, dir, "*.vmrk")
      .select("path", "content").as[(String, Array[Byte])]
      .flatMap { case (p, c) =>
        parseMarkers(new String(c, UTF_8)).map(m =>
          (p, m.index, m.marker_type, m.description, m.position_sample,
            m.points, m.channel))
      }
      .toDF("file_path", "marker_index", "marker_type", "description",
        "position_sample", "points", "channel")
  }
}
