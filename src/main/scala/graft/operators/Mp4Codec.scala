package graft.operators

import org.apache.spark.sql.types._

/** A REAL pure-JVM MP4/ISO-BMFF container parser for the multimodal
  * column harness ([[Multimodal.decodeRowsPartitioned]]) — the second
  * video-container leg beside [[AviCodec]]: where AVI covers the RIFF
  * lineage, ISO-BMFF (`ftyp`/`moov`/`mdat` boxes) is the container the
  * modern video corpus actually arrives in (.mp4/.m4a/.mov). Codec
  * payloads stay opaque (the pluggable [[Multimodal.RowDecoder]]
  * boundary); everything a training-data pipeline filters and samples ON
  * is in `moov`: brand, movie/track durations on exact integer
  * timescales, track geometry (16.16 fixed-point `tkhd` width/height),
  * handler + sample-entry fourccs, and the sample tables
  * (`stsz`/`stsc`/`stco|co64`/`stss`) that make sample-level byte-range
  * planning a TABLE operation — [[sampleIndex]] resolves the
  * sample→chunk→offset arithmetic so frame sampling is a relational
  * stride filter emitting byte ranges BEFORE any codec runs, the exact
  * dual of [[AviCodec.frameIndex]]'s `idx1` walk.
  *
  * The box walker follows the ISO 14496-12 framing — 32-bit size with
  * the `size==1` → 64-bit largesize and `size==0` → to-end-of-enclosure
  * escapes, unknown boxes skipped — so real-world files with extra boxes
  * (`free`, `udta`, …) parse, not just minimal fixtures. Version 0 and
  * version 1 full boxes are both handled (`mvhd`/`tkhd`/`mdhd` 64-bit
  * times, `co64` chunk offsets). Malformed or truncated payloads decode
  * to None/Nil — untrusted bytes never kill a scan stage; every bound
  * and declared count is checked against the enclosing box before it is
  * read, so a lying `entry_count` aborts instead of allocating.
  */
object Mp4Codec {

  /** One track's filterable metadata: handler fourcc (`vide`/`soun`),
    * first sample-entry format fourcc (`avc1`/`mp4a`/…), media timescale
    * + duration, 16.16-truncated presentation geometry, and sample-table
    * counts (nSync = -1 when `stss` is absent: every sample is a sync
    * sample by contract). */
  final case class TrackMeta(
      handler: String,
      format: String,
      timescale: Long,
      duration: Long,
      width: Int,
      height: Int,
      nSamples: Long,
      nSync: Long)

  final case class Mp4Meta(
      brand: String,
      timescale: Long,
      duration: Long,
      tracks: Seq[TrackMeta])

  /** One resolved video sample: 1-based sample/chunk ordinals, absolute
    * file byte offset + size, and the `stss` keyframe flag (all-true
    * when the table is absent). */
  final case class SampleEntry(
      sampleNo: Int,
      chunkNo: Int,
      offset: Long,
      size: Long,
      keyframe: Boolean)

  // ---- big-endian primitives (ISO-BMFF is BE throughout) ----
  private def u16(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xFF) << 8) | (b(o + 1) & 0xFF)
  private def u32(b: Array[Byte], o: Int): Long =
    (((b(o) & 0xFF).toLong << 24) | ((b(o + 1) & 0xFF) << 16) |
      ((b(o + 2) & 0xFF) << 8) | (b(o + 3) & 0xFF)) & 0xFFFFFFFFL
  private def u64(b: Array[Byte], o: Int): Long =
    (u32(b, o) << 32) | u32(b, o + 4)
  private def tag(b: Array[Byte], o: Int): String =
    new String(b, o, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** Resolved child box: (type, payloadStart, payloadEnd). */
  private final case class Box(tpe: String, from: Int, to: Int)

  /** Walk the boxes in [from, to); None on malformed framing. */
  private def boxes(b: Array[Byte], from: Int, to: Int): Option[Seq[Box]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Box]
    var off = from
    while (off + 8 <= to) {
      val size32 = u32(b, off)
      val tpe = tag(b, off + 4)
      var header = 8L
      var size = size32
      if (size32 == 1L) {
        if (off + 16 > to) return None
        size = u64(b, off + 8)
        header = 16L
      } else if (size32 == 0L) {
        size = (to - off).toLong // last box: extends to enclosure end
      }
      if (size < header || off + size > to) return None
      out += Box(tpe, (off + header).toInt, (off + size).toInt)
      off += size.toInt
    }
    if (off != to && off + 8 > to && off < to) return None // trailing junk
    Some(out.toSeq)
  }

  private def fullBox(b: Array[Byte], box: Box): Option[Int] =
    if (box.to - box.from < 4) None else Some(b(box.from) & 0xFF)

  private def isMp4(b: Array[Byte]): Boolean =
    b.length >= 12 && tag(b, 4) == "ftyp"

  /** Hardened metadata decode: brand + movie header + per-track headers
    * and sample-table counts; None for non-BMFF or malformed structure. */
  def decode(b: Array[Byte]): Option[Mp4Meta] = {
    if (!isMp4(b)) return None
    val top = boxes(b, 0, b.length).getOrElse(return None)
    val ftyp = top.find(_.tpe == "ftyp").getOrElse(return None)
    if (ftyp.to - ftyp.from < 8) return None
    val brand = tag(b, ftyp.from)
    val moov = top.find(_.tpe == "moov").getOrElse(return None)
    val kids = boxes(b, moov.from, moov.to).getOrElse(return None)
    val mvhd = kids.find(_.tpe == "mvhd").getOrElse(return None)
    val (ts, dur) = fullBox(b, mvhd).getOrElse(return None) match {
      case 0 =>
        if (mvhd.to - mvhd.from < 20) return None
        (u32(b, mvhd.from + 12), u32(b, mvhd.from + 16))
      case 1 =>
        if (mvhd.to - mvhd.from < 32) return None
        (u32(b, mvhd.from + 20), u64(b, mvhd.from + 24))
      case _ => return None
    }
    val tracks = kids.filter(_.tpe == "trak").map { trak =>
      parseTrack(b, trak).getOrElse(return None)
    }
    Some(Mp4Meta(brand, ts, dur, tracks))
  }

  private def parseTrack(b: Array[Byte], trak: Box): Option[TrackMeta] = {
    val kids = boxes(b, trak.from, trak.to).getOrElse(return None)
    val tkhd = kids.find(_.tpe == "tkhd").getOrElse(return None)
    val (w, h) = fullBox(b, tkhd).getOrElse(return None) match {
      case 0 =>
        if (tkhd.to - tkhd.from < 84) return None
        (u32(b, tkhd.from + 76), u32(b, tkhd.from + 80))
      case 1 =>
        if (tkhd.to - tkhd.from < 96) return None
        (u32(b, tkhd.from + 88), u32(b, tkhd.from + 92))
      case _ => return None
    }
    val mdia = kids.find(_.tpe == "mdia").getOrElse(return None)
    val mkids = boxes(b, mdia.from, mdia.to).getOrElse(return None)
    val mdhd = mkids.find(_.tpe == "mdhd").getOrElse(return None)
    val (mts, mdur) = fullBox(b, mdhd).getOrElse(return None) match {
      case 0 =>
        if (mdhd.to - mdhd.from < 20) return None
        (u32(b, mdhd.from + 12), u32(b, mdhd.from + 16))
      case 1 =>
        if (mdhd.to - mdhd.from < 32) return None
        (u32(b, mdhd.from + 20), u64(b, mdhd.from + 24))
      case _ => return None
    }
    val hdlr = mkids.find(_.tpe == "hdlr").getOrElse(return None)
    if (hdlr.to - hdlr.from < 12) return None
    val handler = tag(b, hdlr.from + 8)
    val stbl = for {
      minf <- mkids.find(_.tpe == "minf")
      inner <- boxes(b, minf.from, minf.to)
      s <- inner.find(_.tpe == "stbl")
    } yield s
    stbl match {
      case None =>
        Some(TrackMeta(handler, null, mts, mdur,
          (w >> 16).toInt, (h >> 16).toInt, 0L, -1L))
      case Some(s) =>
        val skids = boxes(b, s.from, s.to).getOrElse(return None)
        val format = skids.find(_.tpe == "stsd").flatMap { sd =>
          // fullbox(4) + entry_count(4) + first entry: size(4) + fourcc(4)
          if (sd.to - sd.from < 16 || u32(b, sd.from + 4) < 1) None
          else Some(tag(b, sd.from + 12))
        }
        val nSamples = skids.find(_.tpe == "stsz").map { sz =>
          if (sz.to - sz.from < 12) return None
          u32(b, sz.from + 8)
        }.getOrElse(0L)
        val nSync = skids.find(_.tpe == "stss").map { ss =>
          if (ss.to - ss.from < 8) return None
          val n = u32(b, ss.from + 4)
          if (ss.from + 8 + n * 4 > ss.to) return None // lying entry_count
          n
        }.getOrElse(-1L)
        Some(TrackMeta(handler, format.orNull, mts, mdur,
          (w >> 16).toInt, (h >> 16).toInt, nSamples, nSync))
    }
  }

  /** The video track's sample tables resolved to a byte-range TABLE: the
    * `stsc` sample→chunk run mapping, `stco`/`co64` chunk offsets and
    * `stsz` sizes give every sample an absolute (offset, size); `stss`
    * marks keyframes (absent → all keyframes, per spec). Empty for
    * non-BMFF, malformed tables, or a file with no `vide` track — the
    * frame-sampling primitive that needs no codec. */
  def sampleIndex(b: Array[Byte]): Seq[SampleEntry] = {
    if (!isMp4(b)) return Nil
    val top = boxes(b, 0, b.length).getOrElse(return Nil)
    val moov = top.find(_.tpe == "moov").getOrElse(return Nil)
    val kids = boxes(b, moov.from, moov.to).getOrElse(return Nil)
    val stblOpt = kids.filter(_.tpe == "trak").iterator.flatMap { trak =>
      for {
        tk <- boxes(b, trak.from, trak.to)
        mdia <- tk.find(_.tpe == "mdia")
        mk <- boxes(b, mdia.from, mdia.to)
        hdlr <- mk.find(_.tpe == "hdlr")
        if hdlr.to - hdlr.from >= 12 && tag(b, hdlr.from + 8) == "vide"
        minf <- mk.find(_.tpe == "minf")
        ik <- boxes(b, minf.from, minf.to)
        stbl <- ik.find(_.tpe == "stbl")
      } yield stbl
    }.toSeq.headOption
    val stbl = stblOpt.getOrElse(return Nil)
    val skids = boxes(b, stbl.from, stbl.to).getOrElse(return Nil)

    // stsz: per-sample sizes (fixed size when sample_size != 0)
    val sizes: IndexedSeq[Long] = skids.find(_.tpe == "stsz") match {
      case None => return Nil
      case Some(sz) =>
        if (sz.to - sz.from < 12) return Nil
        val fixed = u32(b, sz.from + 4)
        val n = u32(b, sz.from + 8)
        if (n > Int.MaxValue / 8) return Nil
        if (fixed != 0L) IndexedSeq.fill(n.toInt)(fixed)
        else {
          if (sz.from + 12 + n * 4 > sz.to) return Nil
          (0 until n.toInt).map(i => u32(b, sz.from + 12 + i * 4))
        }
    }
    // stco / co64: chunk offsets
    val chunkOffsets: IndexedSeq[Long] =
      skids.find(b2 => b2.tpe == "stco" || b2.tpe == "co64") match {
        case None => return Nil
        case Some(co) =>
          if (co.to - co.from < 8) return Nil
          val n = u32(b, co.from + 4)
          val w = if (co.tpe == "co64") 8 else 4
          if (co.from + 8 + n * w > co.to) return Nil
          (0 until n.toInt).map { i =>
            if (w == 8) u64(b, co.from + 8 + i * 8)
            else u32(b, co.from + 8 + i * 4)
          }
      }
    // stsc: (first_chunk, samples_per_chunk) runs
    val stscRuns: IndexedSeq[(Long, Long)] = skids.find(_.tpe == "stsc") match {
      case None => return Nil
      case Some(sc) =>
        if (sc.to - sc.from < 8) return Nil
        val n = u32(b, sc.from + 4)
        if (sc.from + 8 + n * 12 > sc.to) return Nil
        (0 until n.toInt).map { i =>
          (u32(b, sc.from + 8 + i * 12), u32(b, sc.from + 12 + i * 12))
        }
    }
    if (stscRuns.isEmpty || stscRuns.head._1 != 1L) return Nil
    // stss: sync sample numbers (1-based); absent -> every sample
    val sync: Option[Set[Long]] = skids.find(_.tpe == "stss").map { ss =>
      if (ss.to - ss.from < 8) return Nil
      val n = u32(b, ss.from + 4)
      if (ss.from + 8 + n * 4 > ss.to) return Nil
      (0 until n.toInt).map(i => u32(b, ss.from + 8 + i * 4)).toSet
    }

    // resolve: walk chunks in order, spending samples_per_chunk from the
    // governing stsc run, accumulating intra-chunk offsets from stsz
    val out = scala.collection.mutable.ArrayBuffer.empty[SampleEntry]
    var sample = 0 // 0-based into sizes
    var run = 0
    var chunk = 1L
    while (sample < sizes.length && chunk <= chunkOffsets.length) {
      while (run + 1 < stscRuns.length && stscRuns(run + 1)._1 <= chunk)
        run += 1
      val spc = stscRuns(run)._2
      var within = 0L
      var off = chunkOffsets((chunk - 1).toInt)
      var i = 0L
      while (i < spc && sample < sizes.length) {
        val no = sample + 1
        out += SampleEntry(no, chunk.toInt, off, sizes(sample),
          sync.forall(_.contains(no.toLong)))
        off += sizes(sample)
        within += 1
        sample += 1
        i += 1
      }
      chunk += 1
    }
    if (sample < sizes.length) Nil // chunk table too short for the samples
    else out.toSeq
  }

  val metaSchema: StructType = StructType(Seq(
    StructField("magic", StringType),
    StructField("n_tracks", IntegerType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("video_codec", StringType),
    StructField("audio_codec", StringType),
    StructField("duration_ms", LongType),
    StructField("video_duration_ms", LongType),
    StructField("n_samples", LongType),
    StructField("n_keyframes", LongType)))

  /** [[Multimodal.RowDecoder]] emitting the container metadata a video
    * corpus filters on: brand, track count, video geometry + sample-entry
    * fourccs, exact-integer durations (duration·1000 div timescale — the
    * movie clock and the video track's own media clock), sample count,
    * and keyframe count (`stss` size, or the sample count when the table
    * is absent: all-sync by spec). NULL row on decode failure. */
  object Mp4MetaDecoder extends Multimodal.RowDecoder {
    val schema: StructType = metaSchema
    def decode(bytes: Array[Byte]): Seq[Any] = Mp4Codec.decode(bytes) match {
      case None =>
        Seq(null, null, null, null, null, null, null, null, null, null)
      case Some(m) =>
        val vide = m.tracks.find(_.handler == "vide")
        val soun = m.tracks.find(_.handler == "soun")
        val durMs = if (m.timescale > 0) m.duration * 1000L / m.timescale
          else 0L
        val vDurMs = vide match {
          case Some(t) if t.timescale > 0 => t.duration * 1000L / t.timescale
          case _ => null
        }
        val nSamples = vide.map(_.nSamples).getOrElse(0L)
        val nKey = vide.map(t => if (t.nSync >= 0) t.nSync else t.nSamples)
          .getOrElse(0L)
        Seq(m.brand, m.tracks.length, vide.map(_.width).orNull,
          vide.map(_.height).orNull, vide.map(_.format).orNull,
          soun.map(_.format).orNull, durMs, vDurMs, nSamples, nKey)
    }
  }

  // ----------------- fixture writer (independent of the reader's
  // walker: builds the byte layout directly from ISO 14496-12) ---------

  private def be16(v: Int): Array[Byte] =
    Array(((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
  private def be32(v: Long): Array[Byte] =
    Array(((v >> 24) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
      ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
  private def be64(v: Long): Array[Byte] = be32(v >>> 32) ++ be32(v)

  private def box(tpe: String, body: Array[Byte]): Array[Byte] =
    be32(8L + body.length) ++ tpe.getBytes("US-ASCII") ++ body
  private def full(tpe: String, version: Int, body: Array[Byte]): Array[Byte] =
    box(tpe, Array[Byte](version.toByte, 0, 0, 0) ++ body)

  /** Minimal-but-spec-complete MP4 fixture: `ftyp` + `mdat` FIRST (so
    * chunk offsets are forward-computable) + `moov` with one video track
    * (sample tables from the given sizes / stsc runs / sync list) and an
    * optional audio track. `version1` exercises the 64-bit paths: v1
    * mvhd/tkhd/mdhd and `co64` chunk offsets. */
  def mp4Bytes(
      brand: String,
      timescale: Long,
      duration: Long,
      width: Int,
      height: Int,
      videoFormat: String,
      sampleSizes: Seq[Int],
      stscRuns: Seq[(Int, Int)],
      syncSamples: Seq[Int],
      mediaTimescale: Long,
      mediaDuration: Long,
      audioFormat: Option[String] = None,
      version1: Boolean = false): Array[Byte] = {
    val ftyp = box("ftyp", brand.getBytes("US-ASCII") ++ be32(0) ++
      "mp42".getBytes("US-ASCII"))
    val payload = sampleSizes.zipWithIndex.flatMap { case (sz, i) =>
      Array.fill[Byte](sz)((i + 1).toByte)
    }.toArray
    val mdat = box("mdat", payload)
    val payloadStart = ftyp.length + 8L

    // partition samples into chunks per the stsc runs
    val chunkFirstSample = scala.collection.mutable.ArrayBuffer.empty[Int]
    var s = 0
    var chunk = 1
    var run = 0
    while (s < sampleSizes.length) {
      while (run + 1 < stscRuns.length && stscRuns(run + 1)._1 <= chunk)
        run += 1
      chunkFirstSample += s
      s += stscRuns(run)._2
      chunk += 1
    }
    val prefix = sampleSizes.scanLeft(0L)(_ + _)
    val chunkOffsets = chunkFirstSample.map(fs => payloadStart + prefix(fs))

    def mvhd = if (version1)
      full("mvhd", 1, be64(0) ++ be64(0) ++ be32(timescale) ++
        be64(duration) ++ be32(0x00010000L) ++ be16(0x0100) ++
        Array.fill[Byte](10)(0) ++ identityMatrix ++
        Array.fill[Byte](24)(0) ++ be32(2))
    else
      full("mvhd", 0, be32(0) ++ be32(0) ++ be32(timescale) ++
        be32(duration) ++ be32(0x00010000L) ++ be16(0x0100) ++
        Array.fill[Byte](10)(0) ++ identityMatrix ++
        Array.fill[Byte](24)(0) ++ be32(2))

    def tkhd(id: Long, w: Int, h: Int) = if (version1)
      full("tkhd", 1, be64(0) ++ be64(0) ++ be32(id) ++ be32(0) ++
        be64(duration) ++ Array.fill[Byte](8)(0) ++ be16(0) ++ be16(0) ++
        be16(0) ++ be16(0) ++ identityMatrix ++
        be32(w.toLong << 16) ++ be32(h.toLong << 16))
    else
      full("tkhd", 0, be32(0) ++ be32(0) ++ be32(id) ++ be32(0) ++
        be32(duration) ++ Array.fill[Byte](8)(0) ++ be16(0) ++ be16(0) ++
        be16(0) ++ be16(0) ++ identityMatrix ++
        be32(w.toLong << 16) ++ be32(h.toLong << 16))

    def mdhd = if (version1)
      full("mdhd", 1, be64(0) ++ be64(0) ++ be32(mediaTimescale) ++
        be64(mediaDuration) ++ be16(0x55C4) ++ be16(0))
    else
      full("mdhd", 0, be32(0) ++ be32(0) ++ be32(mediaTimescale) ++
        be32(mediaDuration) ++ be16(0x55C4) ++ be16(0))

    def hdlr(h: String) = full("hdlr", 0, be32(0) ++
      h.getBytes("US-ASCII") ++ Array.fill[Byte](12)(0) ++ Array[Byte](0))

    def stsdBox(format: String) = full("stsd", 0, be32(1) ++
      box(format, Array.fill[Byte](6)(0) ++ be16(1)))

    val stts = full("stts", 0, be32(1) ++ be32(sampleSizes.length.toLong) ++
      be32(1))
    val stsc = full("stsc", 0, be32(stscRuns.length.toLong) ++
      stscRuns.flatMap { case (fc, spc) =>
        be32(fc.toLong) ++ be32(spc.toLong) ++ be32(1)
      })
    val stsz = full("stsz", 0, be32(0) ++ be32(sampleSizes.length.toLong) ++
      sampleSizes.flatMap(sz => be32(sz.toLong)))
    val stco = if (version1)
      full("co64", 0, be32(chunkOffsets.length.toLong) ++
        chunkOffsets.flatMap(be64))
    else
      full("stco", 0, be32(chunkOffsets.length.toLong) ++
        chunkOffsets.flatMap(be32))
    val stss = if (syncSamples.isEmpty) Array.empty[Byte]
      else full("stss", 0, be32(syncSamples.length.toLong) ++
        syncSamples.flatMap(n => be32(n.toLong)))

    val vStbl = box("stbl", stsdBox(videoFormat) ++ stts ++ stsc ++ stsz ++
      stco ++ stss)
    val vMinf = box("minf", vStbl)
    val vMdia = box("mdia", mdhd ++ hdlr("vide") ++ vMinf)
    val vTrak = box("trak", tkhd(1, width, height) ++ vMdia)

    val aTrak = audioFormat.map { af =>
      val empties = full("stts", 0, be32(0)) ++ full("stsc", 0, be32(0)) ++
        full("stsz", 0, be32(0) ++ be32(0)) ++ full("stco", 0, be32(0))
      val aStbl = box("stbl", stsdBox(af) ++ empties)
      box("trak", tkhd(2, 0, 0) ++
        box("mdia", mdhd ++ hdlr("soun") ++ box("minf", aStbl)))
    }.getOrElse(Array.empty[Byte])

    val moov = box("moov", mvhd ++ vTrak ++ aTrak)
    ftyp ++ mdat ++ moov
  }

  private val identityMatrix: Array[Byte] =
    be32(0x00010000L) ++ be32(0) ++ be32(0) ++
      be32(0) ++ be32(0x00010000L) ++ be32(0) ++
      be32(0) ++ be32(0) ++ be32(0x40000000L)
}
