package graft.operators

import org.apache.spark.sql.types._

/** A REAL pure-JVM video-CONTAINER parser for the multimodal column
  * harness ([[Multimodal.decodeRowsPartitioned]]) — the video leg beside
  * [[BmpCodec]] (image) and [[WavCodec]] (audio): RIFF/AVI, the one
  * mainstream video container whose structure (headers + frame index)
  * parses with no compression library. Codec payloads stay opaque — the
  * 100 TB video pipeline's heavy decode is exactly the pluggable
  * per-partition codec boundary [[Multimodal.RowDecoder]] models —
  * but everything a training-data pipeline filters and samples ON is in
  * the container: stream geometry (width/height/fps/frame count, handler
  * fourcc), per-stream headers, and the `idx1` frame index that makes
  * frame-level sampling a TABLE operation (offset/size/keyframe per
  * frame) instead of a decode.
  *
  * The chunk walker follows the RIFF spec — word-aligned chunks, LIST
  * recursion (`hdrl`/`strl`), unknown chunks skipped — so real-world
  * files with extra metadata parse, not just minimal fixtures. Malformed
  * or truncated payloads decode to NULLs/empty (untrusted bytes never
  * kill a scan stage); every bound is checked before it is read.
  */
object AviCodec {

  final case class AviMeta(
      microSecPerFrame: Long,
      totalFrames: Long,
      nStreams: Int,
      width: Int,
      height: Int,
      /** (fccType, fccHandler, scale, rate, length) per stream, in file
        * order — fps of a `vids` stream = rate/scale. */
      streams: Seq[(String, String, Long, Long, Long)])

  /** One `idx1` entry: (chunk id, keyframe flag, byte offset within
    * `movi`, chunk size). */
  final case class FrameEntry(
      ckid: String,
      keyframe: Boolean,
      offset: Long,
      size: Long)

  private def u16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8)
  private def u32(b: Array[Byte], o: Int): Long =
    ((b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8) |
      ((b(o + 2) & 0xFF) << 16) | ((b(o + 3) & 0xFF) << 24)) & 0xFFFFFFFFL
  private def tag(b: Array[Byte], o: Int): String =
    new String(b, o, 4, java.nio.charset.StandardCharsets.US_ASCII)

  private def isAvi(bytes: Array[Byte]): Boolean =
    bytes.length >= 12 && tag(bytes, 0) == "RIFF" && tag(bytes, 8) == "AVI "

  /** Hardened header decode: main header (`avih`) + per-stream headers
    * (`strh`) out of the `hdrl` LIST; None for non-AVI or truncated
    * structure. */
  def decode(bytes: Array[Byte]): Option[AviMeta] = {
    if (!isAvi(bytes)) return None
    var avih: Option[(Long, Long, Int, Int, Int)] = None
    val streams = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Long, Long, Long)]
    def walk(from: Int, to: Int): Boolean = {
      var off = from
      while (off + 8 <= to) {
        val id = tag(bytes, off)
        val size = u32(bytes, off + 4)
        if (off + 8 + size > to) return false
        val sz = size.toInt
        id match {
          case "LIST" =>
            if (sz < 4) return false
            val listType = tag(bytes, off + 8)
            // only the header lists matter; movi (frame payloads) is
            // opaque here and idx1 is a sibling chunk, not a LIST
            if (listType == "hdrl" || listType == "strl")
              if (!walk(off + 12, off + 8 + sz)) return false
          case "avih" =>
            if (sz < 40) return false
            avih = Some((u32(bytes, off + 8), u32(bytes, off + 24),
              u32(bytes, off + 32).toInt, u32(bytes, off + 40).toInt,
              u32(bytes, off + 44).toInt))
          case "strh" =>
            if (sz < 48) return false
            streams += ((tag(bytes, off + 8), tag(bytes, off + 12),
              u32(bytes, off + 28), u32(bytes, off + 32),
              u32(bytes, off + 40)))
          case _ => () // strf/strn/JUNK/movi/idx1: skip
        }
        off += 8 + sz + (sz & 1) // RIFF chunks are word-aligned
      }
      true
    }
    val end = math.min(bytes.length.toLong, 8L + u32(bytes, 4)).toInt
    if (!walk(12, end)) return None
    avih.map { case (uspf, total, ns, w, h) =>
      AviMeta(uspf, total, ns, w, h, streams.toSeq)
    }
  }

  /** The `idx1` frame index as a table: one entry per indexed chunk —
    * the frame-sampling primitive (offset/size/keyframe) that needs no
    * codec. Empty for non-AVI or index-less files. */
  def frameIndex(bytes: Array[Byte]): Seq[FrameEntry] = {
    if (!isAvi(bytes)) return Nil
    var off = 12
    val end = math.min(bytes.length.toLong, 8L + u32(bytes, 4)).toInt
    while (off + 8 <= end) {
      val id = tag(bytes, off)
      val size = u32(bytes, off + 4)
      if (off + 8 + size > end) return Nil
      val sz = size.toInt
      if (id == "idx1") {
        val n = sz / 16
        return (0 until n).map { i =>
          val e = off + 8 + i * 16
          FrameEntry(tag(bytes, e), (u32(bytes, e + 4) & 0x10L) != 0,
            u32(bytes, e + 8), u32(bytes, e + 12))
        }
      }
      off += 8 + sz + (sz & 1)
    }
    Nil
  }

  /** Absolute byte offset of the `movi` LIST's type fourcc — the base
    * the `idx1` offsets are relative to (first frame chunk at base+4,
    * frame PAYLOAD at base + entry.offset + 8 past the chunk header).
    * None for non-AVI or index-less structure. */
  def moviOffset(bytes: Array[Byte]): Option[Int] = {
    if (!isAvi(bytes)) return None
    var off = 12
    val end = math.min(bytes.length.toLong, 8L + u32(bytes, 4)).toInt
    while (off + 12 <= end) {
      val id = tag(bytes, off)
      val size = u32(bytes, off + 4)
      if (off + 8 + size > end) return None
      if (id == "LIST" && tag(bytes, off + 8) == "movi") return Some(off + 8)
      val sz = size.toInt
      off += 8 + sz + (sz & 1)
    }
    None
  }

  val metaSchema: StructType = StructType(Seq(
    StructField("magic", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("total_frames", LongType),
    StructField("n_streams", IntegerType),
    StructField("video_handler", StringType),
    StructField("fps_ppm", LongType),
    StructField("duration_ms", LongType),
    StructField("n_indexed_frames", LongType),
    StructField("n_keyframes", LongType)))

  /** [[Multimodal.RowDecoder]] emitting the container metadata a video
    * corpus filters on — geometry, handler fourcc, exact-integer fps
    * (rate·10⁶ div scale, falling back to 10¹² div µs-per-frame) and
    * duration, plus idx1 frame/keyframe counts. NULL row on decode
    * failure. */
  object AviMetaDecoder extends Multimodal.RowDecoder {
    val schema: StructType = metaSchema
    def decode(bytes: Array[Byte]): Seq[Any] = AviCodec.decode(bytes) match {
      case None =>
        Seq(null, null, null, null, null, null, null, null, null, null)
      case Some(m) =>
        val vids = m.streams.find(_._1 == "vids")
        val fpsPpm = vids match {
          case Some((_, _, scale, rate, _)) if scale > 0 =>
            rate * 1000000L / scale
          case _ if m.microSecPerFrame > 0 =>
            1000000000000L / m.microSecPerFrame
          case _ => 0L
        }
        val durMs = if (fpsPpm > 0) m.totalFrames * 1000000000L / fpsPpm
          else 0L
        val idx = frameIndex(bytes)
        Seq("AVI ", m.width, m.height, m.totalFrames, m.nStreams,
          vids.map(_._2).orNull, fpsPpm, durMs, idx.length.toLong,
          idx.count(_.keyframe).toLong)
    }
  }

  // ----------------- fixture writer (independent of the reader's
  // walker: builds the byte layout directly from the spec) -------------

  private def le32(v: Long): Array[Byte] =
    Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)

  private def chunk(id: String, body: Array[Byte]): Array[Byte] = {
    val pad = if (body.length % 2 == 1) Array(0.toByte) else Array.empty[Byte]
    id.getBytes("US-ASCII") ++ le32(body.length.toLong) ++ body ++ pad
  }

  private def list(listType: String, body: Array[Byte]): Array[Byte] =
    chunk("LIST", listType.getBytes("US-ASCII") ++ body)

  /** Minimal-but-spec-complete AVI fixture: one `vids` stream with the
    * given geometry, opaque frame payloads, and an `idx1` index (every
    * `keyEvery`-th frame flagged keyframe). */
  def aviBytes(width: Int, height: Int, scale: Long, rate: Long,
      handler: String, frames: Seq[Array[Byte]],
      keyEvery: Int = 4): Array[Byte] = {
    val uspf = if (rate > 0) scale * 1000000L / rate else 0L
    val avih = chunk("avih", le32(uspf) ++ le32(0) ++ le32(0) ++
      le32(0x10 /* AVIF_HASINDEX */) ++ le32(frames.size.toLong) ++
      le32(0) ++ le32(1) ++ le32(0) ++ le32(width.toLong) ++
      le32(height.toLong) ++ Array.fill(16)(0.toByte))
    val strh = chunk("strh", "vids".getBytes("US-ASCII") ++
      handler.getBytes("US-ASCII") ++ le32(0) ++ le32(0) ++ le32(0) ++
      le32(scale) ++ le32(rate) ++ le32(0) ++ le32(frames.size.toLong) ++
      le32(0) ++ le32(0) ++ le32(0) ++ Array.fill(8)(0.toByte))
    // BITMAPINFOHEADER: size, w, h, planes+bits, compression fourcc
    val strf = chunk("strf", le32(40) ++ le32(width.toLong) ++
      le32(height.toLong) ++ le32(0x00180001L) ++
      handler.getBytes("US-ASCII") ++ Array.fill(16)(0.toByte))
    val hdrl = list("hdrl", avih ++ list("strl", strh ++ strf))
    val frameChunks = frames.map(f => chunk("00dc", f))
    val movi = list("movi", frameChunks.flatten.toArray)
    // idx1 offsets are relative to the movi LIST's type fourcc (offset 4
    // convention: the first frame chunk sits at 4)
    var off = 4L
    val idxEntries = frames.zip(frameChunks).zipWithIndex.map {
      case ((f, ck), i) =>
        val e = "00dc".getBytes("US-ASCII") ++
          le32(if (i % keyEvery == 0) 0x10L else 0L) ++
          le32(off) ++ le32(f.length.toLong)
        off += ck.length
        e
    }
    val idx1 = chunk("idx1", idxEntries.flatten.toArray)
    val body = "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi ++ idx1
    "RIFF".getBytes("US-ASCII") ++ le32(body.length.toLong) ++ body
  }
}
