package graft.operators

import org.apache.spark.sql.types._

/** A REAL pure-JVM JPEG marker-segment walker for the multimodal column
  * harness — the format the bulk of a web-scale image corpus actually
  * arrives in, beside the already-decoded legs ([[BmpCodec]] raster,
  * [[PngCodec]] full inflate). Entropy-coded payloads stay opaque (the
  * pluggable [[Multimodal.RowDecoder]] boundary pays the IDCT);
  * everything an image training pipeline FILTERS on precedes the first
  * SOS scan: frame geometry + bit precision + component count from
  * SOF0/1/2 (and whether the stream is progressive — SOF2 — which
  * decides decoder routing and byte-range streamability), quantization /
  * Huffman table counts, chroma subsampling from the SOF sampling
  * factors, and the APP0/APP1 JFIF/Exif signatures that gate metadata
  * extraction.
  *
  * The walker follows ITU-T T.81 framing: marker = 0xFF byte + code,
  * segments carry a big-endian self-inclusive length, standalone markers
  * (SOI/EOI/TEM/RSTn) carry none, fill bytes (0xFF padding before a
  * marker) are legal and skipped. Parsing stops at the first SOS — all
  * the tables a filter needs precede it. Malformed or truncated payloads
  * decode to None (untrusted bytes never kill a scan stage); every
  * declared length is bounds-checked before the segment is read.
  */
object JpegCodec {

  /** Pre-scan metadata: everything before the first SOS. `subsampling`
    * is the first (luma) component's "HxV" sampling factors — "2x2" is
    * 4:2:0, "1x1" with 3 components is 4:4:4. */
  final case class JpegMeta(
      width: Int,
      height: Int,
      precision: Int,
      nComponents: Int,
      progressive: Boolean,
      nQuantTables: Int,
      nHuffmanTables: Int,
      subsampling: String,
      hasJfif: Boolean,
      hasExif: Boolean)

  private def u16(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xFF) << 8) | (b(o + 1) & 0xFF)

  /** Hardened pre-scan decode; None for non-JPEG or malformed framing. */
  def decode(b: Array[Byte]): Option[JpegMeta] = {
    if (b.length < 4 || (b(0) & 0xFF) != 0xFF || (b(1) & 0xFF) != 0xD8)
      return None
    var off = 2
    var sof: Option[(Int, Int, Int, Int, Boolean, String)] = None
    var nQuant = 0
    var nHuff = 0
    var jfif = false
    var exif = false
    while (off + 1 < b.length) {
      if ((b(off) & 0xFF) != 0xFF) return None // lost marker sync
      // fill bytes: any run of 0xFF before the marker code is legal
      while (off + 1 < b.length && (b(off + 1) & 0xFF) == 0xFF) off += 1
      if (off + 1 >= b.length) return None
      val marker = b(off + 1) & 0xFF
      off += 2
      marker match {
        case 0xD8 | 0x01 => () // SOI / TEM: standalone
        case m if m >= 0xD0 && m <= 0xD7 => () // RSTn: standalone
        case 0xD9 => // EOI before any SOF: metadata-less stream
          return sof.map(toMeta(_, nQuant, nHuff, jfif, exif))
        case _ =>
          if (off + 2 > b.length) return None
          val len = u16(b, off)
          if (len < 2 || off + len > b.length) return None
          marker match {
            case 0xE0 => // APP0
              jfif ||= len >= 7 &&
                new String(b, off + 2, 4, "US-ASCII") == "JFIF" &&
                b(off + 6) == 0
            case 0xE1 => // APP1
              exif ||= len >= 8 &&
                new String(b, off + 2, 4, "US-ASCII") == "Exif" &&
                b(off + 6) == 0 && b(off + 7) == 0
            case 0xDB => // DQT: 1-byte Pq/Tq + 64·(Pq+1) values per table
              var p = off + 2
              while (p < off + len) {
                val pq = (b(p) & 0xF0) >> 4
                val tblLen = 1 + 64 * (pq + 1)
                if (pq > 1 || p + tblLen > off + len) return None
                nQuant += 1
                p += tblLen
              }
            case 0xC4 => // DHT: 1-byte Tc/Th + 16 counts + values per table
              var p = off + 2
              while (p < off + len) {
                if (p + 17 > off + len) return None
                var nVals = 0
                var i = 0
                while (i < 16) { nVals += b(p + 1 + i) & 0xFF; i += 1 }
                if (p + 17 + nVals > off + len) return None
                nHuff += 1
                p += 17 + nVals
              }
            case 0xC0 | 0xC1 | 0xC2 => // SOF0 baseline / SOF1 ext / SOF2 prog
              if (len < 8) return None
              val precision = b(off + 2) & 0xFF
              val h = u16(b, off + 3)
              val w = u16(b, off + 5)
              val nc = b(off + 7) & 0xFF
              if (len < 8 + 3 * nc) return None
              val samp = if (nc >= 1) {
                val sf = b(off + 9) & 0xFF
                s"${(sf & 0xF0) >> 4}x${sf & 0x0F}"
              } else ""
              sof = Some((w, h, precision, nc, marker == 0xC2, samp))
            case 0xDA => // SOS: tables end here; emit what we have
              return sof.map(toMeta(_, nQuant, nHuff, jfif, exif))
            case _ => () // other APPn / COM / DRI …: skip
          }
          off += len
      }
    }
    None // ran off the end without SOS/EOI
  }

  private def toMeta(sof: (Int, Int, Int, Int, Boolean, String),
      nQuant: Int, nHuff: Int, jfif: Boolean, exif: Boolean): JpegMeta = {
    val (w, h, prec, nc, prog, samp) = sof
    JpegMeta(w, h, prec, nc, prog, nQuant, nHuff, samp, jfif, exif)
  }

  val metaSchema: StructType = StructType(Seq(
    StructField("magic", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("precision", IntegerType),
    StructField("n_components", IntegerType),
    StructField("progressive", BooleanType),
    StructField("n_quant_tables", IntegerType),
    StructField("n_huffman_tables", IntegerType),
    StructField("subsampling", StringType),
    StructField("has_jfif", BooleanType),
    StructField("has_exif", BooleanType)))

  /** [[Multimodal.RowDecoder]] emitting the pre-scan metadata an image
    * corpus filters on. NULL row on decode failure. */
  object JpegMetaDecoder extends Multimodal.RowDecoder {
    val schema: StructType = metaSchema
    def decode(bytes: Array[Byte]): Seq[Any] =
      JpegCodec.decode(bytes) match {
        case None => Seq(null, null, null, null, null, null, null, null,
          null, null, null)
        case Some(m) => Seq("JPEG", m.width, m.height, m.precision,
          m.nComponents, m.progressive, m.nQuantTables, m.nHuffmanTables,
          m.subsampling, m.hasJfif, m.hasExif)
      }
  }

  // ----------------- fixture writer (independent of the reader's
  // walker: builds segments directly from T.81) ------------------------

  private def be16(v: Int): Array[Byte] =
    Array(((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
  private def seg(marker: Int, body: Array[Byte]): Array[Byte] =
    Array(0xFF.toByte, marker.toByte) ++ be16(body.length + 2) ++ body

  /** Minimal-but-spec-complete JPEG fixture: JFIF APP0 (+ optional Exif
    * APP1), `nQuant` 8-bit DQTs, one DHT per class in `huffClasses`, an
    * SOF of the given flavor, SOS, stuffed entropy bytes, EOI. */
  def jpegBytes(width: Int, height: Int, precision: Int, nComponents: Int,
      progressive: Boolean, nQuant: Int, huffClasses: Seq[Int],
      subsamplingH: Int = 2, subsamplingV: Int = 2,
      withExif: Boolean = false): Array[Byte] = {
    val app0 = seg(0xE0, ("JFIF".getBytes("US-ASCII") :+ 0.toByte) ++
      Array[Byte](1, 2, 0) ++ be16(72) ++ be16(72) ++ Array[Byte](0, 0))
    val app1 = if (withExif)
      seg(0xE1, ("Exif".getBytes("US-ASCII") ++ Array[Byte](0, 0)) ++
        ("II*".getBytes("US-ASCII") :+ 0.toByte))
    else Array.empty[Byte]
    val dqts = (0 until nQuant).map(i =>
      seg(0xDB, Array((i & 0x0F).toByte) ++
        Array.fill[Byte](64)((i + 1).toByte))).flatten.toArray
    val dhts = huffClasses.map { tc =>
      // 16 count bytes declaring 1 code of length 2, then that value
      val counts = Array.fill[Byte](16)(0); counts(1) = 1
      seg(0xC4, Array(((tc << 4) & 0xF0).toByte) ++ counts ++
        Array[Byte](5))
    }.flatten.toArray
    val comps = (0 until nComponents).flatMap { c =>
      val sf = if (c == 0) ((subsamplingH << 4) | subsamplingV).toByte
        else 0x11.toByte
      Array((c + 1).toByte, sf, 0.toByte)
    }.toArray
    val sof = seg(if (progressive) 0xC2 else 0xC0,
      Array(precision.toByte) ++ be16(height) ++ be16(width) ++
        Array(nComponents.toByte) ++ comps)
    val sosComps = (0 until nComponents).flatMap(c =>
      Array((c + 1).toByte, 0.toByte)).toArray
    val sos = seg(0xDA, Array(nComponents.toByte) ++ sosComps ++
      Array[Byte](0, 63, 0))
    // entropy-coded bytes incl. a stuffed 0xFF 0x00 the scanner must skip
    val entropy = Array[Byte](0x12, 0xFF.toByte, 0x00, 0x34)
    Array(0xFF.toByte, 0xD8.toByte) ++ app0 ++ app1 ++ dqts ++ dhts ++
      sof ++ sos ++ entropy ++ Array(0xFF.toByte, 0xD9.toByte)
  }

  /** An independently-encoded real JPEG: the JDK's own ImageIO writer
    * (java.desktop) over a deterministic RGB gradient — the
    * independent-writer pin for the walker (dims/precision/components/
    * baseline are encoder-guaranteed; table counts are encoder-chosen). */
  def imageIoJpeg(width: Int, height: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        img.setRGB(x, y, ((x * 31 + y * 17) % 255) << 16 |
          ((x * 7 + y * 3) % 255) << 8 | ((x + y) % 255))
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", out)
    out.toByteArray
  }

  // ----------------- EXIF (APP1 TIFF IFD0) ----------------------------

  /** One IFD0 entry rendered to a table row: (tag, type, count, value).
    * SHORT/LONG values render as decimal; ASCII as the NUL-trimmed
    * string; other types as the raw value-field hex (opaque but
    * deterministic). */
  final case class ExifEntry(tag: Int, tpe: Int, count: Long, value: String)

  /** The APP1 "Exif\u0000\u0000" TIFF block's IFD0 as a table — the
    * orientation/camera metadata an image pipeline normalizes on,
    * parsed with both byte orders ("II" little-endian, "MM" big-endian)
    * and every offset bounds-checked against the segment. None for
    * missing/malformed EXIF — never a throw on hostile bytes. */
  def exifEntries(b: Array[Byte]): Option[Seq[ExifEntry]] = {
    // walk segments to the first APP1 with the Exif identifier
    if (b.length < 4 || (b(0) & 0xFF) != 0xFF || (b(1) & 0xFF) != 0xD8)
      return None
    var off = 2
    var tiff = -1
    var tiffEnd = -1
    while (off + 4 <= b.length && tiff < 0) {
      if ((b(off) & 0xFF) != 0xFF) return None
      while (off + 1 < b.length && (b(off + 1) & 0xFF) == 0xFF) off += 1
      if (off + 1 >= b.length) return None
      val marker = b(off + 1) & 0xFF
      off += 2
      if (marker == 0xD8 || marker == 0x01 ||
        (marker >= 0xD0 && marker <= 0xD7)) ()
      else if (marker == 0xD9 || marker == 0xDA) return None // no EXIF
      else {
        if (off + 2 > b.length) return None
        val len = u16(b, off)
        if (len < 2 || off + len > b.length) return None
        if (marker == 0xE1 && len >= 10 &&
          new String(b, off + 2, 4, "US-ASCII") == "Exif" &&
          b(off + 6) == 0 && b(off + 7) == 0) {
          tiff = off + 8
          tiffEnd = off + len
        }
        off += len
      }
    }
    if (tiff < 0 || tiffEnd - tiff < 8) return None
    val le = b(tiff) == 'I' && b(tiff + 1) == 'I'
    val be = b(tiff) == 'M' && b(tiff + 1) == 'M'
    if (!le && !be) return None
    def rd16(o: Int): Int =
      if (le) (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8)
      else ((b(o) & 0xFF) << 8) | (b(o + 1) & 0xFF)
    def rd32(o: Int): Long =
      if (le) ((b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8) |
        ((b(o + 2) & 0xFF) << 16) | ((b(o + 3) & 0xFF).toLong << 24)) &
        0xFFFFFFFFL
      else (((b(o) & 0xFF).toLong << 24) | ((b(o + 1) & 0xFF) << 16) |
        ((b(o + 2) & 0xFF) << 8) | (b(o + 3) & 0xFF)) & 0xFFFFFFFFL
    if (rd16(tiff + 2) != 42) return None
    val ifd0 = rd32(tiff + 4)
    if (ifd0 < 8 || tiff + ifd0 + 2 > tiffEnd) return None
    val base = (tiff + ifd0).toInt
    val n = rd16(base)
    if (base + 2 + n * 12 > tiffEnd) return None // lying entry count
    val typeSize = Map(1 -> 1, 2 -> 1, 3 -> 2, 4 -> 4, 5 -> 8, 7 -> 1,
      9 -> 4, 10 -> 8)
    val out = (0 until n).map { i =>
      val e = base + 2 + i * 12
      val tag = rd16(e)
      val tpe2 = rd16(e + 2)
      val count = rd32(e + 4)
      val sz = typeSize.getOrElse(tpe2, 1)
      val byteLen = sz.toLong * count
      val valOff =
        if (byteLen <= 4) e + 8
        else {
          val o = rd32(e + 8)
          if (tiff + o + byteLen > tiffEnd || o < 8) return None
          (tiff + o).toInt
        }
      val value = tpe2 match {
        case 2 => // ASCII: NUL-terminated
          val raw = new String(b, valOff,
            math.min(byteLen, (tiffEnd - valOff).toLong).toInt, "US-ASCII")
          raw.takeWhile(_ != '\u0000')
        case 3 => (0 until math.min(count, 4L).toInt)
          .map(k => rd16(valOff + 2 * k)).mkString(",")
        case 4 => (0 until math.min(count, 2L).toInt)
          .map(k => rd32(valOff + 4 * k)).mkString(",")
        case 5 => if (count >= 1) s"${rd32(valOff)}/${rd32(valOff + 4)}"
          else ""
        case _ => (0 until math.min(byteLen, 4L).toInt)
          .map(k => f"${b(valOff + k) & 0xFF}%02x").mkString
      }
      ExifEntry(tag, tpe2, count, value)
    }
    Some(out)
  }

  /** Convenience lookups over [[exifEntries]]: the fields pipelines act
    * on (orientation 0x0112, make 0x010F, model 0x0110, datetime
    * 0x0132). */
  def exifSummary(b: Array[Byte]): Option[(Int, String, String, String)] =
    exifEntries(b).map { es =>
      def find(tag: Int): Option[String] =
        es.find(_.tag == tag).map(_.value)
      (find(0x0112).flatMap(v => v.split(",").headOption)
        .flatMap(v => scala.util.Try(v.toInt).toOption).getOrElse(0),
        find(0x010F).orNull, find(0x0110).orNull, find(0x0132).orNull)
    }

  /** Fixture writer: a TIFF IFD0 APP1 payload (independent of the
    * reader — big- or little-endian, inline and offset values). */
  def exifApp1(le: Boolean,
      entries: Seq[(Int, Int, Seq[Any])]): Array[Byte] = {
    def w16(v: Int): Array[Byte] =
      if (le) Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
      else Array(((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    def w32(v: Long): Array[Byte] =
      if (le) Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
        ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
      else Array(((v >> 24) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
        ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    // serialize values; ASCII gets a trailing NUL
    val rendered = entries.map { case (tag, tpe, vs) =>
      val bytes = tpe match {
        case 2 => (vs.head.asInstanceOf[String] + "\u0000")
          .getBytes("US-ASCII")
        case 3 => vs.flatMap(v => w16(v.asInstanceOf[Int])).toArray
        case 4 => vs.flatMap(v => w32(v.asInstanceOf[Int].toLong)).toArray
        case 5 => vs.grouped(2).flatMap(p => w32(p(0).asInstanceOf[Int]
          .toLong) ++ w32(p(1).asInstanceOf[Int].toLong)).toArray
        case _ => vs.map(v => v.asInstanceOf[Int].toByte).toArray
      }
      val count = tpe match {
        case 2 => bytes.length
        case 3 => vs.length
        case 4 => vs.length
        case 5 => vs.length / 2
        case _ => bytes.length
      }
      (tag, tpe, count, bytes)
    }
    val n = rendered.length
    var tailOff = 8L + 2 + n * 12 + 4 // after IFD0 + next-IFD pointer
    val tail = new java.io.ByteArrayOutputStream()
    val ifd = new java.io.ByteArrayOutputStream()
    ifd.write(w16(n), 0, 2)
    rendered.foreach { case (tag, tpe, count, bytes) =>
      ifd.write(w16(tag), 0, 2)
      ifd.write(w16(tpe), 0, 2)
      ifd.write(w32(count.toLong), 0, 4)
      if (bytes.length <= 4) {
        val padded = bytes ++ Array.fill[Byte](4 - bytes.length)(0)
        ifd.write(padded, 0, 4)
      } else {
        ifd.write(w32(tailOff), 0, 4)
        tail.write(bytes, 0, bytes.length)
        tailOff += bytes.length
      }
    }
    ifd.write(w32(0L), 0, 4) // no IFD1
    val tiff = (if (le) "II" else "MM").getBytes("US-ASCII") ++ w16(42) ++
      w32(8L) ++ ifd.toByteArray ++ tail.toByteArray
    ("Exif".getBytes("US-ASCII") :+ 0.toByte :+ 0.toByte) ++ tiff
  }

  /** [[jpegBytes]] with a REAL EXIF APP1 payload spliced in. */
  def jpegBytesWithExif(width: Int, height: Int,
      app1Payload: Array[Byte]): Array[Byte] = {
    val plain = jpegBytes(width, height, 8, 3, progressive = false,
      nQuant = 1, huffClasses = Seq(0, 1))
    // splice after SOI + APP0 (APP0 length is fixed at 18 in the writer)
    val cut = 2 + 18
    plain.take(cut) ++ seg(0xE1, app1Payload) ++ plain.drop(cut)
  }
}
