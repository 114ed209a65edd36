package graft.operators

import org.apache.spark.sql.types._

/** A REAL pure-JVM image codec for the multimodal column harness
  * ([[Multimodal.decodeRowsPartitioned]]): Windows BMP, the one mainstream
  * raster format that needs no compression library — "BM" magic,
  * little-endian BITMAPINFOHEADER (width, height with sign-encoded row
  * order, bit depth), 4-byte-aligned BGR(A) pixel rows. Decoding 24-bit
  * and 32-bit uncompressed (BI_RGB) images end-to-end closes the round-2
  * gap where the multimodal capability had only a stub decoder behind the
  * real partition-lifecycle plumbing.
  *
  * All outputs are exact integers (dimensions, per-channel sums, packed
  * top-left pixel), so the decoded results pin directly as oracle rows.
  * Malformed or out-of-scope payloads (wrong magic, compressed, other
  * depths) decode to NULLs — untrusted bytes never kill a scan stage.
  */
object BmpCodec {

  final case class BmpImage(
      width: Int,
      height: Int,
      bitsPerPixel: Int,
      topDown: Boolean,
      /** pixels(y)(x) = packed 0xRRGGBB, row 0 = TOP row regardless of the
        * file's bottom-up/top-down storage order. */
      pixels: Array[Array[Int]])

  private def u16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8)
  private def i32(b: Array[Byte], o: Int): Int =
    (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8) |
      ((b(o + 2) & 0xFF) << 16) | ((b(o + 3) & 0xFF) << 24)

  /** Hardened decode: 24/32-bit uncompressed BMP → top-row-first pixel
    * grid; None for anything else. */
  def decode(bytes: Array[Byte]): Option[BmpImage] = {
    if (bytes.length < 54 || bytes(0) != 'B' || bytes(1) != 'M') return None
    val dataOffset = i32(bytes, 10)
    val dibSize = i32(bytes, 14)
    if (dibSize < 40) return None // BITMAPCOREHEADER out of scope
    val width = i32(bytes, 18)
    val rawHeight = i32(bytes, 22)
    val planes = u16(bytes, 26)
    val bpp = u16(bytes, 28)
    val compression = i32(bytes, 30)
    val topDown = rawHeight < 0
    val height = math.abs(rawHeight)
    if (width <= 0 || height <= 0 || width > 65536 || height > 65536 ||
      planes != 1 || compression != 0 || (bpp != 24 && bpp != 32) ||
      dataOffset < 14 + dibSize) return None
    val bytesPerPixel = bpp / 8
    val rowSize = (width * bytesPerPixel + 3) / 4 * 4
    if (dataOffset.toLong + rowSize.toLong * height > bytes.length) return None
    val px = Array.ofDim[Int](height, width)
    var fileRow = 0
    while (fileRow < height) {
      // bottom-up files store the LAST image row first
      val y = if (topDown) fileRow else height - 1 - fileRow
      var x = 0
      var p = dataOffset + fileRow * rowSize
      while (x < width) {
        val blue = bytes(p) & 0xFF
        val green = bytes(p + 1) & 0xFF
        val red = bytes(p + 2) & 0xFF
        px(y)(x) = (red << 16) | (green << 8) | blue
        x += 1
        p += bytesPerPixel
      }
      fileRow += 1
    }
    Some(BmpImage(width, height, bpp, topDown, px))
  }

  val statsSchema: StructType = StructType(Seq(
    StructField("magic", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("bits_per_pixel", IntegerType),
    StructField("top_down", BooleanType),
    StructField("sum_r", LongType),
    StructField("sum_g", LongType),
    StructField("sum_b", LongType),
    StructField("top_left_rgb", IntegerType)))

  /** [[Multimodal.RowDecoder]] emitting exact-integer image statistics:
    * dimensions, per-channel sums, and the packed top-left pixel (which
    * proves bottom-up vs top-down row handling — sums alone would not).
    * NULL row on decode failure. */
  object BmpStatsDecoder extends Multimodal.RowDecoder {
    val schema: StructType = statsSchema
    def decode(bytes: Array[Byte]): Seq[Any] = BmpCodec.decode(bytes) match {
      case None => Seq(null, null, null, null, null, null, null, null, null)
      case Some(img) =>
        var r = 0L; var g = 0L; var b = 0L
        var y = 0
        while (y < img.height) {
          var x = 0
          val row = img.pixels(y)
          while (x < img.width) {
            val p = row(x)
            r += (p >> 16) & 0xFF; g += (p >> 8) & 0xFF; b += p & 0xFF
            x += 1
          }
          y += 1
        }
        Seq("BM", img.width, img.height, img.bitsPerPixel, img.topDown,
          r, g, b, img.pixels(0)(0))
    }
  }
}
