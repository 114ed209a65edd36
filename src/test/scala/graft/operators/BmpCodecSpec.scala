package graft.operators

import graft.SparkSpec
import graft.sources.SyntheticFixtures.bmpBytes

/** [[BmpCodec]] — the real multimodal codec, cross-checked against the
  * independent sequential BMP writer in SyntheticFixtures: row order
  * (bottom-up vs top-down), row padding, 24 vs 32 bit, hardening, and the
  * per-partition decode harness with the real decoder plugged in. */
class BmpCodecSpec extends SparkSpec {

  private val grad = Seq(Seq(0x0A141E, 0x28323C), Seq(0x46505A, 0x646E78))

  test("bottom-up and top-down storage decode to the same top-first grid") {
    val up = BmpCodec.decode(bmpBytes(grad, topDown = false)).get
    val down = BmpCodec.decode(bmpBytes(grad, topDown = true)).get
    assert(!up.topDown && down.topDown)
    assert(up.pixels.map(_.toSeq).toSeq == grad)
    assert(down.pixels.map(_.toSeq).toSeq == grad)
  }

  test("row padding: width 3 rows pad to 12 bytes and decode exactly") {
    val img = Seq(Seq(0xFF0000, 0x00FF00, 0x0000FF))
    val bytes = bmpBytes(img)
    assert(bytes.length == 54 + 12) // 9 pixel bytes + 3 pad
    assert(BmpCodec.decode(bytes).get.pixels.head.toSeq == img.head)
  }

  test("32-bit pixels carry an alpha byte the decoder skips") {
    val img = Seq(Seq(0x010203, 0x040506))
    val d = BmpCodec.decode(bmpBytes(img, bpp = 32)).get
    assert(d.bitsPerPixel == 32 && d.pixels.head.toSeq == img.head)
  }

  test("hardened: junk, truncation, compression, odd depths -> None") {
    assert(BmpCodec.decode(Array.emptyByteArray).isEmpty)
    assert(BmpCodec.decode("BMnot really".getBytes("US-ASCII")).isEmpty)
    val ok = bmpBytes(grad)
    assert(BmpCodec.decode(ok.take(53)).isEmpty)
    assert(BmpCodec.decode(ok.take(60)).isEmpty)   // pixel data truncated
    val rle = ok.clone(); rle(30) = 1               // BI_RLE8 compression
    assert(BmpCodec.decode(rle).isEmpty)
    val mono = ok.clone(); mono(28) = 1             // 1-bit depth
    assert(BmpCodec.decode(mono).isEmpty)
  }

  test("fuzz: random bytes, truncations and mutations never throw") {
    val rnd = new scala.util.Random(20260813L)
    val base = bmpBytes(grad)
    (1 to 300).foreach { _ =>
      val junk = new Array[Byte](rnd.nextInt(2048))
      rnd.nextBytes(junk)
      BmpCodec.decode(junk)                        // must not throw
      BmpCodec.decode(java.util.Arrays.copyOfRange(base, 0,
        rnd.nextInt(base.length + 1)))
      val mut = base.clone()
      mut(rnd.nextInt(mut.length)) = rnd.nextInt(256).toByte
      BmpCodec.decode(mut)
      BmpCodec.BmpStatsDecoder.decode(mut)
    }
  }
}
