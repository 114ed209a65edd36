package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("null payload: all-null decoder fields, never a decoder NPE") {
    val withNull = Seq((1L, "x".getBytes("UTF-8")),
        (2L, null.asInstanceOf[Array[Byte]]))
      .toDF("id", "payload")
    val rowDecoder = new Multimodal.RowDecoder {
      def schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType)))
      def decode(bytes: Array[Byte]) = Seq(bytes.length.toLong)
    }
    val rows = Multimodal.decodeRowsPartitioned(withNull, "payload",
        rowDecoder)
      .select(col("id"), col("n"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(rows == Map(1L -> Some(1L), 2L -> None))
  }

  test("decoder close runs at task completion even if the iterator is " +
      "abandoned early (limit), exactly once per open") {
    import spark.implicits._
    MultimodalSpec.opens.set(0); MultimodalSpec.closes.set(0)
    val df = (1 to 100).map(i => (i.toLong, Array[Byte](i.toByte)))
      .toDF("id", "content").repartition(4)
    val out = Multimodal.decodeRowsPartitioned(df, "content",
      MultimodalSpec.CountingDecoder)
    out.limit(1).collect()          // abandons most partition iterators
    // one task per partition may or may not run under limit; whatever
    // opened must have closed, exactly once
    assert(MultimodalSpec.opens.get() > 0)
    assert(MultimodalSpec.closes.get() == MultimodalSpec.opens.get())
    MultimodalSpec.opens.set(0); MultimodalSpec.closes.set(0)
    out.collect()                   // full drain: same invariant
    assert(MultimodalSpec.opens.get() == 4)
    assert(MultimodalSpec.closes.get() == 4)
  }
  test("detectType: magic-byte dispatch across all seven classes, " +
      "bounded-prefix safe on truncated bytes") {
    import graft.sources.SyntheticFixtures
    val img = Seq(Seq(0x010203, 0x040506))
    assert(Multimodal.detectType(SyntheticFixtures.bmpBytes(img)) == "bmp")
    assert(Multimodal.detectType(SyntheticFixtures.pngBytes(img)) == "png")
    assert(Multimodal.detectType(JpegCodec.imageIoJpeg(2, 2)) == "jpeg")
    assert(Multimodal.detectType(
      SyntheticFixtures.wavBytes(Seq(Seq(1, 2)), 8000)) == "wav")
    assert(Multimodal.detectType(AviCodec.aviBytes(8, 8, 1, 30, "MJPG",
      Seq(Array[Byte](1)), 1)) == "avi")
    assert(Multimodal.detectType(Mp4Codec.mp4Bytes("isom", 1, 1, 1, 1,
      "avc1", Seq(1), Seq((1, 1)), Seq(1), 1, 1)) == "mp4")
    assert(Multimodal.detectType("xx".getBytes("US-ASCII")) == "other")
    assert(Multimodal.detectType(Array.empty[Byte]) == "other")
    assert(Multimodal.detectType("RIF".getBytes("US-ASCII")) == "other")
  }
}

object MultimodalSpec {
  // static counters: local-mode tasks share the JVM
  val opens = new java.util.concurrent.atomic.AtomicInteger(0)
  val closes = new java.util.concurrent.atomic.AtomicInteger(0)
  object CountingDecoder extends Multimodal.RowDecoder {
    val schema: org.apache.spark.sql.types.StructType =
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.IntegerType)))
    override def open(): Unit = { opens.incrementAndGet(); () }
    override def close(): Unit = { closes.incrementAndGet(); () }
    def decode(bytes: Array[Byte]): Seq[Any] = Seq(bytes.length)
  }
}
