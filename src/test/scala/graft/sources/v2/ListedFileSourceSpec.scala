package graft.sources.v2

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.{Files, Paths}

import org.apache.spark.SparkEnv
import org.apache.spark.sql.connector.read.PartitionReaderFactory
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.SparkSpec
import graft.sources.{SyntheticFixtures, TarSink, WarcIO}

/** The contract every [[ListedFileFormat]] shares: a column read alone is
  * that column of the full read, so each required column reaches its own
  * getter; and the reader factory crosses to executors without the
  * driver's session. */
class ListedFileSourceSpec extends SparkSpec {

  private def write(dir: String, name: String, bytes: Array[Byte]): Unit =
    Files.write(Paths.get(dir, name), bytes)

  private def http(body: String): Array[Byte] =
    s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n$body"
      .getBytes(UTF_8)

  /** (format, dir): two files per format, one of them unparsable or in
    * the format's second container. */
  private lazy val fixtures: Seq[(String, String)] = {
    val edf = SyntheticFixtures.freshDir("listed_edf")
    write(edf, "r1.edf", SyntheticFixtures.recordingBytes())
    write(edf, "r2.edf", SyntheticFixtures.recordingBytes())
    val ecat = SyntheticFixtures.freshDir("listed_ecat")
    write(ecat, "a.v", SyntheticFixtures.ecatBytes(
      "SUB001", "PET001", "BIC", 328, 1704164645L, 2))
    write(ecat, "bad.v", Array.fill[Byte](700)(0x41))
    val tar = SyntheticFixtures.freshDir("listed_tar")
    write(tar, "shard-000.tar", TarSink.tarBytes(Seq(
      "000001.txt" -> "one".getBytes(UTF_8),
      "000001.bin" -> Array.fill[Byte](40)(1))))
    write(tar, "shard-001.tar.gz", TarSink.gzipBytes(TarSink.tarBytes(Seq(
      "sub/000002.txt" -> "two".getBytes(UTF_8)))))
    val warc = SyntheticFixtures.freshDir("listed_warc")
    write(warc, "seg-0.warc", WarcIO.warcBytes(Seq(
      (Seq("WARC-Type" -> "warcinfo"), "software: graft".getBytes(UTF_8)),
      (Seq("WARC-Type" -> "response", "WARC-Record-ID" -> "<urn:uuid:a>",
        "WARC-Target-URI" -> "https://a.com/",
        "WARC-Date" -> "2024-01-02T03:04:05Z"), http("<p>a</p>")))))
    write(warc, "seg-1.warc.gz", WarcIO.warcGzBytes(Seq(
      (Seq("WARC-Type" -> "response", "WARC-Target-URI" -> "https://b.com/"),
        http("<p>b</p>")))))
    Seq("edf" -> edf, "ecat" -> ecat, "tarshard" -> tar, "warc" -> warc)
  }

  private def cell(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case other => other
  }

  test("edf, ecat, tarshard, warc: every column read alone equals that " +
      "column of the full read") {
    fixtures.foreach { case (fmt, dir) =>
      val full = spark.read.format(fmt).load(dir)
      val rows = full.collect()
      assert(rows.length >= 2, fmt)
      full.columns.zipWithIndex.foreach { case (c, i) =>
        val alone = spark.read.format(fmt).load(dir).select(c).collect()
        assert(alone.map(r => cell(r.get(0))).toSeq ==
          rows.map(r => cell(r.get(i))).toSeq, s"$fmt.$c")
      }
    }
  }

  test("the reader factory serializes without the driver's session and " +
      "reads the same rows once deserialized") {
    val dir = fixtures.toMap.apply("ecat")
    val scan = new ListedFileScan(EcatDataSource,
      new CaseInsensitiveStringMap(java.util.Map.of("path", dir)),
      EcatDataSource.schema)
    val ser = SparkEnv.get.closureSerializer.newInstance()
    val bytes = ser.serialize(scan.createReaderFactory())
    val text = new String(bytes.array(), bytes.arrayOffset(),
      bytes.remaining(), ISO_8859_1)
    assert(!text.contains("SparkSession") && !text.contains("SparkContext"))
    val factory = ser.deserialize[PartitionReaderFactory](bytes)
    val names = scan.planInputPartitions().toSeq.map { p =>
      val reader = factory.createReader(p)
      try { assert(reader.next()); reader.get().getUTF8String(1).toString }
      finally reader.close()
    }
    assert(names == Seq("a.v", "bad.v"))
  }
}
