package graft.sources.v2

import graft.SparkSpec
import graft.operators.ImageHash
import graft.sources.{SyntheticFixtures, TarSink}
import org.apache.spark.sql.functions._

class TarShardDataSourceSpec extends SparkSpec {

  private def gradient(f: Int => Int): Seq[Seq[Int]] =
    (0 until 8).map(_ => (0 until 18).map { x =>
      val v = f(x); (v << 16) | (v << 8) | v
    })

  private def shard0: Array[Byte] = TarSink.tarBytes(Seq(
    "000001.bmp" -> SyntheticFixtures.bmpBytes(gradient(identity)),
    "000001.txt" -> "ascending gradient".getBytes("UTF-8"),
    "000002.bmp" -> SyntheticFixtures.bmpBytes(gradient(x => 17 - x)),
    "000002.txt" -> "descending gradient".getBytes("UTF-8")))
  private def shard1: Array[Byte] = TarSink.tarBytes(Seq(
    "000003.bmp" -> SyntheticFixtures.bmpBytes(gradient(identity)),
    "000003.txt" -> "another ascending".getBytes("UTF-8")))

  test("batch read: one row per member across shards; stems and exts " +
      "split for WebDataset pairing; gzip shards detected by magic") {
    val dir = SyntheticFixtures.freshDir("tarshard_batch")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "shard-000.tar"), shard0)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "shard-001.tar.gz"),
      TarSink.gzipBytes(shard1))
    val df = spark.read.format("tarshard").load(dir)
    val rows = df.select("shard_name", "sample_id", "ext", "size")
      .orderBy("shard_name", "member_path")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(rows.toSeq == Seq(
      ("shard-000.tar", "000001", "bmp"), ("shard-000.tar", "000001", "txt"),
      ("shard-000.tar", "000002", "bmp"), ("shard-000.tar", "000002", "txt"),
      ("shard-001.tar.gz", "000003", "bmp"),
      ("shard-001.tar.gz", "000003", "txt")))
  }

  test("content column carries the payload: dHash over the bmp members " +
      "reproduces the pinned gradient hashes") {
    val dir = SyntheticFixtures.freshDir("tarshard_content")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "s.tar"), shard0)
    import spark.implicits._
    val got = spark.read.format("tarshard").load(dir)
      .where(col("ext") === "bmp")
      .select(col("sample_id"), col("content"))
      .as[(String, Array[Byte])]
      .collect().map { case (id, b) =>
        (id, ImageHash.dhash64Auto(b).get)
      }.toMap
    assert(got == Map("000001" -> 0L, "000002" -> -1L))
  }

  test("column pruning: a metadata-only projection never puts content " +
      "in the scan schema") {
    val dir = SyntheticFixtures.freshDir("tarshard_prune")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "s.tar"), shard0)
    val df = spark.read.format("tarshard").load(dir)
      .select("sample_id", "size")
    val scans = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }
    assert(scans.nonEmpty)
    assert(!scans.head.scan.readSchema().fieldNames.contains("content"))
    assert(df.count() == 4)
  }

  test("metadata-only size equals the full read's content length for " +
      "every member") {
    val dir = SyntheticFixtures.freshDir("tarshard_size")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "shard-000.tar"), shard0)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "shard-001.tar.gz"),
      TarSink.gzipBytes(shard1))
    val df = spark.read.format("tarshard").load(dir)
    def sizes(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val meta = sizes(df.select(col("shard_name"), col("member_path"),
      col("size")))
    val full = sizes(df.select(col("shard_name"), col("member_path"),
      length(col("content")).cast("long")))
    assert(meta.size == 6 && meta.values.forall(_ > 0))
    assert(meta == full)
  }

  test("streaming: each arrival wave is exactly the new shards; drained " +
      "rows equal the batch read of the final directory") {
    val dir = SyntheticFixtures.freshDir("tarshard_stream")
    val ckpt = SyntheticFixtures.freshDir("tarshard_stream_ckpt")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "shard-000.tar"), shard0)
    val q = spark.readStream.format("tarshard").load(dir)
      .select("shard_name", "sample_id", "ext", "size")
      .writeStream.format("memory").queryName("tarshard_sink")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      assert(spark.table("tarshard_sink").count() == 4)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "shard-001.tar"), shard1)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("tarshard_sink")
      .collect().map(_.toSeq).toSet
    val batch = spark.read.format("tarshard").load(dir)
      .select("shard_name", "sample_id", "ext", "size")
      .collect().map(_.toSeq).toSet
    assert(streamed == batch && batch.size == 6)
  }
}
