package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

class SinksSpec extends SparkSpec {

  test("appendWithIds: anti-join guard + ids continue from max, idempotent") {
    import spark.implicits._
    val existing = Seq((5L, "a"), (9L, "b")).toDF("id", "name")
    val incoming = Seq("b", "c", "d").toDF("name")
    val out = Sinks.appendWithIds(existing, incoming, Seq("name"), "id")
    val m = out.collect().map(r => r.getString(1) -> r.getLong(0)).toMap
    assert(m == Map("a" -> 5L, "b" -> 9L, "c" -> 10L, "d" -> 11L))
    val again = Sinks.appendWithIds(out, incoming, Seq("name"), "id")
    assert(again.count() == 4)
  }

  test("updateByKey: targeted columns change, others pass through") {
    import spark.implicits._
    val existing = Seq((1L, "Inserting", "x"), (2L, "Inserting", "y"))
      .toDF("upload_id", "status", "other")
    val updates = Seq((1L, "InsertionComplete")).toDF("upload_id", "status")
    val out = Sinks.updateByKey(existing, updates, Seq("upload_id"), Seq("status"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(out(1L) == ("InsertionComplete", "x"))
    assert(out(2L) == ("Inserting", "y"))
  }

  test("updateByKeyPartitioned rewrites only touched partitions; " +
      "untouched partition files stay byte-identical") {
    import spark.implicits._
    val dir = Files.createTempDirectory("partupd").resolve("tbl").toString
    Seq((1L, "a", "Inserting", "x"), (2L, "a", "Inserting", "y"),
      (3L, "b", "Inserting", "z"), (4L, "c", "Inserting", "w"))
      .toDF("upload_id", "site", "status", "other")
      .write.partitionBy("site").parquet(dir)
    def filesOf(part: String): Map[String, Array[Byte]] = {
      val d = new java.io.File(s"$dir/site=$part")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName ->
          Files.readAllBytes(f.toPath)).toMap
    }
    val (beforeB, beforeC) = (filesOf("b"), filesOf("c"))
    val updates = Seq((2L, "a", "InsertionComplete"))
      .toDF("upload_id", "site", "status")
    Sinks.updateByKeyPartitioned(spark, dir, "site", updates,
      Seq("upload_id"), Seq("status"))
    // untouched partitions: exactly the same files with the same bytes
    val (afterB, afterC) = (filesOf("b"), filesOf("c"))
    assert(afterB.keySet == beforeB.keySet && afterC.keySet == beforeC.keySet)
    (beforeB ++ beforeC).foreach { case (name, bytes) =>
      assert(java.util.Arrays.equals((afterB ++ afterC)(name), bytes),
        s"untouched file $name changed") }
    // semantics equal the whole-table update
    val got = spark.read.parquet(dir).collect()
      .map(r => r.getAs[Long]("upload_id") ->
        ((r.getAs[String]("status"), r.getAs[String]("other"),
          r.getAs[String]("site")))).toMap
    assert(got == Map(
      1L -> (("Inserting", "x", "a")),
      2L -> (("InsertionComplete", "y", "a")),
      3L -> (("Inserting", "z", "b")),
      4L -> (("Inserting", "w", "c"))))
  }

  test("writeChunks partitions by downsampling/channel for pruning") {
    import spark.implicits._
    val dir = Files.createTempDirectory("chunks").resolve("out").toString
    val chunks = Seq((0, "ch1", 0L, Seq(1.0, 2.0)), (1, "ch1", 0L, Seq(1.5)),
      (0, "ch2", 0L, Seq(3.0, 4.0)))
      .toDF("downsampling", "channel", "chunk_index", "values")
    val written = Sinks.writeChunks(chunks, dir)
    // partition directories exist -> partition pruning works on read
    val pruned = spark.read.parquet(dir)
      .filter(col("downsampling") === 0 && col("channel") === "ch1")
    assert(pruned.count() == 1)
    assert(new java.io.File(s"$dir/downsampling=0/channel=ch1").exists())
    // the returned schema is the one inference finds, so a read-back
    // with it skips the inference job and plans the same
    assert(spark.read.schema(written).parquet(dir).schema ==
      spark.read.parquet(dir).schema)
  }

  test("compactParquet: many small files -> byte-sized output, data intact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString
    // 64 tiny files
    (0L until 64L).map(i => (i, s"row$i")).toDF("id", "v")
      .repartition(64).write.mode("overwrite").parquet(s"$dir/in")
    val nIn = new java.io.File(s"$dir/in").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(nIn > 10) // AQE may coalesce a few, but it's many small files
    Sinks.compactParquet(spark, s"$dir/in", s"$dir/out",
      targetBytes = 1L << 30)
    val nOut = new java.io.File(s"$dir/out").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(nOut == 1) // 64 footers' worth of bytes << 1 GiB target
    val got = spark.read.parquet(s"$dir/out")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == (0L until 64L).map(i => (i, s"row$i")).toSet)
    // small target splits output into multiple sized files
    Sinks.compactParquet(spark, s"$dir/in", s"$dir/out2",
      targetBytes = 20000L)
    val nOut2 = new java.io.File(s"$dir/out2").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(nOut2 > 1)
    assert(spark.read.parquet(s"$dir/out2").count() == 64)
  }
}
