package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** T1-T4 chunking semantics on a fixture sized so n % chunkSize != 0
  * (padding path) and pyramid depth >= 3 (FIXTURES.md §10). */
class EphysChunkerSpec extends SparkSpec {

  // channel A: 70 samples (cs=8 -> 9 chunks, last has 6);
  // channel B: 16 samples (exactly 2 chunks)
  private lazy val samples = {
    import spark.implicits._
    ((0L until 70L).map(i => ("A", i, i.toDouble)) ++
      (0L until 16L).map(i => ("B", i, 100.0 + i)))
      .toDF("channel", "sample_index", "value")
  }

  test("chunkStats: counts, ranges, last-chunk valid samples") {
    val out = EphysChunker.chunkStats(samples, 8).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r).toMap
    assert(out.size == 9 + 2)
    val lastA = out(("A", 8L))
    assert(lastA.getAs[Int]("n_samples") == 6)
    assert(lastA.getAs[Boolean]("is_last"))
    assert(lastA.getAs[Int]("valid_samples") == 6)
    val firstA = out(("A", 0L))
    assert(firstA.getAs[Double]("chunk_min") == 0.0 &&
      firstA.getAs[Double]("chunk_max") == 7.0)
    assert(out(("B", 1L)).getAs[Int]("valid_samples") == 8)
  }

  test("chunkArrays: ordered values, edge-padded last chunk") {
    val out = EphysChunker.chunkArrays(samples, 8).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getSeq[Double](2)).toMap
    assert(out(("A", 0L)) == (0 until 8).map(_.toDouble))
    // last chunk: 64..69 then 69 replicated twice (np.pad edge)
    assert(out(("A", 8L)) == Seq(64.0, 65, 66, 67, 68, 69, 69, 69))
    out.values.foreach(v => assert(v.length == 8))
  }

  test("pyramidPlan: integer ceil-log levels, integer target sizes, size dedup") {
    val plan = EphysChunker.pyramidPlan(samples, 8).collect()
      .map(r => (r.getString(0), r.getAs[Long]("level")) ->
        (r.getAs[Int]("n_levels"), r.getAs[Long]("bucket_size"), r.getAs[Long]("target_size")))
      .toMap
    // A: n=70 -> 8^2=64 < 70 <= 512 -> 3 levels: sizes 70, 9, 2
    assert(plan(("A", 0L)) == (3, 1L, 70L))
    assert(plan(("A", 1L)) == (3, 8L, 9L))
    assert(plan(("A", 2L)) == (3, 64L, 2L))
    // B: n=16 -> 2 levels: sizes 16, 2
    assert(plan(("B", 0L)) == (2, 1L, 16L))
    assert(plan(("B", 1L)) == (2, 8L, 2L))
  }

  test("levelCount handles exact powers without float-log wobble") {
    import spark.implicits._
    val out = Seq(1L, 8L, 9L, 64L, 65L, 512L, 513L).toDF("n")
      .select(col("n"), EphysChunker.levelCount(col("n"), 8).as("l"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out == Map(1L -> 0, 8L -> 1, 9L -> 2, 64L -> 2, 65L -> 3, 512L -> 3, 513L -> 4))
  }

  test("downsampleAvg bucket-averages") {
    val ds = EphysChunker.downsampleAvg(samples.filter(col("channel") === "A"), 8L)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(ds(0L) == 3.5) // avg(0..7)
    assert(ds(8L) == (64 + 65 + 66 + 67 + 68 + 69) / 6.0) // partial bucket
  }

  test("channelRanges: per-channel + widened global") {
    val r = EphysChunker.channelRanges(samples)
    assert(r.columns.toSeq == Seq("channel", "channel_min", "channel_max"))
    // the series range is widened once, where the manifest sides merge
    def side(ch: String) =
      r.filter(col("channel") === ch).withColumnRenamed("channel", "index")
    val m = EphysChunker.mergeManifest(side("A"), side("B")).collect()
      .map(x => x.getString(0) -> x).toMap
    assert(m("A").getAs[Double]("channel_min") == 0.0)
    assert(m("A").getAs[Double]("channel_max") == 69.0)
    assert(m("A").getAs[Double]("series_max") == 115.0)
    assert(m("B").getAs[Double]("series_min") == 0.0)
  }

  test("mergeManifest: new-side precedence, union by index, widened range") {
    import spark.implicits._
    val old = Seq((0, "chA-old", -5.0, 10.0), (1, "chB", -1.0, 1.0))
      .toDF("index", "name", "channel_min", "channel_max")
    val neu = Seq((0, "chA-new", -2.0, 20.0), (2, "chC", 0.0, 3.0))
      .toDF("index", "name", "channel_min", "channel_max")
    val m = EphysChunker.mergeManifest(old, neu).collect()
      .map(r => r.getInt(0) -> r).toMap
    assert(m.size == 3)
    assert(m(0).getAs[String]("name") == "chA-new")
    assert(m(0).getAs[Double]("channel_min") == -2.0)
    assert(m(1).getAs[String]("name") == "chB")
    // widened over both sides, the shadowed old chA range included
    assert(m.values.forall(_.getAs[Double]("series_min") == -5.0))
    assert(m.values.forall(_.getAs[Double]("series_max") == 20.0))
  }
}
