package graft.operators

import graft.SparkSpec
import graft.sources.SyntheticFixtures
import org.apache.spark.sql.functions._

/** The dual-key (dHash ∪ pHash) near-dup admission in the composed
  * multimodal assembly: the exact case that motivated composing pHash
  * into the manifest path — a JPEG re-encode moves the gradient dHash
  * far past its radius-3 gate, so dHash-only admission ships the
  * duplicate; the DCT pHash leg at its radius-10 geometry catches it. */
class MultimodalAssemblySpec extends SparkSpec {

  private val rich1 = SyntheticFixtures.richRaster(64, 64, 1)
  private val rich2 = SyntheticFixtures.richRaster(64, 64, 2)
  // the classic crawl duplicate: a RESIZED, JPEG-RECOMPRESSED thumbnail
  // of the original (nearest-neighbor 64->48, then the Annex-K lossy
  // roundtrip) — measured dHash movement 6 bits (past the radius-3
  // gate), pHash movement 10 bits (inside the radius-10 gate)
  private val reenc = SyntheticFixtures.jpegRoundtrip(
    (0 until 48).map(y => (0 until 48).map(x =>
      rich1(y * 64 / 48)(x * 64 / 48))))

  private def pairsDf = {
    import spark.implicits._
    Seq(
      (1L, "000001", "s0", SyntheticFixtures.bmpBytes(rich1),
        Some("original photo")),
      (2L, "000002", "s0", SyntheticFixtures.bmpBytes(reenc),
        Some("jpeg re-encode of the original")),
      (3L, "000003", "s0", SyntheticFixtures.bmpBytes(rich2),
        Some("a different photo")))
      .toDF("id", "sample_id", "shard_name", "content", "caption")
  }

  test("a JPEG re-encoded copy is admitted as a near-dup: dHash alone " +
      "CANNOT catch it (the re-encode moves dHash past the radius-3 " +
      "gate — that is measured here, not assumed), the pHash leg does") {
    def dh(img: Seq[Seq[Int]]): Long =
      ImageHash.dhash64Auto(SyntheticFixtures.bmpBytes(img)).get
    def ph(img: Seq[Seq[Int]]): Long =
      ImageHash.phash64Auto(SyntheticFixtures.bmpBytes(img)).get
    // the premise, measured: dHash moved beyond the dHash gate's
    // radius, pHash within the pHash gate's radius
    assert(java.lang.Long.bitCount(dh(rich1) ^ dh(reenc)) > 3)
    assert(java.lang.Long.bitCount(ph(rich1) ^ ph(reenc)) <= 10)
    // dual-key manifest: the re-encode merges into id 1's component,
    // the distinct photo survives on its own
    val kept = MultimodalAssembly.manifest(pairsDf, minWidth = 10)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L))
    // pHash leg neutered (radius 0 pairs only identical hashes, and
    // the re-encode's pHash DOES move a few bits): the dHash-only
    // admission ships the duplicate — the gap this composition closes
    val dhashOnly = MultimodalAssembly.manifest(pairsDf, minWidth = 10,
        phashMaxHamming = 0)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(dhashOnly == Set(1L, 2L, 3L))
    // attrition agrees with the manifest it was computed beside
    val a = MultimodalAssembly.attrition(pairsDf, minWidth = 10)
      .collect().head
    assert((0 to 4).map(a.getLong) == Seq(3L, 3L, 3L, 3L, 2L))
  }

  test("the streaming twin admits the re-encode too, arriving in a " +
      "LATER wave than its original (non-monotonic merge across waves)") {
    val sqlc = spark.sqlContext
    import spark.implicits._
    implicit val sq = sqlc
    val root =
      java.nio.file.Files.createTempDirectory("graft_mmjpeg").toString
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, String, Array[Byte], Option[String])]
    val q = graft.streaming.EventStream.assembleMultimodalIncremental(
      mem.toDF().toDF("id", "sample_id", "shard_name", "content",
        "caption"),
      root, s"$root/ckpt", minWidth = 10)
    try {
      mem.addData(Seq(
        (1L, "000001", "s0", SyntheticFixtures.bmpBytes(rich1),
          Some("original photo")),
        (3L, "000003", "s0", SyntheticFixtures.bmpBytes(rich2),
          Some("a different photo"))))
      q.processAllAvailable()
      mem.addData(Seq(
        (2L, "000002", "s0", SyntheticFixtures.bmpBytes(reenc),
          Some("jpeg re-encode of the original"))))
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.read.parquet(s"$root/manifest")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L))
  }

  test("streaming assembly skips the refresh for a wave with no new " +
      "near-dup pairs: fewer jobs than a merging wave, same manifest") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    def gradient(f: Int => Int): Seq[Seq[Int]] =
      (0 until 8).map(_ => (0 until 18).map { x =>
        val v = f(x); (v << 16) | (v << 8) | v
      })
    val asc = gradient(identity)
    val tweak = asc.updated(0, asc(0).updated(0, 0x050505))
    val waves = Seq(
      // two distinct photos: nothing to merge
      Seq((1L, "000001", "s0", SyntheticFixtures.bmpBytes(asc),
          Option("ascending gradient")),
        (2L, "000002", "s0", SyntheticFixtures.bmpBytes(
          SyntheticFixtures.richRaster(18, 8, 2)), Option("textured photo"))),
      // another distinct photo: no new pair, the refresh is skipped
      Seq((8L, "000008", "s1", SyntheticFixtures.bmpBytes(
          SyntheticFixtures.richRaster(18, 8, 5)),
        Option("another distinct photo"))),
      // a 1-bit tweak of id 1: merges into 1's component, full refresh
      Seq((3L, "000003", "s1", SyntheticFixtures.bmpBytes(tweak),
        Option("tweaked copy"))))
    val root =
      java.nio.file.Files.createTempDirectory("graft_skipwave").toString
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, String, Array[Byte], Option[String])]
    val q = graft.streaming.EventStream.assembleMultimodalIncremental(
      mem.toDF().toDF("id", "sample_id", "shard_name", "content",
        "caption"),
      root, s"$root/ckpt", minWidth = 10)
    val profile = new graft.QueryProfile(spark)
    val jobs = try waves.map { w =>
      val before = profile.settled().jobs
      mem.addData(w)
      q.processAllAvailable()
      profile.settled().jobs - before
    } finally {
      q.stop()
      spark.sparkContext.removeSparkListener(profile)
    }
    assert(jobs(1) > 0 && jobs(1) < jobs(2), s"jobs per wave: $jobs")
    val kept = spark.read.parquet(s"$root/manifest")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 8L))
  }
}
