package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CatalogSpec extends SparkSpec {
  import org.apache.spark.sql.Row
  import org.apache.spark.sql.types._

  test("getOrCreate keeps existing ids, assigns max+dense_rank to new keys, idempotent") {
    import spark.implicits._
    val dict = Seq((10L, "Siemens", "Prisma"), (11L, "GE", "MR750"))
      .toDF("ScannerID", "manufacturer", "model")
    val incoming = Seq(
      ("Siemens", "Prisma"), ("Philips", "Achieva"), ("Philips", "Achieva"),
      ("Bruker", "BioSpec")
    ).toDF("manufacturer", "model")
    val out = Catalog.getOrCreate(dict, incoming, Seq("manufacturer", "model"), "ScannerID")
    val m = out.collect().map(r => (r.getString(1), r.getString(2)) -> r.getLong(0)).toMap
    assert(m(("Siemens", "Prisma")) == 10L)
    assert(m(("GE", "MR750")) == 11L)
    assert(m(("Bruker", "BioSpec")) == 12L)   // dense_rank order: Bruker < Philips
    assert(m(("Philips", "Achieva")) == 13L)
    assert(out.count() == 4)
    // idempotent: running again adds nothing
    val again = Catalog.getOrCreate(out, incoming, Seq("manufacturer", "model"), "ScannerID")
    assert(again.count() == 4)
  }

  test("nextVisitNo: IFNULL(MAX,0)+1 per candidate") {
    import spark.implicits._
    val sessions = Seq((1, Some(2)), (1, Some(5)), (2, None: Option[Int]))
      .toDF("cand_id", "visit_no")
    val out = Catalog.nextVisitNo(sessions, "cand_id", "visit_no")
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(out == Map(1 -> 6, 2 -> 1))
  }

  test("acqOrderPerModality ranks by series number within (tarchive, scanType)") {
    import spark.implicits._
    val files = Seq(
      (1L, 100, 1, 30), (2L, 100, 1, 10), (3L, 100, 1, 20),
      (4L, 100, 2, 5), (5L, 200, 1, 1)
    ).toDF("FileID", "TarchiveSource", "MriScanTypeID", "SeriesNumber")
    val out = Catalog.acqOrderPerModality(files)
      .collect().map(r => r.getLong(0) -> r.getInt(4)).toMap
    assert(out == Map(1L -> 3, 2L -> 1, 3L -> 2, 4L -> 1, 5L -> 1))
  }

  test("assignRunNumbers continues above existing max per entity") {
    import spark.implicits._
    val existing = Seq(("s1", "T1w", 2)).toDF("session", "suffix", "run_number")
    val incoming = Seq(("s1", "T1w", "a.nii"), ("s1", "T1w", "b.nii"),
      ("s2", "T1w", "c.nii")).toDF("session", "suffix", "path")
    val out = Catalog.assignRunNumbers(incoming, existing,
      Seq("session", "suffix"), "path")
      .select("path", "run_number").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(out == Map("a.nii" -> 3, "b.nii" -> 4, "c.nii" -> 1))
  }

  test("latestPerGroup picks ORDER BY DESC LIMIT 1 per key") {
    import spark.implicits._
    val df = Seq((1, 3L, "x"), (1, 7L, "y"), (2, 1L, "z")).toDF("k", "id", "v")
    val out = Catalog.latestPerGroup(df, Seq("k"), Seq("id"))
      .collect().map(r => r.getInt(0) -> r.getString(2)).toMap
    assert(out == Map(1 -> "y", 2 -> "z"))
  }

  test("getOrCreate: NULL natural keys are idempotent (null-safe anti-join)") {
    import spark.implicits._
    val dict = Seq((1L, Option("a")), (2L, Option.empty[String]))
      .toDF("ScannerID", "model")
    val incoming = Seq(Option.empty[String], Option("a"), Option("b"))
      .toDF("model")
    val out = Catalog.getOrCreate(dict, incoming, Seq("model"), "ScannerID")
    val rows = out.collect()
      .map(r => Option(r.getAs[String]("model")) -> r.getLong(0))
    // the null key matched the dict's existing null row — NOT re-inserted
    assert(rows.length == 3, rows.mkString(","))
    assert(rows.toMap == Map(Some("a") -> 1L, None -> 2L, Some("b") -> 3L))
    // re-run over the result: fixpoint
    val again = Catalog.getOrCreate(out, incoming, Seq("model"), "ScannerID")
    assert(again.count() == 3)
  }

  test("generateCandIds: duplicated incoming keys get exactly ONE id, " +
      "even when their hash collides with an existing id") {
    import spark.implicits._
    // force a collision: existing holds exactly the id key "dup" hashes to
    import org.apache.spark.sql.functions.{pmod, hash, lit, col}
    val probe = Seq("dup").toDF("k")
      .select((pmod(hash(col("k"), lit(42)), lit(900000)) + 100000).as("id"))
      .collect().head.getInt(0).toLong
    val existing = Seq(probe).toDF("CandID")
    val incoming = Seq("dup", "dup", "other").toDF("k")
    val out = Catalog.generateCandIds(incoming, "k", existing)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    assert(out.length == 2, out.mkString(","))
    val byKey = out.toMap
    assert(byKey.size == 2 && byKey.contains("dup") && byKey.contains("other"))
    assert(byKey("dup") != probe, "collided id must not be reused")
    assert(out.map(_._2).distinct.length == 2)
  }

  test("updateMriUpload: the four updateMRI_Upload.pl outcomes — insert, " +
      "already-uploaded (wins over ambiguity, reference order), missing, " +
      "ambiguous — all matched by BASENAME, not full path") {
    import spark.implicits._
    val tarchive = Seq(
      (21L, "2019/DCM-a.tar"),           // fresh -> inserted
      (22L, "2019/DCM-b.tar"),           // already uploaded
      (23L, "2019/DCM-c.tar"),           // ambiguous twin of 24
      (24L, "2020/DCM-c.tar"),
      (25L, "2019/DCM-d.tar"),           // ambiguous twin of 26, but 26
      (26L, "2020/DCM-d.tar")            //   is uploaded -> already wins
    ).toDF("TarchiveID", "ArchiveLocation")
    val mriUpload = Seq(22L, 26L).toDF("TarchiveID")
    val requests = Seq(
      ("/data/t/2019/DCM-a.tar", "/in/a"),
      ("/data/t/2019/DCM-b.tar", "/in/b"),
      ("/data/t/2019/DCM-c.tar", "/in/c"),
      ("/data/t/2019/DCM-d.tar", "/in/d"),
      ("/data/t/2019/DCM-x.tar", "/in/x") // no tarchive row
    ).toDF("p", "src")
    val out = Catalog.updateMriUpload(requests, "p", "src", tarchive,
      mriUpload, "lorisadmin", "2026-08-15 00:00:00")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("/data/t/2019/DCM-a.tar").getString(2) == "inserted")
    assert(out("/data/t/2019/DCM-a.tar").getLong(3) == 21L)
    assert(out("/data/t/2019/DCM-a.tar").getString(4) == "lorisadmin")
    assert(out("/data/t/2019/DCM-a.tar").getString(6) == "/in/a")
    assert(out("/data/t/2019/DCM-b.tar").getString(2) == "already_uploaded")
    assert(out("/data/t/2019/DCM-b.tar").isNullAt(3))
    assert(out("/data/t/2019/DCM-c.tar").getString(2) == "tarchive_ambiguous")
    // reference evaluation order: getWithTarchive count>0 exits BEFORE the
    // tarchive lookup could see the ambiguity
    assert(out("/data/t/2019/DCM-d.tar").getString(2) == "already_uploaded")
    assert(out("/data/t/2019/DCM-x.tar").getString(2) == "tarchive_missing")
    assert(out.size == 5)
  }
}
