package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.types._
import java.sql.Date

/** DICOM summary vertical on the FIXTURES.md §1 representative fixture:
  * multi-echo series sharing series_uid, a non-DICOM file, NULL
  * inversion_time. Mirrors the reference integration assertions
  * (test_run_dicom_archive_loader.py:103-110 count checks). */
class DicomSummarySpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("archive_path", StringType, nullable = false),
    StructField("study_uid", StringType, nullable = false),
    StructField("series_number", IntegerType),
    StructField("echo_number", IntegerType),
    StructField("instance_number", IntegerType),
    StructField("file_path", StringType, nullable = false),
    StructField("repetition_time", DoubleType),
    StructField("echo_time", DoubleType),
    StructField("inversion_time", DoubleType),
    StructField("study_date", DateType),
    StructField("patient_name", StringType),
    StructField("patient_dob", DateType),
    StructField("patient_id", StringType),
    StructField("series_description", StringType),
    StructField("patient_sex", StringType),
    StructField("scanner_model", StringType),
    StructField("scanner_software", StringType),
    StructField("institution", StringType),
    StructField("sequence_name", StringType),
    StructField("slice_thickness", DoubleType),
    StructField("phase_encoding", StringType),
    StructField("md5", StringType, nullable = false),
    StructField("is_dicom", BooleanType, nullable = false),
    StructField("scanner_manufacturer", StringType),
    StructField("scanner_serial", StringType),
    StructField("series_uid", StringType),
    StructField("modality", StringType)
  ))

  private def file(
      series: Integer, echo: Integer, inst: Integer, path: String,
      te: java.lang.Double, seriesUid: String, desc: String, seq: String,
      isDicom: Boolean = true, modality: String = "MR"): Row =
    Row("a/upload.tar", "1.2.3.study", series, echo, inst, path, 2300.0,
      te, null,
      Date.valueOf("2024-03-15"), "DCC001_123456_V1", Date.valueOf("1990-06-20"),
      "PID1", desc, "F", "Prisma", "VE11", "MNI", seq, 1.0, "ROW", s"md5-$path",
      isDicom, "Siemens", "SN123", seriesUid, modality)

  private lazy val fixture: DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(
      // series 1: t1, 3 files
      file(1, 1, 1, "d/t1_001.dcm", 2.3, "1.2.3.s1", "t1_mprage", "tfl"),
      file(1, 1, 2, "d/t1_002.dcm", 2.3, "1.2.3.s1", "t1_mprage", "tfl"),
      file(1, 1, 3, "d/t1_003.dcm", 2.3, "1.2.3.s1", "t1_mprage", "tfl"),
      // series 2: multi-echo sharing series_uid -> TWO acquisitions
      // (cf. RB_tarchive_series.sql lines 10-11)
      file(2, 1, 1, "d/me_e1_001.dcm", 10.0, "1.2.3.s2", "gre_me", "gre"),
      file(2, 1, 2, "d/me_e1_002.dcm", 10.0, "1.2.3.s2", "gre_me", "gre"),
      file(2, 2, 1, "d/me_e2_001.dcm", 20.0, "1.2.3.s2", "gre_me", "gre"),
      file(2, 2, 2, "d/me_e2_002.dcm", 20.0, "1.2.3.s2", "gre_me", "gre"),
      // a PT file (kept: PT is a valid modality)
      file(3, null, 1, "d/pet_001.dcm", null, "1.2.3.s3", "fdg_pet", null,
        modality = "PT"),
      // non-DICOM file in the directory
      file(null, null, null, "d/README.txt", null, null, null, null,
        isDicom = false, modality = null)
    ), schema)

  test("single-study guard passes through single-study input") {
    assert(DicomSummary.withSingleStudyGuard(fixture).count() ==
      fixture.count())
  }

  test("series collapse: multi-echo series splits into two acquisitions") {
    val s = DicomSummary.series(fixture)
    assert(s.count() == 4) // t1, me-echo1, me-echo2, pet
    val me = s.filter(s("SeriesUID") === "1.2.3.s2")
      .select("EchoTime", "NumberOfFiles").collect()
      .map(r => (r.getDouble(0), r.getInt(1))).toSet
    assert(me == Set((10.0, 2), (20.0, 2)))
    // ids are 1..4, deterministic under the canonical sort
    val ids = s.select("TarchiveSeriesID").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 3L, 4L))
  }

  test("tarchive counts + fill_header + age") {
    val t = DicomSummary.tarchive(fixture).collect()
    assert(t.length == 1)
    val r = t.head
    assert(r.getAs[String]("DicomArchiveID") == "1.2.3.study")
    assert(r.getAs[Int]("TotalFileCount") == 9)
    assert(r.getAs[Int]("DicomFileCount") == 8)
    assert(r.getAs[Int]("NonDicomFileCount") == 1)
    assert(r.getAs[Int]("AcquisitionCount") == 4)
    assert(r.getAs[String]("PatientName") == "DCC001_123456_V1")
    assert(r.getAs[String]("ScannerModel") == "Prisma")
    // 2024-03-15 vs 1990-06-20: years=34, months=-3, days=-5
    // -> 34 - 3/12 - 5/365 = 33.736... -> 33.74
    assert(math.abs(r.getAs[Double]("AgeAtScan") - 33.74) < 1e-9)
  }

  test("tarchive_files joins each file to its series id null-safely") {
    val tables = DicomSummary.summarize(fixture)
    val f = tables.files
    assert(f.count() == 8) // non-DICOM excluded
    // every file row resolves a series id
    assert(f.filter(f("TarchiveSeriesID").isNull).count() == 0)
    // the two echoes land in different series ids
    val byEcho = f.filter(f("SeriesDescription") === "gre_me")
      .select("EchoNumber", "TarchiveSeriesID").distinct().collect()
      .map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(byEcho.size == 2 && byEcho(1) != byEcho(2))
    // FileName is the basename
    assert(f.filter(f("FileName") === "t1_001.dcm").count() == 1)
  }

  test("single-study guard raises in-plan on multi-study input") {
    val twoStudies = fixture.union(
      fixture.limit(1).withColumn("study_uid",
        org.apache.spark.sql.functions.lit("9.9.9.other")))
    val e = intercept[Exception] {
      DicomSummary.withSingleStudyGuard(twoStudies).count()
    }
    // raise_error surfaces as USER_RAISED_EXCEPTION at execution
    assert(e.getMessage.contains("found 2"))
  }

  test("single-study guard checks each archive on its own") {
    val second = fixture
      .withColumn("archive_path", lit("b/upload.tar"))
      .withColumn("study_uid", lit("4.5.6.study"))
    val both = fixture.union(second)
    assert(DicomSummary.withSingleStudyGuard(both).count() == both.count())
    // one of the archives holding two studies still fails the whole input
    val e = intercept[Exception] {
      DicomSummary.withSingleStudyGuard(both.union(
        fixture.limit(1).withColumn("study_uid", lit("9.9.9.other")))).count()
    }
    assert(e.getMessage.contains("found 2"))
  }

  test("building the guarded plan runs no job") {
    val sc = spark.sparkContext
    val before = sc.statusTracker.getJobIdsForGroup(null).length
    DicomSummary.withSingleStudyGuard(fixture)
    assert(sc.statusTracker.getJobIdsForGroup(null).length == before)
  }

  test("tarchive raises in its aggregation on a two-study archive") {
    val twoStudies = fixture.union(
      fixture.limit(1).withColumn("study_uid", lit("9.9.9.other")))
    val e = intercept[Exception](DicomSummary.tarchive(twoStudies).collect())
    assert(e.getMessage.contains("USER_RAISED_EXCEPTION"))
    assert(e.getMessage.contains("found 2"))
  }

  test("tarchive of an empty input is empty and does not raise") {
    assert(DicomSummary.tarchive(fixture.filter(lit(false))).count() == 0)
  }

  test("tarchive gives one row per archive, each with its own study uid") {
    // the second archive's non-DICOM member carries no study uid, as a
    // real header parse leaves it: it still counts toward its archive
    val second = fixture
      .withColumn("archive_path", lit("b/upload.tar"))
      .withColumn("study_uid", when(col("is_dicom"), lit("4.5.6.study")))
    val rows = DicomSummary.tarchive(fixture.union(second))
      .select("DicomArchiveID", "TotalFileCount", "AcquisitionCount")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    assert(rows == Set(("1.2.3.study", 9, 4), ("4.5.6.study", 9, 4)))
  }

  test("compareSummaries: missing_left / missing_right / field_diff / " +
      "match (the dicomSummary.pl -dbcompare xdiff semantics as columns); " +
      "values compared as rendered strings; null == null matches") {
    import spark.implicits._
    val l = Seq((1L, Some("t1"), Some(10)), (2L, Some("t2"), Some(20)),
      (3L, None: Option[String], Some(30))).toDF("k", "descr", "size")
    val r = Seq((1L, Some("t1"), Some(11)), (3L, None: Option[String],
      Some(30)), (4L, Some("t4"), Some(40))).toDF("k", "descr", "size")
    val diffs = DicomSummary.compareSummaries(l, r, Seq("k"),
      Seq("descr", "size"))
      .collect().map(x => (x.getLong(0), x.getString(1)) ->
        ((x.getString(2), x.getString(3), x.getString(4)))).toMap
    // k=1: descr matches (absent from the diff view), size differs
    assert(diffs((1L, "size")) == (("10", "11", "field_diff")))
    assert(!diffs.contains((1L, "descr")))
    // k=2 exists only left -> every field reports missing_right
    assert(diffs((2L, "descr")) == (("t2", null, "missing_right")))
    assert(diffs((2L, "size")) == (("20", null, "missing_right")))
    // k=3: null descr on both sides is a MATCH (null-safe), size matches
    assert(!diffs.contains((3L, "descr")) && !diffs.contains((3L, "size")))
    // k=4 exists only right -> missing_left
    assert(diffs((4L, "size")) == ((null, "40", "missing_left")))
    assert(diffs.size == 5)
    // includeMatches = the full sdiff listing: every (key, field) row
    val full = DicomSummary.compareSummaries(l, r, Seq("k"),
      Seq("descr", "size"), includeMatches = true)
    assert(full.count() == 8) // 4 keys x 2 fields
    assert(full.filter(
      org.apache.spark.sql.functions.col("status") === "match").count() == 3)
  }
}
