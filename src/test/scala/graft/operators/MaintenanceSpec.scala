package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Unit coverage for the catalog-maintenance family, on cases DISTINCT
  * from the q127-q134 oracle fixtures. */
class MaintenanceSpec extends SparkSpec {
  import spark.implicits._

  test("relativizeArchiveLocation strips globally, passes through relative") {
    val t = Seq(
      (1L, "/lib/2024/a.tar"),        // prefix strip
      (2L, "2024/b.tar"),             // already relative
      (3L, "pre/lib/2024/c.tar"),     // mid-path global-replace quirk
      (4L, "/lib/x/lib/d.tar"))       // two occurrences, both stripped
      .toDF("TarchiveID", "ArchiveLocation")
    val out = Maintenance.relativizeArchiveLocation(t, "/lib")
      .orderBy("tarchive_id").select("new_archive_location")
      .as[String].collect()
    assert(out === Array("2024/a.tar", "2024/b.tar", "pre2024/c.tar",
      "xd.tar"))
  }

  test("relativizeDbPaths is case-insensitive and first-occurrence-only") {
    val files = Seq((7L, "/Root/a/Root/b.mnc"), (8L, "nope.mnc"))
      .toDF("FileID", "File")
    val params = Seq((7L, "tarchiveLocation", "/ROOT/t.tar"))
      .toDF("FileID", "Name", "Value")
    val out = Maintenance.relativizeDbPaths(files, params, "/root")
      .orderBy("table_name", "file_id")
      .select("new_path").as[String].collect()
    assert(out === Array("a/Root/b.mnc", "t.tar"))
  }

  test("tarchiveDuplicates: duplicate removed only when real file found") {
    val db = Seq(("y/K.tar", "k1  /l/y/K.tar")).toDF(
      "ArchiveLocation", "md5sumArchive")
    // md5 matches but path differs -> not the real file -> keep_no_real
    val fs = Seq(("/l/z/K.tar", "k1")).toDF("fs_path", "fs_md5")
    val out = Maintenance.tarchiveDuplicates(db, fs, "/l")
      .select("status").as[String].collect()
    assert(out === Array("keep_no_real"))
  }

  test("dwiBvalBvec: '.,' removal collapses dotted CSV bvals (reference behavior)") {
    val files = Seq((1L, "d/s.mnc")).toDF("FileID", "File")
    val params = Seq(
      (1L, "acquisition:bvalues", "0.,1000.,2000."),
      (1L, "acquisition:direction_x", "\"\"1,2\""),
      (1L, "acquisition:direction_y", "3"),
      (1L, "acquisition:direction_z", "4")).toDF("FileID", "Name", "Value")
    val r = Maintenance.dwiBvalBvec(files, params).collect()(0)
    // s/\.\,//g then s/\.$// really does fuse the numbers - quirk kept
    assert(r.getAs[String]("bval_content") === "010002000")
    // leading-quote run stripped, comma stripped, trailing quote stripped
    assert(r.getAs[String]("bvec_content") === "12\n3\n4\n")
  }

  test("backpopulateSnr treats unchanged old value as snr_set") {
    val files = Seq((1L, "t1w", "9.9")).toDF("FileID", "ScanType", "snr_value")
    val old = Seq((1L, "")).toDF("FileID", "Value") // empty old = no change note
    val out = Maintenance.backpopulateSnr(files, old, Seq("t1w"))
      .select("action").as[String].collect()
    assert(out === Array("snr_set"))
  }

  test("violationTrashbinPaths: exactly-two files pins lowest FileID") {
    val ce = Seq.empty[(Long, String)].toDF("ID", "MincFile")
    val vs = Seq.empty[(Long, String)].toDF("ID", "minc_location")
    val vl = Seq((1L, "u", "x/p/f.mnc")).toDF("LogID", "SeriesUID", "MincFile")
    val files = Seq((5L, "reg/lo.mnc", "u"), (6L, "reg/hi.mnc", "u"))
      .toDF("FileID", "File", "SeriesUID")
    val out = Maintenance.violationTrashbinPaths(ce, vs, vl, files)
      .select("new_path").as[String].collect()
    assert(out === Array("reg/lo.mnc"))
  }

  test("seriesUidReport: missing zspace/time default to 0 and 1") {
    val in = Seq("Z").toDF("series_uid")
    val ts = Seq(("Z", 1L, "d", 2)).toDF(
      "SeriesUID", "TarchiveID", "SeriesDescription", "NumberOfFiles")
    val tar = Seq((1L, "P")).toDF("TarchiveID", "PatientName")
    val files = Seq((4L, "r/z.mnc", "Z")).toDF("FileID", "File", "SeriesUID")
    val v = Seq.empty[(Long, String, String, String)]
      .toDF("ID", "SeriesUID", "PatientName", "series_description")
    val vl = Seq.empty[(Long, String, String)]
      .toDF("LogID", "SeriesUID", "Severity")
    val p = Seq.empty[(Long, String, String)].toDF("FileID", "Name", "Value")
    val r = Maintenance.seriesUidReport(in, files, ts, tar, v, vl, p)
      .collect()(0)
    assert(r.getAs[String]("file_id") === "4 (0)")
    assert(r.getAs[String]("mri_v_log") === "")
  }

  test("dicomFileSelection honors idMode and EchoTime tolerance boundary") {
    val cand = Seq((1L, 42L, "PS1")).toDF("ID", "CandID", "PSCID")
    val sess = Seq((2L, 1L, "V9")).toDF("ID", "CandidateID", "Visit_label")
    val tar = Seq((3L, 2L, "PS1_42_V9", "2020-10-10"))
      .toDF("TarchiveID", "SessionID", "PatientName", "DateAcquired")
    val files = Seq(
      ("a/PS1_42_V9_t2w_007.mnc", "SA", 0.1, 9, 3L),
      // 0.1001 s vs 100.0 ms -> |100.1-100.0| >= 1e-5 -> no match
      ("a/PS1_42_V9_t2w_008.mnc", "SB", 0.1001, 9, 3L))
      .toDF("File", "SeriesUID", "EchoTime", "MriScanTypeID",
        "TarchiveSource")
    val st = Seq((9, "t2w")).toDF("MriScanTypeID", "MriScanTypeName")
    val ser = Seq((70L, "SA", 100.0, "t2 ax"), (71L, "SB", 100.0, "t2 ax"))
      .toDF("TarchiveSeriesID", "SeriesUID", "EchoTime", "SeriesDescription")
    val tf = Seq((70L, "D1.dcm", "h1"), (71L, "D2.dcm", "h2"))
      .toDF("TarchiveSeriesID", "FileName", "md5sum")
    val out = Maintenance.dicomFileSelection(tar, sess, cand, files, st,
      ser, tf, Seq("PS1%"), Seq("t2%"), idMode = "pscid_candid")
    val rows = out.collect()
    assert(rows.length === 1)
    assert(rows(0).getAs[String]("dicom_file") === "D1.dcm")
    assert(rows(0).getAs[String]("out_dir") ===
      "PS1_42/V9/2020-10-10/t2w_007_t2 ax")
  }

  test("massPicBackfill honors the FileID range options") {
    val files = Seq(
      (1L, 41L, 301, "a/t1_a.mnc", "mnc"),
      (2L, 41L, 301, "a/t1_b.mnc", "mnc"),
      (3L, 41L, 301, "a/t1_c.mnc", "mnc"))
      .toDF("FileID", "SessionID", "MriScanTypeID", "File", "FileType")
    val params = Seq.empty[(Long, String, String)]
      .toDF("FileID", "Name", "Value")
    val sess = Seq((41L, 11L, "V1")).toDF("ID", "CandidateID", "Visit_label")
    val cand = Seq((11L, 300001L)).toDF("ID", "CandID")
    val st = Seq((301, "t1w")).toDF("MriScanTypeID", "MriScanTypeName")
    val out = Maintenance.massPicBackfill(files, params, sess, cand, st,
      minFileId = Some(2L), maxFileId = Some(2L)).collect()
    assert(out.map(_.getAs[Long]("file_id")).toSeq === Seq(2L))
    assert(out(0).getAs[String]("check_pic_filename") ===
      "300001/t1_b_2_check.jpg")
  }

  test("massNiiBackfill: '0' direction blocks bvec while bval writes") {
    val files = Seq((1L, "a/dwi.mnc", "mnc")).toDF("FileID", "File",
      "FileType")
    val params = Seq(
      (1L, "acquisition:bvalues", "0. 500."),
      (1L, "acquisition:direction_x", "0"),
      (1L, "acquisition:direction_y", "1"),
      (1L, "acquisition:direction_z", "1"))
      .toDF("FileID", "Name", "Value")
    val r = Maintenance.massNiiBackfill(files, params).collect()(0)
    assert(r.getAs[String]("check_nii_filename") === "a/dwi.nii.gz")
    assert(r.getAs[String]("check_bval_filename") === "a/dwi.bval")
    assert(r.getAs[String]("check_bvec_filename") === null)
  }

  test("removeJivFootprint is EMPTY when no jiv_path type exists") {
    val pt = Seq((902L, "check_pic_filename"))
      .toDF("ParameterTypeID", "Name")
    val pf = Seq((1L, 902L, "x")).toDF("FileID", "ParameterTypeID", "Value")
    assert(Maintenance.removeJivFootprint(pt, pf).count() === 0L)
  }

  test("removeJivFootprint reports 0 file rows but still drops the type") {
    val pt = Seq((901L, "jiv_path")).toDF("ParameterTypeID", "Name")
    val pf = Seq((1L, 902L, "x")).toDF("FileID", "ParameterTypeID", "Value")
    val out = Maintenance.removeJivFootprint(pt, pf)
      .orderBy("table_name").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("parameter_file", 0L), ("parameter_type", 1L)))
  }

  test("prodToConfig: if_sge renames to is_qsub; is_qsub wins when both") {
    val prod = Seq(("if_sge", Some("sge-val"))).toDF("name", "value")
    val cs = Seq((13L, "is_qsub")).toDF("ID", "Name")
    val cfg = Seq((13L, "default")).toDF("ConfigID", "Value")
    val solo = Maintenance.prodToConfig(prod, cs, cfg).collect()(0)
    assert(solo.getAs[String]("config_name") === "is_qsub")
    assert(solo.getAs[String]("new_value") === "sge-val")
    val both = Seq(("if_sge", Some("sge-val")), ("is_qsub", Some("qsub-val")))
      .toDF("name", "value")
    val r = Maintenance.prodToConfig(both, cs, cfg).collect()(0)
    assert(r.getAs[String]("new_value") === "qsub-val")
  }

  test("dcmconvPlan counts each archive's own bundle when member paths repeat") {
    import graft.sources.{DicomSource, SyntheticFixtures, TarGzSource, TarSink}
    val dir = java.nio.file.Files.createTempDirectory("dcmconv").toFile
    dir.deleteOnExit()
    val dcm = SyntheticFixtures.dicomBytes(Seq(
      SyntheticFixtures.dicomElem(0x0020, 0x000D, "UI", "1.2.5")))
    // both archives hold study.tar.gz/study/x.dcm; only a's is DICOM
    def upload(name: String, x: Array[Byte]): Unit = java.nio.file.Files.write(
      java.nio.file.Paths.get(dir.toString, name),
      TarSink.tarBytes(Seq("study.tar.gz" -> TarSink.gzipBytes(
        TarSink.tarBytes(Seq("study/x.dcm" -> x,
          "study/notes.txt" -> "n".getBytes("US-ASCII")))))))
    upload("a.tar", dcm)
    upload("b.tar", "not a dicom".getBytes("US-ASCII"))
    val members = DicomSource.extractHeaders(
      TarGzSource.members(spark, dir.toString, glob = "*.tar").toDF()
        .withColumn("path", col("member_path")))
    val out = Maintenance.dcmconvPlan(members, binDir = "/b",
        database = false, profile = None)
      .select(element_at(split(col("archive_path"), "/"), -1), col("status"),
        col("dcm_dir"), col("n_files"), col("n_dicom_converted"),
        col("n_non_dicom_skipped"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(out === Set(
      ("a.tar", "rebuilt", "study", 2L, 1L, 1L),
      ("b.tar", "rebuilt", "study", 2L, 0L, 2L)))
  }
}
