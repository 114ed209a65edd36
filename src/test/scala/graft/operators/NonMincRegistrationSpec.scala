package graft.operators

import graft.SparkSpec

/** imaging_non_minc_insertion.pl as per-row dataflow: the abort ladder in
  * script order, last-match-wins file typing, BINARY visit labels,
  * session creation before the md5 guard, id continuation. */
class NonMincRegistrationSpec extends SparkSpec {

  private def dicts = {
    import spark.implicits._
    val uploads = Seq(70L).toDF("UploadID")
    val scanners = Seq((501L, 300100L)).toDF("ScannerID", "CandID")
    val scanTypes = Seq((44, "t1w")).toDF("MriScanTypeID", "ScanType")
    val fileTypes = Seq((1, "mnc"), (2, "nii"), (3, "nii.gz"))
      .toDF("ord", "type")
    val candidates = Seq((123456L, "ABC001")).toDF("CandID", "PSCID")
    val windows = Seq("V01", "V02").toDF("VisitLabel")
    val sessions = Seq((9001L, 123456L, "V01")).toDF("ID", "CandID",
      "VisitLabel")
    val files = Seq((7001L, "md5exist")).toDF("FileID", "md5hash")
    (uploads, scanners, scanTypes, fileTypes, candidates, windows,
      sessions, files)
  }

  private def cand(path: String, upload: Long = 70L,
      pname: String = "ABC001_123456_V01", scanType: String = "t1w",
      date: String = "2024-03-05", scanner: Long = 501L,
      meta: Map[String, String] = Map.empty, md5: String = "m") =
    (path, upload, pname, "native", scanType, date, scanner, "native",
      meta, md5)

  private def run(rows: Seq[(String, Long, String, String, String, String,
      Long, String, Map[String, String], String)]) = {
    import spark.implicits._
    val (u, sc, st, ft, c, w, se, f) = dicts
    NonMincRegistration.register(
      rows.toDF("file_path", "upload_id", "patient_name", "output_type",
        "scan_type", "date_acquired", "scanner_id", "coordinate_space",
        "metadata", "md5hash"), u, sc, st, ft, c, w, se, f)
  }

  test("abort ladder fires in the script's order") {
    // one candidate violating EVERY guard at once: the earliest wins
    val all = cand("x.pdf", upload = 99L, pname = "nope",
      scanType = "bad", date = "nope", scanner = 9L, md5 = "md5exist")
    assert(run(Seq(all)).collect()(0).getAs[String]("status")
      == "invalid_date")
    val noDate = cand("x.pdf", upload = 99L, pname = "nope",
      scanType = "bad", scanner = 9L, md5 = "md5exist")
    assert(run(Seq(noDate)).collect()(0).getAs[String]("status")
      == "invalid_upload")
    val upOk = cand("x.pdf", pname = "nope", scanType = "bad",
      scanner = 9L, md5 = "md5exist")
    assert(run(Seq(upOk)).collect()(0).getAs[String]("status")
      == "invalid_scanner")
    val scOk = cand("x.pdf", pname = "nope", scanType = "bad",
      md5 = "md5exist")
    assert(run(Seq(scOk)).collect()(0).getAs[String]("status")
      == "unknown_scan_type")
    val stOk = cand("x.pdf", pname = "nope", md5 = "md5exist")
    assert(run(Seq(stOk)).collect()(0).getAs[String]("status")
      == "unknown_file_type")
    val ftOk = cand("x.nii", pname = "nope", md5 = "md5exist")
    assert(run(Seq(ftOk)).collect()(0).getAs[String]("status")
      == "subject_id_failure")
    val parseOk = cand("x.nii", pname = "ZZZ_999_V01", md5 = "md5exist")
    assert(run(Seq(parseOk)).collect()(0).getAs[String]("status")
      == "candidate_mismatch")
    val candOk = cand("x.nii", md5 = "md5exist")
    assert(run(Seq(candOk)).collect()(0).getAs[String]("status")
      == "duplicate_md5")
    val fresh = cand("x.nii", md5 = "new")
    assert(run(Seq(fresh)).collect()(0).getAs[String]("status")
      == "registered")
  }

  test("last matching ImagingFileTypes row wins (File.pm loop order)") {
    // x.nii.gz matches both 'nii' (via (\.gz)?) and 'nii.gz'; the
    // reference's loop keeps the LAST table row
    val out = run(Seq(cand("x.nii.gz", md5 = "new"))).collect()(0)
    assert(out.getAs[String]("file_type") == "nii.gz")
  }

  test("visit label is BINARY-matched and sessions create before md5") {
    val rows = Seq(
      cand("a.nii", pname = "ABC001_123456_v01", md5 = "n1"), // case!
      // a NEW visit whose only candidate is later md5-rejected still
      // exists for the batch-mate registered after it
      cand("b.nii", pname = "ABC001_123456_V02", md5 = "md5exist"),
      cand("c.nii", pname = "ABC001_123456_V02", md5 = "n2"))
    val out = run(rows).collect().map(r =>
      r.getAs[String]("file_path") -> r).toMap
    assert(out("a.nii").getAs[String]("status") == "candidate_mismatch")
    assert(out("b.nii").getAs[String]("status") == "duplicate_md5")
    val c = out("c.nii")
    assert(c.getAs[String]("status") == "registered")
    assert(c.getAs[Long]("SessionID") == 9002L) // continues from 9001
    assert(c.getAs[Boolean]("session_is_new"))
  }

  test("plan shape: no broadcast hint on catalog-derived join sides") {
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    import spark.implicits._
    // the ladder's checkpoints truncate lineage: read the joins they hide
    // from the plans of the cuts themselves
    val (u, sc, st, ft, c, w, se, f) = dicts
    val (df, cuts) = withCuts(NonMincRegistration.register(
      Seq(cand("a.nii", md5 = "n1")).toDF("file_path", "upload_id",
        "patient_name", "output_type", "scan_type", "date_acquired",
        "scanner_id", "coordinate_space", "metadata", "md5hash"),
      u, sc, st, ft, c, w, se, f))
    assert(cuts.nonEmpty)
    val hintedCols = (df.queryExecution +: cuts).flatMap(_.analyzed.collect {
      case h: ResolvedHint => h.child.output.map(_.name)
    }).flatten.toSet
    // uploads / candidates / session keys / files-md5 grow with the
    // catalog: no forced broadcast, AQE picks the join strategy
    Seq("__up_ok", "__pscids", "__dup_cat", "__session_id").foreach(m =>
      assert(!hintedCols.contains(m), s"catalog-derived $m is hinted"))
    // true dictionaries keep the hint
    Seq("__sc_ok", "__vl_ok").foreach(m =>
      assert(hintedCols.contains(m), s"dictionary $m lost its hint"))
  }

  test("parameter rows: metadata keys plus acquisition_date") {
    val reg = run(Seq(cand("a.nii", meta = Map("tr" -> "2000"),
      md5 = "n1")))
    val params = NonMincRegistration.parameterRows(reg).collect()
      .map(r => r.getAs[String]("param_name") ->
        r.getAs[String]("param_value")).toMap
    assert(params == Map("tr" -> "2000",
      "acquisition_date" -> "2024-03-05"))
  }
}
