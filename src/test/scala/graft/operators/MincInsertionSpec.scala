package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[MincInsertion]] — the `minc_insertion.pl` abort ladder. */
class MincInsertionSpec extends SparkSpec {
  import spark.implicits._

  private def mincRow(id: Long, upload: Option[Long],
      tarchivePath: Option[String] = None, hrrt: Boolean = false,
      force: Boolean = false, suggested: Option[String] = None,
      headerPn: Option[String] = None, uid: String = "S.X",
      te: Double = 0.025, md5: String = "m"): (Long, String, Option[Long],
      Option[String], Boolean, Boolean, Option[String], Option[String],
      String, Double, String, String, String) =
    (id, s"/m/$id.mnc", upload, tarchivePath, hrrt, force, suggested,
      headerPn, uid, te, "1", "j-", md5)

  private val mincCols = Seq("minc_id", "minc_path", "upload_id",
    "tarchive_path", "is_hrrt", "force", "suggested_protocol",
    "patient_name", "series_uid", "echo_time", "echo_number", "phase_dir",
    "md5hash")

  private def mincs(rows: Seq[(Long, String, Option[Long], Option[String],
      Boolean, Boolean, Option[String], Option[String], String, Double,
      String, String, String)]): DataFrame =
    rows.toDF(mincCols: _*)
      .withColumn("manufacturer", lit(null).cast("string"))
      .withColumn("model", lit(null).cast("string"))
      .withColumn("serial", lit(null).cast("string"))
      .withColumn("software", lit(null).cast("string"))
      .withColumn("date_acquired", lit(null).cast("string"))

  private val uploads = Seq[(Long, Option[Long], Boolean)](
    (70L, Some(21L), true), (71L, Some(22L), false))
    .toDF("UploadID", "TarchiveID", "IsTarchiveValidated")
  private val tarchives = Seq(
    (21L, "y/A.tar", "MTL0001_300001_V1"),
    (22L, "y/B.tar", "MTL0001_300001_V1"))
    .toDF("TarchiveID", "ArchiveLocation", "PatientName")
    .withColumn("ScannerManufacturer", lit("SIEMENS"))
    .withColumn("ScannerModel", lit("Prisma"))
    .withColumn("ScannerSerialNumber", lit("SN1"))
    .withColumn("ScannerSoftwareVersion", lit("V1"))
    .withColumn("DateAcquired", lit("2024-01-01"))
  private val noSeries = Seq.empty[(Long, String, Double)]
    .toDF("TarchiveID", "SeriesUID", "EchoTime")
  private val psc = Seq((1L, "MTL", "MTL"))
    .toDF("CenterID", "Alias", "MRI_alias")
  private val sessions = Seq((41L, 11L, 1L, "V1"))
    .toDF("ID", "CandidateID", "CenterID", "Visit_label")
  private val candidates = Seq((11L, 300001L, "MTL0001"))
    .toDF("ID", "CandID", "PSCID")
  private val scanners = Seq(
    (501L, "SIEMENS", "Prisma", "SN1", "V1", Option(11L)))
    .toDF("ID", "Manufacturer", "Model", "Serial_number", "Software",
      "CandidateID")
  private val noFiles = Seq.empty[(Long, String)].toDF("FileID", "md5hash")
  private val noErrors = Seq.empty[(Long, String, Double, String, String,
    String, String)].toDF("TarchiveID", "SeriesUID", "EchoTime",
    "EchoNumber", "PhaseEncodingDirection", "PatientName", "Reason")
  private val protocols = Seq((301L, "t1", 20.0, 30.0))
    .toDF("MriScanTypeID", "ScanType", "TE_min", "TE_max")

  private def plan(ms: DataFrame): DataFrame =
    MincInsertion.insertPlan(ms, uploads, tarchives, noSeries, psc,
      sessions, candidates, scanners, noFiles, noErrors, protocols)

  private def statusOf(df: DataFrame): Map[Long, String] =
    df.select("minc_id", "status").as[(Long, String)].collect().toMap

  test("validation gate blocks unvalidated tarchive unless -force") {
    val out = statusOf(plan(mincs(Seq(
      mincRow(1L, Some(71L), md5 = "a"),
      mincRow(2L, Some(71L), force = true, md5 = "b")))))
    assert(out(1L) == "tarchive_validation_failed")
    assert(out(2L) == "registered")
  }

  test("md5 gate sees earlier registering batch-mates, not failed ones") {
    val out = statusOf(plan(mincs(Seq(
      // minc 1 fails validation → its hash is never inserted
      mincRow(1L, Some(71L), md5 = "h1"),
      mincRow(2L, Some(70L), md5 = "h1"),
      mincRow(3L, Some(70L), md5 = "h1")))))
    assert(out(1L) == "tarchive_validation_failed")
    assert(out(2L) == "registered")
    assert(out(3L) == "file_not_unique")
  }

  test("suggested protocol overrides TE match and sets the caveat") {
    val prot2 = Seq((301L, "t1", 20.0, 30.0), (302L, "t2", 45.0, 55.0))
      .toDF("MriScanTypeID", "ScanType", "TE_min", "TE_max")
    val out = MincInsertion.insertPlan(
      mincs(Seq(mincRow(1L, Some(70L), suggested = Some("t2"),
        te = 0.025, md5 = "x"))),
      uploads, tarchives, noSeries, psc, sessions, candidates, scanners,
      noFiles, noErrors, prot2)
      .select("status", "acq_protocol", "acq_protocol_id", "caveat")
      .as[(String, String, Long, Int)].collect().head
    assert(out == ("registered", "t2", 302L, 1))
  }

  test("force-mode series guard points at the owning archive") {
    val series = Seq((21L, "S.dup", 25.0))
      .toDF("TarchiveID", "SeriesUID", "EchoTime")
    val out = MincInsertion.insertPlan(
      mincs(Seq(mincRow(1L, None, force = true,
        headerPn = Some("MTL0001_300001_V1"), uid = "S.dup",
        md5 = "y"))),
      uploads, tarchives, series, psc, sessions, candidates, scanners,
      noFiles, noErrors, protocols)
      .select("status", "archive_location").as[(String, String)]
      .collect().head
    assert(out == ("series_in_existing_archive", "y/A.tar"))
  }

  test("plan shape: no broadcast hint on catalog-derived join sides") {
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    // the ladder's checkpoints truncate lineage: read the joins they hide
    // from the plans of the cuts themselves
    val (df, cuts) = withCuts(MincInsertion.insertPlan(
      mincs(Seq(mincRow(1L, Some(70L), md5 = "p1"))), uploads, tarchives,
      noSeries, psc, sessions, candidates, scanners, noFiles, noErrors,
      protocols))
    assert(cuts.nonEmpty)
    val hintedCols = (df.queryExecution +: cuts).flatMap(_.analyzed.collect {
      case h: ResolvedHint => h.child.output.map(_.name)
    }).flatten.toSet
    // catalog-derived sets (files md5, uploads, tarchives, series guard,
    // candidates, cand errors, sessions, minted sessions) must be plain
    // joins so AQE can fall back to shuffle strategies at 100×; their
    // marker columns must not appear under any hint node
    val catalogMarkers = Seq("__md5_dup", "__up_tid", "__t_loc", "__n_up",
      "__sg_te", "__pscids", "__ce_hit", "__sess_id", "__new_sess")
    catalogMarkers.foreach(m =>
      assert(!hintedCols.contains(m), s"catalog-derived $m is hinted"))
    // dictionaries stay hinted (the protocol table suggestion join)
    assert(hintedCols.contains("__sp_id"))
  }

  test("session get-or-create mints ids above max(existing)") {
    val out = plan(mincs(Seq(
      mincRow(1L, Some(70L), md5 = "s1"))))
      .select("session_id", "session_new").as[(Long, Boolean)]
      .collect().head
    assert(out == ((41L, false)))
    val created = MincInsertion.insertPlan(
      mincs(Seq(mincRow(1L, Some(70L), md5 = "s2"))),
      uploads,
      tarchives.withColumn("PatientName", lit("MTL0001_300001_V9")),
      noSeries, psc, sessions, candidates, scanners, noFiles, noErrors,
      protocols)
      .select("session_id", "session_new").as[(Long, Boolean)]
      .collect().head
    assert(created == ((42L, true)))
  }
}
