package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Ordinals

/** DICOM-archive validation vertical — the reference's
  * `uploadNeuroDB/tarchive_validation.pl:254-310` pipeline (upload↔archive
  * binding, checksum gate, PSC resolution, scanner get-or-create, candidate
  * validation, `IsTarchiveValidated` flag) re-expressed as one set-oriented
  * pass over a BATCH of uploads instead of one process per archive.
  *
  * Reference semantics sources (behavior only):
  *  - `NeuroDB/MRIProcessingUtility.pm:1928-1967` (validateArchive md5),
  *    `:1969-1988` (tarchive-vs-upload TarchiveID equality),
  *    `:2034-2130` (validateCandidate ladder), `:603-652` (determinePSC),
  *    `:693-757` (determineScannerID).
  *  - `NeuroDB/MRI.pm:1103-1143` (getPSC session-first then alias-regex),
  *    `:979-1102` (findScannerID / registerScanner / createNewCandID).
  *
  * Fidelity notes:
  *  - The script EXITS at the first failing gate; batch form reports the
  *    FIRST failing gate per upload in `status`, in the script's order:
  *    tarchive_not_found → multiple_tarchives → tarchive_id_mismatch →
  *    corrupted_archive → no_center_found → validated.
  *  - A candidate mismatch does NOT block validation: the script prints
  *    the error and still sets `IsTarchiveValidated='1'`
  *    (`tarchive_validation.pl:303-310`) so the error can be recorded
  *    per-MINC later. `cand_mismatch_error` rides along independently.
  *  - `md5sumArchive` stores `md5sum` OUTPUT (`<md5>  <path>`); both sides
  *    compare on the first whitespace token (`validateArchive:1940-1941`).
  *  - getPSC's fallbacks: the session-table lookup wins when the decoded
  *    PSCID and visit label are both non-empty and a session exists;
  *    otherwise each psc row's `Alias` / `MRI_alias` is applied to the
  *    patient name as a CASE-INSENSITIVE REGEX (pattern-as-data,
  *    `MRI.pm:1136`); otherwise ("UNKN", 0) → the no-center exit. MySQL
  *    returns the first matching row in unspecified order — both lookups
  *    pin the lowest CenterID for determinism (documented divergence).
  *  - registerScanner re-probes by serial number alone and reuses that
  *    scanner when its candidate link is present (`MRI.pm:1030-1036`);
  *    only then is a new scanner (plus its 'scanner' Entity_type
  *    candidate) created. The reference draws random CandIDs until free
  *    (`createNewCandID`); batch form assigns max(ID)+ordinal — the same
  *    distributed-ordinal discipline as every other sink in this repo
  *    (random-retry is a per-row round trip that cannot be expressed as a
  *    set operation, and ids only need uniqueness).
  *  - `Visit_Windows` matching is BINARY (case-sensitive) in the
  *    reference; Spark string equality is case-sensitive by default.
  *
  * Scale: uploads is the only large input. psc, candidates, scanners and
  * Visit_Windows are dictionary-sized → every lookup is a broadcast hash
  * join (the alias-regex match is a broadcast nested-loop over a
  * sites-sized table); the only exchanges on the big side are none — the
  * whole ladder is map-side. New-scanner ordinal assignment sorts only the
  * distinct unmatched scanner tuples (a handful per batch).
  */
object TarchiveValidation {

  private def tok1(c: Column): Column = split(c, "\\s+").getItem(0)

  /** Resolve each upload's acquisition center — `MRI.pm getPSC`.
    *
    * @param decoded  uploads carrying (upload_id, patient_name, pscid,
    *                 visit_label)
    * @param psc      (CenterID, Alias, MRI_alias)
    * @param sessions (CandidateID, CenterID, Visit_label)
    * @param candidates (ID, PSCID)
    * @return decoded + (center_id, mri_alias) — 0/"UNKN" when unresolved
    */
  def resolveCenter(decoded0: DataFrame, psc: DataFrame, sessions: DataFrame,
                    candidates: DataFrame): DataFrame = {
    // `decoded` is consumed twice (aliasMatch probe + the main join) and
    // callers hand it the tail of their join ladder: materialize once.
    // Batch-sized (the uploads being processed), never catalog-sized.
    // LAZY (r13): the aliasMatch broadcast build (a full scan) is the
    // first consumer — it materializes and caches the truncated RDD in
    // its own job instead of a dedicated checkpoint job paying first
    val decoded = decoded0.localCheckpoint(false)
    // session-first: PSCID + Visit_label → CenterID, lowest CenterID pinned
    val sessionCenter = sessions
      .join(candidates.select(col("ID").as("__cid"), col("PSCID")),
        col("CandidateID") === col("__cid"))
      .join(psc.select(col("CenterID"), col("MRI_alias")), Seq("CenterID"))
      .groupBy(col("PSCID").as("sc_pscid"),
        col("Visit_label").as("sc_visit"))
      .agg(min(struct(col("CenterID"), col("MRI_alias"))).as("sc"))
    // alias-regex fallback: each psc row's Alias/MRI_alias is a CI regex
    // over the patient name (pattern-as-data); lowest CenterID pinned
    val pats = psc.filter(col("MRI_alias") =!= "")
      .select(col("CenterID").as("ap_center"), col("Alias").as("ap_alias"),
        col("MRI_alias").as("ap_malias"))
    val aliasMatch = decoded.select(col("upload_id"), col("patient_name"))
      .join(broadcast(pats),
        regexp_like(col("patient_name"),
          concat(lit("(?i)"), col("ap_alias"))) ||
          regexp_like(col("patient_name"),
            concat(lit("(?i)"), col("ap_malias"))))
      .groupBy(col("upload_id").as("am_uid"))
      .agg(min(struct(col("ap_center"), col("ap_malias"))).as("am"))
    decoded
      .join(broadcast(sessionCenter),
        col("pscid") === col("sc_pscid") &&
          col("visit_label") === col("sc_visit") &&
          col("pscid") =!= "" && col("visit_label") =!= "", "left")
      .join(broadcast(aliasMatch), col("upload_id") === col("am_uid"), "left")
      .withColumn("center_id",
        coalesce(col("sc.CenterID"), col("am.ap_center"), lit(0)))
      .withColumn("mri_alias",
        coalesce(col("sc.MRI_alias"), col("am.ap_malias"), lit("UNKN")))
      .drop("sc", "am", "sc_pscid", "sc_visit", "am_uid")
  }

  /** Scanner get-or-create — `MRI.pm findScannerID/registerScanner`.
    *
    * @param uploads  rows carrying (upload_id, manufacturer, model, serial,
    *                 software, center_id)
    * @param scanners catalog (ID, Manufacturer, Model, Serial_number,
    *                 Software, CandidateID)
    * @return uploads + (scanner_id, scanner_is_new); new ids are
    *         max(existing)+ordinal over the distinct new tuples
    */
  def resolveScanner(uploads: DataFrame, scanners: DataFrame): DataFrame = {
    // exact 4-tuple match (findScannerID), lowest ID pinned
    val exact = scanners.groupBy(
      col("Manufacturer").as("x_man"), col("Model").as("x_mod"),
      col("Serial_number").as("x_ser"), col("Software").as("x_sw"))
      .agg(min(col("ID")).as("x_id"))
    // serial-only re-probe (registerScanner), candidate link required
    val bySerial = scanners.filter(col("CandidateID").isNotNull)
      .groupBy(col("Serial_number").as("s_ser"))
      .agg(min(col("ID")).as("s_id"))
    // two consumers (newTuples + the final join) on the callers' ladder
    // tail: materialize once (batch-sized, as in resolveCenter); LAZY —
    // newTuples' distinct/ordinal is a full scan and materializes it
    val probed = uploads
      .join(broadcast(exact),
        col("manufacturer") <=> col("x_man") && col("model") <=> col("x_mod") &&
          col("serial") <=> col("x_ser") && col("software") <=> col("x_sw"),
        "left")
      .join(broadcast(bySerial), col("serial") === col("s_ser"), "left")
      .withColumn("__existing", coalesce(col("x_id"), col("s_id")))
      .localCheckpoint(false)
    // distinct unmatched tuples → deterministic new ids above max(ID).
    // All-null tuples (uploads whose archive row was never found) are not
    // scanners — no id is minted for them
    val newTuples = probed.filter(col("__existing").isNull)
      .filter(coalesce(col("manufacturer"), col("model"), col("serial"),
        col("software")).isNotNull)
      .select(col("manufacturer"), col("model"), col("serial"),
        col("software"))
      .distinct()
    val maxId = scanners.agg(coalesce(max(col("ID")), lit(0L)).as("__max"))
    val assigned = Ordinals.withGlobalOrdinal(newTuples,
        Seq(col("manufacturer"), col("model"), col("serial"), col("software")),
        "__ord")
      .crossJoin(broadcast(maxId))
      .select(col("manufacturer").as("n_man"), col("model").as("n_mod"),
        col("serial").as("n_ser"), col("software").as("n_sw"),
        (col("__max") + col("__ord")).as("n_id"))
    probed
      .join(broadcast(assigned),
        col("manufacturer") <=> col("n_man") && col("model") <=> col("n_mod") &&
          col("serial") <=> col("n_ser") && col("software") <=> col("n_sw"),
        "left")
      .withColumn("scanner_id", coalesce(col("__existing"), col("n_id")))
      .withColumn("scanner_is_new",
        col("__existing").isNull && col("n_id").isNotNull)
      .drop("x_man", "x_mod", "x_ser", "x_sw", "x_id", "s_ser", "s_id",
        "n_man", "n_mod", "n_ser", "n_sw", "n_id", "__existing")
  }

  /** The composed validation — one row per upload.
    *
    * @param uploads      (UploadID, TarchiveID, ArchiveLocation) — the
    *                     script's -uploadID + tarchive-path arguments
    * @param tarchive     (TarchiveID, ArchiveLocation, md5sumArchive,
    *                     PatientName, ScannerManufacturer, ScannerModel,
    *                     ScannerSerialNumber, ScannerSoftwareVersion)
    * @param fsMd5        (archive_location, fs_md5) — the `md5sum` run
    *                     over the on-disk archives (distributed in a real
    *                     deployment; the gate's comparison is what is
    *                     modeled here)
    * @param psc          (CenterID, Alias, MRI_alias)
    * @param sessions     (CandidateID, CenterID, Visit_label)
    * @param candidates   (ID, CandID, PSCID)
    * @param visitWindows (Visit_label)
    * @param scanners     (ID, Manufacturer, Model, Serial_number, Software,
    *                     CandidateID)
    * @param decoder      site patient-name convention (PSCID_CandID_Visit
    *                     by default)
    * @param phantomRegex getSubjectIDs' phantom convention (CI substring
    *                     by default); phantoms skip candidate validation
    * @param createVisitLabel config `createVisitLabel`: unknown visit
    *                     labels are created rather than flagged
    */
  def validateUploads(uploads: DataFrame, tarchive: DataFrame,
                      fsMd5: DataFrame, psc: DataFrame, sessions: DataFrame,
                      candidates: DataFrame, visitWindows: DataFrame,
                      scanners: DataFrame,
                      decoder: PatientIdDecoder = LorisPatientIdDecoder,
                      phantomRegex: String = "(?i)phantom",
                      createVisitLabel: Boolean = false): DataFrame = {
    // createTarchiveArray: the archive row is found by ArchiveLocation;
    // zero rows and 2+ rows are distinct exits (:481-566)
    val t = tarchive.groupBy(col("ArchiveLocation").as("t_loc"))
      .agg(count(lit(1)).as("t_n"),
        min(struct(col("TarchiveID"), col("md5sumArchive"),
          col("PatientName"), col("ScannerManufacturer"),
          col("ScannerModel"), col("ScannerSerialNumber"),
          col("ScannerSoftwareVersion"))).as("t"))
    val bound = uploads
      .select(col("UploadID").as("upload_id"),
        col("TarchiveID").as("upload_tarchive_id"),
        col("ArchiveLocation").as("archive_location"))
      .join(broadcast(t), col("archive_location") === col("t_loc"), "left")
      .join(fsMd5.select(col("archive_location"), col("fs_md5")),
        Seq("archive_location"), "left")
      .withColumn("patient_name", col("t.PatientName"))
      .withColumn("__d", decoder.decode(col("patient_name")))
    val decoded = bound
      .withColumn("pscid", coalesce(col("__d.pscid"), lit("")))
      // ANSI-safe: phantom / free-form names put non-digits in the CandID
      // slot; the reference's numeric context just yields no candidate
      .withColumn("cand_id",
        when(col("__d.cand_id").rlike("^[0-9]+$"),
          col("__d.cand_id").cast("long")))
      .withColumn("visit_label", coalesce(col("__d.visit_label"), lit("")))
      .withColumn("is_phantom",
        coalesce(col("patient_name").rlike(phantomRegex), lit(false)))
    val centered = resolveCenter(decoded, psc, sessions, candidates)
    val withScan = resolveScanner(
      centered
        .withColumn("manufacturer", col("t.ScannerManufacturer"))
        .withColumn("model", col("t.ScannerModel"))
        .withColumn("serial", col("t.ScannerSerialNumber"))
        .withColumn("software", col("t.ScannerSoftwareVersion")),
      scanners)
    // validateCandidate ladder (:2034-2130); phantoms skip it entirely.
    // The reference's self-left-join: c1 proves CandID, c2 proves the
    // (CandID, PSCID) pair — two broadcast probes on the same table
    val candById = candidates.groupBy(col("CandID").as("c_cand"))
      .agg(count(lit(1)).as("c_n"))
    val candPair = candidates
      .select(col("CandID").as("p_cand"), col("PSCID").as("p_pscid"))
      .distinct()
    val vw = visitWindows.select(col("Visit_label").as("vw_visit")).distinct()
    val laddered = withScan
      .join(broadcast(candById), col("cand_id") === col("c_cand"), "left")
      .join(broadcast(candPair),
        col("cand_id") === col("p_cand") && col("pscid") === col("p_pscid"),
        "left")
      .join(broadcast(vw), col("visit_label") === col("vw_visit"), "left")
      .withColumn("cand_mismatch_error",
        when(col("is_phantom"), lit(null).cast("string"))
          .when(col("t").isNull, lit(null).cast("string"))
          .when(col("c_n").isNull, "CandID does not exist")
          .when(col("p_pscid").isNull,
            "PSCID and CandID of the image mismatch")
          .when(col("vw_visit").isNull && !lit(createVisitLabel),
            concat(lit("Visit label "), col("visit_label"),
              lit(" does not exist in Visit_Windows")))
          .otherwise(lit(null).cast("string")))
    // first-failing-gate status, in the script's exit order. Fields
    // DOWNSTREAM of the failed gate are nulled: the script exits before
    // computing them, so reporting batch-computed values there would
    // claim state the reference never produced.
    val status =
      when(col("t").isNull, "tarchive_not_found")
        .when(col("t_n") > 1, "multiple_tarchives")
        .when(col("upload_tarchive_id") =!= col("t.TarchiveID"),
          "tarchive_id_mismatch")
        .when(tok1(col("fs_md5")) =!= tok1(col("t.md5sumArchive")) ||
          col("fs_md5").isNull, "corrupted_archive")
        .when(col("center_id") === 0, "no_center_found")
        .otherwise("validated")
    // gate rank reached: 0 = before getPSC, 1 = getPSC ran, 2 = all ran
    val reached = when(status.isin("tarchive_not_found",
        "multiple_tarchives", "tarchive_id_mismatch", "corrupted_archive"),
        0)
      .when(status === "no_center_found", 1).otherwise(2)
    def atLeast(rank: Int, c: Column): Column =
      when(reached >= rank, c)
    laddered.select(
      col("upload_id"),
      col("t.TarchiveID").as("tarchive_id"),
      status.as("status"),
      atLeast(1, col("center_id")).as("center_id"),
      atLeast(1, col("mri_alias")).as("mri_alias"),
      atLeast(2, col("scanner_id")).as("scanner_id"),
      atLeast(2, col("scanner_is_new")).as("scanner_is_new"),
      atLeast(1, col("cand_id")).as("cand_id"),
      atLeast(1, col("pscid")).as("pscid"),
      atLeast(1, col("visit_label")).as("visit_label"),
      atLeast(1, col("is_phantom")).as("is_phantom"),
      atLeast(2, col("cand_mismatch_error")).as("cand_mismatch_error"),
      (status === "validated").as("is_tarchive_validated"))
  }
}
