package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Ordinals

/** MINC file registration — the `uploadNeuroDB/minc_insertion.pl` abort
  * ladder as one set-oriented dataflow (the historic main insertion path;
  * its non-MINC twin is [[NonMincRegistration]]).
  *
  * The script exits per file with a distinct code; the first failing check
  * is carried as `status`, in the script's own order:
  *
  *  1. input resolution (`minc_insertion.pl:330-404`):
  *     - `-uploadID` mode: the upload must exist (`upload_not_found`) and
  *       carry a TarchiveID (`no_tarchive`) — `:333-355`;
  *     - `-tarchivePath` mode: exactly one mri_upload may match the
  *       archive basename — zero → `no_upload_for_archive`, several →
  *       `ambiguous_upload` (`:358-385`);
  *     - HRRT uploads are force-marked valid (`:388-404`);
  *  2. `IsTarchiveValidated` gate, overridable with `-force`
  *     (`tarchive_validation_failed`, `:407-419`);
  *  3. force-mode series guard (`:451-495`): a MINC with no resolved
  *     archive whose (SeriesUID, EchoTime×1000) exists in
  *     `tarchive_series` → `series_in_existing_archive`;
  *  4. studyInfo defaulting (`:498-500` + `:499-507`): tarchive fields
  *     win, MINC header fields fill the gaps (patient name, scanner
  *     tuple, acquisition date);
  *  5. `determinePSC` → `no_center_found`; `determineScannerID`
  *     get-or-creates the scanner tuple (reused from
  *     [[TarchiveValidation.resolveCenter]] / [[TarchiveValidation.resolveScanner]]);
  *  6. candidate validation (`:511-568`): a CandMismatchError moves the
  *     file to the trashbin and logs to MRICandidateErrors, deduplicated
  *     on the full (SeriesUID, EchoTime, EchoNumber,
  *     PhaseEncodingDirection, PatientName, Reason) tuple →
  *     `candidate_mismatch`, `cand_error_new` false when already logged;
  *  7. session get-or-create on (CandID, VisitLabel) (`:573-597`);
  *  8. md5 uniqueness (`is_file_unique`, `:605-616`) → `file_not_unique`;
  *     the script runs one file at a time, so an earlier registering
  *     batch-mate with the same hash also rejects;
  *  9. acquisition protocol (`:645-674`): the `-acquisition_protocol`
  *     suggestion wins and sets `Caveat=1` (`:639-641`); otherwise the
  *     TE-range protocol table identifies the volume; no resolution →
  *     `unknown_protocol`;
  * 10. `registerScanIntoDB` (`:680-696`): protocols excluded by the
  *     profile's `isFileToBeRegisteredGivenProtocol` whitelist →
  *     `excluded_protocol`; survivors are registered with
  *     CoordinateSpace/OutputType `native`, FileType `mnc`, SeriesUID /
  *     EchoTime / TarchiveSource carried, and FileIDs continuing from
  *     max(existing).
  *
  * Scale posture: the protocol table and psc are true dictionaries and
  * broadcast; catalog-derived sets (uploads, tarchives, series guard,
  * candidates, sessions, known md5 hashes, cand-error log) grow with the
  * site, so their joins carry NO broadcast hint — AQE broadcasts them
  * while they are small and falls back to shuffle joins at 100× (a forced
  * hint would OOM on the files-md5 set alone). The data-volume exchanges
  * are the bounded per-hash batch-dup window and the two range-sort
  * ordinals (new session ids, new file ids).
  */
object MincInsertion {

  private val nameParse = "^([A-Za-z0-9]+)_([0-9]+)_([A-Za-z0-9]+)"

  /** One row per MINC file.
    *
    * @param mincs        (minc_id, minc_path, upload_id?, tarchive_path?,
    *                     is_hrrt, force, suggested_protocol?, then the
    *                     MINC header fields: patient_name, manufacturer,
    *                     model, serial, software, date_acquired,
    *                     series_uid, echo_time (seconds), echo_number,
    *                     phase_dir, md5hash)
    * @param uploads      mri_upload (UploadID, TarchiveID?,
    *                     IsTarchiveValidated)
    * @param tarchives    (TarchiveID, ArchiveLocation, PatientName,
    *                     ScannerManufacturer, ScannerModel,
    *                     ScannerSerialNumber, ScannerSoftwareVersion,
    *                     DateAcquired)
    * @param tarchiveSeries (TarchiveID, SeriesUID, EchoTime) — EchoTime
    *                     in milliseconds as stored by dicomTar
    * @param psc          (CenterID, Alias, MRI_alias)
    * @param sessions     (ID, CandidateID, CenterID, Visit_label)
    * @param candidates   (ID, CandID, PSCID)
    * @param scanners     (ID, Manufacturer, Model, Serial_number,
    *                     Software, CandidateID)
    * @param files        existing files (FileID, md5hash)
    * @param candErrors   MRICandidateErrors (SeriesUID, EchoTime,
    *                     EchoNumber, PhaseEncodingDirection, PatientName,
    *                     Reason)
    * @param protocols    (MriScanTypeID, ScanType, TE_min, TE_max) — TE
    *                     range in milliseconds
    * @param excludedProtocols profile whitelist complement —
    *                     `isFileToBeRegisteredGivenProtocol`
    */
  def insertPlan(mincs: DataFrame, uploads: DataFrame, tarchives: DataFrame,
      tarchiveSeries: DataFrame, psc: DataFrame, sessions: DataFrame,
      candidates: DataFrame, scanners: DataFrame, files: DataFrame,
      candErrors: DataFrame, protocols: DataFrame,
      excludedProtocols: Seq[String] = Nil): DataFrame = {
    // multi-consumer ladder midpoints materialize ONCE (batch-sized).
    // LAZY (r13): the dedicated checkpoint job per midpoint is gone —
    // the first consumer (an ordinal zipWithIndex, a broadcast build, or
    // the query's final action, all full scans) materializes and caches
    // the truncated RDD within its own job

    // ---- 1. input resolution --------------------------------------
    val upDict = uploads.select(col("UploadID").as("upload_id"),
      col("TarchiveID").as("__up_tid"),
      col("IsTarchiveValidated").as("__up_valid"),
      lit(true).as("__up_found"))
    val tarDict = tarchives.select(col("TarchiveID").as("__t_tid"),
      col("ArchiveLocation").as("__t_loc"), col("PatientName").as("__t_pn"),
      col("ScannerManufacturer").as("__t_man"),
      col("ScannerModel").as("__t_mod"),
      col("ScannerSerialNumber").as("__t_ser"),
      col("ScannerSoftwareVersion").as("__t_sw"),
      col("DateAcquired").as("__t_date"))
    // -tarchivePath mode: mri_upload rows whose tarchive's archive
    // basename matches the given path's basename
    val byArchive = uploads
      .join(tarchives.select(col("TarchiveID"),
        element_at(split(col("ArchiveLocation"), "/"), -1).as("__base")),
        Seq("TarchiveID"))
      .groupBy(col("__base"))
      .agg(count(lit(1)).as("__n_up"), min(col("UploadID")).as("__a_uid"),
        min(col("TarchiveID")).as("__a_tid"),
        // single-match case: the validated flag of that one row
        min(col("IsTarchiveValidated")).as("__a_valid"))

    val resolved = mincs
      .join(upDict, Seq("upload_id"), "left")
      .join(byArchive,
        element_at(split(col("tarchive_path"), "/"), -1) === col("__base"),
        "left")
      .withColumn("__mode",
        when(col("upload_id").isNotNull, "upload")
          .when(col("tarchive_path").isNotNull, "archive")
          .otherwise("force"))
      .withColumn("tarchive_id",
        when(col("__mode") === "upload", col("__up_tid"))
          .when(col("__mode") === "archive", col("__a_tid")))
      // -tarchivePath single-match mode adopts the resolved UploadID
      // (`minc_insertion.pl:379-384`)
      .withColumn("upload_id",
        coalesce(col("upload_id"),
          when(col("__n_up") === 1, col("__a_uid"))))
      .withColumn("__valid",
        when(col("is_hrrt"), lit(true)) // :388-404 — HRRT marked valid
          .when(col("__mode") === "upload", col("__up_valid"))
          .when(col("__mode") === "archive", col("__a_valid"))
          .otherwise(lit(false)))
      .join(tarDict, col("tarchive_id") === col("__t_tid"),
        "left")

    // ---- 2./3. validation gate + force-mode series guard ----------
    val seriesGuard = tarchiveSeries
      .join(tarchives.select(col("TarchiveID"),
        col("ArchiveLocation").as("__sg_loc")), Seq("TarchiveID"))
      .select(col("SeriesUID").as("series_uid"),
        col("EchoTime").as("__sg_te"), col("__sg_loc"))
    val guarded = resolved
      .join(seriesGuard,
        resolved("series_uid") === seriesGuard("series_uid") &&
          round(col("echo_time") * 1000, 6) === col("__sg_te") &&
          col("tarchive_id").isNull, "left")
      .drop(seriesGuard("series_uid"))

    // ---- 4. studyInfo defaulting ----------------------------------
    val study = guarded
      .withColumn("__pn", coalesce(col("__t_pn"), col("patient_name")))
      .withColumn("__man", coalesce(col("__t_man"), col("manufacturer")))
      .withColumn("__mod", coalesce(col("__t_mod"), col("model")))
      .withColumn("__ser", coalesce(col("__t_ser"), col("serial")))
      .withColumn("__sw", coalesce(col("__t_sw"), col("software")))
      .withColumn("__date", coalesce(col("__t_date"), col("date_acquired")))
      .withColumn("pscid",
        coalesce(nullif(regexp_extract(col("__pn"), nameParse, 1), lit("")),
          lit("")))
      .withColumn("CandID",
        nullif(regexp_extract(col("__pn"), nameParse, 2), lit(""))
          .cast("long"))
      .withColumn("visit_label",
        coalesce(nullif(regexp_extract(col("__pn"), nameParse, 3), lit("")),
          lit("")))

    // ---- 5. center + scanner resolution ---------------------------
    val centered = TarchiveValidation.resolveCenter(
      study.withColumn("patient_name", col("__pn"))
        .withColumn("__uid_save", col("upload_id"))
        .withColumn("upload_id", col("minc_id")),
      psc,
      sessions.select(col("CandidateID"), col("CenterID"),
        col("Visit_label")),
      candidates.select(col("ID"), col("PSCID")))
    val scanned = TarchiveValidation.resolveScanner(
      centered.withColumn("manufacturer", col("__man"))
        .withColumn("model", col("__mod"))
        .withColumn("serial", col("__ser"))
        .withColumn("software", col("__sw")),
      scanners)
      .withColumn("minc_id", col("upload_id"))
      .withColumn("upload_id", col("__uid_save"))

    // ---- 6. candidate validation ----------------------------------
    val candPair = candidates.groupBy(col("CandID"))
      .agg(collect_set(col("PSCID")).as("__pscids"))
    val reasoned = scanned
      .join(candPair, Seq("CandID"), "left")
      .withColumn("__cand_reason",
        when(col("CandID").isNull,
          lit("PatientName does not match the naming convention"))
          .when(col("__pscids").isNull, lit("CandID does not exist"))
          .when(!array_contains(col("__pscids"), col("pscid")),
            lit("PSCID and CandID of the image mismatch")))
      // MRICandidateErrors dedup on the full identity tuple (:547-561)
      .join(candErrors.select(
        col("SeriesUID").as("__ce_uid"), col("EchoTime").as("__ce_te"),
        col("EchoNumber").as("__ce_en"),
        col("PhaseEncodingDirection").as("__ce_ped"),
        col("PatientName").as("__ce_pn"), col("Reason").as("__ce_reason"),
        lit(true).as("__ce_hit")),
        col("series_uid") <=> col("__ce_uid") &&
          round(col("echo_time") * 1000, 6) <=> col("__ce_te") &&
          col("echo_number") <=> col("__ce_en") &&
          col("phase_dir") <=> col("__ce_ped") &&
          col("__pn") <=> col("__ce_pn") &&
          col("__cand_reason") <=> col("__ce_reason"), "left")

    // ---- 7. session get-or-create ---------------------------------
    val sessKeys = sessions
      .join(candidates.select(col("ID").as("__cand_row"), col("CandID")),
        col("CandidateID") === col("__cand_row"))
      .groupBy(col("CandID"), col("Visit_label").as("visit_label"))
      .agg(min(col("ID")).as("__sess_id"))
    // three consumers below (sessed, newSessKeys, and through them the
    // whole ladder tail): materialize the join ladder ONCE. Scale-safe —
    // this is the insert BATCH (bounded by what one ingest run carries),
    // never the catalog side of the joins.
    val withSess = reasoned
      .join(sessKeys, Seq("CandID", "visit_label"), "left")
      .localCheckpoint(false)
    val newSessKeys = withSess
      .filter(col("__sess_id").isNull && col("__cand_reason").isNull)
      .select(col("CandID"), col("visit_label")).distinct()
    val maxSess = sessions
      .agg(coalesce(max(col("ID")), lit(0L)).as("__max_sess"))
    val mintedSess = Ordinals.withGlobalOrdinal(newSessKeys,
        Seq(col("CandID"), col("visit_label")), "__ord")
      .crossJoin(broadcast(maxSess))
      .select(col("CandID"), col("visit_label"),
        (col("__max_sess") + col("__ord")).as("__new_sess"))
    val sessed = withSess
      .join(mintedSess, Seq("CandID", "visit_label"), "left")
      .withColumn("session_id",
        coalesce(col("__sess_id"), col("__new_sess")))
      .withColumn("session_new",
        col("__sess_id").isNull && col("__new_sess").isNotNull)

    // ---- 8. md5 gate + 9. protocol --------------------------------
    // files-derived md5 set: grows with the catalog (gigabytes at 100×),
    // so NO broadcast hint — plain left join lets AQE pick shuffle-hash /
    // SMJ when the catalog is big (dictionary joins below keep the hint)
    val knownMd5 = files.select(col("md5hash"))
      .withColumn("__md5_dup", lit(true)).distinct()
    val suggested = protocols.select(col("ScanType").as("__sp_name"),
      col("MriScanTypeID").as("__sp_id"))
    val teMatch = protocols.select(col("MriScanTypeID").as("__te_id"),
      col("ScanType").as("__te_name"), col("TE_min"), col("TE_max"))
    val proto = sessed
      .join(knownMd5, Seq("md5hash"), "left")
      .join(broadcast(suggested),
        col("suggested_protocol") === col("__sp_name"), "left")
      .join(broadcast(teMatch),
        col("suggested_protocol").isNull &&
          round(col("echo_time") * 1000, 6).between(
            col("TE_min"), col("TE_max")), "left")
      // protocol-table order: lowest scan type id wins
      .withColumn("__te_pick",
        min(when(col("__te_id").isNotNull,
          struct(col("__te_id"), col("__te_name"))))
          .over(Window.partitionBy(col("minc_id"))))
      .groupBy(col("minc_id")).agg(
        first(col("upload_id")).as("upload_id"),
        first(col("tarchive_id")).as("tarchive_id"),
        first(col("__t_loc")).as("archive_location"),
        first(col("minc_path")).as("minc_path"),
        first(col("is_hrrt")).as("is_hrrt"),
        first(col("force")).as("force"),
        first(col("__mode")).as("__mode"),
        first(col("__up_found")).as("__up_found"),
        first(col("__n_up")).as("__n_up"),
        first(col("__valid")).as("__valid"),
        // min, not first: a SeriesUID present in several archives must
        // name a deterministic owner (the reference's fetchrow takes an
        // arbitrary one; we pin the smallest location)
        min(col("__sg_loc")).as("__sg_loc"),
        first(col("center_id")).as("center_id"),
        first(col("scanner_id")).as("scanner_id"),
        first(col("scanner_is_new")).as("scanner_is_new"),
        first(col("__cand_reason")).as("__cand_reason"),
        first(col("__ce_hit")).as("__ce_hit"),
        first(col("CandID")).as("cand_id"),
        first(col("visit_label")).as("visit_label"),
        first(col("session_id")).as("session_id"),
        first(col("session_new")).as("session_new"),
        first(col("__md5_dup")).as("__md5_dup"),
        first(col("md5hash")).as("md5hash"),
        first(col("series_uid")).as("series_uid"),
        first(col("echo_time")).as("echo_time"),
        first(col("suggested_protocol")).as("suggested_protocol"),
        first(col("__sp_id")).as("__sp_id"),
        first(col("__te_pick")).as("__te_pick"),
        first(col("__pn")).as("patient_name"))
      .withColumn("acq_protocol",
        coalesce(col("suggested_protocol"), col("__te_pick.__te_name")))
      .withColumn("acq_protocol_id",
        coalesce(col("__sp_id"), col("__te_pick.__te_id")))

    // ---- ladder: first failing check wins -------------------------
    val preStatus = proto.withColumn("__pre",
      when(col("__mode") === "upload" && !col("is_hrrt") &&
        col("__up_found").isNull, lit("upload_not_found"))
        .when(col("__mode") === "upload" && !col("is_hrrt") &&
          col("tarchive_id").isNull, lit("no_tarchive"))
        .when(col("__mode") === "archive" && col("__n_up").isNull,
          lit("no_upload_for_archive"))
        .when(col("__mode") === "archive" && col("__n_up") > 1,
          lit("ambiguous_upload"))
        .when(!col("__valid") && !col("force"),
          lit("tarchive_validation_failed"))
        .when(col("__sg_loc").isNotNull,
          lit("series_in_existing_archive"))
        .when(col("center_id") === 0, lit("no_center_found"))
        .when(col("__cand_reason").isNotNull, lit("candidate_mismatch")))

    // batch-sequential md5: first otherwise-eligible file of a hash wins
    val eligible = col("__pre").isNull && col("__md5_dup").isNull
    val firstOfHash = Window.partitionBy(col("md5hash"))
      .orderBy(col("minc_id"))
    // two consumers (newIds and the final join): one materialization of
    // the ladder tail — batch-sized, same rationale as withSess above
    val statused = preStatus
      .withColumn("__first_md5",
        first(when(eligible, col("minc_id")), ignoreNulls = true)
          .over(firstOfHash))
      .withColumn("status",
        coalesce(col("__pre"),
          when(col("__md5_dup").isNotNull ||
            col("__first_md5") =!= col("minc_id"), lit("file_not_unique"))
            .when(col("acq_protocol_id").isNull, lit("unknown_protocol"))
            .when(col("acq_protocol").isin(excludedProtocols: _*),
              lit("excluded_protocol"))
            .otherwise(lit("registered"))))
      .localCheckpoint(false)

    // ---- registration ids + output shape --------------------------
    val maxFile = files.agg(coalesce(max(col("FileID")), lit(0L))
      .as("__max_fid"))
    val newIds = Ordinals.withGlobalOrdinal(
        statused.where(col("status") === "registered")
          .select(col("minc_id")),
        Seq(col("minc_id")), "__ford")
      .crossJoin(broadcast(maxFile))
      .select(col("minc_id"),
        (col("__max_fid") + col("__ford")).as("file_id"))

    val reg = col("status") === "registered"
    statused
      .join(newIds, Seq("minc_id"), "left")
      .select(
        col("minc_id"), col("status"), col("upload_id"),
        when(!col("status").isin("upload_not_found", "no_tarchive",
          "no_upload_for_archive", "ambiguous_upload"), col("tarchive_id"))
          .as("tarchive_id"),
        when(col("status") === "series_in_existing_archive",
          col("__sg_loc"))
          .when(!col("status").isin("upload_not_found", "no_tarchive",
            "no_upload_for_archive", "ambiguous_upload"),
            col("archive_location"))
          .as("archive_location"),
        // center is only resolved once the script reaches determinePSC —
        // earlier aborts never compute it
        when(col("status").isin("no_center_found", "candidate_mismatch",
          "file_not_unique", "unknown_protocol", "excluded_protocol",
          "registered"), col("center_id")).as("center_id"),
        when(reg || col("status") === "candidate_mismatch" ||
          col("status") === "file_not_unique" ||
          col("status") === "unknown_protocol" ||
          col("status") === "excluded_protocol", col("scanner_id"))
          .as("scanner_id"),
        when(reg || col("status") === "candidate_mismatch" ||
          col("status") === "file_not_unique" ||
          col("status") === "unknown_protocol" ||
          col("status") === "excluded_protocol", col("scanner_is_new"))
          .as("scanner_is_new"),
        when(reg, col("cand_id")).as("cand_id"),
        when(reg, col("visit_label")).as("visit_label"),
        when(reg || col("status").isin("file_not_unique",
          "unknown_protocol", "excluded_protocol"), col("session_id"))
          .as("session_id"),
        when(reg || col("status").isin("file_not_unique",
          "unknown_protocol", "excluded_protocol"), col("session_new"))
          .as("session_new"),
        when(reg || col("status") === "excluded_protocol",
          col("acq_protocol")).as("acq_protocol"),
        when(reg, col("acq_protocol_id")).as("acq_protocol_id"),
        // Caveat=1 iff the protocol was force-suggested (:639-641);
        // HRRT files never carry a caveat (:633-637)
        when(reg, when(col("is_hrrt"), lit(0))
          .when(col("suggested_protocol").isNotNull, lit(1))
          .otherwise(lit(0))).as("caveat"),
        when(reg, lit("native")).as("coordinate_space"),
        when(reg, lit("mnc")).as("file_type"),
        when(reg && !col("is_hrrt"), col("series_uid")).as("series_uid"),
        when(reg && !col("is_hrrt"), col("tarchive_id"))
          .as("tarchive_source"),
        col("file_id"),
        // trashbin move for candidate mismatches
        // (`NeuroDB::MRI::get_trashbin_file_rel_path`)
        when(col("status") === "candidate_mismatch",
          concat(lit("trashbin/"),
            element_at(split(col("minc_path"), "/"), -1)))
          .as("trashbin_path"),
        when(col("status") === "candidate_mismatch",
          col("__ce_hit").isNull).as("cand_error_new"))
  }
}
