package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Non-MINC imaging file registration (SURVEY.md §2 — the
  * `uploadNeuroDB/imaging_non_minc_insertion.pl` vertical): registering an
  * arbitrary imaging file (PET, qc output, report) into the `files` +
  * `parameter_file` catalog without the MINC pipeline.
  *
  * The script aborts per file with a distinct exit code; the set-oriented
  * form carries the first failing check as a status column, in the
  * reference's own abort order:
  *  - `-date_acquired` must be `YYYY-MM-DD`
  *    (`imaging_non_minc_insertion.pl:231-235`) → `invalid_date`;
  *  - the upload id must exist in `mri_upload` (`:292-304`) →
  *    `invalid_upload`;
  *  - the scanner id must resolve to a scanner candidate
  *    (`getScannerCandID`, `:311-327`) → `invalid_scanner`;
  *  - the scan type must resolve through `mri_scan_type`
  *    (`scan_type_text_to_id`, `:334-349`) → `unknown_scan_type`;
  *  - the file's extension must match a row of `ImagingFileTypes` —
  *    `/\.$type(\.gz)?$/`, LAST matching table row wins
  *    (`NeuroDB/File.pm getFileType:262-284`) → `unknown_file_type`;
  *  - the patient name (argument, else the file name, `:403-407`) must
  *    parse as `PSCID_CandID_VisitLabel` → `subject_id_failure`;
  *  - the CandID must exist, the PSCID must belong to the SAME candidate,
  *    and the visit label must BINARY-match `Visit_Windows`
  *    (`validateCandidate`, `MRIProcessingUtility.pm:2033-2101`) →
  *    `candidate_mismatch`;
  *  - the session is got-or-created for (CandID, VisitLabel)
  *    (`getSessionInformation`, `:461-463`) — BEFORE the md5 guard, so a
  *    later-rejected duplicate still creates its visit, which this
  *    operator preserves;
  *  - the md5 must be new (`computeMd5Hash`, `:484-499`) →
  *    `duplicate_md5` — one file at a time in the reference, so an
  *    earlier PASSING batch-mate with the same hash also rejects
  *    (the same sequential-insert semantics as
  *    [[ProcessedRegistration.register]]);
  *  - survivors are registered with ScannerID / SessionID / OutputType /
  *    CoordinateSpace set (`:506-536`) and FileIDs continuing from
  *    max(existing).
  *
  * Scale posture: scanners, scan types, file types and visit windows are
  * true dictionaries and broadcast; catalog-derived sets (uploads,
  * candidates, session keys, known md5 hashes) grow with the site, so
  * their joins carry NO broadcast hint — AQE broadcasts them while small
  * and falls back to shuffle joins at 100×. The only data-volume
  * exchanges are the md5-partitioned batch-dup window (bounded per hash)
  * and the range-sort ordinal over newly registered rows.
  */
object NonMincRegistration {

  private val nameParse = "^([A-Za-z0-9]+)_([0-9]+)_([A-Za-z0-9]+)"

  /** One row per candidate file with `status` ∈ {invalid_date,
    * invalid_upload, invalid_scanner, unknown_scan_type,
    * unknown_file_type, subject_id_failure, candidate_mismatch,
    * duplicate_md5, registered}.
    *
    * @param cands        (file_path, upload_id, patient_name (nullable —
    *                     falls back to the file name), output_type,
    *                     scan_type, date_acquired, scanner_id,
    *                     coordinate_space, metadata Map[String,String],
    *                     md5hash)
    * @param uploads      mri_upload (UploadID)
    * @param scanners     mri_scanner (ScannerID, CandID)
    * @param scanTypes    (MriScanTypeID, ScanType)
    * @param fileTypes    ImagingFileTypes (ord, type) — ord is the table
    *                     row order the reference's last-match-wins loop
    *                     iterates in
    * @param candidates   candidate (CandID, PSCID)
    * @param visitWindows Visit_Windows (VisitLabel)
    * @param sessions     session (ID, CandID, VisitLabel)
    * @param files        existing files (FileID, md5hash)
    */
  def register(cands: DataFrame, uploads: DataFrame, scanners: DataFrame,
      scanTypes: DataFrame, fileTypes: DataFrame, candidates: DataFrame,
      visitWindows: DataFrame, sessions: DataFrame,
      files: DataFrame): DataFrame = {
    // multi-consumer ladder midpoints materialize ONCE (batch-sized).
    // LAZY (r13): no dedicated checkpoint job — the first consumer (a
    // broadcast build or the final action, both full scans) materializes
    // and caches the truncated RDD within its own job

    // last matching ImagingFileTypes row wins (File.pm:278-282 overwrites
    // $fileType on every match as it loops the table)
    val typed = cands.select(col("file_path"))
      .join(broadcast(fileTypes),
        regexp_like(col("file_path"), concat(lit("\\."), col("type"),
          lit("(\\.gz)?$"))), "left")
      .groupBy(col("file_path"))
      .agg(max_by(col("type"), col("ord")).as("file_type"))

    val parsed = cands
      .withColumn("__name", coalesce(col("patient_name"),
        element_at(split(col("file_path"), "/"), -1)))
      .withColumn("PSCID",
        nullif(regexp_extract(col("__name"), nameParse, 1), lit("")))
      .withColumn("CandID",
        nullif(regexp_extract(col("__name"), nameParse, 2), lit(""))
          .cast("long"))
      .withColumn("VisitLabel",
        nullif(regexp_extract(col("__name"), nameParse, 3), lit("")))

    val candPair = candidates
      .select(col("CandID"), col("PSCID").as("__cand_pscid"))
    // uploads and candidates are catalog-derived (grow with the site):
    // plain left joins, no broadcast hint — AQE picks the strategy at
    // runtime. scanners / scan types / visit windows are true
    // dictionaries and keep the hint.
    val checked = parsed
      .join(uploads.select(col("UploadID").as("upload_id"))
        .distinct().withColumn("__up_ok", lit(true)), Seq("upload_id"), "left")
      .join(broadcast(scanners.select(col("ScannerID").as("scanner_id"))
        .distinct().withColumn("__sc_ok", lit(true))), Seq("scanner_id"), "left")
      .join(broadcast(scanTypes.select(col("MriScanTypeID"),
        col("ScanType").as("scan_type"))), Seq("scan_type"), "left")
      .join(typed, Seq("file_path"), "left")
      // CandID exists? does the PSCID belong to the same candidate?
      .join(candPair.groupBy(col("CandID"))
        .agg(collect_set(col("__cand_pscid")).as("__pscids")),
        Seq("CandID"), "left")
      // BINARY visit-label membership (the P6 case-sensitive match)
      .join(broadcast(visitWindows
        .select(col("VisitLabel")).distinct()
        .withColumn("__vl_ok", lit(true))), Seq("VisitLabel"), "left")
      .withColumn("__date_ok",
        col("date_acquired").rlike("^[0-9]{4}-[0-9]{2}-[0-9]{2}$"))
      .withColumn("__subject_ok", col("PSCID").isNotNull &&
        col("CandID").isNotNull && col("VisitLabel").isNotNull)
      .withColumn("__cand_ok", col("__pscids").isNotNull &&
        array_contains(col("__pscids"), col("PSCID")) &&
        coalesce(col("__vl_ok"), lit(false)))

    // files-derived md5 set: catalog-sized, no broadcast hint (see above)
    val dupCatalog = files.select(col("md5hash")).distinct()
      .withColumn("__dup_cat", lit(true))
    val preMd5 = col("__date_ok") && col("__up_ok").isNotNull &&
      col("__sc_ok").isNotNull && col("MriScanTypeID").isNotNull &&
      col("file_type").isNotNull && col("__subject_ok") && col("__cand_ok")
    val batchDupW = Window.partitionBy(col("md5hash"))
      .orderBy(col("file_path"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val statused = checked
      .join(dupCatalog, Seq("md5hash"), "left")
      .withColumn("__pre_md5", preMd5)
      .withColumn("__ok_rank", sum(when(col("__pre_md5") &&
        !coalesce(col("__dup_cat"), lit(false)), 1).otherwise(0))
        .over(batchDupW))
      .withColumn("status",
        when(!col("__date_ok"), "invalid_date")
          .when(col("__up_ok").isNull, "invalid_upload")
          .when(col("__sc_ok").isNull, "invalid_scanner")
          .when(col("MriScanTypeID").isNull, "unknown_scan_type")
          .when(col("file_type").isNull, "unknown_file_type")
          .when(!col("__subject_ok"), "subject_id_failure")
          .when(!col("__cand_ok"), "candidate_mismatch")
          .when(coalesce(col("__dup_cat"), lit(false)) ||
            col("__ok_rank") > 1, "duplicate_md5")
          // two consumers (the session stage via `reaching` and the final
          // ladder via `withSession`): one materialization of the check
          // ladder — batch-sized (the files being registered), never the
          // catalog side of its joins
          .otherwise("registered"))
      .localCheckpoint(false)

    // get-or-create sessions for EVERY row that reaches the session stage
    // (the reference creates the visit before the md5 guard); max ids ride
    // broadcast 1-row aggregates so no driver action interrupts the plan
    val reaching = statused.filter(col("__pre_md5"))
    val maxSess = sessions
      .agg(coalesce(max(col("ID")), lit(0L)).cast("long").as("__maxs"))
    val sessKeys = reaching.select(col("CandID"), col("VisitLabel")).distinct()
      .join(sessions.select(col("CandID"), col("VisitLabel"),
        col("ID").as("__existing")), Seq("CandID", "VisitLabel"), "left")
    val newSess = graft.functions.Ordinals.withGlobalOrdinal(
      sessKeys.filter(col("__existing").isNull)
        .select(col("CandID"), col("VisitLabel")),
      Seq(col("CandID"), col("VisitLabel")), "__ord")
      .crossJoin(broadcast(maxSess))
      .select(col("CandID"), col("VisitLabel"),
        (col("__maxs") + col("__ord")).as("__created"))
    val sessResolved = sessKeys
      .join(newSess, Seq("CandID", "VisitLabel"), "left")
      .select(col("CandID"), col("VisitLabel"),
        coalesce(col("__existing"), col("__created")).as("__session_id"),
        col("__existing").isNull.as("__session_new"))

    // two consumers (`ok` and `rejected` split): materialize once
    val withSession = statused
      .join(sessResolved, Seq("CandID", "VisitLabel"), "left")
      .localCheckpoint(false)

    val maxFile = files
      .agg(coalesce(max(col("FileID")), lit(0L)).cast("long").as("__maxf"))
    val ok = graft.functions.Ordinals.withGlobalOrdinal(
      withSession.filter(col("status") === "registered"),
      Seq(col("file_path")), "__ord")
      .crossJoin(broadcast(maxFile))
      .withColumn("FileID", col("__maxf") + col("__ord"))
      .drop("__maxf")
    val rejected = withSession.filter(col("status") =!= "registered")
      .withColumn("__ord", lit(null).cast("long"))
      .withColumn("FileID", lit(null).cast("long"))

    ok.unionByName(rejected)
      .select(col("file_path"), col("status"), col("FileID"),
        when(col("status") === "registered", col("__session_id"))
          .as("SessionID"),
        when(col("status") === "registered", col("__session_new"))
          .as("session_is_new"),
        when(col("status") === "registered", col("scanner_id"))
          .as("ScannerID"),
        when(col("status") === "registered", col("MriScanTypeID"))
          .as("MriScanTypeID"),
        when(col("status") === "registered", col("file_type"))
          .as("file_type"),
        when(col("status") === "registered", col("output_type"))
          .as("OutputType"),
        when(col("status") === "registered", col("coordinate_space"))
          .as("CoordinateSpace"),
        when(col("status") === "registered", col("date_acquired"))
          .as("acquisition_date"),
        col("metadata"))
  }

  /** `parameter_file` rows for the registered files: the metadata JSON's
    * key/values (`imaging_non_minc_insertion.pl:381-394` setParameter per
    * sorted key) plus the always-set `acquisition_date` parameter
    * (`:518-520`). One map-side explode — no exchange. */
  def parameterRows(registered: DataFrame): DataFrame = {
    val reg = registered.filter(col("status") === "registered")
    // ONE pass: the always-set acquisition_date parameter rides the same
    // exploded map as the metadata keys instead of a second union branch
    // re-deriving the whole registration plan. setParameter overwrites on
    // key collision (`imaging_non_minc_insertion.pl:518-520` runs last) —
    // map_filter drops a metadata 'acquisition_date' first so the concat
    // is collision-free under any spark.sql.mapKeyDedupPolicy.
    reg.select(col("file_path"), col("FileID"),
      explode(map_concat(
        map_filter(col("metadata"), (k, _) => k =!= "acquisition_date"),
        map(lit("acquisition_date"), col("acquisition_date"))))
        .as(Seq("param_name", "param_value")))
  }
}
