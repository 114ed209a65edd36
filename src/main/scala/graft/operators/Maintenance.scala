package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Catalog-maintenance tool family: the reference's one-off repair /
  * report scripts re-expressed as declarative, keyed plans.
  *
  * Sources (reference, semantics only — no code reuse):
  *  - `tools/MakeArchiveLocationRelative.pl:169-225` — strip the tarchive
  *    library dir from `tarchive.ArchiveLocation`.
  *  - `tools/database_files_update.pl:60-140` — strip the data dir from
  *    `files.File` and two `parameter_file` path parameters.
  *  - `tools/cleanupTarchives.pl:280-400` — classify filesystem DICOM
  *    archives as the database-backed original vs removable duplicates.
  *  - `tools/create_nifti_bval_bvec.pl:160-215` +
  *    `uploadNeuroDB/NeuroDB/MRI.pm:1499-1563` — materialize `.bval` /
  *    `.bvec` sidecar content from MINC header parameters.
  *  - `tools/seriesuid2fileid.pl:107-200` — per-SeriesUID insertion
  *    progress report.
  *  - `tools/get_dicom_files.pl:165-345` — select the DICOM files backing
  *    MINC files matched by patient-name / scan-type patterns.
  *  - `tools/BackPopulateSNRAndAcquisitionOrder.pl:140-160` +
  *    `uploadNeuroDB/NeuroDB/MRIProcessingUtility.pm:2136-2194` —
  *    modality-gated SNR back-population with change notifications.
  *  - `tools/cleanup_paths_of_violation_tables.pl:60-140` +
  *    `uploadNeuroDB/NeuroDB/MRI.pm:1815-1831` — re-point violation-table
  *    paths at the trashbin (or the registered file for the same series).
  *
  * Every transform here is a projection / keyed aggregation over catalog
  * tables: no windows without partition keys, no driver-side loops — the
  * reference's per-row UPDATE loops collapse into single shuffles on the
  * table's natural key, which is the shape that survives a 100 TB catalog.
  */
object Maintenance {

  /** Literal-quote a string for use inside a regexp. */
  private def rq(s: String): String = java.util.regex.Pattern.quote(s)

  /** `basename` — last path component. */
  private def base(c: Column): Column = element_at(split(c, "/"), -1)

  // -------------------------------------------------------------------
  // MakeArchiveLocationRelative.pl
  // -------------------------------------------------------------------

  /** New (relative) ArchiveLocation per tarchive row.
    *
    * The reference runs `s/$dir\/?//g` — an UNANCHORED, GLOBAL replace of
    * the library dir with optional trailing slash
    * (`MakeArchiveLocationRelative.pl:173`, `getTarchiveList`). Rows that
    * are already relative pass through unchanged; a dir string occurring
    * mid-path would also be stripped (reference quirk, kept). Implemented
    * as two literal global replaces (`dir/` first, then `dir`), which is
    * equivalent to the single alternation pass for non-self-overlapping
    * dir strings.
    *
    * Input: tarchive(TarchiveID, ArchiveLocation). One map-only pass.
    */
  def relativizeArchiveLocation(tarchive: DataFrame, libraryDir: String): DataFrame = {
    val dir = libraryDir.stripSuffix("/")
    val stripped = regexp_replace(
      regexp_replace(col("ArchiveLocation"), rq(dir + "/"), ""), rq(dir), "")
    tarchive.select(
      col("TarchiveID").as("tarchive_id"),
      col("ArchiveLocation").as("archive_location"),
      stripped.as("new_archive_location"))
  }

  // -------------------------------------------------------------------
  // database_files_update.pl
  // -------------------------------------------------------------------

  /** Strip the FIRST case-insensitive occurrence of `needle` from `c`
    * (`database_files_update.pl`'s `s/$data_dir\///i` — non-global,
    * /i). */
  private def stripFirstCi(c: Column, needle: String): Column = {
    val pos = instr(lower(c), needle.toLowerCase)
    when(pos > 0,
      concat(c.substr(lit(1), pos - lit(1)),
        c.substr(pos + lit(needle.length), length(c))))
      .otherwise(c)
  }

  /** Case-insensitive contains — MySQL's default-collation
    * `LIKE '%$data_dir%'` gate. */
  private def containsCi(c: Column, needle: String): Column =
    instr(lower(c), needle.toLowerCase) > 0

  /** Path relativization across `files.File` plus the
    * `check_pic_filename` / `tarchiveLocation` `parameter_file` rows.
    *
    * Reference (`database_files_update.pl:66-110`): three LIKE-gated
    * scans, then a per-row `s/$data_dir\///i` (first occurrence only,
    * case-insensitive — unlike MakeArchiveLocationRelative's global
    * replace) and an UPDATE per row. Here: one union of three projections,
    * no per-row round trips.
    *
    * Inputs: files(FileID, File); parameterFile(FileID, Name, Value).
    * Output: (table_name, file_id, param_name, old_path, new_path).
    */
  def relativizeDbPaths(files: DataFrame, parameterFile: DataFrame,
                        dataDir: String): DataFrame = {
    val dir = dataDir.stripSuffix("/")
    def rows(df: DataFrame, pathCol: String, table: String, param: Column) =
      df.filter(containsCi(col(pathCol), dir))
        .select(lit(table).as("table_name"), col("FileID").as("file_id"),
          param.as("param_name"), col(pathCol).as("old_path"),
          stripFirstCi(col(pathCol), dir + "/").as("new_path"))
    val fileRows = rows(files, "File", "files", lit(null).cast("string"))
    val paramRows = Seq("check_pic_filename", "tarchiveLocation").map { p =>
      rows(parameterFile.filter(col("Name") === p), "Value",
        "parameter_file", lit(p))
    }
    paramRows.foldLeft(fileRows)(_.unionByName(_))
  }

  // -------------------------------------------------------------------
  // cleanupTarchives.pl
  // -------------------------------------------------------------------

  /** Classify filesystem DICOM archives against the `tarchive` table.
    *
    * Reference (`cleanupTarchives.pl:280-400`): for each DB row, list
    * filesystem files whose basename starts with the row's normalized
    * basename (library root + `\dddd` year subdirs), then keep the file
    * whose md5 matches `md5sumArchive`'s first token AND whose path equals
    * the DB path; every other candidate is a duplicate, removed only when
    * the real file was found.
    *
    * Scale note — deliberate divergence: the reference's `/^base/i` PREFIX
    * grep would also capture archives whose names merely extend another
    * archive's basename (`...Upload-1` matching `...Upload-10.tar`), and a
    * prefix join is not an equi-join. We join on the full normalized
    * basename (case-folded) instead — the intended identity — so the
    * candidate search is one hash join instead of an all-pairs prefix
    * scan, and a cross-named archive can never be classified as someone
    * else's duplicate.
    *
    * Inputs: tarchive(ArchiveLocation, md5sumArchive) with relative
    * locations, fsFiles(fs_path, fs_md5) full paths.
    * Output: (archive_location, fs_path, status) where status ∈
    * match | remove_duplicate | keep_no_real | no_fs_match.
    */
  def tarchiveDuplicates(tarchive: DataFrame, fsFiles: DataFrame,
                         libraryDir: String): DataFrame = {
    val dir = libraryDir.stripSuffix("/")
    def norm(b: Column): Column =
      lower(regexp_replace(b.substr(lit(1), length(b) - lit(4)), "_\\d$", ""))
    val db = tarchive.select(
      col("ArchiveLocation").as("archive_location"),
      concat(lit(dir + "/"), col("ArchiveLocation")).as("db_path"),
      // md5sumArchive stores `md5sum` output: "<md5>  <path>" — the
      // reference splits on whitespace and keeps the first token
      split(col("md5sumArchive"), "\\s+").getItem(0).as("db_md5"))
      .withColumn("k", norm(base(col("db_path"))))
    val fs = fsFiles.select(col("fs_path"), col("fs_md5"))
      .withColumn("k", norm(base(col("fs_path"))))
    val joined = db.join(fs, Seq("k"), "left")
      .withColumn("is_real",
        col("fs_md5") === col("db_md5") && col("fs_path") === col("db_path"))
    // per-DB-entry "did we find the real file" — keyed aggregation, no
    // unpartitioned window
    val hasReal = joined.groupBy(col("archive_location").as("al"))
      .agg(max(when(col("is_real"), 1).otherwise(0)).as("has_real"))
    joined.join(hasReal, col("archive_location") === col("al"))
      .select(col("archive_location"), col("fs_path"),
        when(col("fs_path").isNull, "no_fs_match")
          .when(col("is_real"), "match")
          .when(col("has_real") === 1, "remove_duplicate")
          .otherwise("keep_no_real").as("status"))
  }

  // -------------------------------------------------------------------
  // create_nifti_bval_bvec.pl
  // -------------------------------------------------------------------

  /** Perl string truthiness: undef, '' and '0' are false — the gates in
    * `MRI.pm:1506` (`return undef unless $bvals`) and `MRI.pm:1552`
    * (`unless ($bvecs[0] && ...)`) skip sidecar creation for those. */
  private def perlTruthy(c: Column): Column =
    c.isNotNull && c =!= "" && c =!= "0"

  /** `.bval` / `.bvec` sidecar content for DWI acquisitions.
    *
    * Reference: files carrying an `acquisition:bvalues` parameter get a
    * `.bval` whose content is the raw header value with every `.,`
    * removed and one trailing `.` stripped (`MRI.pm:1509-1510`); files
    * whose three `acquisition:direction_{x,y,z}` values are all
    * Perl-truthy get a `.bvec` of three `\n`-terminated lines, each
    * cleaned by the global pass `s/^\"+|\.\,|\,|\"$//g` (`MRI.pm:1555`).
    * Sidecar paths come from `s/mnc$/bval|bvec/` on the MINC path
    * (`create_nifti_bval_bvec.pl:188-190` — unanchored `mnc$`, no dot).
    *
    * Inputs: files(FileID, File); params(FileID, Name, Value) EAV rows.
    * Output: one row per FileID holding an `acquisition:bvalues` row
    * (the reference's driving query), sidecar columns NULL when the
    * respective gate failed.
    */
  def dwiBvalBvec(files: DataFrame, params: DataFrame): DataFrame = {
    def param(name: String, as: String) =
      params.filter(col("Name") === name)
        .select(col("FileID"), col("Value").as(as))
    val wide = param("acquisition:bvalues", "bvals")
      .join(param("acquisition:direction_x", "dx"), Seq("FileID"), "left")
      .join(param("acquisition:direction_y", "dy"), Seq("FileID"), "left")
      .join(param("acquisition:direction_z", "dz"), Seq("FileID"), "left")
      .join(files, Seq("FileID"))
    val bvalContent = regexp_replace(
      regexp_replace(col("bvals"), "\\.,", ""), "\\.$", "")
    def cleanDir(c: Column): Column =
      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        c, "^\"+", ""), "\\.,", ""), ",", ""), "\"$", "")
    val bvecOk = perlTruthy(col("dx")) && perlTruthy(col("dy")) &&
      perlTruthy(col("dz"))
    val bvecContent = concat(cleanDir(col("dx")), lit("\n"),
      cleanDir(col("dy")), lit("\n"), cleanDir(col("dz")), lit("\n"))
    wide.select(
      col("FileID").as("file_id"), col("File").as("file"),
      when(perlTruthy(col("bvals")),
        regexp_replace(col("File"), "mnc$", "bval")).as("bval_filename"),
      when(perlTruthy(col("bvals")), bvalContent).as("bval_content"),
      when(bvecOk, regexp_replace(col("File"), "mnc$", "bvec"))
        .as("bvec_filename"),
      when(bvecOk, bvecContent).as("bvec_content"))
  }

  // -------------------------------------------------------------------
  // BackPopulateSNRAndAcquisitionOrder.pl / computeSNR
  // -------------------------------------------------------------------

  /** Modality-gated SNR back-population.
    *
    * Reference (`MRIProcessingUtility.pm:2158-2192`): per file of each
    * tarchive, if the scan type is in the configured SNR modality list,
    * run the external `noise_estimate --snr` tool and `setParameter('SNR')`
    * when it printed anything; spool a notification when an existing
    * non-empty SNR differed. Unsupported modalities spool a skip notice.
    *
    * The external estimator is not portable — callers pass the computed
    * value in `snr_value` (the fixture uses a deterministic stand-in; a
    * real deployment maps the estimator over the image chunks). The
    * operator owns the gate + update/notify semantics.
    *
    * Inputs: files(FileID, ScanType, snr_value), oldSnr(FileID, Value).
    * Output: (file_id, scan_type, snr, action) with action ∈
    * snr_set | snr_updated | snr_empty | unsupported_modality.
    */
  def backpopulateSnr(files: DataFrame, oldSnr: DataFrame,
                      modalities: Seq[String]): DataFrame = {
    val old = oldSnr.select(col("FileID"), col("Value").as("snr_old"))
    files.join(old, Seq("FileID"), "left").select(
      col("FileID").as("file_id"), col("ScanType").as("scan_type"),
      when(col("ScanType").isin(modalities: _*) && col("snr_value") =!= "",
        col("snr_value")).as("snr"),
      when(!col("ScanType").isin(modalities: _*), "unsupported_modality")
        .when(col("snr_value") === "", "snr_empty")
        .when(col("snr_old").isNotNull && col("snr_old") =!= "" &&
          col("snr_old") =!= col("snr_value"), "snr_updated")
        .otherwise("snr_set").as("action"))
  }

  // -------------------------------------------------------------------
  // cleanup_paths_of_violation_tables.pl
  // -------------------------------------------------------------------

  /** Trashbin relative path: `trashbin/<parent dir>/<basename>`
    * (`MRI.pm:1815-1831`, move suppressed). */
  private def trashbinPath(c: Column): Column = {
    val parts = split(c, "/")
    concat(lit("trashbin/"), element_at(parts, -2), lit("/"),
      element_at(parts, -1))
  }

  /** Violation-table path cleanup.
    *
    * Reference (`cleanup_paths_of_violation_tables.pl:60-140`):
    * `MRICandidateErrors.MincFile` and
    * `mri_protocol_violated_scans.minc_location` rows are re-pointed at
    * `trashbin/<parent>/<base>`; `mri_violations_log.MincFile` rows first
    * look up `files` by SeriesUID — the registered `File` path wins when
    * the series was inserted. QUIRK kept: the skip guard reads
    * `$#paths > 1`, i.e. it bails only at THREE or more matches even
    * though the warning text says "more than one"; at exactly two the
    * reference silently uses the first fetched row. MySQL returns that
    * first row in unspecified order — we pin it to the lowest FileID so
    * the result is deterministic (documented divergence).
    *
    * Inputs: three violation tables + files(FileID, File, SeriesUID).
    * Output: (table_name, row_id, old_path, new_path); new_path NULL =
    * row skipped (no UPDATE).
    */
  def violationTrashbinPaths(candErrors: DataFrame, violatedScans: DataFrame,
                             violationsLog: DataFrame,
                             files: DataFrame): DataFrame = {
    val ce = candErrors.select(lit("MRICandidateErrors").as("table_name"),
      col("ID").as("row_id"), col("MincFile").as("old_path"),
      trashbinPath(col("MincFile")).as("new_path"))
    val vs = violatedScans.select(
      lit("mri_protocol_violated_scans").as("table_name"),
      col("ID").as("row_id"), col("minc_location").as("old_path"),
      trashbinPath(col("minc_location")).as("new_path"))
    // one keyed aggregation resolves count + first-registered path
    val bySeries = files.groupBy(col("SeriesUID").as("suid"))
      .agg(count(lit(1)).as("n_files"),
        min(struct(col("FileID"), col("File"))).getField("File")
          .as("first_file"))
    val vl = violationsLog.join(bySeries,
        violationsLog("SeriesUID") === col("suid"), "left")
      .select(lit("mri_violations_log").as("table_name"),
        col("LogID").as("row_id"), col("MincFile").as("old_path"),
        when(col("n_files") >= 3, lit(null).cast("string"))
          .when(col("n_files") >= 1, col("first_file"))
          .otherwise(trashbinPath(col("MincFile"))).as("new_path"))
    ce.unionByName(vs).unionByName(vl)
  }

  // -------------------------------------------------------------------
  // mass_pic.pl / mass_nii.pl
  // -------------------------------------------------------------------

  /** QC-pic backfill selection + naming — `uploadNeuroDB/mass_pic.pl:141-192`
    * + `MRI.pm make_pics`. The reference materializes a TEMPORARY TABLE of
    * existing `check_pic_filename` rows and LEFT-OUTER-joins it; here the
    * same shape is one anti-join. The `mincpik | convert` render is an
    * external MINC tool (out of scope, like the SNR estimator); the
    * operator owns the selection, the naming convention
    * (`<base>_<FileID>_check.jpg` under `pic/<CandID>/`) and the caption
    * text (`CandID.Visit_label.ScanType`) burned into the image.
    *
    * Inputs: files(FileID, SessionID, MriScanTypeID, File, FileType);
    * params(FileID, Name, Value) EAV; sessions(ID, CandidateID,
    * Visit_label); candidates(ID, CandID); scanTypes(MriScanTypeID,
    * MriScanTypeName). */
  def massPicBackfill(files: DataFrame, params: DataFrame,
                      sessions: DataFrame, candidates: DataFrame,
                      scanTypes: DataFrame,
                      minFileId: Option[Long] = None,
                      maxFileId: Option[Long] = None): DataFrame = {
    val existing = params
      .filter(col("Name") === "check_pic_filename" && col("Value").isNotNull)
      .select(col("FileID"))
    val ranged = Seq(
      minFileId.map(v => col("FileID") >= v),
      maxFileId.map(v => col("FileID") <= v)).flatten
      .foldLeft(files.filter(col("FileType") === "mnc"))(_ filter _)
    val base = regexp_replace(element_at(split(col("File"), "/"), -1),
      "\\.mnc(\\.gz)?$", "")
    ranged.join(existing, Seq("FileID"), "left_anti")
      .join(broadcast(sessions.select(col("ID").as("SessionID"),
        col("CandidateID"), col("Visit_label"))), Seq("SessionID"))
      .join(broadcast(candidates.select(col("ID").as("CandidateID"),
        col("CandID"))), Seq("CandidateID"))
      .join(broadcast(scanTypes), Seq("MriScanTypeID"))
      .select(
        col("FileID").as("file_id"),
        col("CandID").as("cand_id"),
        col("Visit_label").as("visit_label"),
        col("MriScanTypeName").as("scan_type"),
        concat(base, lit("_"), col("FileID"), lit("_check.jpg"))
          .as("pic_basename"),
        concat(col("CandID"), lit("/"), base, lit("_"), col("FileID"),
          lit("_check.jpg")).as("check_pic_filename"),
        concat_ws(".", col("CandID"), col("Visit_label"),
          col("MriScanTypeName")).as("caption"))
  }

  /** NIfTI backfill selection + parameter rows —
    * `uploadNeuroDB/mass_nii.pl:160-207` + `MRI.pm make_nii`. MINC files
    * with no `check_nii_filename` parameter get `s/mnc$/nii/` + `.gz`
    * names; the DWI sidecar parameters reuse [[dwiBvalBvec]]'s gates
    * (`check_bval_filename`/`check_bvec_filename` only when the
    * respective content gate passed — the same Perl truthiness ladder).
    * The `mnc2nii` conversion itself is the external tool boundary. */
  def massNiiBackfill(files: DataFrame, params: DataFrame,
                      minFileId: Option[Long] = None,
                      maxFileId: Option[Long] = None): DataFrame = {
    val existing = params
      .filter(col("Name") === "check_nii_filename" && col("Value").isNotNull)
      .select(col("FileID"))
    val ranged = Seq(
      minFileId.map(v => col("FileID") >= v),
      maxFileId.map(v => col("FileID") <= v)).flatten
      .foldLeft(files.filter(col("FileType") === "mnc"))(_ filter _)
    val candidates = ranged.join(existing, Seq("FileID"), "left_anti")
    val sidecars = dwiBvalBvec(
      candidates.select(col("FileID"), col("File")), params)
      .select(col("file_id").as("FileID"),
        col("bval_filename"), col("bvec_filename"))
    candidates
      .join(sidecars, Seq("FileID"), "left")
      .select(
        col("FileID").as("file_id"), col("File").as("file"),
        concat(regexp_replace(col("File"), "mnc$", "nii"), lit(".gz"))
          .as("check_nii_filename"),
        col("bval_filename").as("check_bval_filename"),
        col("bvec_filename").as("check_bvec_filename"))
  }

  // -------------------------------------------------------------------
  // seriesuid2fileid.pl
  // -------------------------------------------------------------------

  /** Per-SeriesUID insertion progress report.
    *
    * Reference (`seriesuid2fileid.pl:107-200`): for each stdin UID, five
    * lookups — files, tarchive_series⋈tarchive, violated scans (matched
    * by UID OR patient+description), violations log, and the zspace/time
    * parameters of the found file — formatted into one report line. Each
    * `fetchrow_hashref` takes MySQL's first row in unspecified order; we
    * pin every "first" to the lowest primary key (min TarchiveID / ID /
    * LogID / FileID) for determinism. A reference bug NOT kept: when a
    * UID has no tarchive_series row, the Perl keeps the PREVIOUS
    * iteration's `$PatientName` for the violated-scans OR-match — stdin
    * order-dependent state that has no set-semantics equivalent; we treat
    * the patient as unknown (NULL, matches nothing) instead.
    *
    * Display conventions kept: empty string (not NULL) for missing
    * fields, `TarchiveID (NumberOfFiles)`, `ID (violation count)`,
    * `FileID (zspace*time)` with `time` defaulting to 1 and `zspace`
    * to 0 (Perl undef arithmetic), and the bare string `exclude` when no
    * file was inserted but the series description contains `localizer`.
    *
    * All five lookups are keyed aggregations joined back to the input
    * list — six hash joins, no windows, no per-UID round trips.
    */
  def seriesUidReport(seriesList: DataFrame, files: DataFrame,
                      tarchiveSeries: DataFrame, tarchive: DataFrame,
                      violatedScans: DataFrame, violationsLog: DataFrame,
                      params: DataFrame): DataFrame = {
    val in = seriesList.select(col("series_uid"))
    // first tarchive_series row + its tarchive, keyed by UID
    val ts = tarchiveSeries.join(tarchive, Seq("TarchiveID"))
      .groupBy(col("SeriesUID"))
      .agg(min(struct(col("TarchiveID"), col("SeriesDescription"),
        col("NumberOfFiles"), col("PatientName"))).as("t"))
      .select(col("SeriesUID").as("t_uid"), col("t.TarchiveID"),
        col("t.SeriesDescription"), col("t.NumberOfFiles"),
        col("t.PatientName"))
    // first files row, keyed by UID
    val ff = files.groupBy(col("SeriesUID"))
      .agg(min(struct(col("FileID"), col("File"))).as("f"))
      .select(col("SeriesUID").as("f_uid"), col("f.FileID"),
        col("f.File"))
    // zspace / time parameters of the found file (scalar-subquery twins)
    def p(name: String, as: String) =
      params.filter(col("Name") === name)
        .select(col("FileID").as(as + "_fid"), col("Value").as(as))
    val withT = in.join(ts, col("series_uid") === col("t_uid"), "left")
    val withF = withT.join(ff, col("series_uid") === col("f_uid"), "left")
      .join(p("zspace", "zspace"), col("FileID") === col("zspace_fid"), "left")
      .join(p("time", "tdim"), col("FileID") === col("tdim_fid"), "left")
    // violated scans: UID match OR (patient AND description) match. The
    // OR prevents a single equi-join; two keyed semi-aggregations union'd
    // then deduped by violation ID keeps both sides hash-joinable.
    val vByUid = violatedScans.join(
      in, violatedScans("SeriesUID") === in("series_uid"))
      .select(col("series_uid").as("v_uid"), col("ID"))
    val vByPat = violatedScans.as("v").join(withT.as("t"),
        col("v.PatientName") === col("t.PatientName") &&
          col("v.series_description") === col("t.SeriesDescription"))
      .select(col("t.series_uid").as("v_uid"), col("v.ID"))
    val viol = vByUid.unionByName(vByPat).distinct()
      .groupBy(col("v_uid"))
      .agg(min(col("ID")).as("v_id"), count(lit(1)).as("v_n"))
    val vlog = violationsLog.groupBy(col("SeriesUID"))
      .agg(min(struct(col("LogID"), col("Severity"))).as("l"))
      .select(col("SeriesUID").as("l_uid"), col("l.Severity").as("severity"))
    val zxt = (coalesce(col("zspace").cast("long"), lit(0L)) *
      coalesce(col("tdim").cast("long"), lit(1L)))
    withF.join(viol, col("series_uid") === col("v_uid"), "left")
      .join(vlog, col("series_uid") === col("l_uid"), "left")
      .select(
        col("series_uid"),
        coalesce(col("SeriesDescription"), lit("")).as("series_description"),
        coalesce(concat(col("TarchiveID").cast("string"), lit(" ("),
          col("NumberOfFiles").cast("string"), lit(")")), lit(""))
          .as("tarchive_id"),
        coalesce(concat(col("v_id").cast("string"), lit(" ("),
          col("v_n").cast("string"), lit(")")), lit("")).as("m_p_v_s_id"),
        coalesce(col("severity"), lit("")).as("mri_v_log"),
        when(col("FileID").isNotNull,
          concat(col("FileID").cast("string"), lit(" ("),
            zxt.cast("string"), lit(")")))
          .when(coalesce(col("SeriesDescription"), lit(""))
            .contains("localizer"), "exclude")
          .otherwise("").as("file_id"),
        coalesce(base(col("File")), lit("")).as("file_name"))
  }

  // -------------------------------------------------------------------
  // gzip_nifti_files.pl / remove_jiv_data_from_db_and_filesystem.pl /
  // ProdToConfig.pl
  // -------------------------------------------------------------------

  /** NIfTI gzip path updates — `tools/gzip_nifti_files.pl:136-207`.
    *
    * The reference updates `parameter_file` BY VALUE
    * (`UPDATE ... SET Value=? WHERE Value=?`) — every row sharing the
    * same path flips together, not just the row that was iterated. Kept:
    * the update plan is keyed on the old value, and the output emits one
    * row per PARAMETER ROW so the fan-out is visible.
    *
    * Actions: `already_gzipped` (`.nii.gz$` skip), `missing_on_fs`
    * (warn-and-skip), `gzipped` (new value = old + ".gz"; the gzip itself
    * is the one external effect, same boundary as mass_nii's mnc2nii).
    *
    * Inputs: params(FileID, Name, Value); fsFiles(path) — data-dir
    * relative paths present on disk. */
  def gzipNiftiUpdates(params: DataFrame, fsFiles: DataFrame): DataFrame = {
    val nii = params.filter(col("Name") === "check_nii_filename")
      .select(col("FileID"), col("Value"))
    val onDisk = fsFiles.select(col("path")).distinct()
      .withColumn("__fs", lit(true))
    nii.join(onDisk, col("Value") === col("path"), "left")
      .select(
        col("FileID").as("file_id"), col("Value").as("value"),
        when(col("Value").rlike(".nii.gz$"), lit(null).cast("string"))
          .when(col("__fs").isNull, lit(null).cast("string"))
          .otherwise(concat(col("Value"), lit(".gz"))).as("new_value"),
        when(col("Value").rlike(".nii.gz$"), "already_gzipped")
          .when(col("__fs").isNull, "missing_on_fs")
          .otherwise("gzipped").as("action"))
  }

  /** JIV purge footprint —
    * `tools/remove_jiv_data_from_db_and_filesystem.pl:125-160`: the
    * `jiv_path` parameter type's rows are deleted from `parameter_file`,
    * then the type itself from `parameter_type`. Empty output when no
    * `jiv_path` type exists (the script's early successful exit). The
    * first-fetched row is pinned to the lowest ParameterTypeID. */
  def removeJivFootprint(paramType: DataFrame,
                         paramFile: DataFrame): DataFrame = {
    val jiv = paramType.filter(col("Name") === "jiv_path")
      .agg(min(col("ParameterTypeID")).as("__pt"))
      .filter(col("__pt").isNotNull)
    val fileRows = paramFile.join(broadcast(jiv),
        col("ParameterTypeID") === col("__pt"), "left_semi")
      .agg(count(lit(1)).as("n_deleted"))
      .select(lit("parameter_file").as("table_name"), col("n_deleted"))
    val typeRows = jiv
      .select(lit("parameter_type").as("table_name"),
        lit(1L).as("n_deleted"))
    fileRows.join(broadcast(jiv.select(lit(true).as("__exists"))),
        lit(true), "left_semi")
      .unionByName(typeRows)
  }

  /** Prod-profile → Config migration — `tools/ProdToConfig.pl:134-186`.
    *
    * Quirks kept: `if_sge` is renamed to `is_qsub`, and a defined
    * `is_qsub` prod setting OVERRIDES `if_sge` (`:122-127`); settings
    * with no value in the profile keep the fresh-install default
    * (`kept_default`); a name with no ConfigSettings row updates nothing
    * (`no_config_row` — the reference's subquery matches zero rows
    * silently).
    *
    * Inputs: prodSettings(name, value nullable);
    * configSettings(ID, Name); config(ConfigID, Value). */
  def prodToConfig(prodSettings: DataFrame, configSettings: DataFrame,
                   config: DataFrame): DataFrame = {
    val renamed = prodSettings
      .withColumn("__final",
        when(col("name") === "if_sge", "is_qsub").otherwise(col("name")))
      .withColumn("__prec", when(col("name") === "is_qsub", 1).otherwise(0))
      .groupBy(col("__final").as("config_name"))
      .agg(max_by(col("value"), col("__prec")).as("prod_value"))
    renamed
      .join(broadcast(configSettings.select(col("ID").as("__cid"),
        col("Name").as("config_name"))), Seq("config_name"), "left")
      .join(broadcast(config.select(col("ConfigID").as("__cid"),
        col("Value").as("old_value"))), Seq("__cid"), "left")
      .select(col("config_name"), col("old_value"),
        when(col("__cid").isNull, lit(null).cast("string"))
          .otherwise(coalesce(col("prod_value"), col("old_value")))
          .as("new_value"),
        when(col("__cid").isNull, "no_config_row")
          .when(col("prod_value").isNull, "kept_default")
          .otherwise("updated").as("action"))
  }

  // -------------------------------------------------------------------
  // get_dicom_files.pl
  // -------------------------------------------------------------------

  /** DICOM file selection for extraction, with output-directory naming.
    *
    * Reference (`get_dicom_files.pl:165-345`): tarchives are selected by
    * patient-name LIKE patterns AND an EXISTS over scan-type LIKE
    * patterns; per tarchive, the DICOM files backing each matching MINC
    * file come from `files ⋈ tarchive_series` on SeriesUID with the
    * float tolerance `ABS(f.EchoTime*1000 - ts.EchoTime) < 1e-5`
    * (seconds vs ms), then `⋈ tarchive_files` on TarchiveSeriesID.
    * Each extracted set lands in
    * `<id>/<visit>/<date>/<protocol>_<minc index>_<series description>`
    * where `<protocol>_<minc index>` is regex-captured from the MINC
    * basename (`/_([^_]+_\d+).mnc$/` — unescaped dot kept) and `<id>`
    * is the candidate identifier mode (candid by default). `md5sum` rides
    * along: the reference uses it to disambiguate same-basename DICOMs.
    *
    * The EchoTime tolerance is a residual on the SeriesUID hash join, not
    * a join key — the join stays an equi-join at scale.
    */
  def dicomFileSelection(tarchive: DataFrame, session: DataFrame,
                         candidate: DataFrame, files: DataFrame,
                         scanTypes: DataFrame, tarchiveSeries: DataFrame,
                         tarchiveFiles: DataFrame,
                         namePatterns: Seq[String], typePatterns: Seq[String],
                         idMode: String = "candid"): DataFrame = {
    def likeAny(c: Column, pats: Seq[String]): Column =
      pats.map(c.like(_)).reduce(_ || _)
    val typed = files.join(broadcast(scanTypes), Seq("MriScanTypeID"))
    // EXISTS(files with matching scan type) → left-semi join
    val sel = tarchive.join(session, col("SessionID") === session("ID"))
      .drop(session("ID"))
      .join(candidate, session("CandidateID") === candidate("ID"))
      .filter(if (namePatterns.nonEmpty)
        likeAny(col("PatientName"), namePatterns) else lit(true))
      .join(typed.filter(likeAny(col("MriScanTypeName"), typePatterns))
          .select(col("TarchiveSource")),
        col("TarchiveID") === col("TarchiveSource"), "left_semi")
    val matched = typed
      .filter(likeAny(col("MriScanTypeName"), typePatterns))
      .join(tarchiveSeries.withColumnRenamed("SeriesUID", "ts_uid")
          .withColumnRenamed("EchoTime", "ts_echo"),
        col("SeriesUID") === col("ts_uid") &&
          abs(col("EchoTime") * 1000 - col("ts_echo")) < 0.00001)
      .join(tarchiveFiles, Seq("TarchiveSeriesID"))
      .select(col("TarchiveSource"), col("File"), col("FileName"),
        col("SeriesDescription"), col("md5sum"))
      .distinct()
    val id = idMode match {
      case "pscid"        => col("PSCID")
      case "pscid_candid" => concat(col("PSCID"), lit("_"), col("CandID"))
      case "candid_pscid" => concat(col("CandID"), lit("_"), col("PSCID"))
      case _              => col("CandID").cast("string")
    }
    sel.join(matched, col("TarchiveID") === col("TarchiveSource"))
      .select(col("TarchiveID").as("tarchive_id"),
        col("File").as("minc_file"), col("FileName").as("dicom_file"),
        col("md5sum"),
        concat(id, lit("/"), col("Visit_label"), lit("/"),
          col("DateAcquired"), lit("/"),
          regexp_extract(col("File"), "_([^_]+_\\d+).mnc$", 1),
          lit("_"), col("SeriesDescription")).as("out_dir"))
  }

  /** dcmconv batch plan — `tools/dcmconvTarchive.pl:100-186`.
    *
    * The script extracts one tarchive, requires EXACTLY one inner
    * `.tar.gz` study bundle (`extract_tarchive`, `:161-184` — the readdir
    * grep is `/\.tar\.gz$/`, so `.tgz` does NOT count), probes every file
    * under the study dir as DICOM via a non-empty StudyUID (0020,000D)
    * (`:114-133`), runs `dcmconv` in place on the DICOM ones, and
    * rebuilds with `dicomTar.pl <dir> <targetdir> -clobber`
    * (+`-database`/`-profile` passthrough, `:137-155`).
    *
    * Set form: one row per scanned archive; the temp extraction dir is
    * the unpredictable `tempdir` — carried as the `<tmp>` placeholder.
    *
    * @param members [[graft.sources.TarGzSource]] member rows
    *                (archive_path, nested_in, member_path, is_dir) run
    *                through [[graft.sources.DicomSource.extractHeaders]],
    *                which adds the StudyUID probe (study_uid)
    */
  def dcmconvPlan(members: DataFrame, binDir: String,
      database: Boolean, profile: Option[String]): DataFrame = {
    val isInnerTar = col("nested_in").isNull && !col("is_dir") &&
      col("member_path").rlike("\\.tar\\.gz$")
    // one aggregation per archive: the inner-tar gate, and a
    // (bundle, has StudyUID) pair per nested file for the chosen bundle
    val inBundle = filter(col("__probed"),
      p => p("nested_in") === col("__inner_tar"))
    val tarDirOf = regexp_extract(col("archive_path"), "^(.*)/[^/]+$", 1)
    members
      .groupBy(col("archive_path"))
      .agg(count(when(isInnerTar, lit(1))).as("n_inner"),
        min(when(isInnerTar, col("member_path"))).as("__inner_tar"),
        collect_list(when(col("nested_in").isNotNull && !col("is_dir"),
          struct(col("nested_in"), (col("study_uid").isNotNull &&
            col("study_uid") =!= "").as("has_uid")))).as("__probed"))
      .withColumn("n_files", size(inBundle).cast("long"))
      .withColumn("n_dicom_converted",
        size(filter(inBundle, p => p("has_uid"))).cast("long"))
      .withColumn("status",
        when(col("n_inner") === 0, "no_inner_tar")
          .when(col("n_inner") > 1, "multiple_inner_tars")
          .otherwise("rebuilt"))
      .select(
        col("archive_path"), col("status"),
        when(col("status") === "rebuilt",
          regexp_replace(element_at(split(col("__inner_tar"), "/"), -1),
            "\\.tar\\.gz$", "")).as("dcm_dir"),
        when(col("status") === "rebuilt", col("n_files")).as("n_files"),
        when(col("status") === "rebuilt", col("n_dicom_converted"))
          .as("n_dicom_converted"),
        when(col("status") === "rebuilt",
          col("n_files") - col("n_dicom_converted"))
          .as("n_non_dicom_skipped"),
        when(col("status") === "rebuilt", concat(
          lit(s"$binDir/dicom-archive/dicomTar.pl <tmp>/"),
          regexp_replace(element_at(split(col("__inner_tar"), "/"), -1),
            "\\.tar\\.gz$", ""),
          lit(" "), tarDirOf, lit(" -clobber"),
          lit(if (database) " -database" else ""),
          lit(profile.map(p => s" -profile $p").getOrElse(""))))
          .as("rebuild_command"))
  }
}
