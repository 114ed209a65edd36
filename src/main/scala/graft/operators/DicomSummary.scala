package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** DICOM study summarization (SURVEY.md §3.3): the batch dataflow form of
  * `dicom-archive/DICOM/DCMSUM.pm:46-87` and
  * `python/loris_dicom_importer/src/loris_dicom_importer/summary_get.py:21-63`.
  *
  * Input is the `dicom_files` fixture schema (FIXTURES.md §1): one row per
  * file with the ~26 extracted header fields. Outputs mirror the reference's
  * three catalog tables (`tarchive`, `tarchive_series`, `tarchive_files`).
  *
  * Semantics:
  *  - modality gate (`summary_get.py:47-49`): files with modality ∉ {MR, PT}
  *    or is_dicom=false are "other files" (NonDicomFileCount).
  *  - acquisition collapse (A1, `DCMSUM.pm:651-677`): group per-file rows by
  *    the full series-level tuple; NumberOfFiles = group count (the Python
  *    rewrite's ground-truth semantics, SURVEY §2.4 note).
  *  - fill_header (`DCMSUM.pm:830-853`): study-level fields come from the
  *    first valid DICOM row under the canonical sort
  *    (series_number, instance_number, echo_number — `summary_write.py:175-193`)
  *    via a single `min_by(struct)` — no driver-side loop.
  *  - age at scan (`summary_write.py:147-163`): raw component differences,
  *    `years + months/12 + days/365`, rounded to 2 decimals.
  *
  * Scale posture: `tarchive` groups per archive (`archive_path`) and the
  * series and file tables per study (`study_uid`) — at 100 TB with
  * millions of archives each job parallelizes by its key with one
  * shuffle; series IDs are assigned per-study (partitioned window), never
  * through a global unpartitioned window.
  */
object DicomSummary {

  /** Series-level identity columns (the frozen-dataclass key of
    * `DicomStudyDicomSeries`, `summary_type.py:97-105`). */
  val seriesKey: Seq[String] = Seq(
    "series_number", "series_uid", "series_description", "sequence_name",
    "echo_time", "repetition_time", "inversion_time", "slice_thickness",
    "phase_encoding", "modality"
  )

  private def isDicomScan: Column =
    col("is_dicom") && col("modality").isin("MR", "PT")

  /** A3 (`DCMSUM.pm:869-896` `confirm_single_study`) as a row predicate:
    * true when `nStudies` is 1, otherwise raises at execution time. */
  private def singleStudy(nStudies: Column): Column =
    when(nStudies === 1, lit(true))
      .otherwise(raise_error(concat(
        lit("Expected exactly one distinct study_uid, found "),
        nStudies)).cast("boolean"))

  /** A3 over a whole input that is one archive's files: a broadcast 1-row
    * distinct-count whose [[singleStudy]] predicate raises at execution
    * time when violated. It runs no driver-side action, but it is not
    * free: the broadcast side evaluates `files` a second time, with its
    * own decode and the two exchanges of the distinct count (in q79 it
    * cost three jobs and a second archive decode). [[tarchive]] asserts
    * A3 inside its own aggregation instead; only callers without one use
    * this. */
  def withSingleStudyGuard(files: DataFrame): DataFrame = {
    val n = files.agg(countDistinct(col("study_uid")).as("__n_studies"))
    files.crossJoin(broadcast(n))
      .filter(singleStudy(col("__n_studies")))
      .drop("__n_studies")
  }

  /** `tarchive_series`: one row per acquisition with NumberOfFiles,
    * TarchiveSeriesID assigned per-study by the canonical series sort
    * (series_number, sequence_name — `summary_write.py:185-193`). */
  def series(files: DataFrame): DataFrame = {
    val keyCols = seriesKey.map(col)
    val idWindow = Window.partitionBy(col("study_uid"))
      .orderBy(asc_nulls_last("series_number"), asc_nulls_last("sequence_name"),
        asc_nulls_last("echo_time"), asc_nulls_last("series_uid"))
    files.filter(isDicomScan)
      .groupBy(col("study_uid") +: keyCols: _*)
      .agg(count(lit(1)).cast("int").as("NumberOfFiles"))
      .withColumn("TarchiveSeriesID", row_number().over(idWindow).cast("long"))
      .select(
        col("TarchiveSeriesID"), col("study_uid"),
        col("series_number").as("SeriesNumber"),
        col("series_description").as("SeriesDescription"),
        col("sequence_name").as("SequenceName"),
        col("echo_time").as("EchoTime"),
        col("repetition_time").as("RepetitionTime"),
        col("inversion_time").as("InversionTime"),
        col("slice_thickness").as("SliceThickness"),
        col("phase_encoding").as("PhaseEncoding"),
        col("NumberOfFiles"),
        col("series_uid").as("SeriesUID"),
        col("modality").as("Modality")
      )
  }

  /** `tarchive_files`: per-file rows joined (null-safely) to their series id
    * (`DCMSUM.pm:376-397`). */
  def files(filesDf: DataFrame, seriesDf: DataFrame): DataFrame = {
    val s = seriesDf.select(
      col("TarchiveSeriesID"), col("study_uid").as("s_study_uid"),
      col("SeriesNumber").as("s_series_number"),
      col("SeriesUID").as("s_series_uid"),
      col("EchoTime").as("s_echo_time"),
      col("SequenceName").as("s_sequence_name"))
    val idWindow = Window.partitionBy(col("study_uid"))
      .orderBy(asc_nulls_last("series_number"), asc_nulls_last("instance_number"),
        asc_nulls_last("echo_number"), asc("file_path"))
    filesDf.filter(isDicomScan)
      .join(broadcast(s),
        col("study_uid") === col("s_study_uid") &&
          (col("series_number") <=> col("s_series_number")) &&
          (col("series_uid") <=> col("s_series_uid")) &&
          (col("echo_time") <=> col("s_echo_time")) &&
          (col("sequence_name") <=> col("s_sequence_name")),
        "left")
      .withColumn("TarchiveFileID", row_number().over(idWindow).cast("long"))
      .select(
        col("TarchiveFileID"), col("study_uid"),
        col("series_number").as("SeriesNumber"),
        col("instance_number").as("FileNumber"),
        col("echo_number").as("EchoNumber"),
        col("series_description").as("SeriesDescription"),
        col("md5").as("Md5Sum"),
        element_at(split(col("file_path"), "/"), -1).as("FileName"),
        col("TarchiveSeriesID")
      )
  }

  /** Age-at-scan: raw `years + months/12 + days/365` (components may be
    * negative — the reference does no borrowing), rounded to 2 decimals
    * (`summary_write.py:154-160`). */
  def ageAtScan(scanDate: Column, birthDate: Column): Column = {
    // exact-integer path: years + months/12 + days/365 == N/4380 with
    // N = 4380y + 365m + 12d integral, so round-half-up to cents is
    // floor((N*100 + 2190)/4380) — identical in any engine (Spark `round`
    // decimalizes the double via shortest-string while DuckDB rounds the
    // binary double, so the naive form splits on x.xx5 halfway values)
    val n = (lit(4380L) * (year(scanDate) - year(birthDate)) +
      lit(365L) * (month(scanDate) - month(birthDate)) +
      lit(12L) * (dayofmonth(scanDate) - dayofmonth(birthDate))).cast("long")
    floor((n * 100L + 2190L) / lit(4380.0)).cast("double") / 100.0
  }

  /** `tarchive`: one summary row per archive (`archive_path`) — counts
    * (A2), first-valid-DICOM header fields (fill_header), age at scan.
    * `DicomArchiveID` is the archive's study uid; the same aggregation
    * asserts A3 (exactly one distinct non-null `study_uid` per archive),
    * so non-DICOM members need no study key and the input is read once.
    * The distinct counts are `size(collect_set(..))`, which needs no
    * distinct-aggregate rewrite and no second exchange. */
  def tarchive(filesDf: DataFrame): DataFrame = {
    // canonical sort key for "first valid DICOM row"
    val sortKey = struct(
      coalesce(col("series_number"), lit(Int.MaxValue)),
      coalesce(col("instance_number"), lit(Int.MaxValue)),
      coalesce(col("echo_number"), lit(Int.MaxValue)),
      col("file_path"))
    val headerStruct = struct(
      col("patient_name"), col("patient_id"), col("patient_dob"),
      col("patient_sex"), col("study_date"), col("scanner_manufacturer"),
      col("scanner_model"), col("scanner_serial"), col("scanner_software"),
      col("institution"))
    filesDf
      .groupBy(col("archive_path"))
      .agg(
        collect_set(col("study_uid")).as("__uids"),
        count(lit(1)).cast("int").as("TotalFileCount"),
        count(when(isDicomScan, 1)).cast("int").as("DicomFileCount"),
        count(when(!isDicomScan, 1)).cast("int").as("NonDicomFileCount"),
        size(collect_set(
          when(isDicomScan, struct(seriesKey.map(col): _*))))
          .as("AcquisitionCount"),
        min_by(headerStruct, when(isDicomScan, sortKey)).as("hdr"),
        md5(concat_ws(",", sort_array(collect_list(when(isDicomScan, col("md5"))))))
          .as("md5sumDicomOnly")
      )
      .filter(singleStudy(size(col("__uids"))))
      .select(
        col("__uids")(0).as("DicomArchiveID"),
        col("hdr.patient_name").as("PatientName"),
        col("hdr.patient_id").as("PatientID"),
        col("hdr.patient_dob").as("PatientDoB"),
        col("hdr.patient_sex").as("PatientSex"),
        col("hdr.study_date").as("DateAcquired"),
        col("hdr.scanner_manufacturer").as("ScannerManufacturer"),
        col("hdr.scanner_model").as("ScannerModel"),
        col("hdr.scanner_serial").as("ScannerSerialNumber"),
        col("hdr.scanner_software").as("ScannerSoftwareVersion"),
        col("hdr.institution").as("CenterName"),
        col("AcquisitionCount"), col("NonDicomFileCount"), col("DicomFileCount"),
        col("TotalFileCount"), col("md5sumDicomOnly"),
        ageAtScan(col("hdr.study_date"), col("hdr.patient_dob")).as("AgeAtScan")
      )
  }

  /** Full vertical: scan rows → (tarchive, tarchive_series, tarchive_files). */
  def summarize(filesDf: DataFrame): DicomStudyTables = {
    val s = series(filesDf)
    DicomStudyTables(tarchive(filesDf), s, files(filesDf, s))
  }

  /** The `dicomSummary.pl -comparedir` / `-dbcompare` diff report
    * (`dicom-archive/dicomSummary.pl:106-107,229-254`): the reference
    * renders two summaries (a directory's and another directory's or the
    * DB-archived one, `read_db_metadata`) to temp files and shells out to
    * `sdiff`/`diff -q`. Here the diff is computed over the summary
    * RELATION itself: a null-safe full-outer join on the summary key and
    * a long-form mismatch projection — one row per (key, field) with
    * `status` ∈ `missing_left` (right-only key — the `>` sdiff lines),
    * `missing_right` (`<` lines), `field_diff` (`|` lines, both values
    * shown), `match` (only with `includeMatches = true`, the full sdiff
    * listing; the default is `diff`'s differences-only view). Values are
    * compared AS STRINGS — the rendered meta-file line is what the
    * reference diffs, so "1.0" vs "1" is a difference here too.
    *
    * Scale posture: one equi-join on the summary key (summaries are
    * acquisition-level — tiny next to the file tables) and a
    * fields-per-row explode that multiplies rows AFTER the join; no
    * window, no second pass. */
  def compareSummaries(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      compareCols: Seq[String],
      includeMatches: Boolean = false
  ): DataFrame = {
    val l = left.select(
      keyCols.map(c => col(c).as(s"__lk_$c")) ++
        compareCols.map(c => col(c).cast("string").as(s"__l_$c")) :+
        lit(true).as("__lp"): _*)
    val r = right.select(
      keyCols.map(c => col(c).as(s"__rk_$c")) ++
        compareCols.map(c => col(c).cast("string").as(s"__r_$c")) :+
        lit(true).as("__rp"): _*)
    val cond = keyCols.map(c => col(s"__lk_$c") <=> col(s"__rk_$c"))
      .reduce(_ && _)
    val keyOut = keyCols.map(c =>
      coalesce(col(s"__lk_$c"), col(s"__rk_$c")).as(c))
    val fields = array(compareCols.map(c => struct(
      lit(c).as("field"), col(s"__l_$c").as("left_value"),
      col(s"__r_$c").as("right_value"))): _*)
    val status =
      when(col("__lp").isNull, lit("missing_left"))
        .when(col("__rp").isNull, lit("missing_right"))
        .when(!(col("field.left_value") <=> col("field.right_value")),
          lit("field_diff"))
        .otherwise(lit("match"))
    val long = l.join(r, cond, "full_outer")
      .select(keyOut ++ Seq(col("__lp"), col("__rp"),
        explode(fields).as("field")): _*)
      .select(keyCols.map(col) ++ Seq(col("field.field").as("field"),
        col("field.left_value").as("left_value"),
        col("field.right_value").as("right_value"),
        status.as("status")): _*)
    if (includeMatches) long else long.filter(col("status") =!= "match")
  }
}

case class DicomStudyTables(
    tarchive: DataFrame,
    series: DataFrame,
    files: DataFrame
)
