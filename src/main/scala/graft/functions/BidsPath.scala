package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** BIDS filename / path construction (SURVEY.md §2.8 string family).
  *
  * Reference: `nifti_insertion_pipeline.py:464-514`
  * (`_construct_nifti_filename`): entities rendered `key-value`, joined with
  * `_` in a FIXED canonical order, `sub` first without a leading
  * underscore, scan-type suffix appended, then the `.nii(.gz)` extension;
  * the `echo` entity folds into a `magnitude{N}` suffix for fieldmap
  * magnitude scans.
  *
  * Our form takes a `MapType(String,String)` entity column so the builder
  * is one pure Column expression (no UDF).
  */
object BidsPath {

  /** The reference's canonical entity order (`nifti_insertion_pipeline.py:478-494`). */
  val entityOrder: Seq[String] = Seq(
    "sub", "ses", "task", "acq", "ce", "rec", "dir", "run", "mod",
    "echo", "flip", "inv", "mt", "part", "recording")

  /** Build the BIDS filename from an entity map + scan-type suffix + ext.
    * Map keys absent from the map are skipped; `sub` is mandatory first.
    * The magnitude-echo fold: suffix 'magnitude' + echo entity N renders as
    * 'magnitudeN' with the echo entity dropped from the name. */
  def bidsFilename(entities: Column, suffix: Column, ext: Column): Column = {
    val isMagnitude = suffix === "magnitude" && element_at(entities, "echo").isNotNull
    val effectiveSuffix =
      when(isMagnitude, concat(lit("magnitude"), element_at(entities, "echo")))
        .otherwise(suffix)
    val parts: Seq[Column] = entityOrder.map {
      case "sub" =>
        concat(lit("sub-"), element_at(entities, "sub"))
      case "echo" =>
        when(isMagnitude, lit(null))
          .otherwise(
            when(element_at(entities, "echo").isNotNull,
              concat(lit("echo-"), element_at(entities, "echo"))))
      case e =>
        when(element_at(entities, e).isNotNull,
          concat(lit(s"${e}-"), element_at(entities, e)))
    }
    concat(concat_ws("_", (parts :+ effectiveSuffix): _*), ext)
  }

  /** `\.nii(\.gz)?$` extension extraction (`imaging.py:1199-1201`). */
  def niftiExt(path: Column): Column =
    regexp_extract(path, "(\\.nii(\\.gz)?)$", 1)

  /** S11: swap local data paths to s3:// URLs
    * (`push_imaging_files_to_s3_pipeline.py:50-76`). */
  def s3PathRewrite(path: Column, localPrefix: String, bucketUrl: String): Column =
    regexp_replace(path, "^" + java.util.regex.Pattern.quote(localPrefix),
      bucketUrl)

  /** The default `PSCID_CandID_VisitLabel` patient-name decoder — the
    * reference's pluggable `get_session_config` hook
    * (`python/lib/get_session_info.py:87-105`), default LORIS convention. */
  def decodePatientName(name: Column): Column = struct(
    regexp_extract(name, "^([^_]+)_([^_]+)_(.+)$", 1).as("pscid"),
    regexp_extract(name, "^([^_]+)_([^_]+)_(.+)$", 2).as("cand_id"),
    regexp_extract(name, "^([^_]+)_([^_]+)_(.+)$", 3).as("visit_label"))
}
