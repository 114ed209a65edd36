package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Date parsing helpers (SURVEY.md §2.8 date family).
  *
  * Reference patterns: DICOM `YYYYMMDD` (`DCMSUM.pm` date handling),
  * multi-format date fallback
  * (`python/loris_bids_utils/.../participants.py:38-51` tries several
  * formats),
  * ISO acq_time (`scans.py:17-33`).
  */
object Dates {

  /** Try several datetime formats in order; first successful parse wins
    * (NULL if none). Spark's try_to_timestamp returns NULL instead of
    * failing under ANSI. */
  def multiFormatDate(c: Column, formats: Seq[String]): Column =
    coalesce(formats.map(f => try_to_timestamp(c, lit(f)).cast("date")): _*)

  /** DICOM `YYYYMMDD` date. */
  def dicomDate(c: Column): Column = try_to_timestamp(c, lit("yyyyMMdd")).cast("date")
}
