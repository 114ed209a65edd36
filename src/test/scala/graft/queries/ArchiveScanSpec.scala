package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.binaryfile.BinaryFileFormat

/** The DICOM upload and ephys ingest queries decode their fixture once:
  * the final adaptive plan of each holds exactly one `binaryFile` scan
  * per input. A self-join or a broadcast guard over the decoded rows
  * plans the scan, and the decode behind it, a second time.
  *
  * q78 holds two: its manifest merges the ranges of the full-resolution
  * and the downsampled series, each planned from its own read of the
  * recording. */
class ArchiveScanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  Seq(
    "archive" -> Seq(
      "q61_archive_ingest" -> 1,
      "q79_dicom_summary" -> 1,
      "q90_archive_loader" -> 1,
      "q144_series_records" -> 1,
      "q145_file_records" -> 1,
      "q153_dcmconv_plan" -> 1),
    // q112 audits two fixture directories, one scan each
    "recording" -> Seq(
      "q62_edf_ingest" -> 1,
      "q75_brainvision_ingest" -> 1,
      "q78_chunk_sink" -> 2,
      "q101_ctf_ingest" -> 1,
      "q102_eeglab_ingest" -> 1,
      "q112_ingest_audit" -> 2,
      "q113_eeglab_v73_ingest" -> 1)
  ).foreach { case (input, queries) => queries.foreach { case (query, n) =>
    test(s"$query scans its $input ${if (n == 1) "once" else s"$n times"}") {
      val df = graft.SparkEntry.queries(query)(spark, sf001)
      df.collect()
      val plan = df.queryExecution.executedPlan
      val scans = collect(plan) {
        case s: FileSourceScanExec
            if s.relation.fileFormat.isInstanceOf[BinaryFileFormat] => s
      }
      assert(scans.size == n, plan.toString)
    }
  }}
}
