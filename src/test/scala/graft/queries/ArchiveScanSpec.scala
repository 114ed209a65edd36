package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.binaryfile.BinaryFileFormat

/** The DICOM upload queries decode their fixture archive once: the
  * final adaptive plan of each holds exactly one `binaryFile` scan. A
  * self-join or a broadcast guard over the member rows plans the scan,
  * and the untar behind it, a second time.
  *
  * q90 holds two: `ProtocolMatcher.identify`, shared with the analytics
  * queries, joins its scan rows back to their matches. */
class ArchiveScanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  Seq(
    "q61_archive_ingest" -> 1,
    "q79_dicom_summary" -> 1,
    "q90_archive_loader" -> 2,
    "q144_series_records" -> 1,
    "q145_file_records" -> 1,
    "q153_dcmconv_plan" -> 1
  ).foreach { case (query, n) =>
    test(s"$query scans its archive ${if (n == 1) "once" else s"$n times"}") {
      val df = graft.SparkEntry.queries(query)(spark, sf001)
      df.collect()
      val plan = df.queryExecution.executedPlan
      val scans = collect(plan) {
        case s: FileSourceScanExec
            if s.relation.fileFormat.isInstanceOf[BinaryFileFormat] => s
      }
      assert(scans.size == n, plan.toString)
    }
  }
}
