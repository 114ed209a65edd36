package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.binaryfile.BinaryFileFormat

/** The archive ingest queries decode their fixture archive once: the
  * final adaptive plan of each holds exactly one `binaryFile` scan. A
  * self-join or a broadcast guard over the member rows plans the scan,
  * and the untar behind it, a second time. */
class ArchiveScanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  Seq("q61_archive_ingest", "q79_dicom_summary").foreach { query =>
    test(s"$query scans its archive once") {
      val df = graft.SparkEntry.queries(query)(spark, sf001)
      df.collect()
      val plan = df.queryExecution.executedPlan
      val scans = collect(plan) {
        case s: FileSourceScanExec
            if s.relation.fileFormat.isInstanceOf[BinaryFileFormat] => s
      }
      assert(scans.size == 1, plan.toString)
    }
  }
}
