// Times how long `ProtocolMatcher.identify` takes to build and plan as the
// protocol table grows from 3 to 300 rows, and how long the first run of
// each takes, over the sf part table mapped to scans as q17 maps it.
// Build and run from the repository root (SF = a generated sf0.01 dir, OUT = a scratch dir):
//   mkdir -p "$OUT" && java -cp "$SPARK_HOME/jars/*" scala.tools.nsc.Main \
//     -d "$OUT" -cp "target/scala-2.13/classes:$SPARK_HOME/jars/*" \
//     plans/r22/IdentifyBuildTime.scala
//   java <the add-opens flags of tools/run.sh> -Xmx3g -Dspark.ui.enabled=false \
//     -cp "$OUT:target/scala-2.13/classes:$SPARK_HOME/jars/*" IdentifyBuildTime $SF
import org.apache.spark.sql.functions._
import graft.operators.ProtocolMatcher

object IdentifyBuildTime {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(4)
    import spark.implicits._
    val part = spark.read.parquet(s"${args(0)}/part.parquet")
    val scans = ProtocolMatcher.padScanCols(part.select(col("p_partkey").as("scan_id"),
      col("p_type").as("SeriesDescription"), (col("p_retailprice") / 1000).as("RepetitionTime"),
      col("p_size").cast("double").as("time")))
    def prots(n: Int) = ProtocolMatcher.padProtocolCols((1 to n).map(i =>
      (i, 1, 200 + i, if (i % 7 == 0) Some("brass") else None,
        Some(900.0 + i), Some(1000.0 + i))).toDF("MriProtocolID", "MriProtocolGroupID",
      "MriScanTypeID", "series_description_regex", "TR_min", "TR_max"))
    for (n <- Seq(3, 300, 3, 300)) {
      val p = prots(n)
      val build = (1 to 30).map { _ =>
        val t0 = System.nanoTime()
        val q = ProtocolMatcher.identify(scans, p).groupBy("protocol_status").count()
        q.queryExecution.executedPlan
        (System.nanoTime() - t0) / 1e6
      }.drop(2).sorted
      val t0 = System.nanoTime()
      val rows = ProtocolMatcher.identify(scans, p).groupBy("protocol_status").count().collect()
      val run = (System.nanoTime() - t0) / 1e6
      println(f"protocols=$n%4d build+plan median ${build(14)}%.1f ms (min ${build.head}%.1f)  " +
        f"first run ${run}%.0f ms  " +
        rows.map(r => r.getString(0) + "=" + r.getLong(1)).sorted.mkString(" "))
    }
    spark.stop()
  }
}
