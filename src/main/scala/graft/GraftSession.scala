package graft

import org.apache.spark.sql.SparkSession

/** The engine posture, in one place: Bench, Verify, every tool and the
  * unit specs take their session from [[local]], so none of them can run
  * the queries without the extension surface (SQL functions, the
  * TopKPerGroup strategy, the RankFilterToTopK rewrite) or with another
  * time zone, shuffle width or timestamp encoding than the others. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else every core of the machine: benchmark
    * harnesses do not set it, and a 4-thread default once benched a
    * 32-core box at local[4]. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The JVM's session at local[cpus], one shuffle partition per core,
    * UTC, AQE on, UI off. `nanosAsLong` keeps the int64 TIMESTAMP(NANOS)
    * encoding of older events.parquet generations readable (see
    * `ChunkQueries.eventsNs`). */
  def local(cpus: Int = GraftSession.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.functions.expressions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
