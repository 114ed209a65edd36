package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: sets up a session one or more times, checks
  * the workload's outputs in an untimed pass, then runs timed passes over
  * the workload's queries as one closed-loop client until the time is up.
  * Everything it measures goes into one JSON file that `run.py` reads.
  *
  * Arguments, as `--key value` pairs: `data` (input tables), `work`
  * (private scratch dir), `queries` (comma-separated registry keys),
  * `seed` (permutes the query order of each pass), `seconds`, `trace`
  * (0 or 1), `scaleup` (1 to time ScaleUp on `data` after the timed
  * passes), `setup-reps`, `warmup` (the query each set-up runs once),
  * `warm-passes` (untimed passes before the timed ones), `cpus`, `out`
  * (result file). */
object Harness {
  def main(argv: Array[String]): Unit = {
    val mainAt = System.currentTimeMillis()
    val arg = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val work = arg("work")
    val queries = arg("queries").split(",").toSeq
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    val cpus = arg("cpus").toInt
    val rng = new Random(arg("seed").toLong)
    val jvmStartS =
      (mainAt - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    def progress(what: String): Unit = System.err.println(
      f"[perfbench] $what done at ${(System.currentTimeMillis() - mainAt) / 1e3}%.1f s")

    val input = arg("data")
    var spark: SparkSession = null
    val failures = mutable.LinkedHashMap.empty[String, String]
    var attempted = 0
    var failedRuns = 0
    def failed(q: String, e: Throwable): Unit = {
      failedRuns += 1
      failures.getOrElseUpdate(q, s"${e.getClass.getName}: ${e.getMessage}")
    }

    /** One query: (build ns, exec ns, process CPU ns); build and exec are
      * -1 when the query throws. */
    def runQuery(name: String): (Long, Long, Long) = {
      val sc = spark.sparkContext
      attempted += 1
      val cpu0 = cpuNs()
      val t0 = System.nanoTime()
      try {
        sc.setLocalProperty(Trace.PhaseKey, "build")
        val df = graft.SparkEntry.queries(name)(spark, input)
        val t1 = System.nanoTime()
        sc.setLocalProperty(Trace.PhaseKey, "exec")
        df.write.format("noop").mode("overwrite").save()
        val t2 = System.nanoTime()
        (t1 - t0, t2 - t1, cpuNs() - cpu0)
      } catch {
        case e: Throwable =>
          failed(name, e)
          (-1L, -1L, cpuNs() - cpu0)
      } finally sc.setLocalProperty(Trace.PhaseKey, null)
    }

    /** One pass in a seeded order; returns its wall seconds, per-query
      * (name, build, exec, cpu) and the wall-clock window of each query. */
    def runPass(): (Double, Seq[(String, Long, Long, Long)], Seq[(Long, Long)]) = {
      val t0 = System.nanoTime()
      val order = rng.shuffle(queries)
      val windows = mutable.ArrayBuffer.empty[(Long, Long)]
      val rows = order.map { q =>
        spark.catalog.clearCache()
        val w0 = System.currentTimeMillis()
        val (b, e, c) = runQuery(q)
        windows += ((w0, System.currentTimeMillis()))
        (q, b, e, c)
      }
      ((System.nanoTime() - t0) / 1e9, rows, windows.toSeq)
    }

    // set-up, repeated: session start and the workload's warm-up query
    val setupS = (1 to arg("setup-reps").toInt).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cpus)
      runQuery(arg("warmup"))
      (System.nanoTime() - t0) / 1e9
    }

    progress("set-up")
    // untimed correctness pass, which also warms the JIT for the timed
    // passes: each output to parquet for the oracle check
    queries.foreach { q =>
      attempted += 1
      try graft.SparkEntry.queries(q)(spark, input)
        .coalesce(1).write.mode("overwrite").parquet(s"$work/check/$q")
      catch { case e: Throwable => failed(q, e) }
    }

    progress("check pass")
    // untimed passes that carry the JIT past its steepest warm-up
    (1 to arg("warm-passes").toInt).foreach(_ => runPass())
    progress("warm passes")

    // timed passes; a traced run alternates untraced and traced passes so
    // that drift falls on both sides of the overhead ratio
    val passS = mutable.ArrayBuffer.empty[Double]
    val tracedPassS = mutable.ArrayBuffer.empty[Double]
    val passCpuS = mutable.ArrayBuffer.empty[Double]
    val queryMs = mutable.ArrayBuffer.empty[Double]
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    val perQuery = mutable.ArrayBuffer.empty[String]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var pass = 0
    while (System.nanoTime() < deadline || passS.isEmpty ||
        (traced && tracedPassS.isEmpty)) {
      val withTrace = traced && pass % 2 == 1
      val trace = if (withTrace) Some(new Trace(spark)) else None
      trace.foreach(_.install())
      val (wallS, rows, windows) = runPass()
      trace.foreach(_.uninstall())
      val ok = rows.filter(_._2 >= 0)
      trace match {
        case None =>
          passS += wallS
          passCpuS += rows.map(_._4).sum / 1e9
          queryMs ++= ok.map(r => (r._2 + r._3) / 1e6)
        case Some(t) =>
          tracedPassS += wallS
          layers += t.counts.toMap ++ Map(
            "queries.build_ms" -> ok.map(_._2).sum / 1e6,
            "operators.exec_ms" -> ok.map(_._3).sum / 1e6,
            "scheduler.driver_only_ms" -> t.driverOnlyMs(windows),
            "scheduler.core_busy_frac" ->
              t.counts("operators.task_run_ms") / (wallS * 1000 * cpus),
            "sources.reread_ratio" ->
              t.counts("sources.input_mb") * Trace.MB / diskBytes(t.paths).max(1L),
            "streaming.batch_p50_ms" -> median(t.batchMs.toSeq))
          perQuery ++= rows.map { case (q, b, e, _) =>
            s"""{"pass":$pass,"query":${json(q)},"build_ms":${b / 1e6},"exec_ms":${e / 1e6}}"""
          }
      }
      pass += 1
    }
    spark.stop()
    progress("timed passes")

    // the tools layer: ScaleUp doubling the inputs, timed once on the warm
    // JVM; its output is not read by the queries
    val scaleupS = if (arg("scaleup") == "1") {
      val t0 = System.nanoTime()
      graft.tools.ScaleUp.main(Array(input, s"$work/scaled", "2"))
      Seq((System.nanoTime() - t0) / 1e9)
    } else Nil

    val oracle = graft.SparkEntry.oracleSql
    val out = new StringBuilder("{")
    def field(k: String, v: String): Unit = out ++= s"${json(k)}:$v,"
    def nums(xs: Iterable[Double]): String = xs.mkString("[", ",", "]")
    field("jvm_start_s", jvmStartS.toString)
    field("setup_s", nums(setupS))
    field("scaleup_s", nums(scaleupS))
    field("pass_s", nums(passS))
    field("traced_pass_s", nums(tracedPassS))
    field("pass_cpu_s", nums(passCpuS))
    field("query_ms", nums(queryMs))
    field("peak_rss_mb", peakRssMb().toString)
    field("attempted", attempted.toString)
    field("failed_runs", failedRuns.toString)
    field("failures", failures.map { case (k, v) => s"${json(k)}:${json(v)}" }
      .mkString("{", ",", "}"))
    field("oracle", queries.flatMap(q => oracle.get(q).map(s => s"${json(q)}:${json(s)}"))
      .mkString("{", ",", "}"))
    field("layers", layers.map(_.map { case (k, v) => s"${json(k)}:$v" }
      .mkString("{", ",", "}")).mkString("[", ",", "]"))
    out ++= s""""per_query":${perQuery.mkString("[", ",", "]")}}"""
    Files.writeString(Paths.get(arg("out")), out.toString)
  }

  /** The session posture `graft.Bench` and `graft.Verify` use. */
  def session(cpus: Int): SparkSession = {
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

  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  /** VmHWM of this process: the peak resident set, in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def diskBytes(paths: Iterable[String]): Long = paths.toSeq.map { p =>
    val f = new java.io.File(new java.net.URI(p).getPath)
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else Files.walk(f.toPath).filter(Files.isRegularFile(_))
      .mapToLong(Files.size(_)).sum
  }.sum

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def json(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
