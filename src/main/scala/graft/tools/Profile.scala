package graft.tools

import graft.{GraftSession, QueryProfile, SparkEntry}

/** Dev tool: profile registered queries under the bench posture and
  * harness ([[graft.QueryProfile]]: warmup, then per rep clearCache, gc,
  * noop write). Per rep it prints wall time, jobs, stages, tasks, shuffle
  * MB and TopKPerGroup drains, then one `[job]` line per job in end order
  * (Spark job id, wall ms, call site): the `plans/` job ledgers.
  * `--explain` prints each query's formatted physical plan instead of
  * running it: the `plans/` plan files.
  *
  * Data comes from `SPARK_GRAFT_SF_DIR` (required), cores from
  * `SPARK_GRAFT_CPUS`.
  * Usage: SPARK_GRAFT_SF_DIR=<sfDir> tools/run.sh graft.tools.Profile
  *   <query...> [--explain] [--reps N]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    var (explain, reps, names) = (false, 1, Vector.empty[String])
    val it = args.iterator
    while (it.hasNext) it.next() match {
      case "--explain" => explain = true
      case "--reps" if it.hasNext => reps = it.next().toInt
      case q => names :+= q
    }
    val unknown = names.filterNot(SparkEntry.queries.contains)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "")
    if (names.isEmpty || unknown.nonEmpty || sfDir.isEmpty) {
      System.err.println(
        "usage: SPARK_GRAFT_SF_DIR=<sfDir> tools/run.sh graft.tools.Profile " +
          "<query...> [--explain] [--reps N]" +
          unknown.map("\nunknown query: " + _).mkString)
      sys.exit(2)
    }
    val spark = GraftSession.local()
    if (explain) names.foreach { name =>
      println(s"== $name (sf=$sfDir, cpus=${GraftSession.cpus}) ==")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    } else {
      val profile = new QueryProfile(spark)
      QueryProfile.warmup(spark)
      for (name <- names; rep <- 1 to reps) {
        val r = profile.run(name, sfDir)
        val c = r.counts
        println(f"[profile] $name rep$rep: ${r.seconds}%.3f s " +
          s"jobs=${c.jobs} stages=${c.stages} tasks=${c.tasks} " +
          f"shuffle w ${c.shuffleWriteMb}%.2f MB r ${c.shuffleReadMb}%.2f MB " +
          s"drains=${c.drains}" +
          r.error.fold("")(e => s" FAILED: ${e.getMessage}"))
        r.jobs.zipWithIndex.foreach { case (j, i) =>
          println(f"[job] ${i + 1}%3d id=${j.id}%3d ${j.ms}%7.1f ms  ${j.site}")
        }
      }
    }
    spark.stop()
  }
}
