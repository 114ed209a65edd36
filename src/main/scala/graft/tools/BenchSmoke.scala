package graft.tools

import graft.{GraftSession, QueryProfile, SparkEntry}

/** Per-query bench regression smoke: runs every registered query once
  * (after the same warmup as [[graft.Bench]]) and compares against the
  * committed baseline `tools/bench_baseline.json`, failing (exit 1) on any
  * query slower than `ratio`× its baseline — so a new round's additions
  * cannot silently regress a previous round's performance wins.
  *
  * Usage: `tools/run.sh graft.tools.BenchSmoke [sfDir] [ratio]`
  * Queries faster than `FloorSec` in baseline are held to
  * `ratio × FloorSec` instead (sub-300ms timings are scheduler noise),
  * and a first-pass miss RE-RUNS the query, taking the best of two — at
  * the ~1 s scale single-shot timings on a shared box drift 2× from GC
  * and page-cache state, and a real regression reproduces while noise
  * does not. New queries absent from the baseline report as `new` and
  * never fail.
  *
  * BASELINE METHODOLOGY (round 4): `tools/bench_baseline.json` is the
  * per-query best of two FULL `sbt "runMain graft.Bench"` runs at sf0.1 —
  * the driver's exact harness (forked sbt JVM, -Xmx32g, local[32],
  * lexical query order, full-suite heap state) — so the committed numbers
  * and the driver's scored numbers measure the same thing. Refresh the
  * same way after a verified win (two sbt Bench runs, min per query).
  *
  * SEPARATE SMOKE CALIBRATION (round 10, closes the r9 harness-gap
  * note): this tool's own timings come from a direct `java -cp` JVM and
  * repeatably measure a stable five-query set ~1.7× the sbt minima at
  * byte-identical shuffle — a warmup/JIT harness gap, not a plan delta —
  * so comparing direct-JVM timings against the sbt baseline cries wolf
  * on an unchanged tree. The timing compare therefore uses this tool's
  * OWN calibration file `tools/bench_smoke_baseline.json` (written by
  * `--write` from the SAME direct-JVM harness; `--write` no longer
  * touches the sbt baseline), falling back to the sbt baseline only
  * when the smoke calibration is absent. The shuffle baseline stays
  * shared — shuffle bytes are run-mode-independent.
  */
object BenchSmoke {
  // sub-0.5s baselines are scheduler/GC noise at local[8] (the committed
  // baseline is best-of-two at local[32]); the driver's 2x gate at
  // local[32] still covers the fast queries
  val FloorSec = 0.5

  def main(args: Array[String]): Unit = {
    // flags and positionals can arrive in any order ("--write" alone must
    // not be consumed as sfDir)
    val (flags, positional) = args.partition(_.startsWith("--"))
    val sfDir = positional.headOption.getOrElse("/root/testdata/sf0.1")
    val ratio = positional.drop(1).headOption.map(_.toDouble).getOrElse(1.5)
    val write = flags.contains("--write")
    // shuffle volumes are run-mode-independent (unlike timings, which the
    // baseline methodology requires from the sbt harness), so the shuffle
    // baseline can be refreshed alone from this direct-JVM tool
    val writeShuffleOnly = flags.contains("--write-shuffle")
    // the sbt-harness baseline (driver methodology) — FALLBACK only
    val sbtBaselinePath =
      java.nio.file.Paths.get("tools/bench_baseline.json")
    // this tool's own direct-JVM calibration — what --write writes and
    // what the timing compare prefers
    val baselinePath =
      java.nio.file.Paths.get("tools/bench_smoke_baseline.json")
    val shuffleBaselinePath =
      java.nio.file.Paths.get("tools/bench_shuffle_baseline.json")

    val spark = GraftSession.local()
    val profile = new QueryProfile(spark)
    QueryProfile.warmup(spark)
    /** (seconds, shuffle write MB). */
    def runFull(name: String): (Double, Double) = {
      val r = profile.run(name, sfDir)
      r.error.foreach(e => throw e)
      (r.seconds, r.counts.shuffleWriteMb)
    }
    def runOnce(name: String): Double = runFull(name)._1
    val measured = SparkEntry.queries.keys.toSeq.sorted
      .map(n => n -> runFull(n))
    val results = measured.map { case (n, (sec, _)) => n -> sec }
    val shuffleMb = measured.map { case (n, (_, mb)) => n -> mb }.toMap

    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    if (write || writeShuffleOnly) {
      if (write) {
        val json = results.map { case (k, v) =>
          s""""$k":${fmt(v)}"""
        }.mkString("{\n  ", ",\n  ", "\n}")
        java.nio.file.Files.write(baselinePath, json.getBytes("UTF-8"))
      }
      val shufJson = measured.map { case (k, (_, mb)) =>
        s""""$k":${fmt(mb)}"""
      }.mkString("{\n  ", ",\n  ", "\n}")
      java.nio.file.Files.write(shuffleBaselinePath,
        shufJson.getBytes("UTF-8"))
      println(s"[benchsmoke] baseline written: ${results.length} queries" +
        (if (write) " (timings + shuffle)" else " (shuffle only)"))
    } else {
      def loadBaseline(p: java.nio.file.Path): Map[String, Double] =
        if (!java.nio.file.Files.exists(p)) Map.empty
        else {
          val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          // tolerate both separators: --write emits `"k":v`, the
          // sbt-harness baseline refresh emits `"k": v`
          """"([^"]+)":\s*([0-9.]+)""".r.findAllMatchIn(txt)
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
        }
      val smoke = loadBaseline(baselinePath)
      val baseline: Map[String, Double] =
        if (smoke.nonEmpty) smoke else loadBaseline(sbtBaselinePath)
      if (smoke.isEmpty)
        println("[benchsmoke] no smoke calibration " +
          "(tools/bench_smoke_baseline.json) — falling back to the sbt " +
          "baseline; expect the documented direct-JVM warmup gap on " +
          "sub-4s queries (run --write on a verified-green tree to " +
          "calibrate)")
      var failures = 0
      results.foreach { case (name, t1) =>
        baseline.get(name) match {
          case None => println(f"[benchsmoke] NEW        $name $t1%.2fs")
          case Some(b) =>
            val bound = math.max(b, FloorSec) * ratio
            if (t1 > bound) {
              // single-shot noise vs real regression: best of three decides
              val t = math.min(t1, math.min(runOnce(name), runOnce(name)))
              if (t > bound) {
                failures += 1
                println(f"[benchsmoke] REGRESSION $name $t%.2fs > " +
                  f"$bound%.2fs (baseline $b%.2fs x$ratio)")
              } else {
                println(f"[benchsmoke] noise      $name $t1%.2fs -> $t%.2fs")
              }
            }
        }
      }
      // shuffle-volume gate: unlike wall time, shuffle bytes are nearly
      // deterministic, so a widened exchange is a REAL plan change even
      // when the clock hides it at sf0.1. Bound: 1.5× baseline with an
      // 8 MB absolute floor (compression/AQE jitter on small exchanges).
      val shuffleBaseline: Map[String, Double] =
        if (!java.nio.file.Files.exists(shuffleBaselinePath)) Map.empty
        else {
          val txt = new String(
            java.nio.file.Files.readAllBytes(shuffleBaselinePath), "UTF-8")
          """"([^"]+)":\s*([0-9.]+)""".r.findAllMatchIn(txt)
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
        }
      var shuffleFailures = 0
      shuffleMb.toSeq.sortBy(_._1).foreach { case (name, mb) =>
        shuffleBaseline.get(name).foreach { b =>
          val bound = math.max(b * 1.5, b + 8.0)
          if (mb > bound) {
            shuffleFailures += 1
            println(f"[benchsmoke] SHUFFLE-REGRESSION $name $mb%.1f MB > " +
              f"$bound%.1f MB (baseline $b%.1f MB)")
          }
        }
      }
      val total = results.map(_._2).sum
      println(f"[benchsmoke] total ${total}%.1fs, ${results.length} queries, " +
        s"$failures regression(s), $shuffleFailures shuffle regression(s)")
      failures += shuffleFailures
      spark.stop()
      if (failures > 0) sys.exit(1)
    }
    spark.stop()
  }
}
