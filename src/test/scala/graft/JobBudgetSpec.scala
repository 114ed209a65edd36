package graft

/** Job-count ceilings for the queries that run the engine's cached and
  * checkpointed intermediates. A query's job count follows from its
  * plan, not from the machine's speed, so a cut turned from lazy to
  * eager, or a pin that stops being shared, shows up here as one job too
  * many.
  *
  * Each bound is the count [[QueryProfile]] measured at local[4] over
  * sf0.01 before [[Materialize]] took over these operators, except q109:
  * its upload manifest became one eager cut instead of a cache plus a
  * count, which took it from 7 jobs to 5. q79 and q61 decode their
  * fixture archive once (one aggregation for the tarchive summary, header
  * extraction that carries the member keys): q79 went from 8 jobs to 2
  * and q61 from 2 to 1; both bounds are those measured counts.
  *
  * q307 is the exception to fixed counts: AQE sometimes runs a broadcast
  * build of its component loop that it then cancels, which only ever
  * adds jobs. It measured 36 jobs in most `Profile` runs but 37 and 38
  * inside a test JVM, so its bound is 38. A query over its bound runs
  * again, up to three runs, and passes on the first within it; an extra
  * job the plan itself runs shows in every run. */
class JobBudgetSpec extends SparkSpec {

  private val budgets = Seq(
    "q27_minhash_lsh" -> 17,
    "q61_archive_ingest" -> 1,
    "q79_dicom_summary" -> 2,
    "q109_object_store" -> 5,
    "q135_tarchive_validation" -> 25,
    "q152_minc_insertion" -> 49,
    "q161_hard_negatives" -> 10,
    "q184_collocations" -> 15,
    "q234_skew_audit" -> 12,
    "q254_incremental_hard_negatives" -> 22,
    "q255_incremental_triplets" -> 48,
    "q258_index_mining" -> 10,
    "q307_multimodal_assembly" -> 38,
    "q317_assembly_incremental" -> 94,
    "q318_assembly_incremental_attrition" -> 94)

  budgets.foreach { case (query, bound) =>
    test(s"$query runs in at most $bound jobs") {
      val profile = new QueryProfile(spark)
      def run() = {
        val r = profile.run(query, sf001)
        r.error.foreach(e => throw e)
        r
      }
      try {
        val runs = LazyList.fill(3)(run())
        val best = runs.find(_.counts.jobs <= bound)
          .getOrElse(runs.minBy(_.counts.jobs))
        assert(best.counts.jobs <= bound, s"${best.counts.jobs} jobs:\n" +
          best.jobs.map(j => s"${j.id} ${j.site}").mkString("\n"))
      } finally spark.sparkContext.removeSparkListener(profile)
    }
  }
}
