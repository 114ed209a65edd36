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
  * and q61 from 2 to 1; both bounds are those measured counts. q90,
  * q144, q145 and q153 read their upload once too (a per-archive window
  * for the single-study check and the tarchive binding, one aggregation
  * for the dcmconv plan): q90 went from 10 jobs to 9, q144 from 5 to 3,
  * q145 from 4 to 3 and q153 from 7 to 2. `ProtocolMatcher.identify`
  * groups by the scan columns instead of joining them back: q90 went
  * from 9 jobs to 4, q17 from 7 to 6 and q38 from 9 to 8. The ephys
  * readers read their payload siblings task-locally and the chunk
  * manifest takes its ranges over windows instead of broadcast
  * cross-joins: q75 went from 4 jobs to 3 and q78 from 26 to 11.
  * q248 and q271, the two miner queries pinned last, carry the counts
  * `tools.Profile` measured from rep 2 on (20 and 11) before the miners
  * were rebuilt around one bucket join. q54, q180, q183, q252, q259 and
  * q294, pinned with the near-dup banding core, carry the counts
  * `tools.Profile` measured from rep 2 on before that rewrite. q161 went
  * from 9 jobs to 8 when its one-consumer vector pin went, and q78 from
  * 11 to 10 when its chunk read-back took the written frame's schema
  * instead of inferring one; both bounds are those measured counts.
  * `ProtocolMatcher.identify` and the `Eav` lookups evaluate their
  * collected dictionary in one projection instead of joining it: q17 went
  * from 5 jobs to 2, q38 from 6 to 2, q90 from 4 to 3 and q52 (pinned
  * with them) from 5 to 2. q317 and q318 read their result, and their
  * stream its staged, count and manifest dirs, with the schema each is
  * written with instead of inferring one: 94 jobs to 89. The near-dup
  * banding core sheds over-cap buckets inside one capped collect
  * aggregate instead of a count pass, a broadcast and a semi-join back
  * to the band rows: q54, q252, q294 and q296 went from 5 jobs to 3,
  * q300 from 7 to 5, q27 from 16 to 13, q180 from 18 to 15, q183 from
  * 12 to 9, q259 from 19 to 16, and q317 and q318 from 89 to 84; those
  * bounds, q296's and q300's first, are the counts `tools.Profile`
  * measured from rep 2 on.
  *
  * q307 is the exception to fixed counts: AQE sometimes runs a broadcast
  * build of its component loop that it then cancels, which only ever
  * adds jobs. It measured 36 jobs in most `Profile` runs but 37 and 38
  * inside a test JVM, so its bound is 38. A query over its bound runs
  * again, up to three runs, and passes on the first within it; an extra
  * job the plan itself runs shows in every run. */
class JobBudgetSpec extends SparkSpec {

  private val budgets = Seq(
    "q17_protocol_identification" -> 2,
    "q27_minhash_lsh" -> 13,
    "q54_simhash_neardup" -> 3,
    "q38_insertion_summary" -> 2,
    "q52_eav_pivot" -> 2,
    "q61_archive_ingest" -> 1,
    "q79_dicom_summary" -> 2,
    "q75_brainvision_ingest" -> 3,
    "q78_chunk_sink" -> 10,
    "q90_archive_loader" -> 3,
    "q109_object_store" -> 5,
    "q135_tarchive_validation" -> 25,
    "q144_series_records" -> 3,
    "q145_file_records" -> 3,
    "q152_minc_insertion" -> 49,
    "q153_dcmconv_plan" -> 2,
    "q161_hard_negatives" -> 8,
    "q180_incremental_dedup" -> 15,
    "q183_minhash_calibration" -> 9,
    "q184_collocations" -> 15,
    "q234_skew_audit" -> 12,
    "q248_triplet_mining" -> 20,
    "q252_simhash64_neardup" -> 3,
    "q254_incremental_hard_negatives" -> 22,
    "q255_incremental_triplets" -> 48,
    "q258_index_mining" -> 10,
    "q259_incremental_dedup_from_index" -> 16,
    "q271_index_takedown" -> 11,
    "q294_image_neardup" -> 3,
    "q296_audio_neardup" -> 3,
    "q300_image_incremental_neardup" -> 5,
    "q307_multimodal_assembly" -> 38,
    "q317_assembly_incremental" -> 84,
    "q318_assembly_incremental_attrition" -> 84)

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
