package graft.tools

import org.apache.spark.sql.functions._

import graft.{GraftSession, QueryProfile}

/** Scale rehearsal of the perceptual-hash dedup path (the VERDICT_r09
  * item: the multimodal q-rows are 3-7-row pinned fixtures; this is the
  * ≥1M-print measurement of the SAME machinery). Generates `n`
  * synthetic 64-bit prints with the population structure media dedup
  * actually faces —
  *   - unique base prints (xxhash of the id: uniform over 2^64),
  *   - a near-dup tail (1 in 20 rows is a ≤3-bit tweak of a base print),
  *   - a DEGENERATE constant-print block (`degFrac` of rows print 0L:
  *     the blank-thumbnail population that motivated the capped bucket
  *     shed) —
  * then measures wall + shuffle for
  *   1. hammingNearDupPairs over the full set (the q294/q300 shape),
  *   2. incrementalHammingMatches of a 10% batch against the 90% index
  *      (the continuous-admission shape), and
  *   3. Dedup.bucketSizes over the prints' hammingIndex rows (the
  *      shed audit: over-cap buckets visible; the shed itself does not
  *      read it).
  *
  * Usage: tools/run.sh graft.tools.HammingScale [n] [degPct]
  */
object HammingScale {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 1000000L
    val degPct = if (args.length > 1) args(1).toInt else 5
    val spark = GraftSession.local()
    val profile = new QueryProfile(spark)

    // deterministic population: id-keyed xxhash64 prints; every 20th row
    // tweaks the previous row's print by flipping (id mod 3)+1 bits;
    // the first degPct% of rows are the constant-zero degenerate block
    val prints = spark.range(n).select(col("id"),
        when(col("id") < n * degPct / 100, lit(0L))
          .when(pmod(col("id"), lit(20)) === 19,
            // mask (id mod 7)+1 ∈ [1,7]: flips 1-3 low bits
            xxhash64(col("id") - 1)
              .bitwiseXOR(pmod(col("id"), lit(7)) + 1))
          .otherwise(xxhash64(col("id"))).as("print"))
      .localCheckpoint(true)
    println(s"[hamming-scale] n=$n degenerate=${n * degPct / 100} " +
      s"(print=0), near-dup tail ~${n / 20}")

    def timed(tag: String)(body: => Long): Unit = {
      spark.catalog.clearCache(); System.gc()
      val c0 = profile.now()
      val t0 = System.nanoTime()
      val rows = body
      val dt = (System.nanoTime() - t0) / 1e9
      val c = profile.now() - c0
      println(f"[hamming-scale] $tag%-28s ${dt}%7.2f s  rows=$rows%10d  " +
        f"shuffleW=${c.shuffleWriteBytes / 1e6}%8.1f MB  shuffleR=${c.shuffleReadBytes / 1e6}%8.1f MB")
    }

    timed("neardup_pairs_full") {
      graft.operators.Dedup.hammingNearDupPairs(prints, "id", "print",
        bands = 4, maxHamming = 3).count()
    }
    val idx = graft.operators.Dedup.hammingIndex(
      prints.where(pmod(col("id"), lit(10)) =!= 9), "id", "print", 4)
      .localCheckpoint(true)
    val batch = prints.where(pmod(col("id"), lit(10)) === 9)
      .localCheckpoint(true)
    timed("incremental_90_10") {
      graft.operators.Dedup.incrementalHammingMatches(idx, batch,
        "id", "print", bands = 4, maxHamming = 3).count()
    }
    timed("bucket_sizes_audit") {
      val sizes = graft.operators.Dedup.bucketSizes(
        graft.operators.Dedup.hammingIndex(prints, "id", "print", 4))
      val over = sizes.where(col("bucket_size") > 10000).count()
      println(s"[hamming-scale] over-cap buckets (>10000): $over")
      sizes.count()
    }
    spark.stop()
  }
}
