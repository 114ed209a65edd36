package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Electrophysiology time-series chunking (SURVEY.md §2.9 T1-T4), the batch
  * dataflow form of
  * `python/loris_ephys_chunker/src/loris_ephys_chunker/chunking.py`.
  *
  * Input long format (FIXTURES.md §10): one row per sample —
  * `(channel, sample_index, value)` where `channel` is any set of identity
  * columns reduced to one string/long key by the caller.
  *
  * Semantics vs reference:
  *  - T1 chunking (`chunking.py:19-37`): fixed `chunkSize` samples per
  *    chunk, last chunk edge-padded (replicate last value);
  *    `validSamples` = real sample count of the last chunk
  *    (`chunking.py:205-208`).
  *  - T2 pyramid (`chunking.py:48-72`): `ceil(log_chunkSize(n))` levels.
  *    We compute the level count with pure integer arithmetic (the smallest
  *    L with chunkSize^L >= n) — no float log, so the plan is reproducible
  *    on any engine. Downsampling itself is bucket-averaging, a documented
  *    approximation of the reference's Fourier `signal.resample`
  *    (SURVEY §2.9). Levels collapsing to the same output size are deduped
  *    (`chunking.py:65-72`).
  *  - T3 ranges (`chunking.py:178-196`): per-channel min/max + global.
  *  - T4 manifest merge (`chunking.py:96-131`): union by channel index with
  *    new-side precedence, seriesRange widened.
  *
  * Scale posture: every stage is a single groupBy on (channel, bucket) —
  * at 100 TB the sample table partitions by channel and each shuffle key
  * is bounded by chunkSize rows; no per-channel driver loops, no collect.
  */
object EphysChunker {

  /** Smallest L >= 0 with chunkSize^L >= n (integer `ceil(log_cs(n))`).
    * The CASE chain covers every representable power of chunkSize; inputs
    * beyond the largest representable power get its level + 1 (correct for
    * all Long n, since the next power exceeds Long.MaxValue >= n). */
  def levelCount(n: Column, chunkSize: Int): Column = {
    require(chunkSize > 1)
    val bounds = Iterator.iterate(1L)(p =>
      if (p > Long.MaxValue / chunkSize) -1L else p * chunkSize)
      .takeWhile(_ > 0).toSeq // 1, cs, cs^2, ... up to the Long limit
    bounds.zipWithIndex.drop(1)
      .foldLeft(when(n <= 1, 0)) { case (acc, (bound, l)) =>
        acc.when(n <= lit(bound), l)
      }
      .otherwise(bounds.length)
  }

  /** T1 chunk statistics: one row per (channel, chunk_index) with the real
    * (unpadded) sample count, min/max, and last-chunk flag. */
  def chunkStats(samples: DataFrame, chunkSize: Int): DataFrame =
    samples
      .withColumn("chunk_index", expr(s"sample_index div $chunkSize"))
      .groupBy(col("channel"), col("chunk_index"))
      .agg(
        count(lit(1)).cast("int").as("n_samples"),
        min(col("value")).as("chunk_min"),
        max(col("value")).as("chunk_max"))
      .withColumn("is_last",
        col("chunk_index") === max(col("chunk_index"))
          .over(Window.partitionBy(col("channel"))))
      .withColumn("valid_samples",
        when(col("is_last"), col("n_samples")).otherwise(lit(chunkSize)))

  /** T1 chunk arrays: ordered values per chunk, last chunk edge-padded to
    * exactly chunkSize (replicating the final value, `np.pad(..,'edge')`). */
  def chunkArrays(samples: DataFrame, chunkSize: Int): DataFrame =
    samples
      .withColumn("chunk_index", expr(s"sample_index div $chunkSize"))
      .groupBy(col("channel"), col("chunk_index"))
      .agg(
        transform(
          array_sort(collect_list(struct(col("sample_index"), col("value")))),
          s => s.getField("value")).as("values"),
        count(lit(1)).cast("int").as("valid_samples"))
      .withColumn("values",
        when(size(col("values")) < chunkSize,
          concat(col("values"),
            array_repeat(element_at(col("values"), -1),
              lit(chunkSize) - size(col("values")))))
          .otherwise(col("values")))

  /** T2 pyramid plan: per channel, the distinct-size downsampling levels —
    * (channel, n_samples, n_levels, level, bucket_size, target_size) with
    * level 0 = full resolution and one row per distinct target size
    * (smallest level wins a size collision). All integer arithmetic. */
  def pyramidPlan(samples: DataFrame, chunkSize: Int): DataFrame = {
    val perChannel = samples.groupBy(col("channel"))
      .agg(count(lit(1)).as("n_samples"))
      .withColumn("n_levels", levelCount(col("n_samples"), chunkSize))
    perChannel
      .select(col("channel"), col("n_samples"), col("n_levels"),
        explode(sequence(lit(0), greatest(col("n_levels") - 1, lit(0))))
          .as("level"))
      .withColumn("bucket_size",
        pow(lit(chunkSize.toDouble), col("level")).cast("long"))
      .withColumn("target_size",
        expr("(n_samples + bucket_size - 1) div bucket_size"))
      // dedup by size: keep the smallest level producing each target size
      .groupBy(col("channel"), col("n_samples"), col("n_levels"), col("target_size"))
      .agg(min(col("level")).as("level"), min(col("bucket_size")).as("bucket_size"))
      .select("channel", "n_samples", "n_levels", "level", "bucket_size", "target_size")
  }

  /** T2 downsample: bucket-average the series by a fixed factor (documented
    * approximation of Fourier resampling). */
  def downsampleAvg(samples: DataFrame, bucketSize: Long): DataFrame =
    samples
      .withColumn("sample_index", expr(s"sample_index div $bucketSize"))
      .groupBy(col("channel"), col("sample_index"))
      .agg(avg(col("value")).as("value"))

  /** T3: per-channel min/max, one row per channel. The series range over
    * all channels is taken once, by [[mergeManifest]]. */
  def channelRanges(samples: DataFrame): DataFrame =
    samples.groupBy(col("channel"))
      .agg(min(col("value")).as("channel_min"), max(col("value")).as("channel_max"))

  /** T4 manifest merge: channel metadata unioned by `index` with new-side
    * precedence, plus the series range (`series_min`, `series_max`) widened
    * over the channel ranges of both sides, shadowed old rows included.
    * Both sides: (index, metadata..., channel_min, channel_max), as from
    * [[channelRanges]]. One pass over the flagged union: an old row
    * survives where no new row shares its `index`. The range window spans
    * all rows in one partition, which is safe because manifests hold one
    * row per channel, never the samples. */
  def mergeManifest(oldManifest: DataFrame, newManifest: DataFrame): DataFrame = {
    val all = Window.partitionBy()
    newManifest.withColumn("is_new", lit(1))
      .unionByName(oldManifest.withColumn("is_new", lit(0)))
      .withColumn("series_min", min(col("channel_min")).over(all))
      .withColumn("series_max", max(col("channel_max")).over(all))
      .withColumn("shadowed", max(col("is_new")).over(Window.partitionBy(col("index"))))
      .filter(col("is_new") === 1 || col("shadowed") === 0)
      .drop("is_new", "shadowed")
  }
}
