package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupStateTimeout

/** Structured-Streaming facade (SURVEY.md §2.9 T5/T6).
  *
  * The reference has no streaming engine; its closest analogs are the
  * events.tsv event tables (T5) and the mri_upload state machine (T6).
  * Both transforms below are plan-level: they apply unchanged to a batch
  * DataFrame or a `readStream` source — watermarking is a no-op in batch.
  */
object EventStream {

  /** Gap-based sessionization — the batch twin of streaming session windows
    * (`session_window` / `flatMapGroupsWithState` timeout sessions): a new
    * session opens when the gap since the user's previous event exceeds
    * `gapMicros`. Pure integer-microsecond arithmetic with a total
    * per-user ordering on (time, orderCol), so the result is deterministic
    * and cross-engine reproducible. One shuffle on the user partitioning;
    * sessions never cross partitions, the shape that scales. */
  def sessionize(
      events: DataFrame,
      userCol: String,
      usCol: String,
      orderCol: String,
      gapMicros: Long
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(userCol)).orderBy(col(usCol), col(orderCol))
    val prev = lag(col(usCol), 1).over(w)
    events
      .withColumn("__new_sess",
        when(prev.isNull || col(usCol) - prev > gapMicros, 1L).otherwise(0L))
      .withColumn("sess_id", sum(col("__new_sess")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(userCol), col("sess_id"))
      .agg(min(col(usCol)).as("session_start"),
        max(col(usCol)).as("session_end"),
        count(lit(1)).as("n_events"))
  }

  /** Per-EVENT session assignment: [[sessionize]]'s lag/cumsum internals
    * without the session-level collapse — every input row plus its
    * `sess_id`, for analyses that join other columns back to sessions
    * (affinity, per-session revenue). Same windows, same gap rule. */
  def sessionIds(
      events: DataFrame,
      userCol: String,
      usCol: String,
      orderCol: String,
      gapMicros: Long
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(userCol)).orderBy(col(usCol), col(orderCol))
    val prev = lag(col(usCol), 1).over(w)
    events
      .withColumn("__new_sess",
        when(prev.isNull || col(usCol) - prev > gapMicros, 1L).otherwise(0L))
      .withColumn("sess_id", sum(col("__new_sess")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__new_sess")
  }

  /** T5: watermarked tumbling-window aggregation over an event-time column.
    * Works identically on batch and streaming inputs. */
  def windowedCounts(
      events: DataFrame,
      tsCol: String = "ts",
      windowDuration: String = "5 minutes",
      watermark: String = "10 minutes"
  ): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDuration), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"))

  /** Sliding (overlapping) windowed counts: each event lands in
    * duration/slide windows — Spark's `window(ts, duration, slide)`
    * expands the assignment map-side, then ONE (window, type) count
    * shuffle; identical plan batch and streaming (watermark bounds state
    * to the lag horizon). The overlapping twin of [[windowedCounts]]. */
  def slidingCounts(
      events: DataFrame,
      tsCol: String = "ts",
      windowDuration: String = "10 minutes",
      slideDuration: String = "5 minutes",
      watermark: String = "10 minutes"
  ): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDuration, slideDuration),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"))

  /** Streaming exact dedup: first occurrence per key within the watermark
    * horizon survives (`dropDuplicates` with event-time watermark — the
    * streaming form of [[graft.operators.Dedup.exact]]; state is bounded by
    * the watermark, the property that keeps it runnable on an unbounded
    * 100 TB/day stream). Batch inputs run the same plan (watermark no-op). */
  def dedupStream(
      events: DataFrame,
      keyCols: Seq[String],
      tsCol: String = "ts",
      watermark: String = "10 minutes"
  ): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicates(keyCols :+ tsCol)

  /** Streaming dedup on the KEYS ALONE within the watermark horizon
    * (`dropDuplicatesWithinWatermark`): unlike [[dedupStream]] (which keys
    * on `(keys, ts)`), a duplicate arriving with a DIFFERENT event time
    * still collapses, and per-key state is evicted once the watermark
    * passes its last-seen time — the semantics a content-hash dedup of an
    * unbounded ingest stream needs. Re-uploads later than the horizon are
    * new rows by design (bounded state is what keeps this runnable on a
    * 100 TB/day stream; horizon = the dedup guarantee window). */
  def dedupStreamByKey(
      events: DataFrame,
      keyCols: Seq[String],
      tsCol: String = "ts",
      watermark: String = "10 minutes"
  ): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Resample each user's event series onto a regular `stepMicros` grid
    * with forward fill (last observation carried forward) — the
    * irregular-to-regular step every downstream window/downsample operator
    * assumes (the reference's ephys chunking gets regular input from the
    * recorder; telemetry does not). Grid ticks span [min(ts), max(ts)] per
    * user, so every tick has a preceding observation — no NULL fills.
    *
    * Shape: per-user bounds agg (tiny) → grid explode → single-pass
    * running `last(ignoreNulls)` over ONE per-user ordered window shared
    * by events and ticks — no as-of join, no per-tick probe. The order is
    * total (us, is-grid, value), so duplicate-timestamp events resolve
    * deterministically (max value wins — documented tie rule, mirrored in
    * the oracle). Scales per user like sessionize: users ≫ cores. */
  def resampleFill(
      events: DataFrame,
      userCol: String,
      usCol: String,
      valueCol: String,
      stepMicros: Long,
      maxTicksPerKey: Long = 10000000L
  ): DataFrame = {
    require(stepMicros > 0)
    import org.apache.spark.sql.expressions.Window
    val u = col(userCol); val ts = col(usCol); val v = col(valueCol)
    val vType = events.schema(valueCol).dataType
    // a single key's grid materializes as ONE sequence() array — a 7-day
    // span at 0.1 s steps is 6e6 elements in one row, and past ~2.1e9
    // Spark throws mid-job. Fail LOUD per offending key with the span
    // that tripped it instead of OOMing an executor: callers widen the
    // step or pre-split the span (the knob exists to be raised knowingly).
    val bounds = events.groupBy(u).agg(min(ts).as("__t0"), max(ts).as("__t1"))
      .withColumn("__nticks",
        (col("__t1") - col("__t0")) / lit(stepMicros) + lit(1L))
      .withColumn("__t1",
        when(col("__nticks") <= maxTicksPerKey, col("__t1"))
          .otherwise(raise_error(concat(
            lit(s"resampleFill: key grid exceeds $maxTicksPerKey ticks ("),
            col("__nticks"), lit(" at step "), lit(stepMicros),
            lit("us) — widen stepMicros or raise maxTicksPerKey")))))
      .drop("__nticks")
    val grid = bounds.select(u,
        explode(sequence(col("__t0"), col("__t1"), lit(stepMicros))).as(usCol))
      .withColumn(valueCol, lit(null).cast(vType))
      .withColumn("__grid", lit(1))
    val all = events.select(u, ts, v).withColumn("__grid", lit(0))
      .unionByName(grid)
    val w = Window.partitionBy(u)
      .orderBy(ts.asc, col("__grid").asc, v.asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    all.withColumn("__fv", last(v, ignoreNulls = true).over(w))
      .filter(col("__grid") === 1)
      .select(u, ts.as("grid_us"), col("__fv").as(valueCol))
  }

  /** Stream-stream interval join: enrich each left event with the right
    * events for the same key whose event time lies in
    * `[left_ts, left_ts + maxDelay]` — the "match the QC flag to the scan
    * that preceded it" correlation shape (the reference polls
    * mri_upload/violation tables for this; here both sides are unbounded
    * streams). Inner join; unmatched left rows drop.
    *
    * Both sides are watermarked, and the time-range predicate is what lets
    * Spark BOUND the join state: a buffered left row can be evicted once
    * the right watermark passes `left_ts + maxDelay`, a right row once the
    * left watermark passes its time. Without the range condition the state
    * grows without limit — the difference between a demo and something
    * runnable on an unbounded ingest. Column names: every right-side
    * non-key column comes out `right_`-prefixed (`right_ts`,
    * `right_<name>`…) — sides routinely share column names, and an output
    * with duplicate names breaks every downstream by-name select. Batch
    * DataFrames run the identical plan (watermarks no-op).
    *
    * `joinType = "left_outer"` is the enrichment-with-timeout shape: a
    * left row that finds no right match emits with NULL right columns
    * once the watermark passes its join window (on a stream this means
    * unmatched results arrive one watermark-advance late — the price of
    * knowing the match can no longer arrive).
    */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      tsCol: String = "ts",
      maxDelay: String = "10 minutes",
      watermark: String = "10 minutes",
      joinType: String = "inner"
  ): DataFrame = {
    require(keyCols.nonEmpty)
    require(Seq("inner", "left_outer").contains(joinType),
      "stream-stream interval joins support inner and left_outer")
    val l = left.withWatermark(tsCol, watermark)
    val r0 = right.columns.foldLeft(right) { (df, c) =>
      if (keyCols.contains(c)) df else df.withColumnRenamed(c, s"right_$c")
    }
    val r = r0.withWatermark(s"right_$tsCol", watermark)
    val keyEq = keyCols.map(k => l(k) === r(k)).reduce(_ && _)
    val range = r(s"right_$tsCol") >= l(tsCol) &&
      r(s"right_$tsCol") <= l(tsCol) + expr(s"INTERVAL $maxDelay")
    l.join(r, keyEq && range, joinType)
      .select(keyCols.map(l(_)) ++
        Seq(l(tsCol)) ++
        l.columns.filterNot(c => keyCols.contains(c) || c == tsCol).map(l(_)) ++
        r.columns.filterNot(keyCols.contains).map(r(_)): _*)
  }

  /** Batch as-of attachment without an as-of join: for every target event
    * (e.g. purchase), the timestamp of the most recent PRIOR marker event
    * (e.g. click) of the same key — `last(when(marker, ts), ignoreNulls)`
    * over ONE per-key ordered window with a `[-∞, -1]` frame, the same
    * union-window trick as [[resampleFill]]. A range/as-of join here would
    * shuffle both sides per probe; this shape pays one key-partitioned
    * sort and scales per key like sessionize (keys ≫ cores). Ties resolve
    * by (us, idCol) total order. Output: (key, id, us, marker_us NULLable,
    * gap_us NULLable). */
  def asOfLast(
      events: DataFrame,
      keyCol: String,
      usCol: String,
      idCol: String,
      typeCol: String,
      markerType: String,
      targetType: String
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(usCol).asc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .filter(col(typeCol).isin(markerType, targetType))
      .withColumn("marker_us",
        last(when(col(typeCol) === markerType, col(usCol)),
          ignoreNulls = true).over(w))
      .filter(col(typeCol) === targetType)
      .select(col(keyCol), col(idCol), col(usCol), col("marker_us"),
        (col(usCol) - col("marker_us")).as("gap_us"))
  }

  /** Multi-touch linear attribution: for every conversion (target event),
    * the count of marker events since the PREVIOUS conversion of the same
    * key, and each marker's equal credit share in integer ppm. Segments
    * come from one running count of prior conversions over the per-key
    * (us, id) order — the same single-window discipline as [[asOfLast]];
    * a per-conversion range join would shuffle per probe. Conversions with
    * no preceding marker in their segment emit NULL credit. */
  def linearAttribution(
      events: DataFrame,
      keyCol: String,
      usCol: String,
      idCol: String,
      typeCol: String,
      markerType: String,
      targetType: String
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(usCol).asc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val seg = events
      .filter(col(typeCol).isin(markerType, targetType))
      .withColumn("__seg", coalesce(
        sum(when(col(typeCol) === targetType, lit(1L)).otherwise(lit(0L)))
          .over(w), lit(0L)))
    seg.groupBy(col(keyCol), col("__seg"))
      .agg(
        sum(when(col(typeCol) === markerType, lit(1L)).otherwise(lit(0L)))
          .as("n_markers"),
        max(when(col(typeCol) === targetType, col(idCol)))
          .as("conversion_id"))
      .filter(col("conversion_id").isNotNull)
      .withColumn("credit_ppm",
        when(col("n_markers") > 0, expr("1000000 div n_markers")))
      .select(col(keyCol), col("conversion_id"), col("n_markers"),
        col("credit_ppm"))
  }

  /** Time-weighted average of an integer value column per key (TWAP):
    * Σ v·Δt / (t_last − t_first) with Δt from ONE per-key lead window —
    * each step's product is an exact integer, and Σ v·Δt telescopes below
    * v_max·span, so the numerator stays in BIGINT at any history length.
    * The final division is the only double op (round 6). NULL when the key
    * has zero time span. Ties at the same timestamp order by `idCol`
    * (the zero-width segment contributes nothing either way). */
  def timeWeightedAvg(
      events: DataFrame,
      keyCol: String,
      usCol: String,
      idCol: String,
      valueCol: String
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(usCol).asc, col(idCol).asc)
    events
      .withColumn("__nxt", lead(col(usCol), 1).over(w))
      .groupBy(col(keyCol))
      .agg(
        count(lit(1)).as("n_events"),
        // a NULL-valued segment is UNKNOWN time: excluded from numerator
        // AND denominator (numerator-only exclusion silently biased the
        // average low by the unknown segment's share of the span). For
        // all-non-null histories __tsum telescopes to exactly the span.
        sum(when(col("__nxt").isNotNull && col(valueCol).isNotNull,
          col(valueCol) * (col("__nxt") - col(usCol)))).as("__wsum"),
        sum(when(col("__nxt").isNotNull && col(valueCol).isNotNull,
          col("__nxt") - col(usCol))).as("__tsum"),
        (max(col(usCol)) - min(col(usCol))).as("span_us"))
      .withColumn("twap",
        when(col("__tsum") > 0,
          round(col("__wsum").cast("double") / col("__tsum"), 6)))
      .select(col(keyCol), col("n_events"), col("span_us"), col("twap"))
  }

  /** Exactly-once file sink for an update-mode streaming aggregation:
    * `foreachBatch` writes every micro-batch to its own
    * `batch_id=N` partition directory with OVERWRITE — a replayed batch
    * (restart between sink write and checkpoint commit, the failure window
    * every foreachBatch sink has) rewrites the same directory with the
    * same deterministic content instead of appending duplicates. Readers
    * reconcile with [[readUpserted]] (latest batch per key wins — the
    * upsert view). This is the file-system analog of the reference's
    * transactional UPDATE loop, and the pattern that makes a streaming
    * pipeline land in the same parquet catalog the batch operators read. */
  def writeUpsertBatches(
      stream: DataFrame,
      outDir: String,
      checkpointDir: String
  ): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$id")
        ()
      }
      .start()

  /** Numeric partition suffixes (`<pfx><n>` dirs) strictly below `id`
    * under `dir`, resolved via the DIRECTORY's own filesystem (index and
    * topk dirs may live on different stores). Partitions with a LATER id
    * than the current batch are rejected: that is the signature of
    * restarting with a fresh checkpoint over directories an earlier run
    * built — batch ids restart at 0 and would silently shadow, then
    * overwrite, accumulated state. Replays of the current batch (== id)
    * are expected; offline pre-seeds use negative ids. */
  private def priorPartIds(
      dir: String, pfx: String, id: Long,
      conf: org.apache.hadoop.conf.Configuration): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) Seq.empty
    else {
      val all = fs.listStatus(p).toSeq.map(_.getPath.getName)
        .filter(_.startsWith(pfx)).map(_.stripPrefix(pfx).toLong)
      require(all.forall(_ <= id),
        s"$dir has partitions from a later run (max ${if (all.isEmpty) -1L else all.max} > batch $id): " +
          "a fresh checkpoint over an existing stream-built directory would " +
          "silently discard accumulated state; resume the original " +
          "checkpoint or use fresh directories")
      all.filter(_ < id)
    }
  }

  /** Continuous-ingestion NEAR-dup gate — the STREAMING form of the q180
    * incremental contract: each micro-batch probes the accumulated
    * on-disk [[graft.operators.Dedup.lshIndex]] artifact for
    * near-duplicate matches (exact-verified Jaccard ≥ `threshold`),
    * writes the matches, and appends its OWN artifact rows to the index.
    * A document is matched against everything ingested in EARLIER
    * batches; within-batch twins surface by the same sequential-batch
    * semantics the batch spec pins (run [[graft.operators.Dedup
    * .minhashLshPairs]] inside the batch if first-batch self-dups
    * matter).
    *
    * Exactly-once: both writes land in their own per-batch partition with
    * OVERWRITE ([[writeUpsertBatches]]'s replay-idempotent pattern), and
    * the probe reads the index FILTERED to `batch_id < id` — a replayed
    * batch that already appended its artifact before the crash neither
    * duplicates rows nor matches against itself.
    *
    * 100 TB shape: the index is append-only parquet (bucket it by band
    * key at scale); a batch shuffles only its own band keys; the
    * accumulated corpus is READ back, never re-shingled or re-hashed. */
  def streamingNearDupDedup(
      docsStream: DataFrame,
      indexDir: String,
      matchesDir: String,
      checkpointDir: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 5,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      threshold: Double = 0.5,
      maxBucketSize: Int = 1000
  ): org.apache.spark.sql.streaming.StreamingQuery =
    docsStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        val spark = batch.sparkSession
        val conf = spark.sparkContext.hadoopConfiguration
        val priorIds = priorPartIds(indexDir, "batch_id=", id, conf)
        // the batch is shingled+hashed ONCE: the checkpointed artifact
        // feeds both the probe and the index append
        val batArt = graft.operators.Dedup
          .lshIndex(batch.toDF(), idCol, textCol, n, bands, rowsPerBand)
          .localCheckpoint(true)
        // empty micro-batches write NOTHING: a data-less parquet dir
        // would poison later schema inference, and the `< id` prior
        // filters are indifferent to batch-id gaps
        if (!batArt.isEmpty) {
          if (priorIds.nonEmpty) {
            val prior = spark.read.option("basePath", indexDir)
              .parquet(indexDir).filter(col("batch_id") < id)
              .drop("batch_id")
            graft.operators.Dedup.incrementalLshArtifactMatches(
                prior, batArt, bands, rowsPerBand, threshold, maxBucketSize)
              // `batch` here is the match's probe-side doc id (q180's
              // output shape); the partition key is the micro-batch ordinal
              .write.mode("overwrite").parquet(s"$matchesDir/batch=$id")
          }
          batArt.write.mode("overwrite").parquet(s"$indexDir/batch_id=$id")
        }
        ()
      }
      .start()

  /** Continuous MEDIA-dedup admission — the perceptual-fingerprint twin
    * of [[streamingNearDupDedup]]: the stream carries (id, 64-bit
    * print) rows already fingerprinted at ingest (dHash / envelope
    * print — payload bytes never reach the stream), each micro-batch
    * probes the accumulated [[graft.operators.Dedup.hammingIndex]]
    * partitions strictly BEFORE its own batch id, writes its
    * cross-batch matches, then appends its own band rows as
    * `batch_id=<id>`. Replay-idempotent (per-batch overwrite + `< id`
    * prior filter); stream == sequential incremental admission is
    * spec-pinned, exact by the side-invariant band-collision argument. */
  def streamingMediaDedup(
      prints: DataFrame,
      indexDir: String,
      matchesDir: String,
      checkpointDir: String,
      idCol: String = "id",
      hashCol: String = "dhash",
      bands: Int = 4,
      maxHamming: Int = 3,
      maxBucketSize: Int = 10000
  ): org.apache.spark.sql.streaming.StreamingQuery =
    prints.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        val spark = batch.sparkSession
        val conf = spark.sparkContext.hadoopConfiguration
        val priorIds = priorPartIds(indexDir, "batch_id=", id, conf)
        val batIdx = graft.operators.Dedup
          .hammingIndex(batch.toDF(), idCol, hashCol, bands)
          .localCheckpoint(true)
        if (!batIdx.isEmpty) {
          if (priorIds.nonEmpty) {
            val prior = spark.read.option("basePath", indexDir)
              .parquet(indexDir).filter(col("batch_id") < id)
              .drop("batch_id")
            graft.operators.Dedup.incrementalHammingMatches(
                prior, batch.toDF(), idCol, hashCol, bands, maxHamming,
                maxBucketSize)
              .write.mode("overwrite").parquet(s"$matchesDir/batch=$id")
          }
          batIdx.write.mode("overwrite").parquet(s"$indexDir/batch_id=$id")
        }
        ()
      }
      .start()

  /** Continuous hard-negative maintenance — the STREAMING form of the
    * q254 incremental-mining contract: each micro-batch of labeled
    * vectors folds into the persisted [[graft.operators.Similarity
    * .annIndex]] artifact directory and the previously mined per-anchor
    * top-k, via [[graft.operators.Similarity.hardNegativesAnnIncremental]]
    * — only batch-involved buckets shuffle, yet after every batch the
    * stored top-k equals the ONE-SHOT mining over everything ingested so
    * far (the operator's spec-proven merge invariant; the first batch is
    * mined one-shot against itself). The index is append-only; the top-k
    * is a full rewrite per batch (it is k·n_anchors rows — the small
    * artifact, vs the corpus-sized index that is never rewritten).
    *
    * Exactly-once: per-batch partition OVERWRITE for both sinks, prior
    * reads filtered to strictly-earlier batch ids — a replayed batch
    * regenerates identical content ([[writeUpsertBatches]]'s pattern).
    * `bands`/`bitsPerBand` are REQUIRED and must stay FIXED across the
    * stream's life (the index artifact pins the geometry; re-size by
    * rebuilding offline) — so size them for the EXPECTED accumulated
    * corpus up front: `Similarity.autoBitsPerBand(expectedN)` bits,
    * `min(32, 64 / bits)` bands. An under-sized geometry goes quadratic
    * as buckets saturate (the q254 sf1 defect), and once every bucket
    * exceeds `maxBucketSize` candidate generation sheds ALL pairs — the
    * stored top-k silently freezes while the stream reports success. */
  def streamingHardNegatives(
      vecStream: DataFrame,
      indexDir: String,
      topkDir: String,
      checkpointDir: String,
      dim: Int,
      bands: Int,
      bitsPerBand: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      labelCol: String = "label",
      k: Int = 3,
      seed: Long = 42L,
      maxBucketSize: Int = 20000
  ): org.apache.spark.sql.streaming.StreamingQuery =
    vecStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        val spark = batch.sparkSession
        import graft.operators.Similarity
        val conf = spark.sparkContext.hadoopConfiguration
        val idxPrior = priorPartIds(indexDir, "batch_id=", id, conf)
        // the batch is hashed ONCE: the checkpointed artifact feeds the
        // mining fold and the index append
        val batchArt = Similarity.annIndex(batch.toDF(), idCol, vecCol,
          labelCol, dim, bands, bitsPerBand, seed).localCheckpoint(true)
        // empty micro-batches write NOTHING: a data-less parquet dir
        // would poison later schema inference, and the `< id` prior
        // filters are indifferent to batch-id gaps
        if (!batchArt.isEmpty) {
          val topk =
            if (idxPrior.isEmpty)
              // first wave: one-shot mining within the batch itself
              Similarity.hardNegativesAnnFromIndex(batchArt, k, bands,
                bitsPerBand, maxBucketSize)
            else {
              val idxArt = spark.read.option("basePath", indexDir)
                .parquet(indexDir).filter(col("batch_id") < id)
                .drop("batch_id")
              // prior top-k: the latest strictly-earlier batch partition;
              // when the index was pre-seeded offline (write it as
              // batch_id=-1 — negative, so any fresh checkpoint's id 0
              // still sees it and the later-run guard stays quiet) but no
              // top-k exists yet, RE-MINE the accumulated index one-shot
              // — never crash on an empty topk dir
              val tk = priorPartIds(topkDir, "batch=", id, conf)
              val prior =
                if (tk.nonEmpty)
                  spark.read.parquet(s"$topkDir/batch=${tk.max}")
                else Similarity.hardNegativesAnnFromIndex(
                  idxArt.localCheckpoint(true), k, bands, bitsPerBand,
                  maxBucketSize)
              Similarity.hardNegativesAnnIncrementalFromArt(idxArt, prior,
                batchArt, k, bands, bitsPerBand, maxBucketSize)
            }
          topk.write.mode("overwrite").parquet(s"$topkDir/batch=$id")
          batchArt.write.mode("overwrite")
            .parquet(s"$indexDir/batch_id=$id")
        }
        ()
      }
      .start()

  /** Reconciled view over a [[writeUpsertBatches]] directory: one row per
    * key, from the highest batch that wrote it. Partition pruning applies
    * on batch_id; the per-key window is partitioned (keys ≫ cores). */
  def readUpserted(
      spark: SparkSession,
      outDir: String,
      keyCols: Seq[String]
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val all = spark.read.parquet(outDir)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("batch_id").desc)
    all.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** T5 — sessionization via the NATIVE `session_window` operator (the
    * Spark-first twin of [[sessionize]]'s lag/cumsum formulation): events
    * within `gap` of the previous event extend the session; the window
    * end is last-event + gap. One shuffle keyed by (key, merged window);
    * on a stream the same call runs incrementally with session-merging
    * state (pass `watermark` to bound it — required for streaming, no-op
    * semantics otherwise). Output: key, session_start/session_end (epoch
    * µs, integer — cross-engine exact), n_events.
    *
    * Boundary parity with [[sessionize]]: an event at EXACTLY +gap merges
    * in both formulations (session_window merges when next.start ≤
    * current.end; sessionize starts a new session only when the
    * difference EXCEEDS the gap) — spec-pinned. */
  def sessionWindows(
      events: DataFrame,
      keyCol: String,
      tsMicrosCol: String,
      gap: String = "30 minutes",
      watermark: Option[String] = None
  ): DataFrame = {
    val ts = events.withColumn("__ts", timestamp_micros(col(tsMicrosCol)))
    val wm = watermark.fold(ts)(w => ts.withWatermark("__ts", w))
    wm
      .groupBy(col(keyCol), session_window(col("__ts"), gap).as("__w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol),
        unix_micros(col("__w.start")).as("session_start"),
        unix_micros(col("__w.end")).as("session_end"),
        col("n_events"))
  }

  /** The q99 corpus-assembly capstone on a STREAM of arriving documents —
    * the exactly-once incremental-refresh shape:
    *
    *   1. each micro-batch stages to its own `staged/batch_id=N` directory
    *      with OVERWRITE (replayed batches rewrite identical content — the
    *      same idempotence argument as [[writeUpsertBatches]]);
    *   2. the full batch assembly ([[graft.operators.CorpusOps
    *      .assembleCorpus]]) then recomputes over ALL staged documents and
    *      overwrites `result/`.
    *
    * Recompute-on-arrival is the HONEST streaming form of this pipeline:
    * global exact-dedup and decontamination anti-joins are non-monotonic
    * (a late benchmark doc can retract prior outputs), so no append-mode
    * incremental operator can express them — the choice is unbounded
    * keyed state or deterministic refresh over the staged corpus, and the
    * refresh converges to the batch plan's exact output (spec-pinned
    * parity). Production paces the refresh with a trigger interval. */
  def assembleCorpusIncremental(
      docsStream: DataFrame,
      outDir: String,
      checkpointDir: String,
      minTokens: Int = 5,
      benchEvery: Int = 50,
      n: Int = 3,
      nShards: Int = 4,
      seqLen: Int = 64
  ): org.apache.spark.sql.streaming.StreamingQuery =
    docsStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        val spark = batch.sparkSession
        val conf = spark.sparkContext.hadoopConfiguration
        // fresh-checkpoint guard (the sibling sinks' discipline): a later
        // staged batch id than the current one means a restarted stream
        // with reset batch ids is about to overwrite accumulated batches
        priorPartIds(s"$outDir/staged", "batch_id=", id, conf)
        // empty micro-batches write nothing: a data-less parquet dir
        // would poison the staged read's schema inference
        if (!batch.isEmpty) {
          batch.write.mode("overwrite").parquet(s"$outDir/staged/batch_id=$id")
          val all = spark.read.parquet(s"$outDir/staged")
            .drop("batch_id")
          graft.operators.CorpusOps
            .assembleCorpus(all, "doc_id", "text", minTokens, benchEvery, n,
              nShards, seqLen)
            .write.mode("overwrite").parquet(s"$outDir/result")
        }
        ()
      }
      .start()

  /** The q307/q308 multimodal assembly on a STREAM of arriving
    * image-text pairs — the image-side twin of
    * [[assembleCorpusIncremental]] (R52's text discipline), with one
    * structural improvement the payloads force: the EXPENSIVE stages
    * (pairing gate, raster decode, payload drop) run exactly ONCE per
    * pair on arrival — map-only, inside the micro-batch — and only
    * fixed-width metadata rows (id, stem, shard, width, height, dhash,
    * phash, caption) are staged per batch ([[graft.operators.ImageHash.
    * PerceptualDecoder]]: both perceptual keys from the one decode).
    * The refresh that follows each batch
    * recomputes the GLOBAL near-dup components + min-id canonicals +
    * manifest + attrition over the staged metadata (8-byte keys, never
    * payloads): canonical selection is non-monotonic — a new image can
    * MERGE two previously-distinct components and change a canonical —
    * so no append-mode operator can express it; deterministic refresh
    * over once-decoded metadata is the honest incremental form, and it
    * converges to [[graft.operators.MultimodalAssembly.manifest]]'s
    * exact output (spec-pinned parity).
    *
    * Per-batch pre-decode counts (n_images, n_paired, and the
    * decode-side n_decoded / n_geometry_ok) stage alongside — the
    * refresh cannot recount rows it never staged, and summing the
    * per-batch tallies spares it a full staged-table scan — so
    * `result/attrition` always equals the batch
    * [[graft.operators.MultimodalAssembly.attrition]] over everything
    * arrived. Exactly-once: per-batch partition OVERWRITE + the
    * fresh-checkpoint guard, as every sibling sink here.
    *
    * r13 refresh economics: the refresh first PROBES whether the batch
    * changes the near-dup pair set at all
    * ([[graft.operators.Dedup.fusedBatchPairDelta]] over band-key rows
    * re-derived map-side from the staged metadata: no shed flip, no
    * verified new pair). A no-change batch skips the global
    * admission + connected-components + canonical re-selection — its
    * gated docs are provably singleton components, so the manifest is
    * the old manifest ∪ the batch's gated rows (replay-idempotent via a
    * full-row anti-join) and attrition updates from the per-batch
    * tallies. A batch that DOES change the pair set (a cross-batch
    * merge, the non-monotonic case) takes the full refresh exactly as
    * before. */
  def assembleMultimodalIncremental(
      pairsStream: DataFrame,
      outDir: String,
      checkpointDir: String,
      minWidth: Int,
      bands: Int = 4,
      maxHamming: Int = 3,
      phashBands: Int = 16,
      phashMaxHamming: Int = 10
  ): org.apache.spark.sql.streaming.StreamingQuery =
    pairsStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        val spark = batch.sparkSession
        val conf = spark.sparkContext.hadoopConfiguration
        val priorIds = priorPartIds(s"$outDir/staged", "batch_id=", id,
          conf)
        if (!batch.isEmpty) {
          // arrival work, once per pair: pairing gate -> decode ->
          // payload DROP (only metadata survives this block)
          val images = batch.toDF().localCheckpoint(true)
          val paired = images.where(col("caption").isNotNull)
          val decoded = graft.operators.Multimodal
            .decodeRowsPartitioned(paired, "content",
              graft.operators.ImageHash.PerceptualDecoder)
            .where(col("dhash").isNotNull)
            .drop("content")
            .localCheckpoint(true)
          // per-batch tallies for BOTH stage frames (count(caption) is
          // exactly the pairing gate's survivor count; the decode-side
          // counts ride along so the refresh sums per-batch rows
          // instead of re-scanning the whole staged table). UNION of the
          // two 1-row aggs, not a broadcast crossJoin — one write job,
          // no broadcast build; the refresh's null-skipping sums see the
          // same totals
          val nullL = lit(null).cast("long")
          images.agg(count(lit(1)).as("n_images"),
              count(col("caption")).as("n_paired"))
            .select(col("n_images"), col("n_paired"),
              nullL.as("n_decoded"), nullL.as("n_geometry_ok"))
            .unionByName(decoded.agg(count(lit(1)).as("n_decoded"),
                count(when(col("width") >= minWidth, 1))
                  .as("n_geometry_ok"))
              .select(nullL.as("n_images"), nullL.as("n_paired"),
                col("n_decoded"), col("n_geometry_ok")))
            .write.mode("overwrite")
            .parquet(s"$outDir/staged_counts/batch_id=$id")
          val keys = Seq(("dhash", bands, maxHamming),
            ("phash", phashBands, phashMaxHamming))
          val manifestColNames = Seq("id", "sample_id", "shard_name",
            "width", "height", "dhash", "phash", "caption")
          val manifestCols = manifestColNames.map(col)
          val batchEmpty = decoded.isEmpty
          val gatedBatch = decoded.where(col("width") >= minWidth)
          // empty decoded batches write no staged partition (a data-less
          // parquet dir would poison schema inference) but their counts
          // above still reach the attrition sums
          if (!batchEmpty)
            decoded.write.mode("overwrite")
              .parquet(s"$outDir/staged/batch_id=$id")
          // attrition = per-batch tally sums × the kept count; the
          // coalesce keeps n_decoded / n_geometry_ok non-nullable (the
          // sums never see an empty input — staged_counts was written
          // above — but sum() relaxes nullability and the artifact
          // schema must not drift batch to batch)
          def writeAttrition(nKept: DataFrame): Unit =
            spark.read.parquet(s"$outDir/staged_counts")
              .select(col("n_images"), col("n_paired"), col("n_decoded"),
                col("n_geometry_ok"), nullL.as("n_kept"))
              // the kept count rides the SAME null-skipping sum as the
              // per-batch tallies — a union'd 1-row frame, not a
              // broadcast crossJoin (which cost a broadcast-build job
              // per refresh)
              .unionByName(nKept.select(nullL.as("n_images"),
                nullL.as("n_paired"), nullL.as("n_decoded"),
                nullL.as("n_geometry_ok"), col("n_kept")))
              .agg(sum(col("n_images")).as("n_images"),
                sum(col("n_paired")).as("n_paired"),
                coalesce(sum(col("n_decoded")), lit(0L)).as("n_decoded"),
                coalesce(sum(col("n_geometry_ok")), lit(0L))
                  .as("n_geometry_ok"),
                coalesce(sum(col("n_kept")), lit(0L)).as("n_kept"))
              .write.mode("overwrite").parquet(s"$outDir/attrition")
          val sPath = new org.apache.hadoop.fs.Path(s"$outDir/staged")
          if (sPath.getFileSystem(conf).exists(sPath)) {
            // ONE read of everything staged (incl. this batch), shared
            // by the probe and — when it fires — the full refresh; pinned,
            // so a failed write cannot leak it in a long-running
            // streaming JVM
            graft.Materialize.run { pin =>
              val stagedAll = pin(spark.read.parquet(s"$outDir/staged"))
              // does this batch CHANGE the global near-dup pair set?
              // (no gated docs cannot; otherwise probe the staged
              // metadata's band keys — re-derived map-side, bit-identical
              // to the admission's by shared construction — for shed
              // flips / verified new pairs). The FIRST staged batch
              // skips the probe and refreshes unconditionally: there is
              // no accumulated state to protect yet, and the probe's
              // per-batch planning cost is the whole point of avoiding
              val pairsChanged = !batchEmpty && (priorIds.isEmpty || {
                // pre-filter to batch-ADJACENT buckets before anything
                // exchanges: only staged rows sharing a band key with
                // the batch can matter, so the probe's aggregate sees
                // O(batch-adjacent) rows at any corpus size
                val batchKeys = graft.operators.Dedup
                  .fusedBandRows(gatedBatch, "id", keys)
                  .select(col("ht"), col("band"), col("sig")).distinct()
                val idx = graft.operators.Dedup.fusedBandRows(
                  stagedAll.where(col("width") >= minWidth), "id", keys,
                  carryCols = Seq("batch_id"))
                  .join(broadcast(batchKeys), Seq("ht", "band", "sig"))
                  .withColumn("is_batch", col("batch_id") === id)
                graft.operators.Dedup.fusedBatchPairDelta(idx, keys)
              })
              if (pairsChanged) {
                // FULL refresh over staged METADATA: the shared dual-key
                // admission (dHash tight, pHash at its JPEG-class radius
                // — literally MultimodalAssembly's helper, so stream ==
                // batch), components, min-id canonicals
                val gated = stagedAll.drop("batch_id")
                  .where(col("width") >= minWidth)
                val dupPairs = graft.operators.MultimodalAssembly
                  .dualKeyDupPairs(gated, bands, maxHamming, phashBands,
                    phashMaxHamming)
                val keep = graft.operators.Dedup
                  .clusterKeys(gated, "id", dupPairs)
                  .groupBy(col("cluster_key")).agg(min(col("id")).as("id"))
                  .select(col("id"))
                val kept = pin(gated.join(keep, Seq("id"), "left_semi"))
                kept.select(manifestCols: _*)
                  .write.mode("overwrite").parquet(s"$outDir/manifest")
                writeAttrition(kept.agg(count(lit(1)).as("n_kept")))
              } else {
                // SKIP the global refresh: the pair set is unchanged, so
                // every prior component and its canonical stand, and each
                // new gated doc is provably a singleton component
                // canonical by itself — manifest' = manifest ∪ gatedBatch
                val mPath =
                  new org.apache.hadoop.fs.Path(s"$outDir/manifest")
                val manifestExists = mPath.getFileSystem(conf).exists(mPath)
                if (!batchEmpty && !gatedBatch.isEmpty) {
                  val newRows = gatedBatch.select(manifestCols: _*)
                  val unioned = (if (manifestExists)
                      // replay idempotence: a replayed batch's rows are
                      // already in the manifest — the full-row anti-join
                      // (kept rows are non-null in every column) removes
                      // them before re-adding, so the committed result
                      // is the same either way
                      spark.read.parquet(s"$outDir/manifest")
                        .join(broadcast(newRows), manifestColNames,
                          "left_anti")
                        .select(manifestCols: _*)
                        .union(newRows)
                    else newRows)
                    // EAGER checkpoint: the union is about to overwrite
                    // its own input files
                    .localCheckpoint(true)
                  unioned.write.mode("overwrite")
                    .parquet(s"$outDir/manifest")
                  writeAttrition(unioned.agg(count(lit(1)).as("n_kept")))
                } else {
                  // nothing new kept (junk/unpaired/sub-geometry
                  // arrivals): the manifest stands untouched, but the
                  // attrition artifact must still count everything
                  // arrived
                  val nKept =
                    if (manifestExists)
                      spark.read.parquet(s"$outDir/manifest")
                        .agg(count(lit(1)).as("n_kept"))
                    else spark.range(1).select(lit(0L).as("n_kept"))
                  writeAttrition(nKept)
                }
              }
            }
          } else
            // arrivals happened but NOTHING staged yet (every image so
            // far junk/unpaired): the attrition artifact must still
            // exist and count them
            writeAttrition(spark.range(1).select(lit(0L).as("n_kept")))
        }
        ()
      }
      .start()

  case class KmvRow(g: String, h: Long)
  case class KmvState(g: String, kmv: Seq[Long])

  /** Streaming maintenance of the per-group KMV sketch
    * ([[graft.operators.Sketches.kmvSketch]]): state is the sorted k
    * smallest distinct hashes seen so far — k longs per group, the sketch
    * bound, enforced on every batch — and each touched group emits its
    * refreshed artifact (update mode). Because KMV is closed under union,
    * the state after ANY batch equals the batch sketch over the whole
    * stream so far (spec-pinned), so an ingest pipeline can maintain the
    * [[graft.operators.Sketches.kmvOverlapPairs]] inputs on the live
    * stream and never re-scan history. The bucket-merge is pure local
    * array math; the only exchange is the groupByKey clustering. */
  def maintainKmvSketch(rows: Dataset[KmvRow], k: Int): Dataset[KmvState] = {
    import rows.sparkSession.implicits._
    require(k >= 2, "kmv needs k >= 2")
    rows
      .groupByKey(_.g)
      .mapGroupsWithState[Seq[Long], KmvState](GroupStateTimeout.NoTimeout) {
        case (g, it, state) =>
          val merged = (state.getOption.getOrElse(Seq.empty[Long]).iterator
            ++ it.map(_.h)).toSeq.distinct.sorted.take(k)
          state.update(merged)
          KmvState(g, merged)
      }
  }

  case class UploadEvent(upload_id: Long, seq: Long, status: String)
  case class UploadState(upload_id: Long, status: String, n_transitions: Int)
  /** Internal state of [[trackUploadStates]]: the OUTPUT stays
    * [[UploadState]], but the state carries the seq of the status it
    * holds — without it, a delayed lower-seq event arriving in a LATER
    * micro-batch would overwrite a newer status (cross-batch ordering is
    * not the per-batch sort's job). */
  case class UploadSeqState(status: String, n_transitions: Int,
      last_seq: Long)

  /** T6: the mri_upload state machine (`Inserting` → `InsertionComplete`,
    * `base_pipeline.py:86-87,269-272`) as `mapGroupsWithState`: the latest
    * status per upload (latest = highest `seq` EVER SEEN, batch-order
    * independent) plus a transition count. Batch Datasets run the same
    * code path (single synthetic batch). */
  def trackUploadStates(events: Dataset[UploadEvent]): Dataset[UploadState] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.upload_id)
      .mapGroupsWithState[UploadSeqState, UploadState](
          GroupStateTimeout.NoTimeout) {
        case (id, evts, state) =>
          val sorted = evts.toSeq.sortBy(e => (e.seq, e.status))
          val prior = state.getOption
          val (status, lastSeq) = (prior, sorted.lastOption) match {
            case (Some(p), Some(b)) if b.seq < p.last_seq =>
              (p.status, p.last_seq) // whole batch is late data
            case (_, Some(b)) => (b.status, b.seq)
            case (Some(p), None) => (p.status, p.last_seq)
            case (None, None) => ("Unknown", Long.MinValue)
          }
          val n = prior.map(_.n_transitions).getOrElse(0) + sorted.size
          state.update(UploadSeqState(status, n, lastSeq))
          UploadState(id, status, n)
      }
  }
}
