package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.StructType

/** Catalog sinks (SURVEY.md §2.1 S9/S10/S13): the reference's INSERT /
  * UPDATE / chunk-file writes re-expressed as set-oriented parquet
  * operations. All are idempotent by construction (anti-join guards, key
  * overwrite) — the batch analog of the reference's transactional upserts.
  */
object Sinks {

  /** S9 batch INSERT with assigned ids: appends `incoming` rows absent from
    * `existing` (anti-join on naturalKey), ids continuing from
    * max(existing). Deterministic: ids ranked by naturalKey order. */
  def appendWithIds(
      existing: DataFrame,
      incoming: DataFrame,
      naturalKey: Seq[String],
      idCol: String
  ): DataFrame = {
    val maxId = existing.select(coalesce(max(col(idCol)), lit(0L)).cast("long"))
      .first().getLong(0)
    val anti = incoming
      .join(existing.select(naturalKey.map(col): _*).distinct(), naturalKey, "left_anti")
    // distributed range-sort + zipWithIndex == row_number over naturalKey,
    // without the single-partition unpartitioned-Window collapse
    val fresh = graft.functions.Ordinals
      .withGlobalOrdinal(anti, naturalKey.map(col), "__ord")
      .withColumn(idCol,
        (lit(maxId) + col("__ord")).cast(existing.schema(idCol).dataType))
      .drop("__ord")
    existing.unionByName(fresh.select(existing.columns.map(col): _*))
  }

  /** S10 targeted UPDATE by key: for every key present in `updates`, the
    * listed columns take the update's value; all other rows/columns pass
    * through (the read→when→overwrite rewrite of
    * `python/lib/database.py:188-208`).
    *
    * Caveat vs SQL UPDATE: a NULL in `updates` means "leave unchanged"
    * (coalesce semantics), not "set NULL". To null a column out, pass a
    * sentinel and map it with [[graft.functions.Predicates.nullifNa]]
    * afterwards. */
  def updateByKey(
      existing: DataFrame,
      updates: DataFrame,
      keys: Seq[String],
      updateCols: Seq[String]
  ): DataFrame = {
    // guard against key fan-out: more than one update row per key would
    // silently DUPLICATE matching existing rows through the left join below.
    // Deterministic winner: greatest (updateCols...) tuple per key.
    val winnerW = Window.partitionBy(keys.map(col): _*)
      .orderBy(struct(updateCols.map(col): _*).desc_nulls_last)
    val u = updates
      .withColumn("__rn", row_number().over(winnerW))
      .filter(col("__rn") === 1)
      .select(keys.map(col) ++ updateCols.map(c => col(c).as(s"__u_$c")): _*)
    val joined = existing.join(u, keys, "left")
    updateCols.foldLeft(joined) { (df, c) =>
      df.withColumn(c, coalesce(col(s"__u_$c"), col(c)))
    }.drop(updateCols.map(c => s"__u_$c"): _*)
  }

  /** S10 at 100 TB: targeted UPDATE that rewrites ONLY the partitions the
    * update touches. [[updateByKey]] is read-whole→overwrite-whole — fine
    * for a dictionary, catastrophic for a date/site-partitioned fact
    * table where one day's correction must not rewrite ten years. Here
    * `updates` must carry the table's partition column; its DISTINCT
    * partition values (metadata-scale, collected driver-side) prune the
    * read to the touched partitions, [[updateByKey]] runs on that subset,
    * and the write uses DYNAMIC partition overwrite so only the rewritten
    * partition directories are replaced — untouched partitions keep their
    * files byte-for-byte (SinksSpec pins it).
    *
    * The updated subset is localCheckpoint-materialized before the write
    * (bounded by the touched partitions): a plain filesystem table cannot
    * atomically overwrite a path it is still reading — table formats with
    * snapshot isolation lift that, the dataflow stays the same. */
  def updateByKeyPartitioned(
      spark: SparkSession,
      dir: String,
      partitionCol: String,
      updates: DataFrame,
      keys: Seq[String],
      updateCols: Seq[String]
  ): Unit = {
    // updating the partition column would MOVE rows across partitions:
    // dynamic overwrite would write the new home but leave the stale row
    // in the old one — that is a delete+insert, not an update
    require(!updateCols.contains(partitionCol),
      s"cannot update partition column $partitionCol in place")
    val touched = updates.select(col(partitionCol)).distinct()
      .collect().map(_.get(0))
    if (touched.isEmpty) return
    val target = spark.read.parquet(dir)
      .filter(col(partitionCol).isin(touched: _*))
    val u = if (keys.contains(partitionCol)) updates
      else updates.drop(partitionCol)
    val updated = updateByKey(target, u, keys, updateCols)
      .localCheckpoint(true)
    val modeKey = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(modeKey)
    spark.conf.set(modeKey, "dynamic")
    try updated.write.mode("overwrite").partitionBy(partitionCol)
      .parquet(dir)
    finally prev match {
      case Some(v) => spark.conf.set(modeKey, v)
      case None => spark.conf.unset(modeKey)
    }
  }

  /** S13 chunk sink: partitioned parquet layout
    * (`downsampling`/`channel` directories — the reference's per-chunk
    * protobuf tree becomes partition pruning keys). Returns the layout's
    * read-back schema ([[writePartitioned]]). */
  def writeChunks(chunks: DataFrame, outDir: String): StructType =
    writePartitioned(chunks, outDir, "downsampling", "channel")

  /** Overwrite `outDir` with `df` as parquet partitioned by `parts`, and
    * return the schema the dir reads back with: the data columns, then
    * the partition columns. Reading with it skips the footer-inference
    * job of a schema-less read, and the layout is stated once, here. */
  private[graft] def writePartitioned(df: DataFrame, outDir: String,
      parts: String*): StructType = {
    df.write.partitionBy(parts: _*).mode("overwrite").parquet(outDir)
    StructType(df.schema.filterNot(f => parts.contains(f.name)) ++
      parts.map(df.schema(_)))
  }

  /** Small-file compaction: rewrite a parquet directory into
    * ~`targetBytes`-sized files. Incremental sinks (chunk writers,
    * streaming upserts, per-batch appends) accrete thousands of small
    * files whose per-file open/footer cost dominates scans at 100 TB;
    * compaction sizes the output from the ACTUAL on-disk byte count
    * (ceil(bytes/target), never 0) rather than a guessed partition count.
    * `coalesce` avoids a shuffle when reducing; the rare grow case
    * round-robins. Writes to `outDir` (staging-then-swap is the caller's
    * transactional choice — in-place overwrite of a live dir is not
    * crash-safe on a plain filesystem, so it is not defaulted here). */
  def compactParquet(spark: org.apache.spark.sql.SparkSession, dir: String,
      outDir: String, targetBytes: Long = 128L << 20): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val bytes = fs.getContentSummary(p).getLength
    val parts = math.max(1, ((bytes + targetBytes - 1) / targetBytes).toInt)
    val df = spark.read.parquet(dir)
    val sized =
      if (df.rdd.getNumPartitions > parts) df.coalesce(parts)
      else df.repartition(parts)
    sized.write.mode("overwrite").parquet(outDir)
  }
}
