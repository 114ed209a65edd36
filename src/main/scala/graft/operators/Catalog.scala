package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Catalog maintenance operators: get-or-create dictionaries, id assignment,
  * next-visit-number, rank write-backs, run-number dedup — the reference's
  * row-at-a-time UPDATE/INSERT loops re-expressed as set-oriented jobs.
  */
object Catalog {

  /** J10 get-or-create (`python/lib/database.py:210-253`
    * `grep_id_from_lookup_table`; scanner variant
    * `python/lib/imaging_lib/mri_scanner.py:23+`):
    * returns the dictionary extended with any natural keys present in
    * `incoming` but missing from `dict`, new ids assigned
    * `max(existing)+dense_rank(naturalKey)` — deterministic, no
    * `monotonically_increasing_id`, idempotent under re-runs (anti-join
    * guard J7 built in).
    *
    * Scale posture: `incoming` is deduped before the anti-join; the
    * dictionary side is typically small (broadcast), and the only wide
    * operation is the dedup shuffle on the natural key.
    */
  def getOrCreate(
      dict: DataFrame,
      incoming: DataFrame,
      naturalKey: Seq[String],
      idCol: String
  ): DataFrame = {
    val keyCols = naturalKey.map(col)
    // NULL-SAFE anti-join: plain key equality never matches NULL keys, so
    // a null-key row would re-insert with a fresh id on every run —
    // breaking the idempotency contract for exactly the rows the
    // nulls-last ordinal sort says this function expects
    val dictKeys = broadcast(dict.select(
      naturalKey.map(c => col(c).as(s"__d_$c")): _*))
    val antiCond = naturalKey.map(c => col(c) <=> col(s"__d_$c"))
      .reduce(_ && _)
    val newKeys = incoming.select(keyCols: _*).distinct()
      .join(dictKeys, antiCond, "left_anti")
    val maxId = dict.select(coalesce(max(col(idCol)), lit(0L)).cast("long"))
      .first().getLong(0)
    // newKeys is distinct, so the global ordinal == dense_rank; assigned via
    // a distributed range-sort + zipWithIndex instead of an unpartitioned
    // Window (single-partition collapse when the new-key batch is large)
    val assigned = graft.functions.Ordinals
      .withGlobalOrdinal(newKeys, naturalKey.map(col(_).asc_nulls_last), "__ord")
      .withColumn(idCol,
        (lit(maxId) + col("__ord")).cast(dict.schema(idCol).dataType))
      .drop("__ord")
    dict.select(col(idCol) +: keyCols: _*)
      .unionByName(assigned.select(col(idCol) +: keyCols: _*))
  }

  /** A4 next visit number: `IFNULL(MAX(VisitNo),0)+1 ... GROUP BY CandID`
    * (`python/lib/database_lib/session_db.py:95-96`). */
  def nextVisitNo(sessions: DataFrame, candCol: String, visitNoCol: String): DataFrame =
    sessions.groupBy(col(candCol))
      .agg((coalesce(max(col(visitNoCol)), lit(0)) + 1).as("next_visit_no"))

  /** W1 AcqOrderPerModality: rank files by series number within
    * (TarchiveSource, MriScanTypeID) and write the rank back as a column
    * (`uploadNeuroDB/NeuroDB/MRIProcessingUtility.pm:2209-2268`) — the
    * reference's per-row UPDATE loop becomes one windowed projection. */
  def acqOrderPerModality(
      files: DataFrame,
      tarchiveCol: String = "TarchiveSource",
      scanTypeCol: String = "MriScanTypeID",
      seriesNumberCol: String = "SeriesNumber",
      tieBreak: String = "FileID"
  ): DataFrame =
    files.withColumn(
      "AcqOrderPerModality",
      row_number().over(
        Window.partitionBy(col(tarchiveCol), col(scanTypeCol))
          .orderBy(asc_nulls_last(seriesNumberCol), asc_nulls_last(tieBreak))))

  /** W2 latest row per group (`ORDER BY ID DESC LIMIT 1` per candidate,
    * `MRIProcessingUtility.pm:210-212`). */
  def latestPerGroup(df: DataFrame, partitionCols: Seq[String], orderDesc: Seq[String]): DataFrame =
    df.withColumn("rn",
      row_number().over(
        Window.partitionBy(partitionCols.map(col): _*)
          .orderBy(orderDesc.map(c => col(c).desc): _*)))
      .filter(col("rn") === 1).drop("rn")

  /** W4 run-number assignment: smallest run-N making a BIDS name unique
    * within (session, entity) (`nifti_insertion_pipeline.py:456-461`).
    * The while-loop increment becomes a rank over a deterministic insertion
    * order, offset by the max run already taken in `existing`. */
  def assignRunNumbers(
      incoming: DataFrame,
      existing: DataFrame,
      entityCols: Seq[String],
      orderCol: String,
      existingRunCol: String = "run_number"
  ): DataFrame = {
    val maxExisting = existing
      .groupBy(entityCols.map(col): _*)
      .agg(max(col(existingRunCol)).as("max_existing_run"))
    incoming
      // no broadcast hint: the per-entity aggregate grows with the catalog
      // (entity cardinality is unbounded at scale) — let AQE pick; a
      // forced broadcast of an unbounded aggregate is a driver OOM
      .join(maxExisting, entityCols, "left")
      .withColumn("run_number",
        coalesce(col("max_existing_run"), lit(0)) +
          row_number().over(
            Window.partitionBy(entityCols.map(col): _*).orderBy(col(orderCol))))
      .drop("max_existing_run")
  }

  /** 6-digit CandID generation (`python/lib/candidate.py:105-115`): the
    * reference draws random 6-digit ids and retries on collision; the
    * set-oriented form assigns deterministic pseudo-random candidates from
    * a seeded hash and resolves collisions (vs existing ids AND within the
    * batch) by dense-ranking the distinct free values — no retry loop, one
    * pass, reproducible. */
  def generateCandIds(
      incoming: DataFrame,
      keyCol: String,
      existing: DataFrame,
      existingIdCol: String = "CandID",
      seed: Int = 42
  ): DataFrame = {
    val candidate = (pmod(hash(col(keyCol), lit(seed)), lit(900000)) + 100000)
      .as("cand_id_try")
    // one row per key: a duplicated incoming key whose hash collides with
    // an existing id would otherwise reach the fallback ranking TWICE and
    // receive two different CandIDs (the collision-free path dedups via
    // the rn=1 filter, so dedup here keeps the two paths consistent)
    val incomingKeys = incoming.select(col(keyCol)).distinct()
    val tried = incomingKeys.withColumn("cand_id_try", candidate)
    val collisions = tried
      .join(existing.select(col(existingIdCol).as("cand_id_try")),
        Seq("cand_id_try"), "left_semi")
      .select(col(keyCol))
    val clean = tried.join(collisions, Seq(keyCol), "left_anti")
      // in-batch dedup: first key (by natural order) keeps the hash value
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("cand_id_try")).orderBy(col(keyCol))))
    val winners = clean.filter(col("rn") === 1)
      .select(col(keyCol), col("cand_id_try").cast("long").as("CandID"))
    // losers + collided keys: assign the lowest FREE ids of the 6-digit
    // domain, in key order. "Free" excludes existing ids AND this batch's
    // hash-assigned winners, so winner-vs-fallback collisions are impossible
    // by construction and every id stays within [100000, 999999] (the
    // contract candidate.py:105-115 guarantees via its retry loop). The
    // domain is a fixed 900k values, so enumerating it is scale-free; keys
    // beyond a fully-exhausted domain are dropped (the reference would
    // retry forever).
    val needFallback = incomingKeys
      .join(winners.select(col(keyCol)), Seq(keyCol), "left_anti")
    val used = existing.select(col(existingIdCol).cast("long").as("id"))
      .unionByName(winners.select(col("CandID").as("id")))
    val free = incoming.sparkSession.range(100000L, 1000000L).toDF("id")
      .join(used, Seq("id"), "left_anti")
    val freeRanked = graft.functions.Ordinals
      .withGlobalOrdinal(free, Seq(col("id")), "__ord")
    val needRanked = graft.functions.Ordinals
      .withGlobalOrdinal(needFallback, Seq(col(keyCol)), "__ord")
    val fallback = needRanked.join(freeRanked, Seq("__ord"))
      .select(col(keyCol), col("id").as("CandID"))
    winners.unionByName(fallback)
  }

  /** The `updateMRI_Upload.pl` vertical
    * (`dicom-archive/updateMRI_Upload.pl:227-271`): for a batch of upload
    * requests (an archive path + a decompressed source location each),
    * classify every request against the `tarchive` and `mri_upload`
    * catalogs and emit the `mri_upload` columns for the insertable ones.
    * Per request, in the reference's evaluation order:
    *
    *   1. `already_uploaded` — some `mri_upload` row joins a `tarchive`
    *      row whose ArchiveLocation matches (the script's
    *      FILE_NOT_UNIQUE exit, `MriUploadOB::getWithTarchive`);
    *   2. `tarchive_missing` / `tarchive_ambiguous` — the tarchive
    *      lookup finds 0 / >1 rows (the script's die "Unexpected number
    *      of tarchive records");
    *   3. `inserted` — exactly one tarchive row: the output carries
    *      `TarchiveID`, `UploadedBy`, `UploadDate`,
    *      `DecompressedLocation` (`MriUploadOB::insert`).
    *
    * Both reference lookups match by BASENAME — `CONCAT('/',
    * ArchiveLocation) LIKE '%/<basename(path)>'`
    * (`MriUploadOB.pm:120-129`, `TarchiveOB.pm:115-123`), a
    * leading-wildcard LIKE MySQL can only table-scan. Here the basename
    * is extracted on both sides once, which turns every probe into a
    * plain EQUI-join on the basename key: hash-joinable, AQE-broadcastable
    * when the request batch is small, and never a scan-per-request.
    *
    * Batch contract: requests are classified against the catalogs AS OF
    * the batch start (the reference's sequential per-run behavior of a
    * second same-archive run erroring is the next batch's
    * `already_uploaded`, after the sink appends this batch's inserts).
    *
    * Scale posture: two equi-joins on the basename key; the
    * uploaded-basename set and the per-basename tarchive roll-up are
    * catalog-bounded aggregates, so AQE broadcasts them against any
    * request-batch size — no shuffle of the request side beyond its own
    * join key. */
  def updateMriUpload(
      requests: DataFrame,
      pathCol: String,
      sourceCol: String,
      tarchive: DataFrame,
      mriUpload: DataFrame,
      uploadedBy: String,
      uploadDate: String
  ): DataFrame = {
    val base = (p: Column) => regexp_extract(p, "[^/]+$", 0)
    val tarBase = tarchive
      .select(col("TarchiveID"), base(col("ArchiveLocation")).as("__base"))
    // reference order matters: an ambiguous-basename archive that ALSO has
    // an upload row reports already_uploaded, not ambiguous
    val uploaded = mriUpload.select(col("TarchiveID"))
      .join(tarBase, Seq("TarchiveID"))
      .select(col("__base")).distinct()
      .withColumn("__up", lit(true))
    val candidates = tarBase.groupBy(col("__base"))
      .agg(count(lit(1)).as("__n"), min(col("TarchiveID")).as("__tid"))
    val ins = col("__up").isNull && col("__n") === 1
    requests
      .withColumn("__base", base(col(pathCol)))
      .join(uploaded, Seq("__base"), "left")
      .join(candidates, Seq("__base"), "left")
      .select(
        col(pathCol), col(sourceCol),
        when(col("__up"), lit("already_uploaded"))
          .when(col("__n").isNull, lit("tarchive_missing"))
          .when(col("__n") > 1, lit("tarchive_ambiguous"))
          .otherwise(lit("inserted")).as("outcome"),
        when(ins, col("__tid")).as("TarchiveID"),
        when(ins, lit(uploadedBy)).as("UploadedBy"),
        when(ins, lit(uploadDate)).as("UploadDate"),
        when(ins, col(sourceCol)).as("DecompressedLocation"))
  }
}
